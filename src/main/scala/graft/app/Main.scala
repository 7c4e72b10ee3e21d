package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{GraftExtensions, Scratch}
import graft.core.PipelineConfig
import graft.eval.Metrics
import graft.llm.ExtractiveSummarizer
import graft.operators.{CorpusOps, FileSkipping, Sinks, TreeOps}
import graft.strategy.{Hierarchical, Strategies}

/** CLI mirroring the reference's three entry points (SURVEY.md §3):
  *
  *   pipeline --approach <truncated|mapreduce|critique|iterative|hierarchical>
  *            --docs <parquet path | text dir> --out <dir>
  *            [--chunk-size N] [--overlap N] [--token-max N] [--summary-tokens N]
  *            [--write-files]
  *   evaluate --gen <summaries parquet> --ref <summaries parquet> --report <file.json>
  *
  * `--docs` accepts either a parquet table (doc_id, text) or a directory of
  * *.txt files (scanned with wholetext + filename-stem ids, the reference's
  * corpus layout). Summaries always land as a parquet table `summaries/`
  * under --out; --write-files additionally emits one <doc_id>.txt per doc.
  */
object Main {

  def main(args: Array[String]): Unit = args.toList match {
    case "pipeline" :: rest => runPipeline(parseOpts(rest))
    case "evaluate" :: rest => runEvaluate(parseOpts(rest))
    case "demo" :: rest => runDemo(parseOpts(rest))
    case "curate" :: rest => runCurate(parseOpts(rest))
    case "prep" :: rest => runPrep(parseOpts(rest))
    case "index" :: "build" :: rest => runIndexBuild(parseOpts(rest))
    case "index" :: "search" :: rest => runIndexSearch(parseOpts(rest))
    case "publish" :: rest => runPublish(parseOpts(rest))
    case "dq" :: rest => runDq(parseOpts(rest))
    case "analyze" :: rest => runAnalyze(parseOpts(rest))
    case "optimize" :: rest => runOptimize(parseOpts(rest))
    case "snapshot" :: rest => runSnapshot(parseOpts(rest))
    case _ =>
      System.err.println(
        "usage: graft pipeline --approach A --docs PATH --out DIR " +
          "[--summarizer extractive|textrank|lead|mmr] [opts]\n" +
          "       graft evaluate --gen PATH --ref PATH --report FILE " +
          "[--tx-bertscore [--weights CKPT.safetensors]]\n" +
          "       graft demo --docs PATH [--doc-id N]\n" +
          "       graft curate --docs PATH --out DIR [--langs en,..] " +
          "[--min-stopword-ratio X] [--jaccard X] [--lsh] [--write-corpus] " +
          "[--existing CURATED_PATH] [--funnel]\n" +
          "       graft prep --docs PATH --out DIR [--normalize] " +
          "[--benchmark PATH [--decontam-mode drop|span]] [--ngram N] " +
          "[--split train=0.9,val=0.1] " +
          "[--pack-budget N] [--shuffle-seed S] [--lm-min LP] " +
          "[--ppl-keep head,middle [--ppl-domain COL]] " +
          "[--mix-unimax BUDGET[:EPOCHS]] " +
          "[--heavy-hitters K] [--eval-sample N] [--partition-by COLS]\n" +
          "       graft index build --embeddings PATH --out DIR [--pq] " +
          "[--cells N] [--m M] [--ksub K] [--iterations I] [--sample-mod S] " +
          "[--assign-groups G]\n" +
          "       graft index search --index DIR --queries PATH --out DIR " +
          "[--k K] [--probe P] [--shortlist S] [--embeddings PATH]\n" +
          "       graft publish --in PARQUET --out DIR [--key COL] | " +
          "--check DIR\n" +
          "       graft dq --in PARQUET [--rules 'name:EXPR;...'] " +
          "[--unique COL,COL] [--contract 'col:type,...'] " +
          "[--quarantine DIR]\n" +
          "       graft analyze --in PARQUET [--columns a,b,..] [--exact]\n" +
          "         (NDV defaults to the HLL sketch; --exact COUNT(DISTINCT)" +
          " costs an Expand x(cols+1) shuffle at corpus scale)\n" +
          "       graft optimize --in DIR --out DIR " +
          "(--compact-small ROWS | --cluster a,b [--files K] | " +
          "--recluster a,b [--files K])\n" +
          "         (--compact-small rewrites only files under ROWS rows," +
          " big files are byte-copied untouched;" +
          " --cluster = full Hilbert re-cluster on two long columns;" +
          " --recluster = INCREMENTAL: degraded files detected from" +
          " per-file stats, only they rewrite, the rest byte-copy)\n" +
          "       graft snapshot --root DIR (--publish name=dir:key,.. |" +
          " --read name [--out DIR] [--version N] |\n" +
          "          --diff table --from N --to M [--key K] [--out DIR] |" +
          " --expire KEEP |\n" +
          "          --ingest FEED_DIR [--key K] [--stat-cols a,b] |" +
          " --optimize a,b [--files K] | --compact ROWS |" +
          " --vacuum | --current)\n" +
          "         (versioned multi-table commits: --publish MOVES staged" +
          " dirs in atomically; --read validates count+fingerprint" +
          " against the commit before serving)")
      sys.exit(2)
  }

  /** S12 on the CLI: atomic manifest publish of a parquet dataset, or
    * validation of an already-published one (`--check`). The reader path
    * exits nonzero on a data/manifest mismatch — usable as a CI gate.
    */
  private def runPublish(opts: Map[String, String]): Unit = {
    withSession { spark =>
      opts.get("check") match {
        case Some(dir) =>
          val n = graft.operators.Sinks.readPublished(spark, dir).count()
          println(s"[graft] verified $dir: $n rows match the manifest")
        case None =>
          val df = spark.read.parquet(opts("in"))
          val key = opts.getOrElse("key", "doc_id")
          graft.operators.Sinks.publishWithManifest(df, opts("out"), key)
          println(s"[graft] published ${opts("out")} (manifest keyed on $key)")
      }
    }
  }

  /** `dq`: run a rulebook over a parquet table — rules given as
    * `name:SQL_EXPR` pairs split on ';' (each expr a boolean over the
    * table's columns), plus an optional key-uniqueness check and an
    * optional SCHEMA CONTRACT (`--contract 'col:type,...'`, Spark catalog
    * type names); prints the combined expectations report and, with
    * --quarantine, writes the dead-letter split. A failed contract routes
    * the WHOLE drop (schema drift is a table-level verdict): the input is
    * rewritten under quarantined/ untouched and no clean/ side is
    * produced — a retyped column must not reach the row rulebook.
    */
  private def runDq(opts: Map[String, String]): Unit = {
    withSession { spark =>
      import graft.operators.TableQuality
      val df = spark.read.parquet(opts("in"))
      val rules = opts.getOrElse("rules", "")
        .split(";").toSeq.map(_.trim).filter(_.nonEmpty)
        .map { s =>
          val i = s.indexOf(':')
          require(i > 0, s"rule needs name:EXPR form: $s")
          TableQuality.Rule(s.take(i).trim,
            org.apache.spark.sql.functions.expr(s.drop(i + 1).trim))
        }
      val contract = opts.get("contract").map(
        _.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { s =>
          val i = s.indexOf(':')
          require(i > 0, s"contract needs col:type form: $s")
          s.take(i).trim -> s.drop(i + 1).trim
        })
      require(rules.nonEmpty || opts.contains("unique") || contract.nonEmpty,
        "dq: need --rules, --unique and/or --contract")
      var report = Option.empty[org.apache.spark.sql.DataFrame]
      if (rules.nonEmpty)
        report = Some(TableQuality.expectations(df, rules))
      opts.get("unique").foreach { cols =>
        val u = TableQuality.unique(df, cols.split(",").toSeq.map(_.trim),
          s"unique_$cols")
        report = Some(report.fold(u)(_.unionByName(u)))
      }
      contract.foreach { c =>
        val s = TableQuality.schemaContract(df, c)
        report = Some(report.fold(s)(_.unionByName(s)))
      }
      report.get.orderBy("rule").show(100, truncate = false)
      opts.get("quarantine").foreach { dir =>
        val drifted = contract.exists(!TableQuality.schemaContractPass(df, _))
        if (drifted) {
          // a PREVIOUS run's clean/ into the same dir must not survive a
          // drifted drop — downstream consumers of $dir/clean would
          // silently read the old release (r13 advice)
          Scratch.deleteTree(java.nio.file.Paths.get(dir, "clean"))
          df.write.mode("overwrite").parquet(s"$dir/quarantined")
          println(s"[graft] SCHEMA DRIFT: whole drop routed to " +
            s"$dir/quarantined (no clean side; stale clean/ removed)")
        } else {
          require(rules.nonEmpty, "--quarantine needs --rules")
          val (clean, bad) = TableQuality.quarantine(df, rules)
          clean.write.mode("overwrite").parquet(s"$dir/clean")
          bad.write.mode("overwrite").parquet(s"$dir/quarantined")
          println(s"[graft] quarantine split written under $dir")
        }
      }
    }
  }

  /** `analyze`: per-column table statistics (the ANALYZE primitive).
    * DEFAULT is the HLL-sketch NDV (one map-side-combinable pass — the
    * 100 TB-safe path); --exact opts into exact COUNT(DISTINCT), whose N
    * distinct aggregates force an Expand ×(N+1) shuffle (measured 183 s
    * vs 3.9 s at a 60M-row probe) — the oracle anchor, not the default.
    */
  private def runAnalyze(opts: Map[String, String]): Unit = {
    withSession { spark =>
      import graft.operators.TableQuality
      val df = spark.read.parquet(opts("in"))
      val cols = opts.get("columns")
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(df.columns.toSeq)
      val stats =
        if (opts.contains("exact")) TableQuality.tableStats(df, cols)
        else TableQuality.tableStatsApprox(df, cols)
      stats.show(cols.length + 1, truncate = false)
    }
  }

  /** `optimize`: table maintenance. `--compact-small ROWS` is the
    * INCREMENTAL pass (the s17 shape): the decision comes from one
    * per-file row-count scan, files under the threshold are rewritten
    * coalesced, and every other file's BYTES are copied untouched —
    * at corpus scale only sliver bytes rewrite. `--cluster a,b` is the
    * full Hilbert re-cluster (OPTIMIZE FULL) on two long-keyed columns;
    * the incremental re-cluster (only degraded files, detected from
    * per-file stats) is the s13f library composition
    * (FileSkipping.fileStats + FileSkipping.reclusterDegraded).
    */
  private def runOptimize(opts: Map[String, String]): Unit = {
    withSession { spark =>
      val in = opts("in")
      val out = opts("out")
      require(in != out, "optimize: --out must differ from --in")
      def twoLongCols(spec: String, what: String)
          : (Seq[String], DataFrame, FileSkipping.KeyBox) = {
        val cols = spec.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        require(cols.length == 2, s"$what needs exactly two columns: $spec")
        val df = spark.read.parquet(in)
        (cols, df, FileSkipping.keyRange(df, cols(0), cols(1),
          s"optimize $what: $in"))
      }
      (opts.get("cluster"), opts.get("recluster")) match {
        case (Some(spec), _) =>
          val (cols, df, (aLo, aHi, bLo, bHi)) = twoLongCols(spec, "--cluster")
          val k = opts.get("files").map(_.toInt).getOrElse(16)
          graft.operators.ZOrder.writeHilbert(df, cols(0), cols(1),
            aLo, aHi, bLo, bHi, out, k)
          println(s"[graft] re-clustered $in on (${cols(0)}, ${cols(1)}) " +
            s"-> $out ($k files)")
        case (None, Some(spec)) =>
          // INCREMENTAL re-cluster (the s13f/s19 maintenance decision as
          // a command): degraded files detected from ONE per-file stats
          // scan, only they rewrite, the rest byte-copy untouched
          rejectPartitionedInput(in, "--recluster")
          val (cols, df, range) = twoLongCols(spec, "--recluster")
          val files = df.inputFiles.map(u => new java.net.URI(u).getPath).toSeq
          val outP = java.nio.file.Paths.get(out)
          java.nio.file.Files.createDirectories(outP)
          val tmp = java.nio.file.Files.createTempDirectory(
            outP.toAbsolutePath.getParent, ".reclust-")
          try {
            val detected = FileSkipping.reclusterDegraded(spark,
              FileSkipping.fileStats(df, cols), files, df.schema,
              cols(0), cols(1), range, s"$tmp/d",
              opts.get("files").map(_.toInt).getOrElse(4)).toSet
            val keep = files.filterNot(detected)
            keep.sorted.foreach { f =>
              val p = java.nio.file.Paths.get(f)
              java.nio.file.Files.copy(p, outP.resolve(p.getFileName),
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            }
            if (detected.nonEmpty) {
              val s = java.nio.file.Files.list(
                java.nio.file.Paths.get(s"$tmp/d"))
              try s.iterator().forEachRemaining { p =>
                if (p.getFileName.toString.endsWith(".parquet"))
                  java.nio.file.Files.move(p, outP.resolve(p.getFileName))
              } finally s.close()
            }
            println(s"[graft] incremental re-cluster: ${detected.size} " +
              s"degraded files rewritten (${keep.size} byte-copied) -> $out")
          } finally Scratch.deleteTree(tmp)
        case (None, None) =>
          val threshold = opts.get("compact-small").map(_.toLong).getOrElse(
            sys.error("optimize: need --cluster a,b, --recluster a,b " +
              "or --compact-small ROWS"))
          rejectPartitionedInput(in, "--compact-small")
          val df = spark.read.parquet(in)
          val smalls = df
            .groupBy(org.apache.spark.sql.functions.input_file_name()
              .as("__file"))
            .agg(count(lit(1)).as("__n"))
            .filter(col("__n") < threshold)
            .select("__file").collect()
            .map(r => new java.net.URI(r.getString(0)).getPath).toSet
          val bigs = df.inputFiles
            .map(u => new java.net.URI(u).getPath).toSet -- smalls
          val outP = java.nio.file.Paths.get(out)
          java.nio.file.Files.createDirectories(outP)
          bigs.toSeq.sorted.foreach { f =>
            val p = java.nio.file.Paths.get(f)
            java.nio.file.Files.copy(p, outP.resolve(p.getFileName),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
          if (smalls.nonEmpty)
            spark.read.schema(df.schema).parquet(smalls.toSeq.sorted: _*)
              .coalesce(1).write.mode("append").parquet(out)
          println(s"[graft] compacted ${smalls.size} small files " +
            s"(${bigs.size} copied untouched) -> $out")
      }
    }
  }

  /** The flat-copy optimize passes drop directory structure
    * (`p.getFileName`), so a Hive-partitioned input would lose its
    * partition columns and can collide on part-file names — reject it
    * loudly (r13 advice); run per partition directory instead.
    */
  private def rejectPartitionedInput(in: String, what: String): Unit = {
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(in))
    try {
      val sub = s.iterator()
      while (sub.hasNext) {
        val p = sub.next()
        require(!java.nio.file.Files.isDirectory(p),
          s"optimize $what: $in contains subdirectory " +
            s"${p.getFileName} (partitioned layout) — run per " +
            "partition directory to preserve partition columns")
      }
    } finally s.close()
  }

  /** Versioned multi-table snapshots on the CLI — the s14/s19 commit
    * discipline as commands: `--publish name=dir:key,...` MOVES each
    * staged dir in atomically under one commit (physical layouts
    * survive — write clustered, then publish), `--read name` serves a
    * table only after its count+fingerprint validate against the
    * commit, `--vacuum` reclaims crashed/racing-loser attempt dirs
    * (run only while no publish is in flight), `--current` prints the
    * pointer.
    */
  private def runSnapshot(opts: Map[String, String]): Unit = {
    withSession { spark =>
      import graft.operators.Sinks
      val root = opts("root")
      if (opts.contains("publish")) {
        val tables = opts("publish").split(",").toSeq.map(_.trim)
          .filter(_.nonEmpty).map { s =>
            val eq = s.indexOf('=')
            val co = s.lastIndexOf(':')
            require(eq > 0 && co > eq,
              s"--publish needs name=dir:key form: $s")
            s.take(eq).trim ->
              ((s.substring(eq + 1, co).trim, s.drop(co + 1).trim))
          }.toMap
        val v = Sinks.publishSnapshotStaged(tables, root, spark)
        println(s"[graft] snapshot committed: version $v " +
          s"(${tables.keys.toSeq.sorted.mkString(", ")})")
      } else if (opts.contains("read")) {
        val name = opts("read")
        val version = opts.get("version").map(_.toLong)
        val df = Sinks.readSnapshot(spark, root, version)
          .getOrElse(name, sys.error(s"snapshot has no table '$name'"))
        val n = df.count()
        opts.get("out").foreach(o =>
          df.write.mode("overwrite").parquet(o))
        println(s"[graft] $name@" +
          s"${version.orElse(Sinks.currentVersion(root)).get}: $n rows " +
          s"validated${opts.get("out").fold("")(o => s", written -> $o")}")
      } else if (opts.contains("diff")) {
        // time-travel CDC: graft snapshot --root R --diff table
        //   --from N --to M [--key doc_id] [--out DIR]
        val table = opts("diff")
        val (vFrom, vTo) = (opts("from").toLong, opts("to").toLong)
        val keyCol = opts.getOrElse("key", "doc_id")
        val diff = Sinks.versionDiff(spark, root, table, vFrom, vTo, keyCol)
        opts.get("out") match {
          case Some(o) =>
            diff.write.mode("overwrite").parquet(o)
            val n = spark.read.parquet(o).count()
            println(s"[graft] diff $table v$vFrom -> v$vTo: $n change " +
              s"row(s) written -> $o")
          case None =>
            val byOp = diff.groupBy(col("op")).count()
              .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}")
              .sorted.mkString(", ")
            println(s"[graft] diff $table v$vFrom -> v$vTo: " +
              (if (byOp.isEmpty) "no changes" else byOp))
        }
      } else if (opts.contains("expire")) {
        val keep = opts("expire").toInt
        val expired = Sinks.expireVersions(root, keep)
        println(s"[graft] expired ${expired.size} version(s)" +
          (if (expired.nonEmpty) ": " + expired.mkString(", ") else "") +
          s"; current ${Sinks.currentVersion(root).getOrElse("-")}")
      } else if (opts.contains("ingest")) {
        // EXACTLY-ONCE versioned ingest from a parquet feed dir: every
        // micro-batch commits as one snapshot version (data + per-file
        // stats + batch-id meta in one atomic publish). The stream
        // checkpoint lives under the root, so re-running the command
        // picks up only NEW feed files; a replayed batch id is a no-op
        // even across checkpoint loss (the meta guard).
        val feed = opts("ingest")
        val key = opts.getOrElse("key", "doc_id")
        val statCols = opts.get("stat-cols")
          .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
          .getOrElse(Seq(key))
        val perBatch = opts.get("files-per-batch").map(_.toInt).getOrElse(1)
        val schema = spark.read.parquet(feed).schema
        val stream = graft.streaming.CorpusStreams
          .readDocStream(spark, feed, schema, perBatch, "*.parquet")
        val scratch = s"$root/.ingest-scratch"
        val before = Sinks.currentVersion(root)
        val committed = new java.util.concurrent.atomic.AtomicLong(0)
        Scratch.drain(stream, s"$root/_ingest_checkpoint") { (b, id) =>
          graft.streaming.SnapshotIngest
            .commitBatch(b, id, root, scratch, key, statCols)
            .foreach(_ => committed.incrementAndGet())
        }
        Scratch.deleteTree(java.nio.file.Paths.get(scratch))
        println(s"[graft] ingested ${committed.get()} batch version(s) " +
          s"from $feed; version ${before.getOrElse("-")} -> " +
          s"${Sinks.currentVersion(root).getOrElse("-")}")
      } else if (opts.contains("optimize")) {
        // nightly OPTIMIZE on a LIVE snapshot root (the s19 loop as a
        // command): only the files degraded per the committed stats
        // rewrite, committed as the next version
        val cols = opts("optimize").split(",").toSeq.map(_.trim)
          .filter(_.nonEmpty)
        require(cols.length == 2,
          s"--optimize needs exactly two long columns: ${opts("optimize")}")
        val k = opts.get("files").map(_.toInt).getOrElse(4)
        Sinks.optimizeSnapshotVersion(spark, root, cols(0), cols(1), k) match {
          case Some((v, rewritten, carried)) => println(
            s"[graft] snapshot optimize: $rewritten degraded file(s) " +
              s"re-clustered ($carried carried) -> version $v")
          case None => println(
            s"[graft] snapshot optimize: no degraded files at version " +
              s"${Sinks.currentVersion(root).getOrElse("-")} — nothing to do")
        }
      } else if (opts.contains("compact")) {
        // versioned small-file compaction with ZERO re-sketch: decision
        // from committed stats, the compacted file's stats row is the
        // sketch-MERGE of its inputs' rows, carried files + other
        // tables hard-link at zero scan; the publish scans only the
        // moved sliver bytes
        val maxRows = opts("compact").toLong
        Sinks.compactSnapshotVersion(spark, root, maxRows) match {
          case Some(v) => println(
            s"[graft] snapshot compact: slivers under $maxRows rows " +
              s"merged -> version $v")
          case None => println(
            s"[graft] snapshot compact: fewer than two files under " +
              s"$maxRows rows — nothing to do")
        }
      } else if (opts.contains("vacuum")) {
        val swept = Sinks.vacuumUncommitted(root)
        println(s"[graft] vacuumed ${swept.size} uncommitted attempt " +
          s"dir(s)${if (swept.nonEmpty) ": " + swept.mkString(", ") else ""}")
      } else if (opts.contains("current")) {
        println(Sinks.currentVersion(root)
          .map(v => s"[graft] current version: $v")
          .getOrElse("[graft] no committed snapshot"))
      } else sys.error(
        "snapshot: need --publish, --read, --diff, --expire, --ingest, " +
        "--optimize, --compact, --vacuum or --current")
    }
  }

  private def parseOpts(args: List[String]): Map[String, String] = {
    def loop(rest: List[String], acc: Map[String, String]): Map[String, String] =
      rest match {
        case key :: value :: tail if key.startsWith("--") && !value.startsWith("--") =>
          loop(tail, acc + (key.drop(2) -> value))
        case key :: tail if key.startsWith("--") =>
          loop(tail, acc + (key.drop(2) -> "true"))
        case Nil => acc
        case other :: _ => throw new IllegalArgumentException(s"unexpected arg: $other")
      }
    loop(args, Map.empty)
  }

  /** ANN index lifecycle, build half: train the coarse quantizer (and,
    * with --pq, the residual codebooks — the IVF-PQ/IVFADC form) over a
    * (vec_id, embedding) parquet table and persist the index. Train once,
    * serve query batches forever ([[runIndexSearch]]); appends re-assign
    * deltas against the frozen model (Similarity.ivfAppend).
    */
  private def runIndexBuild(opts: Map[String, String]): Unit = {
    withSession { spark =>
      val emb = spark.read.parquet(opts("embeddings"))
        .select(col("vec_id").cast("long"), col("embedding"))
      val out = opts("out")
      val cells = opts.get("cells").map(_.toInt).getOrElse(16)
      val iters = opts.get("iterations").map(_.toInt).getOrElse(2)
      val mod = opts.get("sample-mod").map(_.toInt).getOrElse(1)
      // --assign-groups N: ANN-assisted coarse training/assignment
      // (bounded coarse-group visits) for builds at cell counts where
      // exact assignment is the O(n·k) wall; 0 (default) stays exact
      val ag = opts.get("assign-groups").map(_.toInt).getOrElse(0)
      if (opts.contains("pq")) {
        val m = opts.get("m").map(_.toInt).getOrElse(8)
        val ksub = opts.get("ksub").map(_.toInt).getOrElse(16)
        val (idx, cs, cbs) = graft.operators.Pq.buildIvfPqIndex(
          emb, cells, m, ksub, iters, mod, ag)
        graft.operators.Pq.saveIvfPqIndex(idx, cs, cbs, out)
      } else {
        val (idx, cs) = graft.operators.Similarity.buildIvfIndex(
          emb, cells, iters, mod, ag)
        graft.operators.Similarity.saveIvfIndex(idx, cs, out)
      }
      println(s"[graft] index -> $out")
    }
  }

  /** ANN index lifecycle, serve half: load a persisted index (the
    * codebooks table's presence selects the IVF-PQ path) and write the
    * top-k per query. IVF-PQ's exact rerank joins float vectors for
    * shortlist rows, so that path needs --embeddings (the corpus the
    * index was built over).
    */
  private def runIndexSearch(opts: Map[String, String]): Unit = {
    withSession { spark =>
      val dir = opts("index")
      val qRaw = spark.read.parquet(opts("queries"))
      val queries = (if (qRaw.columns.contains("query_id")) qRaw
        else qRaw.withColumnRenamed("vec_id", "query_id"))
        .select(col("query_id").cast("long"), col("embedding"))
      val k = opts.get("k").map(_.toInt).getOrElse(10)
      val probe = opts.get("probe").map(_.toInt).getOrElse(6)
      // probe via the Hadoop filesystem, not java.io — an index persisted
      // to HDFS/S3 (read everywhere else through Spark) would look absent
      // to File.exists and silently fall into the plain-IVF loader
      val codebooksPath = new org.apache.hadoop.fs.Path(dir, "codebooks")
      val hasCodebooks = codebooksPath
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(codebooksPath)
      val result =
        if (hasCodebooks) {
          val corpus = spark.read.parquet(opts("embeddings"))
            .select(col("vec_id").cast("long"), col("embedding"))
          val (idx, cs, cbs) = graft.operators.Pq.loadIvfPqIndex(spark, dir)
          graft.operators.Pq.ivfPqSearch(idx, cs, cbs, corpus, queries, k,
            probe, opts.get("shortlist").map(_.toInt)
              .getOrElse(math.max(50, k * 10)))
        } else {
          val (idx, cs) = graft.operators.Similarity.loadIvfIndex(spark, dir)
          graft.operators.Similarity.ivfSearch(idx, cs, queries, k, probe)
        }
      result.write.mode("overwrite").parquet(opts("out"))
      println(s"[graft] top-$k -> ${opts("out")}")
    }
  }

  /** Domain-bearing flags re-read the corpus as parquet (loadDocs
    * standardizes to doc_id/text); a text-directory corpus carries no
    * domain column and would otherwise die in Spark's parquet reader
    * with an opaque footer error instead of this message. Probed via the
    * Hadoop filesystem (the codebooks-probe rule above): an HDFS/S3
    * corpus would look absent to java.io.File.
    */
  private def requireParquetCorpus(spark: SparkSession, src: String,
      flag: String, domainCol: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(src)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val isTextDir = fs.exists(p) && fs.getFileStatus(p).isDirectory &&
      fs.listStatus(p).exists(_.getPath.getName.endsWith(".txt"))
    require(!isTextDir,
      s"$flag requires a parquet corpus carrying column '$domainCol'; " +
        s"$src is a text directory")
  }

  /** The one session setting of every graft main: `SPARK_MASTER`, else
    * `local[N]` with N = `SPARK_GRAFT_CPUS` or max(2, nproc); shuffle
    * partitions = N, AQE on, UTC, no UI, WARN logs, graft SQL functions
    * registered. getOrCreate: a live host session (tests, notebooks) is
    * reused as is.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.max(2, Runtime.getRuntime.availableProcessors()).toString)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    spark
  }

  /** Run `f` on [[session]]; stop the session afterwards only if this
    * call created it — a pre-existing host session is left running.
    */
  def withSession[T](f: SparkSession => T): T = {
    val preexisting = SparkSession.getDefaultSession
      .exists(s => !s.sparkContext.isStopped)
    val spark = session()
    try f(spark)
    finally if (!preexisting) spark.stop()
  }

  /** Per-stage wall-clock log line — the reference's timestamped stage
    * timing (run_full_evaluation_pipeline.py:137-163, 572-585) as one
    * stderr line per stage. A stage must end with the action that forces
    * it: a lazy plan's jobs run at its first action, so timing only its
    * construction would charge them to the next line.
    */
  private def timed[T](stage: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    System.err.println(f"[graft] $stage: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  private def loadDocs(spark: SparkSession, path: String): DataFrame =
    if (new java.io.File(path).isDirectory &&
        !new java.io.File(path, "_SUCCESS").exists() &&
        new java.io.File(path).listFiles().exists(_.getName.endsWith(".txt")))
      CorpusOps.docsFromTextDir(spark, path)
        .withColumn("doc_id", xxhash64(col("doc_name")))
    else spark.read.parquet(path).select(col("doc_id").cast("long"), col("text"))

  private[app] def runPipeline(opts: Map[String, String]): Unit = {
    val approach = opts.getOrElse("approach", "mapreduce")
    val out = opts.getOrElse("out", sys.error("--out required"))
    // Fallbacks come from the default PipelineConfig instance, so the CLI
    // and the case-class defaults (the reference's production values) can
    // never diverge.
    val d = PipelineConfig()
    val cfg = d.copy(
      chunkSize = opts.get("chunk-size").map(_.toInt).getOrElse(d.chunkSize),
      chunkOverlap = opts.get("overlap").map(_.toInt).getOrElse(d.chunkOverlap),
      tokenMax = opts.get("token-max").map(_.toInt).getOrElse(d.tokenMax),
      maxSummaryTokens = opts.get("summary-tokens").map(_.toInt).getOrElse(d.maxSummaryTokens),
      // --chunker recursive|token_window|recursive_bpe; with recursive_bpe,
      // --tokenizer-json points at the HF artifact (empty = pinned demo BPE)
      chunker = opts.getOrElse("chunker", d.chunker),
      tokenizerJsonPath = opts.getOrElse("tokenizer-json", d.tokenizerJsonPath))
    // validate --summarizer up front (before Spark startup) and reject
    // the contradictory combination with an HTTP backend — a typo or an
    // ignored flag must fail loudly, not run the corpus with the wrong
    // scalar
    val scalarChoice = opts.getOrElse("summarizer", "extractive")
    require(Set("extractive", "textrank", "lead", "mmr")(scalarChoice),
      s"unknown --summarizer: $scalarChoice (extractive|textrank|lead|mmr)")
    require(!(opts.contains("summarizer") && opts.contains("ollama-url")),
      "--summarizer selects the in-process scalar and conflicts with " +
        "--ollama-url (the HTTP backend is bound to --models)")
    // --models a,b,c: the reference's serial model sweep
    // (run_full_evaluation_pipeline.py:802-812) — each model summarizes the
    // whole corpus into its own safe-encoded subdirectory. With
    // --ollama-url the summarizer is the HTTP backend bound to that model;
    // without, the deterministic extractive scalar (model names then only
    // select output directories). Single-model runs keep the flat layout.
    val models = opts.get("models").map(_.split(",").toSeq.filter(_.nonEmpty))
    val ollamaUrl = opts.get("ollama-url")
    withSession { spark =>
      val docs = loadDocs(spark, opts.getOrElse("docs", sys.error("--docs required")))
      def runOne(model: Option[String]): Unit = {
        // --summarizer picks the in-process scalar (textrank = the
        // graph-centrality quality upgrade, lead = the cheapest baseline);
        // an HTTP backend (--ollama-url + --models) is mutually exclusive
        // with it (validated above)
        val summarizer: graft.llm.Summarizer = (ollamaUrl, model) match {
          case (Some(url), Some(m)) => graft.llm.HttpSummarizer(url, m)
          case _ => scalarChoice match {
            case "textrank" => graft.llm.TextRankSummarizer
            case "lead" => graft.llm.LeadSummarizer
            case "mmr" => graft.llm.MmrSummarizer
            case _ => ExtractiveSummarizer
          }
        }
        val strategies = new Strategies(summarizer, cfg = cfg)
        val tag = model.map(m => s" [$m]").getOrElse("")
        val dest = model match {
          case Some(m) => s"$out/${graft.core.Text.safeName(m)}"
          case None => out
        }
        // one line for strategy + write: the map-reduce and critique
        // collapse loops run jobs while the plan is built, the rest runs
        // inside the write
        timed(s"$approach$tag summarize + write summaries") {
          val summaries = approach match {
            case "truncated" => strategies.truncated(docs)
            case "mapreduce" => strategies.mapReduce(docs)
            case "critique" => strategies.mapReduceCritique(docs)
            case "iterative" => strategies.iterative(docs)
            case "hierarchical" =>
              new Hierarchical(summarizer, cfg).summarize(TreeOps.synthesize(docs))
            case other => sys.error(s"unknown approach: $other")
          }
          Sinks.writeSummaryTable(summaries, s"$dest/summaries")
        }
        if (opts.contains("write-files"))
          timed(s"write per-doc files$tag")(Sinks.writeSummaryFiles(
            spark.read.parquet(s"$dest/summaries"), s"$dest/files"))
        println(s"[graft] $approach$tag summaries -> $dest/summaries")
      }
      models match {
        case Some(ms) => ms.foreach(m => runOne(Some(m)))
        case None => runOne(None)
      }
    }
  }

  /** §3.3 demo entry point: run all five strategies on ONE document and
    * print a side-by-side metric table (the reference's Streamlit demo,
    * streamlit_demo.py:241-287, minus the UI).
    */
  private[app] def runDemo(opts: Map[String, String]): Unit = {
    withSession { spark =>
      val all = loadDocs(spark, opts.getOrElse("docs", sys.error("--docs required")))
      val one = opts.get("doc-id") match {
        case Some(id) => all.filter(col("doc_id") === id.toLong)
        case None => all.orderBy(col("doc_id")).limit(1)
      }
      require(one.count() == 1, "demo needs exactly one document")
      val cfg = PipelineConfig()
      val strategies = new Strategies(ExtractiveSummarizer, cfg = cfg)
      val ref = one.select(col("doc_id"), col("text").as("ref"))
      val results = Seq(
        "truncated" -> strategies.truncated(one),
        "mapreduce" -> strategies.mapReduce(one),
        "critique" -> strategies.mapReduceCritique(one),
        "iterative" -> strategies.iterative(one),
        "hierarchical" ->
          new Hierarchical(ExtractiveSummarizer, cfg).summarize(TreeOps.synthesize(one)))
      val table = results.map { case (name, df) =>
        Metrics.pairMetrics(
          df.withColumnRenamed("summary", "gen").join(ref, "doc_id"))
          .withColumn("approach", lit(name))
      }.reduce(_ unionByName _)
        .select("approach", "semantic_similarity", "rouge1_f", "rouge2_f", "rougeL_f")
      table.show(truncate = false)
    }
  }

  /** Corpus-curation entry point: the composed training-data pass
    * ([[graft.operators.Curation]]). Writes the curated stats table under
    * --out/curated; --write-corpus additionally writes the kept (doc_id,
    * text) rows under --out/corpus.
    */
  private[app] def runCurate(opts: Map[String, String]): Unit = {
    val out = opts.getOrElse("out", sys.error("--out required"))
    withSession { spark =>
      val docs = loadDocs(spark, opts.getOrElse("docs", sys.error("--docs required")))
      val langs = opts.get("langs").map(_.split(",").toSeq).getOrElse(Seq("en"))
      val minStop = opts.get("min-stopword-ratio").map(_.toDouble).getOrElse(0.01)
      val minTok = opts.get("min-tokens").map(_.toLong).getOrElse(5L)
      val maxPunct = opts.get("max-punct-ratio").map(_.toDouble).getOrElse(0.30)
      val jac = opts.get("jaccard").map(_.toDouble).getOrElse(0.5)
      // --lsh: MinHash-LSH -> verify near-dup stage (the 100 TB operating
      // point; identical output when banding recall is 1.0 on the corpus)
      val lsh = opts.contains("lsh")
      // --existing <curated docs>: the daily-increment form — curate only
      // the new batch against the already-curated corpus
      val wantFunnel = opts.contains("funnel")
      var funnelRow: Option[org.apache.spark.sql.Row] = None
      val kept = opts.get("existing") match {
        case Some(ex) => timed("curate incremental") {
          // --existing-shingles: the previous increment's persisted shingle
          // table — skips re-tokenizing the whole existing corpus
          graft.operators.Curation.curateIncremental(
            docs, loadDocs(spark, ex),
            keepLangs = langs, minStopwordRatio = minStop, minTokens = minTok,
            maxPunctRatio = maxPunct, jaccardThreshold = jac,
            existingShingles = opts.get("existing-shingles")
              .map(spark.read.parquet(_)),
            lshPrefilter = lsh)
        }
        case None if wantFunnel => timed("curate+funnel") {
          // one pass: the funnel reads the same persisted intermediates,
          // not a second scan-and-dedup of the corpus
          val (curated, funnel) = graft.operators.Curation.curateWithFunnel(
            docs,
            keepLangs = langs, minStopwordRatio = minStop, minTokens = minTok,
            maxPunctRatio = maxPunct, jaccardThreshold = jac,
            lshPrefilter = lsh)
          funnelRow = Some(funnel.head())
          curated
        }
        case None => timed("curate") {
          graft.operators.Curation.curate(
            docs,
            keepLangs = langs, minStopwordRatio = minStop, minTokens = minTok,
            maxPunctRatio = maxPunct, jaccardThreshold = jac,
            lshPrefilter = lsh)
        }
      }
      timed("write curated")(kept.write.mode("overwrite").parquet(s"$out/curated"))
      if (opts.contains("write-corpus"))
        docs.join(spark.read.parquet(s"$out/curated").select("doc_id"),
            Seq("doc_id"), "left_semi")
          .write.mode("overwrite").parquet(s"$out/corpus")
      // --write-shingles: persist the kept docs' shingle table for the NEXT
      // increment's --existing-shingles
      if (opts.contains("write-shingles"))
        graft.operators.Dedup.shingleTable(
            docs.join(spark.read.parquet(s"$out/curated").select("doc_id"),
              Seq("doc_id"), "left_semi"))
          .write.mode("overwrite").parquet(s"$out/shingles")
      // --funnel: the per-stage survivor counts next to the output they
      // explain (computed in the same pass as the curated table; the
      // incremental form reports counts from its own output instead)
      funnelRow.foreach { f =>
        println(s"[graft] funnel: total=${f.getLong(0)} lang=${f.getLong(1)} " +
          s"gate=${f.getLong(2)} exact=${f.getLong(3)} curated=${f.getLong(4)}")
      }
      if (wantFunnel && funnelRow.isEmpty)
        println(s"[graft] funnel: curated=${kept.count()} (incremental run; " +
          "full funnel applies to the batch form)")
      println(s"[graft] curated stats -> $out/curated")
    }
  }

  /** Data-prep pass: optional NFC normalization, benchmark decontamination,
    * deterministic split assignment — written as one prepared table — plus
    * optional sequence-packing layout and epoch-shuffle order tables.
    */
  private[app] def runPrep(opts: Map[String, String]): Unit = {
    val out = opts.getOrElse("out", sys.error("--out required"))
    withSession { spark =>
      var docs = loadDocs(spark, opts.getOrElse("docs", sys.error("--docs required")))
      if (opts.contains("normalize"))
        docs = graft.operators.TextAnalysis.normalizeText(docs)
          .select(col("doc_id"), col("norm_text").as("text"))
      // --paragraph-dedup <minOccurrences>: strip globally repeated
      // paragraphs (boilerplate) BEFORE shingle-based stages see them
      opts.get("paragraph-dedup").foreach { m =>
        docs = graft.operators.Dedup
          .dropRepeatedParagraphs(docs, minOccurrences = m.toLong)
          .filter(length(col("clean_text")) > 0)
          .select(col("doc_id"), col("clean_text").as("text"))
      }
      // --gopher: keep only docs passing the full Gopher rule battery
      if (opts.contains("gopher")) {
        val pass = graft.operators.TextAnalysis.gopherRules(docs)
          .filter(col("gopher_pass") === 1).select("doc_id")
        docs = docs.join(pass, Seq("doc_id"), "left_semi")
      }
      // --url-blocklist d1,d2: drop docs containing a URL on (or under) a
      // blocked domain
      opts.get("url-blocklist").foreach { spec =>
        val blocked = spec.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        docs = graft.operators.TextAnalysis.urlSignals(docs)
          .filter(!graft.operators.TextAnalysis.domainBlocked(col("hosts"), blocked))
          .drop("urls", "hosts", "n_urls")
      }
      // --lm-min <lp>: interpolated bigram-LM quality gate — drop docs
      // whose mean bigram logprob falls below the threshold (word salad
      // pairs frequent words in unseen orders and lands low); docs with
      // <2 tokens carry no LM evidence and are dropped too
      opts.get("lm-min").foreach { t =>
        val keep = graft.operators.TextAnalysis.bigramLogProb(docs)
          .filter(col("avg_logprob") >= t.toDouble).select("doc_id")
        docs = docs.join(keep, Seq("doc_id"), "left_semi")
      }
      // --ppl-keep BUCKETS [--ppl-domain col]: CCNet perplexity-bucket
      // gate — rank by the bigram-LM score within each domain and keep
      // only the named terciles (e.g. "head,middle")
      opts.get("ppl-keep").foreach { spec =>
        val keepBuckets = spec.split(",").map(_.trim).toSet
        require(keepBuckets.subsetOf(Set("head", "middle", "tail")),
          s"--ppl-keep buckets must be head/middle/tail: $spec")
        val d = opts.getOrElse("ppl-domain", "source")
        requireParquetCorpus(spark, opts("docs"), "--ppl-keep", d)
        val domSrc = spark.read.parquet(opts("docs"))
          .select(col("doc_id").cast("long"), col(d))
        val keep = graft.operators.TextAnalysis.perplexityBuckets(
            docs.join(domSrc, Seq("doc_id")), col(d))
          .filter(col("bucket").isInCollection(keepBuckets))
          .select("doc_id")
        docs = docs.join(keep, Seq("doc_id"), "left_semi")
      }
      opts.get("benchmark").foreach { b =>
        val n = opts.get("ngram").map(_.toInt).getOrElse(13)
        // --decontam-mode span: surgical span removal (dc4) instead of
        // whole-doc drop — contaminated grams cut, clean remainder kept
        docs = opts.get("decontam-mode") match {
          case Some("span") =>
            graft.operators.Dedup.spanDecontaminate(
                docs, loadDocs(spark, b), "text", n)
              .filter(col("n_tokens") > col("n_removed"))
              .select(col("doc_id"), col("clean_text").as("text"))
          case _ =>
            graft.operators.Dedup.decontaminate(
              docs, loadDocs(spark, b), "text", n)
        }
      }
      // --mix-domain <col> [--mix-alpha a] [--mix-fraction f]:
      // temperature-flattened domain rebalance (keep_rate column retained
      // for observability). The domain column is re-joined from the
      // parquet source (loadDocs standardizes to doc_id/text).
      opts.get("mix-domain").foreach { d =>
        val src = opts("docs")
        requireParquetCorpus(spark, src, "--mix-domain", d)
        val domSrc = spark.read.parquet(src)
          .select(col("doc_id").cast("long"), col(d))
        // --mix-unimax BUDGET[:EPOCHS] swaps the temperature rebalance for
        // UniMax water-filling (budget docs spread uniformly, each domain
        // capped at EPOCHS repetitions — default 4); otherwise n^alpha
        opts.get("mix-unimax") match {
          case Some(spec) =>
            val parts = spec.split(":")
            docs = graft.operators.Sampling.unimaxMixture(
              docs.join(domSrc, Seq("doc_id")), col(d),
              budget = parts(0).toDouble,
              maxEpochs =
                if (parts.length > 1) parts(1).toDouble else 4.0)
          case None =>
            docs = graft.operators.Sampling.temperatureMixture(
              docs.join(domSrc, Seq("doc_id")), col(d),
              alpha = opts.get("mix-alpha").map(_.toDouble).getOrElse(0.5),
              targetFraction =
                opts.get("mix-fraction").map(_.toDouble).getOrElse(0.5))
        }
      }
      val prepared = opts.get("split") match {
        case Some(spec) =>
          val weights = spec.split(",").toSeq.map { kv =>
            val Array(k, v) = kv.split("="); k -> v.toDouble
          }
          graft.operators.Sampling.assignSplits(docs, weights)
        case None => docs
      }
      timed("write prepared")(
        prepared.write.mode("overwrite").parquet(s"$out/prepared"))
      opts.get("pack-budget").foreach { b =>
        val withTok = prepared.select(col("doc_id"),
          graft.functions.tokenCount(col("text")).as("n_tokens"))
        timed("write layout")(
          graft.operators.Packing.packSequences(withTok, b.toLong)
            .write.mode("overwrite").parquet(s"$out/layout"))
      }
      opts.get("shuffle-seed").foreach { s =>
        timed("write order")(
          graft.operators.Sampling.deterministicShuffle(
            prepared.select(col("doc_id")), seed = s)
            .write.mode("overwrite").parquet(s"$out/order"))
      }
      // --shards <rowsPerShard>: deterministic fixed-size training shards
      opts.get("shards").foreach { n =>
        timed("write shards")(
          graft.operators.Sinks.exportShards(prepared, s"$out/shards",
            n.toLong))
      }
      // --heavy-hitters <k>: corpus heavy-hitter report (count > n/k)
      opts.get("heavy-hitters").foreach { k =>
        timed("write heavy_hitters")(
          graft.operators.TextAnalysis.heavyHitters(prepared, k.toInt)
            .write.mode("overwrite").parquet(s"$out/heavy_hitters"))
      }
      // --eval-sample <n>: deterministic fixed-size held-out sample
      opts.get("eval-sample").foreach { n =>
        timed("write eval_sample")(
          graft.operators.Sampling.fixedSample(prepared, n.toInt)
            .write.mode("overwrite").parquet(s"$out/eval_sample"))
      }
      // --partition-by col1,col2: Hive-layout export (domain=/split=
      // tree with partition pruning) next to the fixed-size --shards
      opts.get("partition-by").foreach { cols =>
        val pcols = cols.split(",").map(_.trim).toSeq
        timed("write partitioned")(
          graft.operators.Sinks.exportPartitioned(prepared,
            s"$out/partitioned", pcols))
      }
      println(s"[graft] prepared corpus -> $out/prepared")
    }
  }

  private val MetricCols =
    Seq("semantic_similarity", "rouge1_f", "rouge2_f", "rougeL_f")

  private[app] def runEvaluate(opts: Map[String, String]): Unit = {
    val report = opts.getOrElse("report", sys.error("--report required"))
    withSession { spark =>
      def summariesOf(path: String, alias: String): DataFrame = {
        val df = spark.read.parquet(path)
        val textCol = Seq("summary", "text").find(df.columns.contains)
          .getOrElse(sys.error(s"$path has no summary/text column"))
        df.select(col("doc_id").cast("long"), col(textCol).as(alias))
      }
      val ref = summariesOf(opts.getOrElse("ref", sys.error("--ref required")), "ref")
      opts.get("sweep") match {
        case Some(root) =>
          // Model-sweep comparison (reference:
          // run_full_evaluation_pipeline.py:854-921): each per-model subdir
          // written by `pipeline --models` is evaluated against the shared
          // references; per-model long-format stats (G10) stack into one
          // table and the best model per metric (G8, deterministic
          // tie-break) heads the report.
          val models = Option(new java.io.File(root).listFiles()).toSeq.flatten
            .filter(d => new java.io.File(d, "summaries").isDirectory)
            .map(_.getName).sorted
          require(models.nonEmpty, s"--sweep $root has no <model>/summaries dirs")
          val perModel = models.map { m =>
            val pairs = summariesOf(s"$root/$m/summaries", "gen").join(ref, "doc_id")
            Metrics.summaryStats(Metrics.pairMetrics(pairs), MetricCols)
              .withColumn("model", lit(m))
          }.reduce(_ unionByName _)
          val best = Metrics.bestModelPerMetric(perModel)
          timed("sweep evaluate + report") {
            // both sections are aggregate-sized (models x metrics rows)
            val json =
              s"""{"best_model_per_metric":${best.toJSON.collect()
                  .mkString("[", ",", "]")},""" +
                s""""per_model_statistics":${perModel.toJSON.collect()
                  .mkString("[", ",", "]")}}"""
            val p = java.nio.file.Paths.get(report)
            if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
            java.nio.file.Files.write(p,
              json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          println(s"[graft] sweep comparison (${models.size} models) -> $report")
        case None =>
          val pairs = summariesOf(opts.getOrElse("gen", sys.error("--gen required")), "gen")
            .join(ref, "doc_id") // J1: inner equi-join on the shared key
          // --tx-bertscore: add the contextual BERTScore columns through
          // the in-process transformer; --weights PATH loads a trained
          // flat-tensor checkpoint into it (TinyTransformer/TensorFile) —
          // the seeded hermetic model is the default
          val metrics0 = Metrics.pairMetrics(pairs)
          val metrics =
            if (!opts.contains("tx-bertscore")) metrics0
            else {
              val enc = graft.llm.TinyTransformer(
                weightsPath = opts.get("weights"))
              metrics0.join(
                Metrics.bertScoreContextual(pairs, enc)
                  .withColumnRenamed("bert_p", "tx_bert_p")
                  .withColumnRenamed("bert_r", "tx_bert_r")
                  .withColumnRenamed("bert_f", "tx_bert_f"),
                Seq("doc_id"), "left")
            }
          // the statistics, the histogram and the detail rows each read
          // the per-pair metrics: compute them once
          metrics.persist(StorageLevel.MEMORY_AND_DISK)
          val stats = Metrics.summaryStats(metrics, MetricCols)
          val hist = Metrics.similarityHistogram(metrics)
          try timed("evaluate + report")(
            Sinks.writeJsonReport(stats, hist, metrics.orderBy("doc_id"), report))
          finally metrics.unpersist()
          println(s"[graft] evaluation report -> $report")
      }
    }
  }
}
