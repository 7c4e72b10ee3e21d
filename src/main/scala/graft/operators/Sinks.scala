package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Scratch

/** Output sinks (SURVEY.md §2.1 S4/S5).
  *
  * The reference writes one `<fname>.txt` per summary immediately after
  * generation (runners/run_summarization_ollama_mapreduce.py:269-271) and a
  * nested JSON report at the end (evaluate/evaluate_summaries_semantic.py:674-696).
  * Spark-idiomatic equivalents: the summary TABLE is the primary output
  * (parquet, partition-parallel); per-doc text files exist for drop-in
  * compatibility and stream from executors (foreachPartition), never
  * collecting to the driver. The report is a single tiny row — aggregates —
  * so a driver-side JSON render is the right tool.
  */
object Sinks {

  /** S4 (idiomatic): summaries as a parquet table keyed by doc_id. */
  def writeSummaryTable(summaries: DataFrame, path: String): Unit =
    summaries.write.mode(SaveMode.Overwrite).parquet(path)

  /** S9: deterministic sharded export — the training-data drop format
    * (webdataset/Megatron-style fixed-size shards). Rows get a
    * deterministic global order via [[Sampling.deterministicShuffle]]
    * (keyed md5 — layout/retry-independent, reproducible on any cluster)
    * and land in shards of exactly `rowsPerShard` rows (last shard
    * partial), written as one partition directory per shard. Every
    * property — shard membership, per-shard counts, order — is a closed
    * function of (seed, id), so the whole export is SQL-oracle-checkable
    * and re-running it on any cluster size produces byte-identical shard
    * assignment. One range-shuffle (the SH1 two-pass rank) + one write.
    * For byte-targeted shards, derive rowsPerShard from targetBytes /
    * avg-row-bytes measured on a keyed-hash sample — the assignment stays
    * deterministic because the sample is.
    *
    * Small-files shape (the 64k-shard question): the write PRESERVES the
    * shuffle's range clustering — deterministicShuffle ends range-
    * partitioned by the shuffle key, and the broadcast offset join plus
    * the map-only shard projection keep that layout — so each write task
    * holds a CONTIGUOUS shuffle_pos range and each `shard=` directory
    * receives files from at most the two tasks whose range crosses its
    * boundary: per-shard file count is 1-2 (plus ceil(rowsPerShard /
    * task rows) when one shard intentionally spans many tasks — bounded
    * file sizes, not fan-out). Without that clustering a dynamic
    * partitionBy write degrades to tasks x shards files; OperatorsSpec
    * asserts the per-shard count so a layout regression fails loudly.
    */
  def exportShards(docs: DataFrame, outPath: String, rowsPerShard: Long,
      seed: String = "shard", idCol: String = "doc_id"): DataFrame = {
    require(rowsPerShard >= 1, s"rowsPerShard must be >= 1: $rowsPerShard")
    Sampling.deterministicShuffle(docs, seed, idCol)
      .withColumn("shard", expr(s"shuffle_pos div $rowsPerShard"))
      .write.partitionBy("shard").mode(SaveMode.Overwrite).parquet(outPath)
    docs.sparkSession.read.parquet(outPath)
  }

  /** S10: Hive-partitioned export — the OTHER standard training-data
    * layout next to [[exportShards]]'s fixed-size shards: one
    * `col=value/` directory tree per partition-column combination
    * (domain/split is the canonical pair), so a trainer reads exactly
    * the slice it needs via partition pruning and an incremental drop
    * replaces one subtree. The small-files discipline is explicit here
    * where s9 got it structurally: repartition on the partition columns
    * FIRST, so each (domain, split) directory is written by exactly the
    * task(s) owning that key — without it a dynamic partitionBy write
    * degrades to tasks × partitions files. `maxRecordsPerFile` bounds
    * file size within a hot partition (a skewed domain splits into more
    * files, never bigger ones).
    */
  def exportPartitioned(docs: DataFrame, outPath: String,
      partitionCols: Seq[String], maxRecordsPerFile: Long = 1000000L): DataFrame = {
    require(partitionCols.nonEmpty, "need at least one partition column")
    docs.repartition(partitionCols.map(col): _*)
      .write.partitionBy(partitionCols: _*)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode(SaveMode.Overwrite).parquet(outPath)
    docs.sparkSession.read.parquet(outPath)
  }

  /** S4 (compatibility): one `<doc_id>.txt` per row, written from the
    * executors. `dir` must be a path every executor can reach (local dir in
    * local mode, shared filesystem on a cluster).
    */
  def writeSummaryFiles(summaries: DataFrame, dir: String,
      idCol: String = "doc_id", textCol: String = "summary"): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    summaries.select(col(idCol).cast("string"), col(textCol))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        it.foreach { row =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, row.getString(0) + ".txt"),
            Option(row.getString(1)).getOrElse("")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      }
  }

  /** S4 (scale variant): bucketed + sorted table — repeated joins on
    * `bucketCol` (summaries↔references, summaries↔metrics, incremental
    * anti-joins) become shuffle-free: both sides read pre-bucketed, so the
    * sort-merge join needs no Exchange. At 100 TB, bucketing the corpus and
    * derived tables on doc_id once amortizes the partitioning across every
    * downstream join. (Bucketed writes go through the catalog —
    * `saveAsTable` — because bucket metadata lives in the table definition.)
    */
  def writeBucketedTable(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int = 64): Unit =
    df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** S5: nested JSON evaluation report — summary statistics (long-format
    * stats rows) + similarity histogram + per-pair details, one UTF-8 JSON
    * document. Aggregate inputs are tiny by construction (stats rows =
    * metrics x 4, histogram = 3 buckets); `details` is capped at
    * `maxDetails` rows, in its own order.
    *
    * The three sections are collected as ONE query: a union of their rows,
    * each rendered by `to_json(struct(all columns))` (toJSON's generator,
    * so null fields are dropped alike) and tagged with (section, position).
    * One plan lets AQE run the branches' independent stages together and
    * reuse their identical exchanges, where three collects planned and
    * computed the shared inputs three times.
    */
  def writeJsonReport(stats: DataFrame, histogram: DataFrame, details: DataFrame,
      path: String, maxDetails: Int = 10000): Unit = {
    val sections = Seq(stats, histogram, details.limit(maxDetails))
    val rows = sections.zipWithIndex.map { case (df, i) =>
      df.select(lit(i).as("section"), monotonically_increasing_id().as("pos"),
        to_json(struct(df.columns.toIndexedSeq.map(c => df.col(s"`$c`")): _*)).as("json"))
    }.reduce(_ union _).collect().sortBy(r => (r.getInt(0), r.getLong(1)))
    def rowsJson(i: Int): String =
      rows.iterator.filter(_.getInt(0) == i).map(_.getString(2)).mkString("[", ",", "]")
    val json =
      s"""{"summary_statistics":${rowsJson(0)},""" +
        s""""similarity_distribution":${rowsJson(1)},""" +
        s""""detailed_results":${rowsJson(2)}}"""
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** S12: atomic manifest publish — the export-correctness discipline a
    * retried 100 TB job needs: data is written to a STAGING directory,
    * a content manifest (row count + order-independent key fingerprint)
    * is recomputed FROM THE STAGED FILES (validating the write, not the
    * plan) and written as `_manifest.json` (underscore-prefixed, so
    * Spark's reader ignores it like _SUCCESS), and only then does one
    * atomic directory rename make the dataset visible. Readers that went
    * through [[readPublished]] can never observe a half-written export,
    * and a retry that dies mid-write leaves only an invisible staging
    * dir. The fingerprint is `bit_xor` of the md5-prefix-long of the key
    * column — order- and partitioning-independent with no overflow, so
    * it is exactly reproducible by the SQL oracle.
    *
    * SCOPE: the staging write goes through Spark's Hadoop FS but the
    * manifest write and the atomic rename use java.nio.file — this
    * publish path is LOCAL-FILESYSTEM only (the CLI/export use case it
    * ships for). On HDFS route the manifest + rename through the Hadoop
    * FileSystem API (rename is atomic there too); on an object store
    * publish to a versioned prefix and commit by swapping a pointer
    * object instead (same manifest, different rename).
    */
  def publishWithManifest(df: DataFrame, destDir: String,
      keyCol: String = "doc_id"): Unit = {
    val spark = df.sparkSession
    val dest = java.nio.file.Paths.get(destDir)
    require(!java.nio.file.Files.exists(dest),
      s"publish target already exists: $destDir (publish is write-once)")
    // per-attempt staging (the s14 discipline): two publishers racing the
    // write-once target each stage their OWN files — the loser fails
    // loudly at the directory rename (non-empty target), never having
    // scribbled over the winner's staged data mid-validate
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val staging = java.nio.file.Paths.get(s"$destDir.staging-$nonce")
    df.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val (n, x) = contentFingerprint(spark.read.parquet(staging.toString),
      keyCol)
    val json = s"""{"n_rows":$n,"key_xor":$x,""" +
      s""""key_col":"$keyCol"}"""
    java.nio.file.Files.write(staging.resolve("_manifest.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(staging, dest,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    // reclaim stale per-attempt staging siblings (crashed or racing-loser
    // publishes): the old fixed `.staging` name was implicitly reclaimed
    // by each retry's overwrite, but nonce-named attempts would otherwise
    // accumulate forever (r12 advice). Safe to sweep only NOW — the
    // write-once target exists, so any still-racing writer was already
    // doomed to fail loudly (its entry `require` or this rename); its
    // staged bytes are residue either way.
    // BEST-EFFORT: a sibling attempt can still be mid-write (a racing
    // publisher that has not yet hit the rename and lost) — deleteTree
    // snapshots the walk, so files created between walk and delete would
    // throw AFTER this publish already committed (r13 advice). The
    // residue is inert and reclaimable by the next publish; never fail a
    // committed publish over it.
    val parent = dest.toAbsolutePath.getParent
    if (parent != null) {
      val prefix = dest.getFileName.toString + ".staging-"
      val s = java.nio.file.Files.list(parent)
      try s.iterator().forEachRemaining { p =>
        if (p.getFileName.toString.startsWith(prefix))
          try Scratch.deleteTree(p) catch { case _: java.io.IOException => () }
      } finally s.close()
    }
  }

  /** Validating reader for [[publishWithManifest]]: recomputes the row
    * count and key fingerprint from the published files and FAILS LOUDLY
    * on any mismatch with `_manifest.json` — a truncated, duplicated, or
    * tampered export is an error, never silently-short data.
    */
  def readPublished(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val mTxt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_manifest.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    def field(k: String): String =
      s""""$k":("?)([^,"}]*)\\1""".r.findFirstMatchIn(mTxt)
        .getOrElse(sys.error(s"manifest missing $k: $mTxt")).group(2)
    val df = spark.read.parquet(dir)
    val (n, x) = contentFingerprint(df, field("key_col"))
    require(n == field("n_rows").toLong && x == field("key_xor").toLong,
      s"published data does not match its manifest at $dir: " +
        s"rows $n vs ${field("n_rows")}, xor $x vs ${field("key_xor")}")
    df
  }

  /** md5-prefix-long of a key column — the repo's keyed-hash convention,
    * emitted as SQL so both the manifest aggregates and the DuckDB
    * oracle share one definition.
    */
  private[graft] def keyFingerprintSql(keyCol: String): String =
    s"cast(conv(substring(md5(cast($keyCol as string)), 1, 15), 16, 10) as bigint)"

  /** The content fingerprint every manifest, commit and storage gate
    * compares: (row count, `bit_xor` of [[keyFingerprintSql]] over
    * `keySql`). `keySql` is a column name or any SQL expression (a
    * whole-row key is a `concat_ws` of the columns). `bit_xor` over zero
    * rows is NULL, so it is coalesced: an empty frame fingerprints as
    * (0, 0) instead of an opaque NPE.
    */
  def contentFingerprint(df: DataFrame, keySql: String): (Long, Long) = {
    val r = df.agg(count(lit(1)).cast("long").as("n"),
      expr(s"coalesce(bit_xor(${keyFingerprintSql(keySql)}), 0)").as("x"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Hard-link `paths` by file name into `stage` (created if missing) —
    * how a commit carries committed files forward: a new directory entry
    * to the same immutable inode, never a copy or a rewrite.
    */
  def linkForward(stage: java.nio.file.Path, paths: Seq[String]): Unit = {
    java.nio.file.Files.createDirectories(stage)
    paths.foreach { f =>
      java.nio.file.Files.createLink(stage.resolve(fileName(f)),
        java.nio.file.Paths.get(f))
    }
  }

  /** The last path segment — the name a committed file keeps across the
    * commit's directory moves and hard links.
    */
  private[graft] def fileName(p: String): String = p.replaceAll(".*/", "")

  /** [[fileName]]'s rule as a column over the per-file stats key `__file`. */
  private[graft] def fileNameCol: Column =
    regexp_replace(col("__file"), ".*/", "")

  /** The manifest contribution of the files named `names`, read from
    * their per-file stats rows: (Σ`__n`, ⊕`__keyxor`). None when the
    * stats predate the `__keyxor` column or any of those rows carries a
    * null one — the caller then validates by a full scan, never a guess.
    */
  private[graft] def statsManifest(stats: DataFrame, names: Seq[String])
      : Option[(Long, Long)] =
    if (!stats.columns.contains("__keyxor")) None
    else {
      val rows = stats.filter(col("__file").cast("string").isin(names: _*))
        .select(col("__n"), col("__keyxor")).collect()
      if (rows.exists(_.isNullAt(1))) None
      else Some(rows.foldLeft((0L, 0L)) { case ((n, x), r) =>
        (n + r.getLong(0), x ^ r.getLong(1))
      })
    }

  // ------------------------------------------------- S14: snapshot commit

  /** S14: MULTI-TABLE snapshot commit — [[publishWithManifest]] lifted to
    * a transaction across tables, the pointer-swap commit every lakehouse
    * format (Delta/Iceberg/Hudi) builds on. A training-corpus release is
    * never one table: documents + embeddings + splits must be read at ONE
    * consistent version or a dedup/retrieval join silently mixes releases.
    *
    * Layout under `root`:
    *   `<table>/v=<n>-<nonce>/` per-table data, written staged-then-
    *                          renamed into a PER-ATTEMPT dir (the nonce
    *                          is what makes crashes and races inert —
    *                          see below); readers never glob these, they
    *                          follow the path recorded in the commit;
    *   `_commits/<n>.json`    the commit: every table's row count + key
    *                          fingerprint + path (validated FROM the
    *                          staged files before the rename, the s12
    *                          discipline). Its CREATE-EXCLUSIVE hard-link
    *                          publish is the ONE arbiter of who owns
    *                          version n (rename(2) would silently
    *                          replace — see the inline note);
    *   `_latest`              the pointer file, swapped ATOMICALLY as the
    *                          LAST step.
    * Crash anywhere before the pointer swap — after one table's rename,
    * after the commit file — leaves `_latest` on the previous version, so
    * [[readSnapshot]] can never observe a torn release; orphaned attempt
    * dirs of an uncommitted publish are invisible garbage, not
    * corruption, and can never wedge a later publish (r11 advice: with
    * version-deterministic dir names, one crashed publish made every
    * retry's ATOMIC_MOVE fail on the leftover dir — per-attempt names
    * remove the collision by construction; [[vacuumUncommitted]] sweeps
    * the garbage when no publish is in flight). The version chosen is
    * past every existing commit FILE as well as the pointer, so a crash
    * between commit write and pointer swap never reuses the committed,
    * pointer-less version — the next publish lands past it and the
    * orphan commit stays readable via time travel. Old versions stay
    * readable (`version = Some(n)`) — the time-travel pin a reproducible
    * training run records. Local-FS scope as s12 (object stores swap a
    * pointer object; HDFS renames are atomic too). SINGLE-WRITER
    * optimistic concurrency: two publishers racing from the same base
    * version both stage and rename their own attempt dirs (no data-dir
    * collision possible), then race the create-exclusive commit link;
    * the loser throws FileAlreadyExists there — a loud error and an
    * orphaned attempt dir — and the winner's commit references only its
    * OWN intact files, so `_latest` and every committed version stay
    * consistent whichever order the publishes land (pinned by the
    * OperatorsSpec race case).
    */
  def publishSnapshot(tables: Map[String, (DataFrame, String)],
      root: String): Long = {
    require(tables.nonEmpty, "publishSnapshot: no tables")
    val spark = tables.head._2._1.sparkSession
    publishSnapshotCore(spark, root,
      tables.map { case (name, (df, keyCol)) =>
        name -> ((keyCol, (staging: java.nio.file.Path) =>
          df.write.mode(SaveMode.Overwrite).parquet(staging.toString),
          None))
      })
  }

  /** [[publishSnapshot]] for PRE-STAGED table directories — the commit
    * path a PHYSICAL-LAYOUT write needs: a Hilbert-clustered table's
    * file boundaries (and the per-file stats rows that reference those
    * exact files) would not survive a DataFrame rewrite, so the caller
    * writes the directory first (ZOrder.writeHilbert, a compactor, a
    * stats table pinned to those files) and the publish atomically MOVES
    * it into the per-attempt slot, validates the manifest FROM the moved
    * files, and commits under the same version/arbiter/pointer
    * discipline as [[publishSnapshot]] (the two can be mixed across
    * versions of one root). Source dirs must live on `root`'s
    * filesystem (the move is rename(2)); they are CONSUMED by a
    * successful publish. A FAILED publish (commit-arbiter race loser,
    * manifest validation error, a later table's stage throwing) moves
    * every already-staged source BACK to its srcDir before rethrowing —
    * best-effort, so the racer can retry from its sources instead of
    * losing them to an uncommitted orphan that vacuum would sweep
    * (r13 advice).
    */
  def publishSnapshotStaged(tables: Map[String, (String, String)],
      root: String, spark: org.apache.spark.sql.SparkSession): Long =
    stagedPublish(tables.map { case (n, (d, k)) => n -> ((d, k, None)) },
      root, spark)

  /** An append-manifest carried contribution: the (n_rows, key_xor)
    * already committed for the files named in `carriedNames` — see
    * [[publishSnapshotStagedAppend]].
    */
  type CarriedManifest = (Long, Long, Set[String])

  /** [[publishSnapshotStaged]] for APPEND-ASSEMBLED tables — the
    * commit-cost fix a long-running ingest needs: a staged dir built as
    * "every committed file hard-linked forward + this batch's new
    * files" would pay a count+fingerprint scan of the WHOLE accumulated
    * table at every publish (O(table) per batch — quadratic over a
    * stream). The key fingerprint is a `bit_xor`, so it merges
    * file-wise: this variant computes the manifest as the carried
    * files' ALREADY-COMMITTED (n, xor) ([[commitManifest]]) combined
    * with a scan of ONLY the files not named in `carriedNames` —
    * O(batch bytes) per commit. Sound because carried files are
    * immutable inodes whose contribution was validated when THEIR
    * commit published (the trust chains commit-to-commit, like an
    * Iceberg manifest list); the read side ([[readSnapshot]]) still
    * revalidates the whole table against the merged manifest, so any
    * break in the chain fails loudly at first read. Tables with
    * `carried = None` validate by full scan exactly as before.
    */
  def publishSnapshotStagedAppend(
      tables: Map[String, (String, String, Option[CarriedManifest])],
      root: String, spark: org.apache.spark.sql.SparkSession): Long =
    stagedPublish(tables, root, spark)

  private def stagedPublish(
      tables: Map[String, (String, String, Option[CarriedManifest])],
      root: String, spark: org.apache.spark.sql.SparkSession): Long = {
    require(tables.nonEmpty, "publishSnapshotStaged: no tables")
    // srcDir -> the attempt's .staging path its bytes were moved into;
    // the core later renames .staging -> the attempt dir (strip suffix),
    // so restore from whichever of the two exists
    val moved = scala.collection.mutable.Map.empty[String, java.nio.file.Path]
    try publishSnapshotCore(spark, root,
      tables.map { case (name, (srcDir, keyCol, carried)) =>
        name -> ((keyCol, (staging: java.nio.file.Path) => {
          java.nio.file.Files.move(java.nio.file.Paths.get(srcDir), staging,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          moved.synchronized { moved(srcDir) = staging }
        }, carried))
      })
    catch {
      case e: Throwable =>
        moved.foreach { case (srcDir, staging) =>
          val attempt = java.nio.file.Paths.get(
            staging.toString.stripSuffix(".staging"))
          val from = Seq(staging, attempt)
            .find(java.nio.file.Files.exists(_))
          try from.foreach(f => java.nio.file.Files.move(f,
            java.nio.file.Paths.get(srcDir),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE))
          catch { case _: java.io.IOException => () } // residue stays vacuumable
        }
        throw e
    }
  }

  /** The committed (n_rows, key_xor) of one table — the carried
    * contribution an append publish merges with its new files' scan.
    */
  def commitManifest(root: String, table: String,
      version: Option[Long] = None): (Long, Long) = {
    val (v, entries) = commitEntries(root, version)
    val e = entries.find(_._1 == table).getOrElse(
      sys.error(s"snapshot $v has no table '$table' under $root"))
    (e._2, e._3)
  }

  /** VERSIONED COMPACTION WITH ZERO RE-SKETCH — the small-files
    * maintenance pass committed under the snapshot discipline: files
    * whose committed stats row says `__n < maxRows` are concatenated
    * into ONE file and the result is the next version. Three costs are
    * metadata where a naive compactor pays data scans:
    *
    *   - the DECISION reads stats rows, never a file listing or footer
    *     (the s17 rule);
    *   - the compacted file's STATS ROW is the
    *     [[TableQuality.mergeStatRows]] merge of its inputs' rows —
    *     count/nulls summed, typed min/max folded, HLL sketches
    *     UNIONED, the per-file key fingerprint xor-folded — the bytes
    *     are moved, never re-sketched;
    *   - the data MANIFEST merges: carried files contribute their
    *     stats rows' Σ__n ⊕ ⊕__keyxor, so the publish scans only the
    *     compacted sliver bytes (degrading to a full scan when the
    *     stats predate `__keyxor`).
    *
    * Untouched files hard-link forward with their stats rows VERBATIM;
    * every other table of the commit (an ingest's batch-id `meta`)
    * carries at zero scan cost; readers pinned at the pre-compaction
    * version are untouched. Returns None when fewer than two files are
    * under the threshold (nothing to gain). Same stop-the-writers rule
    * as every maintenance pass.
    */
  def compactSnapshotVersion(spark: org.apache.spark.sql.SparkSession,
      root: String, maxRows: Long, table: String = "data",
      statsTable: String = "file_stats"): Option[Long] = {
    require(maxRows >= 1, s"maxRows must be >= 1: $maxRows")
    rewriteSnapshotVersion(spark, root, table, statsTable, "compaction",
        "compact", mergeManifest = true) { (_, _, stats, paths, scratch) =>
      val smallNames = stats.filter(col("__n") < maxRows)
        .select(col("__file").cast("string")).collect()
        .map(_.getString(0)).toSet
      if (smallNames.size < 2) None
      else {
        val smallPaths = paths.filter(p => smallNames(fileName(p)))
        spark.read.parquet(smallPaths.sorted: _*)
          .coalesce(1).write.parquet(s"$scratch/c")
        val newPath = spark.read.parquet(s"$scratch/c")
          .inputFiles.map(u => new java.net.URI(u).getPath).head
        val mergedRow = TableQuality.mergeStatRows(
            stats.filter(col("__file").cast("string")
              .isin(smallNames.toSeq: _*)),
            statColsOf(stats))
          .withColumn("__file", lit(fileName(newPath)))
        Some((smallPaths, Seq(newPath), mergedRow))
      }
    }.map(_._1)
  }

  /** VERSIONED OPTIMIZE — the nightly re-cluster committed under the
    * snapshot discipline (the s19 loop, and `graft snapshot --optimize`):
    * degraded files are detected from the CURRENT version's committed
    * stats and only they are Hilbert-rewritten on (`aCol`, `bCol`) into
    * `numFiles` files ([[FileSkipping.reclusterDegraded]], over the key
    * range of the committed data). Untouched files hard-link forward with
    * their stats rows verbatim; the rewritten files' rows are replaced by
    * fresh sketches over the new files only (keeping the per-file
    * `__keyxor` when the committed stats carry it — the CDC ingest's
    * flat-manifest commits depend on it); every other table of the
    * commit (an ingest's batch-id `meta`) carries at zero scan cost. The
    * data table revalidates by full scan at publish: maintenance
    * validates what it rewrote. Readers pinned at the old version are
    * untouched. Returns (version, files rewritten, files carried), or
    * None when no file is degraded. Same stop-the-writers rule as every
    * maintenance pass.
    */
  def optimizeSnapshotVersion(spark: org.apache.spark.sql.SparkSession,
      root: String, aCol: String, bCol: String, numFiles: Int,
      table: String = "data", statsTable: String = "file_stats")
      : Option[(Long, Int, Int)] =
    rewriteSnapshotVersion(spark, root, table, statsTable, "OPTIMIZE", "opt",
        mergeManifest = false) { (cur, keyCol, stats, paths, scratch) =>
      val data = readSnapshotTable(spark, root, table, Some(cur))
      val range = FileSkipping.keyRange(data, aCol, bCol,
        s"snapshot optimize: $table")
      val detected = FileSkipping.reclusterDegraded(spark, stats, paths,
        data.schema, aCol, bCol, range, s"$scratch/opt", numFiles)
      if (detected.isEmpty) None
      else {
        val optPaths = spark.read.parquet(s"$scratch/opt")
          .inputFiles.map(u => new java.net.URI(u).getPath).toSeq
        val optRead = spark.read.schema(data.schema)
          .parquet(optPaths.sorted: _*)
        val statCols = statColsOf(stats)
        val optStats =
          (if (stats.columns.contains("__keyxor"))
            FileSkipping.fileStatsKeyed(optRead, statCols, keyCol)
          else FileSkipping.fileStats(optRead, statCols))
            .withColumn("__file", fileNameCol)
        Some((detected, optPaths, optStats))
      }
    }

  /** The maintenance commit [[compactSnapshotVersion]] and
    * [[optimizeSnapshotVersion]] share. `rewrite` gets (current version,
    * data key column, committed stats, committed data paths, a scratch
    * dir on `root`'s filesystem) and either declines (None) or rewrites
    * some of the paths into new files, returning (the rewritten input
    * paths, the new files, the new files' stats rows keyed by file
    * name). The commit hard-links the untouched and the new files
    * forward, replaces the rewritten files' stats rows, carries every
    * other table of the version at zero scan cost and publishes the next
    * version. With `mergeManifest` the carried files contribute their
    * stats rows' manifest ([[statsManifest]]), so the publish scans only
    * the new files; otherwise the data table validates by a full scan.
    * Returns (version, files rewritten, files carried).
    */
  private def rewriteSnapshotVersion(spark: org.apache.spark.sql.SparkSession,
      root: String, table: String, statsTable: String, what: String,
      tag: String, mergeManifest: Boolean)(
      rewrite: (Long, String, DataFrame, Seq[String], java.nio.file.Path) =>
        Option[(Seq[String], Seq[String], DataFrame)])
      : Option[(Long, Int, Int)] = {
    val cur = currentVersion(root).getOrElse(
      sys.error(s"no committed snapshot under $root"))
    val info = commitTableInfo(root, Some(cur))
    val keyCol = info.find(_._1 == table).map(_._4).getOrElse(
      sys.error(s"snapshot $cur has no '$table' table"))
    require(info.exists(_._1 == statsTable),
      s"snapshot $cur has no '$statsTable' table — $what decides " +
        "from committed stats")
    val stats = readSnapshotTable(spark, root, statsTable, Some(cur))
    val paths = committedFilePaths(root, table, Some(cur))
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val scratch = java.nio.file.Paths.get(s"$root/.$tag-$nonce")
    java.nio.file.Files.createDirectories(scratch)
    try rewrite(cur, keyCol, stats, paths, scratch).map {
      case (rewritten, newPaths, newStats) =>
        val gone = rewritten.map(fileName)
        val carry = paths.filterNot(p => gone.contains(fileName(p)))
        val carryNames = carry.map(fileName)
        val stage = scratch.resolve(table)
        linkForward(stage, carry ++ newPaths)
        stats.filter(!col("__file").cast("string").isin(gone: _*))
          .unionByName(newStats, allowMissingColumns = true)
          .coalesce(1).write.parquet(s"$scratch/stats")
        val carried =
          if (!mergeManifest) None
          else statsManifest(stats, carryNames)
            .map { case (n, x) => (n, x, carryNames.toSet) }
        val others = info.filterNot(t =>
          t._1 == table || t._1 == statsTable).map {
          case (name, n, x, kc) =>
            val tPaths = committedFilePaths(root, name, Some(cur))
            val tStage = scratch.resolve(name)
            linkForward(tStage, tPaths)
            name -> ((tStage.toString, kc,
              Some((n, x, tPaths.map(fileName).toSet))))
        }.toMap
        val v = publishSnapshotStagedAppend(others ++ Map(
          table -> ((stage.toString, keyCol, carried)),
          statsTable -> ((s"$scratch/stats", "__file", None))), root, spark)
        (v, rewritten.size, carry.size)
    } finally {
      // reclaim whatever the publish did not consume
      Scratch.deleteTree(scratch)
    }
  }

  /** The stat columns a per-file stats table carries, read off its
    * `__min_` columns.
    */
  private def statColsOf(stats: DataFrame): Seq[String] =
    stats.columns.toSeq.collect {
      case c if c.startsWith("__min_") => c.stripPrefix("__min_")
    }

  /** Every table entry of a commit as (name, n_rows, key_xor, key_col) —
    * the metadata a maintenance command needs to rewrite SOME tables of
    * a version while carrying the rest forward untouched.
    */
  def commitTableInfo(root: String, version: Option[Long] = None)
      : Seq[(String, Long, Long, String)] =
    commitEntries(root, version)._2.map(e => (e._1, e._2, e._3, e._4))

  /** Shared commit machinery for [[publishSnapshot]] /
    * [[publishSnapshotStaged]]: per-table `stage` lands the bytes in the
    * attempt's `.staging` path (Spark write or atomic dir move); then —
    * identically for both — validate from the staged files, rename into
    * the nonce-named attempt dir, race the create-exclusive commit link,
    * swap the pointer.
    */
  private def publishSnapshotCore(spark: org.apache.spark.sql.SparkSession,
      root: String,
      tables: Map[String, (String, java.nio.file.Path => Unit,
        Option[CarriedManifest])]): Long = {
    val rootP = java.nio.file.Paths.get(root)
    java.nio.file.Files.createDirectories(rootP.resolve("_commits"))
    // next version = past the pointer AND past every commit file: a crash
    // after the commit move but before the pointer swap must not lead a
    // later publish to overwrite the committed (pointer-less) version
    val committed = {
      val s = java.nio.file.Files.list(rootP.resolve("_commits"))
      try {
        val it = s.iterator()
        var mx = Option.empty[Long]
        while (it.hasNext) {
          "^(\\d+)\\.json$".r
            .findFirstMatchIn(it.next().getFileName.toString)
            .foreach { m =>
              val n = m.group(1).toLong
              if (mx.forall(_ < n)) mx = Some(n)
            }
        }
        mx
      } finally s.close()
    }
    val v = (currentVersion(root) ++ committed)
      .maxOption.map(_ + 1L).getOrElse(0L)
    // per-ATTEMPT nonce: concurrent or retried publishes of the same
    // version can never collide on a data dir — the commit-file move
    // below is the only arbiter, and a loser/crash leaves only an inert
    // uniquely-named orphan
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val entries = tables.toSeq.sortBy(_._1).map {
      case (name, (keyCol, stage, carried)) =>
        require(name.matches("[A-Za-z0-9_]+"), s"table name: $name")
        val attempt = s"$name/v=$v-$nonce"
        val staging = rootP.resolve(s"$attempt.staging")
        val finalDir = rootP.resolve(attempt)
        java.nio.file.Files.createDirectories(staging.getParent)
        stage(staging)
        def scanManifest(paths: Seq[String]): (Long, Long) =
          if (paths.isEmpty) (0L, 0L)
          else contentFingerprint(spark.read.parquet(paths.sorted: _*), keyCol)
        val (n, x) = carried match {
          case None => scanManifest(Seq(staging.toString))
          case Some((nPrev, xPrev, carriedNames)) =>
            // append manifest: carried files contribute their committed
            // (n, xor) without a rescan; only the new files are scanned
            val newFiles = parquetFilesIn(staging)
              .filterNot(p => carriedNames(p.replaceAll(".*/", "")))
            val (nNew, xNew) = scanManifest(newFiles)
            (nPrev + nNew, xPrev ^ xNew)
        }
        java.nio.file.Files.move(staging, finalDir,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        s""""$name":{"n_rows":$n,"key_xor":$x,""" +
          s""""key_col":"$keyCol","path":"$attempt"}"""
    }
    val commit = s"""{"version":$v,"tables":{${entries.mkString(",")}}}"""
    // the arbiter must be CREATE-EXCLUSIVE: POSIX rename(2) — what
    // ATOMIC_MOVE compiles to for files — silently REPLACES an existing
    // target, so a racing loser would have overwritten the winner's
    // commit (found by the r12 race spec). link(2) is the atomic
    // fails-if-exists publish: full content appears atomically and the
    // second publisher of the same version gets FileAlreadyExists.
    val cTmp = rootP.resolve(s"_commits/$v.json.tmp-$nonce")
    java.nio.file.Files.write(cTmp,
      commit.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    try java.nio.file.Files.createLink(rootP.resolve(s"_commits/$v.json"), cTmp)
    finally java.nio.file.Files.deleteIfExists(cTmp)
    val pTmp = rootP.resolve("_latest.tmp")
    java.nio.file.Files.write(pTmp,
      v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(pTmp, rootP.resolve("_latest"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    v
  }

  /** S15: CDC changelog apply — MERGE INTO semantics over a snapshot
    * table: `changes` carries (key, op ∈ insert|update|delete, payload…,
    * seq), multiple ops per key resolve LAST-WRITE-WINS by (seq, op,
    * payload hash) — the deterministic TOTAL order a replayed changelog
    * needs: same-seq ties resolve lexicographically by op, and rows
    * identical in (key, seq, op) but differing in payload resolve by the
    * higher xxhash64 of the payload columns (r11 advice — without the
    * final term, row_number picked whichever duplicate arrived first
    * and "applies identically everywhere" broke exactly on the
    * malformed-duplicate rows it claimed to cover) — and the result is
    * the next
    * version: base rows whose key saw no final change, plus the final
    * insert/update payloads, minus deleted keys. insert vs update are
    * deliberately the same apply (upsert): a changelog replayed from an
    * arbitrary snapshot cannot know which one is "correct", and
    * idempotent replay is the property that matters at 100 TB. Rows
    * whose op is NOT one of the three are DROPPED (changelog formats
    * carry control/heartbeat rows); validate upstream when strictness
    * is required — an apply pass cannot fail per-row without an extra
    * corpus action.
    *
    * Scale shape: one window over the CHANGELOG (keyed by the changed
    * keys only — changelogs are deltas, orders of magnitude smaller than
    * the base), one anti-join of base against changed keys (broadcast
    * when the delta is small, shuffle-join otherwise — Catalyst/AQE
    * decide from sizes), one union. The base table is never shuffled on
    * anything but the join key it is already bucketed by in a real
    * deployment. Pairs with [[publishSnapshot]]: apply → publish is the
    * lakehouse write path.
    */
  def applyChangelog(base: DataFrame, changes: DataFrame,
      keyCol: String = "doc_id"): DataFrame = {
    val ops = Seq("insert", "update", "delete")
    // final tiebreak: a deterministic hash of the payload columns, so
    // duplicate (key, seq, op) rows with different payloads pick the same
    // winner on every cluster/partitioning (xxhash64 is seeded 42 and
    // cluster-invariant; this term never reaches an oracle — a
    // well-formed changelog has no such duplicates)
    val payloadCols = changes.columns
      .filter(c => c != keyCol && c != "op" && c != "seq")
    val tiebreak =
      if (payloadCols.isEmpty) lit(0L)
      else xxhash64(payloadCols.map(col): _*)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("seq").desc, col("op").desc, tiebreak.desc)
    val latest = changes
      .filter(col("op").isInCollection(ops))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    val untouched = base.join(latest.select(col(keyCol)), Seq(keyCol),
      "left_anti")
    untouched.unionByName(
      latest.filter(col("op") =!= "delete").drop("op", "seq"))
  }

  /** TIME-TRAVEL CDC: the changelog BETWEEN two committed versions of a
    * snapshot table — the inverse of [[applyChangelog]]:
    * `applyChangelog(read(vFrom), versionDiff(vFrom, vTo)) == read(vTo)`
    * row-for-row (pinned by OperatorsSpec and the s22 gate). This is how
    * a downstream consumer (an index, a feature store, a replica)
    * catches up to a new release WITHOUT reprocessing the table: ops are
    * `insert` (key only in vTo), `delete` (key only in vFrom) and
    * `update` (key in both, any payload column differing), each carrying
    * the vTo payload (deletes carry the vFrom payload — informational,
    * [[applyChangelog]] ignores delete payloads) and `seq = vTo`.
    *
    * FILE-GRANULAR: files shared between the two versions are detected
    * by filesystem fileKey (inode) equality — the hard-link-forward
    * commit discipline means a carried file IS the same inode, hence
    * byte-identical — and never read; only the delta files on each side
    * are scanned and joined. After an incremental append or a band-local
    * CDC apply, the diff's data cost is proportional to the CHANGED
    * bytes, not the table (a maintenance-only rewrite — recluster or
    * compaction — rewrites files without changing rows; those rows read
    * on both sides and cancel in the join, correct but not free, which
    * is the honest cost of diffing across a physical rewrite).
    *
    * Requires `keyCol` unique within each version (the snapshot-table
    * upsert discipline [[applyChangelog]] maintains); payload equality
    * is null-safe (`<=>` per column).
    */
  def versionDiff(spark: org.apache.spark.sql.SparkSession, root: String,
      table: String, vFrom: Long, vTo: Long,
      keyCol: String = "doc_id"): DataFrame = {
    val fromPaths = tableFilePaths(root, table, Some(vFrom))
    val toPaths = tableFilePaths(root, table, Some(vTo))
    def keyOf(p: String): Object =
      java.nio.file.Files.readAttributes(java.nio.file.Paths.get(p),
        classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
    val fromKeys = fromPaths.map(p => p -> keyOf(p))
    val toKeys = toPaths.map(p => p -> keyOf(p))
    val shared = fromKeys.map(_._2).toSet intersect toKeys.map(_._2).toSet
    val fromDelta = fromKeys.collect { case (p, k) if !shared(k) => p }
    val toDelta = toKeys.collect { case (p, k) if !shared(k) => p }
    // schema from the vTo side (the evolution-forward direction), MERGED
    // across its files — a version whose lifetime crossed an ADD COLUMN
    // evolution (s21) holds pre- and post-evolution files, and the
    // default single-footer inference could miss the new column; files
    // read under the merged schema fill absent columns with null, so an
    // evolution diffs as updates on rows whose new column is set
    val schema = spark.read.option("mergeSchema", "true")
      .parquet(toPaths: _*).schema
    def readDelta(paths: Seq[String]): DataFrame =
      if (paths.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema).parquet(paths.sorted: _*)
    val payloadCols = schema.fieldNames.filter(_ != keyCol).toSeq
    // presence markers travel WITH each side into one full-outer join —
    // payload nulls stay distinguishable from absent rows, and the whole
    // diff is a single shuffle over the delta rows
    def side(paths: Seq[String], tag: String): DataFrame =
      readDelta(paths).select((col(keyCol) +:
        payloadCols.map(c => col(c).as(s"${tag}_$c"))) :+
        lit(1).as(s"__in_$tag"): _*)
    val joined = side(fromDelta, "o").join(side(toDelta, "n"),
      Seq(keyCol), "full_outer")
    val changed = payloadCols
      .map(c => !(col(s"o_$c") <=> col(s"n_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val op = when(col("__in_o").isNull, "insert")
      .when(col("__in_n").isNull, "delete")
      .otherwise("update")
    joined
      .filter(col("__in_o").isNull || col("__in_n").isNull || changed)
      .select(col(keyCol) +:
        (op.as("op") +:
          payloadCols.map(c => when(op === "delete", col(s"o_$c"))
            .otherwise(col(s"n_$c")).as(c)) :+
          lit(vTo).as("seq")): _*)
  }

  /** OPTIMISTIC CONCURRENT MERGE — the multi-writer commit protocol on
    * top of the snapshot chain: apply `changes` against the table as
    * read at `baseVersion` and commit as the next version; when OTHER
    * commits landed since the writer's base, REBASE instead of failing
    * blindly — the intervening net change is [[versionDiff]], and the
    * Delta/Iceberg serializable-writer rule applies at KEY granularity:
    *
    *   - intervening diff keys ∩ this writer's changed keys = ∅ →
    *     re-apply on the current version and commit (both writers' ops
    *     survive, any landing order);
    *   - overlap → abort LOUDLY. Upsert semantics would otherwise let
    *     the later writer silently clobber the earlier one's committed
    *     update — write-write conflicts on a key are a user decision,
    *     not a tiebreak.
    *
    * A writer that loses the commit-link ARBITER race (its chosen
    * version taken between its read and its publish) retries the whole
    * read-check-apply loop up to `maxRetries` times — each retry
    * re-runs conflict detection against the newly-landed commits, so
    * the final history is serializable however the race lands
    * (OperatorsSpec pins the three-writer matrix).
    *
    * The committed version carries ONLY `table` (the rewrite-publish
    * form — roots used with this protocol hold one logical table; the
    * file-granular composed form is the s20 gate's shape). Changed-key
    * extraction is one distinct projection of the changelog; conflict
    * detection is a semi-join against the diff of the (delta) files —
    * metadata + changed bytes, never a table scan.
    */
  def commitChangelogOptimistic(spark: org.apache.spark.sql.SparkSession,
      root: String, changes: DataFrame, keyCol: String, baseVersion: Long,
      table: String = "data", maxRetries: Int = 3): Long = {
    var base = baseVersion
    var retries = 0
    while (true) {
      val cur = currentVersion(root).getOrElse(
        sys.error(s"no committed snapshot under $root"))
      if (cur != base) {
        val overlap = versionDiff(spark, root, table, base, cur, keyCol)
          .select(col(keyCol))
          .join(changes.select(col(keyCol)).distinct(), Seq(keyCol),
            "left_semi")
          .limit(1).count()
        if (overlap > 0) sys.error(
          s"conflicting concurrent commit between v$base and v$cur: " +
            s"another writer changed keys this changelog also changes " +
            s"($keyCol); rebase refused")
        base = cur
      }
      val applied = applyChangelog(
        readSnapshotTable(spark, root, table, Some(base)), changes, keyCol)
      try return publishSnapshot(Map(table -> ((applied, keyCol))), root)
      catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          retries += 1
          if (retries > maxRetries) throw e
      }
    }
    -1L // unreachable
  }

  /** Committed file paths of `table` at `version` (absolute) — the
    * metadata an appender needs to carry files forward (hard-link into
    * its next stage) WITHOUT scanning them. The files themselves are
    * immutable once committed (the link-forward discipline shares
    * inodes, never rewrites); content validation belongs to the read
    * path ([[readSnapshot]]), not to a path listing.
    */
  def committedFilePaths(root: String, table: String,
      version: Option[Long] = None): Seq[String] =
    tableFilePaths(root, table, version)

  /** ONE table of a snapshot read, validated, schema inferred from its
    * committed files — [[readSnapshotTableAs]] without the explicit
    * schema, for callers that need a single table (an appender's meta
    * or stats lookup) without paying [[readSnapshot]]'s
    * every-table validation scans.
    */
  def readSnapshotTable(spark: org.apache.spark.sql.SparkSession,
      root: String, table: String,
      version: Option[Long] = None): DataFrame = {
    val (v, entries) = commitEntries(root, version)
    val e = entries.find(_._1 == table).getOrElse(
      sys.error(s"snapshot $v has no table '$table' under $root"))
    validatedRead(spark, root, v, e._1, e._2, e._3, e._4, e._5, None)
  }

  /** Committed file paths of one table at one version (absolute). */
  private def tableFilePaths(root: String, table: String,
      version: Option[Long]): Seq[String] = {
    val (_, entries) = commitEntries(root, version)
    val e = entries.find(_._1 == table).getOrElse(sys.error(
      s"snapshot has no table '$table' under $root"))
    parquetFilesIn(java.nio.file.Paths.get(root, e._5))
  }

  /** The data files of one flat table dir (part files only). */
  private def parquetFilesIn(dir: java.nio.file.Path): Seq[String] = {
    val s = java.nio.file.Files.list(dir)
    try {
      val b = Seq.newBuilder[String]
      s.iterator().forEachRemaining { p =>
        val n = p.getFileName.toString
        if (n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
          b += p.toString
      }
      b.result()
    } finally s.close()
  }

  /** RETENTION: expire all but the newest `keepLast` committed versions —
    * the storage-reclaim half of time travel (a pinned training run
    * keeps its version only as long as the retention window, the same
    * contract as Delta's VACUUM / Iceberg's expire_snapshots). Expired
    * versions' commit files are removed FIRST (an expired read fails
    * loudly at the commit lookup from that point on), then data dirs no
    * surviving commit references are reclaimed via
    * [[vacuumUncommitted]]. Files a surviving version carried forward
    * survive by construction: the hard-link-forward discipline gives the
    * surviving version its OWN directory entry to the shared inode, so
    * deleting the expired version's entry drops a link count, never
    * bytes a live reader needs. Same stop-the-writers rule as vacuum.
    * Returns the expired version ids.
    */
  def expireVersions(root: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1: $keepLast")
    val rootP = java.nio.file.Paths.get(root)
    val cDir = rootP.resolve("_commits")
    if (!java.nio.file.Files.isDirectory(cDir)) return Seq.empty
    val versions = {
      val s = java.nio.file.Files.list(cDir)
      try {
        val b = Seq.newBuilder[Long]
        s.iterator().forEachRemaining { p =>
          "^(\\d+)\\.json$".r.findFirstMatchIn(p.getFileName.toString)
            .foreach(m => b += m.group(1).toLong)
        }
        b.result().sorted
      } finally s.close()
    }
    // never expire the pointer's version even if keepLast would: a
    // torn state where _latest dangles must be unreachable
    val current = currentVersion(root)
    val expired = versions.dropRight(keepLast).filterNot(current.contains)
    expired.foreach { v =>
      java.nio.file.Files.deleteIfExists(cDir.resolve(s"$v.json"))
    }
    vacuumUncommitted(root)
    expired
  }

  /** Garbage-collect orphaned snapshot attempt dirs: any `<table>/v=*`
    * data dir (or leftover `.staging`) NOT referenced by a commit file is
    * the residue of a crashed or racing-loser publish — inert by the
    * commit-arbiter design, reclaimed here. Returns the deleted paths.
    * Run only while no publish is in flight (an in-flight attempt is by
    * definition not yet committed and would be swept; the same
    * stop-the-writers rule every lakehouse vacuum carries).
    */
  def vacuumUncommitted(root: String): Seq[String] = {
    val rootP = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.isDirectory(rootP)) return Seq.empty
    val referenced: Set[String] = {
      val cDir = rootP.resolve("_commits")
      if (!java.nio.file.Files.isDirectory(cDir)) Set.empty
      else {
        val s = java.nio.file.Files.list(cDir)
        try {
          val b = Set.newBuilder[String]
          s.iterator().forEachRemaining { p =>
            if (p.getFileName.toString.endsWith(".json")) {
              val txt = new String(java.nio.file.Files.readAllBytes(p),
                java.nio.charset.StandardCharsets.UTF_8)
              "\"path\":\"([^\"]+)\"".r.findAllMatchIn(txt)
                .foreach(m => b += m.group(1))
            }
          }
          b.result()
        } finally s.close()
      }
    }
    val deleted = Seq.newBuilder[String]
    val tops = java.nio.file.Files.list(rootP)
    try tops.iterator().forEachRemaining { t =>
      val tn = t.getFileName.toString
      if (java.nio.file.Files.isDirectory(t) && tn != "_commits") {
        val kids = java.nio.file.Files.list(t)
        try kids.iterator().forEachRemaining { k =>
          val rel = s"$tn/${k.getFileName}"
          if (k.getFileName.toString.startsWith("v=") &&
              !referenced.contains(rel)) {
            Scratch.deleteTree(k)
            deleted += rel
          }
        } finally kids.close()
      }
    } finally tops.close()
    deleted.result()
  }

  /** Latest committed version per the pointer file, None before the first
    * commit.
    */
  def currentVersion(root: String): Option[Long] = {
    val p = java.nio.file.Paths.get(root, "_latest")
    if (!java.nio.file.Files.exists(p)) None
    else Some(new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
  }

  /** Validating snapshot reader: resolves `version` (default = the
    * pointer), parses the commit, reads every table at ITS committed path
    * and fails loudly if any table's recomputed count/fingerprint
    * disagrees with the commit — a tampered or short table can never
    * silently join a release. Returns the consistent table map.
    *
    * Cost note for warehouse scale: validation is one count+fingerprint
    * aggregate scan per table. Hot serving paths should resolve the
    * version once, validate once, and reuse the returned frames (the
    * [[graft.streaming.IndexRebuild]] appender's cache discipline) —
    * not re-validate per query.
    */
  def readSnapshot(spark: org.apache.spark.sql.SparkSession, root: String,
      version: Option[Long] = None): Map[String, DataFrame] = {
    val (v, entries) = commitEntries(root, version)
    entries.map { case (name, n, x, keyCol, path) =>
      name -> validatedRead(spark, root, v, name, n, x, keyCol, path, None)
    }.toMap
  }

  /** ONE table of a snapshot read under an EXPLICIT schema — the
    * schema-evolution read path: files written before an ADD COLUMN
    * evolution lack the new column, and parquet fills absent columns
    * with null when the reader supplies the schema, so one frame
    * unifies every file of a version whose lifetime crossed the
    * evolution. Same commit parse and count+fingerprint validation as
    * [[readSnapshot]] (the key column must exist pre-evolution — an
    * added column can never be the manifest key of old data).
    */
  def readSnapshotTableAs(spark: org.apache.spark.sql.SparkSession,
      root: String, table: String,
      schema: org.apache.spark.sql.types.StructType,
      version: Option[Long] = None): DataFrame = {
    val (v, entries) = commitEntries(root, version)
    val e = entries.find(_._1 == table).getOrElse(
      sys.error(s"snapshot $v has no table '$table' under $root"))
    validatedRead(spark, root, v, e._1, e._2, e._3, e._4, e._5, Some(schema))
  }

  /** Parse a commit file into its (name, n_rows, key_xor, key_col, path)
    * entries — shared by the validating readers.
    */
  private def commitEntries(root: String, version: Option[Long])
      : (Long, Seq[(String, Long, Long, String, String)]) = {
    val v = version.orElse(currentVersion(root))
      .getOrElse(sys.error(s"no committed snapshot under $root"))
    val cPath = java.nio.file.Paths.get(root, "_commits", s"$v.json")
    require(java.nio.file.Files.exists(cPath), s"no commit $v under $root")
    val txt = new String(java.nio.file.Files.readAllBytes(cPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val entryRe =
      ("\"([A-Za-z0-9_]+)\":\\{\"n_rows\":(\\d+),\"key_xor\":(-?\\d+)," +
        "\"key_col\":\"([^\"]+)\",\"path\":\"([^\"]+)\"\\}").r
    val entries = entryRe.findAllMatchIn(txt).toSeq.map(m =>
      (m.group(1), m.group(2).toLong, m.group(3).toLong, m.group(4),
        m.group(5)))
    require(entries.nonEmpty, s"commit $v parsed to no tables: $txt")
    (v, entries)
  }

  private def validatedRead(spark: org.apache.spark.sql.SparkSession,
      root: String, v: Long, name: String, n: Long, x: Long,
      keyCol: String, path: String,
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    val reader = spark.read
    val df = schema.fold(reader)(reader.schema).parquet(s"$root/$path")
    val (gotN, gotX) = contentFingerprint(df, keyCol)
    require(gotN == n && gotX == x,
      s"snapshot $v table $name does not match its commit: " +
        s"rows $gotN vs $n, xor $gotX vs $x")
    df
  }
}
