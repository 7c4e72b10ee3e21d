package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sinks

/** Drives the CLI (graft.app.Main) and the sinks end to end on temp dirs. */
class AppSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def writeDocsParquet(): String = {
    val dir = tmpDir("graft_docs")
    Seq(
      (1L, "alpha beta gamma. delta epsilon zeta. eta theta."),
      (2L, "one two three. four five six."))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/docs")
    s"$dir/docs"
  }

  test("CLI dq + analyze: rulebook report, quarantine split, table stats") {
    val dir = tmpDir("graft_dq")
    Seq((1L, 10.0), (2L, 200.0), (2L, 5.0), (3L, 7.0))
      .toDF("id", "v").write.mode("overwrite").parquet(s"$dir/t")
    val q = tmpDir("graft_dqq")
    graft.app.Main.main(Array(
      "dq", "--in", s"$dir/t",
      "--rules", "v_range: v >= 0 and v <= 100; id_pos: id > 0",
      "--unique", "id", "--quarantine", q))
    val clean = spark.read.parquet(s"$q/clean")
    val bad = spark.read.parquet(s"$q/quarantined")
    assert(clean.count() == 3L && bad.count() == 1L)
    assert(bad.select("failed_rules").as[String].head() == "v_range")
    // analyze runs on both ndv paths without error
    graft.app.Main.main(Array("analyze", "--in", s"$dir/t"))
    graft.app.Main.main(Array(
      "analyze", "--in", s"$dir/t", "--columns", "id", "--exact"))
  }

  test("CLI dq --contract: drift report unions in; a drifted drop routes WHOLE to quarantined") {
    val dir = tmpDir("graft_dqc")
    Seq((1L, 10.0), (2L, 5.0)).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/t")
    // matching contract + rules -> normal split path still works
    val q1 = tmpDir("graft_dqcq1")
    graft.app.Main.main(Array(
      "dq", "--in", s"$dir/t",
      "--contract", "id:bigint,v:double",
      "--rules", "v_small: v <= 100",
      "--quarantine", q1))
    assert(spark.read.parquet(s"$q1/clean").count() == 2L)
    // drifted contract (v retyped, w missing) -> the ENTIRE drop lands in
    // quarantined/, no clean side is produced
    val q2 = tmpDir("graft_dqcq2")
    graft.app.Main.main(Array(
      "dq", "--in", s"$dir/t",
      "--contract", "id:bigint,v:int,w:string",
      "--rules", "v_small: v <= 100",
      "--quarantine", q2))
    assert(spark.read.parquet(s"$q2/quarantined").count() == 2L)
    assert(!new java.io.File(s"$q2/clean").exists())
    // a STALE clean/ from a previous run into the same dir must not
    // survive a drifted drop (downstream readers of $dir/clean would
    // silently get old data — r13 advice)
    val q3 = tmpDir("graft_dqcq3")
    graft.app.Main.main(Array(
      "dq", "--in", s"$dir/t", "--contract", "id:bigint,v:double",
      "--rules", "v_small: v <= 100", "--quarantine", q3))
    assert(spark.read.parquet(s"$q3/clean").count() == 2L)
    graft.app.Main.main(Array(
      "dq", "--in", s"$dir/t", "--contract", "id:bigint,v:int,w:string",
      "--rules", "v_small: v <= 100", "--quarantine", q3))
    assert(!new java.io.File(s"$q3/clean").exists(),
      "stale clean/ must be removed when the drop drifts")
    assert(spark.read.parquet(s"$q3/quarantined").count() == 2L)
  }

  test("CLI snapshot: publish staged tables, validated read, current, vacuum") {
    val root = tmpDir("graft_snapcli")
    (1L to 40L).toDF("doc_id").coalesce(1).write.parquet(s"$root/stage_a")
    Seq((1L, "x"), (2L, "y")).toDF("doc_id", "t").coalesce(1)
      .write.parquet(s"$root/stage_b")
    graft.app.Main.main(Array("snapshot", "--root", s"$root/snap",
      "--publish", s"a=$root/stage_a:doc_id,b=$root/stage_b:doc_id"))
    // staged sources consumed by the commit
    assert(!new java.io.File(s"$root/stage_a").exists())
    assert(Sinks.currentVersion(s"$root/snap").contains(0L))
    graft.app.Main.main(Array("snapshot", "--root", s"$root/snap",
      "--current"))
    // validated read lands where asked
    graft.app.Main.main(Array("snapshot", "--root", s"$root/snap",
      "--read", "a", "--out", s"$root/out_a"))
    assert(spark.read.parquet(s"$root/out_a").count() == 40L)
    // a second version; time-travel read of v0 still works
    (100L to 120L).toDF("doc_id").coalesce(1).write.parquet(s"$root/stage_a2")
    graft.app.Main.main(Array("snapshot", "--root", s"$root/snap",
      "--publish", s"a=$root/stage_a2:doc_id"))
    graft.app.Main.main(Array("snapshot", "--root", s"$root/snap",
      "--read", "a", "--out", s"$root/out_a0", "--version", "0"))
    assert(spark.read.parquet(s"$root/out_a0").count() == 40L)
    // vacuum: plant an orphan attempt dir, sweep reclaims exactly it
    val orphan = java.nio.file.Paths.get(s"$root/snap/a/v=9-deadbeef")
    java.nio.file.Files.createDirectories(orphan)
    graft.app.Main.main(Array("snapshot", "--root", s"$root/snap",
      "--vacuum"))
    assert(!java.nio.file.Files.exists(orphan))
  }

  test("CLI snapshot --ingest / --optimize: versioned feed ingest, then live-table maintenance") {
    val root = tmpDir("graft_snapingest")
    val n = 4096
    val rows = Seq.tabulate(n)(i =>
      (i.toLong, (i.toLong * 2654435761L) % n)).toDF("a", "b")
    // a 5-file feed: a 4-tile Hilbert base (cov ~0.25 each) + one
    // plane-spanning unsorted drop (cov ~1) — comfortably either side
    // of the adaptive detection cutoff
    graft.operators.ZOrder.writeHilbert(rows,
      "a", "b", 0, n - 1, 0, n - 1, s"$root/feed", numFiles = 4)
    rows.filter(col("a") % 5 === 0).coalesce(1)
      .write.mode("append").parquet(s"$root/feed")
    // ingest: one version per feed file, exactly-once across re-runs
    graft.app.Main.main(Array("snapshot", "--root", s"$root/snap",
      "--ingest", s"$root/feed", "--key", "a", "--stat-cols", "a,b"))
    val vAfter = Sinks.currentVersion(s"$root/snap").get
    assert(vAfter == 4L, s"5 feed files -> 5 versions, got $vAfter")
    val total = Sinks.readSnapshot(spark, s"$root/snap")("data").count()
    assert(total == rows.count() + rows.filter(col("a") % 5 === 0).count())
    // re-run: checkpoint finds no new files, no new versions
    graft.app.Main.main(Array("snapshot", "--root", s"$root/snap",
      "--ingest", s"$root/feed", "--key", "a", "--stat-cols", "a,b"))
    assert(Sinks.currentVersion(s"$root/snap").contains(vAfter))
    // optimize: the unsorted drop is detected from COMMITTED stats and
    // re-clustered; clustered files carry; meta table carries at zero
    // scan; rows identical; the pre-maintenance version stays pinned
    graft.app.Main.main(Array("snapshot", "--root", s"$root/snap",
      "--optimize", "a,b", "--files", "4"))
    val vOpt = Sinks.currentVersion(s"$root/snap").get
    assert(vOpt == vAfter + 1)
    val snap = Sinks.readSnapshot(spark, s"$root/snap", Some(vOpt))
    assert(snap("data").count() == total)
    assert(snap.contains("meta"), "ingest meta must carry forward")
    // stats table pins to the new file set exactly
    import spark.implicits._
    val statFiles = snap("file_stats").select(col("__file").cast("string"))
      .as[String].collect().toSet
    val dataFiles = snap("data").inputFiles
      .map(u => new java.net.URI(u).getPath.replaceAll(".*/", "")).toSet
    assert(statFiles == dataFiles)
    // pinned pre-maintenance version intact
    assert(Sinks.readSnapshot(spark, s"$root/snap", Some(vAfter))("data")
      .count() == total)
    // a second optimize finds nothing to do (version unchanged)
    graft.app.Main.main(Array("snapshot", "--root", s"$root/snap",
      "--optimize", "a,b", "--files", "4"))
    assert(Sinks.currentVersion(s"$root/snap").contains(vOpt))
    // and the NEXT ingest still dedups on batch id after maintenance:
    // the carried meta keeps the guard alive
    graft.app.Main.main(Array("snapshot", "--root", s"$root/snap",
      "--ingest", s"$root/feed", "--key", "a", "--stat-cols", "a,b"))
    assert(Sinks.currentVersion(s"$root/snap").contains(vOpt))
    // --compact: the four re-clustered quarter files are slivers next
    // to the carried base; a threshold above their size merges them
    // into one file as the next version, rows identical, meta intact
    val preFiles = Sinks.committedFilePaths(s"$root/snap", "data").size
    graft.app.Main.main(Array("snapshot", "--root", s"$root/snap",
      "--compact", (n / 2).toString))
    val vComp = Sinks.currentVersion(s"$root/snap").get
    assert(vComp == vOpt + 1)
    val postSnap = Sinks.readSnapshot(spark, s"$root/snap", Some(vComp))
    assert(postSnap("data").count() == total)
    assert(postSnap.contains("meta"))
    assert(Sinks.committedFilePaths(s"$root/snap", "data").size < preFiles)
  }

  test("CLI optimize --recluster: only stats-detected degraded files rewrite") {
    val dir = tmpDir("graft_reclust")
    val n = 4096
    val rows = Seq.tabulate(n)(i =>
      (i.toLong, (i.toLong * 2654435761L) % n)).toDF("a", "b")
    graft.operators.ZOrder.writeHilbert(rows, "a", "b", 0, n - 1, 0, n - 1,
      s"$dir/in", numFiles = 8)
    val baseNames = spark.read.parquet(s"$dir/in").inputFiles
      .map(u => new java.net.URI(u).getPath.replaceAll(".*/", "")).toSet
    rows.filter(col("a") % 5 === 0).repartition(2)
      .write.mode("append").parquet(s"$dir/in")
    graft.app.Main.main(Array("optimize", "--in", s"$dir/in",
      "--out", s"$dir/out", "--recluster", "a,b", "--files", "2"))
    val out = spark.read.parquet(s"$dir/out")
    // rows survive exactly (append rows duplicated the a%5 slice)
    assert(out.count() == spark.read.parquet(s"$dir/in").count())
    // base tiles byte-copied (same names), degraded files replaced
    val outNames = out.inputFiles
      .map(u => new java.net.URI(u).getPath.replaceAll(".*/", "")).toSet
    assert(baseNames.subsetOf(outNames))
    assert((outNames -- baseNames).nonEmpty)
    // a clean table detects nothing and only copies
    graft.app.Main.main(Array("optimize", "--in", s"$dir/out",
      "--out", s"$dir/out2", "--recluster", "a,b"))
    assert(spark.read.parquet(s"$dir/out2").count() == out.count())
  }

  test("CLI optimize guards: empty --cluster input fails loudly, partitioned --compact-small rejected") {
    val dir = tmpDir("graft_optguard")
    spark.range(0).selectExpr("id AS a", "id AS b")
      .write.mode("overwrite").parquet(s"$dir/empty")
    val ex = intercept[IllegalArgumentException] {
      graft.app.Main.main(Array("optimize", "--in", s"$dir/empty",
        "--out", s"$dir/out1", "--cluster", "a,b"))
    }
    assert(ex.getMessage.contains("empty"), ex.getMessage)
    // Hive-partitioned input would lose partition columns in the flat
    // copy — rejected with a real message (r13 advice)
    Seq((1L, "x"), (2L, "y")).toDF("doc_id", "part")
      .write.partitionBy("part").mode("overwrite").parquet(s"$dir/hive")
    val ex2 = intercept[IllegalArgumentException] {
      graft.app.Main.main(Array("optimize", "--in", s"$dir/hive",
        "--out", s"$dir/out2", "--compact-small", "10"))
    }
    assert(ex2.getMessage.contains("partition"), ex2.getMessage)
  }

  test("CLI optimize: --compact-small rewrites only slivers (big bytes copied), --cluster re-clusters") {
    val dir = tmpDir("graft_opt")
    // 1 big file (900 rows) + 3 sliver files (10 rows each)
    (1L to 900L).toDF("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/in")
    Seq(3, 6, 9).foreach { k =>
      (1000L * k to 1000L * k + 9).toDF("doc_id").coalesce(1)
        .write.mode("append").parquet(s"$dir/in")
    }
    val before = spark.read.parquet(s"$dir/in")
    assert(before.inputFiles.length == 4)
    graft.app.Main.main(Array("optimize", "--in", s"$dir/in",
      "--out", s"$dir/out", "--compact-small", "100"))
    val after = spark.read.parquet(s"$dir/out")
    assert(after.inputFiles.length == 2, "1 copied big + 1 compacted")
    assert(after.count() == 930L)
    assert(after.select(sum(col("doc_id"))).head().getLong(0) ==
      before.select(sum(col("doc_id"))).head().getLong(0))
    // the big file's BYTES were copied, not rewritten (same file name)
    val bigName = before.inputFiles.map(u =>
      new java.net.URI(u).getPath.replaceAll(".*/", ""))
      .toSet.intersect(after.inputFiles.map(u =>
        new java.net.URI(u).getPath.replaceAll(".*/", "")).toSet)
    assert(bigName.size == 1)
    // full re-cluster path runs and preserves rows
    val dir2 = tmpDir("graft_opt2")
    Seq.tabulate(200)(i => (i.toLong, (i * 7 % 200).toLong))
      .toDF("a", "b").repartition(4)
      .write.mode("overwrite").parquet(s"$dir2/in")
    graft.app.Main.main(Array("optimize", "--in", s"$dir2/in",
      "--out", s"$dir2/out", "--cluster", "a,b", "--files", "4"))
    assert(spark.read.parquet(s"$dir2/out").count() == 200L)
  }

  test("CLI pipeline: parquet docs in, summary table + text files out") {
    val docs = writeDocsParquet()
    val out = tmpDir("graft_out")
    graft.app.Main.main(Array(
      "pipeline", "--approach", "mapreduce", "--docs", docs, "--out", out,
      "--chunk-size", "6", "--overlap", "0", "--token-max", "10",
      "--summary-tokens", "4", "--write-files"))
    val summaries = spark.read.parquet(s"$out/summaries")
    assert(summaries.count() == 2)
    assert(summaries.columns.toSet == Set("doc_id", "summary"))
    val files = new java.io.File(s"$out/files").listFiles().map(_.getName).sorted
    assert(files.toSeq == Seq("1.txt", "2.txt"))
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/files/1.txt")).nonEmpty)
  }

  test("CLI pipeline: --summarizer selects the in-process scalar") {
    val docs = writeDocsParquet()
    val out = tmpDir("graft_tr_out")
    graft.app.Main.main(Array(
      "pipeline", "--approach", "truncated", "--docs", docs, "--out", out,
      "--summarizer", "textrank", "--summary-tokens", "6"))
    val summaries = spark.read.parquet(s"$out/summaries")
    assert(summaries.count() == 2)
    assert(summaries.select("summary").as[String].collect().forall(_.nonEmpty))
    // an unknown scalar fails fast with the option list
    val e = intercept[RuntimeException] {
      graft.app.Main.main(Array(
        "pipeline", "--approach", "truncated", "--docs", docs,
        "--out", tmpDir("graft_bad"), "--summarizer", "gpt"))
    }
    assert(e.getMessage.contains("unknown --summarizer"))
    // contradictory with the HTTP backend: fail loudly, never silently
    // ignore the scalar choice
    val c = intercept[RuntimeException] {
      graft.app.Main.main(Array(
        "pipeline", "--approach", "truncated", "--docs", docs,
        "--out", tmpDir("graft_bad2"), "--summarizer", "textrank",
        "--ollama-url", "http://localhost:1", "--models", "m1"))
    }
    assert(c.getMessage.contains("conflicts"))
  }

  test("CLI pipeline: --models sweep writes one safe-named subdir per model") {
    val docs = writeDocsParquet()
    val out = tmpDir("graft_out_sweep")
    // model names carry ':' and '.' so the sweep exercises safe-encoding
    // (reference: run_full_evaluation_pipeline.py:170, 802-812); without
    // --ollama-url the deterministic extractive scalar backs every model
    graft.app.Main.main(Array(
      "pipeline", "--approach", "truncated", "--docs", docs, "--out", out,
      "--models", "llama3.2:3b,phi4:14b"))
    val a = spark.read.parquet(s"$out/llama3_2_3b/summaries")
    val b = spark.read.parquet(s"$out/phi4_14b/summaries")
    assert(a.count() == 2 && b.count() == 2)
    // same deterministic summarizer -> identical sweep outputs
    assert(a.orderBy("doc_id").collect().toSeq ==
      b.orderBy("doc_id").collect().toSeq)
  }

  test("CLI evaluate --sweep: per-model stats + best-model comparison") {
    val docs = writeDocsParquet()
    val out = tmpDir("graft_sweep_out")
    graft.app.Main.main(Array(
      "pipeline", "--approach", "truncated", "--docs", docs, "--out", out,
      "--models", "llama3.2:3b,phi4:14b"))
    val report = s"${tmpDir("graft_sweep_rep")}/sweep.json"
    graft.app.Main.main(Array(
      "evaluate", "--sweep", out, "--ref", docs, "--report", report))
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(report)))
    assert(root.path("per_model_statistics").size == 8) // 2 models x 4 metrics
    assert(root.path("best_model_per_metric").size == 4)
    // identical deterministic outputs -> G8's lexicographic tie-break
    root.path("best_model_per_metric").forEach { n =>
      assert(n.path("best_model").asText == "phi4_14b")
    }
  }

  test("CLI pipeline: text-dir corpus scan (S1 directory variant)") {
    val corpus = tmpDir("graft_corpus")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(corpus, "doc_a.txt"), "first document text. more text.")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(corpus, "doc_b.txt"), "second document text here.")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(corpus, "ignored.dat"), "not a txt file")
    val out = tmpDir("graft_out2")
    graft.app.Main.main(Array(
      "pipeline", "--approach", "truncated", "--docs", corpus, "--out", out))
    assert(spark.read.parquet(s"$out/summaries").count() == 2) // .dat filtered
  }

  test("CLI pipeline: --chunker recursive_bpe chunks by exact BPE counts") {
    val docs = writeDocsParquet()
    val out = tmpDir("graft_out_bpe")
    graft.app.Main.main(Array(
      "pipeline", "--approach", "mapreduce", "--docs", docs, "--out", out,
      "--chunker", "recursive_bpe", "--chunk-size", "40", "--overlap", "4",
      "--token-max", "60", "--summary-tokens", "6"))
    val summaries = spark.read.parquet(s"$out/summaries")
    assert(summaries.count() == 2)
    assert(summaries.as[(Long, String)].collect().forall(_._2.nonEmpty))
  }

  test("CLI curate: curated stats table, corpus subset on --write-corpus") {
    val dir = tmpDir("graft_cur")
    Seq(
      (1L, "the cat and the dog sat in the house of it is that warm sun"),
      (2L, "the cat and the dog sat in the house of it is that cold rain"),
      (3L, "der hund und die katze ist nicht ein zu der hund und die katze"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/docs")
    val out = tmpDir("graft_cur_out")
    graft.app.Main.main(Array(
      "curate", "--docs", s"$dir/docs", "--out", out, "--write-corpus"))
    val stats = spark.read.parquet(s"$out/curated")
    assert(stats.select("doc_id").as[Long].collect().toSet == Set(1L)) // 2 near-dup, 3 German
    val corpus = spark.read.parquet(s"$out/corpus")
    assert(corpus.count() == 1 && corpus.columns.contains("text"))
    // --lsh routes the near-dup stage through MinHash banding and must
    // curate identically here (recall 1.0 on this corpus)
    val outLsh = tmpDir("graft_cur_lsh_out")
    graft.app.Main.main(Array(
      "curate", "--docs", s"$dir/docs", "--out", outLsh, "--lsh"))
    assert(spark.read.parquet(s"$outLsh/curated")
      .select("doc_id").as[Long].collect().toSet == Set(1L))
  }

  test("CLI prep: normalize + decontaminate + split + layout + order tables") {
    val dir = tmpDir("graft_prep")
    Seq(
      (1L, "the cat and the dog sat in the house of it is that warm sun"),
            (2L, "cafe\u0301 corner of the town where the sun sets and it is warm"),
      (3L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/docs")
    // benchmark shares doc 3's opening 5-gram -> doc 3 decontaminated away
    Seq((100L, "the quick brown fox jumps high"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/bench")
    val out = tmpDir("graft_prep_out")
    graft.app.Main.main(Array(
      "prep", "--docs", s"$dir/docs", "--out", out, "--normalize",
      "--benchmark", s"$dir/bench", "--ngram", "5",
      "--split", "train=0.5,val=0.5", "--pack-budget", "16",
      "--shuffle-seed", "epoch0"))
    val prep = spark.read.parquet(s"$out/prepared")
    assert(prep.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    assert(prep.filter(col("doc_id") === 2).select("text").as[String].head()
      .startsWith("caf\u00e9")) // NFC applied: combining input, precomposed out
    assert(prep.columns.contains("split"))
    assert(spark.read.parquet(s"$out/layout").count() == 2)
    val order = spark.read.parquet(s"$out/order")
    assert(order.select("shuffle_pos").as[Long].collect().toSet == Set(0L, 1L))
  }

  test("CLI prep: paragraph-dedup + gopher + url-blocklist + mix + shards") {
    val dir = tmpDir("graft_prep6")
    val banner = "subscribe now"
    val good = ("the word that hold some text " * 10).trim // passes Gopher
    Seq(
      (1L, s"$banner\n$good", "web"),
      (2L, s"$good extra tail words here\n$banner", "web"),
      (3L, s"$good but see https://ads.spam.bad/x", "web"),  // blocked URL
      (4L, "too short", "books"))                            // fails Gopher
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/docs")
    val out = tmpDir("graft_prep6_out")
    graft.app.Main.main(Array(
      "prep", "--docs", s"$dir/docs", "--out", out,
      "--paragraph-dedup", "2", "--gopher",
      "--url-blocklist", "spam.bad",
      "--mix-domain", "source", "--mix-fraction", "1.0",
      "--lm-min", "-20.0", // repeated-phrase docs score far above -20
      "--shards", "1", "--heavy-hitters", "10", "--eval-sample", "1"))
    val prep = spark.read.parquet(s"$out/prepared")
    // banner stripped (so 1 and 2 pass Gopher), 3 blocked by URL, 4 short
    assert(prep.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    assert(!prep.filter(col("doc_id") === 1).select("text").as[String].head()
      .contains(banner))
    assert(prep.columns.contains("keep_rate")) // mixture observability
    val shards = spark.read.parquet(s"$out/shards")
    assert(shards.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    assert(shards.select("shard").distinct().count() == 2) // 1 row/shard
    // heavy-hitter report: the 10x-repeated phrase words dominate
    val hh = spark.read.parquet(s"$out/heavy_hitters")
      .select("token").as[String].collect().toSet
    assert(hh.contains("the") && hh.contains("word"))
    // fixed eval sample: exactly one survivor doc, rank 1
    val es = spark.read.parquet(s"$out/eval_sample")
      .select("doc_id", "sample_rank").as[(Long, Int)].collect()
    assert(es.length == 1 && es.head._2 == 1 && Set(1L, 2L)(es.head._1))
  }

  test("CLI prep: --ppl-keep tercile gate and --mix-unimax epoch cap") {
    val dir = tmpDir("graft_prep7")
    // domain A: five fluent docs + one word salad (ta17's fixture — the
    // salad ranks strictly last, so tercile 3 = {4, 9} by tie-break)
    val docs = (Seq.tabulate(5)(i =>
        (i.toLong, "u v w u v w u v w u v w", "A")) :+
      ((9L, "w u w v v u w u w v v u", "A"))) ++
      Seq((20L, "p q p q p q p q", "B"))
    docs.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/docs")
    val out = tmpDir("graft_prep7_out")
    graft.app.Main.main(Array(
      "prep", "--docs", s"$dir/docs", "--out", out,
      "--ppl-keep", "head,middle"))
    val kept = spark.read.parquet(s"$out/prepared")
      .select("doc_id").as[Long].collect().toSet
    // A keeps terciles 1-2 = ids 0..3; the salad (9) and tie-loser (4)
    // drop; B's single doc is its own head
    assert(kept == Set(0L, 1L, 2L, 3L, 20L))

    // unimax: budget 9, cap 2 epochs; caps are A(6 docs)=12, B(1)=2.
    // waterfall: i=1 B share 9/2=4.5 > cap 2 -> capped 2; i=2 A share
    // (9-2)/1=7 <= cap 12 -> alloc 7 -> epochs A=7/6, B=2.0
    val out2 = tmpDir("graft_prep7b_out")
    graft.app.Main.main(Array(
      "prep", "--docs", s"$dir/docs", "--out", out2,
      "--mix-domain", "source", "--mix-unimax", "9:2",
      "--partition-by", "source"))
    val mixed = spark.read.parquet(s"$out2/prepared")
    val byDom = mixed.select("source", "doc_id")
      .as[(String, Long)].collect().groupBy(_._1)
    assert(byDom("B").length == 2)          // capped: exactly 2 epochs
    assert(byDom("A").length >= 6)          // 7/6 epochs: >= one full pass
    val eps = mixed.select("source", "target_epochs").distinct()
      .as[(String, Double)].collect().toMap
    assert(eps("A") == 1.166667 && eps("B") == 2.0)
    // --partition-by: Hive tree written and prunable
    val part = spark.read.parquet(s"$out2/partitioned")
    assert(part.count() == mixed.count())
    assert(new java.io.File(s"$out2/partitioned").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("source=")) == 2)
  }

  test("CLI prep: --decontam-mode span keeps the cleaned remainder") {
    val dir = tmpDir("graft_prep8")
    val leak = "the quick brown fox jumps"
    Seq((1L, s"alpha beta gamma $leak delta epsilon"),
      (2L, "totally clean text with several words here"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/docs")
    Seq((100L, leak)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/bench")
    val out = tmpDir("graft_prep8_out")
    graft.app.Main.main(Array(
      "prep", "--docs", s"$dir/docs", "--out", out,
      "--benchmark", s"$dir/bench", "--ngram", "5",
      "--decontam-mode", "span"))
    val prep = spark.read.parquet(s"$out/prepared")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    // doc 1 survives with the span cut (drop-mode would delete it)
    assert(prep(1L) == "alpha beta gamma delta epsilon")
    assert(prep(2L) == "totally clean text with several words here")
  }

  test("CLI index: build + search round trip, IVF and IVF-PQ forms") {
    val dir = tmpDir("graft_idx")
    val vecs = (0 until 24).map { i =>
      val v = Array.fill(8)(0f); v(i % 4) = 1f; v((i + 1) % 8) += 0.2f * (i % 3)
      (i.toLong, v)
    }
    vecs.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/emb")
    // query = vector 7's direction; its identical self must top the list
    Seq((700L, vecs(7)._2)).toDF("query_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/q")

    graft.app.Main.main(Array("index", "build",
      "--embeddings", s"$dir/emb", "--out", s"$dir/ivf", "--cells", "4"))
    graft.app.Main.main(Array("index", "search",
      "--index", s"$dir/ivf", "--queries", s"$dir/q",
      "--out", s"$dir/hits", "--k", "3", "--probe", "2"))
    val hits = spark.read.parquet(s"$dir/hits")
      .orderBy(col("rank")).select("vec_id", "cosine")
      .as[(Long, Double)].collect()
    assert(hits.nonEmpty && hits.head._1 == 7L && hits.head._2 == 1.0)

    // --assign-groups: the ANN-assisted build serves the identical-vector
    // hit through nProbe search. The corpus/cell count must put the
    // centroid model PAST the flat-scan degenerate point (CentroidIndex
    // builds a single group at k <= 64, where searchApprox == flatSearch
    // and the flag would be a no-op): 100 vectors, 72 cells => a real
    // multi-group index, so the bounded branch actually executes.
    val bigVecs = (0 until 100).map { i =>
      val v = Array.fill(8)(0f); v(i % 8) = 1f; v((i + 3) % 8) = 0.1f * (i % 5)
      (i.toLong, v)
    }
    bigVecs.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/emb_big")
    Seq((700L, bigVecs(7)._2)).toDF("query_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/q_big")
    graft.app.Main.main(Array("index", "build",
      "--embeddings", s"$dir/emb_big", "--out", s"$dir/ivf_ag",
      "--cells", "72", "--assign-groups", "2"))
    graft.app.Main.main(Array("index", "search",
      "--index", s"$dir/ivf_ag", "--queries", s"$dir/q_big",
      "--out", s"$dir/hits_ag", "--k", "3", "--probe", "4"))
    val hitsAg = spark.read.parquet(s"$dir/hits_ag")
      .orderBy(col("rank")).select("vec_id", "cosine")
      .as[(Long, Double)].collect()
    assert(hitsAg.nonEmpty && hitsAg.head._1 == 7L && hitsAg.head._2 == 1.0)

    graft.app.Main.main(Array("index", "build",
      "--embeddings", s"$dir/emb", "--out", s"$dir/ivfpq", "--pq",
      "--cells", "4", "--m", "2", "--ksub", "4"))
    graft.app.Main.main(Array("index", "search",
      "--index", s"$dir/ivfpq", "--queries", s"$dir/q",
      "--embeddings", s"$dir/emb",
      "--out", s"$dir/hits_pq", "--k", "3", "--probe", "2"))
    val hitsPq = spark.read.parquet(s"$dir/hits_pq")
      .orderBy(col("rank")).select("vec_id", "cosine")
      .as[(Long, Double)].collect()
    assert(hitsPq.nonEmpty && hitsPq.head._1 == 7L && hitsPq.head._2 == 1.0)
  }

  test("CLI demo: runs all five strategies on one doc without error") {
    val docs = writeDocsParquet()
    // exercises the full dispatch incl. Hierarchical over a synthesized tree
    graft.app.Main.main(Array("demo", "--docs", docs, "--doc-id", "1"))
  }

  test("CLI evaluate: joined metrics report with stats, histogram, details") {
    val docs = writeDocsParquet()
    val gen = tmpDir("graft_gen")
    val out = tmpDir("graft_eval")
    // generated == reference -> perfect scores
    spark.read.parquet(docs).select(col("doc_id"), col("text").as("summary"))
      .write.mode("overwrite").parquet(s"$gen/g")
    graft.app.Main.main(Array(
      "evaluate", "--gen", s"$gen/g", "--ref", docs, "--report", s"$out/report.json"))
    val report = ujsonParse(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/report.json")))
    assert(report.contains("\"summary_statistics\""))
    assert(report.contains("\"rouge1_f\""))
    assert(report.contains("\"mean\":1.0"))
    // --tx-bertscore --weights: contextual BERTScore through a LOADED
    // checkpoint (gen == ref -> tx_bert_f exactly 1.0 per pair)
    val ckpt = s"$out/tx.safetensors"
    graft.llm.TinyTransformer(seed = 77L).saveWeights(ckpt)
    graft.app.Main.main(Array(
      "evaluate", "--gen", s"$gen/g", "--ref", docs,
      "--report", s"$out/report_tx.json",
      "--tx-bertscore", "--weights", ckpt))
    val reportTx = ujsonParse(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/report_tx.json")))
    assert(reportTx.contains("\"tx_bert_f\":1.0"))
  }

  // minimal validity check without a JSON lib: jackson is on Spark's classpath
  private def ujsonParse(s: String): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.readTree(s) // throws on invalid JSON
    s
  }

  test("bucketed tables join without a shuffle (co-located sort-merge)") {
    val docs = (1L to 200L).map(i => (i, s"doc $i text")).toDF("doc_id", "text")
    val refs = (1L to 200L).map(i => (i, s"ref $i")).toDF("doc_id", "ref")
    Sinks.writeBucketedTable(docs, "bkt_docs", "doc_id", 8)
    Sinks.writeBucketedTable(refs, "bkt_refs", "doc_id", 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("bkt_docs").join(spark.table("bkt_refs"), "doc_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      // both sides read pre-bucketed: no Exchange anywhere in the plan
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
      assert(joined.count() == 200)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bkt_docs")
      spark.sql("DROP TABLE IF EXISTS bkt_refs")
    }
  }

  test("Sinks.writeJsonReport produces parseable nested JSON") {
    val stats = Seq(("m", 1.0, 0.0, 1.0, 1.0)).toDF("metric", "mean", "std", "min", "max")
    val hist = Seq(("high", 1L, 100.0)).toDF("bucket", "n", "pct")
    val details = Seq((1L, 0.9)).toDF("doc_id", "semantic_similarity")
    val path = tmpDir("graft_rep") + "/r.json"
    Sinks.writeJsonReport(stats, hist, details, path)
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    assert(parsed.get("summary_statistics").get(0).get("metric").asText == "m")
    assert(parsed.get("similarity_distribution").get(0).get("bucket").asText == "high")
    assert(parsed.get("detailed_results").size() == 1)
  }

  test("Sinks.writeJsonReport collects one query, byte-identical to three toJSON collects") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val notes = Seq("Tiếng Việt", "quote \" and \\ backslash", "emoji 😀", null, "tab\there")
    val metrics = (1L to 30L).reverse.map { i =>
      (i, if (i % 7 == 0) None else Some(((i * 37) % 100) / 100.0),
        if (i % 5 == 0) None else Some(i / 31.0), notes((i % notes.size).toInt))
    }.toDF("doc_id", "semantic_similarity", "rouge1_f", "note").repartition(3)
    val stats = graft.eval.Metrics.summaryStats(metrics, Seq("semantic_similarity", "rouge1_f"))
    val hist = graft.eval.Metrics.similarityHistogram(metrics)
    val details = metrics.orderBy("doc_id")
    val maxDetails = 12
    def threeCollects: String = {
      def rowsJson(df: org.apache.spark.sql.DataFrame): String =
        df.toJSON.collect().mkString("[", ",", "]")
      s"""{"summary_statistics":${rowsJson(stats)},""" +
        s""""similarity_distribution":${rowsJson(hist)},""" +
        s""""detailed_results":${rowsJson(details.limit(maxDetails))}}"""
    }
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
          started.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    val path = tmpDir("graft_rep1") + "/r.json"
    spark.sparkContext.addSparkListener(listener)
    val expected = try {
      val legacy = threeCollects
      // listener events arrive in order, so the executions seen between
      // the two sentinels are the report's
      Seq(1).toDF("report_start").collect()
      Sinks.writeJsonReport(stats, hist, details, path, maxDetails)
      Seq(1).toDF("report_end").collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!started.asScala.exists(_.contains("report_end")) && System.nanoTime() < deadline)
        Thread.sleep(10)
      val report = started.asScala.toSeq.dropWhile(!_.contains("report_start")).drop(1)
        .takeWhile(!_.contains("report_end"))
      assert(report.size == 1, s"the report ran ${report.size} SQL executions")
      legacy
    } finally spark.sparkContext.removeSparkListener(listener)

    val got = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    assert(got == expected)
    assert(got.contains("Tiếng Việt") && got.contains("😀"))
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper().readTree(got)
    val ids = (0 until maxDetails).map(i => parsed.get("detailed_results").get(i).get("doc_id").asLong)
    assert(ids == (1L to maxDetails.toLong))
    // null fields are dropped, as toJSON drops them
    assert(!parsed.get("detailed_results").get(6).has("semantic_similarity"))
  }

  test("CLI publish: atomic manifest publish + --check validation gate") {
    val src = tmpDir("graft_pub_src") + "/data"
    (1L to 40L).toDF("doc_id").write.parquet(src)
    val out = tmpDir("graft_pub_out") + "/published"
    graft.app.Main.main(Array("publish", "--in", src, "--out", out))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(out, "_manifest.json")))
    // --check validates; after tampering it must throw (the CI-gate path)
    graft.app.Main.main(Array("publish", "--check", out))
    val victim = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    java.nio.file.Files.delete(victim)
    assertThrows[IllegalArgumentException] {
      graft.app.Main.main(Array("publish", "--check", out))
    }
  }
}
