package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BinPack, PipelineConfig}
import graft.operators.{CorpusOps, Dedup, Similarity, TreeOps}

class OperatorsSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  private def chunksDf = Seq(
    // (doc_id, chunk_idx, text, n_tokens) — deliberately out of order
    (1L, 2, "c", 5L), (1L, 0, "a", 3L), (1L, 1, "b", 3L),
    (2L, 0, "x", 10L), (2L, 1, "y", 1L))
    .toDF("doc_id", "chunk_idx", "text", "n_tokens")

  test("G3 distributed binPack matches the pure greedy packer per doc") {
    val got = CorpusOps.binPack(chunksDf, 6L).collect()
      .map(b => (b.doc_id, b.chunk_idx) -> b.bin).toMap
    // doc 1 ordered weights (3,3,5): greedy -> bins (0,0,1)
    val expect1 = BinPack.greedyBins(Seq(3L, 3L, 5L), 6L)
    assert(Seq(got(1L -> 0), got(1L -> 1), got(1L -> 2)) == expect1)
    // doc 2 ordered weights (10,1): 10 overflows alone -> (0,1)
    assert(Seq(got(2L -> 0), got(2L -> 1)) == BinPack.greedyBins(Seq(10L, 1L), 6L))
  }

  test("G3 binPackCumsum assigns floor(exclusive-cumsum / budget)") {
    val got = CorpusOps.binPackCumsum(chunksDf, 6L)
      .select("doc_id", "chunk_idx", "bin").as[(Long, Int, Int)].collect().toSet
    // doc1 exclusive cumsums: 0,3,6 -> bins 0,0,1 ; doc2: 0,10 -> 0,1
    assert(got == Set((1L, 0, 0), (1L, 1, 0), (1L, 2, 1), (2L, 0, 0), (2L, 1, 1)))
  }

  test("G1/G4 concatBins joins chunk texts in chunk order") {
    val binned = CorpusOps.binPack(chunksDf, 100L).toDF
    val got = CorpusOps.concatBins(binned)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(got(1L) == "a\n\nb\n\nc") // restored order despite shuffled input
    assert(got(2L) == "x\n\ny")
  }

  test("C1/C2 chunkDocs: contiguous chunk_idx from 0, token counts attached") {
    val docs = Seq((1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10")).toDF("doc_id", "text")
    val cfg = PipelineConfig(chunkSize = 4, chunkOverlap = 0)
    val rows = CorpusOps.chunkDocs(docs, cfg)
      .select("chunk_idx", "n_tokens").as[(Int, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == rows.indices.toSeq)
    assert(rows.forall(_._2 <= 4))
    assert(rows.map(_._2).sum == 10) // zero overlap -> tokens partition exactly
  }

  test("S6 incrementalSplit: anti/semi split covers the corpus") {
    val docs = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val existing = Seq(2L, 4L).toDF("doc_id")
    val (todo, done) = CorpusOps.incrementalSplit(docs, existing)
    assert(todo.as[Long].collect().toSet == Set(1L, 3L))
    assert(done.as[Long].collect().toSet == Set(2L, 4L))
  }

  test("DD1 exact duplicates groups by full-text hash") {
    val docs = Seq((1L, "same text"), (2L, "same text"), (3L, "unique")).toDF("doc_id", "text")
    val got = Dedup.exactDuplicates(docs).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("canonical_doc_id") == 1L)
    assert(r.getAs[Long]("dup_count") == 2L)
    assert(r.getAs[String]("member_ids") == "1,2")
  }

  test("DD4 n-gram Jaccard: identical docs pair at 1.0, disjoint absent") {
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "z y x w v u"))
      .toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(docs, "text", 3, 0.5)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(got.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("DD4b LSH-verified Jaccard: subset of dd4 with identical values, twins kept") {
    // two near-identical twins (one token differs), one unrelated doc, one
    // exact pair — LSH must surface the high-jaccard pairs and the verify
    // stage must reproduce dd4's exact jaccard on them
    val docs = Seq(
      (1L, "a b c d e f g h i j"), (2L, "a b c d e f g h i k"),
      (3L, "z y x w v u t s r q"),
      (4L, "m n o p q r s t"), (5L, "m n o p q r s t"))
      .toDF("doc_id", "text")
    val full = Dedup.ngramJaccardPairs(docs, "text", 3, 0.5)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val verified = Dedup.jaccardVerifiedPairs(docs, "text", 3, 4, 2, 0.5)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(verified.subsetOf(full),
      s"LSH-verified pairs must be a subset of the exact inverted-index form: $verified vs $full")
    assert(verified.exists { case (a, b, _) => (a, b) == ((4L, 5L)) },
      "exact duplicates always collide in every band")
    assert(verified.exists { case (a, b, _) => (a, b) == ((1L, 2L)) },
      "high-jaccard twins should survive 4x2 banding")
  }

  test("DD4c sharp banding (6x4): still a subset of dd4, exact dups and near-twins kept") {
    // sharp banding trades tail recall for candidate precision; the pairs
    // it DOES emit must carry dd4's exact jaccard values, and j~0.9 twins
    // (banding prob 1-(1-j^4)^6 ≈ 0.99) plus exact dups must survive
    val docs = Seq(
      (1L, "a b c d e f g h i j"), (2L, "a b c d e f g h i k"),
      (3L, "z y x w v u t s r q"),
      (4L, "m n o p q r s t"), (5L, "m n o p q r s t"))
      .toDF("doc_id", "text")
    val full = Dedup.ngramJaccardPairs(docs, "text", 3, 0.5)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val sharp = Dedup.jaccardVerifiedPairs(docs, "text", 3, 6, 4, 0.5)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(sharp.subsetOf(full),
      s"sharp-banded verified pairs must be a subset of the exact form: $sharp vs $full")
    assert(sharp.exists { case (a, b, _) => (a, b) == ((4L, 5L)) },
      "exact duplicates collide in every band at any geometry")
    assert(sharp.exists { case (a, b, _) => (a, b) == ((1L, 2L)) },
      "near-twins (8 shared of 10 shingles) should survive 6x4 banding")
  }

  test("DD11 contentDefinedChunks: partition exact, shift-robust, edge cases") {
    val base = (1 to 200).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, "PREFIX INSERTED " + base), // shifted copy
      (3L, "solo"),                    // single token: one chunk
      (4L, ""))                        // empty: one empty chunk row
      .toDF("doc_id", "text")
    val got = Dedup.contentDefinedChunks(docs).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    // chunks partition the token stream exactly
    assert(got(1L).map(_.getAs[Long]("n_toks")).sum == 200L)
    assert(got(3L).map(_.getAs[Long]("n_toks")).toSeq == Seq(1L))
    assert(got(4L).map(_.getAs[Long]("n_toks")).toSeq == Seq(0L))
    // shift-robustness: the inserted prefix re-cuts only the FIRST
    // region; the tail chunk hashes of doc 2 match doc 1's
    val h1 = got(1L).map(_.getAs[String]("chunk_md5")).toSet
    val h2 = got(2L).map(_.getAs[String]("chunk_md5")).toSet
    val shared = h1.intersect(h2).size
    assert(shared >= h1.size - 2,
      s"expected all but the head chunk shared, got $shared of ${h1.size}")
    assert(got(1L).length > 5) // the grid actually cuts (expected ~12 chunks)
  }

  test("DD11b cdcDedupCorpus: shifted copy deduped, unrelated docs kept") {
    val base = (1 to 200).map(i => s"w$i").mkString(" ")
    val other = (1 to 200).map(i => s"q$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, "PREFIX INSERTED " + base), // shifted near-copy of 1
      (3L, other),                     // unrelated, same length
      (4L, "tiny doc here"))           // all chunks under minChunkToks
      .toDF("doc_id", "text")
    val pairs = Dedup.cdcContainmentPairs(docs)
    val p = pairs.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(p == Set((1L, 2L)),
      s"only the shifted pair should meet containment, got $p")
    // containment is shared-mass / smaller doc's mass, high for the twin
    assert(pairs.select("containment").as[Double].head() >= 0.8)
    val kept = Dedup.cdcDedupCorpus(docs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L),
      "min-id keeper drops the shifted copy, keeps source + unrelated + tiny")
    // boilerplate cap: a chunk shared by MORE than maxDocsPerChunk docs is
    // not pair evidence — with cap 2, three docs sharing one hot chunk
    // produce no pairs at all
    val boiler = (1 to 40).map(i => s"b$i").mkString(" ")
    val hotDocs = Seq((10L, boiler), (11L, boiler), (12L, boiler))
      .toDF("doc_id", "text")
    assert(Dedup.cdcContainmentPairs(hotDocs, maxDocsPerChunk = 2)
      .count() == 0)
    assert(Dedup.cdcContainmentPairs(hotDocs).count() == 3)
  }

  test("DD8b nearDupCorpusBestKeeper: quality argmax survives, singletons kept") {
    val docs = Seq(
      (1L, "a b c d e f g h"),       // component {1,2,3}: 3 is longest
      (2L, "a b c d e f g h i"),
      (3L, "a b c d e f g h i j k"),
      (4L, "z y x w v u t s"))       // singleton: always kept
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "text", 3, 0.5)
    val kept = Dedup.nearDupCorpusBestKeeper(docs, pairs,
        length(col("text")).cast("long"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L))
    // min-id tie-break: equal scores keep the smallest id
    val tie = Seq((5L, "p q r s t u v w"), (6L, "p q r s t u v w"),
      (7L, "only one here alone"))
      .toDF("doc_id", "text")
    val tiePairs = Dedup.ngramJaccardPairs(tie, "text", 3, 0.5)
    val tieKept = Dedup.nearDupCorpusBestKeeper(tie, tiePairs,
        length(col("text")).cast("long"))
      .select("doc_id").as[Long].collect().toSet
    assert(tieKept == Set(5L, 7L))
  }

  test("S9 exportShards: deterministic membership, exact sizes, layout-independent") {
    import graft.operators.{Sampling, Sinks}
    val docs = (0L until 10L).toDF("doc_id")
    val out = java.nio.file.Files.createTempDirectory("graft_s9spec_").toString
    val back = Sinks.exportShards(docs, s"$out/a", 4L)
    val got = back.select(col("shard").cast("long"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    // reference assignment: rank in (md5('shard:'||id), id) order div 4
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(id: Long) = md.digest(s"shard:$id".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val expect = (0L until 10L).sortBy(id => (hex(id), id)).zipWithIndex
      .map { case (id, i) => (i / 4).toLong -> id }.toSet
    assert(got == expect)
    assert(back.groupBy("shard").count().collect()
      .map(_.getAs[Long]("count")).sorted.toSeq == Seq(2L, 4L, 4L))
    // partition layout cannot change the assignment
    val again = Sinks.exportShards(docs.repartition(7), s"$out/b", 4L)
      .select(col("shard").cast("long"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    assert(again == expect)
    // small-files audit: the write preserves deterministicShuffle's range
    // clustering (shuffle_pos contiguous per task), so each shard=... dir
    // receives files from at most the 2 tasks whose pos range crosses its
    // boundary — per-shard file count must stay O(1), never O(tasks)
    val big = (0L until 600L).toDF("doc_id")
    Sinks.exportShards(big, s"$out/c", 100L)
    val shardDirs = new java.io.File(s"$out/c").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shardDirs.length == 6)
    shardDirs.foreach { d =>
      val nFiles = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(nFiles >= 1 && nFiles <= 2,
        s"${d.getName}: $nFiles parquet files — shard dirs must hold 1-2" +
          " files, a per-task fan-out would mean the range clustering broke")
    }
  }

  test("S10 exportPartitioned: directory tree, membership, file discipline") {
    import graft.operators.Sinks
    val docs = (0L until 200L)
      .map(i => (i, if (i % 4 == 0) "web" else "books",
        if (i % 10 < 8) "train" else "val"))
      .toDF("doc_id", "domain", "split")
    val out = java.nio.file.Files.createTempDirectory("graft_s10spec_").toString
    val back = Sinks.exportPartitioned(docs.repartition(16), s"$out/p",
      Seq("domain", "split"))
    // membership through the roundtrip
    val got = back.select("doc_id", "domain", "split")
      .as[(Long, String, String)].collect().toSet
    assert(got == docs.as[(Long, String, String)].collect().toSet)
    // pruned read touches one subtree only
    val webTrain = spark.read.parquet(s"$out/p")
      .filter(col("domain") === "web" && col("split") === "train")
    assert(webTrain.count() == (0L until 200L)
      .count(i => i % 4 == 0 && i % 10 < 8))
    // file discipline: the pre-write repartition on the partition cols
    // means each (domain, split) dir is written by its owning task(s),
    // not by all 16 input tasks
    val dirs = for {
      d <- new java.io.File(s"$out/p").listFiles().toSeq
      if d.isDirectory && d.getName.startsWith("domain=")
      s <- d.listFiles().toSeq if s.isDirectory
    } yield s
    assert(dirs.size == 4)
    dirs.foreach { s =>
      val n = s.listFiles().count(_.getName.endsWith(".parquet"))
      assert(n >= 1 && n <= 2,
        s"${s.getPath}: $n files — partitionBy fan-out means the " +
          "pre-write repartition was lost")
    }
  }

  test("DD10 dropRepeatedParagraphs: global boilerplate stripped, order kept") {
    val b = "COOKIE BANNER"
    val docs = Seq(
      (1L, s"$b\nalpha text\nbeta text"),
      (2L, s"gamma text\n$b"),
      (3L, b), // only boilerplate: row survives with empty text
      (4L, "delta text\nalpha text")) // 'alpha text' x2 total: under min 3
      .toDF("doc_id", "text")
    val got = Dedup.dropRepeatedParagraphs(docs, minOccurrences = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_paras"),
          r.getAs[Long]("n_removed")))).toMap
    assert(got(1L) == (("alpha text\nbeta text", 3L, 1L)))
    assert(got(2L) == (("gamma text", 2L, 1L)))
    assert(got(3L) == (("", 1L, 1L)))
    assert(got(4L) == (("delta text\nalpha text", 2L, 0L)))
  }

  test("AJ2 intervalJoin: inclusive bounds, overlap fan-out, grid-edge exact") {
    import graft.operators.AsofJoin
    val points = Seq(
      (1L, 1L, 100L), (2L, 1L, 150L), (3L, 1L, 151L),
      (4L, 2L, 100L), // other key: must not match key-1 windows
      (5L, 1L, 99L))  // before every window
      .toDF("event_id", "user_id", "ts_us")
    val intervals = Seq(
      (10L, 1L, 100L, 150L),  // inclusive both ends
      (11L, 1L, 140L, 260L),  // overlaps the first; spans grid cells
      (12L, 3L, 0L, 1000L))   // key never queried
      .toDF("window_id", "user_id", "w_start", "w_end")
    // tiny grid (7) forces intervals across many cells — binning must be
    // invisible in the result
    val got = AsofJoin.intervalJoin(points, intervals,
        "user_id", "ts_us", "w_start", "w_end", gridUs = 7L)
      .select("event_id", "window_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (2L, 10L), (2L, 11L), (3L, 11L)))
    // a coarse grid (every interval inside one or two cells) agrees
    val coarse = AsofJoin.intervalJoin(points, intervals,
        "user_id", "ts_us", "w_start", "w_end", gridUs = 1000L)
      .select("event_id", "window_id").as[(Long, Long)].collect().toSet
    assert(coarse == got)
  }

  test("AJ1 asofJoinPrior: inclusive match, latest-prior wins, null when none") {
    import graft.operators.AsofJoin
    val left = Seq(
      (10L, 1L, 100L, "p1"), // matches r at ts 90
      (11L, 1L, 50L, "p2"),  // matches r at ts 50 (inclusive)
      (12L, 1L, 40L, "p3"),  // no prior right -> null
      (13L, 2L, 100L, "p4")  // other key: matches its own side only
    ).toDF("event_id", "user_id", "ts_us", "tag")
    val right = Seq(
      (1L, 1L, 50L, 5.0),
      (2L, 1L, 90L, 9.0),
      (3L, 1L, 90L, 9.5),   // same (key, ts): largest id wins
      (4L, 2L, 10L, 1.0),
      (5L, 3L, 10L, 3.0)    // key never queried
    ).toDF("event_id", "user_id", "ts_us", "value")
    val got = AsofJoin.asofJoinPrior(left, right,
      "user_id", "ts_us", "event_id", Seq("event_id", "value"))
      .select("event_id", "asof_event_id", "asof_value")
      .collect().map(r => r.getAs[Long]("event_id") ->
        ((Option(r.getAs[java.lang.Long]("asof_event_id")),
          Option(r.getAs[java.lang.Double]("asof_value"))))).toMap
    assert(got(10L) == ((Some(3L), Some(9.5)))) // latest prior; id tie-break
    assert(got(11L) == ((Some(1L), Some(5.0)))) // equal ts matches
    assert(got(12L) == ((None, None)))
    assert(got(13L) == ((Some(4L), Some(1.0))))
    // strict: same-instant right state is invisible — left at ts 50 falls
    // back to nothing (its only prior is the equal-ts row)
    val strictGot = AsofJoin.asofJoinPrior(left, right,
      "user_id", "ts_us", "event_id", Seq("event_id"), strict = true)
      .select("event_id", "asof_event_id")
      .collect().map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Long]("asof_event_id"))).toMap
    assert(strictGot(11L) == None)       // equal ts excluded under strict
    assert(strictGot(10L) == Some(3L))   // earlier rows unaffected
  }

  test("TA13 gopherRules: each rule fires on its designed violator") {
    import graft.operators.TextAnalysis
    // 60 words, mean len 3.83, stop hits {the, that}: every rule passes
    val longText = ("the word that hold some text " * 10).trim
    val docs = Seq(
      (1L, longText),
      (2L, "short doc"),                                     // < 50 words
      (3L, ("xx " * 60).trim),                               // no Gopher stopwords
      (4L, (("the be " * 30) + "## # ## # ## # ## #").trim), // symbol-heavy
      (5L, ("a " * 60).trim),                                // mean word len < 3
      (6L, (1 to 10).map(i => s"- item the be $i").mkString("\n")), // all bullets
      (7L, (("the be " * 30) + "\n" + (1 to 9).map(_ => "line...").mkString("\n")).trim),
      (8L, ("12 34 " * 30).trim))                            // words without letters
      .toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Int]("gopher_pass") == 1)
    assert(got(2L).getAs[Int]("pass_words") == 0)
    assert(got(3L).getAs[Int]("pass_stopwords") == 0)
    assert(got(3L).getAs[Int]("stop_hits") == 0)
    assert(got(4L).getAs[Int]("pass_symbol") == 0)
    assert(got(5L).getAs[Int]("pass_word_len") == 0)
    assert(got(6L).getAs[Int]("pass_bullet") == 0)
    assert(got(7L).getAs[Int]("pass_ellipsis") == 0)
    assert(got(8L).getAs[Int]("pass_alpha") == 0)
    // the violators really fail the combined gate
    Seq(2L, 3L, 4L, 5L, 6L, 8L).foreach(id =>
      assert(got(id).getAs[Int]("gopher_pass") == 0, s"doc $id"))
  }

  test("TA14 urlSignals + domainBlocked: extraction, hosts, subdomain match") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "see https://docs.example.com/a/b and http://example.org plain"),
      (2L, "no urls here"),
      (3L, "dup https://x.io/1 https://x.io/2 and https://ads.spam.bad/px"))
      .toDF("doc_id", "text")
    val sig = TextAnalysis.urlSignals(docs)
    val got = sig.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Long]("n_urls") == 2L)
    assert(got(1L).getAs[scala.collection.Seq[String]]("hosts").toSeq ==
      Seq("docs.example.com", "example.org"))
    assert(got(2L).getAs[Long]("n_urls") == 0L)
    assert(got(3L).getAs[scala.collection.Seq[String]]("hosts").toSeq ==
      Seq("ads.spam.bad", "x.io"))
    val blocked = sig.withColumn("b",
      TextAnalysis.domainBlocked(col("hosts"), Seq("spam.bad")).cast("int"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("b")).toMap
    assert(blocked == Map(1L -> 0, 2L -> 0, 3L -> 1)) // subdomain ads.spam.bad hits
  }

  test("TA9 normalizeText: NFC precompose, control strip, zero-width strip") {
    val docs = Seq(
      (1L, "cafe\u0301 combining"),          // NFC: e + U+0301 -> \u00e9
      (2L, "bell\u0007 and del\u007F here"), // control chars stripped
      (3L, "zero\u200Bwidth\uFEFFgone"),     // ZWSP + BOM stripped
      (4L, "tab\tand\nnewline kept"),        // \t \n survive
      (5L, "plain ascii unchanged"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.normalizeText(docs)
      .select("doc_id", "norm_text", "changed")
      .as[(Long, String, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == (("caf\u00e9 combining", true)))
    assert(got(2L) == (("bell and del here", true)))
    assert(got(3L) == (("zerowidthgone", true)))
    assert(got(4L) == (("tab\tand\nnewline kept", false)))
    assert(got(5L) == (("plain ascii unchanged", false)))
  }

  test("TA19 extractHtml: closed-form extraction, entity order, counts") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "<html><head><title>T</title><style>b{c:d}</style>" +
        "<script>if (x < 2) { y(\"a&b\"); }</script></head><body>" +
        "<!-- nav --><ul><li><a href=\"/h\">Home</a></li></ul>" +
        "<h1>Head</h1><p>Fish &amp; Chips say &quot;hi&quot;</p>" +
        "<p>a &lt;b&gt; c</p><br/></body></html>"),
      // &amp;lt; decodes to the TEXT "&lt;", never to "<" (amp is last)
      (2L, "<p>literal &amp;lt; stays</p>"),
      // whitespace: space runs, spaces around newlines, 3+ newlines, trim
      (3L, "<div>  a  \t b </div><p></p><p></p><p>c</p>  "),
      (4L, null.asInstanceOf[String]), // null html -> empty, ratio 0
      (5L, "plain prose, no markup at all"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.extractHtml(docs)
      .select("doc_id", "clean_text", "n_tags", "n_links", "text_ratio")
      .as[(Long, String, Int, Int, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L)._2 ==
      "Home\n\nHead\nFish & Chips say \"hi\"\na <b> c")
    assert(got(1L)._3 > 10 && got(1L)._4 == 1) // tags counted on raw html
    assert(got(2L)._2 == "literal &lt; stays")
    assert(got(3L)._2 == "a b\n\nc")
    assert(got(4L)._2 == "" && got(4L)._5 == 0.0)
    assert(got(5L)._2 == "plain prose, no markup at all")
    assert(got(5L)._3 == 0 && got(5L)._4 == 0 && got(5L)._5 == 1.0)
  }

  test("S11 Warc: length-driven roundtrip, byte offsets, adversarial payload") {
    import graft.operators.Warc
    val fake = "\r\n\r\nWARC/1.0\r\nWARC-Record-ID: 7\r\nContent-Length: 0\r\n\r\n\r\n\r\n"
    val docs = Seq(
      (0L, "xin chào thế giới"), // multi-byte: octets != chars
      (2L, "plain"),
      (4L, "body with a fake record " + fake + " inside"),
      (1L, ""), // empty payload
      (3L, "second shard"))
      .toDF("doc_id", "text")
    val shards = Warc.buildShards(docs, 2)
    assert(shards.count() == 2)
    val got = Warc.parseShards(shards)
      .select("shard", "rec_idx", "byte_offset", "doc_id", "text")
      .as[(Long, Long, Long, Long, String)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    // shard 0 = docs 0,2,4 in id order; shard 1 = docs 1,3
    assert(got.map(r => (r._1, r._4)) ==
      Seq((0L, 0L), (0L, 2L), (0L, 4L), (1L, 1L), (1L, 3L)))
    // payloads byte-identical, INCLUDING the embedded fake record
    val byId = got.map(r => r._4 -> r._5).toMap
    assert(byId(0L) == "xin chào thế giới")
    assert(byId(4L) == "body with a fake record " + fake + " inside")
    assert(byId(1L) == "")
    // offsets: record 0 at 0; record 1 at record 0's byte length
    val r0len = ("WARC/1.0\r\nWARC-Record-ID: 0\r\nContent-Length: " +
      "xin chào thế giới".getBytes("UTF-8").length +
      "\r\n\r\nxin chào thế giới\r\n\r\n").getBytes("UTF-8").length
    assert(got.find(r => r._4 == 2L).get._3 == r0len.toLong)
    // truncated blob fails loudly instead of resyncing
    val bad = shards.limit(1).selectExpr("shard",
      "substr(blob, 1, length(blob) - 3) AS blob")
    assertThrows[org.apache.spark.SparkException] {
      Warc.parseShards(bad).collect()
    }
  }

  test("SS11 mmrTopK: diversity beats a crowding near-dup; plain top-k keeps it") {
    import graft.operators.Similarity
    // q on the x-axis; v1 at 18deg (most relevant), v2 at 20deg (near-dup
    // of v1, cos(v1,v2)=0.999), v3 at -26deg (relevant AND diverse,
    // cos(v1,v3)=0.72); fillers far away
    def v(deg: Double) = Array(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    val corpus = Seq(1L -> v(18), 2L -> v(20), 3L -> v(-26),
      4L -> Array(0f, 1f), 5L -> Array(-1f, 0.2f))
      .toDF("vec_id", "embedding")
    val q = Seq(100L -> Array(1f, 0f)).toDF("query_id", "embedding")
    val plain = Similarity.bruteForceTopK(corpus, q, 2)
      .select("vec_id").as[Long].collect().toSet
    assert(plain == Set(1L, 2L)) // relevance-only keeps the near-dup
    val mmr = Similarity.mmrTopK(corpus, q, k = 2, shortlist = 5)
      .orderBy(col("rank")).select("vec_id").as[Long].collect().toSeq
    assert(mmr == Seq(1L, 3L)) // MMR swaps the near-dup for coverage
    // layout-independent; shortlist smaller than k emits what exists
    val mmr2 = Similarity.mmrTopK(corpus.repartition(3), q, 2, 5)
      .orderBy(col("rank")).select("vec_id").as[Long].collect().toSeq
    assert(mmr2 == mmr)
    val all = Similarity.mmrTopK(corpus, q, k = 10, shortlist = 10)
    assert(all.count() == 5)
    assertThrows[IllegalArgumentException] {
      Similarity.mmrTopK(corpus, q, k = 5, shortlist = 3)
    }
  }

  test("S12 publishWithManifest: atomic publish, validating read, tamper fails") {
    import graft.operators.Sinks
    val docs = (1L to 100L).toDF("doc_id")
    val base = java.nio.file.Files.createTempDirectory("s12_spec_")
    val out = base.resolve("pub").toString
    Sinks.publishWithManifest(docs, out)
    // no staging residue (per-attempt nonce dirs), manifest present,
    // data validates and round-trips
    val stagings = java.nio.file.Files.list(base)
      .filter(_.getFileName.toString.startsWith("pub.staging"))
      .count()
    assert(stagings == 0L)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(out, "_manifest.json")))
    val back = Sinks.readPublished(spark, out)
    assert(back.as[Long].collect().sorted.toSeq == (1L to 100L))
    // publish is write-once
    assertThrows[IllegalArgumentException] {
      Sinks.publishWithManifest(docs, out)
    }
    // a RACING publisher that passed the write-once check before the
    // winner landed: it staged its own nonce dir (never touching the
    // winner's files) and must fail loudly at the directory rename
    val loserStaging = base.resolve("pub.staging-b0b0b0b0")
    (200L to 205L).toDF("doc_id").write.parquet(loserStaging.toString)
    intercept[java.nio.file.FileSystemException] {
      java.nio.file.Files.move(loserStaging, java.nio.file.Paths.get(out),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    // winner unharmed
    assert(Sinks.readPublished(spark, out).count() == 100L)
    // tampering (drop a data file) fails the validating read loudly
    val victim = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    java.nio.file.Files.delete(victim)
    assertThrows[IllegalArgumentException] {
      Sinks.readPublished(spark, out).collect()
    }
  }

  test("DQ1 expectations: nulls violate, fused pass counts exactly, unique/referential math") {
    import graft.operators.TableQuality
    val t = Seq(
      (1L, Some(10.0)), (2L, Some(200.0)), (3L, None), (3L, Some(5.0))
    ).toDF("id", "v")
    // null predicate = violation (three-valued-logic trap): id 3's null v
    // violates the range rule alongside the out-of-range 200
    val got = TableQuality.expectations(t, Seq(
      TableQuality.Rule("v_range", col("v") >= 0.0 && col("v") <= 100.0),
      TableQuality.Rule("id_positive", col("id") > 0L)))
      .as[(String, Long, Long, Int)].collect()
      .map { case (k, n, v2, p) => k -> ((n, v2, p)) }.toMap
    assert(got("v_range") == ((4L, 2L, 0)))
    assert(got("id_positive") == ((4L, 0L, 1)))
    // unique: key 3 has 2 rows -> 1 extra
    val u = TableQuality.unique(t, Seq("id"), "id_unique")
      .as[(String, Long, Long, Int)].head()
    assert(u == (("id_unique", 4L, 1L, 0)))
    // referential: parent {1,2} -> both id-3 rows orphaned
    val parent = Seq(1L, 2L).toDF("pid")
    val r = TableQuality.referential(t, "id", parent, "pid", "id_ref")
      .as[(String, Long, Long, Int)].head()
    assert(r == (("id_ref", 4L, 2L, 0)))
    // clean slice -> all-pass report
    val clean = TableQuality.expectations(t.filter(col("id") < 3),
      Seq(TableQuality.Rule("v_range", col("v") >= 0.0)))
      .as[(String, Long, Long, Int)].head()
    assert(clean == (("v_range", 2L, 0L, 1)))
    intercept[IllegalArgumentException] {
      TableQuality.expectations(t, Seq(
        TableQuality.Rule("a", lit(true)), TableQuality.Rule("a", lit(true))))
    }
  }

  test("DQ2 quarantine: tags name every failed rule, sides partition the table") {
    import graft.operators.TableQuality
    val t = Seq((1L, 10.0, 0.01), (2L, 30.0, 0.01), (3L, 30.0, 0.09),
      (4L, 10.0, 0.09)).toDF("id", "q", "d")
    val (clean, bad) = TableQuality.quarantine(t, Seq(
      TableQuality.Rule("q25", col("q") <= 25.0),
      TableQuality.Rule("disc5", col("d") <= 0.05)))
    assert(clean.select("id").as[Long].collect().toSet == Set(1L))
    val tags = bad.select("id", "failed_rules").as[(Long, String)]
      .collect().toMap
    assert(tags == Map(2L -> "q25", 3L -> "q25,disc5", 4L -> "disc5"))
    // partition: no row lost, no row doubled, clean has no tag column
    assert(clean.count() + bad.count() == 4L)
    assert(!clean.columns.contains("failed_rules"))
    // null predicate quarantines with the rule named
    val tn = Seq((9L, Option.empty[java.lang.Double], 0.01))
      .toDF("id", "q", "d")
    val (_, badN) = TableQuality.quarantine(tn, Seq(
      TableQuality.Rule("q25", col("q") <= 25.0)))
    assert(badN.select("failed_rules").as[String].collect().toSeq ==
      Seq("q25"))
  }

  test("DQ referential/unique: lazy single-pass — one scan per source in the plan, values unchanged") {
    import graft.operators.TableQuality
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val dir = java.nio.file.Files.createTempDirectory("graft_dqlazy_").toString
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (3L, "d")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/child")
    Seq(1L, 2L).toDF("pid").write.mode("overwrite").parquet(s"$dir/parent")
    val child = spark.read.parquet(s"$dir/child")
    val parent = spark.read.parquet(s"$dir/parent")
    val r = TableQuality.referential(child, "id", parent, "pid", "id_ref")
    // the r12 form ran two actions at call time and returned a
    // precomputed LocalRelation; the report must now be a LAZY plan over
    // the sources with the child scanned ONCE (join+aggregate fused),
    // halving the child I/O
    def scans(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case l: LogicalRelation => l
      }.length
    assert(scans(r) == 2, "referential: child once + parent once")
    val u = TableQuality.unique(child, Seq("id"), "id_unique")
    assert(scans(u) == 1, "unique: one child scan")
    assert(r.as[(String, Long, Long, Int)].head() == (("id_ref", 4L, 2L, 0)))
    assert(u.as[(String, Long, Long, Int)].head() == (("id_unique", 4L, 1L, 0)))
    // empty child still yields one well-formed passing row
    val e = TableQuality.referential(child.filter(col("id") > 100L), "id",
      parent, "pid", "e_ref")
    assert(e.as[(String, Long, Long, Int)].head() == (("e_ref", 0L, 0L, 1)))
    assert(TableQuality.unique(child.filter(col("id") > 100L), Seq("id"), "e_u")
      .as[(String, Long, Long, Int)].head() == (("e_u", 0L, 0L, 1)))
    // hostile rule/column names die loudly before reaching a generated expr
    intercept[IllegalArgumentException] {
      TableQuality.expectations(child, Seq(
        TableQuality.Rule("bad`name", lit(true))))
    }
    intercept[IllegalArgumentException] {
      TableQuality.unique(child, Seq("id"), "x'); drop")
    }
    intercept[IllegalArgumentException] {
      TableQuality.tableStats(Seq(1L).toDF("a`b"), Seq("a`b"))
    }
  }

  test("DQ3 schemaContract: added/missing/retyped counted per axis; verdict routes the drop") {
    import graft.operators.TableQuality
    val t = Seq((1L, "a", 0.5)).toDF("id", "name", "score")
    val good = Seq("id" -> "bigint", "name" -> "string", "score" -> "double")
    val ok = TableQuality.schemaContract(t, good)
      .as[(String, Long, Long, Int)].collect()
    assert(ok.map(_._1).toSeq == Seq("schema_extra_cols",
      "schema_missing_cols", "schema_retyped_cols"))
    assert(ok.forall(_._4 == 1))
    assert(TableQuality.schemaContractPass(t, good))
    // type match is case-insensitive on the catalog string
    assert(TableQuality.schemaContractPass(t,
      Seq("id" -> "BIGINT", "name" -> "String", "score" -> "Double")))
    // drift on all three axes at once: name retyped, `added` expected but
    // absent, observed `score` uncontracted
    val drift = Seq("id" -> "bigint", "name" -> "int", "added" -> "string")
    val got = TableQuality.schemaContract(t, drift)
      .as[(String, Long, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("schema_extra_cols") == ((3L, 1L, 0)))
    assert(got("schema_missing_cols") == ((3L, 1L, 0)))
    assert(got("schema_retyped_cols") == ((2L, 1L, 0)))
    assert(!TableQuality.schemaContractPass(t, drift))
    intercept[IllegalArgumentException] {
      TableQuality.schemaContract(t, Seq("id" -> "bigint", "id" -> "int"))
    }
  }

  test("S16c incremental ANALYZE under snapshots: append reuses v0 sketches verbatim, merge == recompute") {
    import graft.operators.{Sinks, TableQuality}
    val root = java.nio.file.Files.createTempDirectory("graft_incstats_").toString
    val cols = Seq("k", "s")
    val batch0 = Seq((1L, Some("a")), (2L, Some("b")), (3L, None))
      .toDF("k", "s")
    val batch1 = Seq((4L, Some("c")), (5L, Some("b")), (2L, Some("d")))
      .toDF("k", "s")
    val stats0 = TableQuality.columnSketches(batch0, cols)
      .withColumn("part_id", lit("b0"))
    Sinks.publishSnapshot(Map(
      "data" -> ((batch0, "k")), "stats" -> ((stats0, "part_id"))), root)
    // APPEND: the refresh sketches ONLY the new batch and unions it with
    // v0's stored stats rows — the old data is never rescanned
    val prior = Sinks.readSnapshot(spark, root)("stats")
    val stats1 = prior.unionByName(
      TableQuality.columnSketches(batch1, cols)
        .withColumn("part_id", lit("b1")))
    Sinks.publishSnapshot(Map(
      "data" -> ((batch0.unionByName(batch1), "k")),
      "stats" -> ((stats1, "part_id"))), root)
    val snap = Sinks.readSnapshot(spark, root)
    // v0's sketch row survives the append BYTE-identical (reused, not
    // recomputed) — binary sketch compared as bytes
    def flat(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case x => x
      })
    assert(flat(snap("stats").filter(col("part_id") === "b0")
        .drop("part_id")) ==
      flat(stats0.drop("part_id")))
    // the merged report equals a from-scratch tableStats — exactly on the
    // mergeable fields, and (at this cardinality the HLL coupon list is
    // exact) on ndv too
    val merged = TableQuality.mergeSketches(snap("stats").drop("part_id"), cols)
      .collect().toSeq
    val scratch = TableQuality
      .tableStats(snap("data"), cols).collect().toSeq
    assert(merged == scratch)
  }

  test("FileSkipping prunedParquet: conjunctive box rule, superset guarantee, fully-pruned scan is empty not an error") {
    import graft.operators.FileSkipping
    val dir = java.nio.file.Files.createTempDirectory("graft_fskip_").toString
    // three files with known disjoint key boxes: a in [0,9]/[10,19]/[20,29]
    Seq.tabulate(10)(i => (i.toLong, (i % 3).toLong)).toDF("a", "b")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/f0")
    Seq.tabulate(10)(i => (10L + i, (i % 3).toLong)).toDF("a", "b")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/f1")
    Seq.tabulate(10)(i => (20L + i, 100L + i)).toDF("a", "b")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/f2")
    val table = spark.read.parquet(s"$dir/f0", s"$dir/f1", s"$dir/f2")
    val stats = FileSkipping.fileStats(table, Seq("a", "b"))
    // box a in [12,25], b in [0,2]: f1 intersects both ranges; f2 fails
    // the CONJUNCTIVE rule (a intersects, b=[100,109] does not); f0 fails a
    val pruned = FileSkipping.prunedParquet(spark, stats,
      Seq(("a", 12L, 25L), ("b", 0L, 2L)), table.schema)
    assert(pruned.inputFiles.length == 1)
    // superset guarantee: the chosen file still holds non-matching rows —
    // the caller's row predicate lands the exact result
    assert(pruned.count() == 10L)
    assert(pruned.filter(col("a").between(12L, 25L) &&
      col("b").between(0L, 2L)).count() ==
      table.filter(col("a").between(12L, 25L) &&
        col("b").between(0L, 2L)).count())
    // fully-pruned: empty frame with the right schema, not a failure
    val none = FileSkipping.prunedParquet(spark, stats,
      Seq(("a", 500L, 600L)), table.schema)
    assert(none.count() == 0L && none.schema == table.schema)
  }

  test("S16c sketch algebra hostile edges: all-null column, empty slice row — merge still == recompute") {
    import graft.operators.TableQuality
    val t = Seq((1L, Option.empty[String]), (2L, None), (3L, None))
      .toDF("k", "s") // s is ALL NULL: ndv 0, null min/max
    val cols = Seq("k", "s")
    val parts = TableQuality.columnSketches(t.filter(col("k") <= 1L), cols)
      .unionByName(TableQuality.columnSketches(t.filter(col("k") > 1L), cols))
      // an EMPTY slice contributes a zero/null sketch row — the merge
      // must absorb it (an empty append is a legal append)
      .unionByName(TableQuality.columnSketches(t.filter(col("k") > 99L), cols))
    val merged = TableQuality.mergeSketches(parts, cols).collect().toSeq
    val scratch = TableQuality.tableStats(t, cols).collect().toSeq
    assert(merged == scratch)
  }

  test("publishSnapshotStaged: physical layout survives the commit; mixes with rewrite publishes; source consumed") {
    import graft.operators.Sinks
    val root = java.nio.file.Files.createTempDirectory("graft_staged_").toString
    val src = s"$root/staged_src"
    // a deliberately-shaped 3-file layout that a DataFrame rewrite would
    // not reproduce (repartitionByRange on id)
    (1L to 300L).toDF("doc_id")
      .repartitionByRange(3, col("doc_id"))
      .write.mode("overwrite").parquet(src)
    val srcFiles = spark.read.parquet(src).inputFiles
      .map(u => new java.net.URI(u).getPath.replaceAll(".*/", "")).sorted
    assert(srcFiles.length == 3)
    val snapRoot = s"$root/snap"
    val v0 = Sinks.publishSnapshotStaged(
      Map("t" -> ((src, "doc_id"))), snapRoot, spark)
    assert(v0 == 0L)
    // source dir is CONSUMED by the move
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(src)))
    val committed = Sinks.readSnapshot(spark, snapRoot)("t")
    assert(committed.count() == 300L)
    // the exact file set (names and count) survived — no rewrite happened
    val gotFiles = committed.inputFiles
      .map(u => new java.net.URI(u).getPath.replaceAll(".*/", "")).sorted
    assert(gotFiles.toSeq == srcFiles.toSeq)
    // a later REWRITE publish coexists on the same root (shared version
    // chain, arbiter, pointer)
    val v1 = Sinks.publishSnapshot(
      Map("t" -> (((1L to 50L).toDF("doc_id"), "doc_id"))), snapRoot)
    assert(v1 == 1L)
    assert(Sinks.readSnapshot(spark, snapRoot)("t").count() == 50L)
    // time travel back to the staged version still validates
    assert(Sinks.readSnapshot(spark, snapRoot, Some(0L))("t").count() == 300L)
  }

  test("publishSnapshotStagedAppend: merged manifest == full recompute; a wrong carried manifest fails at read") {
    import graft.operators.Sinks
    val root = java.nio.file.Files.createTempDirectory("graft_appub_").toString
    val snap = s"$root/snap"
    // v0: full-scan publish
    (1L to 100L).toDF("doc_id").coalesce(1)
      .write.parquet(s"$root/st0")
    val v0 = Sinks.publishSnapshotStaged(Map("t" -> ((s"$root/st0", "doc_id"))),
      snap, spark)
    val (n0, x0) = Sinks.commitManifest(snap, "t", Some(v0))
    assert(n0 == 100L)
    // v1: carried links + 50 new rows, published with the MERGED manifest
    // (only the new file is scanned)
    val carried = Sinks.committedFilePaths(snap, "t", Some(v0))
    val st1 = java.nio.file.Paths.get(s"$root/st1")
    java.nio.file.Files.createDirectories(st1)
    carried.foreach(f => java.nio.file.Files.createLink(
      st1.resolve(f.replaceAll(".*/", "")), java.nio.file.Paths.get(f)))
    (101L to 150L).toDF("doc_id").coalesce(1)
      .write.mode("append").parquet(st1.toString)
    val carriedNames = carried.map(_.replaceAll(".*/", "")).toSet
    val v1 = Sinks.publishSnapshotStagedAppend(Map(
      "t" -> ((st1.toString, "doc_id", Some((n0, x0, carriedNames))))),
      snap, spark)
    // the read revalidates the WHOLE table against the merged manifest —
    // success here means merge == full recompute
    assert(Sinks.readSnapshot(spark, snap, Some(v1))("t").count() == 150L)
    val (n1, _) = Sinks.commitManifest(snap, "t", Some(v1))
    assert(n1 == 150L)
    // a LYING carried manifest commits (the publish trusts the chain)
    // but the first validating read fails loudly
    val st2 = java.nio.file.Paths.get(s"$root/st2")
    java.nio.file.Files.createDirectories(st2)
    Sinks.committedFilePaths(snap, "t", Some(v1)).foreach(f =>
      java.nio.file.Files.createLink(
        st2.resolve(f.replaceAll(".*/", "")), java.nio.file.Paths.get(f)))
    val v2 = Sinks.publishSnapshotStagedAppend(Map(
      "t" -> ((st2.toString, "doc_id",
        Some((n1 + 7, 12345L, carriedNames))))), snap, spark)
    intercept[IllegalArgumentException] {
      Sinks.readSnapshot(spark, snap, Some(v2))
    }
    // earlier versions stay readable — the bad commit is isolated
    assert(Sinks.readSnapshot(spark, snap, Some(v1))("t").count() == 150L)
  }

  test("versionDiff: inverse of applyChangelog; shared inodes never read; self-diff empty") {
    import graft.operators.Sinks
    val root = java.nio.file.Files.createTempDirectory("graft_vdiff_").toString
    val snapRoot = s"$root/snap"
    def stage(df: org.apache.spark.sql.DataFrame, dir: String,
        carry: Seq[String] = Nil): String = {
      val st = java.nio.file.Paths.get(dir)
      java.nio.file.Files.createDirectories(st)
      carry.foreach { f =>
        java.nio.file.Files.createLink(
          st.resolve(f.replaceAll(".*/", "")), java.nio.file.Paths.get(f))
      }
      df.write.mode("append").parquet(dir)
      dir
    }
    // v0: two files — ids 1-100 (file A), 101-200 (file B)
    val lo = (1L to 100L).map(i => (i, s"t$i")).toDF("doc_id", "text")
      .coalesce(1)
    val hi = (101L to 200L).map(i => (i, s"t$i")).toDF("doc_id", "text")
      .coalesce(1)
    // two append writes into one stage dir -> two distinct part files
    stage(lo, s"$root/st0")
    stage(hi, s"$root/st0")
    val v0 = Sinks.publishSnapshotStaged(Map("t" -> ((s"$root/st0", "doc_id"))),
      snapRoot, spark)
    val snap0 = Sinks.readSnapshot(spark, snapRoot, Some(v0))("t")
    val v0paths = snap0.inputFiles.map(u => new java.net.URI(u).getPath)
    assert(v0paths.length == 2)
    // v1: the file holding ids <= 100 is rewritten (delete 7, update 13,
    // insert 250); the other carries forward as a hard link
    val touched = v0paths.find { p =>
      spark.read.parquet(p).agg(min(col("doc_id"))).head().getLong(0) <= 100L
    }.get
    val carryF = v0paths.filterNot(_ == touched)
    val changes = Seq(
      (7L, "delete", "t7"), (13L, "update", "T13-new"),
      (250L, "insert", "t250")).toDF("doc_id", "op", "text")
      .withColumn("seq", lit(1L))
    val rw = Sinks.applyChangelog(spark.read.parquet(touched), changes,
      "doc_id")
    stage(rw.coalesce(1), s"$root/st1", carry = carryF)
    val v1 = Sinks.publishSnapshotStaged(Map("t" -> ((s"$root/st1", "doc_id"))),
      snapRoot, spark)
    val diff = Sinks.versionDiff(spark, snapRoot, "t", v0, v1, "doc_id")
    val got = diff.select("doc_id", "op", "text")
      .as[(Long, String, String)].collect().toSet
    assert(got == Set((7L, "delete", "t7"), (13L, "update", "T13-new"),
      (250L, "insert", "t250")))
    assert(diff.select("seq").distinct().as[Long].collect().toSeq ==
      Seq(v1))
    // inverse property: applying the diff to v0 reproduces v1 exactly
    val snap1 = Sinks.readSnapshot(spark, snapRoot, Some(v1))("t")
    val applied = Sinks.applyChangelog(snap0, diff, "doc_id")
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(applied ==
      snap1.select("doc_id", "text").as[(Long, String)].collect().toSet)
    // self-diff is empty; diffing across no change reads nothing new
    assert(Sinks.versionDiff(spark, snapRoot, "t", v0, v0, "doc_id").isEmpty)
    assert(Sinks.versionDiff(spark, snapRoot, "t", v1, v1, "doc_id").isEmpty)
  }

  test("commitChangelogOptimistic: fresh commit, disjoint rebase, overlap abort") {
    import graft.operators.Sinks
    val root = java.nio.file.Files.createTempDirectory("graft_ocm_").toString
    val snap = s"$root/snap"
    val base = (1L to 100L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val v0 = Sinks.publishSnapshot(Map("data" -> ((base, "doc_id"))), snap)
    val chA = Seq((3L, "update", "A3"), (5L, "delete", ""),
      (200L, "insert", "A200")).toDF("doc_id", "op", "text")
      .withColumn("seq", lit(1L))
    val chB = Seq((50L, "update", "B50"), (60L, "delete", ""))
      .toDF("doc_id", "op", "text").withColumn("seq", lit(1L))
    // A: base is current — plain apply-and-commit
    val v1 = Sinks.commitChangelogOptimistic(spark, snap, chA, "doc_id", v0)
    assert(v1 == v0 + 1)
    // B from the STALE base v0: keys disjoint from A's diff → rebases,
    // both writers' ops in the final table
    val v2 = Sinks.commitChangelogOptimistic(spark, snap, chB, "doc_id", v0)
    assert(v2 == v0 + 2)
    val got = Sinks.readSnapshot(spark, snap, Some(v2))("data")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(got(3L) == "A3" && got(200L) == "A200" && got(50L) == "B50")
    assert(!got.contains(5L) && !got.contains(60L) && got.size == 99)
    // C from v0 touches key 3 (A updated it) and key 70 (untouched):
    // one overlapping key aborts the WHOLE changelog
    val chC = Seq((3L, "update", "C3"), (70L, "update", "C70"))
      .toDF("doc_id", "op", "text").withColumn("seq", lit(1L))
    val e = intercept[RuntimeException] {
      Sinks.commitChangelogOptimistic(spark, snap, chC, "doc_id", v0)
    }
    assert(e.getMessage.contains("conflicting concurrent commit"))
    // nothing committed by the abort; a retry from the CURRENT version
    // succeeds (the user-level resolution path)
    assert(Sinks.currentVersion(snap).contains(v2))
    val v3 = Sinks.commitChangelogOptimistic(spark, snap, chC, "doc_id", v2)
    assert(v3 == v2 + 1)
    assert(Sinks.readSnapshot(spark, snap)("data")
      .filter(col("doc_id").isin(3L, 70L))
      .select("text").as[String].collect().toSet == Set("C3", "C70"))
  }

  test("expireVersions: expired reads loud, survivors' hard links intact, pointer protected") {
    import graft.operators.Sinks
    val root = java.nio.file.Files.createTempDirectory("graft_expire_").toString
    val snapRoot = s"$root/snap"
    intercept[IllegalArgumentException] {
      Sinks.expireVersions(snapRoot, 0)
    }
    // three versions; v1 and v2 carry every prior file forward as links
    def commit(ids: Range, stageDir: String, carryFrom: Option[Long]): Long = {
      val st = java.nio.file.Paths.get(stageDir)
      java.nio.file.Files.createDirectories(st)
      carryFrom.foreach { v =>
        Sinks.readSnapshot(spark, snapRoot, Some(v))("t").inputFiles
          .map(u => new java.net.URI(u).getPath).foreach { f =>
            java.nio.file.Files.createLink(
              st.resolve(f.replaceAll(".*/", "")), java.nio.file.Paths.get(f))
          }
      }
      ids.map(_.toLong).toDF("doc_id").coalesce(1)
        .write.mode("append").parquet(stageDir)
      Sinks.publishSnapshotStaged(Map("t" -> ((stageDir, "doc_id"))),
        snapRoot, spark)
    }
    val v0 = commit(1 to 10, s"$root/s0", None)
    val v1 = commit(11 to 20, s"$root/s1", Some(v0))
    val v2 = commit(21 to 30, s"$root/s2", Some(v1))
    assert(Sinks.expireVersions(snapRoot, 5).isEmpty) // window wider than history
    assert(Sinks.expireVersions(snapRoot, 2) == Seq(v0))
    // v0 unreadable, its data dir reclaimed
    intercept[Exception] { Sinks.readSnapshot(spark, snapRoot, Some(v0)) }
    val dirs = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(snapRoot, "t"))
      try {
        val b = Seq.newBuilder[String]
        s.iterator().forEachRemaining(p => b += p.getFileName.toString)
        b.result().filter(_.startsWith("v="))
      } finally s.close()
    }
    assert(dirs.size == 2, s"expected v1+v2 dirs only, got $dirs")
    // v1 still validates and reads ALL its rows — its own links to the
    // inodes v0's deleted dir also referenced survive
    assert(Sinks.readSnapshot(spark, snapRoot, Some(v1))("t")
      .count() == 20L)
    assert(Sinks.readSnapshot(spark, snapRoot)("t").count() == 30L)
    // keepLast=1 expires v1 but never the pointer's version
    assert(Sinks.expireVersions(snapRoot, 1) == Seq(v1))
    assert(Sinks.currentVersion(snapRoot).contains(v2))
    assert(Sinks.readSnapshot(spark, snapRoot)("t").count() == 30L)
  }

  test("publishWithManifest sweeps stale staging siblings on successful publish") {
    import graft.operators.Sinks
    val root = java.nio.file.Files.createTempDirectory("graft_pubsweep_")
    val out = s"$root/pub"
    // plant the residue of a crashed earlier attempt
    val stale = java.nio.file.Paths.get(s"$out.staging-dead0001")
    java.nio.file.Files.createDirectories(stale)
    java.nio.file.Files.write(stale.resolve("part-orphan.parquet"),
      Array[Byte](1, 2, 3))
    Sinks.publishWithManifest((1L to 10L).toDF("doc_id"), out)
    assert(!java.nio.file.Files.exists(stale),
      "crashed-attempt staging residue must be reclaimed by the publish")
    assert(Sinks.readPublished(spark, out).count() == 10L)
  }

  test("S16 tableStats: nulls, exact ndv, portable min/max strings, one row per column") {
    import graft.operators.TableQuality
    val t = Seq(
      (Some(3L), Some("b")), (Some(1L), None), (None, Some("a")),
      (Some(3L), Some("a"))).toDF("k", "s")
    val got = TableQuality.tableStats(t, Seq("k", "s"))
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("k") == (("k", 4L, 1L, 2L, "1", "3")))
    assert(got("s") == (("s", 4L, 1L, 2L, "a", "b")))
  }

  test("TA12 lengthStats: exact quantile interpolation on a known fixture") {
    // token counts 1..5: p50 = 3, p90 = rank 3.6 -> 4.6, p99 -> 4.96
    val docs = (1 to 5).map(i => (i.toLong, Seq.fill(i)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val r = graft.operators.TextAnalysis.lengthStats(docs).head()
    assert(r.getAs[Long]("n_docs") == 5L)
    assert(r.getAs[Double]("mean_tokens") == 3.0)
    assert(r.getAs[Double]("p50") == 3.0)
    assert(r.getAs[Double]("p90") == 4.6)
    assert(r.getAs[Double]("p99") == 4.96)
    assert(r.getAs[Long]("max_tokens") == 5L)
  }

  test("TA12b lengthStatsApproxGate: GK contract holds on uniform and skewed corpora") {
    // uniform 1..2000 tokens-ish lengths (cheap: repeat a word i%40+1 times)
    val uni = (0 until 2000).map(i => (i.toLong, Seq.fill(i % 40 + 1)("w").mkString(" ")))
      .toDF("doc_id", "text")
    assert(graft.operators.TextAnalysis.lengthStatsApproxGate(uni)
      .as[(Int, Int, Int)].head() == ((1, 1, 1)))
    // heavy skew: 95% short docs, 5% hundred-word docs — the sketch must
    // still land within rank tolerance at every percentile
    val skew = (0 until 2000).map { i =>
      val len = if (i % 20 == 0) 100 else 2
      (i.toLong, Seq.fill(len)("w").mkString(" "))
    }.toDF("doc_id", "text")
    assert(graft.operators.TextAnalysis.lengthStatsApproxGate(skew)
      .as[(Int, Int, Int)].head() == ((1, 1, 1)))
    // flags are layout-independent even though the estimate may not be
    assert(graft.operators.TextAnalysis
      .lengthStatsApproxGate(skew.repartition(13))
      .as[(Int, Int, Int)].head() == ((1, 1, 1)))
  }

  test("TA11 unigramLogProb: typical docs outscore rare-token docs; exact on fixture") {
    val docs = Seq(
      (1L, "the the the"),    // p(the)=6/8 -> 3 * ln(0.75)
      (2L, "the the the"),
      (3L, "rare pair"))      // p=1/8 each
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.unigramLogProb(docs)
      .select("doc_id", "n_tokens", "avg_logprob")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val lnP = (p: Double) => math.rint(math.log(p) * 1e6) / 1e6
    assert(got(1L) == ((3L, math.rint(lnP(6.0 / 8) * 1e4) / 1e4)))
    assert(got(3L)._2 == math.rint(lnP(1.0 / 8) * 1e4) / 1e4)
    assert(got(1L)._2 > got(3L)._2) // typicality orders as expected
  }

  test("TA16 bigramLogProb: exact on fixture; unseen word orders score lower") {
    // uni: a:3 b:3 x:1 (N=7); bigrams: (a,b)x2 (b,a)x2; c1: a:2 b:2
    val docs = Seq((1L, "a b a b"), (2L, "b a"), (3L, "x"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.bigramLogProb(docs)
      .select("doc_id", "n_bigrams", "avg_logprob")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(!got.contains(3L)) // single-token doc has no bigram
    // every bigram here is p = 0.75*(2/2) + 0.25*(3/7); rint-grid rounding
    // mirrors the ta11 spec idiom
    val lp = math.rint(math.log(0.75 * (2.0 / 2.0) + 0.25 * (3.0 / 7.0)) * 1e6) / 1e6
    assert(got(1L) == ((3L, math.rint(lp * 1e4) / 1e4)))
    assert(got(2L) == ((1L, math.rint(lp * 1e4) / 1e4)))
    // word salad: same unigrams, unseen orders -> only the backoff term
    val sep = Seq.tabulate(5)(i => (i.toLong, "u v w u v w")) :+
      ((9L, "w u w v v u"))
    val scores = graft.operators.TextAnalysis
      .bigramLogProb(sep.toDF("doc_id", "text"))
      .select("doc_id", "avg_logprob").as[(Long, Double)].collect().toMap
    assert(scores(9L) < scores(0L))
  }

  test("TA18 nbDomainClassifier: separable classes, exact score, tie to first class") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "apple apple banana", "A"), (2L, "apple banana banana", "A"),
      (3L, "zebra zebra yak", "B"), (4L, "zebra yak yak", "B"))
      .toDF("doc_id", "text", "source")
    val got = graft.operators.TextAnalysis
      .nbDomainClassifier(docs, col("source"))
      .select("doc_id", "source", "pred_source", "score")
      .as[(Long, String, String, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L)._2 == "A" && got(2L)._2 == "A")
    assert(got(3L)._2 == "B" && got(4L)._2 == "B")
    // doc 1 hand-computed on the 6dp micro grid: prior ln(2/4), tokens
    // apple x2 + banana x1, each lp = ln((3+1)/(6+4)) — V=4, tc_A=6
    def m(x: Double): Long = math.rint(math.rint(x * 1e6)).toLong
    val expected = (m(math.log(0.5)) + 3 * m(math.log(0.4))) / 1e6
    assert(got(1L)._3 == expected)
    // exact score tie (identical class-conditionals, equal priors) breaks
    // to the lexicographically first class on BOTH docs
    val tie = Seq((1L, "x", "A"), (2L, "x", "B")).toDF("doc_id", "text", "source")
    val tgot = graft.operators.TextAnalysis
      .nbDomainClassifier(tie, col("source"))
      .select("doc_id", "pred_source").as[(Long, String)].collect().toMap
    assert(tgot == Map(1L -> "A", 2L -> "A"))
    // vocabulary cap: out-of-vocab tokens are dropped from training AND
    // scoring, so the z-bearing doc still scores (prior-only parity)
    val capped = Seq((1L, "x x z", "A"), (2L, "x", "B")).toDF("doc_id", "text", "source")
    val cgot = graft.operators.TextAnalysis
      .nbDomainClassifier(capped, col("source"), vocabSize = 1)
      .select("doc_id", "pred_source").as[(Long, String)].collect().toMap
    assert(cgot == Map(1L -> "A", 2L -> "A"))
  }

  test("SS10 centerEmbeddings: exact means subtracted, float re-round, layout-independent") {
    import org.apache.spark.sql.functions.col
    val emb = Seq(
      (1L, Array(1f, 10f)), (2L, Array(3f, 20f)), (3L, Array(5f, 30f)))
      .toDF("vec_id", "embedding")
    val got = graft.operators.Similarity.centerEmbeddings(emb)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
      .map(r => r._1 -> r._2.toSeq).toMap
    // means are exactly (3, 20): centered values are exact floats
    assert(got(1L) == Seq(-2f, -10f) && got(2L) == Seq(0f, 0f) &&
      got(3L) == Seq(2f, 10f))
    // repartitioned input yields identical vectors (decimal-exact means —
    // double summation order cannot move them)
    val got2 = graft.operators.Similarity.centerEmbeddings(emb.repartition(5))
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
      .map(r => r._1 -> r._2.toSeq).toMap
    assert(got2 == got)
    // centering makes cosine discriminative on a cone-concentrated set:
    // raw cosines of (1,1±eps) vectors are ~1; centered, opposite sides
    // of the mean become anti-aligned
    val cone = Seq((1L, Array(1f, 0.9f)), (2L, Array(1f, 1.1f)))
      .toDF("vec_id", "embedding")
    val c = graft.operators.Similarity.centerEmbeddings(cone)
      .select("embedding").as[Array[Float]].collect()
    val dot = c(0).zip(c(1)).map { case (a, b) => a.toDouble * b }.sum
    assert(dot < 0.0)
  }

  test("SS9 hardNegatives: label filter, denoise drops the mislabeled twin, rank order") {
    import org.apache.spark.sql.functions.col
    val corpus = Seq(
      (1L, Array(1f, 0f), 0),
      (2L, Array(0.99f, 0.14f), 1), // near-identical, different label: cos ~0.990
      (3L, Array(0.6f, 0.8f), 1),   // genuine hard negative, cos 0.6
      (4L, Array(0f, 1f), 1),       // easy negative, cos 0
      (5L, Array(0.8f, 0.6f), 0))   // same label -> never a negative
      .toDF("vec_id", "embedding", "label")
    val queries = corpus.filter(col("vec_id") === 1L)
      .select(col("vec_id").as("query_id"), col("embedding"), col("label"))
    val mined = graft.operators.Similarity
      .hardNegatives(corpus, queries, 3, denoiseCosine = 0.95)
      .select("neg_rank", "vec_id", "cosine")
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    // the mislabeled twin (cos 0.9901 >= 0.95) is denoised away; the same-
    // label vec 5 is filtered; survivors rank by cosine
    assert(mined.map(_._2).toSeq == Seq(3L, 4L))
    assert(mined.head._3 == 0.6 && mined(1)._3 == 0.0)
    // raising the cap past 1.0 readmits the twin at rank 1
    val undenoised = graft.operators.Similarity
      .hardNegatives(corpus, queries, 3, denoiseCosine = 1.01)
      .select("neg_rank", "vec_id").as[(Int, Long)].collect().sortBy(_._1)
    assert(undenoised.map(_._2).toSeq == Seq(2L, 3L, 4L))
    intercept[IllegalArgumentException] {
      graft.operators.Similarity.hardNegatives(corpus, queries, 0, 0.95)
    }
  }

  test("exact-scan maxQueries tripwire: over-cap fails loudly, at-cap serves") {
    import org.apache.spark.sql.functions.col
    val corpus = Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(0.6f, 0.8f), 1),
      (3L, Array(0f, 1f), 1), (4L, Array(0.8f, 0.6f), 0))
      .toDF("vec_id", "embedding", "label")
    val q3 = corpus.limit(3)
      .select(col("vec_id").as("query_id"), col("embedding"), col("label"))
    // at-cap: all three exact scans serve
    assert(graft.operators.Similarity
      .bruteForceTopK(corpus, q3, 2, maxQueries = 3).count() > 0)
    assert(graft.operators.Similarity
      .mmrTopK(corpus, q3, 2, shortlist = 3, maxQueries = 3).count() > 0)
    assert(graft.operators.Similarity
      .hardNegatives(corpus, q3, 2, 0.99, maxQueries = 3).count() > 0)
    // cap-effectively-off must not overflow the +1 into a negative limit
    assert(graft.operators.Similarity
      .bruteForceTopK(corpus, q3, 2, maxQueries = Int.MaxValue).count() > 0)
    // over-cap: each fails loudly and names the contract + the ANN path
    for (thunk <- Seq(
        () => graft.operators.Similarity.bruteForceTopK(corpus, q3, 2, maxQueries = 2),
        () => graft.operators.Similarity.mmrTopK(corpus, q3, 2, 3, maxQueries = 2),
        () => graft.operators.Similarity.hardNegatives(corpus, q3, 2, 0.99, maxQueries = 2))) {
      val e = intercept[IllegalArgumentException](thunk())
      assert(e.getMessage.contains("maxQueries") && e.getMessage.contains("lshTopK"))
    }
  }

  test("TA18s nbTrainCollect: serving-side scorer integer-identical to batch classifier") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "apple apple banana", "A"), (2L, "apple banana banana", "A"),
      (3L, "zebra zebra yak", "B"), (4L, "zebra yak yak", "B"),
      (5L, "apple zebra", "A"),       // mixed evidence
      (6L, "unseen oov tokens only", "B"), // fully OOV at vocabSize=4
      (7L, "", "A"))                  // empty text -> priors decide
      .toDF("doc_id", "text", "source")
    val batch = graft.operators.TextAnalysis
      .nbDomainClassifier(docs, col("source"), vocabSize = 4)
      .select("doc_id", "pred_source", "score")
      .as[(Long, String, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val model = graft.operators.TextAnalysis
      .nbTrainCollect(docs, col("source"), vocabSize = 4)
    val served = docs.select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) =>
        val (p, sm) = model.score(t)
        id -> ((p, sm / 1e6))
      }.toMap
    assert(served == batch)
    // the collect contract fails loudly
    val e = intercept[IllegalArgumentException] {
      graft.operators.TextAnalysis.nbTrainCollect(docs, col("source"),
        vocabSize = 4, maxModelRows = 3L)
    }
    assert(e.getMessage.contains("metadata-scale"))
  }

  test("DC5 semanticDecontamReport: nearest benchmark, flag, tie-break, contract") {
    import org.apache.spark.sql.functions.col
    val bench = Seq((0L, Array(1f, 0f)), (17L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Array(1f, 0f)),      // exact copy of bench 0 -> cos 1.0
      (11L, Array(0.6f, 0.8f)),  // closer to bench 17 (cos 0.8)
      (12L, Array(-1f, 0f)))     // anti-aligned: best is still 17 at 0.0
      .toDF("vec_id", "embedding")
    val got = graft.operators.Dedup
      .semanticDecontamReport(corpus, bench, 0.9)
      .select("vec_id", "bench_id", "max_cosine", "contaminated")
      .as[(Long, Long, Double, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(10L) == ((0L, 1.0, 1)))
    assert(got(11L) == ((17L, 0.8, 0)))
    assert(got(12L) == ((17L, 0.0, 0)))
    // equal snapped cosine to two benchmark items -> lowest bench_id
    val dupBench = Seq((5L, Array(1f, 0f)), (3L, Array(1f, 0f)))
      .toDF("vec_id", "embedding")
    val tgot = graft.operators.Dedup
      .semanticDecontamReport(corpus.filter(col("vec_id") === 10L), dupBench, 0.9)
      .select("bench_id").as[Long].collect()
    assert(tgot.toSeq == Seq(3L))
    // the broadcast contract fails loudly past maxBench
    val e = intercept[IllegalArgumentException] {
      graft.operators.Dedup.semanticDecontamReport(corpus, bench, 0.9,
        maxBench = 1L)
    }
    assert(e.getMessage.contains("broadcasts the benchmark"))
  }

  test("TA17 perplexityBuckets: per-domain terciles, word salad lands in tail") {
    import org.apache.spark.sql.functions.{col, lit}
    // domain A: five identical fluent docs + one word salad (same unigrams,
    // unseen orders — ta16 proves it scores lower); domain B: three docs
    val docs = (Seq.tabulate(5)(i => (i.toLong, "u v w u v w", "A")) :+
      ((9L, "w u w v v u", "A"))) ++
      Seq((20L, "p q p q", "B"), (21L, "q p", "B"), (22L, "p p q q", "B"))
    val got = graft.operators.TextAnalysis
      .perplexityBuckets(docs.toDF("doc_id", "text", "source"), col("source"))
      .select("doc_id", "domain", "tercile", "bucket")
      .as[(Long, String, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // A has 6 docs -> terciles of 2/2/2; the salad scores strictly lowest
    assert(got(9L) == (("A", 3, "tail")))
    // ties broken by doc_id: the five identical docs fill head/middle in
    // id order (0,1 head; 2,3 middle; 4 shares tail with the salad)
    assert(got(0L)._2 == 1 && got(1L)._2 == 1)
    assert(got(2L)._2 == 2 && got(3L)._2 == 2)
    assert(got(4L) == (("A", 3, "tail")))
    // B ranks independently of A's score range: 3 docs, one per tercile
    assert(Seq(20L, 21L, 22L).map(got(_)._1).forall(_ == "B"))
    assert(Seq(20L, 21L, 22L).map(got(_)._2).sorted == Seq(1, 2, 3))
    // buckets name the terciles
    assert(got.values.forall { case (_, t, b) =>
      b == Seq("head", "middle", "tail")(t - 1) })
  }

  test("TA10 compressionRatio: repetition compresses, prose does not, deterministic") {
    val docs = Seq(
      (1L, "the " * 500),                    // pure repetition
      (2L, ("the quick brown fox jumps over the lazy dog and then wanders " +
        "past seven oddly shaped houses toward a distant riverbank") * 3),
      (3L, ""), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.compressionRatio(docs)
      .select("doc_id", "compress_ratio").as[(Long, Double)].collect().toMap
    assert(got(1L) < 0.05)            // boilerplate crushes
    assert(got(2L) > got(1L) * 3)     // prose compresses far less
    assert(got(3L) == 0.0 && got(4L) == 0.0)
    // deflate at a fixed level is deterministic: re-run == first run
    val again = graft.operators.TextAnalysis.compressionRatio(docs)
      .select("doc_id", "compress_ratio").as[(Long, Double)].collect().toMap
    assert(again == got)
  }

  test("DC1/DC2 decontamination: bench-overlapping docs flagged and dropped") {
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "tiny doc")) // < n tokens: whole-doc shingle
      .toDF("doc_id", "text")
    val docs = Seq(
      (1L, "intro words the quick brown fox jumps over something new"), // shares one 5-gram
      (2L, "completely disjoint training material about ships and seas"),
      (3L, "tiny doc")) // whole-doc shingle collides with bench 101
      .toDF("doc_id", "text")
    val byId = Dedup.contaminationReport(docs, bench, "text", 5)
      .select("doc_id", "n_hits", "n_ngrams", "overlap")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId.keySet == Set(1L, 3L))
    assert(byId(1L).getAs[Long]("n_hits") == 2L)
    assert(byId(1L).getAs[Int]("n_ngrams") == 6)
    assert(byId(3L).getAs[Double]("overlap") == 1.0)
    val clean = Dedup.decontaminate(docs, bench, "text", 5)
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(2L))
    // threshold form: only the fully-contained doc drops at maxOverlap 0.5
    val lax = Dedup.decontaminate(docs, bench, "text", 5, maxOverlap = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(lax == Set(1L, 2L))
  }

  test("DC3 Bloom-prefiltered decontamination is bit-identical to the exact path") {
    // No false negatives + exact verify on survivors => same report/corpus,
    // whatever the fpp. Includes a short doc (whole-doc shingle) and a
    // disjoint doc so both branches of the filter fire.
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "tiny doc"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (1L, "intro words the quick brown fox jumps over something new"),
      (2L, "completely disjoint training material about ships and seas"),
      (3L, "tiny doc"))
      .toDF("doc_id", "text")
    val exact = Dedup.contaminationReport(docs, bench, "text", 5)
      .orderBy("doc_id").collect().toSeq
    // tight filter (few expected items) and sloppy fpp: output must not move
    for (fpp <- Seq(0.01, 0.3)) {
      val got = Dedup.contaminationReportBloom(docs, bench, "text", 5,
        expectedGrams = 64, fpp = fpp).orderBy("doc_id").collect().toSeq
      assert(got == exact, s"bloom report diverged at fpp=$fpp")
    }
    val cleanExact = Dedup.decontaminate(docs, bench, "text", 5)
      .select("doc_id").as[Long].collect().toSet
    val cleanBloom = Dedup.decontaminateBloom(docs, bench, "text", 5)
      .select("doc_id").as[Long].collect().toSet
    assert(cleanBloom == cleanExact)
  }

  test("DD9 duplicate-span coverage: closed-form fixture, multiplicity counted") {
    // 3-token spans. doc 1: "a b c d e" -> spans {a b c, b c d, c d e};
    // doc 2 repeats "a b c" twice -> its span stream holds "a b c" at two
    // positions (multiplicity!) plus bridge spans; doc 3 is disjoint.
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "a b c a b c"),
      (3L, "x y z w"))
      .toDF("doc_id", "text")
    val got = Dedup.duplicateSpanCoverage(docs, "text", spanTokens = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_spans"), r.getAs[Long]("n_dup_spans"),
         r.getAs[Double]("dup_fraction"))).toMap
    // doc 2 spans: [a b c][b c a][c a b][a b c] -> "a b c" occurs 2x inside
    // doc 2 alone and once in doc 1 (3 total); bridge spans occur once each.
    assert(got(1L) == ((3, 1L, 0.3333)))  // only "a b c" is global-dup
    assert(got(2L) == ((4, 2L, 0.5)))     // both "a b c" positions count
    assert(got(3L) == ((2, 0L, 0.0)))     // x y z / y z w unique
    // within-doc repetition alone is enough to mark spans duplicated
    val solo = Dedup.duplicateSpanCoverage(
      Seq((7L, "p q r p q r")).toDF("doc_id", "text"), "text", 3)
      .collect().head
    assert(solo.getAs[Long]("n_dup_spans") == 2L) // the two "p q r" positions
    // the gate drops high-coverage docs, keeps the rest
    val kept = Dedup.dropDuplicateSpanDocs(docs, "text", spanTokens = 3,
      maxFraction = 0.4).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("DD3 MinHash LSH: identical docs collide in every band") {
    val docs = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"), (3L, "q r s t u v w x"))
      .toDF("doc_id", "text")
    val got = Dedup.minhashLshPairs(docs).as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)))
    assert(!got.contains((1L, 3L)) && !got.contains((2L, 3L)))
  }

  test("DD3 MinHash LSH: empty/whitespace docs never pair (null sigs dropped)") {
    val docs = Seq(
      (1L, ""), (2L, "   "), (3L, ""), (4L, "a b c d e f g h"),
      (5L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val got = Dedup.minhashLshPairs(docs).as[(Long, Long)].collect().toSet
    assert(got == Set((4L, 5L))) // no degenerate md5("") bucket pairs
  }

  test("DD14 lshDedupGreedy: min-id wins each dup group; empties kept") {
    val docs = Seq(
      (5L, "a b c d e f g h"), (1L, "a b c d e f g h"), // dups: keep 1
      (3L, "a b c d e f g h"),                          // third copy: dropped
      (7L, "q r s t u v w x"),                          // unrelated: kept
      (8L, ""), (9L, "   "), (10L, null.asInstanceOf[String])) // no sig: kept
      .toDF("doc_id", "text")
    val kept = Dedup.lshDedupGreedy(docs)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 7L, 8L, 9L, 10L))
  }

  test("DD14 lshDedupGreedy: layout-independent kept set") {
    val docs = Seq(
      (5L, "a b c d e f g h"), (1L, "a b c d e f g h"),
      (7L, "q r s t u v w x"), (2L, "i j k l m n o p"))
      .toDF("doc_id", "text")
    val k1 = Dedup.lshDedupGreedy(docs.repartition(7))
      .select("doc_id").as[Long].collect().sorted.toSeq
    val k2 = Dedup.lshDedupGreedy(docs.coalesce(1))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(k1 == k2)
  }

  test("DD14 lshDedupGreedy: over-cap buckets are kept wholesale, not dropped") {
    val docs = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"), (3L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    // cap below the bucket size: dedup on that bucket is SKIPPED (keep all)
    val capped = Dedup.lshDedupGreedy(docs, maxBucketSize = Some(2))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(capped == Seq(1L, 2L, 3L))
    // cap at the bucket size: the greedy rule applies
    val exact = Dedup.lshDedupGreedy(docs, maxBucketSize = Some(3))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(exact == Seq(1L))
  }

  test("DD5 SimHash: identical docs at Hamming 0; unrelated docs filtered") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "entirely different vocabulary about spark catalyst tungsten shuffles"))
      .toDF("doc_id", "text")
    val got = Dedup.simhashPairs(docs).select("doc_a", "doc_b", "hamming")
      .as[(Long, Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 2L, 0L)))
  }

  test("DD7 connectedComponents: multi-hop chains collapse to min id (both paths)") {
    // two components: {1,2,3,9} via a chain (3 hops), {5,6}; 7-8 pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 6L), (8L, 7L))
      .toDF("doc_a", "doc_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L)
    // driver union-find fast path (default threshold)
    assert(Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap == want)
    // distributed pointer-jumping loop (fast path disabled)
    assert(Dedup.connectedComponents(pairs, smallGraphEdges = 0)
      .as[(Long, Long)].collect().toMap == want)
  }

  test("DD7 driver union-find fast path == distributed loop on a mixed graph") {
    val rng = new scala.util.Random(7)
    val pairs = (1 to 60)
      .map(_ => (rng.nextInt(40).toLong, rng.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
      .toDF("doc_a", "doc_b")
    val fast = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(pairs, smallGraphEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(fast == dist && fast.nonEmpty)
  }

  test("S1b docsFromJsonl: malformed lines dropped, valid rows kept") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl_").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "part.jsonl"),
      """{"doc_id": 1, "text": "good one"}
        |not json at all {{{
        |{"doc_id": 2, "text": "good two", "extra": "ignored"}
        |""".stripMargin)
    val got = graft.operators.CorpusOps.docsFromJsonl(spark, dir)
      .as[(Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "good one"), (2L, "good two")))
  }

  test("curation gate drops null/blank text rows instead of crashing") {
    val docs = Seq(
      (1L, "the cat and the dog sat in the warm sun while the birds fly"),
      (2L, null.asInstanceOf[String]),
      (3L, "   "))
      .toDF("doc_id", "text")
    val kept = graft.operators.Curation.gate(docs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L))
  }

  test("compactParquet: many small files become size-targeted few, data intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_").toString
    spark.range(0, 1000).selectExpr("id AS doc_id", "repeat('x', 50) AS text")
      .repartition(20).write.parquet(s"$dir/in")
    assert(new java.io.File(s"$dir/in").listFiles()
      .count(_.getName.endsWith(".parquet")) == 20)
    graft.operators.CorpusOps.compactParquet(spark, s"$dir/in", s"$dir/out")
    assert(new java.io.File(s"$dir/out").listFiles()
      .count(_.getName.endsWith(".parquet")) == 1) // tiny table -> one file
    assert(spark.read.parquet(s"$dir/out").count() == 1000)
    assert(spark.read.parquet(s"$dir/out").agg(sum(length(col("text"))))
      .head().getLong(0) == 50000L)
  }

  test("DD8 dedupedCorpus: keeps one min-id row per distinct text") {
    val docs = Seq((3L, "same"), (1L, "same"), (2L, "other"))
      .toDF("doc_id", "text")
    val got = Dedup.dedupedCorpus(docs).as[(Long, String)].collect().toSet
    assert(got == Set((1L, "same"), (2L, "other")))
  }

  test("DD6 embedding-cosine pairs: duplicate vectors pair at 1.0, orthogonal absent") {
    val emb = Seq(
      (1L, Array(1f, 0f)), (2L, Array(1f, 0f)), (3L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Dedup.embeddingCosinePairs(emb, 0.9)
      .select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect()
    assert(got.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("SS1 brute-force top-k ranks by cosine with deterministic ties") {
    val corpus = Seq(
      (10L, Array(1f, 0f)), (11L, Array(0.9f, 0.1f)), (12L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val queries = Seq((1L, Array(1f, 0f))).toDF("query_id", "embedding")
    val got = Similarity.bruteForceTopK(corpus, queries, 2)
      .select("vec_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(got.toSeq == Seq((10L, 1), (11L, 2))) // exact match first
  }

  test("SS2 LSH top-k: self-similar corpus finds the exact duplicate vector") {
    val vecs = (0 until 20).map { i =>
      val v = Array.fill(8)(0f); v(i % 8) = 1f; (i.toLong, v)
    }
    val corpus = vecs.toDF("vec_id", "embedding")
    val queries = Seq((100L, { val v = Array.fill(8)(0f); v(0) = 1f; v }))
      .toDF("query_id", "embedding")
    val got = Similarity.lshTopK(corpus, queries, 3, 8, tables = 4, planes = 4)
      .select("vec_id", "cosine").as[(Long, Double)].collect()
    assert(got.nonEmpty)
    assert(got.forall(_._2 >= 0.0 - 1e-9))
    assert(got.maxBy(_._2)._2 == 1.0) // an identical direction is in some bucket
  }

  test("SS3 IVF top-k: finds the identical vector; probes limit the scan") {
    val vecs = (0 until 24).map { i =>
      val v = Array.fill(8)(0f); v(i % 8) = 1f; (i.toLong, v)
    }
    val corpus = vecs.toDF("vec_id", "embedding")
    val queries = Seq((100L, { val v = Array.fill(8)(0f); v(0) = 1f; v }))
      .toDF("query_id", "embedding")
    val got = Similarity.ivfTopK(corpus, queries, 3, 8, nCells = 4, nProbe = 2)
      .select("vec_id", "cosine", "rank").as[(Long, Double, Int)].collect()
    assert(got.nonEmpty && got.length <= 3)
    assert(got.maxBy(_._2)._2 == 1.0) // the identical direction is found
    assert(got.map(_._3).sorted.sameElements(1 to got.length))
  }

  test("SS7 IVF index lifecycle: save/load round trip serves identical results") {
    val vecs = (0 until 24).map { i =>
      val v = Array.fill(8)(0f); v(i % 8) = 1f; v(7 - i % 8) += 0.25f * (i % 3)
      (i.toLong, v)
    }
    val corpus = vecs.toDF("vec_id", "embedding")
    val queries = Seq((100L, { val v = Array.fill(8)(0f); v(0) = 1f; v }),
      (101L, { val v = Array.fill(8)(0.5f); v }))
      .toDF("query_id", "embedding")
    val (cells, cs) = Similarity.buildIvfIndex(corpus, nCells = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    Similarity.saveIvfIndex(cells, cs, dir)
    val (cells2, cs2) = Similarity.loadIvfIndex(spark, dir)
    // the centroid model survives byte-for-byte (float parquet exactness)
    assert(cs2.length == cs.length)
    assert(cs.zip(cs2).forall { case (a, b) => a.sameElements(b) })
    val fresh = Similarity.ivfSearch(cells, cs, queries, 3, 2)
      .select("query_id", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    val served = Similarity.ivfSearch(cells2, cs2, queries, 3, 2)
      .select("query_id", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(fresh.nonEmpty && fresh.toSeq == served.toSeq)
    // and the composed path equals the one-shot operator
    val oneShot = Similarity.ivfTopK(corpus, queries, 3, 8, nCells = 4,
        nProbe = 2)
      .select("query_id", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(oneShot.toSeq == fresh.toSeq)
  }

  test("SS7b ivfAppend: appended index == one-shot index under frozen model") {
    val vecs = (0 until 24).map { i =>
      val v = Array.fill(8)(0f); v(i % 8) = 1f; v(7 - i % 8) += 0.25f * (i % 3)
      (i.toLong, v)
    }
    val corpus = vecs.toDF("vec_id", "embedding")
    val queries = Seq((100L, { val v = Array.fill(8)(0f); v(0) = 1f; v }),
      (101L, { val v = Array.fill(8)(0.5f); v }))
      .toDF("query_id", "embedding")
    val old = corpus.filter($"vec_id" < 12)
    val batch = corpus.filter($"vec_id" >= 12)
    val (oldCells, cs) = Similarity.buildIvfIndex(old, nCells = 4)
    val appended = Similarity.ivfAppend(oldCells, cs, batch)
    // every new vector landed in the file, assigned like the one-shot
    val oneShot = Similarity.ivfAssign(corpus, cs)
    assert(appended.count() == 24)
    val aCells = appended.select("vec_id", "cell").as[(Long, Int)]
      .collect().toMap
    val oCells = oneShot.select("vec_id", "cell").as[(Long, Int)]
      .collect().toMap
    assert(aCells == oCells)
    // served results identical
    val a = Similarity.ivfSearch(appended, cs, queries, 3, 2)
      .select("query_id", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    val b = Similarity.ivfSearch(oneShot, cs, queries, 3, 2)
      .select("query_id", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(a.nonEmpty && a.toSeq == b.toSeq)
    // new-batch vectors are actually retrievable (not just stored)
    val qNew = Seq((200L, vecs(23)._2)).toDF("query_id", "embedding")
    val hits = Similarity.ivfSearch(appended, cs, qNew, 3, 4)
      .select("vec_id").as[Long].collect().toSet
    assert(hits.contains(23L))
  }

  test("DC4 spanDecontaminate: surgical span cut, clean docs untouched") {
    val leak = "the quick brown fox jumps" // a 5-gram benchmark sentence
    val docs = Seq(
      // doc 1: leak embedded mid-text — ONLY its 5 tokens drop
      (1L, s"alpha beta gamma $leak delta epsilon zeta eta"),
      // doc 2: clean — passes through byte-identical (single-space text)
      (2L, "one two three four five six"),
      // doc 3: the doc IS the leak — everything drops
      (3L, leak),
      // doc 4: leak with different CASE — matching is case-insensitive
      (4L, s"intro words here THE QUICK BROWN FOX JUMPS outro tail words"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, leak)).toDF("doc_id", "text")
    val got = Dedup.spanDecontaminate(docs, bench, "text", 5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_removed")))).toMap
    assert(got(1L) == (("alpha beta gamma delta epsilon zeta eta", 12L, 5L)))
    assert(got(2L) == (("one two three four five six", 6L, 0L)))
    assert(got(3L) == (("", 5L, 5L)))
    assert(got(4L) == (("intro words here outro tail words", 11L, 5L)))
    // overlapping hits: two adjacent leaked grams cover a 6-token span
    val docs2 = Seq((1L, "x y the quick brown fox jumps high z"))
      .toDF("doc_id", "text")
    val bench2 = Seq((100L, "the quick brown fox jumps high and more"))
      .toDF("doc_id", "text")
    val got2 = Dedup.spanDecontaminate(docs2, bench2, "text", 5)
      .collect().map(r => (r.getAs[String]("clean_text"),
        r.getAs[Long]("n_removed"))).head
    assert(got2 == (("x y z", 6L))) // union of the two grams' spans
    // whitespace-hostile shapes (the DuckDB-trim pitfall the oracle's
    // list_filter guards): tabs/newline-only and null docs are 0-token,
    // leading/trailing tabs and newlines add no phantom '' tokens
    val docs3 = Seq((1L, "\t\n"), (2L, "\t one two \n"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got3 = Dedup.spanDecontaminate(docs3, bench, "text", 5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_removed")))).toMap
    assert(got3(1L) == (("", 0L, 0L)))
    assert(got3(2L) == (("one two", 2L, 0L)))
    assert(got3(3L) == (("", 0L, 0L)))
  }

  test("DD12 spanSelfDedup: min-doc keeper keeps, every other copy cut") {
    val span = "shared exact span of words" // a 5-gram copied across docs
    val docs = Seq(
      // doc 1 holds the canonical copy (min doc_id) — untouched
      (1L, s"alpha beta $span gamma delta"),
      // doc 2 copied it — exactly those 5 tokens drop
      (2L, s"one two three $span four five"),
      // doc 3: the doc IS the copy (different case) — empties out
      (3L, "SHARED EXACT SPAN OF WORDS"),
      // doc 4: unique text, untouched
      (4L, "completely unrelated tokens here now yes"),
      // doc 5: repeats ITSELF but no second doc shares it — untouched
      // (self-repetition is ta8's job, not dedup's)
      (5L, "solo solo solo solo solo solo solo solo solo solo"))
      .toDF("doc_id", "text")
    val got = Dedup.spanSelfDedup(docs, "text", 5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_removed")))).toMap
    assert(got(1L) == ((s"alpha beta $span gamma delta", 9L, 0L)))
    assert(got(2L) == (("one two three four five", 10L, 5L)))
    assert(got(3L) == (("", 5L, 5L)))
    assert(got(4L) == (("completely unrelated tokens here now yes", 6L, 0L)))
    assert(got(5L)._3 == 0L)
    // three-way copy: doc 10 keeps, 11 and 12 both lose the span
    val tri = Seq(
      (10L, s"$span x1 x2"), (11L, s"y1 $span y2"), (12L, s"z1 z2 $span"))
      .toDF("doc_id", "text")
    val got3 = Dedup.spanSelfDedup(tri, "text", 5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("n_removed")).toMap
    assert(got3 == Map(10L -> 0L, 11L -> 5L, 12L -> 5L))
  }

  test("lshGeometry: s-curve thresholds, known operating points, validity") {
    // 24 hashes: thresholds (1/b)^(1/r) for (24,1)..(1,24) span 0.04..1.0
    assert(Dedup.lshGeometry(0.8, 24) == ((4, 6)))   // (1/4)^(1/6) = 0.794
    assert(Dedup.lshGeometry(0.64, 24) == ((6, 4)))  // dd4c's sharp point
    assert(Dedup.lshGeometry(0.5, 24) == ((8, 3)))   // (1/8)^(1/3) = 0.5
    // lower target -> more bands (higher recall per band)
    val (bLo, _) = Dedup.lshGeometry(0.2, 24)
    val (bHi, _) = Dedup.lshGeometry(0.9, 24)
    assert(bLo > bHi)
    // always a valid factorization
    for (t <- Seq(0.1, 0.3, 0.5, 0.7, 0.9); n <- Seq(8, 16, 24, 128)) {
      val (b, r) = Dedup.lshGeometry(t, n)
      assert(b * r == n && b >= 1 && r >= 1)
    }
  }

  test("DD6b LSH-prefiltered embedding pairs: identical vectors always pair") {
    val base = Array.fill(8)(0.5f)
    val vecs = Seq((1L, base), (2L, base),
      (3L, { val v = Array.fill(8)(0f); v(1) = -1f; v }))
    val emb = vecs.toDF("vec_id", "embedding")
    val got = Dedup.embeddingCosinePairsLsh(emb, 0.9, 8, tables = 4, planes = 3)
      .select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect()
    // identical vectors share every bucket in every table -> must pair
    assert(got.exists { case (a, b, c) => a == 1L && b == 2L && c == 1.0 })
    assert(!got.exists { case (a, b, _) => b == 3L || a == 3L })
  }

  test("DD7 pointer jumping: a path graph far longer than log-rounds converges exactly") {
    // diameter 80 would need 80 neighbor-propagation rounds; pointer
    // jumping needs ~log2(80)+2 ~ 9 — and must label every vertex 0
    val edges = (0L until 80L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // smallGraphEdges = 0 forces the distributed loop — the subject here
    val labels = Dedup.connectedComponents(edges, smallGraphEdges = 0).collect()
    assert(labels.length == 81)
    assert(labels.forall(_.getLong(1) == 0L))
  }

  test("S3 parseTree: recursive JSON to pre-order adjacency rows") {
    val json =
      """{"type":"Document","text":"root","children":[
        |  {"type":"Header","text":"h1","children":[
        |    {"type":"Paragraph","text":"p1"},{"type":"Paragraph","text":"p2"}]},
        |  {"type":"Header","text":"h2","children":[{"type":"Paragraph","text":"p3"}]}
        |]}""".stripMargin
    val jsons = Seq((7L, json)).toDF("doc_id", "json")
    val nodes = TreeOps.fromJsonStrings(spark, jsons).collect()
      .map(r => (r.getAs[Long]("node_id"), r.getAs[Long]("parent_id"),
        r.getAs[Int]("depth"), r.getAs[String]("node_type"), r.getAs[String]("text")))
      .sortBy(_._1)
    assert(nodes.length == 6)
    assert(nodes(0) == (0L, -1L, 0, "Document", "root"))
    assert(nodes(1) == (1L, 0L, 1, "Header", "h1"))
    assert(nodes(2) == (2L, 1L, 2, "Paragraph", "p1"))
    assert(nodes(5) == (5L, 4L, 2, "Paragraph", "p3"))
  }

  test("S3 chunkTreeJson round-trip: escaping-hostile text survives, ids are closed-form") {
    // quotes, backslashes, control chars — Jackson must escape losslessly
    val hostile = "a\"b \\c\t d\ne f g h i j k l m n o p q r s t u v w x y z aa bb cc dd ee ff gg hh"
    val docs = Seq((5L, hostile)).toDF("doc_id", "text")
    val nodes = TreeOps.fromJsonStrings(spark,
        TreeOps.chunkTreeJson(docs, 16, 2, 3)).collect()
      .map(r => (r.getAs[Long]("node_id"), r.getAs[Long]("parent_id"),
        r.getAs[Int]("depth"), r.getAs[String]("node_type"), r.getAs[String]("text")))
      .sortBy(_._1)
    // 33 ws tokens at size 16 / stride 14 -> chunks at k=0,1,2 -> one
    // section of 3 -> 1 root + 1 header + 3 paragraphs
    assert(nodes.length == 5)
    assert(nodes(0) == ((0L, -1L, 0, "Document", "doc_5")))
    assert(nodes(1)._4 == "Header" && nodes(1)._1 == 1L && nodes(1)._2 == 0L)
    // paragraph ids 2+4*si+pi; chunk 0 text is the first 16 ws-tokens with
    // the tab/newline collapsed to single spaces by tokenization
    assert(nodes(2)._1 == 2L && nodes(2)._2 == 1L)
    assert(nodes(2)._5.startsWith("a\"b \\c d e f"))
    assert(nodes(4)._1 == 4L)
    // a doc with 4 sections: header ids are 1+4*si
    val many = Seq((9L, (1 to 150).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val hdrs = TreeOps.fromJsonStrings(spark, TreeOps.chunkTreeJson(many, 16, 2, 3))
      .where($"node_type" === "Header").collect()
      .map(r => (r.getAs[Long]("node_id"), r.getAs[Int]("ord"))).sorted
    assert(hdrs.forall { case (id, si) => id == 1L + 4L * si })
  }

  test("TreeOps.synthesize: one header per sentence group, paragraphs per sentence") {
    val docs = Seq((1L, "s1. s2. s3. s4.")).toDF("doc_id", "text")
    val nodes = TreeOps.synthesize(docs, sentencesPerSection = 2).collect()
    assert(nodes.count(_.getAs[String]("node_type") == "Document") == 1)
    assert(nodes.count(_.getAs[String]("node_type") == "Header") == 2)
    assert(nodes.count(_.getAs[String]("node_type") == "Paragraph") == 4)
  }

  test("G1b salted concat equals the direct ordered concat") {
    // 30 chunks per doc, deliberately shuffled; segSize 4 forces 8 segments
    val rows = for (d <- 1L to 3L; i <- (0 until 30).reverse)
      yield (d, 0, i, s"c$d-$i", 2L)
    val binned = rows.toDF("doc_id", "bin", "chunk_idx", "text", "n_tokens")
    val direct = CorpusOps.concatBins(binned)
      .select("doc_id", "text", "n_tokens_in", "first_chunk_idx")
      .as[(Long, String, Long, Int)].collect().toSet
    val salted = CorpusOps.concatBinsSalted(binned, segSize = 4)
      .select("doc_id", "text", "n_tokens_in", "first_chunk_idx")
      .as[(Long, String, Long, Int)].collect().toSet
    assert(salted == direct)
  }

  test("DD3 hot-bucket cap drops candidates from oversized buckets") {
    val docs = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"), (3L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.minhashLshPairs(docs).as[(Long, Long)].collect().toSet
    assert(uncapped == Set((1L, 2L), (1L, 3L), (2L, 3L))) // 3-member buckets
    val capped = Dedup.minhashLshPairs(docs, maxBucketSize = Some(2))
      .as[(Long, Long)].collect().toSet
    assert(capped.isEmpty) // every bucket holds all 3 docs -> dropped
  }

  test("TA5 vocabStats: distinct tokens, occurrences, TTR") {
    val docs = Seq((1L, "a b a"), (2L, "b c")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.vocabStats(docs)
      .as[(Long, Long, Double)].collect().head
    assert(got == ((3L, 5L, 0.6))) // vocab {a,b,c}, 5 occurrences
  }

  test("TA15 heavyHitters: exact counts, strict threshold, layout-independent") {
    // 100 tokens total: "hot" x30, "warm" x10, "edge" x5 (exactly n/k at
    // k=20 -> strict > excludes it), 55 singletons
    val words = Seq.fill(30)("hot") ++ Seq.fill(10)("warm") ++
      Seq.fill(5)("edge") ++ (0 until 55).map(i => s"rare$i")
    val docs = words.grouped(10).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.heavyHitters(docs, k = 20)
      .select("token", "cnt").as[(String, Long)].collect().toMap
    assert(got == Map("hot" -> 30L, "warm" -> 10L)) // edge: 5*20 == 100, not >
    val relaid = graft.operators.TextAnalysis
      .heavyHitters(docs.repartition(7), k = 20)
      .select("token", "cnt").as[(String, Long)].collect().toMap
    assert(relaid == got)
    // k=2 (count > 50%) finds nothing here
    assert(graft.operators.TextAnalysis.heavyHitters(docs, k = 2).count() == 0)
  }

  test("TA6 topNgrams: corpus-frequency top-k with deterministic ties") {
    val docs = Seq(
      (1L, "x y z x y z"), // "x y z" twice, "y z x" once, "z x y" once
      (2L, "x y z"), (3L, "ab")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.topNgrams(docs, 3, 3)
      .as[(String, Long)].collect().toSeq
    assert(got.head == (("x y z", 3L)))
    assert(got.tail.toSet == Set(("y z x", 1L), ("z x y", 1L))) // asc tie shown
    assert(got.tail.map(_._1) == got.tail.map(_._1).sorted)
  }

  test("TA4 fingerprint: whitespace-insensitive, content-sensitive") {
    val docs = Seq(
      (1L, "hello   world\n foo"), (2L, "hello world foo"),
      (3L, "hello world bar")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.fingerprint(docs)
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == got(2L)) // same token stream -> same hash
    assert(got(1L) != got(3L)) // different content -> different hash
  }

  test("S14 snapshot commit: versions, time travel, torn publish, tamper detection") {
    import graft.operators.Sinks
    val root = java.nio.file.Files.createTempDirectory("s14spec_")
      .resolve("snap").toString
    val t0 = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val t1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val e0 = Seq(10L, 11L).toDF("vec_id")
    assert(Sinks.publishSnapshot(
      Map("docs" -> (t0, "doc_id"), "emb" -> (e0, "vec_id")), root) == 0L)
    assert(Sinks.publishSnapshot(
      Map("docs" -> (t1, "doc_id"), "emb" -> (e0, "vec_id")), root) == 1L)
    // latest reads the v1 state; v0 stays readable (time travel)
    assert(Sinks.readSnapshot(spark, root)("docs").count() == 3)
    assert(Sinks.readSnapshot(spark, root, Some(0L))("docs").count() == 2)
    // torn publish: a table dir landed, commit/pointer never written —
    // the reader stays on v1 as if nothing happened
    t0.write.parquet(s"$root/docs/v=2")
    assert(Sinks.currentVersion(root).contains(1L))
    assert(Sinks.readSnapshot(spark, root)("docs").count() == 3)
    // tamper: swap v1's docs data for a short file — the validating
    // reader must fail loudly, not return short data (the committed
    // attempt dir is nonce-named; resolve it from the commit file)
    val commit1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/_commits/1.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    val docsPath = "\"path\":\"(docs/v=[^\"]+)\"".r
      .findFirstMatchIn(commit1).get.group(1)
    val v1dir = java.nio.file.Paths.get(s"$root/$docsPath")
    val s = java.nio.file.Files.walk(v1dir)
    try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally s.close()
    t0.write.parquet(v1dir.toString)
    val ex = intercept[Exception](Sinks.readSnapshot(spark, root))
    assert(ex.getMessage.contains("does not match its commit"))
    // time travel to v0 still validates (untouched)
    assert(Sinks.readSnapshot(spark, root, Some(0L))("emb").count() == 2)
  }

  test("S14 publish race: commit move is the arbiter; loser loud, winner intact") {
    import graft.operators.Sinks
    val root = java.nio.file.Files.createTempDirectory("s14race_")
      .resolve("snap").toString
    val t0 = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    Sinks.publishSnapshot(Map("docs" -> (t0, "doc_id")), root) // v0
    // publisher A wins version 1 outright
    val tA = Seq((1L, "a"), (2L, "b"), (3L, "A")).toDF("doc_id", "text")
    assert(Sinks.publishSnapshot(Map("docs" -> (tA, "doc_id")), root) == 1L)
    // publisher B raced A from base v0: replay B's steps AFTER its stale
    // version computation (the exact tail of publishSnapshot) — stage and
    // rename its OWN attempt dir (no collision with A's by nonce
    // construction), then lose the create-exclusive commit link. (An
    // ATOMIC_MOVE here would SILENTLY REPLACE A's commit — rename(2)
    // overwrites existing files — which is exactly why the arbiter is
    // link(2); this spec found that.)
    val tB = Seq((9L, "B")).toDF("doc_id", "text")
    val bAttempt = java.nio.file.Paths.get(s"$root/docs/v=1-b0b0b0b0")
    tB.write.parquet(s"$bAttempt.staging")
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$bAttempt.staging"),
      bAttempt, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val cTmp = java.nio.file.Paths.get(s"$root/_commits/1.json.tmp-b0b0")
    java.nio.file.Files.write(cTmp,
      """{"version":1,"tables":{"docs":{"n_rows":1,"key_xor":0,"key_col":"doc_id","path":"docs/v=1-b0b0b0b0"}}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    intercept[java.nio.file.FileAlreadyExistsException] {
      try java.nio.file.Files.createLink(
        java.nio.file.Paths.get(s"$root/_commits/1.json"), cTmp)
      finally java.nio.file.Files.deleteIfExists(cTmp)
    }
    // pointer and committed state untouched by the loser; winner validates
    assert(Sinks.currentVersion(root).contains(1L))
    assert(Sinks.readSnapshot(spark, root)("docs").count() == 3)
    // the loser's orphan is inert garbage, and vacuum reclaims exactly it
    val swept = Sinks.vacuumUncommitted(root)
    assert(swept == Seq("docs/v=1-b0b0b0b0"), s"swept: $swept")
    assert(Sinks.readSnapshot(spark, root)("docs").count() == 3)
    assert(Sinks.readSnapshot(spark, root, Some(0L))("docs").count() == 2)
  }

  test("S14 crash recovery: orphan dirs never wedge, committed-no-pointer never reused") {
    import graft.operators.Sinks
    val root = java.nio.file.Files.createTempDirectory("s14crash_")
      .resolve("snap").toString
    val t0 = Seq((1L, "a")).toDF("doc_id", "text")
    Sinks.publishSnapshot(Map("docs" -> (t0, "doc_id")), root) // v0
    // crash A: an attempt dir for v1 landed, no commit, no pointer —
    // the r11-advice wedge scenario
    t0.write.parquet(s"$root/docs/v=1-deadcafe")
    // retry publishes v1 cleanly (unique attempt dir, no ATOMIC_MOVE
    // collision possible)
    val t1 = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(Sinks.publishSnapshot(Map("docs" -> (t1, "doc_id")), root) == 1L)
    assert(Sinks.readSnapshot(spark, root)("docs").count() == 2)
    // crash B: commit file landed but the pointer swap never ran —
    // the next publish must go PAST the committed pointer-less version
    val c2 = java.nio.file.Paths.get(s"$root/_commits/2.json")
    val commit1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/_commits/1.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    java.nio.file.Files.write(c2, commit1.replace("\"version\":1",
      "\"version\":2").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(Sinks.currentVersion(root).contains(1L))
    val t3 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    assert(Sinks.publishSnapshot(Map("docs" -> (t3, "doc_id")), root) == 3L)
    assert(Sinks.currentVersion(root).contains(3L))
    assert(Sinks.readSnapshot(spark, root)("docs").count() == 3)
    // the orphaned commit 2 stays readable via time travel (it shares
    // v1's intact data dir here)
    assert(Sinks.readSnapshot(spark, root, Some(2L))("docs").count() == 2)
    // vacuum sweeps only the crashed attempt dir, never committed data
    val swept = Sinks.vacuumUncommitted(root)
    assert(swept == Seq("docs/v=1-deadcafe"), s"swept: $swept")
    assert(Sinks.readSnapshot(spark, root)("docs").count() == 3)
  }

  test("S15 CDC apply: last-write-wins, idempotent replay, missing-key delete") {
    import graft.operators.Sinks
    val base = Seq((1L, "one"), (2L, "two"), (3L, "three"))
      .toDF("doc_id", "text")
    val ch = Seq(
      (2L, "two-v2", "update", 1L), (2L, "", "delete", 2L), // delete wins
      (3L, "three-v2", "update", 5L), (3L, "three-v1", "update", 1L),
      (4L, "four", "insert", 1L), // new key
      (9L, "", "delete", 1L) // delete of a key base never had: no-op
    ).toDF("doc_id", "text", "op", "seq")
    val got = Sinks.applyChangelog(base, ch)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "one", 3L -> "three-v2", 4L -> "four"))
    // idempotent replay: applying the same changelog to the result is a
    // fixed point (inserts become updates of the same payload)
    val again = Sinks.applyChangelog(
      Sinks.applyChangelog(base, ch), ch)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(again == got)
    // same-seq tie resolves by op DESC (update > insert > delete) —
    // deterministic everywhere even on a malformed duplicate seq
    val tie = Seq((7L, "up", "update", 1L), (7L, "", "delete", 1L))
      .toDF("doc_id", "text", "op", "seq")
    val t = Sinks.applyChangelog(base.limit(0), tie)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(t == Map(7L -> "up"))
    // FULL duplicate (key, seq, op) with differing payloads: the payload-
    // hash tiebreak makes the winner a pure function of the rows — same
    // result under any partitioning / input order (r11 advice: before it,
    // row_number picked whichever duplicate the shuffle delivered first)
    val dup = Seq((8L, "pay-a", "update", 3L), (8L, "pay-b", "update", 3L),
      (8L, "pay-c", "update", 3L)).toDF("doc_id", "text", "op", "seq")
    val winners = (0 until 4).map { i =>
      Sinks.applyChangelog(base.limit(0),
          dup.orderBy(if (i % 2 == 0) col("text").asc else col("text").desc)
            .repartition(i + 1))
        .select("text").as[String].collect().toSeq
    }
    assert(winners.forall(_ == winners.head), s"winners: $winners")
    assert(winners.head.length == 1)
  }

  test("TA15b CMS: est >= exact always, collisions overcount, narrow sketch still ranks") {
    // 40 distinct tokens into a WIDTH-8 sketch forces collisions
    val rnd = new java.util.Random(11)
    val vocab = (0 until 40).map(i => s"tk$i")
    val docs = (0L until 50L).map { i =>
      (i, Array.fill(40)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }.toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .heavyHittersCms(docs, depth = 4, width = 16, minExact = 1)
      .select(col("token"), col("est"), col("exact"), col("overcount"))
      .as[(String, Long, Long, Long)].collect()
    assert(got.length == 40)
    got.foreach { case (t, est, exact, over) =>
      assert(est >= exact && over == est - exact, s"$t: $est vs $exact")
    }
    // 40 keys over 16 cells (x4 rows) MUST collide somewhere
    assert(got.exists(_._4 > 0), "width-16 sketch with 40 keys never collided?")
    // determinism under repartitioning (hash-agg + min are order-free)
    val again = graft.operators.TextAnalysis
      .heavyHittersCms(docs.repartition(9), depth = 4, width = 16, minExact = 1)
      .select(col("token"), col("est"), col("exact"), col("overcount"))
      .as[(String, Long, Long, Long)].collect()
    assert(again.sortBy(_._1).toSeq == got.sortBy(_._1).toSeq)
  }

  test("TA20 shardDrift: corrupted shard flags, clean shards under it, layout-free") {
    // ten shards drawing from one vocabulary, ONE with an injected
    // off-distribution suffix. Many shards matter: with very few, the
    // corrupted shard drags the CORPUS profile toward itself and the
    // clean shards inherit the divergence (measured: at 3 shards the
    // clean ones scored higher) — exactly why the monitor is a per-shard
    // vs-whole comparison, fleet-sized like a real ingest.
    val rnd = new java.util.Random(7)
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docs = (0L until 300L).map { i =>
      val base = Array.fill(30)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      val shard = s"s${i % 10}"
      val text = if (i % 10 == 9) s"$base spamspam casino casino casino" else base
      (i, shard, text)
    }.toDF("doc_id", "source", "text")
    val got = graft.operators.TextAnalysis.shardDrift(docs, jsThreshold = 0.01)
      .select(col("shard"), col("js"), col("tv"), col("drifted"))
      .as[(String, Double, Double, Int)].collect().sortBy(_._1)
    val byShard = got.map(r => r._1 -> r).toMap
    assert(byShard("s9")._4 == 1, s"corrupted shard not flagged: ${got.toSeq}")
    (0 to 8).foreach(k => assert(byShard(s"s$k")._4 == 0, got.toSeq))
    assert(byShard("s9")._2 >
      4 * (0 to 8).map(k => byShard(s"s$k")._2).max)
    got.foreach(r => assert(r._2 >= 0 && r._2 <= math.log(2.0) + 1e-6 &&
      r._3 >= 0 && r._3 <= 1.0))
    // a shard whose docs are ALL token-less must SURFACE as drifted,
    // not vanish from the report (the empty/corrupt-shard alarm)
    val er = graft.operators.TextAnalysis.shardDrift(
      Seq((1L, "ok", "alpha beta gamma"), (2L, "sE", "   "), (3L, "sE", ""))
        .toDF("doc_id", "source", "text"), jsThreshold = 0.01)
      .select(col("shard"), col("n_tokens"), col("drifted"))
      .as[(String, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(er("sE") == ((0L, 1)), s"empty shard: $er")
    assert(er.contains("ok"))
    // partition-order determinism (the exactSum contract)
    val again = graft.operators.TextAnalysis
      .shardDrift(docs.repartition(13), jsThreshold = 0.01)
      .select(col("shard"), col("js"), col("tv"), col("drifted"))
      .as[(String, Double, Double, Int)].collect().sortBy(_._1)
    assert(again.toSeq == got.toSeq)
  }

  test("publishSnapshotStaged: a FAILED publish restores already-staged sources") {
    import graft.operators.Sinks
    val root = java.nio.file.Files.createTempDirectory("graft_stgfail_").toString
    val srcA = s"$root/src_a"
    (1L to 20L).toDF("doc_id").write.parquet(srcA)
    // table names stage in sorted order: a_ok moves (and renames into its
    // attempt dir) BEFORE b_missing's stage throws — the restore must
    // bring a_ok's bytes back to srcA from the attempt dir
    val ex = intercept[Exception] {
      Sinks.publishSnapshotStaged(Map(
        "a_ok" -> ((srcA, "doc_id")),
        "b_missing" -> ((s"$root/nope", "doc_id"))), s"$root/snap", spark)
    }
    assert(ex.isInstanceOf[java.io.IOException] ||
      ex.getCause.isInstanceOf[java.io.IOException], s"got: $ex")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(srcA)),
      "staged source must be restored after a failed publish")
    assert(spark.read.parquet(srcA).count() == 20L)
    // nothing committed
    assert(Sinks.currentVersion(s"$root/snap").isEmpty)
    // and the restored source publishes cleanly on retry
    val v = Sinks.publishSnapshotStaged(
      Map("a_ok" -> ((srcA, "doc_id"))), s"$root/snap", spark)
    assert(v == 0L)
    assert(Sinks.readSnapshot(spark, s"$root/snap")("a_ok").count() == 20L)
  }

  test("publishSnapshotStaged: manifest-read failure restores from the .staging slot") {
    import graft.operators.Sinks
    val root = java.nio.file.Files.createTempDirectory("graft_stgbad_").toString
    // a staged dir Spark cannot read as parquet (garbage bytes): the
    // manifest aggregate throws BETWEEN the stage move and the attempt
    // rename, so the restore path runs from the .staging slot
    val srcBad = java.nio.file.Paths.get(s"$root/src_bad")
    java.nio.file.Files.createDirectories(srcBad)
    java.nio.file.Files.write(srcBad.resolve("junk.parquet"),
      Array[Byte](1, 2, 3, 4))
    intercept[Exception] {
      Sinks.publishSnapshotStaged(Map(
        "bad" -> ((srcBad.toString, "doc_id"))), s"$root/snap", spark)
    }
    assert(java.nio.file.Files.exists(srcBad.resolve("junk.parquet")),
      "source bytes must be back in srcDir after the failed manifest read")
    assert(Sinks.currentVersion(s"$root/snap").isEmpty)
  }

  test("detectUnclustered: adaptive cutoff — small Hilbert tables are never flagged wholesale") {
    import graft.operators.{FileSkipping, ZOrder}
    val root = java.nio.file.Files.createTempDirectory("graft_detect_").toString
    val n = 4096
    val rows = Seq.tabulate(n)(i =>
      (i.toLong, (i.toLong * 2654435761L) % n)).toDF("a", "b")
    val planeArea = n.toDouble * n.toDouble
    // the r13-advice edge: a legit 4-file Hilbert layout is exact
    // quadrants at coverage ~0.25 each — the old fixed 0.25 cutoff sat
    // exactly on the boundary; the adaptive one must flag NOTHING
    ZOrder.writeHilbert(rows, "a", "b", 0, n - 1, 0, n - 1,
      s"$root/four", numFiles = 4)
    val stats4 = FileSkipping.fileStats(
      spark.read.parquet(s"$root/four"), Seq("a", "b"))
    assert(FileSkipping.detectUnclustered(stats4, "a", "b", planeArea)
      .count() == 0L, "a legit 4-file Hilbert table must not be flagged")
    // append 2 round-robin (full-plane) files: EXACTLY those are flagged
    val base4 = spark.read.parquet(s"$root/four").inputFiles
      .map(u => new java.net.URI(u).getPath).toSet
    rows.filter(col("a") % 7 === 0).repartition(2)
      .write.mode("append").parquet(s"$root/four")
    val degraded = spark.read.parquet(s"$root/four")
    assert(degraded.inputFiles.length == 6)
    val appended = degraded.inputFiles
      .map(u => new java.net.URI(u).getPath).toSet -- base4
    val statsD = FileSkipping.fileStats(degraded, Seq("a", "b"))
    val flagged = FileSkipping.detectUnclustered(statsD, "a", "b", planeArea)
      .select("__file").as[String].collect()
      .map(u => new java.net.URI(u).getPath).toSet
    assert(flagged == appended, s"flagged: $flagged vs $appended")
    // an ALL-unclustered table (median coverage ~1 -> ceiling 0.5 holds):
    // every file is flagged -> full rewrite, still correct
    rows.repartition(5).write.mode("overwrite").parquet(s"$root/plain")
    val statsP = FileSkipping.fileStats(
      spark.read.parquet(s"$root/plain"), Seq("a", "b"))
    assert(FileSkipping.detectUnclustered(statsP, "a", "b", planeArea)
      .count() == 5L)
  }

  test("bloomFileStats/BloomEq: no false negatives over every key, hash parity, absent-key pruning") {
    import graft.operators.FileSkipping
    import graft.operators.FileSkipping.BloomEq
    val root = java.nio.file.Files.createTempDirectory("graft_bloom_").toString
    val docs = Seq.tabulate(256)(i => (i.toLong, s"k$i")).toDF("id", "key")
    docs.repartition(8).write.mode("overwrite").parquet(s"$root/t")
    val table = spark.read.parquet(s"$root/t")
    val stats = FileSkipping.bloomFileStats(table, "key").cache()
    assert(stats.count() == 8L)
    // hash parity: the Scala query-side bloomPos and the SQL build-side
    // position must agree — probe EVERY key and demand its true file is
    // kept (a single mismatch loses a row: the one unforgivable bloom bug)
    val fileOf = table.select(col("key"),
        input_file_name().cast("string").as("f"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    for (i <- 0 until 256) {
      val k = s"k$i"
      val kept = FileSkipping.chosenFiles(stats, Seq(BloomEq("key", Seq(k))))
        .collect().map(_.getString(0)).toSet
      assert(kept.contains(fileOf(k)),
        s"false negative: $k's file not kept (kept=${kept.size})")
    }
    // absent keys prune: at 32 rows/file fill is tiny, so a miss should
    // keep well under half the files (false positives allowed, bounded)
    val missKept = FileSkipping.chosenFiles(stats,
      Seq(BloomEq("key", Seq("absent-key")))).count()
    assert(missKept <= 4L, s"absent key kept $missKept of 8 files")
    // IN over two values = union of their file sets
    val k3 = FileSkipping.chosenFiles(stats,
      Seq(BloomEq("key", Seq("k3")))).collect().map(_.getString(0)).toSet
    val k9 = FileSkipping.chosenFiles(stats,
      Seq(BloomEq("key", Seq("k9")))).collect().map(_.getString(0)).toSet
    val both = FileSkipping.chosenFiles(stats,
      Seq(BloomEq("key", Seq("k3", "k9")))).collect()
      .map(_.getString(0)).toSet
    assert(both == (k3 ++ k9))
    stats.unpersist()
  }

  test("contractEvolves + readSnapshotTableAs: ADD COLUMN accepted, retype/drop rejected, unified read") {
    import graft.operators.{Sinks, TableQuality}
    val c0 = Seq("doc_id" -> "bigint", "v" -> "double")
    // adds-only at exact types: accepted (order-insensitive)
    assert(TableQuality.contractEvolves(c0, c0 :+ ("w" -> "string")))
    assert(TableQuality.contractEvolves(c0, ("w" -> "string") +: c0))
    assert(TableQuality.contractEvolves(c0, c0))
    // retype, drop, duplicate: rejected
    assert(!TableQuality.contractEvolves(c0,
      Seq("doc_id" -> "bigint", "v" -> "int", "w" -> "string")))
    assert(!TableQuality.contractEvolves(c0, Seq("doc_id" -> "bigint")))
    assert(!TableQuality.contractEvolves(c0, c0 ++ c0))
    // a drop that DRIFTS under c0 (extra column) PASSES under the
    // accepted evolution — the dq3 contract-update path
    val widened = Seq((1L, 1.5, "a"), (2L, 2.5, "b")).toDF("doc_id", "v", "w")
    assert(!TableQuality.schemaContractPass(widened, c0))
    assert(TableQuality.schemaContractPass(widened, c0 :+ ("w" -> "string")))
    // unified read: old files lack the added column; the explicit-schema
    // snapshot read fills null and still VALIDATES the manifest
    val root = java.nio.file.Files.createTempDirectory("graft_evo_").toString
    val old = Seq((1L, 1.5), (2L, 2.5)).toDF("doc_id", "v")
    old.coalesce(1).write.parquet(s"$root/stage")
    Sinks.publishSnapshotStaged(
      Map("t" -> ((s"$root/stage", "doc_id"))), s"$root/snap", spark)
    val evolved = old.schema
      .add("w", org.apache.spark.sql.types.StringType, nullable = true)
    val got = Sinks.readSnapshotTableAs(spark, s"$root/snap", "t", evolved)
    // parquet reads surface everything nullable — compare names + types
    assert(got.schema.fields.map(f => f.name -> f.dataType).toSeq ==
      evolved.fields.map(f => f.name -> f.dataType).toSeq)
    assert(got.filter(col("w").isNull).count() == 2L)
    // unknown table name fails loudly
    val ex = intercept[Exception](
      Sinks.readSnapshotTableAs(spark, s"$root/snap", "nope", evolved))
    assert(ex.getMessage.contains("no table"))
  }

  test("prunedParquetTyped: string-IN, IS NULL, empty selection, driver bound") {
    import graft.operators.FileSkipping
    import graft.operators.FileSkipping.{LongRange, NullOnly, StringIn}
    val root = java.nio.file.Files.createTempDirectory("graft_typed_").toString
    // 4 files range-clustered on lang, so string min/max are tight;
    // lang 'cc' rows carry a NULL tag (the IS NULL pruning target)
    val langs = Seq("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val docs = Seq.tabulate(800)(i => (i.toLong, langs(i % 8),
      if (i % 8 == 2) null else s"t$i")).toDF("doc_id", "lang", "tag")
    docs.repartitionByRange(4, col("lang")).sortWithinPartitions("lang")
      .write.mode("overwrite").parquet(s"$root/t")
    val table = spark.read.parquet(s"$root/t")
    val stats = FileSkipping.fileStats(table, Seq("doc_id", "lang", "tag"))
      .cache()
    val schema = table.schema
    // IN on a string key: only the file(s) whose [min,max] brackets it
    val de = FileSkipping.prunedParquetTyped(spark, stats,
      Seq(StringIn("lang", Seq("cc"))), schema)
    assert(de.inputFiles.length < table.inputFiles.length)
    assert(de.filter(col("lang") === "cc").count() ==
      table.filter(col("lang") === "cc").count())
    // superset guarantee: chosen files equal the independent footer rule
    val expect = table.groupBy(input_file_name().as("f"))
      .agg(min(col("lang")).as("mn"), max(col("lang")).as("mx"))
      .filter(col("mn") <= "cc" && col("mx") >= "cc").count()
    assert(de.inputFiles.length.toLong == expect)
    // IS NULL prunes to files with a non-zero null count
    val nulls = FileSkipping.prunedParquetTyped(spark, stats,
      Seq(NullOnly("tag")), schema)
    assert(nulls.inputFiles.length < table.inputFiles.length)
    assert(nulls.filter(col("tag").isNull).count() == 100L)
    // zero-match selection returns an EMPTY frame with the right schema
    val none = FileSkipping.prunedParquetTyped(spark, stats,
      Seq(StringIn("lang", Seq("zz"))), schema)
    assert(none.count() == 0L && none.schema == schema)
    // driver bound: a low-selectivity predicate over the cap falls back
    // to the whole-dir read (no path array), rows identical after filter
    val wide = FileSkipping.prunedParquetTyped(spark, stats,
      Seq(LongRange("doc_id", 0L, 9999L)), schema,
      tableDir = Some(s"$root/t"), maxListedFiles = 1)
    assert(wide.inputFiles.length == table.inputFiles.length)
    assert(wide.count() == 800L)
    // ...and without a fallback dir it refuses LOUDLY instead of
    // materializing an unbounded path array
    val ex = intercept[IllegalArgumentException] {
      FileSkipping.prunedParquetTyped(spark, stats,
        Seq(LongRange("doc_id", 0L, 9999L)), schema,
        tableDir = None, maxListedFiles = 1)
    }
    assert(ex.getMessage.contains("maxListedFiles"))
    stats.unpersist()
  }
}
