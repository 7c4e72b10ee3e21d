package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.PipelineConfig
import graft.llm.ExtractiveSummarizer
import graft.operators.{Curation, Dedup, TextAnalysis, TreeOps}
import graft.strategy.{Hierarchical, Strategies}

/** Adversarial-input sweep: every operator family over a corpus of the
  * rows a 100 TB crawl actually contains — null text, empty, blank, a
  * single char, one giant token, unicode, non-BMP emoji, mixed
  * whitespace. The contract under test is "no crash, hostile rows
  * classified/dropped/passed through sanely", not specific values (those
  * are the oracles' job). The null-text lang-ID crash this suite was
  * written against is pinned in OperatorsSpec.
  */
class HostileCorpusSpec extends AnyFunSuite {

  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  private lazy val hostile = Seq(
    (1L, null.asInstanceOf[String]),
    (2L, ""),
    (3L, "   "),
    (4L, "a"),
    (5L, "x" * 10000), // one giant token, no separator at any level
    (6L, "naïve café 日本語 текст"),
    (7L, "😀😀 👍🏽 emoji"),
    (8L, "tab\tnewline\nmixed  spaces. and the end."))
    .toDF("doc_id", "text")

  test("text analysis family survives hostile rows") {
    assert(TextAnalysis.qualityScore(hostile).count() == 8)
    assert(TextAnalysis.languageId(hostile).count() == 8)
    assert(TextAnalysis.tokenStats(hostile).count() == 8)
    assert(TextAnalysis.fingerprint(hostile).count() == 8)
    assert(TextAnalysis.vocabStats(hostile).count() == 1)
    assert(TextAnalysis.topNgrams(hostile, 3, 5).count() <= 5)
  }

  test("round-6 family survives hostile rows") {
    import graft.operators.{BpeTrain, Sampling}
    // gopher rules: every row classified, no NPE, gate is 0/1 (null text
    // rides the null row through — same contract as qualityScore)
    val g = TextAnalysis.gopherRules(hostile).collect()
    assert(g.length == 8)
    assert(g.filter(!_.isNullAt(g.head.fieldIndex("gopher_pass")))
      .forall(r => Set(0, 1)(r.getAs[Int]("gopher_pass"))))
    // url signals: no urls anywhere, blocklist false, null-safe
    val u = TextAnalysis.urlSignals(hostile)
    assert(u.count() == 8)
    assert(u.filter(col("n_urls") > 0).count() == 0)
    assert(u.withColumn("b",
      TextAnalysis.domainBlocked(col("hosts"), Seq("x.bad")))
      .filter(col("b")).count() == 0)
    // paragraph removal: null text must not NPE; hostile rows have no
    // repeated paragraphs so nothing is removed from non-null rows
    val p = Dedup.dropRepeatedParagraphs(
      hostile.filter(col("text").isNotNull), minOccurrences = 2)
    assert(p.count() == 7 && p.filter(col("n_removed") > 0).count() == 0)
    // temperature mixture on a null-bearing domain column: null domain
    // groups like any other value
    val m = Sampling.temperatureMixture(
      hostile.withColumn("dom", when(col("doc_id") % 2 === 0, "a")),
      col("dom"), alpha = 0.5, targetFraction = 1.0)
    assert(m.count() == 8) // target 1.0 => every rate clamps to 1, none drop
    // BPE training on a corpus with nothing to merge / null rows
    val t = BpeTrain.trainMerges(
      hostile.filter(col("text").isNotNull), 4, minPairCount = 2L)
    assert(t.count() <= 4) // learns at most what repeats; must not throw
  }

  test("interval join + sharded export + CDC chunks survive hostile/empty inputs") {
    import graft.operators.{AsofJoin, Dedup, Sinks}
    val emptyPts = Seq.empty[(Long, Long, Long)]
      .toDF("event_id", "user_id", "ts_us")
    val ivs = Seq((1L, 1L, 0L, 10L)).toDF("window_id", "user_id", "w_start", "w_end")
    assert(AsofJoin.intervalJoin(emptyPts, ivs,
      "user_id", "ts_us", "w_start", "w_end", 5L).count() == 0)
    val pts = Seq((1L, 1L, 5L)).toDF("event_id", "user_id", "ts_us")
    val emptyIvs = Seq.empty[(Long, Long, Long, Long)]
      .toDF("window_id", "user_id", "w_start", "w_end")
    assert(AsofJoin.intervalJoin(pts, emptyIvs,
      "user_id", "ts_us", "w_start", "w_end", 5L).count() == 0)
    // degenerate zero-length interval still matches its exact instant
    val instant = Seq((9L, 1L, 5L, 5L)).toDF("window_id", "user_id", "w_start", "w_end")
    assert(AsofJoin.intervalJoin(pts, instant,
      "user_id", "ts_us", "w_start", "w_end", 1000L).count() == 1)
    // INVERTED interval (start > end): contains no point, so it is dropped
    // before the explode — sequence() must never step backward through it
    val inverted = Seq((8L, 1L, 10L, 0L), (9L, 1L, 4L, 6L))
      .toDF("window_id", "user_id", "w_start", "w_end")
    assert(AsofJoin.intervalJoin(pts, inverted,
      "user_id", "ts_us", "w_start", "w_end", 5L)
      .select("window_id").as[Long].collect().toSeq == Seq(9L))
    // degenerate YEAR-LONG interval on a 1s grid: ~31.5M cells per row —
    // the expansion tripwire must fail loudly, not quietly explode
    val yearLong = Seq((7L, 1L, 0L, 365L * 86400L * 1000000L))
      .toDF("window_id", "user_id", "w_start", "w_end")
    val e = intercept[Exception] {
      AsofJoin.intervalJoin(pts, yearLong,
        "user_id", "ts_us", "w_start", "w_end", 1000000L).count()
    }
    assert(e.getMessage != null && e.getMessage.contains("grid cells"),
      s"expected the cell-cap tripwire, got: ${e.getMessage}")
    // ...and a day-long interval (86,401 cells — over the default cap)
    // passes when the caller sizes the cap for it, and still matches
    val dayLong = Seq((6L, 1L, 0L, 86400L * 1000000L))
      .toDF("window_id", "user_id", "w_start", "w_end")
    assert(AsofJoin.intervalJoin(pts, dayLong, "user_id", "ts_us",
      "w_start", "w_end", 1000000L,
      maxCellsPerInterval = 128 * 1024).count() == 1)
    // sharded export of hostile text (incl. null) round-trips every row
    val out = java.nio.file.Files.createTempDirectory("graft_hs9_").toString
    assert(Sinks.exportShards(hostile, s"$out/sh", 3L).count() == 8)
    // CDC chunking over hostile rows: non-null rows chunk, tokens conserved
    val nonNull = hostile.filter(col("text").isNotNull)
    val cdcToks = Dedup.contentDefinedChunks(nonNull)
      .select(sum(col("n_toks"))).as[Long].head()
    val srcToks = nonNull
      .select(sum(graft.functions.tokenCount(col("text")))).as[Long].head()
    assert(cdcToks == srcToks)
  }

  test("PII redaction + repetition signals survive hostile rows") {
    assert(TextAnalysis.redactPii(hostile).count() == 8)
    val rep = TextAnalysis.repetitionSignals(hostile)
    assert(rep.count() == 8)
    // null/empty/single-token rows score 0.0, never null/NaN
    rep.collect().foreach { r =>
      assert(!r.isNullAt(1) && !r.isNullAt(2))
      assert(r.getDouble(1) >= 0.0 && r.getDouble(2) >= 0.0)
    }
  }

  test("dedup family survives hostile rows") {
    assert(Dedup.exactDuplicates(hostile).count() >= 0)
    assert(Dedup.minhashSignature(hostile, "text", 3, 16).count() == 8)
    assert(Dedup.minhashLshPairs(hostile).count() >= 0)
    assert(Dedup.ngramJaccardPairs(hostile).count() >= 0)
    assert(Dedup.simhashPairs(hostile).count() >= 0)
    assert(Dedup.dedupedCorpus(hostile).count() >= 1)
  }

  test("chunking + strategies survive hostile rows") {
    val cfg = PipelineConfig(chunkSize = 20, chunkOverlap = 4, tokenMax = 30,
      maxSummaryTokens = 10)
    val chunks = graft.operators.CorpusOps.chunkDocs(hostile, cfg)
    assert(chunks.count() >= 5) // null/empty rows yield no chunks; rest do
    val strategies = new Strategies(ExtractiveSummarizer, cfg = cfg)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").as[Long].collect().toSet
    assert(ids(strategies.truncated(hostile)) == (1L to 8L).toSet)
    // no chunks (for hierarchical: no sentences), no row: the null, empty
    // and blank docs (1-3) are absent
    for ((name, out) <- Seq("mapreduce" -> strategies.mapReduce(hostile),
        "critique" -> strategies.mapReduceCritique(hostile),
        "iterative" -> strategies.iterative(hostile),
        "hierarchical" -> new Hierarchical(ExtractiveSummarizer, cfg)
          .summarize(TreeOps.synthesize(hostile))))
      assert(ids(out) == (4L to 8L).toSet, name)
  }

  test("curation gates + full curate survive hostile rows") {
    val gated = Curation.gate(hostile).select("doc_id").as[Long].collect().toSet
    assert(!gated.contains(1L) && !gated.contains(2L) && !gated.contains(3L))
    assert(Curation.curate(hostile).count() >= 0)
  }

  test("vector family survives zero / short / null embeddings") {
    import graft.operators.Similarity
    val emb = Seq(
      (1L, Array(0f, 0f, 0f, 0f)), // zero vector (cosine denom guard)
      (2L, Array(1f, 0f)), // shorter than the declared dim
      (3L, null.asInstanceOf[Array[Float]]),
      (4L, Array(1f, 1f, 1f, 1f)))
      .toDF("vec_id", "embedding")
    val q = Seq((10L, Array(1f, 1f, 1f, 1f))).toDF("query_id", "embedding")
    assert(Similarity.bruteForceTopK(emb, q, 3).count() <= 3)
    assert(Similarity.lshTopK(emb, q, 3, 4, tables = 2, planes = 2).count() >= 0)
    assert(Similarity.ivfTopK(emb, q, 3, 4, nCells = 2, nProbe = 2).count() >= 0)
    assert(Dedup.embeddingCosinePairs(emb, 0.5).count() >= 0)
    assert(Dedup.embeddingCosinePairsLsh(emb, 0.5, 4, tables = 2, planes = 2)
      .count() >= 0)
    // the router: the pair-mass probe must survive null/zero/short
    // vectors (nulls are excluded from the driver sample), and BOTH
    // branches must run on the hostile corpus
    import graft.operators.Clustering
    assert(Clustering.semDedupPairsRouted(emb, 0.5, 4).count() >= 0)
    assert(Clustering.semDedupPairsRouted(emb, 0.5, 4,
      knownPairsPerDoc = Some(1e9)).count() >= 0)
  }

  test("connected components with negative vertex ids (both paths)") {
    val pairs = Seq((-5L, -3L), (-3L, 2L), (7L, 8L)).toDF("doc_a", "doc_b")
    val want = Map(-5L -> -5L, -3L -> -5L, 2L -> -5L, 7L -> 7L, 8L -> 7L)
    assert(Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap == want)
    assert(Dedup.connectedComponents(pairs, smallGraphEdges = 0)
      .as[(Long, Long)].collect().toMap == want)
  }

  test("sampling / shuffle / packing family survives hostile + empty inputs") {
    import graft.operators.{Packing, Sampling}
    val ids = hostile.select("doc_id")
    assert(Sampling.assignSplits(ids).count() == 8)
    assert(Sampling.weightedResample(ids, lit(1.0)).count() == 8)
    assert(Sampling.deterministicShuffle(ids).count() == 8)
    val empty = Seq.empty[(Long, Long)].toDF("doc_id", "n_tokens")
    assert(Sampling.assignSplits(empty.select("doc_id")).count() == 0)
    assert(Sampling.deterministicShuffle(empty.select("doc_id")).count() == 0)
    assert(Packing.packSequences(empty, 10).count() == 0)
    assert(Packing.packGreedyShards(empty, 10).count() == 0)
    // zero-token and giant docs pack without crashing or overflowing
    val weird = Seq((1L, 0L), (2L, Long.MaxValue / 4), (3L, 5L))
      .toDF("doc_id", "n_tokens")
    assert(Packing.packSequences(weird, 10).count() == 3)
    assert(Packing.packGreedyShards(weird, 10, shards = 2).count() == 3)
  }

  test("decontamination + normalization survive hostile rows") {
    val bench = Seq((100L, "x" * 10000), (101L, "benchmark words here"))
      .toDF("doc_id", "text")
    assert(Dedup.contaminationReport(hostile, bench, "text", 5).count() >= 1)
    assert(Dedup.decontaminate(hostile, bench, "text", 5).count() <= 8)
    val norm = TextAnalysis.normalizeText(hostile)
    assert(norm.count() == 8)
    // null text: null norm_text but changed must be FALSE, never null
    val r1 = norm.filter(col("doc_id") === 1).head()
    assert(r1.isNullAt(r1.fieldIndex("norm_text")))
    assert(r1.getAs[Boolean]("changed") == false)
  }

  test("funnel report survives an empty corpus (all-zero row, no NPE)") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val f = Curation.funnelReport(empty).head()
    assert((0 until 5).forall(i => f.getLong(i) == 0L))
    assert(Curation.funnelReport(hostile).head().getLong(0) == 8L)
  }

  test("as-of join survives empty sides") {
    import graft.operators.AsofJoin
    val l = Seq((1L, 1L, 10L)).toDF("event_id", "user_id", "ts_us")
    val r = Seq((2L, 1L, 5L, 1.0)).toDF("event_id", "user_id", "ts_us", "value")
    val emptyR = r.filter(lit(false))
    assert(AsofJoin.asofJoinPrior(l, emptyR, "user_id", "ts_us", "event_id",
      Seq("value")).head().isNullAt(3))
    assert(AsofJoin.asofJoinPrior(l.filter(lit(false)), r, "user_id", "ts_us",
      "event_id", Seq("value")).count() == 0)
  }

  test("int8 quantization: non-finite elements stay contained per vector") {
    import graft.operators.Quantize
    val emb = Seq(
      (1L, Array(Float.NaN, 1f, 0f, 0f)),
      (2L, Array(Float.PositiveInfinity, 1f, 0f, 0f)),
      (3L, Array(1f, -1f, 0.5f, 0f))) // finite row must stay exact
      .toDF("vec_id", "embedding")
    val got = Quantize.quantizeInt8(emb).collect()
      .map(r => r.getAs[Long]("vec_id") -> r).toMap
    // contract: garbage in a vector corrupts only that vector; the finite
    // row's quantization is untouched
    assert(got(3L).getAs[scala.collection.Seq[Byte]]("qvec").toSeq ==
      Seq[Byte](127, -127, 64, 0))
    assert(got.size == 3) // no crash on NaN/Inf rows
  }

  test("round-7 family survives hostile rows") {
    // heavy hitters: nulls/empties tokenize to nothing; "x"*10000 is one
    // token occurring once — with so few tokens anything repeated can
    // qualify, the contract is no crash + exact counts on what remains
    val hh = TextAnalysis.heavyHitters(hostile, k = 2).collect()
    assert(hh.forall(_.getAs[Long]("cnt") >= 1L))
    // bigram LM: only docs with >= 2 tokens appear; no NPE on null text
    val bg = TextAnalysis.bigramLogProb(hostile)
      .select("doc_id").as[Long].collect().toSet
    assert(bg.subsetOf(Set(6L, 7L, 8L)) && bg.contains(8L))
    // approx-quantile gate holds on the tiny hostile corpus (slack wide
    // enough for n=8: every value is within one rank of any target)
    assert(TextAnalysis.lengthStatsApproxGate(hostile, slack = 0.2)
      .as[(Int, Int, Int)].head() == ((1, 1, 1)))
    // fixed sample of more rows than exist keeps everything, null text included
    assert(graft.operators.Sampling.fixedSample(hostile, 100).count() == 8)
  }

  test("ss8/ta17/mx3 survive hostile rows") {
    // ta17: buckets only docs with >= 2 tokens (the ta16 contract), one
    // tercile set per domain including the null domain
    val dom = when(col("doc_id") <= 4, lit("a"))
      .when(col("doc_id") <= 6, lit(null).cast("string")).otherwise(lit("b"))
    val buckets = TextAnalysis.perplexityBuckets(
      hostile.withColumn("dom", dom), col("dom"))
    val ids = buckets.select("doc_id").as[Long].collect().toSet
    assert(ids.subsetOf(Set(6L, 7L, 8L)) && ids.contains(8L))
    assert(buckets.filter(col("bucket").isNull).count() == 0)
    // mx3: null-domain stratum kept (the mx2 rule); zero-token docs are
    // still rows to mix — every doc lands somewhere with epochs > 0
    val mixed = graft.operators.Sampling.unimaxMixture(
      hostile.withColumn("dom", dom), col("dom"), budget = 8.0,
      maxEpochs = 1.0)
    assert(mixed.select("doc_id").distinct().count() == 8)
    assert(mixed.filter(col("target_epochs") <= 0).count() == 0)
    // ss8 on hostile vectors: null embedding rows are dropped by encode,
    // the rest search fine (4-dim corpus, m=2)
    val vecs = Seq(
      (1L, null.asInstanceOf[Array[Float]]),
      (2L, Array(0f, 0f, 0f, 0f)), // zero vector: cosine defined as 0
      (3L, Array(1f, 0f, 0f, 0f)), (4L, Array(0.9f, 0.1f, 0f, 0f)),
      (5L, Array(0f, 1f, 0f, 0f)), (6L, Array(0f, 0.9f, 0.1f, 0f)))
      .toDF("vec_id", "embedding")
    val q = Seq((100L, Array(1f, 0f, 0f, 0f))).toDF("query_id", "embedding")
    val got = graft.operators.Pq.ivfPqTopK(vecs, q, 3, nCells = 2,
      nProbe = 2, m = 2, ksub = 4, shortlist = 5)
      .select("vec_id").as[Long].collect().toSet
    assert(got.nonEmpty && !got.contains(1L)) // null row never surfaces
    // plain IVF had the same latent seed NPE (null among lowest vec_ids)
    val ivf = graft.operators.Similarity.ivfTopK(vecs, q, 3, 4, nCells = 2,
      nProbe = 2).select("vec_id").as[Long].collect().toSet
    assert(ivf.nonEmpty && !ivf.contains(1L))
    // sign search: null vectors are FILTERED (matching the k-means/
    // IVF-PQ paths) — signBits would otherwise pack null to all-zero
    // words, indistinguishable from an all-negative vector, and the row
    // would compete as a ranked candidate; zero and short vectors pack
    // to valid words and stay rankable
    val sign = graft.operators.Quantize.signTopK(
      vecs.unionByName(Seq((7L, Array(1f, 1f))).toDF("vec_id", "embedding")),
      q, 6, 4)
    val ranked = sign.orderBy(col("rank"))
      .select("vec_id").as[Long].collect()
    assert(ranked.length >= 5 && !ranked.contains(1L))
  }

  test("plain attribution join: hot-key candidate tripwire fires, " +
      "under-cap output unchanged") {
    import graft.streaming.EventStreams
    // hot key 1: 4 purchases x 5 clicks = 20 candidate pairs; key 2: 1x1
    val base = 1704067200000000L
    val purchases = Seq((1L, 100L, 0L), (1L, 101L, 5L), (1L, 102L, 10L),
      (1L, 103L, 15L), (2L, 200L, 3L))
      .toDF("user_id", "purchase_id", "off")
      .select(col("user_id"), col("purchase_id"),
        timestamp_micros(lit(base) + col("off") * 60000000L).as("p_ts"))
    val clicks = Seq((1L, 900L, 1L), (1L, 901L, 4L), (1L, 902L, 9L),
      (1L, 903L, 14L), (1L, 904L, 20L), (2L, 910L, 2L))
      .toDF("c_user", "click_id", "off")
      .select(col("c_user"), col("click_id"),
        timestamp_micros(lit(base) + col("off") * 60000000L).as("c_ts"))
    // cap below the hot key's 20 products: fail loudly, name the key
    val e = intercept[Exception] {
      EventStreams.attributionJoinOuter(purchases, clicks,
        maxCandidatesPerKey = 10L).count()
    }
    assert(e.getMessage != null &&
      e.getMessage.contains("candidate pairs"),
      s"expected the candidate tripwire, got: ${e.getMessage}")
    // at the default cap the guard is invisible: same rows as the binned
    // form (held to the same oracle)
    val plain = EventStreams.attributionJoinOuter(purchases, clicks)
      .select("purchase_id", "click_id")
      .as[(Long, Option[Long])].collect().toSet
    val binned = EventStreams.attributionJoinBinned(purchases, clicks,
        outer = true)
      .select("purchase_id", "click_id")
      .as[(Long, Option[Long])].collect().toSet
    assert(plain == binned && plain.nonEmpty)
  }

  test("metrics survive null gen/ref pairs") {
    val pairs = Seq(
      (1L, null.asInstanceOf[String], "the reference text here"),
      (2L, "a generated summary", null.asInstanceOf[String]),
      (3L, "", ""),
      (4L, "same words", "same words"))
      .toDF("doc_id", "gen", "ref")
    val m = graft.eval.Metrics.pairMetrics(pairs)
    assert(m.count() == 4)
    val perfect = m.filter(col("doc_id") === 4).select("rouge1_f")
      .head().getDouble(0)
    assert(perfect == 1.0)
  }

  test("round-9 family survives hostile rows") {
    // BLEU over the same hostile gen/ref shapes as pairMetrics
    val pairs = Seq(
      (1L, null.asInstanceOf[String], "the reference text"),
      (2L, "a generated summary", null.asInstanceOf[String]),
      (3L, "", ""),
      (4L, "same words here", "same words here"),
      (5L, "😀😀 emoji", "😀 emoji"))
      .toDF("doc_id", "gen", "ref")
    val b = graft.eval.Metrics.bleuScores(pairs).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(b.size == 5 && b(1L) == 0.0 && b(3L) == 0.0 && b(4L) == 1.0)
    // transformer encoder + BERTScore over hostile text: every row
    // scored, degenerate sides zero, no crash on emoji/giant tokens
    val hp = hostile.select(col("doc_id"), col("text").as("gen"),
      coalesce(col("text"), lit("")).as("ref"))
    assert(graft.eval.Metrics
      .bertScoreContextual(hp, graft.llm.TinyTransformer()).count() == 8)
    // MMR summarizer: total on every hostile row, budget respected
    hostile.collect().foreach { r =>
      val t = if (r.isNullAt(1)) "" else r.getString(1)
      val s = graft.llm.MmrSummarizer.summarize(t, 5)
      assert(graft.core.Text.tokenCount(s) <= 5)
    }
    // NB classifier + serving model: null/empty/unicode docs all scored
    // (prior-only when nothing hits the vocabulary), batch == served
    val labeled = hostile.withColumn("source",
      concat(lit("s"), pmod(col("doc_id"), lit(2))))
    val batch = TextAnalysis.nbDomainClassifier(labeled, col("source"))
      .select("doc_id", "pred_source", "score")
      .as[(Long, String, Double)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(batch.size == 8)
    val model = TextAnalysis.nbTrainCollect(labeled, col("source"))
    hostile.collect().foreach { r =>
      val t = if (r.isNullAt(1)) null else r.getString(1)
      val (p, sm) = model.score(t)
      assert(batch(r.getLong(0)) == ((p, sm / 1e6)))
    }
    // DSIR: hostile raw pool against a tiny clean target — every doc
    // reported, exactly k selected, and token-less docs (null/empty/
    // blank) NEVER selected: they carry no target-likeness evidence and
    // are excluded from the Gumbel top-k outright
    val target = Seq((100L, "clean target text about things"))
      .toDF("doc_id", "text")
    val rep = Curation.dsirSelect(hostile, target, k = 3)
      .select("doc_id", "selected").as[(Long, Int)].collect()
    assert(rep.length == 8 && rep.map(_._2).sum == 3)
    assert(rep.filter(r => Set(1L, 2L, 3L)(r._1)).forall(_._2 == 0))
  }

  test("span-surgical family: whitespace-only docs tokenize to ZERO tokens") {
    // The dc4/dd12 tokenization contract (split \s+, drop empty fields —
    // mirrored by the oracles' list_filter): a tabs/newlines-only doc has
    // NO tokens, never a phantom '' token. DuckDB's trim strips spaces
    // only, so without the convention a "\t\n"-doc would tokenize
    // differently on the two engines — this pins the Spark half.
    val ws = Seq(
      (1L, "\t\n \t"), // whitespace-only, no plain space at the edges
      (2L, "  \n\nshared gram one two\t"),
      (3L, "shared gram one two"),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val dd12 = Dedup.spanSelfDedup(ws, "text", 2)
      .select("doc_id", "clean_text", "n_tokens", "n_removed")
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(dd12.size == 4)
    assert(dd12(1L)._3 == 0L && dd12(1L)._2 == "" && dd12(1L)._4 == 0L)
    assert(dd12(4L)._3 == 0L)
    // the shared 4-token span survives only in its min-doc_id occurrence
    // (doc 2 is the keeper; doc 3 loses all four covered tokens)
    assert(dd12(2L)._4 == 0L && dd12(3L)._4 == 4L)
    val dc4 = Dedup.spanDecontaminate(ws,
        Seq((9L, "shared gram one two")).toDF("doc_id", "text"), "text", 2)
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toMap
    assert(dc4(1L) == 0L && dc4(4L) == 0L && dc4(3L) == 4L)
  }

  test("second round-9 family survives hostile rows") {
    import graft.operators.{Packing, Sampling, Warc}
    // HTML extraction: every hostile row survives (null -> empty); the
    // giant-token row is also a pathological "unclosed tag" when wrapped
    val asHtml = hostile.select(col("doc_id"),
      concat(lit("<p>"), coalesce(col("text"), lit("")), lit("</p><script>x<1")).as("text"))
    val ext = TextAnalysis.extractHtml(asHtml).collect()
    assert(ext.length == 8)
    // WARC shards: hostile payloads (null, empty, emoji, giant) round-trip
    val parsed = Warc.parseShards(Warc.buildShards(hostile, 3))
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(parsed.size == 8 && parsed(1L) == "" && parsed(2L) == "")
    assert(parsed(7L) == "😀😀 👍🏽 emoji" && parsed(5L) == "x" * 10000)
    // packed spans: token-less rows emit nothing, token sum conserved
    val docsTok = hostile.select(col("doc_id"),
      graft.functions.tokenCount(col("text")).as("n_tokens"))
    val spans = Packing.packedSpans(docsTok, budget = 4)
      .select("span_len").as[Long].collect()
    val totTok = docsTok.select(sum(col("n_tokens"))).as[Long].head()
    assert(spans.sum == totTok)
    // excess-loss selection: degenerate corpora do not crash — only
    // bigram-scored docs compete, and k can exceed them
    val sel = Curation.excessLossSelect(hostile, k = 50)
      .select("doc_id", "selected").as[(Long, Int)].collect()
    assert(sel.nonEmpty && sel.forall(_._2 == 1))
    // leakage-safe splits: every doc assigned even with an EMPTY pair graph
    val noPairs = spark.emptyDataFrame
      .select(lit(0L).as("doc_a"), lit(0L).as("doc_b")).limit(0)
    val splits = Sampling.componentSplits(hostile, noPairs)
      .select("doc_id", "split").as[(Long, String)].collect()
    assert(splits.length == 8)
    // funnel: empty step slice (no such event type) yields an empty funnel
    val ev = hostile.select(col("doc_id").as("user_id"),
      lit("view").as("event_type"), col("doc_id").as("ts_us"))
    assert(graft.operators.EventOps.funnel(ev,
      Seq("click", "purchase")).count() == 0)
    // chrF: giant/emoji/null rows score without error
    assert(graft.core.ChrF.chrF2("x" * 10000, "x").toString.nonEmpty)
  }

  test("round-11 session-2 family survives hostile rows") {
    import graft.operators.{LinearModel, TextAnalysis, ZOrder}
    val safe = hostile.filter(col("text").isNotNull) // labeled corpora are
    // post-ingest; null text is an ingest-layer drop everywhere here
    // shard drift: one shard of hostile rows vs a clean one — report
    // covers both shards, metrics finite, nothing crashes on the giant /
    // emoji / whitespace rows (regexp tokenizer yields zero tokens for
    // some rows; the shard still aggregates)
    val sharded = safe.withColumn("source",
      when(col("doc_id") % 2 === 0, "hostile").otherwise("clean"))
    val drift = TextAnalysis.shardDrift(sharded)
      .select("shard", "js", "tv").as[(String, Double, Double)].collect()
    assert(drift.length == 2 && drift.forall(r =>
      !r._2.isNaN && !r._3.isNaN && r._2 >= 0 && r._3 >= 0))
    // CMS: hostile tokens sketch + probe without error; guarantee holds
    val cms = TextAnalysis.heavyHittersCms(safe, width = 16, minExact = 1)
      .select("est", "exact").as[(Long, Long)].collect()
    assert(cms.nonEmpty && cms.forall(r => r._1 >= r._2))
    // linear classifier: trains and scores over hostile text (empty/blank
    // rows hash their empty-split token; giant token hashes fine); scores
    // finite, every labeled doc scored
    val labeled = safe.withColumn("y",
      when(col("doc_id") % 2 === 0, -1.0).otherwise(1.0))
    val feats = LinearModel.hashedPresenceArrays(labeled, 64)
    val w = LinearModel.trainCgRidgeArrays(feats,
      labeled.select(col("doc_id"), col("y")), 64, iterations = 4)
    assert(w.forall(v => !v.isNaN && !v.isInfinite))
    val batch = LinearModel.scoreArrays(feats, w)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    assert(batch.size == 7 && batch.values.forall(s => !s.isNaN))
    // local scorer agrees on hostile text too (unicode, giant token)
    val scorer = LinearModel.localScorer(w)
    safe.select("doc_id", "text").as[(Long, String)].collect()
      .foreach { case (id, t) => assert(scorer(t) == batch(id), s"doc $id") }
    // z-order: extreme / identical keys scale-clamp, never crash
    val keys = Seq((Long.MinValue / 4, 0L), (0L, 0L), (Long.MaxValue / 4, 5L))
      .toDF("a", "b")
    val z = keys.select(ZOrder.zKey(col("a"), 0L, 100L, col("b"), 0L, 0L).as("z"))
      .as[Long].collect()
    assert(z.forall(v => v >= 0 && v < (1L << 32)))
  }
}
