package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BinPack, PipelineConfig, Text, TreeNode}
import graft.eval.Metrics
import graft.llm.{ExtractiveSummarizer, IdentitySummarizer, Summarizer}
import graft.operators.{CorpusOps, TreeOps}
import graft.strategy.{Hierarchical, Strategies}

class StrategiesSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  private val cfg = PipelineConfig(
    chunkSize = 6, chunkOverlap = 0, tokenMax = 10,
    maxSummaryTokens = 4, maxCollapseRounds = 10,
    maxCritiqueIterations = 2)

  private def docs: DataFrame = Seq(
    (1L, "alpha beta gamma. delta epsilon zeta. eta theta iota. kappa lambda mu."),
    (2L, "one two three. four five six."),
    (3L, "single short doc."))
    .toDF("doc_id", "text")

  private def strategies(s: graft.llm.Summarizer = ExtractiveSummarizer) =
    new Strategies(s, cfg = cfg)

  test("Q1 truncated: one summary per doc, within budget") {
    val out = strategies().truncated(docs).collect()
    assert(out.length == 3)
    out.foreach { r =>
      val s = r.getAs[String]("summary")
      assert(s.nonEmpty)
      assert(Text.tokenCount(s) <= cfg.maxSummaryTokens)
    }
  }

  test("Q2 map-reduce: one summary per doc, deterministic across runs") {
    val a = strategies().mapReduce(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("summary")).toMap
    val b = strategies().mapReduce(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("summary")).toMap
    assert(a == b)
    assert(a.keySet == Set(1L, 2L, 3L))
    assert(a.values.forall(_.nonEmpty))
  }

  test("Q3 critique: one summary per doc, none empty") {
    val out = strategies().mapReduceCritique(docs).collect()
    assert(out.length == 3)
    assert(out.forall(_.getAs[String]("summary").nonEmpty))
  }

  test("Q4 iterative: sequential fold semantics (identity summarizer witnesses the fold order)") {
    // with chunkSize >= doc tokens there is exactly one chunk, so the fold
    // returns summarize(chunk_0) — with identity, the doc text itself
    val bigCfg = cfg.copy(chunkSize = 100, maxSummaryTokens = 100)
    val out = new Strategies(IdentitySummarizer, cfg = bigCfg)
      .iterative(Seq((5L, "exact text preserved")).toDF("doc_id", "text"))
      .as[(Long, String)].collect().toMap
    assert(out(5L) == "exact text preserved")
  }

  test("Q4 iterative: one summary per doc on multi-chunk docs") {
    val out = strategies().iterative(docs).as[(Long, String)].collect().toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out.values.forall(_.nonEmpty))
  }

  test("Q5 hierarchical: synthesized tree collapses to one summary per doc") {
    val out = new Hierarchical(ExtractiveSummarizer, cfg)
      .summarize(TreeOps.synthesize(docs))
      .as[(Long, String)].collect().toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out.values.forall(_.nonEmpty))
  }

  // doc `id`, three levels deep: Part > Chapter > Paragraph
  private def deepTree(id: Long): Seq[TreeNode] = Seq(
    TreeNode(id, 0L, -1L, 0, "Document", s"doc_$id", 0),
    TreeNode(id, 1L, 0L, 1, "Header", "Part", 0),
    TreeNode(id, 2L, 1L, 2, "Header", "Chapter", 0),
    TreeNode(id, 3L, 2L, 3, "Paragraph", "q two three", 0))

  test("Q5 hierarchical: a doc collapses by its own height, whatever its neighbours' depth") {
    // doc 1 is one level deep and ends in a childless Header
    val shallow = Seq(
      TreeNode(1L, 0L, -1L, 0, "Document", "doc_1", 0),
      TreeNode(1L, 1L, 0L, 1, "Paragraph", "p one", 0),
      TreeNode(1L, 2L, 0L, 1, "Header", "Appendix", 1))
    def run(ns: Seq[TreeNode]): Map[Long, String] =
      new Hierarchical(TaggingSummarizer, cfg).summarize(ns.toDF())
        .as[(Long, String)].collect().toMap
    val cap = math.max(cfg.tokenMax * 3 / 4, cfg.maxSummaryTokens)
    def sum(t: String) = TaggingSummarizer.summarize(Hierarchical.truncate(t, cap), cfg.maxSummaryTokens)
    val both = run(shallow ++ deepTree(2L))
    // the deepest level keeps its text, a Header there included
    assert(both(1L) == Hierarchical.squeeze(sum("p one\n\nAppendix")))
    assert(both(1L) == run(shallow)(1L))
    val chapter = "Chapter\n\n" + sum("q two three")
    assert(both(2L) == Hierarchical.squeeze(sum("Part\n\n" + sum(chapter))))
  }

  test("Q5 fold helpers equal the Column truncate and squeeze on hostile text") {
    val texts = Seq("\nleading newline", "trailing newline\n", "tabs\tbetween\t\twords",
      "nbsp\u00a0inside a token", "", "  spaced  out  ", null,
      (1 to 12).map(i => s"t$i").mkString(" "))
    val k = 5
    val got = texts.toDF("t").select(
      graft.functions.truncateTokens(col("t"), k),
      graft.functions.squeezeWhitespace(col("t")))
      .as[(String, String)].collect().toSeq
    assert(got == texts.map(t => (Hierarchical.truncate(t, k), Hierarchical.squeeze(t))))
  }

  test("collapse loop terminates and respects the token budget shape") {
    // long doc forces at least one collapse round at tokenMax=10
    val long = Seq((9L, ("word " * 60).trim)).toDF("doc_id", "text")
    val out = strategies().mapReduce(long).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("summary").nonEmpty)
  }

  // 6-token chunks, 4-token summaries, budget 10: a doc of n tokens has
  // n/6 chunks; every word is distinct, so every chunk text is distinct
  private val collapseCfg = PipelineConfig(
    chunkSize = 6, chunkOverlap = 0, tokenMax = 10,
    maxSummaryTokens = 4, maxCollapseRounds = 10,
    maxCritiqueIterations = 2, chunker = "token_window")

  private def wordRows(lengths: (Long, Int)*): Seq[(Long, String)] =
    lengths.map { case (id, n) => (id, (0 until n).map(i => s"d${id}w$i").mkString(" ")) }

  private def wordDocs(lengths: (Long, Int)*): DataFrame =
    wordRows(lengths: _*).toDF("doc_id", "text")

  private def chunkTexts(docs: DataFrame): Map[Long, Seq[String]] =
    CorpusOps.chunkDocs(docs, collapseCfg)
      .select("doc_id", "chunk_idx", "text").as[(Long, Int, String)].collect().toSeq
      .groupMap(_._1)(c => (c._2, c._3)).map { case (d, cs) => d -> cs.sortBy(_._1).map(_._2) }

  /** Plain-Scala map -> collapse -> final reduce of one doc's chunks:
    * (summary, bins reduced per round, parts the final reduce joined).
    */
  private def replayMapReduce(chunks: Seq[String], s: Summarizer,
      c: PipelineConfig): (String, Seq[Int], Seq[String]) = {
    def toks(ps: Seq[String]) = ps.map(Text.tokenCount(_).toLong)
    var parts = chunks.map(s.summarize(_, c.maxSummaryTokens))
    var bins = Vector.empty[Int]
    while (bins.size < c.maxCollapseRounds && toks(parts).sum > c.tokenMax) {
      parts = parts.zip(BinPack.greedyBins(toks(parts), c.tokenMax))
        .groupMap(_._2)(_._1).toSeq.sortBy(_._1)
        .map { case (_, bin) => s.summarize(bin.mkString("\n\n"), c.maxSummaryTokens) }
      bins :+= parts.size
    }
    (s.summarize(parts.mkString("\n\n"), c.maxSummaryTokens), bins, parts)
  }

  /** Runs one strategy with a fresh counting scalar: (doc -> summary, calls). */
  private def counted(inner: Summarizer, c: PipelineConfig)(
      f: Strategies => DataFrame): (Map[Long, String], Seq[(String, Int)]) = {
    val s = new CountingSummarizer(inner)
    val out = f(new Strategies(s, cfg = c)).as[(Long, String)].collect()
    assert(out.map(_._1).distinct.length == out.length, "one summary per doc")
    (out.toMap, s.calls)
  }

  test("call-count contract: no (input, budget) pair is summarized twice; " +
      "mapreduce calls = chunks + collapse bins + docs") {
    // 36 tokens collapse twice, 60 three times (the last round with doc 1
    // already under budget), 12 and 4 never
    val docs = wordDocs(1L -> 36, 2L -> 60, 3L -> 12, 4L -> 4)
    val chunks = chunkTexts(docs)
    val replay = chunks.map { case (d, cs) => d -> replayMapReduce(cs, TaggingSummarizer, collapseCfg) }
    assert(replay.map { case (d, r) => d -> r._2.size } == Map(1L -> 2, 2L -> 3, 3L -> 0, 4L -> 0))
    val strategies = Seq[(String, Strategies => DataFrame)](
      "truncated" -> (_.truncated(docs)), "mapreduce" -> (_.mapReduce(docs)),
      "critique" -> (_.mapReduceCritique(docs)), "iterative" -> (_.iterative(docs)))
    for ((name, f) <- strategies) {
      val (out, calls) = counted(TaggingSummarizer, collapseCfg)(f)
      assert(out.keySet == Set(1L, 2L, 3L, 4L), name)
      val twice = calls.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
      assert(twice.isEmpty, s"$name summarized twice: $twice")
    }
    val (out, calls) = counted(TaggingSummarizer, collapseCfg)(_.mapReduce(docs))
    assert(out == replay.map { case (d, r) => d -> r._1 })
    assert(calls.size == chunks.values.map(_.size).sum + replay.values.map(_._2.sum).sum + chunks.size)
  }

  test("call-count contract: hierarchical calls = non-Paragraph nodes above each doc's " +
      "deepest level + docs, none twice") {
    val nodes = TreeOps.synthesize(docs).as[TreeNode].collect().toSeq ++ deepTree(7L)
    val s = new CountingSummarizer(TaggingSummarizer)
    val out = new Hierarchical(s, cfg).summarize(nodes.toDF()).as[(Long, String)].collect()
    assert(out.map(_._1).sorted.toSeq == Seq(1L, 2L, 3L, 7L))
    val twice = s.calls.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    assert(twice.isEmpty, s"summarized twice: $twice")
    val expected = nodes.groupBy(_.doc_id).values.map { ns =>
      val h = ns.map(_.depth).max
      ns.count(n => n.depth >= 1 && n.depth < h && n.node_type != "Paragraph") + 1
    }.sum
    assert(s.calls.size == expected)
  }

  test("collapse cap: maxCollapseRounds = 1 stops after one round, then one final reduce") {
    val docs = wordDocs(1L -> 36, 3L -> 12)
    val chunks = chunkTexts(docs)
    def check(c: PipelineConfig): Seq[(String, Seq[Int], Seq[String])] = {
      val expect = new CountingSummarizer(IdentitySummarizer)
      val replay = chunks.toSeq.sortBy(_._1).map { case (_, cs) => replayMapReduce(cs, expect, c) }
      val (out, calls) = counted(IdentitySummarizer, c)(_.mapReduce(docs))
      assert(out == chunks.keys.toSeq.sorted.zip(replay.map(_._1)).toMap)
      // the same inputs were summarized, final reduce included
      assert(calls.sorted == expect.calls.sorted)
      replay
    }
    // doc 1 needs two rounds at the default cap
    assert(check(collapseCfg).head._2 == Seq(3, 2))
    val capped = check(collapseCfg.copy(maxCollapseRounds = 1)).head
    assert(capped._2 == Seq(3))
    // still over budget after the cap: the final reduce joins those parts
    assert(capped._3.map(Text.tokenCount).sum > collapseCfg.tokenMax)
  }

  /** The shuffles of `df`'s plan, those behind adaptive wrappers and cached
    * relations (a collapse loop's persisted state) included.
    */
  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
      case _ => p.children.flatMap(nodes)
    })
    nodes(df.queryExecution.executedPlan).collect { case x: ShuffleExchangeExec => x }
  }

  test("plan shape: iterative and map-reduce plan no shuffle and keep the docs' P partitions") {
    val p = 3 // not the session's 4 shuffle partitions
    val rows = wordRows(1L -> 36, 2L -> 60, 3L -> 12, 4L -> 4, 5L -> 30)
    val docs = spark.sparkContext.parallelize(rows, p).toDF("doc_id", "text")
    val st = new Strategies(ExtractiveSummarizer, cfg = collapseCfg)
    for ((name, out) <- Seq("iterative" -> st.iterative(docs), "mapreduce" -> st.mapReduce(docs))) {
      assert(shuffles(out).isEmpty, s"$name plans a shuffle:\n${out.queryExecution.executedPlan}")
      assert(out.rdd.getNumPartitions == p, name)
      assert(out.select("doc_id").as[Long].collect().sorted.toSeq == rows.map(_._1), name)
    }
  }

  test("plan shape: hierarchical plans one shuffle and runs no job while it is built") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("hierarchical-build", "build")
      val out = new Hierarchical(ExtractiveSummarizer, cfg).summarize(TreeOps.synthesize(docs))
      // events arrive in order: once a later sentinel job is seen, every
      // job the build started has been seen too
      sc.setJobGroup("sentinel", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("sentinel"))
      assert(!groups.contains("hierarchical-build"), "building the frame ran a job")
      assert(shuffles(out).size == 1, out.queryExecution.executedPlan)
      // an explicit-count repartition, which AQE leaves uncoalesced
      val exchange = shuffles(out).head
      assert(exchange.shuffleOrigin == REPARTITION_BY_NUM, exchange)
      assert(exchange.outputPartitioning.numPartitions == sc.defaultParallelism, exchange)
      assert(out.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("plan shape: hierarchical folds its docs on defaultParallelism partitions under AQE") {
    // AQE would coalesce the tree's small shuffle into one task
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val rows = (1L to 6L).map(id => id -> (0 until 12 + 5 * id.toInt)
      .map(i => s"d${id}w$i" + (if (i % 6 == 5) "." else "")).mkString(" "))
    val out = new Hierarchical(ExtractiveSummarizer, cfg)
      .summarize(TreeOps.synthesize(rows.toDF("doc_id", "text")))
    assert(out.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq == rows.map(_._1))
  }

  test("golden pin: strategy outputs are byte-stable across versions") {
    // Exact expected strings for a fixed corpus under Pipelines.TestCfg —
    // any change here is a semantic change to a strategy (or the extractive
    // scorer) and must be deliberate. Regenerate with Test/runMain
    // graft.GoldenGen.
    val gdocs = Seq(
      (1L, "Alpha beta gamma delta. Epsilon zeta eta theta iota kappa. " +
        "Lambda mu nu xi omicron pi rho sigma. Tau upsilon phi chi psi omega. " +
        "Alpha again closes the loop with beta and gamma for emphasis."),
      (2L, "One two three. Four five six seven eight nine ten eleven twelve. " +
        "Thirteen fourteen fifteen sixteen. Seventeen eighteen nineteen twenty."))
      .toDF("doc_id", "text")
    val s = Pipelines.strategies()
    def out(df: DataFrame): Map[Long, String] =
      df.orderBy("doc_id").as[(Long, String)].collect().toMap
    assert(out(s.truncated(gdocs)) == Map(
      1L -> "Epsilon zeta eta theta iota kappa.",
      2L -> "Four five six seven eight nine ten eleven"))
    assert(out(s.mapReduce(gdocs)) == Map(
      1L -> "loop with beta and gamma for emphasis.",
      2L -> "Four five six seven eight nine ten eleven"))
    assert(out(s.mapReduceCritique(gdocs)) == Map(
      1L -> "loop with beta and gamma for emphasis.",
      2L -> "Four five six seven eight nine ten eleven"))
    assert(out(s.iterative(gdocs)) == Map(
      1L -> "loop with beta and gamma for emphasis.",
      2L -> "Four five six seven eight nine ten eleven"))
  }

  test("M2 bertScore: identical texts 1.0; disjoint near 0; asymmetric P/R") {
    val pairs = Seq(
      (1L, "alpha beta gamma", "alpha beta gamma"),      // identical
      (2L, "zz yy xx", "alpha beta gamma"),              // disjoint
      (3L, "alpha beta", "alpha beta gamma delta"))      // cand subset of ref
      .toDF("doc_id", "gen", "ref")
    val got = Metrics.bertScore(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("bert_p"), r.getAs[Double]("bert_r"), r.getAs[Double]("bert_f")))
      .toMap
    assert(got(1L) == ((1.0, 1.0, 1.0)))
    assert(got(2L)._3 < 0.5) // hashing embeddings: unrelated tokens rarely match
    val (p3, r3, _) = got(3L)
    assert(p3 == 1.0)  // every candidate token has an exact ref match
    assert(r3 < 1.0)   // ref tokens gamma/delta unmatched at full similarity
  }

  test("M2 BertScore greedy-match formula on hand vectors") {
    import graft.core.BertScore
    val e1 = Array(1f, 0f); val e2 = Array(0f, 1f)
    // cand [e1], ref [e1, e2]: P = 1.0, R = mean(1.0, 0.0) = 0.5, F = 2/3
    val (p, r, f) = BertScore.greedyMatch(Array(e1), Array(e1, e2))
    assert(p == 1.0 && r == 0.5)
    assert(math.abs(f - 2.0 / 3.0) < 1e-12)
    assert(BertScore.greedyMatch(Array.empty, Array(e1)) == ((0.0, 0.0, 0.0)))
  }

  test("M1/M3/M5 pairMetrics: identical pair scores 1.0 on rouge and cosine") {
    val pairs = Seq((1L, "same summary text", "same summary text"),
      (2L, "alpha beta", "gamma delta")).toDF("doc_id", "gen", "ref")
    val m = Metrics.pairMetrics(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(math.abs(m(1L).getAs[Double]("rouge1_f") - 1.0) < 1e-9)
    assert(math.abs(m(1L).getAs[Double]("semantic_similarity") - 1.0) < 1e-6)
    assert(m(2L).getAs[Double]("rouge1_f") == 0.0)
  }

  test("G6 summaryStats: long-format mean/std/min/max (population std)") {
    val metrics = Seq((1L, 0.2), (2L, 0.4), (3L, 0.6)).toDF("doc_id", "m")
    val s = Metrics.summaryStats(metrics, Seq("m")).collect().head
    assert(s.getAs[String]("metric") == "m")
    assert(math.abs(s.getAs[Double]("mean") - 0.4) < 1e-9)
    // population std of {0.2,0.4,0.6} = sqrt(2/75) = 0.1633
    assert(math.abs(s.getAs[Double]("std") - 0.1633) < 1e-4)
    assert(s.getAs[Double]("min") == 0.2 && s.getAs[Double]("max") == 0.6)
  }

  test("G7 similarityHistogram buckets and percentages") {
    val metrics = Seq(0.9, 0.8, 0.5, 0.1).toDF("semantic_similarity")
    val got = Metrics.similarityHistogram(metrics).collect()
      .map(r => r.getAs[String]("bucket") -> (r.getAs[Long]("n"), r.getAs[Double]("pct")))
      .toMap
    assert(got("high") == (2L, 50.0))
    assert(got("moderate") == (1L, 25.0))
    assert(got("low") == (1L, 25.0))
  }

  test("M4 judgeMetrics: verdicts with pass flag; stats aggregate") {
    val pairs = Seq(
      (1L, "alpha beta gamma delta", "alpha beta gamma delta"), // full coverage
      (2L, "unrelated words", "alpha beta gamma delta"))        // no coverage
      .toDF("doc_id", "gen", "ref")
    val judged = Metrics.judgeMetrics(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("passed")).toMap
    assert(judged == Map(1L -> true, 2L -> false))
    val stats = Metrics.judgeStats(Metrics.judgeMetrics(pairs)).collect().head
    assert(stats.getAs[Long]("n_pairs") == 2L)
    assert(stats.getAs[Long]("n_passed") == 1L)
    assert(stats.getAs[Long]("n_failures") == 0L)
    assert(stats.getAs[Double]("pass_rate") == 0.5)
    // G-Eval-shaped rubric blocks: pair 1 covers all source vocab
    // (correctness 1.0), pair 2 none (0.0); both summaries have no repeated
    // tokens (coherence 1.0)
    assert(stats.getAs[Double]("corr_mean") == 0.5)
    assert(stats.getAs[Double]("corr_min") == 0.0 &&
      stats.getAs[Double]("corr_max") == 1.0)
    assert(stats.getAs[Double]("coh_mean") == 1.0)
  }

  test("G8 bestModelPerMetric: argmax with deterministic tie-break") {
    val stats = Seq(
      ("rouge1", "model_a", 0.5), ("rouge1", "model_b", 0.7),
      ("rouge2", "model_a", 0.3), ("rouge2", "model_b", 0.3))
      .toDF("metric", "model", "mean")
    val got = Metrics.bestModelPerMetric(stats).collect()
      .map(r => r.getAs[String]("metric") -> r.getAs[String]("best_model")).toMap
    assert(got("rouge1") == "model_b")
    assert(got("rouge2") == "model_b") // tie -> lexicographically larger model
  }
}

/** Records every summarize call in a JVM-global log keyed per instance; a
  * local[n] session runs its tasks in this JVM, and a task's deserialized
  * copy keeps the key. `prepared` is not forwarded, so critique retries
  * are recorded too.
  */
final class CountingSummarizer(inner: Summarizer) extends Summarizer {
  private val key = java.util.UUID.randomUUID().toString

  override def summarize(text: String, maxTokens: Int): String = {
    CountingSummarizer.log.computeIfAbsent(key, _ => new ConcurrentLinkedQueue[(String, Int)]())
      .add((text, maxTokens))
    inner.summarize(text, maxTokens)
  }

  def calls: Seq[(String, Int)] =
    Option(CountingSummarizer.log.get(key)).map(_.asScala.toSeq).getOrElse(Nil)
}

object CountingSummarizer {
  private val log = new ConcurrentHashMap[String, ConcurrentLinkedQueue[(String, Int)]]()
}

/** Keeps maxTokens - 1 leading tokens plus a tag hashed from the whole
  * input, so a summary never equals its input and a part re-summarized
  * in a later round is a new (input, budget) pair.
  */
object TaggingSummarizer extends Summarizer {
  override def summarize(text: String, maxTokens: Int): String =
    (Text.wsTokens(text).take(maxTokens - 1) :+ f"h${text.hashCode}%08x").mkString(" ")
}
