package longdocbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.PipelineConfig
import graft.eval.Metrics
import graft.llm.{ExtractiveSummarizer, HttpSummarizer, Summarizer, TinyTransformer}
import graft.operators.{CorpusOps, Sinks, TreeOps}
import graft.strategy.{Hierarchical, Strategies}

/** What one pass did: its wall and process CPU seconds, the items it
  * committed (docs per strategy plus evaluated pairs), and per step
  * (strategy or evaluation) the items and seconds.
  */
final case class PassOut(wall: Double, cpu: Double, items: Long, steps: Vector[(String, Long, Double)])

/** Everything a pass needs: the session, the tracer on traced passes, and
  * whether this is the run's set-up step, which runs only the workload's
  * first strategy over its first doc.
  */
final case class PassCtx(spark: SparkSession, tracer: Option[Tracer], setup: Boolean = false) {
  def span[T](name: String)(f: => T): T = tracer.fold(f)(_.span(name)(f))
}

/** A summarization workload: strategies over a generated long-document
  * corpus of `n` docs, each committed as the CLI commits it.
  */
abstract class Workload(val name: String, val seed: Long, work: Path, n: Int) {
  val cfg = PipelineConfig()
  def strategies: Seq[String]
  def scalar: Summarizer
  /** The scalar the replay calls directly. */
  def replayScalar: Summarizer
  def docs: Int = n
  /** Seconds a warm pass takes on 4 cores; `--seconds` / this is the
    * number of measured passes.
    */
  def nominalPassSeconds: Double
  val corpus: Path = work.resolve("corpus").resolve(s"$name-n$n-seed$seed-${Corpus.Version}")
  val out: Path = work.resolve("out").resolve(name)
  /** Collapse rounds the replayed sample needed. */
  var replayRounds = 0

  /** Generates the corpus and writes it under [[corpus]] as `parts`
    * files per table, without Spark; returns its measured shape. Throws
    * if the shape drifted.
    */
  def generate(parts: Int): String

  protected def write(docs: Vector[Corpus.GenDoc], parts: Int): String = {
    Corpus.writeDocs(corpus, docs, parts)
    Corpus.shapes(docs).toSeq.sortBy(_._1).map { case (k, v) => s"$k: $v" }.mkString("; ")
  }

  def pass(ctx: PassCtx): PassOut

  protected def cpuNow(): Double = Bench.processCpu()

  def loadDocs(ctx: PassCtx): DataFrame = {
    val d = CorpusOps.documents(ctx.spark, corpus.toString)
    if (ctx.setup) d.filter(col("doc_id") === 0L) else d
  }

  /** Runs the strategies and commits each summaries table. Traced passes
    * persist and count a strategy's output inside its span, so the sink
    * span times the write alone.
    */
  protected def summaries(ctx: PassCtx, docs: DataFrame): Vector[(String, Long, Double)] = {
    val s: Summarizer = if (ctx.tracer.isDefined) new TracedSummarizer(scalar) else scalar
    val st = new Strategies(s, cfg = cfg)
    val k = if (ctx.setup) 1L else n.toLong
    (if (ctx.setup) strategies.take(1) else strategies).toVector.map { name =>
      def run: DataFrame = name match {
        case "truncated" => st.truncated(docs)
        case "mapreduce" => st.mapReduce(docs)
        case "critique" => st.mapReduceCritique(docs)
        case "iterative" => st.iterative(docs)
        case "hierarchical" => new Hierarchical(s, cfg).summarize(TreeOps.synthesize(docs))
      }
      val path = out.resolve(name).resolve("summaries").toString
      val t0 = System.nanoTime()
      ctx.tracer match {
        case None => Sinks.writeSummaryTable(run, path)
        case Some(t) =>
          val df = t.span(s"strategy.$name") { val d = run.persist(StorageLevel.MEMORY_AND_DISK); d.count(); d }
          t.span(s"sink.$name")(Sinks.writeSummaryTable(df, path))
          df.unpersist()
      }
      (name, k, (System.nanoTime() - t0) / 1e9)
    }
  }

  /** Layer probes run only on traced passes: the scan, the chunker and
    * (when hierarchical runs) the tree synthesizer, each forced on its own.
    */
  protected def probes(ctx: PassCtx, docs: DataFrame): Unit = ctx.tracer.foreach { t =>
    t.span("scan")(docs.write.format("noop").mode("overwrite").save())
    val perDoc = t.span("chunk")(CorpusOps.chunkDocs(docs, cfg).groupBy("doc_id").count().collect())
    Bench.chunkCounts = perDoc.map(_.getLong(1))
    if (strategies.contains("hierarchical")) {
      val nodes = t.span("tree")(TreeOps.synthesize(docs).groupBy("doc_id").count().collect())
      Bench.treeNodes = nodes.map(_.getLong(1))
    }
  }

  /** Checks the outputs of the full pass just run; with `replay`, also
    * compares a sample with plain-Scala replays.
    */
  def check(spark: SparkSession, checks: Checks, replay: Boolean): Unit = {
    val expected = (0L until n).toSet
    val texts: Map[Long, String] = if (!replay) Map.empty else {
      import spark.implicits._
      CorpusOps.documents(spark, corpus.toString).as[(Long, String)].collect().toMap
    }
    // the replay sample: the first two docs and the longest
    lazy val sample = (Seq(0L, 1L) :+ texts.maxBy(_._2.length)._1).distinct
    lazy val r = new Checks.Replay(replayScalar, cfg)
    strategies.foreach { s =>
      val rows = {
        import spark.implicits._
        spark.read.parquet(out.resolve(s).resolve("summaries").toString)
          .select(col("doc_id").cast("long"), col("summary")).as[(Long, String)].collect().toSeq
      }
      val budget = if (s == "critique") Checks.critiqueBudget(cfg) else cfg.maxSummaryTokens
      Bench.failedItems += checks.summaries(s"$name/$s", rows, expected, budget)
      Bench.recordDigest(checks, name, seed, s, Checks.digest(rows))
      if (replay) {
        val got = rows.toMap
        sample.foreach { id =>
          val want = s match {
            case "truncated" => Some(r.truncated(texts(id)))
            case "mapreduce" =>
              val (sum, rounds) = r.mapReduce(texts(id))
              replayRounds = math.max(replayRounds, rounds)
              Some(sum)
            case "iterative" => Some(r.iterative(texts(id)))
            case _ => None
          }
          want.foreach(w => checks.require(got.get(id).contains(w),
            s"$name/$s: doc $id differs from the plain-Scala replay"))
        }
      }
    }
  }
}

/** ds1_inproc: the paper's corpus through all five strategies with the
  * in-process extractive scalar, then evaluated against lead references
  * as the `evaluate` command composes it: `--tx-bertscore` over the
  * mapreduce summaries (pair metrics joined with the contextual BERTScore
  * of the seeded transformer, statistics, histogram, JSON report) and
  * the judge's verdicts and statistics on the same pairs. The `--sweep`
  * comparison (`bestModelPerMetric`) is left out: it re-scores a second
  * strategy's pairs, and a run has no time for it next to three passes.
  */
final class Ds1InProc(seed: Long, work: Path, n: Int) extends Workload("ds1_inproc", seed, work, n) {
  val strategies = Seq("truncated", "mapreduce", "critique", "iterative", "hierarchical")
  def nominalPassSeconds = 11.0
  def scalar: Summarizer = ExtractiveSummarizer
  def replayScalar: Summarizer = ExtractiveSummarizer
  private val metricCols = Seq("semantic_similarity", "rouge1_f", "rouge2_f", "rougeL_f")
  private val txCols = Seq("tx_bert_p", "tx_bert_r", "tx_bert_f")
  private lazy val encoder = TinyTransformer()

  def generate(parts: Int): String = {
    val docs = Corpus.generateDocs(seed, n, id => ("ds1", Corpus.ds1Tokens(seed, id, n)), 714)
    Corpus.requireDs1(Corpus.shapes(docs)("ds1"))
    write(docs, parts)
  }

  def pass(ctx: PassCtx): PassOut = {
    val t0 = System.nanoTime(); val c0 = cpuNow()
    val docs = loadDocs(ctx)
    probes(ctx, docs)
    val steps = summaries(ctx, docs)
    if (ctx.setup) return PassOut((System.nanoTime() - t0) / 1e9, cpuNow() - c0, 1, steps)
    val e0 = System.nanoTime()
    val spark = ctx.spark
    def table(path: Path, alias: String): DataFrame = spark.read.parquet(path.toString)
      .select(col("doc_id").cast("long"), col("summary").as(alias))
    val pairs = table(out.resolve("mapreduce").resolve("summaries"), "gen")
      .join(table(corpus.resolve("refs.parquet"), "ref"), "doc_id")
    val pm = Bench.evalStep(ctx, "eval.pair_metrics")(Metrics.pairMetrics(pairs))
    val tx = Bench.evalStep(ctx, "eval.bertscore_tx")(Metrics.bertScoreContextual(pairs, encoder)
      .withColumnRenamed("bert_p", "tx_bert_p")
      .withColumnRenamed("bert_r", "tx_bert_r")
      .withColumnRenamed("bert_f", "tx_bert_f"))
    val metrics = pm.join(tx, Seq("doc_id"), "left")
    val (stats, hist) = Bench.evalStep2(ctx, "eval.stats")(
      Metrics.summaryStats(metrics, metricCols), Metrics.similarityHistogram(metrics))
    ctx.span("sink.report")(Sinks.writeJsonReport(stats, hist, metrics.orderBy("doc_id"),
      out.resolve("eval").resolve("report.json").toString))

    val judged = Bench.evalStep(ctx, "eval.judge")(Metrics.judgeMetrics(pairs))
    val judge = ctx.span("eval.judge")(Metrics.judgeStats(judged).toJSON.collect().mkString)
    ctx.span("sink.report")(java.nio.file.Files.writeString(out.resolve("eval").resolve("judge.json"), judge))
    Bench.unpersistAll(pm, tx, stats, hist, judged)
    val evalSecs = (System.nanoTime() - e0) / 1e9
    val wall = (System.nanoTime() - t0) / 1e9
    PassOut(wall, cpuNow() - c0, steps.map(_._2).sum + n, steps :+ (("eval", n.toLong, evalSecs)))
  }

  override def check(spark: SparkSession, checks: Checks, replay: Boolean): Unit = {
    super.check(spark, checks, replay)
    val dir = out.resolve("eval")
    Bench.checkReport(checks, s"$name/eval", dir.resolve("report.json"), n, metricCols ++ txCols, metricCols)
    val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(dir.resolve("judge.json").toFile)
    checks.require(j.get("n_pairs").asLong == n && j.get("n_failures").asLong == 0,
      s"$name: judge statistics cover ${j.get("n_pairs")} pairs with ${j.get("n_failures")} failures")
    Bench.failedItems += j.get("n_failures").asLong
    Seq("pass_rate", "corr_mean", "coh_mean").foreach(k => checks.in(s"$name judge $k", j.get(k).asDouble, 0, 1))
    Bench.recordDigest(checks, name, seed, "eval",
      Checks.jsonDigest(Seq(dir.resolve("report.json"), dir.resolve("judge.json"))))
  }
}

/** mixed_http: ds2- and ds1-shaped docs alternating, through the HTTP
  * scalar against the fixture backend.
  */
final class MixedHttp(seed: Long, work: Path, n: Int, backend: Backend)
    extends Workload("mixed_http", seed, work, n) {
  val strategies = Seq("truncated", "mapreduce", "critique", "iterative")
  def nominalPassSeconds = 9.0
  def scalar: Summarizer = HttpSummarizer(backend.url, "fixture-echo")
  /** Process CPU less the fixture's, which shares the JVM. */
  override protected def cpuNow(): Double = Bench.processCpu() - backend.cpuSeconds
  def replayScalar: Summarizer = Checks.EchoSummarizer

  def generate(parts: Int): String = {
    val docs = Corpus.generateDocs(seed, n, id =>
      if (id % 2 == 0) ("ds2", Corpus.ds2Tokens(seed, id))
      else ("ds1", Corpus.ds1Tokens(seed, id / 2, n / 2)), 0)
    val shape = Corpus.shapes(docs)
    Corpus.requireDs1(shape("ds1"))
    require(shape("ds2").maxChunks == 1, s"ds2-shaped docs must be one chunk: ${shape("ds2")}")
    write(docs, parts)
  }

  def pass(ctx: PassCtx): PassOut = {
    val t0 = System.nanoTime(); val c0 = cpuNow()
    val docs = loadDocs(ctx)
    probes(ctx, docs)
    val steps = summaries(ctx, docs)
    PassOut((System.nanoTime() - t0) / 1e9, cpuNow() - c0, steps.map(_._2).sum, steps)
  }
}

object Workloads {
  def names: Seq[String] = Seq("ds1_inproc", "mixed_http")
  /** Docs per corpus: as many as let the cold set-up and [[Bench.MinPasses]]
    * measured passes fit a run in about a minute on 4 cores.
    */
  val Ds1Docs = 6
  val MixedDocs = 6
}
