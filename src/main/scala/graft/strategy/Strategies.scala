package graft.strategy

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.reflect.runtime.universe.TypeTag

import graft.core.{BinPack, PipelineConfig}
import graft.functions.{tokenCount => tokenCountCol}
import graft.llm.{CoverageJudge, Judge, Summarizer}
import graft.operators.CorpusOps

/** The five summarization strategies (SURVEY.md §2.3 Q1-Q5) as DataFrame
  * programs over a pluggable [[Summarizer]] scalar.
  *
  * Input contract: `docs` has (doc_id: long, text: string), one row per
  * `doc_id`; a repeated id yields one output row per input row. Output:
  * (doc_id, summary). Q2-Q4 emit no row for a doc whose text splits into
  * no chunks (null, empty or blank text).
  *
  * Scale notes:
  *  - Parallelism is per document: a doc is split, and its chunks are
  *    summarized (or folded) in chunk order, inside the task that read
  *    the doc. Q2-Q4 add no shuffle, so their output keeps the input's
  *    partitioning, and no stage ever materializes a whole corpus on one
  *    node.
  *  - After the map stage, Q2/Q3 hold ONE row per document: its summaries
  *    in chunk order and their token counts (a few summaries of at most
  *    `maxSummaryTokens` each). Every collapse round and the final reduce
  *    are narrow projections over it.
  *  - The collapse fixed-point is a driver loop over that persisted state
  *    (the standard Spark iterative-algorithm shape, like ALS); each round
  *    persists the new state and unpersists the previous one to keep
  *    lineage bounded. Under-budget docs pass through a round untouched.
  */
final class Strategies(
    summarizer: Summarizer,
    judge: Judge = CoverageJudge(),
    cfg: PipelineConfig = PipelineConfig()) extends Serializable {

  private def summarizeText(t: String): String =
    if (t == null) "" else summarizer.summarize(t, cfg.maxSummaryTokens)

  private val summarizeUdf = udf(summarizeText _)

  /** Q1 Truncated: token-truncate the doc to the context budget, one
    * summarize call (reference: runners/run_summarization_ollama.py:8-37).
    * Narrow-only plan: scan -> project. Context budget mirrors the
    * reference's max_context - max_new_tokens (16384-2048) scaled to cfg.
    */
  def truncated(docs: DataFrame): DataFrame = {
    val contextBudget = math.max(cfg.tokenMax - cfg.maxSummaryTokens, cfg.maxSummaryTokens)
    docs.select(
      col("doc_id"),
      summarizeUdf(graft.functions.truncateTokens(
        graft.functions.cleanThinking(col("text")), contextBudget)).as("summary"))
  }

  /** One typed `flatMap` over (doc_id, text): `f` gets a doc's id and its
    * chunks in order (never empty) and yields its output row; a doc with
    * no chunks yields none. The operator is opaque to Catalyst, so nothing
    * is pushed below it and `f` runs once per doc.
    */
  private def perDoc[T <: Product : TypeTag](docs: DataFrame)(
      f: (Long, Vector[String]) => T): DataFrame = {
    import docs.sparkSession.implicits._
    val split = CorpusOps.chunker(cfg)
    docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val chunks = split(text)
        if (chunks.isEmpty) None else Some(f(id, chunks))
      }.toDF()
  }

  /** Map stage: split a doc and summarize each chunk in order, giving the
    * per-doc state (doc_id, parts). The reference fans the chunks out with
    * `Send` (runners/run_summarization_ollama_mapreduce.py:109-112); here
    * the fan-out is across docs, and a doc's chunks run in its task.
    */
  private def mapToDocs(docs: DataFrame): DataFrame =
    withTokens(perDoc(docs)((id, chunks) => (id, chunks.map(summarizeText)))
      .toDF("doc_id", "parts"))

  /** Adds `toks` (each part's token count) and `tok` (their sum) over the
    * projection that produces `parts`, never fused into it: Catalyst does
    * not inline an expensive expression (a round's collapse call) that two
    * columns reference, so each part is summarized once.
    */
  private def withTokens(state: DataFrame): DataFrame =
    state.withColumn("toks", transform(col("parts"), tokenCountCol(_)))
      .withColumn("tok", aggregate(col("toks"), lit(0L), _ + _))

  /** One doc's collapse step: greedy-pack its parts to the token budget,
    * join each bin in order, `reduce` each bin (reference:
    * runners/run_summarization_ollama_mapreduce.py:130-144).
    */
  private def collapse(reduce: String => String)(parts: Column, toks: Column): Column =
    udf { (ps: Seq[String], ts: Seq[Long]) =>
      ps.zip(BinPack.greedyBins(ts, cfg.tokenMax))
        .groupMap(_._2)(_._1).toSeq.sortBy(_._1)
        .map { case (_, bin) => reduce(bin.mkString("\n\n")) }
    }.apply(parts, toks)

  /** Fixed-point collapse: while any doc's summaries exceed `budget`,
    * re-pack and re-summarize that doc's summaries (reference predicate
    * `should_collapse`, runners/run_summarization_ollama_mapreduce.py:147-154,
    * recursion_limit 10). A round is one projection over the per-doc state
    * — `collapse` runs only where `tok > budget` — plus ONE Spark action,
    * the count of docs still over budget, which also materializes the
    * round's persist before the previous round is dropped. The initial
    * state gets the same count, so a call runs rounds + 1 counts.
    *
    * The loop stops after `maxCollapseRounds` rounds even if some doc is
    * still over budget. Such a doc is neither failed nor flagged: it keeps
    * its last parts, and the final reduce summarizes their join once.
    */
  private def fixedPointCollapse(state: DataFrame, budget: Long,
      reduce: String => String): DataFrame = {
    var cur = state.persist(StorageLevel.MEMORY_AND_DISK)
    var overCount = cur.filter(col("tok") > budget).count()
    var round = 0
    while (round < cfg.maxCollapseRounds && overCount > 0) {
      val next = withTokens(cur.select(col("doc_id"),
          when(col("tok") > budget, collapse(reduce)(col("parts"), col("toks")))
            .otherwise(col("parts")).as("parts")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      overCount = next.filter(col("tok") > budget).count()
      cur.unpersist()
      cur = next
      round += 1
    }
    cur
  }

  /** Map -> fixed-point collapse -> final reduce: concat a doc's
    * (collapsed) summaries in order, one last `reduce` (reference: :157-164).
    */
  private def reduceDocs(docs: DataFrame, budget: Long,
      reduce: String => String): DataFrame =
    fixedPointCollapse(mapToDocs(docs), budget, reduce)
      .select(col("doc_id"), udf(reduce).apply(array_join(col("parts"), "\n\n")).as("summary"))

  /** Q2 Map-Reduce: split -> parallel map-summarize -> fixed-point collapse
    * -> final reduce (reference graph:
    * runners/run_summarization_ollama_mapreduce.py:75-180).
    */
  def mapReduce(docs: DataFrame): DataFrame =
    reduceDocs(docs, cfg.tokenMax, summarizeText)

  /** One reduce with critique: reduce -> critique -> conditional refine,
    * bounded by maxCritiqueIterations (reference `_reduce_with_critique`,
    * runners/run_summarization_ollama_mapreduce_critique.py:224-265; verdict
    * gate :253-255).
    */
  private def reduceWithCritique(source: String): String =
    if (source == null) ""
    else {
      // prepared scalars: the source is analyzed (sentence-scored /
      // tokenized) ONCE per row; each retry iteration only re-selects under
      // the widened budget and tokenizes the new short candidate
      val summarize = summarizer.prepared(source)
      val critique = judge.preparedCritique(source)
      var budget = cfg.maxSummaryTokens
      var s = summarize(budget)
      var it = 0
      while (it < cfg.maxCritiqueIterations &&
             !critique(s).contains(Judge.NoIssues)) {
        budget = budget + math.max(budget / 2, 1) // widen budget and retry
        s = summarize(budget)
        it += 1
      }
      s
    }

  /** Q3 Map-Reduce + Critique: Q2 with every reduce replaced by
    * [[reduceWithCritique]]. The critique/refine loop is per-row local
    * logic, so it runs inside one scalar (single projection, no extra
    * shuffles); were the scalar remote-LLM-backed, the same gate would
    * become a filter + union to batch only failing rows. The collapse
    * predicate gets the reference's half-budget headroom check (:315) via
    * tokenMax/2.
    */
  def mapReduceCritique(docs: DataFrame): DataFrame =
    reduceDocs(docs, math.max(cfg.tokenMax / 2, 1).toLong, reduceWithCritique)

  /** Q4 Iterative refinement: summary_0 = summarize(chunk_0);
    * summary_i = summarize(summary_{i-1} ++ chunk_i) — an inherently
    * sequential per-doc fold (reference:
    * runners/run_summarization_ollama_iterative.py:102-187). Parallel across
    * docs, serial within a doc (by design; SURVEY.md §7.4.1): the doc is
    * split and folded in the task that read it. State per doc = one
    * rolling summary (bounded).
    */
  def iterative(docs: DataFrame): DataFrame = {
    val s = summarizer
    val budget = cfg.maxSummaryTokens
    perDoc(docs) { (id, chunks) =>
      (id, chunks.foldLeft("") { (acc, chunk) =>
        if (acc.isEmpty) s.summarize(chunk, budget)
        else s.summarize(acc + "\n\n" + chunk, budget)
      })
    }.toDF("doc_id", "summary")
  }
}
