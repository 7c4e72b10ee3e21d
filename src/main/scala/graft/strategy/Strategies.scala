package graft.strategy

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{PipelineConfig, Text}
import graft.functions.{orderedConcat, tokenCount => tokenCountCol}
import graft.llm.{CoverageJudge, Judge, Summarizer}
import graft.operators.CorpusOps

/** The five summarization strategies (SURVEY.md §2.3 Q1-Q5) as DataFrame
  * programs over a pluggable [[Summarizer]] scalar.
  *
  * Input contract: `docs` has (doc_id: long, text: string). Output:
  * (doc_id, summary).
  *
  * Scale notes:
  *  - Parallelism is per-chunk for map stages and per-doc for folds; no
  *    stage ever materializes a whole corpus on one node.
  *  - The collapse fixed-point (Q2/Q3) is a driver loop over a persisted
  *    DataFrame (the standard Spark iterative-algorithm shape, like ALS);
  *    each round re-persists and unpersists the previous round to keep
  *    lineage bounded.
  *  - Only over-budget docs re-enter the loop (semi/anti split), so late
  *    rounds touch a shrinking fraction of the data.
  */
final class Strategies(
    summarizer: Summarizer,
    judge: Judge = CoverageJudge(),
    cfg: PipelineConfig = PipelineConfig()) extends Serializable {

  private val summarizeUdf =
    udf((t: String) => if (t == null) "" else summarizer.summarize(t, cfg.maxSummaryTokens))

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

  /** One map round: summarize every chunk in parallel (the reference's
    * `Send` fan-out, runners/run_summarization_ollama_mapreduce.py:109-112).
    */
  private def mapSummarize(chunks: DataFrame): DataFrame =
    chunks
      .withColumn("text", summarizeUdf(col("text")))
      .withColumn("n_tokens", tokenCountCol(col("text")))
      .select("doc_id", "chunk_idx", "text", "n_tokens")

  /** One collapse round over the given chunk set: greedy bin-pack to the
    * token budget, concat each bin in chunk order, `reduce` each bin
    * (reference: runners/run_summarization_ollama_mapreduce.py:130-144).
    * Pack+concat run fused (one shuffle per round — see
    * [[CorpusOps.binPackConcat]]).
    */
  private def collapseOnce(reduce: UserDefinedFunction)(chunks: DataFrame): DataFrame =
    CorpusOps.binPackConcat(chunks, cfg.tokenMax)
      .select(
        col("doc_id"),
        col("bin").cast("int").as("chunk_idx"),
        reduce(col("text")).as("text"))
      .withColumn("n_tokens", tokenCountCol(col("text")))
      .select("doc_id", "chunk_idx", "text", "n_tokens")

  /** Over-budget doc ids of a chunk set (the loop predicate's input). */
  private def overBudgetDocs(chunks: DataFrame, budget: Long): DataFrame =
    chunks.groupBy("doc_id")
      .agg(sum("n_tokens").as("doc_tokens"))
      .filter(col("doc_tokens") > budget)
      .select("doc_id")

  /** Fixed-point collapse: while any doc's summaries exceed `budget`,
    * re-pack and re-summarize that doc's summaries (only over-budget docs
    * re-enter; reference predicate `should_collapse`,
    * runners/run_summarization_ollama_mapreduce.py:147-154, recursion_limit 10).
    * ONE Spark action per round — counting the over-budget docs of the
    * freshly-built round also materializes its persist (the aggregate
    * consumes every partition), so there is no separate `next.count()`
    * before dropping the parent.
    */
  private def fixedPointCollapse(mapped0: DataFrame, budget: Long,
      collapse: DataFrame => DataFrame): DataFrame = {
    var cur = mapped0.persist(StorageLevel.MEMORY_AND_DISK)
    var overDocs = overBudgetDocs(cur, budget).persist(StorageLevel.MEMORY_AND_DISK)
    var overCount = overDocs.count() // materializes cur too
    var round = 0
    while (round < cfg.maxCollapseRounds && overCount > 0) {
      val over = cur.join(overDocs, Seq("doc_id"), "left_semi")
      val under = cur.join(overDocs, Seq("doc_id"), "left_anti")
      val next = under.unionByName(collapse(over))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nextOverDocs = overBudgetDocs(next, budget).persist(StorageLevel.MEMORY_AND_DISK)
      overCount = nextOverDocs.count() // materializes next before parent drop
      cur.unpersist()
      overDocs.unpersist()
      cur = next
      overDocs = nextOverDocs
      round += 1
    }
    overDocs.unpersist()
    cur
  }

  /** Final reduce: concat all of a doc's (collapsed) summaries in order,
    * one last `reduce` (reference: :157-164).
    */
  private def finalReduce(reduce: UserDefinedFunction)(chunks: DataFrame): DataFrame =
    chunks.groupBy(col("doc_id"))
      .agg(orderedConcat("text", "\n\n", "chunk_idx").as("text"))
      .select(col("doc_id"), reduce(col("text")).as("summary"))

  /** Q2 Map-Reduce: split -> parallel map-summarize -> fixed-point collapse
    * -> final reduce (reference graph:
    * runners/run_summarization_ollama_mapreduce.py:75-180).
    */
  def mapReduce(docs: DataFrame): DataFrame = {
    val mapped = mapSummarize(CorpusOps.chunkDocs(docs, cfg))
    finalReduce(summarizeUdf)(
      fixedPointCollapse(mapped, cfg.tokenMax, collapseOnce(summarizeUdf)))
  }

  /** Q3 Map-Reduce + Critique: every reduce becomes
    * reduce -> critique -> conditional refine, bounded by
    * maxCritiqueIterations (reference `_reduce_with_critique`,
    * runners/run_summarization_ollama_mapreduce_critique.py:224-265; verdict
    * gate :253-255). The critique/refine loop is per-row local logic, so it
    * runs inside one scalar (single projection, no extra shuffles); were the
    * scalar remote-LLM-backed, the same gate would become a
    * filter + union to batch only failing rows.
    */
  private val reduceWithCritiqueUdf = udf { (source: String) =>
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
  }

  def mapReduceCritique(docs: DataFrame): DataFrame = {
    val mapped = mapSummarize(CorpusOps.chunkDocs(docs, cfg))
    // collapse loop with critique on every reduce; final gets the
    // half-budget headroom check of the reference (:315) via tokenMax/2
    val halfBudget = math.max(cfg.tokenMax / 2, 1).toLong
    finalReduce(reduceWithCritiqueUdf)(fixedPointCollapse(mapped, halfBudget,
      collapseOnce(reduceWithCritiqueUdf)))
  }

  /** Q4 Iterative refinement: summary_0 = summarize(chunk_0);
    * summary_i = summarize(summary_{i-1} ++ chunk_i) — an inherently
    * sequential per-doc fold (reference:
    * runners/run_summarization_ollama_iterative.py:102-187). Parallel across
    * docs, serial within a doc (by design; SURVEY.md §7.4.1). State per
    * group = one rolling summary (bounded).
    */
  def iterative(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val chunks = CorpusOps.chunkDocs(docs, cfg)
    val s = summarizer
    val budget = cfg.maxSummaryTokens
    chunks.select(col("doc_id").cast("long"), col("chunk_idx").cast("int"), col("text"))
      .as[(Long, Int, String)]
      .groupByKey(_._1)
      .mapGroups { (docId: Long, it: Iterator[(Long, Int, String)]) =>
        val ordered = it.toVector.sortBy(_._2)
        val summary = ordered.foldLeft("") { (acc, chunk) =>
          if (acc.isEmpty) s.summarize(chunk._3, budget)
          else s.summarize(acc + "\n\n" + chunk._3, budget)
        }
        (docId, summary)
      }
      .toDF("doc_id", "summary")
  }
}
