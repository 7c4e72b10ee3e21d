package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.PipelineConfig
import graft.eval.Metrics
import graft.llm.{ExtractiveSummarizer, LeadSummarizer}
import graft.operators.{CorpusOps, TreeOps}
import graft.strategy.{Hierarchical, Strategies}

/** End-to-end summarization pipelines over the testdata documents table,
  * wired with the deterministic extractive summarizer (SURVEY.md §7.2).
  *
  * The config is scaled to the synthetic corpus (docs are ~50 tokens, vs
  * the reference's 54k-token documents): chunk=16 tokens / overlap=2,
  * collapse budget 24, summary budget 8 — proportionally the same shape
  * (multi-chunk docs, >=1 collapse round) at testdata size.
  */
object Pipelines {

  /** Token-window chunker (not the recursive splitter): every stage of the
    * registered pipelines — chunk, map-summarize, collapse loop, final
    * reduce — is then exactly expressible in DuckDB SQL, which is what
    * gives pipe_mapreduce/pipe_iterative/pipe_critique end-to-end oracles.
    * The recursive splitter remains the library default (PipelineConfig())
    * and is property-tested in SplitterSpec.
    */
  val TestCfg: PipelineConfig = PipelineConfig(
    chunkSize = 16, chunkOverlap = 2, tokenMax = 24,
    maxSummaryTokens = 8, maxCollapseRounds = 10,
    maxCritiqueIterations = 2, chunker = "token_window")

  def strategies(cfg: PipelineConfig = TestCfg): Strategies =
    new Strategies(ExtractiveSummarizer, cfg = cfg)

  def docs(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.documents(spark, dir)

  def truncated(spark: SparkSession, dir: String): DataFrame =
    strategies().truncated(docs(spark, dir))

  def mapReduce(spark: SparkSession, dir: String): DataFrame =
    strategies().mapReduce(docs(spark, dir))

  def critique(spark: SparkSession, dir: String): DataFrame =
    strategies().mapReduceCritique(docs(spark, dir))

  def iterative(spark: SparkSession, dir: String): DataFrame =
    strategies().iterative(docs(spark, dir))

  def hierarchical(spark: SparkSession, dir: String): DataFrame =
    new Hierarchical(ExtractiveSummarizer, TestCfg)
      .summarize(TreeOps.synthesize(docs(spark, dir)))

  /** Materialize-once gen/ref pairing shared by every eval_* entry point.
    *
    * All four metric queries (pair metrics, summary stats, judge scores,
    * judge stats) consume the SAME deterministic pairing: generated =
    * map-reduce pipeline output, reference = lead-summarizer baseline (the
    * corpus has no gold summaries; the pairing/metric machinery is what's
    * under test — reference shape:
    * evaluate/evaluate_summaries_semantic.py:561-575). Re-deriving it per
    * query re-runs the whole chunk -> summarize -> collapse-loop pipeline
    * each time — the single dominant cost of the eval family — so the
    * pairing is persisted once per (session, corpus dir) and reused, the
    * same way a production evaluation job materializes its summaries table
    * before fanning out metric passes. Entries are tiny (one short gen/ref
    * row per doc) and keyed by session identity, so a stopped session's
    * cache is never reused.
    */
  private val pairCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private[graft] def genRefPairs(spark: SparkSession, dir: String): DataFrame =
    pairCache.synchronized {
      pairCache.get((spark, dir))
        .filter(_ => !spark.sparkContext.isStopped)
        .getOrElse {
          val d = docs(spark, dir)
          val gen = strategies().mapReduce(d).withColumnRenamed("summary", "gen")
          val ref = d.select(col("doc_id"),
            udf((t: String) => LeadSummarizer.summarize(t, 12)).apply(col("text")).as("ref"))
          val pairs = gen.join(ref, "doc_id")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          pairCache.put((spark, dir), pairs)
          pairs
        }
    }

  /** Per-pair metric record over the shared [[genRefPairs]] pairing.
    *
    * Embedder is [[graft.llm.Md5TfCountEmbedder]] (md5 buckets, integer TF
    * weights): every cosine is exact-integer dot / sqrt(int)*sqrt(int),
    * bit-identical in DuckDB — which is what lets this query carry a hard
    * SQL oracle now that its gen side (the Q2 map-reduce pipeline) has one.
    * Metric columns are rounded to 4 decimals for oracle comparability
    * (the registry-wide convention).
    */
  def pairMetrics(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.r4
    Metrics.pairMetrics(genRefPairs(spark, dir), graft.llm.Md5TfCountEmbedder(64))
      .select(col("doc_id"),
        r4(col("semantic_similarity")).as("semantic_similarity"),
        r4(col("rouge1_f")).as("rouge1_f"),
        r4(col("rouge2_f")).as("rouge2_f"),
        r4(col("rougeL_f")).as("rougeL_f"))
      .orderBy(col("doc_id"))
  }

  def evalStats(spark: SparkSession, dir: String): DataFrame =
    Metrics.summaryStats(pairMetrics(spark, dir),
      Seq("semantic_similarity", "rouge1_f", "rouge2_f", "rougeL_f"))

  /** M4 judge pass over the same [[genRefPairs]] pairing as [[pairMetrics]]. */
  def judgeScores(spark: SparkSession, dir: String): DataFrame =
    Metrics.judgeMetrics(genRefPairs(spark, dir)).orderBy(col("doc_id"))

  /** M4+G6 aggregate: pass rate, failure isolation count and the rubric
    * distribution blocks over the [[judgeScores]] rows.
    */
  def judgeStats(spark: SparkSession, dir: String): DataFrame =
    Metrics.judgeStats(judgeScores(spark, dir))

  /** M2: BERTScore-shaped greedy-match scores over SQL-free pairs (the
    * same overlapping-token-slice pairing as eval_rouge_ngram, so the
    * score is non-degenerate without running a strategy first).
    */
  def bertScores(spark: SparkSession, dir: String): DataFrame =
    Metrics.bertScore(tokenSlicePairs(docs(spark, dir))).orderBy(col("doc_id"))

  /** The SQL-constructible eval pairing over a docs frame: gen =
    * whitespace tokens 1-20, ref = tokens 11-40 (partial overlap, so
    * precision and recall are non-degenerate). The ngram eval oracles
    * rebuild it as the list slices `[1:20]` and `[11:40]`.
    */
  def tokenSlicePairs(docs: DataFrame): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    docs.select(col("doc_id"),
      array_join(slice(toks, 1, 20), " ").as("gen"),
      array_join(slice(toks, 11, 30), " ").as("ref"))
  }
}
