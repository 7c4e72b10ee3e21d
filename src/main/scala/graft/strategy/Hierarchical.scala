package graft.strategy

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.PipelineConfig
import graft.functions.orderedConcat
import graft.llm.Summarizer

/** Q5 Hierarchical strategy (SURVEY.md §2.3; reference:
  * runners/run_summarization_ollama_mapreduce_hierarchical.py:277-315).
  *
  * Bottom-up over the adjacency-list node table, deepest level first. At
  * depth d every non-Paragraph node's children (all Paragraphs by the loop
  * invariant — deeper levels were collapsed in earlier rounds) are
  * concatenated in order and summarized, and the node + subtree is replaced
  * by ONE title-prefixed Paragraph at depth d (reference subtree
  * replacement :232-239, title preservation :250-271, empty-body handling
  * :255-258). Each round is one grouped aggregate + one join; the driver
  * loop is bounded by tree height. Functional rewrite, never in-place:
  * kept-rows ∪ new-paragraph-rows (SURVEY.md §7.4.3).
  */
final class Hierarchical(
    summarizer: Summarizer,
    cfg: PipelineConfig = PipelineConfig()) extends Serializable {

  private val summarizeUdf =
    udf((t: String) => if (t == null) "" else summarizer.summarize(t, cfg.maxSummaryTokens))

  // chunk cap at 75% of the context budget (reference :176-179)
  private val capTokens = math.max((cfg.tokenMax * 3) / 4, cfg.maxSummaryTokens)

  /** Collapse all non-Paragraph nodes at depth d into single Paragraphs. */
  private def collapseLevel(nodes: DataFrame, d: Int): DataFrame = {
    val parents = nodes
      .filter(col("depth") === d && col("node_type") =!= "Paragraph")
      .select(col("doc_id"), col("node_id"), col("parent_id"),
        col("text").as("title"), col("ord"))
    // every depth d+1 row hangs under a depth-d parent; paragraph parents
    // have no children, so grouping by parent covers exactly the sections
    val sections = nodes.filter(col("depth") === d + 1)
      .groupBy(col("doc_id"), col("parent_id"))
      .agg(orderedConcat("text", "\n\n", "ord", "node_id").as("section_text"))
    val newParas = parents
      .join(sections.withColumnRenamed("parent_id", "node_id"),
        Seq("doc_id", "node_id"), "left") // left: empty-body headers survive
      .select(
        col("doc_id"), col("node_id"), col("parent_id"),
        lit(d).as("depth"),
        lit("Paragraph").as("node_type"),
        concat(col("title"), lit("\n\n"),
          summarizeUdf(graft.functions.truncateTokens(
            coalesce(col("section_text"), lit("")), capTokens))).as("text"),
        col("ord"))
    // keep: everything above d, plus Paragraphs already at d; all depth d+1
    // rows are consumed, deeper rows no longer exist by the invariant
    nodes.filter(col("depth") < d ||
        (col("depth") === d && col("node_type") === "Paragraph"))
      .unionByName(newParas.select(scala.collection.immutable.ArraySeq.unsafeWrapArray(nodes.columns.map(col)): _*))
  }

  /** Run the full bottom-up collapse; returns (doc_id, summary). */
  def summarize(nodes0: DataFrame): DataFrame = {
    // persist first: the depth probe (reference :281-285) then fills the
    // cache, so the tree is built once, not once for the probe and again
    // for the first level
    var nodes = nodes0.persist(StorageLevel.MEMORY_AND_DISK)
    val maxDepth = nodes.agg(max(col("depth"))).head().getInt(0)
    var d = maxDepth - 1
    while (d >= 1) {
      val next = collapseLevel(nodes, d).persist(StorageLevel.MEMORY_AND_DISK)
      next.count() // materialize before dropping the parent lineage
      nodes.unpersist()
      nodes = next
      d -= 1
    }
    // root gather (depth-1 children in order) + final summarize + polish
    // pass (reference :296-313; polish = one more scalar transform)
    val out = nodes.filter(col("depth") === 1)
      .groupBy(col("doc_id"))
      .agg(orderedConcat("text", "\n\n", "ord", "node_id").as("text"))
      .select(col("doc_id"),
        graft.functions.squeezeWhitespace(
          summarizeUdf(graft.functions.truncateTokens(col("text"), capTokens)))
          .as("summary"))
    out
  }
}
