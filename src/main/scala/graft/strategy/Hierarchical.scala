package graft.strategy

import java.util.regex.Pattern

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions.{col, collect_list, struct}

import graft.core.{PipelineConfig, TreeNode}
import graft.llm.Summarizer

/** Q5 Hierarchical strategy (SURVEY.md §2.3; reference:
  * runners/run_summarization_ollama_mapreduce_hierarchical.py:277-315).
  *
  * Like the reference, one document's tree is collapsed at a time. One
  * shuffle spreads the adjacency-list nodes over `defaultParallelism` hash
  * partitions of `doc_id`, so every core folds its own docs: the count is
  * explicit because AQE never coalesces a `REPARTITION_BY_NUM` exchange,
  * and would fold the tree's small shuffle into one task otherwise. A
  * `groupBy(doc_id)`, which that hash partitioning already satisfies,
  * gathers each doc's nodes in a hash aggregate: no second shuffle, and
  * no per-task sort buffer. A plain-Scala walk collapses each doc's nodes
  * bottom-up. With h the doc's deepest depth, every non-Paragraph node at
  * depth 1..h-1 becomes `title + "\n\n" + summarize(truncate(children))`,
  * its collapsed children joined by "\n\n" in (ord, node_id) order
  * (subtree replacement :232-239, title preservation :250-271, empty
  * bodies :255-258); Paragraphs and depth-h nodes keep their text. The
  * summary is the squeezed summarize of the depth-1 values joined the same
  * way (:296-313); a doc without depth-1 nodes yields no row. Nulls follow Spark's `concat` / `array_join`: a
  * null title nulls its node, a null child is skipped, and a node of null
  * type below depth h is dropped.
  */
final class Hierarchical(
    summarizer: Summarizer,
    cfg: PipelineConfig = PipelineConfig()) extends Serializable {

  import Hierarchical.{squeeze, truncate}

  // chunk cap at 75% of the context budget (reference :176-179)
  private val capTokens = math.max((cfg.tokenMax * 3) / 4, cfg.maxSummaryTokens)

  private def summarizeCapped(t: String): String =
    summarizer.summarize(truncate(t, capTokens), cfg.maxSummaryTokens)

  private def joined(level: Seq[(TreeNode, String)]): String =
    level.sortBy { case (n, v) => (n.ord, n.node_id, Option(v)) }
      .collect { case (_, v) if v != null => v }.mkString("\n\n")

  /** One doc's bottom-up collapse: its summary, or None without depth-1 nodes. */
  private def collapse(nodes: Seq[TreeNode]): Option[String] = {
    val byDepth = nodes.groupBy(_.depth)
    val h = byDepth.keys.max
    var level = Seq.empty[(TreeNode, String)]
    for (d <- h to 1 by -1) {
      val children = level.groupBy(_._1.parent_id)
      level = byDepth.getOrElse(d, Nil).flatMap { n =>
        if (d == h || n.node_type == "Paragraph") Some(n -> n.text)
        else if (n.node_type == null) None
        else {
          val body = summarizeCapped(joined(children.getOrElse(n.node_id, Nil)))
          Some(n -> (if (n.text == null || body == null) null else n.text + "\n\n" + body))
        }
      }
    }
    Option.when(level.nonEmpty)(squeeze(summarizeCapped(joined(level))))
  }

  /** Run the full bottom-up collapse; returns (doc_id, summary). */
  def summarize(nodes: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val fields = Encoders.product[TreeNode].schema.fieldNames.toIndexedSeq.map(col)
    nodes.repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .groupBy("doc_id").agg(collect_list(struct(fields: _*)))
      .as[(Long, Seq[TreeNode])]
      .flatMap { case (id, doc) => collapse(doc).map(id -> _) }
      .toDF("doc_id", "summary")
  }
}

object Hierarchical {
  private val ws = Pattern.compile("\\s+")
  private val edgeSpaces = Pattern.compile("^ +| +\\z") // Spark's trim: U+0020 only

  /** `graft.functions.truncateTokens` on a String (Spark's `split` keeps
    * leading and trailing empty fields).
    */
  private[graft] def truncate(s: String, k: Int): String =
    if (s == null) null
    else ws.split(edgeSpaces.matcher(s).replaceAll(""), -1).take(k).mkString(" ")

  /** `graft.functions.squeezeWhitespace` on a String. */
  private[graft] def squeeze(s: String): String =
    if (s == null) null else edgeSpaces.matcher(ws.matcher(s).replaceAll(" ")).replaceAll("")
}
