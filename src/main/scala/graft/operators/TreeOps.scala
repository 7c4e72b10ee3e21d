package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Splitter, Text, TreeNode}

/** Document-structure tree operators (SURVEY.md §1.1 "Document tree", §2.3 Q5).
  *
  * The reference's tree is recursive JSON `{type, text, children}`
  * (runners/run_summarization_ollama_mapreduce_hierarchical.py:202-239,
  * data_1/document_tree.json). Spark has no recursive datatype, so trees
  * live as adjacency-list rows (doc_id, node_id, parent_id, depth,
  * node_type, text, ord); a consumer that recurses (Q5) regroups one
  * doc's rows and walks them in plain Scala.
  */
object TreeOps {

  import org.apache.spark.sql.Encoders
  private val treeEncoder = Encoders.product[TreeNode]

  /** S3: parse recursive document-structure JSON into the node table.
    * Jackson (already on Spark's classpath) parses the recursive shape that
    * `spark.read.json` cannot infer; files are parsed per-partition so a
    * directory of tree files scales with executors.
    */
  def fromJsonStrings(spark: SparkSession, jsons: DataFrame): DataFrame = {
    // jsons: (doc_id: long, json: string)
    import spark.implicits._
    jsons.select(col("doc_id").cast("long"), col("json"))
      .as[(Long, String)]
      .flatMap { case (docId, json) => parseTree(docId, json) }(treeEncoder)
      .toDF()
  }

  /** Recursive JSON -> adjacency rows. Pre-order ids; root parent = -1. */
  private[operators] def parseTree(docId: Long, json: String): Seq[TreeNode] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(json)
    val out = Vector.newBuilder[TreeNode]
    var nextId = 0L
    def walk(node: com.fasterxml.jackson.databind.JsonNode,
             parent: Long, depth: Int, ord: Int): Unit = {
      val id = nextId; nextId += 1
      val tpe = Option(node.get("type")).map(_.asText).getOrElse("Paragraph")
      val text = Option(node.get("text")).map(_.asText).getOrElse("")
      out += TreeNode(docId, id, parent, depth, tpe, text, ord)
      val kids = Option(node.get("children")).filter(_.isArray)
      kids.foreach { arr =>
        var i = 0
        arr.forEach { child => walk(child, id, depth + 1, i); i += 1 }
      }
    }
    walk(root, -1L, 0, 0)
    out.result()
  }

  /** Serialize token-window chunk trees to the reference's recursive
    * `{type, text, children}` JSON shape (data_1/document_tree.json;
    * run_full_evaluation_pipeline.py:502-530): Document root -> one Header
    * per `sectionSize` chunks -> one Paragraph per chunk. Jackson writes
    * the JSON so escaping is lossless; leaves omit `children`, exercising
    * the parser's optional-children path on the way back in. Paired with
    * [[fromJsonStrings]] this gives the registered S3 query a genuine JSON
    * round-trip whose adjacency output (pre-order ids) has a closed-form
    * SQL oracle: header(si) = 1 + (sectionSize+1)*si,
    * paragraph(cidx) = header(cidx/sectionSize) + 1 + cidx%sectionSize —
    * exact because only the last section can be partial.
    */
  def chunkTreeJson(docs: DataFrame, size: Int, overlap: Int,
      sectionSize: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        it.flatMap { case (docId, text) =>
          val chunks = Splitter.tokenWindows(text, size, overlap)
          if (chunks.isEmpty) None
          else {
            val root = mapper.createObjectNode()
            root.put("type", "Document"); root.put("text", s"doc_$docId")
            val rkids = root.putArray("children")
            chunks.grouped(sectionSize).zipWithIndex.foreach { case (grp, si) =>
              val h = rkids.addObject()
              h.put("type", "Header"); h.put("text", s"Section ${si + 1}")
              val hk = h.putArray("children")
              grp.foreach { c =>
                val p = hk.addObject()
                p.put("type", "Paragraph"); p.put("text", c)
              }
            }
            Some((docId, mapper.writeValueAsString(root)))
          }
        }
      }.toDF("doc_id", "json")
  }

  /** Deterministic synthetic tree for corpora without structure metadata:
    * Document -> Header per group of `sentencesPerSection` sentences ->
    * one Paragraph per sentence. Lets Q5 run on any (doc_id, text) corpus;
    * a doc with no sentences (null, empty or blank text) is a lone root.
    */
  def synthesize(docs: DataFrame, sentencesPerSection: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (docId, text) =>
        val sents = if (text == null) Vector.empty else Text.sentences(text)
        val b = Vector.newBuilder[TreeNode]
        b += TreeNode(docId, 0L, -1L, 0, "Document", s"doc_$docId", 0)
        var nid = 1L
        sents.grouped(sentencesPerSection).zipWithIndex.foreach { case (grp, si) =>
          val hid = nid; nid += 1
          b += TreeNode(docId, hid, 0L, 1, "Header", s"Section ${si + 1}", si)
          grp.zipWithIndex.foreach { case (s, pi) =>
            b += TreeNode(docId, nid, hid, 2, "Paragraph", s, pi); nid += 1
          }
        }
        b.result()
      }(treeEncoder)
      .toDF()
  }
}
