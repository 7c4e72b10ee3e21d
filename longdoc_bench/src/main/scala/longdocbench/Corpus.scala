package longdocbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

import graft.core.{PipelineConfig, Splitter, Text}

/** The benchmark's generated inputs, written as parquet under the work
  * directory and reused when (workload, seed, generator version) match.
  * Layouts follow what the CLI reads: `documents.parquet` (doc_id, text)
  * for `pipeline --docs` through `CorpusOps.documents`, and
  * (doc_id, summary) tables for `evaluate --ref/--gen/--sweep`.
  */
object Corpus {
  val Version = "v2"

  /** Measured shape of a document corpus. `chunks` is chunks per doc at
    * `PipelineConfig()` (the recursive splitter by whitespace tokens).
    */
  final case class Shape(docs: Int, meanTokens: Double, minTokens: Int, maxTokens: Int,
      meanChunks: Double, minChunks: Int, maxChunks: Int) {
    override def toString: String =
      f"docs=$docs tokens mean=$meanTokens%.0f min=$minTokens max=$maxTokens " +
        f"chunks/doc mean=$meanChunks%.2f min=$minChunks max=$maxChunks"
  }

  private val texts = new java.util.concurrent.ConcurrentHashMap[Long, VietText]()
  def text(seed: Long): VietText = texts.computeIfAbsent(seed, s => new VietText(s))

  /** ds1: the paper's own corpus, 27k-81.5k tokens (3-7 chunks, mean ~5).
    * Docs come in antithetic pairs (lengths mirrored about the 54.25k
    * middle of the range, so each pair has ~10 chunks), with the pairs'
    * positions stratified over the range in a seeded order: even a
    * handful of docs keeps the reference's ~5 chunks/doc (759 chunks over
    * 151 docs) at every seed.
    */
  def ds1Tokens(seed: Long, docId: Long, n: Int): Int = {
    val pairs = math.max(1, n / 2)
    val pair = math.min(docId.toInt / 2, pairs - 1)
    val order = Array.range(0, pairs)
    val r = new SplittableRandom(VietText.mix(seed + 1, -1L))
    var i = pairs - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t; i -= 1 }
    val x = (order(pair) + new SplittableRandom(VietText.mix(seed + 1, pair)).nextDouble()) / pairs
    val at = if (docId >= 2 * pairs) 0.5 else if (docId % 2 == 0) x else 1 - x
    27000 + (at * 54500).toInt
  }

  /** Fails when a ds1-shaped corpus drifts from ~5 chunks per doc. An
    * antithetic pair has 10 chunks, or 11 when both lengths sit just past
    * a chunk boundary, so the mean is 5.0-5.5 while the splitter and the
    * generator are unchanged.
    */
  def requireDs1(s: Shape): Unit =
    require(math.abs(s.meanChunks - 5.0) <= 0.5 && s.minChunks >= 3 && s.maxChunks <= 7,
      s"ds1 shape drifted from 3-7 chunks/doc with mean ~5.0: $s")

  /** ds2: ~3.9k-token docs, one chunk each. */
  def ds2Tokens(seed: Long, docId: Long): Int =
    3000 + new SplittableRandom(VietText.mix(seed + 2, docId)).nextInt(1801)

  def chunkCount(text: String): Int = {
    val cfg = PipelineConfig()
    Splitter.recursiveSplit(text, cfg.chunkSize, cfg.chunkOverlap,
      Splitter.DefaultSeparators, Text.tokenCount).size
  }

  private def shapeOf(rows: Seq[(Int, Int)]): Shape = {
    val toks = rows.map(_._1); val chunks = rows.map(_._2)
    Shape(rows.size, toks.sum.toDouble / rows.size, toks.min, toks.max,
      chunks.sum.toDouble / rows.size, chunks.min, chunks.max)
  }

  /** One generated document: its length class, text, lead reference (or
    * ""), and measured whitespace tokens and chunks.
    */
  final case class GenDoc(doc_id: Long, cls: String, text: String, ref: String, tokens: Int, chunks: Int)

  /** Generates docs 0 until n, doc i of class and target length
    * `tokensOf(i)`, in parallel and without Spark; with `refTokens` > 0
    * each doc also gets a lead reference of that many tokens.
    */
  def generateDocs(seed: Long, n: Int, tokensOf: Long => (String, Int), refTokens: Int): Vector[GenDoc] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val vt = text(seed)
    val docs = Future.traverse((0L until n).toVector) { id =>
      Future {
        val (cls, target) = tokensOf(id)
        val doc = vt.document(id, target)
        GenDoc(id, cls, doc, if (refTokens > 0) vt.lead(doc, refTokens) else "",
          Text.tokenCount(doc), chunkCount(doc))
      }
    }
    Await.result(docs, scala.concurrent.duration.Duration.Inf)
  }

  /** Measured shape per length class. */
  def shapes(docs: Seq[GenDoc]): Map[String, Shape] =
    docs.groupBy(_.cls).map { case (cls, ds) => cls -> shapeOf(ds.map(d => (d.tokens, d.chunks))) }

  /** Writes `documents.parquet` and, when the docs carry references,
    * `refs.parquet`, each as `parts` files of consecutive doc ids (the
    * layout Spark writes for a dataset of `parts` partitions). Uses
    * parquet-mr directly, so no Spark session is built or warmed before
    * the timed set-up.
    */
  def writeDocs(dir: Path, docs: Seq[GenDoc], parts: Int): Unit = {
    def table(name: String, col: String, value: GenDoc => String): Unit = {
      val schema = MessageTypeParser.parseMessageType(
        s"message $name { required int64 doc_id; required binary $col (UTF8); }")
      val groups = new SimpleGroupFactory(schema)
      val out = dir.resolve(s"$name.parquet")
      Files.createDirectories(out)
      val per = math.max(1, (docs.size + parts - 1) / parts)
      docs.grouped(per).zipWithIndex.foreach { case (ds, i) =>
        val w = ExampleParquetWriter.builder(new LocalOutputFile(out.resolve(f"part-$i%05d.snappy.parquet")))
          .withType(schema).withCompressionCodec(CompressionCodecName.SNAPPY)
          .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
        try ds.foreach(d => w.write(groups.newGroup().append("doc_id", d.doc_id).append(col, value(d))))
        finally w.close()
      }
    }
    table("documents", "text", _.text)
    if (docs.exists(_.ref.nonEmpty)) table("refs", "summary", _.ref)
  }

  /** The recorded shape of a complete corpus in `dir`, if there is one. */
  def recorded(dir: Path): Option[String] = {
    val stamp = dir.resolve("_shape.txt")
    if (Files.exists(stamp)) Some(Files.readString(stamp)) else None
  }

  /** Marks the corpus in `dir` complete, recording its shape. */
  def record(dir: Path, shape: String): String = {
    Files.writeString(dir.resolve("_shape.txt"), shape)
    shape
  }
}
