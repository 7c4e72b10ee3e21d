package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{BinPack, BinnedChunk, Bpe, BpeTokenizer, Chunk, PipelineConfig, Splitter}
import graft.functions.{orderedConcat, udfs}

/** Corpus-level relational operators (SURVEY.md §2.1, §2.4, §2.5).
  *
  * All transforms are DataFrame -> DataFrame so Catalyst sees one logical
  * plan end to end (pushdown + pruning through every step). [[chunker]] is
  * the one document splitter: the strategies call it inside their
  * per-document operator, so a doc's chunks stay in the task that read the
  * doc, and `chunkDocs` explodes the same split to one row per chunk for
  * the chunk-level operators.
  */
object CorpusOps {

  /** S1: corpus scan from the parquet documents table: (doc_id, text). */
  def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long"), col("text"))

  /** S1 (directory variant): one row per *.txt file — whole file as one
    * value, keyed by filename stem (reference:
    * run_full_evaluation_pipeline.py:417-444). At 100 TB this is the raw
    * ingest path: `wholetext` keeps one file per row and the file listing
    * is split across executors.
    */
  def docsFromTextDir(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("wholetext", "true")
      .option("pathGlobFilter", "*.txt") // P2: extension filter at the source
      .text(dir)
      .select(
        graft.functions.fileStem(input_file_name()).as("doc_name"),
        col("value").as("text"))

  /** S1 (JSONL variant): one JSON object per line — the dominant
    * training-data interchange format. The schema is explicit (no
    * inference scan — an inference pass over 100 TB of JSONL would read
    * the corpus twice — and explicit schemas are what `readStream`
    * requires anyway); extra fields per line are simply not projected.
    * Malformed lines are DROPPED, not nulled: web-scale JSONL always
    * carries some corrupt lines, and a null-text row would otherwise flow
    * into every downstream operator (count the drop rate separately via
    * a raw `spark.read.text` line count when it matters).
    */
  def docsFromJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.schema("doc_id LONG, text STRING")
      .option("mode", "DROPMALFORMED")
      .json(path)
      .select(col("doc_id"), col("text"))

  /** Small-files compaction: rewrite a parquet table into files of
    * ~`targetMB` each — the standard maintenance pass after streaming /
    * per-batch appends (thousands of KB-sized files make every downstream
    * scan pay file-open + footer costs and starve split planning). File
    * count derives from the table's actual on-disk size; `coalesce` (not
    * `repartition`) so compaction itself shuffles nothing.
    */
  def compactParquet(spark: SparkSession, inPath: String, outPath: String,
      targetMB: Int = 512): Unit = {
    val bytes = spark.read.parquet(inPath).inputFiles.map { f =>
      new java.io.File(new java.net.URI(f).getPath).length()
    }.sum
    val nFiles = math.max(1, math.ceil(bytes / (targetMB * 1024.0 * 1024.0)).toInt)
    spark.read.parquet(inPath).coalesce(nFiles)
      .write.mode("overwrite").parquet(outPath)
  }

  /** C1/C2: the document splitter `cfg.chunker` names — recursive,
    * `token_window` or `recursive_bpe` — as one function from a doc's text
    * to its chunks in order (empty for a null text). The BPE table is
    * loaded here, once, where the plan is built; the function is
    * serializable, so each task gets its own copy.
    */
  def chunker(cfg: PipelineConfig): String => Vector[String] =
    splitter(cfg, bpeTable(cfg))

  private def bpeTable(cfg: PipelineConfig): Option[BpeTokenizer] =
    if (cfg.chunker != "recursive_bpe") None
    else if (cfg.tokenizerJsonPath.isEmpty) Some(Bpe.demo)
    else Some(Bpe.fromTokenizerJson(java.nio.file.Files.readString(
      java.nio.file.Paths.get(cfg.tokenizerJsonPath))))

  private def splitter(cfg: PipelineConfig, bpe: Option[BpeTokenizer]): String => Vector[String] = {
    val (size, overlap) = (cfg.chunkSize, cfg.chunkOverlap)
    val split: String => Vector[String] = cfg.chunker match {
      case "token_window" => Splitter.tokenWindows(_, size, overlap)
      case "recursive_bpe" => Splitter.recursiveSplit(_, size, overlap,
        Splitter.DefaultSeparators, bpe.get.lengthFn)
      case _ => Splitter.recursiveSplit(_, size, overlap,
        Splitter.DefaultSeparators, Splitter.TokenLen)
    }
    text => if (text == null) Vector.empty else split(text)
  }

  /** C1/C2: explode documents into ordered chunks:
    * (doc_id, chunk_idx, text, n_tokens) — [[chunker]]'s output, one row
    * per chunk. Chunk order is carried explicitly (SURVEY.md §1.3 — reduce
    * prompts join summaries in chunk order).
    */
  def chunkDocs(docs: DataFrame, cfg: PipelineConfig): DataFrame = {
    val bpe = bpeTable(cfg)
    val split = splitter(cfg, bpe)
    // n_tokens is measured in the chunker's own unit so downstream budget
    // packing (binPack tokenMax) agrees with the chunk boundaries
    val countFn: Column => Column = bpe match {
      case Some(t) => udfs.bpeCountUdf(t).andThen(_.cast("long"))
      case None => graft.functions.tokenCount(_)
    }
    docs
      .select(col("doc_id"), posexplode(udf(split).apply(col("text"))).as(Seq("chunk_idx", "text")))
      .withColumn("n_tokens", countFn(col("text")))
  }

  /** G3 exact greedy bin-packing per document (reference
    * `split_list_of_docs`, runners/run_summarization_ollama_mapreduce.py:131-133).
    * Runs as a per-doc `flatMapGroups` fold — the greedy reset cannot be a
    * window cumsum (SURVEY.md §7.4.2). State per group is one doc's chunk
    * list (bounded by doc size / chunk size), so executors never hold more
    * than a few KB per key; the shuffle is one hash partitioning on doc_id.
    */
  def binPack(chunks: DataFrame, budget: Long): Dataset[BinnedChunk] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    chunks.select(col("doc_id").cast("long"), col("chunk_idx").cast("int"),
        col("text"), col("n_tokens").cast("long"))
      .as[Chunk]
      .groupByKey(_.doc_id)
      .flatMapGroups { (docId: Long, it: Iterator[Chunk]) =>
        val sorted = it.toVector.sortBy(c => (c.chunk_idx, c.n_tokens))
        BinPack.pack[Chunk](sorted, _.n_tokens, budget).map { case (c, bin) =>
          BinnedChunk(docId, bin, c.chunk_idx, c.text, c.n_tokens)
        }.iterator
      }
  }

  /** G3 (approximate, SQL-oracle-able): window cumulative-sum bin assignment
    * bin = floor((cumsum - n_tokens) / budget). Kept alongside the exact
    * greedy version because it needs no per-group fold (pure window — stays
    * in codegen) and IS expressible in ANSI SQL for the DuckDB oracle.
    */
  def binPackCumsum(chunks: DataFrame, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // n_tokens is a secondary sort key so the ordering is total even when
    // chunk_idx has duplicates (rows tying on both keys are identical in
    // every output column, so the cumsum is well-defined either way).
    val w = Window.partitionBy(col("doc_id")).orderBy(col("chunk_idx"), col("n_tokens"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chunks.withColumn("bin",
      floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / budget).cast("int"))
  }

  /** G1+G4: collapse each (doc_id, bin) group to one text blob, pieces
    * joined in chunk order with "\n\n" (reference:
    * runners/run_summarization_ollama_mapreduce.py:121).
    */
  def concatBins(binned: DataFrame, sep: String = "\n\n"): DataFrame =
    binned.groupBy(col("doc_id"), col("bin"))
      .agg(
        orderedConcat("text", sep, "chunk_idx").as("text"),
        sum(col("n_tokens")).as("n_tokens_in"),
        min(col("chunk_idx")).as("first_chunk_idx"))

  /** G1+G4 (skew-safe variant): the ordered concat with RANGE SALTING —
    * the one aggregation shape partial aggregation cannot protect, because
    * a single degenerate document (millions of chunks) funnels its whole
    * payload into one reducer. Salting by chunk-index range keeps order
    * exact: segment s holds chunk_idx in [s*segSize, (s+1)*segSize), each
    * segment concatenates in order on its own reducer (phase 1), and the
    * per-doc merge concatenates the segments in segment order (phase 2) —
    * identical output to [[concatBins]], with per-reducer payload bounded
    * by segSize chunks instead of the largest document.
    */
  def concatBinsSalted(binned: DataFrame, sep: String = "\n\n",
      segSize: Int = 1024): DataFrame = {
    require(segSize > 0)
    val seg = floor(col("chunk_idx") / segSize).cast("int")
    val phase1 = binned
      .groupBy(col("doc_id"), col("bin"), seg.as("seg"))
      .agg(
        orderedConcat("text", sep, "chunk_idx").as("seg_text"),
        sum(col("n_tokens")).as("seg_tokens"),
        min(col("chunk_idx")).as("seg_first_idx"))
    phase1
      .groupBy(col("doc_id"), col("bin"))
      .agg(
        orderedConcat("seg_text", sep, "seg").as("text"),
        sum(col("seg_tokens")).as("n_tokens_in"),
        min(col("seg_first_idx")).as("first_chunk_idx"))
  }

  /** S6: incremental recompute set — docs whose output does not exist yet
    * (left-anti join) and the already-done ones (left-semi) for downstream
    * eval (reference: run_full_evaluation_pipeline.py:422-431).
    */
  def incrementalSplit(docs: DataFrame, existing: DataFrame): (DataFrame, DataFrame) = {
    val todo = docs.join(existing, Seq("doc_id"), "left_anti")
    val done = docs.join(existing, Seq("doc_id"), "left_semi")
    (todo, done)
  }
}
