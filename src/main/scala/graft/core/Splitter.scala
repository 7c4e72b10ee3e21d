package graft.core

/** Text splitters (SURVEY.md §2.4).
  *
  * Re-implements, from public descriptions of the algorithm family, the
  * character / recursive-character splitting semantics the reference gets
  * from its splitting library (reference config sites:
  * runners/run_summarization_ollama_mapreduce.py:213-217 — character split
  * chunk_size=12000 overlap=200 on "\n\n";
  * run_full_evaluation_pipeline.py:356-361 — recursive split with separators
  * ["\n\n","\n",".","!","?",";"," ",""], token-aware length function).
  *
  * Semantics: split text on the (first applicable) separator, recursively
  * re-split oversized pieces with finer separators, then greedily merge
  * consecutive pieces into chunks of at most `chunkSize` (per `lengthFn`)
  * carrying `overlap` worth of trailing pieces into the next chunk.
  */
object Splitter {

  val DefaultSeparators: Vector[String] = Vector("\n\n", "\n", ".", "!", "?", ";", " ", "")

  type LengthFn = String => Int

  val CharLen: LengthFn = _.length
  val TokenLen: LengthFn = Text.tokenCount

  /** C1: single-separator character split + greedy merge. */
  def characterSplit(
      text: String,
      chunkSize: Int,
      overlap: Int,
      separator: String = "\n\n",
      lengthFn: LengthFn = CharLen): Vector[String] = {
    val pieces =
      if (separator.isEmpty) text.map(_.toString).toVector
      else text.split(java.util.regex.Pattern.quote(separator), -1).toVector
    mergeSplits(pieces.filter(_.trim.nonEmpty), separator, chunkSize, overlap, lengthFn)
  }

  /** C2: recursive split — try separators in order, recurse into oversized
    * pieces with the remaining (finer) separators.
    */
  def recursiveSplit(
      text: String,
      chunkSize: Int,
      overlap: Int,
      separators: Vector[String] = DefaultSeparators,
      lengthFn: LengthFn = CharLen): Vector[String] = {
    require(overlap < chunkSize, s"overlap ($overlap) must be < chunkSize ($chunkSize)")
    splitRec(text, chunkSize, overlap, separators, lengthFn)
  }

  private def splitRec(
      text: String,
      chunkSize: Int,
      overlap: Int,
      separators: Vector[String],
      lengthFn: LengthFn): Vector[String] = {
    // pick the first separator present in the text (last resort: "")
    val idx = separators.indexWhere(s => s.isEmpty || text.contains(s))
    val sep = if (idx >= 0) separators(idx) else ""
    val remaining = if (idx >= 0) separators.drop(idx + 1) else Vector.empty

    val pieces: Vector[String] =
      if (sep.isEmpty) sliceByLength(text, chunkSize, overlap, lengthFn)
      else text.split(java.util.regex.Pattern.quote(sep), -1).toVector.filter(_.trim.nonEmpty)

    if (sep.isEmpty) return pieces.filter(_.trim.nonEmpty)

    val out = Vector.newBuilder[String]
    val good = Vector.newBuilder[String]
    var goodNonEmpty = false
    def flushGood(): Unit = {
      if (goodNonEmpty) {
        out ++= mergeSplits(good.result(), sep, chunkSize, overlap, lengthFn)
        good.clear(); goodNonEmpty = false
      }
    }
    pieces.foreach { p =>
      if (lengthFn(p) < chunkSize) { good += p; goodNonEmpty = true }
      else {
        flushGood()
        if (remaining.isEmpty) out += p.trim
        else out ++= splitRec(p, chunkSize, overlap, remaining, lengthFn)
      }
    }
    flushGood()
    out.result().filter(_.nonEmpty)
  }

  /** Last-resort fixed slicing when no separator matches: windows of
    * `chunkSize` with `overlap` carried, measured in characters (a finer
    * unit does not exist below "").
    */
  private def sliceByLength(
      text: String,
      chunkSize: Int,
      overlap: Int,
      lengthFn: LengthFn): Vector[String] = {
    val stride = math.max(1, chunkSize - overlap)
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < text.length) {
      out += text.substring(i, math.min(text.length, i + chunkSize))
      if (i + chunkSize >= text.length) i = text.length else i += stride
    }
    out.result()
  }

  /** Greedy merge of consecutive pieces into <=chunkSize chunks with
    * `overlap` carry-over, separator re-inserted between pieces.
    */
  private[core] def mergeSplits(
      splits: Vector[String],
      separator: String,
      chunkSize: Int,
      overlap: Int,
      lengthFn: LengthFn): Vector[String] = {
    val sepLen = lengthFn(separator)
    val docs = Vector.newBuilder[String]
    // queued pieces with their lengths, so a dequeue needs no re-count
    val cur = scala.collection.mutable.Queue.empty[(String, Int)]
    var total = 0
    def joined: String = cur.iterator.map(_._1).mkString(separator).trim
    splits.foreach { d =>
      val dLen = lengthFn(d)
      if (total + dLen + (if (cur.nonEmpty) sepLen else 0) > chunkSize && cur.nonEmpty) {
        val doc = joined
        if (doc.nonEmpty) docs += doc
        // pop from the front until within overlap budget AND the new piece fits
        while (cur.nonEmpty &&
               (total > overlap ||
                (total + dLen + (if (cur.nonEmpty) sepLen else 0) > chunkSize && total > 0))) {
          total -= cur.head._2 + (if (cur.size > 1) sepLen else 0)
          cur.dequeue()
        }
      }
      cur += d -> dLen
      total += dLen + (if (cur.size > 1) sepLen else 0)
    }
    val last = joined
    if (last.nonEmpty) docs += last
    docs.result()
  }

  /** Fixed-stride TOKEN windows — the SQL-oracle-able token chunker
    * (window k covers whitespace tokens [k*(size-overlap),
    * k*(size-overlap)+size)). Same windowing scheme as [[fixedStride]] but
    * measured in tokens, so a chunk is always a space-joined token slice —
    * which is exactly `array_to_string(toks[a:b], ' ')` in SQL. Used by the
    * registered strategy pipelines (Pipelines.TestCfg) so the end-to-end
    * map-reduce/iterative oracles are expressible in DuckDB; the recursive
    * splitter stays the library default for production configs.
    */
  def tokenWindows(text: String, size: Int, overlap: Int): Vector[String] = {
    require(overlap < size)
    val toks = Text.wsTokens(text)
    val stride = size - overlap
    if (toks.isEmpty) Vector.empty
    else (0 to (toks.length - 1) / stride).iterator
      .map(k => toks.slice(k * stride, math.min(toks.length, k * stride + size))
        .mkString(" "))
      .toVector
  }

  /** Fixed-stride character windows — the SQL-oracle-able chunker used by
    * the relational test queries (chunk k covers
    * [k*(size-overlap), k*(size-overlap)+size)). Not the pipeline default;
    * exists so chunking has an exact DuckDB oracle.
    */
  def fixedStride(text: String, size: Int, overlap: Int): Vector[String] = {
    require(overlap < size)
    val stride = size - overlap
    if (text.isEmpty) Vector.empty
    else (0 to (text.length - 1) / stride).iterator
      .map(k => text.substring(k * stride, math.min(text.length, k * stride + size)))
      .toVector
  }
}
