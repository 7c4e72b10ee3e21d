package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level function library (SURVEY.md §2.8).
  *
  * Everything here composes built-in `org.apache.spark.sql.functions` —
  * fully codegen'd, no UDFs — so filters/projections stay inside
  * WholeStageCodegen and push down to the scan. UDF-backed functions (the
  * recursive splitter, ROUGE) live in [[graft.functions.udfs]] and are used
  * only where built-ins genuinely can't express the semantics.
  */
package object functions {

  // ---------------------------------------------------------------- tokens

  /** F2: whitespace token count; blank => 0. */
  def tokenCount(c: Column): Column =
    when(length(trim(c)) === 0, lit(0L))
      .otherwise(size(split(trim(c), "\\s+")).cast("long"))

  /** F4: character count. */
  def charCount(c: Column): Column = length(c).cast("long")

  /** C3: keep the first k whitespace tokens. */
  def truncateTokens(c: Column, k: Int): Column =
    array_join(slice(split(trim(c), "\\s+"), 1, k), " ")

  /** Word n-grams (space-joined) — the shingling primitive for dedup. */
  def wordNgrams(c: Column, n: Int): Column = {
    val arr = split(trim(c), "\\s+")
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(
        when(size(arr) < n, array(array_join(arr, " ")))
          .otherwise(transform(sequence(lit(1), size(arr) - n + 1),
            i => array_join(slice(arr, i, lit(n)), " "))))
  }

  // ---------------------------------------------------------------- clean

  /** F1: strip `<think>...</think>`-style blocks, squeeze 3+ newlines, trim. */
  def cleanThinking(c: Column): Column = {
    val tagBody = "(?is)<\\s*(think|thinking|thought|reasoning|analysis)\\s*>.*?<\\s*/\\s*\\1\\s*>"
    val dangling = "(?is)<\\s*(think|thinking|thought|reasoning|analysis)\\s*>.*\\z"
    trim(regexp_replace(
      regexp_replace(regexp_replace(c, tagBody, ""), dangling, ""),
      "\\n{3,}", "\n\n"))
  }

  /** F1 flat variant: all whitespace runs to single spaces. */
  def squeezeWhitespace(c: Column): Column =
    trim(regexp_replace(c, "\\s+", " "))

  /** F8: filename stem. */
  def fileStem(c: Column): Column =
    regexp_extract(element_at(split(c, "/"), -1), "^(.*?)(\\.[^.]*)?$", 1)

  // ------------------------------------------------------------- vectors

  /** Dot product of two float/double array columns, computed as an ordered
    * left fold in double precision (deterministic across partitions; no
    * UDF — higher-order functions stay in codegen).
    */
  def dotProduct(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))

  /** M3: cosine similarity of two vector columns (0.0 when either is zero).
    * Works for any numeric element type via higher-order functions.
    */
  def cosineSimilarity(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0.0, lit(0.0)).otherwise(dotProduct(a, b) / denom)
  }

  /** M3 (native): same values as [[cosineSimilarity]] for ARRAY<FLOAT>
    * inputs, computed by the codegen'd [[VecCosine]] expression — the hot
    * path for ANN scoring where the HOF form's per-element lambda dispatch
    * and zipped intermediate array dominate.
    */
  def cosineSimilarityF(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(VecCosine(Bridge.expression(a), Bridge.expression(b)))
  }

  /** Native dot product over ARRAY<FLOAT> — the per-pair kernel of split
    * cosine (see [[VecDot]]): `vecDotF(a,b) / (vecNormF(a) * vecNormF(b))`
    * is bit-identical to [[cosineSimilarityF]] with the norms computable
    * once per row instead of once per pair.
    */
  def vecDotF(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(VecDot(Bridge.expression(a), Bridge.expression(b)))
  }

  /** Native L2 norm over ARRAY<FLOAT> (the per-row half of split cosine). */
  def vecNormF(a: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(VecNorm(Bridge.expression(a)))
  }

  /** Native Unicode NFC normalization over STRING (see [[NfcNormalize]]). */
  def nfcNormalizeF(a: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(NfcNormalize(Bridge.expression(a)))
  }

  // ---------------------------------------------- deterministic aggregates

  /** Order-independent exact sum of a double expression: round each value
    * into a fixed-point decimal, sum decimals (exact, associative), return
    * double. Floating-point `sum(double)` varies with partition/merge order
    * — unacceptable when results are hash-compared against an external
    * oracle. Scale 10 decimal digits keeps micro-cent precision while
    * decimal(38,10) leaves 1e28 of headroom for 100 TB-scale sums.
    */
  def exactSum(c: Column): Column =
    sum(c.cast("decimal(38,10)")).cast("double")

  /** Order-independent mean built from exactSum / count. */
  def exactAvg(c: Column): Column =
    exactSum(c) / count(c)

  /** Order-independent population stddev via the sum-of-squares identity on
    * exact decimal sums: sqrt(max0((ssq - s*s/n)/n)).
    */
  def exactStddevPop(c: Column): Column = {
    val n = count(c).cast("double")
    val s = exactSum(c)
    val ssq = sum((c.cast("double") * c.cast("double")).cast("decimal(38,10)")).cast("double")
    sqrt(greatest((ssq - s * s / n) / n, lit(0.0)))
  }

  /** Ordered concat: the group's `text` values sorted by `keys` (then by
    * text) and joined with `sep`. Partial aggregation applies — the
    * (keys, text) structs are collected map-side and sorted after the
    * shuffle, so each group's payload crosses the wire once.
    */
  def orderedConcat(text: String, sep: String, keys: String*): Column =
    array_join(
      transform(array_sort(collect_list(struct((keys :+ text).map(col): _*))),
        s => s.getField(text)),
      sep)

  /** Round for oracle-stable output. */
  def r4(c: Column): Column = round(c, 4)
  def r6(c: Column): Column = round(c, 6)
}
