package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

import graft.core.{BpeTokenizer, Rouge, Splitter, Text}

/** UDF-backed functions — only for logic built-ins can't express
  * (recursive splitting, LCS dynamic programming). Each wraps a pure
  * function from `graft.core` so the algorithm itself is unit-tested
  * without Spark.
  */
object udfs {

  /** C2: recursive token-aware split => ARRAY<STRING> of chunks. */
  def recursiveSplitUdf(chunkSize: Int, overlap: Int, byTokens: Boolean = true)
      : Column => Column = {
    val lengthFn: String => Int = if (byTokens) Text.tokenCount else (_.length)
    val f = udf { (text: String) =>
      if (text == null) Array.empty[String]
      else Splitter.recursiveSplit(text, chunkSize, overlap,
        Splitter.DefaultSeparators, lengthFn).toArray
    }
    (c: Column) => f(c)
  }

  /** F3: exact BPE token count of a string column. */
  def bpeCountUdf(bpe: BpeTokenizer): Column => Column = {
    val f = udf { (text: String) => if (text == null) 0 else bpe.count(text) }
    (c: Column) => f(c)
  }

  /** F7: model-name safe-encode (':' and '.' to '_'). */
  val safeNameUdf = udf { (s: String) => if (s == null) null else Text.safeName(s) }

  /** F8: filename stem (path dropped, last extension dropped). */
  val stemUdf = udf { (s: String) => if (s == null) null else Text.stem(s) }

  /** F9: payload between ``` fences; whole (trimmed) input when unfenced. */
  val stripCodeFenceUdf =
    udf { (s: String) => if (s == null) null else Text.stripCodeFence(s) }

  /** M1: ROUGE-1/2/L F1 as STRUCT<rouge1_f, rouge2_f, rougeL_f>. */
  val rougeAll = udf { (cand: String, ref: String) =>
    if (cand == null || ref == null) (0.0, 0.0, 0.0)
    else Rouge.all(cand, ref)
  }

  def rougeStruct(cand: Column, ref: Column): Column =
    rougeAll(cand, ref).cast("struct<rouge1_f:double,rouge2_f:double,rougeL_f:double>")

  /** ROUGE-1/2 only — skips the O(|gen|·|ref|) ROUGE-L LCS DP for
    * consumers that discard it (q7 runs 3 scorings per doc; the DP was
    * the dominant per-row cost there). Values identical to
    * [[rougeStruct]]'s first two fields.
    */
  private val rouge12 = udf { (cand: String, ref: String) =>
    if (cand == null || ref == null) (0.0, 0.0)
    else Rouge.f12(cand, ref)
  }

  def rouge12Struct(cand: Column, ref: Column): Column =
    rouge12(cand, ref).cast("struct<rouge1_f:double,rouge2_f:double>")

  /** chrF2 (char n-gram F, β=2) — values pre-snapped by core.ChrF. */
  private val chrfAll = udf { (cand: String, ref: String) =>
    graft.core.ChrF.chrF2(cand, ref)
  }

  def chrfStruct(cand: Column, ref: Column): Column =
    chrfAll(cand, ref).cast("struct<chrf:double,chrf_p:double,chrf_r:double>")
}
