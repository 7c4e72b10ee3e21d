package graft.core

/** ROUGE-1/2/L F-measures (SURVEY.md §2.9 M1; reference call sites:
  * evaluate/evaluate_summaries_semantic.py:132-148,
  * utils/evaluate_summaries.py:68-80).
  *
  * Candidate = generated summary, reference = gold summary. Tokenization is
  * unicode-aware lowercase alphanumeric (see [[Text.metricTokens]]; the
  * reference uses an ASCII-only stemmer-tokenizer — documented deviation).
  */
object Rouge {

  /** precision / recall / F1 triple. */
  final case class Score(p: Double, r: Double, f: Double)

  private def f1(overlap: Int, candN: Int, refN: Int): Score = {
    if (candN == 0 || refN == 0) return Score(0.0, 0.0, 0.0)
    val p = overlap.toDouble / candN
    val r = overlap.toDouble / refN
    val f = if (p + r == 0) 0.0 else 2 * p * r / (p + r)
    Score(p, r, f)
  }

  /** n-gram multiset; a gram is its tokens joined by ' ', which no metric
    * token contains.
    */
  private def ngramCounts(tokens: Array[String], n: Int): collection.Map[String, Int] = {
    val m = collection.mutable.HashMap.empty[String, Int]
    tokens.iterator.sliding(n).withPartial(false).foreach { g =>
      val k = g.mkString(" ")
      m.update(k, m.getOrElse(k, 0) + 1)
    }
    m
  }

  private def rougeN(c: Array[String], r: Array[String], n: Int): Score = {
    val cc = ngramCounts(c, n)
    val rc = ngramCounts(r, n)
    val overlap = cc.iterator.map { case (g, k) => math.min(k, rc.getOrElse(g, 0)) }.sum
    f1(overlap, math.max(0, c.length - n + 1), math.max(0, r.length - n + 1))
  }

  private def rougeL(c: Array[String], r: Array[String]): Score =
    f1(lcsLength(c, r), c.length, r.length)

  /** ROUGE-N: n-gram multiset overlap F-measure. */
  def rougeN(candidate: String, reference: String, n: Int): Score =
    rougeN(Text.metricTokens(candidate), Text.metricTokens(reference), n)

  def rouge1(c: String, r: String): Score = rougeN(c, r, 1)
  def rouge2(c: String, r: String): Score = rougeN(c, r, 2)

  /** ROUGE-L: LCS-based F-measure over whole-text token sequences
    * (sentence-level variant, matching `rouge_scorer`'s `rougeL`).
    */
  def rougeL(candidate: String, reference: String): Score =
    rougeL(Text.metricTokens(candidate), Text.metricTokens(reference))

  /** Classic O(n*m) LCS with a rolling row (summaries are short — hundreds
    * of tokens — so quadratic is fine; bounded memory).
    */
  private[core] def lcsLength(a: Array[String], b: Array[String]): Int = {
    if (a.isEmpty || b.isEmpty) return 0
    // the quadratic loop compares token ids, not strings
    val ids = collection.mutable.HashMap.empty[String, Int]
    val x = a.map(ids.getOrElseUpdate(_, ids.size))
    val y = b.map(ids.getOrElseUpdate(_, ids.size))
    var prev = new Array[Int](b.length + 1)
    var curr = new Array[Int](b.length + 1)
    var i = 0
    while (i < a.length) {
      var j = 0
      while (j < b.length) {
        curr(j + 1) =
          if (x(i) == y(j)) prev(j) + 1
          else math.max(prev(j + 1), curr(j))
        j += 1
      }
      val t = prev; prev = curr; curr = t
      java.util.Arrays.fill(curr, 0)
      i += 1
    }
    prev(b.length)
  }

  /** All three F1s at once (the per-pair metric row M5), each side
    * tokenized once.
    */
  def all(candidate: String, reference: String): (Double, Double, Double) = {
    val c = Text.metricTokens(candidate)
    val r = Text.metricTokens(reference)
    (rougeN(c, r, 1).f, rougeN(c, r, 2).f, rougeL(c, r).f)
  }

  /** The ROUGE-1 and ROUGE-2 F1s of [[all]] without the LCS, each side
    * tokenized once.
    */
  def f12(candidate: String, reference: String): (Double, Double) = {
    val c = Text.metricTokens(candidate)
    val r = Text.metricTokens(reference)
    (rougeN(c, r, 1).f, rougeN(c, r, 2).f)
  }
}
