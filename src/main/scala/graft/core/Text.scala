package graft.core

/** Pure-Scala text primitives (zero Spark deps).
  *
  * Re-expresses the reference's scalar string layer
  * (SURVEY.md §2.8; reference: runners/run_summarization_ollama_iterative.py:19-47,
  * utils/calculate_tokens.py:7-19, runners/run_summarization_ollama.py:9-13).
  */
object Text {

  /** Thinking-block tags the reference strips (reference:
    * run_full_evaluation_pipeline.py:34-63 — `<think>`, `<thinking>`,
    * `<thought>`, `<reasoning>`, `<analysis>`, case-insensitive, DOTALL).
    */
  private val thinkTagRe =
    "(?is)<\\s*(think|thinking|thought|reasoning|analysis)\\s*>.*?<\\s*/\\s*\\1\\s*>".r

  /** Unclosed opening tag at end of text is also dropped (reference cleans
    * dangling open tags by removing everything after them).
    */
  private val danglingOpenRe =
    "(?is)<\\s*(think|thinking|thought|reasoning|analysis)\\s*>.*\\z".r

  private val tripleNewlineRe = "\\n{3,}".r
  private val wsRunRe = "\\s+".r

  // Hot-path tokenizer patterns, compiled once: String.split(regex)
  // delegates to Pattern.compile per CALL, and these two run inside
  // per-row UDFs across the whole eval/ta/encode surface.
  // Pattern.split(s) is exactly String.split(re) (limit 0) — same output.
  private val wsSplitRe = java.util.regex.Pattern.compile("\\s+")
  private val sentenceSplitRe =
    java.util.regex.Pattern.compile("(?<=[.!?;])\\s+|\\n+")

  /** F1: remove thinking blocks, squeeze >=3 newlines to 2, trim. */
  def cleanThinking(s: String): String = {
    val noTags = danglingOpenRe.replaceAllIn(thinkTagRe.replaceAllIn(s, ""), "")
    tripleNewlineRe.replaceAllIn(noTags, "\n\n").trim
  }

  /** F1 hierarchical variant: additionally squeeze ALL whitespace runs to a
    * single space (reference: runners/..._hierarchical.py:20-40).
    */
  def cleanThinkingFlat(s: String): String =
    wsRunRe.replaceAllIn(cleanThinking(s), " ").trim

  /** F2/F4: whitespace tokens. Empty/blank input => zero tokens. */
  def wsTokens(s: String): Array[String] = {
    val t = s.trim
    if (t.isEmpty) Array.empty else wsSplitRe.split(t)
  }

  // The scans below equal the regex forms char for char: `String.trim`
  // strips every char <= U+0020 at the edges, while Java's `\s` (the
  // split) is only [ \t\n\x0B\f\r], so other controls inside a text
  // stay part of a token.
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\n' || c == '\t' || c == '\r' || c == '\f' || c == '\u000b'
  private def trimStart(s: String): Int = {
    var i = 0
    while (i < s.length && s.charAt(i) <= ' ') i += 1
    i
  }
  private def trimEnd(s: String, start: Int): Int = {
    var i = s.length
    while (i > start && s.charAt(i - 1) <= ' ') i -= 1
    i
  }

  /** F2: approximate token count = whitespace word count (reference:
    * runners/run_summarization_ollama_mapreduce.py:58-60). The reference
    * mixes HF-tokenizer counts and whitespace counts; we standardize on the
    * whitespace proxy (documented deviation, SURVEY.md §7.4.7) and keep the
    * length function pluggable in the splitter.
    */
  def tokenCount(s: String): Int = {
    val start = trimStart(s)
    val end = trimEnd(s, start)
    var i = start
    var n = 0
    var inToken = false
    while (i < end) {
      if (isWs(s.charAt(i))) inToken = false
      else if (!inToken) { n += 1; inToken = true }
      i += 1
    }
    n
  }

  def charCount(s: String): Int = s.length

  /** C3: token truncation — keep first k whitespace tokens (reference:
    * runners/run_summarization_ollama.py:9-13 uses tokenizer encode/decode;
    * whitespace proxy here).
    */
  def truncateTokens(s: String, k: Int): String = {
    val start = trimStart(s)
    val end = trimEnd(s, start)
    // find where token k+1 starts; without one the text is within budget
    var i = start
    var n = 0
    var inToken = false
    while (i < end && !(n >= k && !inToken && !isWs(s.charAt(i)))) {
      if (isWs(s.charAt(i))) inToken = false
      else if (!inToken) { n += 1; inToken = true }
      i += 1
    }
    if (i == end) s.substring(start, end)
    else {
      // the first k tokens, each whitespace run between them one space
      val b = new java.lang.StringBuilder(i - start)
      var j = start
      while (j < i) {
        val c = s.charAt(j)
        if (!isWs(c)) b.append(c)
        else if (!isWs(s.charAt(j - 1))) b.append(' ')
        j += 1
      }
      val t = b.length
      if (t > 0 && b.charAt(t - 1) == ' ') b.setLength(t - 1)
      b.toString
    }
  }

  /** Sentence segmentation used by the deterministic extractive summarizer:
    * split after `.`, `!`, `?`, `;`, or newline runs; keeps delimiters with
    * the preceding sentence.
    */
  def sentences(s: String): Vector[String] =
    sentenceSplitRe.split(s).iterator.map(_.trim).filter(_.nonEmpty).toVector

  /** General categories of `[\p{L}\p{N}]`: Lu Ll Lt Lm Lo, Nd Nl No. */
  private val metricTokenTypes: Int = Seq(
    Character.UPPERCASE_LETTER, Character.LOWERCASE_LETTER, Character.TITLECASE_LETTER,
    Character.MODIFIER_LETTER, Character.OTHER_LETTER, Character.DECIMAL_DIGIT_NUMBER,
    Character.LETTER_NUMBER, Character.OTHER_NUMBER).map(1 << _).reduce(_ | _)

  /** Word tokenizer for ROUGE / lexical metrics: lowercase, split on
    * non-alphanumeric. Unicode-aware (the reference uses rouge_score's
    * ASCII-only tokenizer even on Vietnamese — documented deviation:
    * we keep all unicode letters/digits).
    */
  def metricTokens(s: String): Array[String] = {
    // Locale.ROOT: default-locale toLowerCase diverges from Spark lower()
    // and the DuckDB oracle on tr/az/lt JVMs ('TITLE' -> 'tıtle') — the
    // NbModel.score convention, applied at the shared tokenizer
    val t = s.toLowerCase(java.util.Locale.ROOT)
    // maximal runs of [\p{L}\p{N}] code points, as the regex sees them: a
    // combining mark or an unpaired surrogate ends a token
    val out = Array.newBuilder[String]
    var i = 0
    var from = -1
    while (i < t.length) {
      val cp = t.codePointAt(i)
      val keep = ((metricTokenTypes >> Character.getType(cp)) & 1) != 0
      if (keep && from < 0) from = i
      else if (!keep && from >= 0) { out += t.substring(from, i); from = -1 }
      i += Character.charCount(cp)
    }
    if (from >= 0) out += t.substring(from)
    out.result()
  }

  /** F8: filename stem. */
  def stem(fname: String): String = {
    val base = fname.substring(fname.lastIndexOf('/') + 1)
    val dot = base.lastIndexOf('.')
    if (dot > 0) base.substring(0, dot) else base
  }

  /** F7: model-name safe-encode (reference: run_full_evaluation_pipeline.py:170). */
  def safeName(s: String): String = s.replace(':', '_').replace('.', '_')

  /** F9: extract payload between ```json fences (reference:
    * evaluate/evaluate_summaries_semantic.py:87-91).
    */
  private val fenceRe = "(?s)```(?:json)?\\s*(.*?)```".r

  def stripCodeFence(s: String): String =
    fenceRe.findFirstMatchIn(s).map(_.group(1).trim).getOrElse(s.trim)
}
