package graft.llm

import graft.core.Text

/** The reference's core scalar is an LLM call over HTTP (SURVEY.md §2.8 F6;
  * reference: runners/run_summarization_ollama_mapreduce.py:37-49). We keep
  * it behind a trait so the engine is testable/deterministic by default and
  * an HTTP-backed implementation can slot in per-partition (SURVEY.md §7.3).
  *
  * Implementations MUST be deterministic given (text, maxTokens) unless
  * explicitly documented otherwise — every oracle and golden test depends
  * on it (SURVEY.md §5).
  */
trait Summarizer extends Serializable {
  /** Produce a summary of `text` of at most `maxTokens` whitespace tokens. */
  def summarize(text: String, maxTokens: Int): String

  /** Budget -> summary closure for REPEATED summarize calls over the same
    * text (the critique retry loop widens the budget and re-summarizes).
    * Implementations that do per-text analysis (sentence split, scoring)
    * should override to hoist that work out of the per-budget call. Must
    * agree exactly with [[summarize]].
    */
  def prepared(text: String): Int => String = summarize(text, _)
}

/** The extractive family's ONE greedy budget walk — every ranking-based
  * scalar (extractive TF, TextRank, MMR) must share it so the family
  * invariant "the scalars differ ONLY in how sentences are ordered"
  * cannot desynchronize: walk the ranking, take the first pick
  * unconditionally, skip anything over the remaining budget, emit picked
  * sentences in ORIGINAL order, truncate to the budget.
  */
private[llm] object BudgetWalk {
  def emitter(sents: Vector[String], ranking: Seq[Int]): Int => String = {
    val sentLen = sents.map(Text.tokenCount)
    (maxTokens: Int) => {
      val picked = scala.collection.mutable.BitSet.empty
      var budget = maxTokens
      ranking.foreach { i =>
        val len = sentLen(i)
        if (budget > 0 && (picked.isEmpty || len <= budget)) {
          picked += i
          budget -= len
        }
      }
      val out = sents.indices.filter(picked).map(sents).mkString(" ")
      Text.truncateTokens(out, maxTokens)
    }
  }
}

/** Deterministic extractive summarizer (the default scalar).
  *
  * Scores each sentence by the sum of corpus-free term frequencies of its
  * tokens within the input (classic TF extractive scoring), normalized by
  * sqrt(sentence length) to avoid long-sentence bias; selects the highest
  * scoring sentences (ties broken by earlier position), then emits the
  * selected sentences in their ORIGINAL order, truncated to the token
  * budget. Pure function of the input — byte-stable across runs/partitions.
  */
object ExtractiveSummarizer extends Summarizer {
  override def summarize(text: String, maxTokens: Int): String =
    prepared(text)(maxTokens)

  /** Sentence split + TF scoring happen ONCE per text; each budget call
    * only runs the greedy selection. The critique retry loop calls the
    * returned closure up to maxCritiqueIterations+1 times per row.
    */
  override def prepared(text: String): Int => String = {
    val sents = Text.sentences(text)
    if (sents.isEmpty) return _ => ""
    val tf = scala.collection.mutable.HashMap.empty[String, Int]
    val sentToks = sents.map(Text.metricTokens)
    sentToks.foreach(_.foreach(t => tf.update(t, tf.getOrElse(t, 0) + 1)))
    val scored = sents.indices.map { i =>
      val toks = sentToks(i)
      val raw = toks.iterator.map(tf(_).toDouble).sum
      val norm = if (toks.isEmpty) 0.0 else raw / math.sqrt(toks.length.toDouble)
      (i, norm)
    }
    // highest score first, earlier sentence wins ties
    val byScore = scored.sortBy { case (i, s) => (-s, i) }
    BudgetWalk.emitter(sents, byScore.map(_._1))
  }
}

/** Lead-K summarizer: first maxTokens tokens. The simplest deterministic
  * baseline (mirrors the reference's Q1 "truncated" spirit).
  */
object LeadSummarizer extends Summarizer {
  override def summarize(text: String, maxTokens: Int): String =
    Text.truncateTokens(Text.cleanThinkingFlat(text), maxTokens)
}

/** Identity (tests): returns the cleaned input, truncated. */
object IdentitySummarizer extends Summarizer {
  override def summarize(text: String, maxTokens: Int): String =
    Text.truncateTokens(text, maxTokens)
}

/** Deterministic judge for the critique strategy (SURVEY.md §2.3 Q3;
  * reference: runners/run_summarization_ollama_mapreduce_critique.py:118-201).
  * The reference's critique is an LLM verdict string, gated on a
  * "no issues" substring (:253-255). The deterministic stand-in flags a
  * summary when it retains too little of the source vocabulary.
  */
trait Judge extends Serializable {
  /** Returns a critique string; must contain [[Judge.NoIssues]] iff the
    * summary passes.
    */
  def critique(summary: String, source: String): String

  /** Summary -> critique closure for REPEATED critiques against the same
    * source (the critique retry loop). Implementations that analyze the
    * source (tokenize, embed) should override to hoist that per-source
    * work. Must agree exactly with [[critique]].
    */
  def preparedCritique(source: String): String => String = critique(_, source)

  /** G-Eval-shaped numeric rubric scores in [0,1] (reference:
    * evaluate/evaluate_summaries_semantic.py:275-307 — Correctness judged
    * against the expected text, Coherence judged on the output alone).
    * Default derives both from the binary verdict; real judges override.
    */
  def scores(summary: String, source: String): (Double, Double) = {
    val pass = if (critique(summary, source).contains(Judge.NoIssues)) 1.0 else 0.0
    (pass, pass)
  }

  /** One pair's verdict and rubric scores: [[critique]], then [[scores]].
    * Judges that analyze both texts should override to do it once. Must
    * agree exactly with the two.
    */
  def assess(summary: String, source: String): (String, Double, Double) = {
    val verdict = critique(summary, source)
    val (correctness, coherence) = scores(summary, source)
    (verdict, correctness, coherence)
  }
}

object Judge {
  val NoIssues = "no issues"
}

final case class CoverageJudge(minCoverage: Double = 0.25) extends Judge {
  override def critique(summary: String, source: String): String =
    preparedCritique(source)(summary)

  /** Source tokenization happens once; each retry only tokenizes the new
    * (short) candidate summary.
    *
    * The failure verdict reports coverage as an exact integer ratio
    * (hits/total) rather than a formatted float: Java's `%.3f` rounds
    * HALF_UP while C-style printf rounds half-to-even, so a float-formatted
    * verdict could never be held to a SQL oracle bit-exactly.
    */
  override def preparedCritique(source: String): String => String = {
    val srcToks = Text.metricTokens(source).toSet
    summary => verdict(summary, srcToks, hits(srcToks, Text.metricTokens(summary)))
  }

  private def hits(srcToks: Set[String], sumToks: Array[String]): Int =
    srcToks.count(sumToks.toSet.contains)

  private def verdict(summary: String, srcToks: Set[String], n: Int): String =
    if (summary.trim.isEmpty) "empty summary"
    else if (srcToks.nonEmpty && n.toDouble / srcToks.size >= minCoverage) Judge.NoIssues
    else s"low source coverage: $n/${srcToks.size} < $minCoverage"

  /** Correctness = source-vocabulary coverage fraction; coherence =
    * lexical-diversity proxy (distinct / total tokens — a repetitive
    * degenerate summary scores low). Deterministic stand-ins with the
    * reference rubrics' shape and range.
    */
  override def scores(summary: String, source: String): (Double, Double) = {
    val (_, correctness, coherence) = assess(summary, source)
    (correctness, coherence)
  }

  /** Each text tokenized once for the verdict and both scores. */
  override def assess(summary: String, source: String): (String, Double, Double) = {
    val srcToks = Text.metricTokens(source).toSet
    val toks = Text.metricTokens(summary)
    val n = hits(srcToks, toks)
    val correctness =
      if (srcToks.isEmpty || summary.trim.isEmpty) 0.0 else n.toDouble / srcToks.size
    val coherence = if (toks.isEmpty) 0.0 else toks.distinct.length.toDouble / toks.length
    (verdict(summary, srcToks, n), correctness, coherence)
  }
}
