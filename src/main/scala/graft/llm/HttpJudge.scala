package graft.llm

/** M4/P6: the reference's critique step is the SAME generate-endpoint LLM
  * call as summarization, with a critique prompt and a containment check on
  * the response — `"không có vấn đề" in critique_result.lower() or
  * "no issues" in critique_result.lower()`
  * (runners/run_summarization_ollama_mapreduce_critique.py:224-257). This
  * implementation speaks that shape and normalizes the verdict to the
  * [[Judge]] contract: the returned critique contains [[Judge.NoIssues]]
  * iff a pass marker appears (case-insensitively) in the model's output,
  * so a Vietnamese-only "Không có vấn đề" verdict still passes the gate.
  *
  * G-Eval rubric scores (reference: evaluate/evaluate_summaries_semantic
  * .py:275-307 — Correctness judged against the expected text, Coherence
  * on the output alone) are one generate call per rubric asking for a
  * number in [0,1]; the first parseable float is clamped into range. A
  * call that fails or returns no number falls back to the binary verdict,
  * mirroring the reference's per-case failure isolation.
  *
  * Executor lifecycle matches [[HttpSummarizer]]: serializable config, one
  * connection-pooled client per executor JVM ([[HttpGenerate]]).
  * NOT deterministic unless the backing model is — keep it out of oracle
  * paths; oracle/test runs use [[CoverageJudge]].
  */
final case class HttpJudge(
    endpoint: String,
    model: String,
    timeoutMillis: Long = 600000L,
    passMarkers: Seq[String] = Seq(Judge.NoIssues, "không có vấn đề"),
    maxRetries: Int = 3,
    backoffMillis: Long = 500L) extends Judge {

  @transient private lazy val call =
    HttpGenerate(endpoint, model, timeoutMillis, maxRetries, backoffMillis)

  /** One generate call ([[HttpGenerate]]) capped at 512 output tokens;
    * None once retries are exhausted, the status is non-retryable, or the
    * response is empty.
    */
  private def generate(prompt: String): Option[String] =
    call(prompt, 512).filter(_.nonEmpty)

  override def critique(summary: String, source: String): String =
    generate(Prompts.critique.fill(
      "summary" -> summary, "original_chunks" -> source)) match {
      case Some(raw) =>
        val lower = raw.toLowerCase(java.util.Locale.ROOT)
        if (passMarkers.exists(m => lower.contains(m.toLowerCase(java.util.Locale.ROOT))))
          Judge.NoIssues
        else raw
      case None =>
        // fail closed: an unreachable judge reports an issue (bounded by
        // the strategy's max critique iterations), never a silent pass
        "critique unavailable"
    }

  private val scorePattern = java.util.regex.Pattern.compile("\\d+(?:\\.\\d+)?")

  private def rubricScore(prompt: String, fallback: => Double): Double =
    generate(prompt).flatMap { raw =>
      val m = scorePattern.matcher(raw)
      if (m.find()) Some(math.max(0.0, math.min(1.0, m.group.toDouble))) else None
    }.getOrElse(fallback)

  override def scores(summary: String, source: String): (Double, Double) = {
    lazy val binary =
      if (critique(summary, source).contains(Judge.NoIssues)) 1.0 else 0.0
    val correctness = rubricScore(
      "Rate the factual correctness of the summary against the expected " +
        s"text as a number between 0 and 1. Respond with only the number.\n\n" +
        s"Expected:\n$source\n\nSummary:\n$summary", binary)
    val coherence = rubricScore(
      "Rate the coherence and fluency of the following text as a number " +
        s"between 0 and 1. Respond with only the number.\n\n$summary", binary)
    (correctness, coherence)
  }
}
