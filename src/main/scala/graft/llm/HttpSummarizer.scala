package graft.llm

import graft.core.Text

/** F6: the reference's core scalar is an LLM call over HTTP (POST
  * `{model, prompt, stream:false, options:{num_predict}, think:false}` ->
  * `.response`; runners/run_summarization_ollama_mapreduce.py:37-49). This
  * implementation speaks that same generate-endpoint shape.
  *
  * Executor lifecycle: the class is shipped as a small serializable config
  * and the request goes through [[HttpGenerate]], whose HTTP client is a
  * `@transient lazy val`, so each executor JVM builds exactly one
  * connection-pooled client (the per-partition client reuse SURVEY.md
  * §7.3 calls for — no client per row, no client on the driver shipped
  * over the wire).
  *
  * Failure isolation: a failed/timeout call yields "" instead of throwing,
  * mirroring the reference's per-case isolation (null-on-error, M4
  * pattern); downstream metric aggregates count empties. Throttles and
  * flaps (429/5xx/transport) are retried with exponential backoff first —
  * see [[HttpRetry]] — because production backends throttle; a
  * non-retryable status (4xx) gives up immediately.
  *
  * NOT deterministic unless the backing model is — keep it out of oracle
  * paths; all oracle/test runs use the deterministic summarizers.
  */
final case class HttpSummarizer(
    endpoint: String,
    model: String,
    timeoutMillis: Long = 600000L, // the reference's 600 s ceiling
    maxRetries: Int = 3,
    backoffMillis: Long = 500L) extends Summarizer {

  @transient private lazy val generate =
    HttpGenerate(endpoint, model, timeoutMillis, maxRetries, backoffMillis)

  override def summarize(text: String, maxTokens: Int): String =
    generate(Prompts.map.fill("content" -> text, "docs" -> text), maxTokens)
      .map(Text.cleanThinking)
      .getOrElse("") // per-case failure isolation after retries
}
