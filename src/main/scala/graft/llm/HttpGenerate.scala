package graft.llm

/** The one generate-endpoint call both HTTP scalars make
  * ([[HttpSummarizer]], [[HttpJudge]]): POST
  * `{model, prompt, stream:false, think:false, options:{num_predict}}`
  * and read `.response`, retried per [[HttpRetry]]. None once retries are
  * exhausted or the status is non-retryable; each caller decides what a
  * failure means (the summarizer isolates it as "", the judge fails
  * closed).
  *
  * Executor lifecycle: a small serializable config whose HTTP client is
  * a `@transient lazy val`, so each executor JVM builds exactly one
  * connection-pooled client (no client per row, none shipped from the
  * driver).
  */
private[llm] final case class HttpGenerate(
    endpoint: String,
    model: String,
    timeoutMillis: Long,
    maxRetries: Int,
    backoffMillis: Long) {

  @transient private lazy val client: java.net.http.HttpClient =
    java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(math.min(timeoutMillis, 30000L)))
      .build()

  @transient private lazy val mapper =
    new com.fasterxml.jackson.databind.ObjectMapper()

  def apply(prompt: String, numPredict: Int): Option[String] =
    HttpRetry.run(maxRetries, backoffMillis) { () =>
      val body = mapper.createObjectNode()
      body.put("model", model)
      body.put("prompt", prompt)
      body.put("stream", false)
      body.put("think", false)
      body.putObject("options").put("num_predict", numPredict)
      val req = java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(endpoint))
        .timeout(java.time.Duration.ofMillis(timeoutMillis))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body.toString))
        .build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() != 200) Left(resp.statusCode())
      else Right(Option(mapper.readTree(resp.body()).get("response"))
        .map(_.asText).getOrElse(""))
    }
}
