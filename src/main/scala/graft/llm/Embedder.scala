package graft.llm

import graft.core.Text

/** Text -> fixed-dim vector, pluggable (SURVEY.md §2.9 M3; the reference
  * uses a sentence-transformer — evaluate/evaluate_summaries_semantic.py:128-139).
  * The default is a deterministic hashing-TF embedder so semantic-similarity
  * metrics are byte-stable offline; a model-backed implementation can slot
  * in per-partition without touching the plan.
  */
trait Embedder extends Serializable {
  def dim: Int
  def embed(text: String): Array[Float]
}

/** Hashing term-frequency embedding, L2-normalized. Deterministic: token ->
  * bucket via murmur-style string hash, weight = sqrt(tf) (sublinear TF).
  */
final case class HashingTfEmbedder(dim: Int = 64) extends Embedder {
  override def embed(text: String): Array[Float] = {
    val v = new Array[Float](dim)
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    Text.metricTokens(text).foreach(t => counts.update(t, counts.getOrElse(t, 0) + 1))
    counts.foreach { case (tok, tf) =>
      val h = scala.util.hashing.MurmurHash3.stringHash(tok, 42)
      val idx = math.floorMod(h, dim)
      val sign = if (((h >>> 31) & 1) == 0) 1f else -1f
      v(idx) += sign * math.sqrt(tf.toDouble).toFloat
    }
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
    if (norm > 0) v.map(x => (x / norm).toFloat) else v
  }
}

/** Embeddings over HTTP, speaking the public embeddings-endpoint shape
  * (POST `{model, prompt}` -> `{"embedding": [..]}`) — the switchable slot
  * for the model-backed embedder the reference loads in-process
  * (evaluate/evaluate_summaries_semantic.py:128-139, a sentence
  * transformer). The served vector is fitted to `dim` (truncate / zero-pad)
  * so downstream fixed-width array schemas hold regardless of the backing
  * model; a failed call yields the zero vector (cosine 0 against
  * everything — the same "empty text" convention as the hashing embedders,
  * so one dead endpoint degrades scores instead of killing the job).
  *
  * Executor lifecycle matches [[HttpSummarizer]]: serializable config, one
  * connection-pooled client per executor JVM. NOT deterministic across
  * backing models — keep it out of oracle paths.
  */
final case class HttpEmbedder(
    endpoint: String,
    model: String,
    dim: Int = 64,
    timeoutMillis: Long = 60000L) extends Embedder {

  @transient private lazy val client: java.net.http.HttpClient =
    java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(math.min(timeoutMillis, 30000L)))
      .build()

  @transient private lazy val mapper =
    new com.fasterxml.jackson.databind.ObjectMapper()

  override def embed(text: String): Array[Float] = {
    val out = new Array[Float](dim)
    try {
      val body = mapper.createObjectNode()
      body.put("model", model)
      body.put("prompt", text)
      val req = java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(endpoint))
        .timeout(java.time.Duration.ofMillis(timeoutMillis))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body.toString))
        .build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() == 200) {
        val vec = mapper.readTree(resp.body()).get("embedding")
        if (vec != null && vec.isArray) {
          var i = 0
          val n = math.min(dim, vec.size)
          while (i < n) { out(i) = vec.get(i).asDouble.toFloat; i += 1 }
        }
      }
    } catch {
      case _: Exception => java.util.Arrays.fill(out, 0f)
    }
    out
  }
}

/** The md5 hashing decision of the md5 embedders, which their SQL oracles
  * replay: metric-token term frequencies, token -> bucket = first 60 md5
  * digest bits mod `dim`, sign = bit 6 of those bits; `weight(tf)` is
  * added into the bucket with that sign.
  */
private object Md5Buckets {
  def accumulate(text: String, dim: Int)(weight: Int => Float): Array[Float] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val v = new Array[Float](dim)
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    Text.metricTokens(text).foreach(t => counts.update(t, counts.getOrElse(t, 0) + 1))
    counts.foreach { case (tok, tf) =>
      md.reset()
      val d = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var h = 0L
      var b = 0
      while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      h = h >>> 4 // first 15 hex nibbles = 60 bits, nonnegative
      val idx = (h % dim).toInt
      val sign = if (((h >>> 6) & 1L) == 0L) 1f else -1f
      v(idx) += sign * weight(tf)
    }
    v
  }
}

/** [[Md5TfEmbedder]] with RAW term-frequency weights and NO normalization:
  * every vector component is an exact (small) integer, so dot products and
  * squared norms are exact integers and cosine = dot / (sqrt(na)*sqrt(nb))
  * runs the identical correctly-rounded IEEE double ops in Spark
  * ([[graft.functions.VecCosine]]) and DuckDB — bit-identical with no
  * rounding luck, unlike the sqrt(tf) float weights of [[Md5TfEmbedder]].
  * Cosine is scale-invariant, so skipping L2 normalization changes nothing
  * downstream of a cosine. The oracle-exact embedder for eval_pair_metrics.
  */
final case class Md5TfCountEmbedder(dim: Int = 64) extends Embedder {
  override def embed(text: String): Array[Float] =
    Md5Buckets.accumulate(text, dim)(_.toFloat)
}

/** [[HashingTfEmbedder]] with the bucket/sign derived from md5 (first 60
  * digest bits, like the MinHash/SimHash family) instead of murmur: md5 is
  * bit-identical in DuckDB, so metric formulas driven by this embedder
  * have exact SQL oracles. For a SINGLE metric token the embedding is
  * exactly ±e_bucket (one entry, unit norm), which reduces token-pair
  * cosine to a bucket/sign comparison — what the eval_bert_ngram oracle
  * exploits.
  */
final case class Md5TfEmbedder(dim: Int = 64) extends Embedder {
  override def embed(text: String): Array[Float] = {
    val v = Md5Buckets.accumulate(text, dim)(tf => math.sqrt(tf.toDouble).toFloat)
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
    if (norm > 0) v.map(x => (x / norm).toFloat) else v
  }
}
