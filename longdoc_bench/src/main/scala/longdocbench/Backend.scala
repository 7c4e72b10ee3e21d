package longdocbench

import java.lang.management.ManagementFactory
import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, Executors, Semaphore, ThreadFactory}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** A generate endpoint (`POST {model, prompt, options:{num_predict}}` ->
  * `{response}`) inside the benchmark JVM, standing in for an LLM server.
  *
  * - `capacity` requests are served at once; a request above that gets 429.
  * - Service time is a sleep of [[Backend.ServiceMs]] per request, so the
  *   backend uses no CPU for it. The figure is not calibrated against a
  *   real model (see there): the traffic is that of a fixed-latency
  *   backend, not of an LLM.
  * - The "model" echoes every other word of the prompt body (the text
  *   between the template's first and last blank line), up to
  *   `num_predict` words, so summaries fill their budget, collapse rounds
  *   happen as with a real model, and each strategy's output depends on
  *   how it chunked and collapsed. [[Backend.echo]] is the same function
  *   for plain-Scala replays.
  * - Every [[Backend.FailEvery]]-th request of a pass, if it is a
  *   prompt's first attempt, gets a 503 (see [[newPass]]), so every pass
  *   meets the same number of failures.
  * - Handler threads are daemons; [[close]] stops the server.
  * - The CPU its handler threads and dispatcher use is counted in
  *   [[cpuSeconds]], so the benchmark can charge it to the fixture rather
  *   than to the program.
  */
final class Backend(capacity: Int) extends AutoCloseable {
  import Backend.{FailEvery, ServiceMs}

  // without TCP_NODELAY, delayed ACKs add ~40 ms to small exchanges
  System.setProperty("sun.net.httpserver.nodelay", "true")

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val slots = new Semaphore(capacity)
  private val failedOnce = ConcurrentHashMap.newKeySet[String]()
  private val arrivals = new AtomicLong

  val requests = new AtomicLong
  val status429 = new AtomicLong
  val status503 = new AtomicLong
  val retries = new AtomicLong
  val serviceNanos = new AtomicLong
  private val handlerCpuNanos = new AtomicLong
  private val threads = ManagementFactory.getThreadMXBean
  private val inflight = new AtomicInteger
  val peakInflight = new AtomicInteger
  // integral of in-flight requests over time, for the mean in a window
  private var inflightArea = 0.0
  private var lastChange = System.nanoTime()

  private def inflightChanged(delta: Int): Unit = synchronized {
    val now = System.nanoTime()
    inflightArea += inflight.get().toDouble * (now - lastChange)
    lastChange = now
    val n = inflight.addAndGet(delta)
    peakInflight.accumulateAndGet(n, math.max)
  }

  /** Starts a pass: prompts may fail their first attempt again. */
  def newPass(): Unit = { failedOnce.clear(); arrivals.set(0) }

  /** Request-seconds spent in flight so far. */
  def inflightSeconds: Double = synchronized {
    val now = System.nanoTime()
    (inflightArea + inflight.get().toDouble * (now - lastChange)) / 1e9
  }

  private val pool = Executors.newCachedThreadPool(new ThreadFactory {
    private val n = new AtomicInteger
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"fixture-backend-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 256)
  server.setExecutor(pool)
  server.createContext("/api/generate", (ex: HttpExchange) => handle(ex))
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/api/generate"

  // the server's dispatcher thread accepts connections and reads headers
  private val dispatcher = Thread.getAllStackTraces.keySet.asScala.find(_.getName == "HTTP-Dispatcher")

  /** CPU seconds the fixture has used so far: its handlers plus the
    * server's dispatcher thread.
    */
  def cpuSeconds: Double =
    (handlerCpuNanos.get + dispatcher.map(t => math.max(0L, threads.getThreadCpuTime(t.getId))).getOrElse(0L)) / 1e9

  private def reply(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length.toLong)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def handle(ex: HttpExchange): Unit = {
    val cpu0 = threads.getCurrentThreadCpuTime
    try serve(ex)
    finally handlerCpuNanos.addAndGet(threads.getCurrentThreadCpuTime - cpu0)
  }

  private def serve(ex: HttpExchange): Unit =
    try {
      requests.incrementAndGet()
      val req = mapper.readTree(ex.getRequestBody)
      val prompt = req.get("prompt").asText
      val numPredict = req.get("options").get("num_predict").asInt
      val key = s"$numPredict:$prompt"
      if (failedOnce.contains(key)) retries.incrementAndGet()
      if (arrivals.incrementAndGet() % FailEvery == 0 && failedOnce.add(key)) {
        status503.incrementAndGet()
        reply(ex, 503, "")
      } else if (!slots.tryAcquire()) {
        status429.incrementAndGet()
        failedOnce.add(key)
        reply(ex, 429, "")
      } else {
        inflightChanged(1)
        try {
          val body = Backend.body(prompt)
          val out = Backend.echo(body, numPredict)
          val nanos = (ServiceMs * 1e6).toLong
          val deadline = System.nanoTime() + nanos
          var left = nanos
          while (left > 0) { LockSupport.parkNanos(left); left = deadline - System.nanoTime() }
          serviceNanos.addAndGet(nanos)
          val resp = mapper.createObjectNode()
          resp.put("response", out)
          reply(ex, 200, resp.toString)
        } finally {
          inflightChanged(-1)
          slots.release()
        }
      }
    } catch {
      case e: Exception =>
        System.err.println(s"[longdoc-bench] backend handler failed: $e")
        try reply(ex, 500, "") catch { case _: Exception => ex.close() }
    }

  override def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
  }
}

object Backend {
  /** Service time of one request, in ms: the fixed latency of the stub
    * backend against which the engine was first probed (48 ds1-shaped
    * docs, 288 calls, 1.3 requests in flight on 4 slots). It is that
    * probe's figure, not a measurement of a model: no model's prefill or
    * decode rate is measured or cited here, so the service time does not
    * grow with prompt or output length, and `mixed_http` timings are not
    * those of an LLM backend.
    */
  val ServiceMs = 50.0
  /** One request in this many fails (2%) when it is a prompt's first
    * attempt. The failures are counted, not drawn by prompt hash: a hashed
    * 2% gives a pass 0 to 3 failures depending on the seed, each costing
    * the client's retry backoff, so throughput would vary with the seed.
    */
  val FailEvery = 50

  /** The prompt body: between the template's first and last blank line. */
  def body(prompt: String): String = {
    val a = prompt.indexOf("\n\n")
    val b = prompt.lastIndexOf("\n\n")
    if (a < 0 || b <= a) prompt else prompt.substring(a + 2, b)
  }

  def echo(body: String, numPredict: Int): String = {
    val toks = graft.core.Text.wsTokens(body)
    toks.indices.iterator.filter(_ % 2 == 0).take(numPredict).map(toks(_)).mkString(" ")
  }

  /** Whitespace token count without allocating the tokens. */
  def tokens(s: String): Int = {
    var n = 0
    var inTok = false
    var i = 0
    while (i < s.length) {
      val ws = Character.isWhitespace(s.charAt(i))
      if (!ws && !inTok) n += 1
      inTok = !ws
      i += 1
    }
    n
  }
}
