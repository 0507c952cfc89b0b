package perfbench

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, ScheduledThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The benchmark's stand-ins for the two remote services of the pipeline.
  * Both are JDK `HttpServer`s on the loopback interface. They time the
  * client from outside: what they record is what the pipeline asked of a
  * remote service, and when.
  *
  * `sun.net.httpserver.nodelay=true` must be set before the first server is
  * created (see [[Main]]): without it Nagle plus delayed ACK stalls each
  * small response by about 40 ms, and the mock measures itself. */
object Http {
  def server(): HttpServer = {
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 4096)
    s.setExecutor(Executors.newFixedThreadPool(4, r => {
      val t = new Thread(r, "perfbench-mock"); t.setDaemon(true); t
    }))
    s
  }

  def readBody(ex: HttpExchange): Array[Byte] = {
    val in = ex.getRequestBody
    val out = new ByteArrayOutputStream(8192)
    in.transferTo(out)
    in.close()
    out.toByteArray
  }

  def respond(ex: HttpExchange, status: Int, body: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, body.length.toLong)
    val os = ex.getResponseBody
    os.write(body)
    os.close()
  }
}

/** Mock Titan embedding endpoint.
  *
  * Wire shape: `POST {"inputText": …}` → `{"embedding": […],
  * "inputTextTokenCount": n}`, the vector being
  * `StubEmbeddingProvider("titan-v2")`'s for that text, so a landed vector
  * can be checked against the stub. The injected latency comes from a
  * scheduler: the handler thread parses the request, builds the response and
  * schedules its sending `latencyMs` later, so no thread sleeps per request
  * and the endpoint holds thousands of calls in flight at once.
  *
  * A text for which `throttle` holds gets a 503 on its first request and
  * the vector on its retry. [[forget]] starts a new pipeline run: texts
  * may be throttled again. */
final class MockEmbed(latencyMs: Long, throttle: String => Boolean) {
  private val stub = graft.embed.StubEmbeddingProvider("titan-v2")
  private val scheduler = new ScheduledThreadPoolExecutor(2, r => {
    val t = new Thread(r, "perfbench-embed-latency"); t.setDaemon(true); t
  })
  private val server = Http.server()

  val requests = new AtomicLong()
  val throttled = new AtomicLong()
  private val inflight = new AtomicInteger()
  private val inflightHigh = new AtomicInteger()
  private val heldNanos = new AtomicLong()
  private val throttledOnce = ConcurrentHashMap.newKeySet[String]()
  private val distinct = ConcurrentHashMap.newKeySet[String]()
  /** Server-side hold time of each call, ms. */
  val serverMs = new ConcurrentLinkedQueue[java.lang.Double]()

  server.createContext("/", ex => handle(ex))
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/embed"

  private def handle(ex: HttpExchange): Unit = {
    val start = System.nanoTime()
    val now = inflight.incrementAndGet()
    inflightHigh.accumulateAndGet(now, math.max)
    requests.incrementAndGet()
    val text = Json.inputText(Http.readBody(ex))
    distinct.add(text)
    val (status, body) =
      if (throttle(text) && throttledOnce.add(text)) {
        throttled.incrementAndGet()
        (503, """{"message":"throttled"}""".getBytes(UTF_8))
      } else (200, Json.embeddingResponse(stub.embed(text)))
    val traceStart = Trace.now()
    scheduler.schedule((() => {
      try Http.respond(ex, status, body)
      finally {
        val held = System.nanoTime() - start
        heldNanos.addAndGet(held)
        serverMs.add(held / 1e6)
        inflight.decrementAndGet()
        Trace.span("embed.request", traceStart, Trace.now(), Json.fnv(0L, text).toString)
      }
    }): Runnable, latencyMs, TimeUnit.MILLISECONDS)
  }

  def inflightMax: Int = inflightHigh.get()
  def distinctTexts: Int = distinct.size()
  /** Σ server-held time, s. Divided by wall time it is the mean number of
    * calls in flight. */
  def heldSeconds: Double = heldNanos.get() / 1e9

  def forget(): Unit = { throttledOnce.clear(); distinct.clear() }

  def reset(): Unit = {
    requests.set(0); throttled.set(0); inflightHigh.set(0); heldNanos.set(0)
    serverMs.clear(); forget()
  }

  def stop(): Unit = { server.stop(0); scheduler.shutdownNow() }
}

/** Mock OpenSearch `_bulk` endpoint. Every bulk is acknowledged at once
  * with `"errors": false`; its arrival time stamps each document in it (the
  * end point of source-to-sink latency). The raw bodies are kept for the
  * post-run check. A body seen before is counted as a retry. */
final class MockBulk {
  import MockBulk.Bulk
  private val server = Http.server()
  val bulks = new ConcurrentLinkedQueue[Bulk]()
  val bulkCount = new AtomicLong()
  /** Documents received: half the body's lines. */
  val docs = new AtomicLong()
  val bytes = new AtomicLong()
  val retries = new AtomicLong()
  private val seen = ConcurrentHashMap.newKeySet[Long]()
  val serverMs = new ConcurrentLinkedQueue[java.lang.Double]()

  server.createContext("/", ex => {
    val start = System.nanoTime()
    val traceStart = Trace.now()
    val body = Http.readBody(ex)
    val arrival = System.currentTimeMillis()
    bulkCount.incrementAndGet()
    bytes.addAndGet(body.length.toLong)
    docs.addAndGet(body.count(_ == '\n') / 2L)
    if (!seen.add(Json.fnv(body))) retries.incrementAndGet()
    Http.respond(ex, 200, """{"took":1,"errors":false,"items":[]}""".getBytes(UTF_8))
    serverMs.add((System.nanoTime() - start) / 1e6)
    bulks.add(Bulk(arrival, traceStart, Trace.now(), body))
  })
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** Takes the bulks received so far, leaving the store empty. */
  def drain(): Seq[Bulk] = {
    val out = Seq.newBuilder[Bulk]
    var b = bulks.poll()
    while (b != null) { out += b; b = bulks.poll() }
    out.result()
  }

  def reset(): Unit = {
    drain(); bulkCount.set(0); docs.set(0); bytes.set(0); retries.set(0); seen.clear(); serverMs.clear()
  }

  def stop(): Unit = server.stop(0)
}

object MockEmbed {
  /** Fires `n` concurrent calls at a fresh endpoint with `latencyMs`
    * injected latency. Returns (server-side in-flight high-water, wall ms):
    * a mock without a per-request thread holds all `n` at once and the
    * wall stays near the latency. */
  def capacityProbe(n: Int, latencyMs: Long): (Int, Double) = {
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val mock = new MockEmbed(latencyMs, _ => false)
    val pool = Executors.newFixedThreadPool(4)
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).executor(pool).build()
    try {
      val t0 = System.nanoTime()
      val calls = (0 until n).map { i =>
        client.sendAsync(HttpRequest.newBuilder(java.net.URI.create(mock.url))
          .POST(HttpRequest.BodyPublishers.ofString(s"""{"inputText":"probe $i"}""")).build(),
          HttpResponse.BodyHandlers.discarding())
      }
      val bad = calls.count(_.get(60, TimeUnit.SECONDS).statusCode() != 200)
      require(bad == 0, s"$bad of $n capacity-probe calls failed")
      (mock.inflightMax, (System.nanoTime() - t0) / 1e6)
    } finally { mock.stop(); pool.shutdownNow() }
  }
}

object MockBulk {
  /** One received bulk: its arrival stamp (epoch ms), its span on the
    * trace clock, and its body. */
  final case class Bulk(arrivalMs: Long, traceStart: Long, traceEnd: Long, body: Array[Byte])
}
