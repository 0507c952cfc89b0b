package graft.embed

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap}

/** Generic HTTP/JSON embedding provider — the process-boundary-crossing
  * implementation of [[EmbeddingProvider]] that the reference's async
  * operator contract calls for (reference
  * `operators/asyncIO/BedRockEmbeddingModelAsyncCustomMessage.java:47-117`:
  * async `InvokeModel` with a JSON `inputText` request and an
  * `embedding` + `inputTextTokenCount` JSON response — the public Titan
  * wire shape, reproduced here against any HTTP endpoint).
  *
  * No cloud SDK: plain `java.net.http.HttpClient` (JDK 11+). Request:
  * `POST {"inputText": "…"}`; response: `{"embedding": [f, …],
  * "inputTextTokenCount": n}`.
  *
  * Failure contract (what [[EmbeddingStage.embedIteratorSafe]] relies on),
  * the same for [[embed]] and [[embedAsync]]:
  *  - non-2xx → `IOException` (retryable, then dead-letter);
  *  - a body without the model's dimension → `IOException`;
  *  - connect/read beyond the configured timeouts → `HttpTimeoutException`
  *    (an `IOException` — the call is SELF-bounding, it can't hold a
  *    window slot past `requestTimeoutMs`);
  *  - thread interrupt of a blocking [[embed]] → `InterruptedException`
  *    propagates.
  *
  * [[embedAsync]] uses `HttpClient.sendAsync`, so no thread is held while
  * the model answers. The `HttpClient` is immutable and thread-safe, and it
  * comes from one per-JVM cache keyed by `connectTimeoutMs`: the case class
  * serializes to executors, and every deserialized copy there shares one
  * client, whose keep-alive connections outlive tasks, runs and micro-batches.
  */
final case class HttpEmbeddingProvider(
    endpoint: String,
    modelAlias: String = "titan-v2",
    connectTimeoutMs: Long = 2000,
    requestTimeoutMs: Long = 10000) extends EmbeddingProvider {

  override val dim: Int = EmbeddingModels.dimOf(modelAlias)

  @transient private lazy val client: HttpClient = HttpEmbeddingProvider.sharedClient(connectTimeoutMs)

  override def embed(text: String): EmbeddingResult =
    decode(client.send(request(text), HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8)))

  override def embedAsync(text: String): CompletableFuture[EmbeddingResult] =
    client.sendAsync(request(text), HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
      .thenApply(decode(_))

  private def request(text: String): HttpRequest =
    HttpRequest.newBuilder(URI.create(endpoint))
      .timeout(java.time.Duration.ofMillis(requestTimeoutMs))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(
        s"""{"inputText": ${JsonCodec.quote(text)}}""", StandardCharsets.UTF_8))
      .build()

  private def decode(resp: HttpResponse[String]): EmbeddingResult = {
    if (resp.statusCode() / 100 != 2)
      throw new java.io.IOException(
        s"embedding endpoint HTTP ${resp.statusCode()}: ${resp.body().take(200)}")
    val (vec, tokens) = JsonCodec.parseEmbedding(resp.body())
    if (vec.length != dim)
      throw new java.io.IOException(
        s"embedding endpoint returned ${vec.length} dims, expected $dim")
    EmbeddingResult(vec, tokens)
  }
}

object HttpEmbeddingProvider {
  private val clients = new ConcurrentHashMap[java.lang.Long, HttpClient]()

  private def sharedClient(connectTimeoutMs: Long): HttpClient =
    clients.computeIfAbsent(connectTimeoutMs, ms => HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(ms))
      .build())
}

/** Minimal JSON encode/decode for the embedding wire shape — enough for the
  * `inputText` request and the `embedding`/`inputTextTokenCount` response,
  * with full string escaping, so no JSON library dependency is needed. */
private[embed] object JsonCodec {

  def quote(s: String): String = {
    val b = new StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** Extract `"embedding": [floats…]` and `"inputTextTokenCount": n` from a
    * JSON object body. Tolerant of whitespace and key order; rejects bodies
    * without a well-formed embedding array. */
  def parseEmbedding(body: String): (Array[Float], Int) = {
    val arr = extractArray(body, "embedding")
      .getOrElse(throw new java.io.IOException(
        s"no embedding array in response: ${body.take(200)}"))
    val floats = new Array[Float](arr.length)
    var i = 0
    while (i < arr.length) {
      floats(i) = java.lang.Float.parseFloat(arr(i).trim)
      i += 1
    }
    val tokens = extractNumber(body, "inputTextTokenCount").map(_.toInt).getOrElse(0)
    (floats, tokens)
  }

  private def extractArray(body: String, key: String): Option[Array[String]] = {
    val k = "\"" + key + "\""
    val ki = body.indexOf(k)
    if (ki < 0) return None
    val open = body.indexOf('[', ki + k.length)
    if (open < 0) return None
    val close = body.indexOf(']', open)
    if (close < 0) return None
    val inner = body.substring(open + 1, close).trim
    Some(if (inner.isEmpty) Array.empty[String] else inner.split(","))
  }

  private def extractNumber(body: String, key: String): Option[Long] = {
    val k = "\"" + key + "\""
    val ki = body.indexOf(k)
    if (ki < 0) return None
    val colon = body.indexOf(':', ki + k.length)
    if (colon < 0) return None
    var i = colon + 1
    while (i < body.length && body.charAt(i).isWhitespace) i += 1
    val start = i
    while (i < body.length && (body.charAt(i).isDigit || body.charAt(i) == '-')) i += 1
    if (i == start) None else Some(body.substring(start, i).toLong)
  }
}
