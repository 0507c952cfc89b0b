package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}

/** The few JSON shapes the benchmark reads and writes: the embedding wire
  * shape, `_bulk` NDJSON, and its own result lines. */
object Json {
  private val factory = new JsonFactory()

  /** FNV-1a 64 over the UTF-8 bytes, offset by `seed`. */
  def fnv(seed: Long, s: String): Long = fnv(s.getBytes(UTF_8), seed)

  def fnv(bytes: Array[Byte], seed: Long = 0L): Long = {
    var h = 0xcbf29ce484222325L ^ (seed * 0x9e3779b97f4a7c15L)
    var i = 0
    while (i < bytes.length) { h = (h ^ (bytes(i) & 0xffL)) * 0x100000001b3L; i += 1 }
    h & Long.MaxValue
  }

  def inputText(body: Array[Byte]): String = {
    val p = factory.createParser(body)
    try {
      var out: String = null
      while (out == null && p.nextToken() != null)
        if (p.currentToken() == JsonToken.FIELD_NAME && p.currentName() == "inputText") {
          p.nextToken(); out = p.getText
        }
      if (out == null) throw new IllegalArgumentException("request without inputText")
      out
    } finally p.close()
  }

  def embeddingResponse(r: graft.embed.EmbeddingResult): Array[Byte] = {
    val b = new java.lang.StringBuilder(r.embedding.length * 12 + 64).append("{\"embedding\":[")
    var i = 0
    while (i < r.embedding.length) {
      if (i > 0) b.append(',')
      b.append(r.embedding(i))
      i += 1
    }
    b.append("],\"inputTextTokenCount\":").append(r.inputTextTokenCount).append('}')
    b.toString.getBytes(UTF_8)
  }

  /** One document of a `_bulk` body. */
  final case class BulkDoc(index: String, id: String, text: String, date: String,
                           vector: Array[Float])

  /** Splits a `_bulk` NDJSON body into its (action, document) pairs. */
  def parseBulk(body: Array[Byte]): Seq[BulkDoc] = {
    val out = Seq.newBuilder[BulkDoc]
    var pos = 0
    var action: (String, String) = null
    while (pos < body.length) {
      var end = pos
      while (end < body.length && body(end) != '\n') end += 1
      if (end > pos) {
        val p = factory.createParser(body, pos, end - pos)
        try {
          if (action == null) action = parseAction(p)
          else { out += parseDoc(p, action); action = null }
        } finally p.close()
      }
      pos = end + 1
    }
    require(action == null, "bulk body ends with an action line and no document")
    out.result()
  }

  private def parseAction(p: JsonParser): (String, String) = {
    var index: String = null
    var id: String = null
    while (p.nextToken() != null)
      if (p.currentToken() == JsonToken.FIELD_NAME) p.currentName() match {
        case "_index" => p.nextToken(); index = p.getText
        case "_id" => p.nextToken(); id = p.getText
        case _ =>
      }
    (index, id)
  }

  private def parseDoc(p: JsonParser, action: (String, String)): BulkDoc = {
    var text: String = null
    var date: String = null
    var vec: Array[Float] = null
    require(p.nextToken() == JsonToken.START_OBJECT, "bulk document is not an object")
    while (p.nextToken() == JsonToken.FIELD_NAME) {
      val name = p.currentName()
      p.nextToken()
      name match {
        case "text" => text = p.getText
        case "date" => date = p.getText
        case "passage_embedding" =>
          val b = Array.newBuilder[Float]
          while (p.nextToken() != JsonToken.END_ARRAY) b += java.lang.Float.parseFloat(p.getText)
          vec = b.result()
        case _ => p.skipChildren()
      }
    }
    BulkDoc(action._1, action._2, text, date, vec)
  }

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

  /** A finite double as JSON, with all its digits. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) throw new IllegalArgumentException(s"not a finite number: $d")
    else java.lang.Double.toString(d)
}
