package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

/** The benchmark's HTTP client (the `loadgen` layer). */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private def enc(s: String) = java.net.URLEncoder.encode(s, UTF_8)

  def url(path: String, params: Seq[(String, String)]): URI =
    URI.create(s"http://127.0.0.1:$port$path?" +
      params.map { case (k, v) => s"$k=${enc(v)}" }.mkString("&"))

  /** GET, reading the whole body: (status, body bytes) */
  def get(uri: URI): (Int, Array[Byte]) = {
    val r = client.send(HttpRequest.newBuilder(uri).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    (r.statusCode, r.body)
  }

  /** POST of a snappy-compressed remote-write 1.0 request */
  def postWrite(body: Array[Byte]): Int = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/write"))
      .header("Content-Type", "application/x-protobuf")
      .header("Content-Encoding", "snappy")
      .header("X-Prometheus-Remote-Write-Version", "0.1.0")
      .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build()
    client.send(req, HttpResponse.BodyHandlers.discarding()).statusCode
  }
}

object Http {
  /** milliseconds as the API's decimal seconds, never in exponent form */
  def seconds(ms: Long): String = java.math.BigDecimal.valueOf(ms, 3).toPlainString
}

/** Parsed Prometheus API response: the whole body goes through the
  * program's JSON reader, so every byte of the output is consumed. */
object ApiJson {
  import graft.web.JsonLite

  /** data.result of a successful response, or the reason it is not one */
  def result(status: Int, body: Array[Byte]): Either[String, (String, List[Any])] = {
    val text = new String(body, UTF_8)
    if (status / 100 != 2) Left(s"HTTP $status: ${text.take(200)}")
    else JsonLite.parse(text) match {
      case m: Map[String, Any] @unchecked if m.get("status").contains("success") =>
        val d = m("data").asInstanceOf[Map[String, Any]]
        Right((d("resultType").asInstanceOf[String], d("result") match {
          case l: List[Any] => l
          case other => List(other)
        }))
      case other => Left(s"not a success response: ${text.take(200)}")
    }
  }

  /** the single value of a scalar-valued instant vector (0 when empty) */
  def vectorValue(result: List[Any]): Double = result match {
    case Nil => 0.0
    case s :: Nil =>
      s.asInstanceOf[Map[String, Any]]("value").asInstanceOf[List[Any]](1).asInstanceOf[String].toDouble
    case more => throw new IllegalStateException(s"expected one series, got ${more.size}")
  }
}
