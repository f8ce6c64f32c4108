package graft.streaming

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration

/** The one HTTP transport of the service-discovery providers.
  *
  * Every provider's default `HttpApiClient` is a thin adapter over this
  * object: it contributes its base URL, paths, pagination and any signed or
  * provider-specific headers, while the client, timeouts, `Accept` default,
  * status check and `Authorization` renderings live here once. One
  * `HttpClient` serves all SD traffic, so connections pool across providers
  * and refreshes. */
object SdHttp {

  /** the shared default client of [[graft.web.OutboundHttp]] */
  val client: HttpClient = graft.web.OutboundHttp.default

  /** a non-accepted status; the message names provider, status and path */
  final class StatusError(val provider: String, val status: Int, val path: String)
      extends IllegalStateException(s"$provider sd: status $status for $path")

  val only200: Int => Boolean = _ == 200
  val any2xx: Int => Boolean = _ / 100 == 2

  /** a request with the SD defaults: a 30 s timeout (a hung endpoint must
    * not wedge the poll) and `Accept: <accept>` unless `accept` is empty,
    * then `headers` */
  def request(url: String, headers: Iterable[(String, String)] = Nil,
      accept: String = "application/json"): HttpRequest.Builder = {
    val b = HttpRequest.newBuilder(URI.create(url)).timeout(Duration.ofSeconds(30))
    if (accept.nonEmpty) b.header("Accept", accept)
    headers.foreach { case (k, v) => b.header(k, v) }
    b
  }

  /** send on the shared client; a status `ok` rejects throws [[StatusError]] */
  def exchange(provider: String, req: HttpRequest,
      ok: Int => Boolean = only200): HttpResponse[String] = {
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    if (!ok(resp.statusCode())) {
      val u = req.uri()
      throw new StatusError(provider, resp.statusCode(),
        u.getRawPath + Option(u.getRawQuery).map("?" + _).getOrElse(""))
    }
    resp
  }

  def get(provider: String, url: String, headers: Iterable[(String, String)] = Nil,
      ok: Int => Boolean = only200, accept: String = "application/json"): String =
    exchange(provider, request(url, headers, accept).GET().build(), ok).body()

  def post(provider: String, url: String, body: String,
      headers: Iterable[(String, String)] = Nil, ok: Int => Boolean = only200,
      accept: String = "application/json"): String =
    exchange(provider, request(url, headers, accept)
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(), ok).body()

  // ------------------------------------------------------------ credentials

  /** `inline` when set, else the trimmed content of `file` read on every
    * call (a rotated token takes effect at the next request), else "" */
  def secret(inline: String, file: String = ""): String =
    if (inline.nonEmpty) inline
    else if (file.nonEmpty)
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)), UTF_8).trim
    else ""

  /** `Authorization: Bearer …` from an inline token or a token file; no
    * header when neither yields a token */
  def bearer(token: String, tokenFile: String = ""): Seq[(String, String)] = {
    val t = secret(token, tokenFile)
    if (t.isEmpty) Nil else Seq("Authorization" -> s"Bearer $t")
  }

  def basic(username: String, password: String): Seq[(String, String)] =
    Seq("Authorization" -> ("Basic " + java.util.Base64.getEncoder.encodeToString(
      s"$username:$password".getBytes(UTF_8))))
}
