package graft.web

import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.streaming.Config.HttpClientCfg

/** The one outbound HTTP client factory (ref: prometheus/common
  * config.NewClientFromConfig): scrape pools, remote write/read, the
  * alertmanager sets, service discovery, the token fetchers and the CLI
  * tools all get their `HttpClient` here, from one [[HttpClientCfg]].
  *
  * The module also holds the one request decoration (custom headers, then
  * Authorization, then signer headers) and the one expiry-refreshed token
  * cache behind the oauth2, azuread and google_iam providers. */
object OutboundHttp {

  private val defaultTransport = HttpClientCfg(followRedirects = false)

  /** the shared client of a default config: 10 s connect timeout, HTTP/2
    * with fallback, redirects not followed */
  val default: HttpClient = build(defaultTransport)

  /** the client a config's transport fields build; a default transport maps
    * to the shared [[default]] client */
  def client(cfg: HttpClientCfg): HttpClient =
    if (cfg.copy(authHeader = None, oauth2 = None, headers = Map.empty) ==
        defaultTransport) default
    else build(cfg)

  private def build(cfg: HttpClientCfg): HttpClient = {
    val b = HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(10))
      .followRedirects(
        if (cfg.followRedirects) HttpClient.Redirect.NORMAL
        else HttpClient.Redirect.NEVER)
    // enable_http2=false pins HTTP/1.1 (the JDK default is 2-with-fallback)
    if (!cfg.enableHttp2) b.version(HttpClient.Version.HTTP_1_1)
    proxySelectorFor(cfg.proxyUrl, cfg.noProxy, cfg.proxyFromEnvironment)
      .foreach(b.proxy)
    if (cfg.tlsInsecureSkipVerify) {
      val trustAll: Array[javax.net.ssl.TrustManager] = Array(
        new javax.net.ssl.X509TrustManager {
          override def checkClientTrusted(
              c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
          override def checkServerTrusted(
              c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
          override def getAcceptedIssuers: Array[java.security.cert.X509Certificate] =
            Array.empty
        })
      val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
      ctx.init(null, trustAll, new java.security.SecureRandom())
      b.sslContext(ctx)
    } else if (cfg.tlsCaFile.nonEmpty) {
      val cf = java.security.cert.CertificateFactory.getInstance("X.509")
      val in = new java.io.FileInputStream(cfg.tlsCaFile)
      val certs = try cf.generateCertificates(in) finally in.close()
      val ks = java.security.KeyStore.getInstance(
        java.security.KeyStore.getDefaultType)
      ks.load(null, null)
      val it = certs.iterator()
      var i = 0
      while (it.hasNext) { ks.setCertificateEntry(s"ca$i", it.next()); i += 1 }
      val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
        javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
      tmf.init(ks)
      val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
      ctx.init(null, tmf.getTrustManagers, new java.security.SecureRandom())
      b.sslContext(ctx)
    }
    b.build()
  }

  /** no_proxy matcher (ref golang.org/x/net/http/httpproxy, the library
    * behind the common ProxyConfig): comma-separated entries — "*" matches
    * everything; an IP or CIDR matches literal request IPs; a domain
    * matches itself AND subdomains; a leading-dot domain matches
    * subdomains only. */
  private[graft] def noProxyMatches(noProxy: String, host0: String): Boolean = {
    if (noProxy.trim.isEmpty || host0 == null || host0.isEmpty) return false
    val host = host0.toLowerCase.stripPrefix("[").stripSuffix("]")
    val isIp = host.forall(c => c.isDigit || c == '.') || host.contains(":")
    noProxy.split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).exists { e0 =>
      if (e0 == "*") true
      else {
        // strip a :port from the entry (Go allows host:port entries)
        val e = if (e0.count(_ == ':') == 1 && !e0.contains("/"))
          e0.substring(0, e0.indexOf(':')) else e0
        if (e.contains("/") && isIp && !host.contains(":")) {
          // CIDR vs dotted-quad
          try {
            val Array(net, bits) = e.split("/")
            def ip(x: String): Long =
              x.split("\\.").foldLeft(0L)((a, p) => (a << 8) | p.toLong)
            val mask = if (bits.toInt == 0) 0L else -1L << (32 - bits.toInt)
            (ip(host) & mask) == (ip(net) & mask)
          } catch { case _: Exception => false }
        }
        else if (e.startsWith(".")) host.endsWith(e)
        else host == e || host.endsWith("." + e)
      }
    }
  }

  /** proxy selection per request host (ref common ProxyConfig: explicit
    * proxy_url + no_proxy, or proxy_from_environment reading HTTP_PROXY /
    * HTTPS_PROXY / NO_PROXY — request scheme picks the variable) */
  private[graft] def proxySelectorFor(proxyUrl: String, noProxy: String,
      proxyFromEnvironment: Boolean,
      env: Map[String, String] = sys.env): Option[java.net.ProxySelector] = {
    def envAny(k: String): String =
      env.getOrElse(k, env.getOrElse(k.toLowerCase, ""))
    val noP = if (proxyFromEnvironment) envAny("NO_PROXY") else noProxy
    def proxyFor(scheme: String): String =
      if (!proxyFromEnvironment) proxyUrl
      else if (scheme == "https") envAny("HTTPS_PROXY")
      else envAny("HTTP_PROXY")
    if (!proxyFromEnvironment && proxyUrl.isEmpty) return None
    Some(new java.net.ProxySelector {
      override def select(uri: java.net.URI): java.util.List[java.net.Proxy] = {
        val p = proxyFor(Option(uri.getScheme).getOrElse("http").toLowerCase)
        if (p.isEmpty || noProxyMatches(noP, uri.getHost))
          java.util.List.of(java.net.Proxy.NO_PROXY)
        else {
          val u = java.net.URI.create(p)
          val port = if (u.getPort != -1) u.getPort else 80
          java.util.List.of(new java.net.Proxy(java.net.Proxy.Type.HTTP,
            new java.net.InetSocketAddress(u.getHost, port)))
        }
      }
      override def connectFailed(uri: java.net.URI,
          sa: java.net.SocketAddress, ioe: java.io.IOException): Unit = ()
    })
  }

  /** the one request decoration, in this order: custom headers (repeated
    * `header` calls carry multiple values), then `Authorization`, then
    * signer headers minus `Host` (the JDK sets Host itself and refuses an
    * explicit one). Callers set their protocol headers afterwards with
    * `setHeader`, so those win a same-name collision. */
  def decorate(b: HttpRequest.Builder, headers: Map[String, Seq[String]],
      authorization: Option[String],
      signed: Map[String, String] = Map.empty): HttpRequest.Builder = {
    headers.foreach { case (k, vs) => vs.foreach(b.header(k, _)) }
    authorization.foreach(b.setHeader("Authorization", _))
    signed.foreach { case (k, v) => if (!k.equalsIgnoreCase("host")) b.setHeader(k, v) }
    b
  }

  /** a config's Authorization source: its oauth2 token provider when
    * `oauth2` is set (build one per consumer, so the token cache spans
    * requests), else the rendered `authHeader` */
  def authorization(cfg: HttpClientCfg): () => Option[String] =
    cfg.oauth2.map(new OAuth2.TokenProvider(_)) match {
      case Some(tokens) => () => Some(tokens.header())
      case None => () => cfg.authHeader
    }

  /** One consumer's outbound HTTP: the client its config builds and its
    * [[authorization]] source. */
  final class Sender(cfg: HttpClientCfg) {
    val client: HttpClient = OutboundHttp.client(cfg)
    private val auth = authorization(cfg)

    /** [[OutboundHttp.decorate]] with this config's headers and auth;
      * `withAuth = false` leaves Authorization out */
    def decorate(b: HttpRequest.Builder, withAuth: Boolean = true,
        signed: Map[String, String] = Map.empty): HttpRequest.Builder =
      OutboundHttp.decorate(b, cfg.headers, if (withAuth) auth() else None, signed)
  }

  // ---------------------------------------------------------- token cache

  /** An expiry-refreshed token value: `fetch` returns the value and its
    * lifetime in seconds, and is called again once the clock is inside
    * the 5-minute window before expiry. */
  final class TokenCache(nowMs: () => Long, fetch: () => (String, Long)) {
    private var cached: String = null
    private var expiresAtMs: Long = Long.MinValue

    def get(): String = synchronized {
      val t = nowMs()
      if (cached == null || t + 300000L >= expiresAtMs) {
        val (v, expSec) = fetch()
        cached = v
        expiresAtMs = t + expSec * 1000L
      }
      cached
    }
  }

  /** a token endpoint's answer (RFC 6749 §5.1); `tokenType` defaults to
    * Bearer and a lowercase "bearer" renders canonical */
  final case class Token(accessToken: String, tokenType: String, expiresInSec: Long)

  /** a urlencoded form POST to a token endpoint (30 s request timeout) */
  def formPost(url: String, form: String): HttpRequest =
    HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofSeconds(30))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(HttpRequest.BodyPublishers.ofString(form)).build()

  /** send a token request and parse the answer. A non-200 status fails
    * with "`provider` `step`: status N", a body without access_token with
    * "`provider`: response missing access_token"; expires_in defaults to
    * one hour. */
  def fetchToken(client: HttpClient, req: HttpRequest, provider: String,
      step: String = "token"): Token = {
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200)
      throw new IllegalStateException(s"$provider $step: status ${resp.statusCode()}")
    val m = JsonLite.parse(resp.body()) match {
      case mm: Map[_, _] => mm.asInstanceOf[Map[String, Any]]
      case _ => Map.empty[String, Any]
    }
    val tok = m.get("access_token") match {
      case Some(s: String) => s
      case _ => throw new IllegalStateException(s"$provider: response missing access_token")
    }
    val typ = m.get("token_type") match {
      // RFC 6749 token_type is case-insensitive; headers render canonical
      case Some(s: String) if s.nonEmpty => if (s.equalsIgnoreCase("bearer")) "Bearer" else s
      case _ => "Bearer"
    }
    val expSec = m.get("expires_in") match {
      case Some(d: Double) => d.toLong
      case Some(s: String) => try s.toLong catch { case _: Exception => 3600L }
      case _ => 3600L
    }
    Token(tok, typ, expSec)
  }
}
