package graft.web

/** OAuth 2.0 authentication for the common HTTP-client config surface
  * (ref: docs/configuration/configuration.md `<oauth2>` — scrape configs,
  * SD configs, alerting, remote read/write all accept the block; mutual
  * exclusion with the other auth shapes is enforced per entry, ref
  * config/config.go:1559 validateAuthConfigs).
  *
  * Two grant types, matching the reference's surface:
  *
  *  - `client_credentials` (default): POST `token_url` with
  *    client_id/client_secret, scopes and endpoint_params as a urlencoded
  *    form. The password grant rides the same path through endpoint_params
  *    (`grant_type: password` + username/password), exactly as the
  *    reference documents it. Divergence note: credentials are always sent
  *    in the form body (the Go oauth2 package auto-detects header-vs-params
  *    style per provider; body params are the universally-accepted style).
  *  - `urn:ietf:params:oauth:grant-type:jwt-bearer` (RFC 7523): a
  *    self-signed JWT assertion — RS256/RS384/RS512 over the PKCS#8 key in
  *    client_certificate_key(_file), `iss` defaulting to client_id, `aud`
  *    defaulting to token_url, optional custom claims and `kid` header —
  *    exchanged at token_url.
  *
  * Tokens cache until 5 minutes before expiry (same window as the AzureAd
  * and STS caches in this engine); `token_type` from the response names the
  * Authorization scheme, defaulting to Bearer. One provider per config
  * entry, refreshed driver-side — executors only ever see a rendered
  * header string. */
object OAuth2 {

  val JwtBearerGrant = "urn:ietf:params:oauth:grant-type:jwt-bearer"

  final case class Config(
      clientId: String,
      tokenUrl: String,
      clientSecret: String = "",
      clientSecretFile: String = "",
      scopes: Seq[String] = Nil,
      endpointParams: Map[String, String] = Map.empty,
      grantType: String = "", // empty == client_credentials
      // RFC 7523 jwt-bearer fields
      clientCertificateKey: String = "",
      clientCertificateKeyFile: String = "",
      clientCertificateKeyId: String = "",
      signatureAlgorithm: String = "", // empty == RS256
      iss: String = "",
      audience: String = "",
      claims: Map[String, String] = Map.empty) {
    def effectiveGrant: String =
      if (grantType.isEmpty) "client_credentials" else grantType
    def effectiveAlg: String =
      if (signatureAlgorithm.isEmpty) "RS256" else signatureAlgorithm
  }

  private val validAlgs = Set("RS256", "RS384", "RS512")

  /** config validation (ref: the common HTTPClientConfig Validate rules
    * for its OAuth2 member — client_id required, secret/secret_file
    * mutually exclusive, token_url required) */
  def validate(c: Config): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (c.clientId.isEmpty)
      errs += "oauth2 client_id must be configured"
    if (c.tokenUrl.isEmpty)
      errs += "oauth2 token_url must be configured"
    if (c.clientSecret.nonEmpty && c.clientSecretFile.nonEmpty)
      errs += "at most one of oauth2 client_secret & client_secret_file must be configured"
    c.effectiveGrant match {
      case "client_credentials" => ()
      case JwtBearerGrant =>
        if (c.clientCertificateKey.nonEmpty && c.clientCertificateKeyFile.nonEmpty)
          errs += ("at most one of oauth2 client_certificate_key & " +
            "client_certificate_key_file must be configured")
        if (c.clientCertificateKey.isEmpty && c.clientCertificateKeyFile.isEmpty)
          errs += ("oauth2 client_certificate_key or client_certificate_key_file " +
            "must be configured for the jwt-bearer grant type")
        if (!validAlgs(c.effectiveAlg))
          errs += s"oauth2 signature_algorithm ${c.signatureAlgorithm} is invalid " +
            "(must be one of RS256, RS384, RS512)"
      case g =>
        errs += s"""oauth2 grant_type "$g" is invalid (must be """ +
          s""""client_credentials" or "$JwtBearerGrant")"""
    }
    errs.result()
  }

  private def b64url(b: Array[Byte]): String =
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(b)
  private def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")

  private def readFile(path: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")

  /** PKCS#8 PEM text → RSA private key (PKCS#1 rejected with a clear
    * message, like the AzureAd certificate loader) */
  def rsaKeyFromPem(pem: String): java.security.PrivateKey = {
    val re = "-----BEGIN ([A-Z0-9 ]+)-----([\\s\\S]*?)-----END \\1-----".r
    val der = re.findAllMatchIn(pem).collectFirst {
      case m if m.group(1) == "PRIVATE KEY" =>
        java.util.Base64.getMimeDecoder.decode(m.group(2).trim)
    }.getOrElse(throw new IllegalArgumentException(
      "no PKCS#8 PRIVATE KEY block found (PKCS#1 'RSA PRIVATE KEY' is not " +
      "supported — re-encode with PKCS#8)"))
    java.security.KeyFactory.getInstance("RSA")
      .generatePrivate(new java.security.spec.PKCS8EncodedKeySpec(der))
  }

  /** RFC 7523 client assertion: alg from config, kid when configured,
    * iss defaulting to client_id, sub = client_id, aud defaulting to
    * token_url, 5-minute validity, plus configured custom claims */
  def clientAssertion(cfg: Config, nowMs: Long): String = {
    val pem =
      if (cfg.clientCertificateKey.nonEmpty) cfg.clientCertificateKey
      else readFile(cfg.clientCertificateKeyFile)
    val key = rsaKeyFromPem(pem)
    val (alg, jca) = cfg.effectiveAlg match {
      case "RS384" => ("RS384", "SHA384withRSA")
      case "RS512" => ("RS512", "SHA512withRSA")
      case _ => ("RS256", "SHA256withRSA")
    }
    val kid =
      if (cfg.clientCertificateKeyId.nonEmpty)
        s""","kid":"${Json.escape(cfg.clientCertificateKeyId)}""""
      else ""
    val header = s"""{"alg":"$alg","typ":"JWT"$kid}"""
    val nowSec = nowMs / 1000
    val issuer = if (cfg.iss.nonEmpty) cfg.iss else cfg.clientId
    val aud = if (cfg.audience.nonEmpty) cfg.audience else cfg.tokenUrl
    val custom = cfg.claims.toSeq.sortBy(_._1).map { case (k, v) =>
      s""","${Json.escape(k)}":"${Json.escape(v)}"""" }.mkString
    val claims = s"""{"iss":"${Json.escape(issuer)}","sub":"${Json.escape(cfg.clientId)}",""" +
      s""""aud":"${Json.escape(aud)}","iat":$nowSec,"exp":${nowSec + 300}$custom}"""
    val signingInput =
      b64url(header.getBytes("UTF-8")) + "." + b64url(claims.getBytes("UTF-8"))
    val sig = java.security.Signature.getInstance(jca)
    sig.initSign(key)
    sig.update(signingInput.getBytes("UTF-8"))
    signingInput + "." + b64url(sig.sign())
  }

  /** expiry-refresh-cached token provider; `header()` renders the full
    * Authorization value (`<token_type> <access_token>`) */
  final class TokenProvider(cfg: Config,
      nowMs: () => Long = () => System.currentTimeMillis()) {
    private def form(): String = {
      val form = new StringBuilder
      def add(k: String, v: String): Unit = {
        if (form.nonEmpty) form += '&'
        form ++= enc(k) += '=' ++= enc(v)
      }
      cfg.effectiveGrant match {
        case JwtBearerGrant =>
          add("grant_type", JwtBearerGrant)
          add("assertion", clientAssertion(cfg, nowMs()))
        case _ =>
          add("grant_type", "client_credentials")
          add("client_id", cfg.clientId)
          val secret =
            if (cfg.clientSecret.nonEmpty) cfg.clientSecret
            else if (cfg.clientSecretFile.nonEmpty)
              readFile(cfg.clientSecretFile).trim
            else ""
          if (secret.nonEmpty) add("client_secret", secret)
      }
      if (cfg.scopes.nonEmpty) add("scope", cfg.scopes.mkString(" "))
      // endpoint_params last so an explicit grant_type (the documented
      // password-grant recipe) overrides per urlencoded-form semantics
      cfg.endpointParams.toSeq.sortBy(_._1).foreach { case (k, v) => add(k, v) }
      form.result()
    }

    private val cache = new OutboundHttp.TokenCache(nowMs, () => {
      val t = OutboundHttp.fetchToken(OutboundHttp.default,
        OutboundHttp.formPost(cfg.tokenUrl, form()), "oauth2")
      (s"${t.tokenType} ${t.accessToken}", t.expiresInSec)
    })

    /** rendered Authorization value; refreshed inside the 5-minute window */
    def header(): String = cache.get()
  }
}
