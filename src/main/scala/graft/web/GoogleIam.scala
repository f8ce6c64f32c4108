package graft.web

/** Google Cloud IAM authentication for remote-write sinks (ref:
  * storage/remote/googleiam/googleiam.go — a round tripper attaching a
  * Google Cloud access token, scope monitoring.write; config surface is
  * `google_iam: { credentials_file: ... }`, config/config.go:1504).
  *
  * The reference delegates to golang.org/x/oauth2/google's service-account
  * flow; this engine implements the underlying two-legged OAuth (RFC 7523
  * with Google's claim shape) directly so it is testable against a fake
  * token endpoint:
  *
  *   1. read the service-account JSON key file — `client_email`,
  *      `private_key` (PKCS#8 PEM), `token_uri`;
  *   2. self-sign a JWT: iss = client_email, scope = the Monitoring write
  *      scope, aud = token_uri, 1-hour validity, RS256;
  *   3. exchange it at token_uri with
  *      grant_type=urn:ietf:params:oauth:grant-type:jwt-bearer;
  *   4. cache the access token until 5 minutes before expiry.
  *
  * `credentials_file` empty falls back to GOOGLE_APPLICATION_CREDENTIALS
  * (the first hop of the reference's FindDefaultCredentials chain; the
  * gcloud-SDK well-known file and metadata-server hops need that
  * environment and raise a clear error instead). */
object GoogleIam {

  val Scope = "https://www.googleapis.com/auth/monitoring.write"

  final case class Config(credentialsFile: String = "")

  /** parsed service-account key material */
  final case class ServiceAccount(clientEmail: String, privateKeyPem: String,
      tokenUri: String)

  def loadServiceAccount(path: String): ServiceAccount = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    val m = JsonLite.parse(text) match {
      case mm: Map[_, _] => mm.asInstanceOf[Map[String, Any]]
      case _ => Map.empty[String, Any]
    }
    def s(k: String): String = m.get(k) match {
      case Some(v: String) => v
      case _ => ""
    }
    val email = s("client_email")
    val key = s("private_key")
    if (email.isEmpty || key.isEmpty)
      throw new IllegalArgumentException(
        s"google_iam: $path is not a service-account key file " +
        "(client_email / private_key missing)")
    ServiceAccount(email, key,
      if (s("token_uri").nonEmpty) s("token_uri")
      else "https://oauth2.googleapis.com/token")
  }

  private def b64url(b: Array[Byte]): String =
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(b)

  /** the self-signed assertion of step 2 (Google's claim set: iss, scope,
    * aud, iat, exp — x/oauth2/google jwt.go) */
  def assertion(sa: ServiceAccount, nowMs: Long): String = {
    val key = OAuth2.rsaKeyFromPem(sa.privateKeyPem)
    val header = """{"alg":"RS256","typ":"JWT"}"""
    val nowSec = nowMs / 1000
    val claims = s"""{"iss":"${Json.escape(sa.clientEmail)}",""" +
      s""""scope":"$Scope","aud":"${Json.escape(sa.tokenUri)}",""" +
      s""""iat":$nowSec,"exp":${nowSec + 3600}}"""
    val signingInput =
      b64url(header.getBytes("UTF-8")) + "." + b64url(claims.getBytes("UTF-8"))
    val sig = java.security.Signature.getInstance("SHA256withRSA")
    sig.initSign(key)
    sig.update(signingInput.getBytes("UTF-8"))
    signingInput + "." + b64url(sig.sign())
  }

  /** expiry-refresh-cached Bearer provider over the service-account flow */
  final class TokenProvider(cfg: Config,
      env: Map[String, String] = sys.env,
      nowMs: () => Long = () => System.currentTimeMillis()) {
    private lazy val sa: ServiceAccount = {
      val path =
        if (cfg.credentialsFile.nonEmpty) cfg.credentialsFile
        else env.getOrElse("GOOGLE_APPLICATION_CREDENTIALS",
          throw new IllegalStateException(
            "google_iam: no credentials_file configured and " +
            "GOOGLE_APPLICATION_CREDENTIALS is unset — the SDK default " +
            "chain's gcloud/metadata-server hops are not available here"))
      loadServiceAccount(path)
    }

    private val cache = new OutboundHttp.TokenCache(nowMs, () => {
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      val form = "grant_type=" + enc(OAuth2.JwtBearerGrant) +
        "&assertion=" + enc(assertion(sa, nowMs()))
      val t = OutboundHttp.fetchToken(OutboundHttp.default,
        OutboundHttp.formPost(sa.tokenUri, form), "google_iam")
      ("Bearer " + t.accessToken, t.expiresInSec)
    })

    /** rendered Authorization value; refreshed inside the 5-minute window */
    def header(): String = cache.get()
  }
}
