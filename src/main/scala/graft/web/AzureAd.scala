package graft.web

/** Azure AD authentication for remote-write sinks (ref:
  * storage/remote/azuread/azuread.go — five credential shapes behind one
  * `azuread` config block, #18217 added the certificate flow).
  *
  * The reference delegates to the Azure SDK's credential types; this engine
  * implements the underlying HTTP token flows directly so the whole surface
  * is testable against a fake token endpoint:
  *
  *  - `oauth`: client-credentials grant — POST
  *    {authority}/{tenant}/oauth2/v2.0/token with client_id/client_secret.
  *  - `certificate` (#18217): same grant with a client-assertion JWT signed
  *    RS256 by the certificate's private key (x5t thumbprint header; x5c
  *    chain when send_certificate_chain). PEM and password-protected PFX
  *    both load; PEM keys must be PKCS#8 ("BEGIN PRIVATE KEY").
  *  - `managed_identity`: IMDS GET /metadata/identity/oauth2/token with
  *    Metadata:true (endpoint injectable — 169.254.169.254 in production).
  *  - `workload_identity`: the projected service-account token file
  *    exchanged as a federated client assertion at the tenant endpoint.
  *  - `sdk`: the Azure SDK's DefaultAzureCredential chain SUBSET —
  *    environment client-secret → environment client-certificate →
  *    workload identity → managed identity (IMDS), resolved from the
  *    AZURE_* variables in azidentity's probe order; the CLI/PowerShell
  *    hops are not implemented and fall through like an unavailable
  *    credential.
  *
  * Tokens cache until 5 minutes before expiry (the azcore token-cache
  * contract), one provider per remote_write entry. */
object AzureAd {

  // clouds (ref azuread.go:36-39) and their ingestion audiences / logins
  val AzurePublic = "AzurePublic"
  val AzureGovernment = "AzureGovernment"
  val AzureChina = "AzureChina"

  def audience(cloud: String): String = cloud match {
    case AzureChina => "https://monitor.azure.cn//.default"
    case AzureGovernment => "https://monitor.azure.us//.default"
    case _ => "https://monitor.azure.com//.default"
  }
  def authorityHost(cloud: String): String = cloud match {
    case AzureChina => "https://login.chinacloudapi.cn"
    case AzureGovernment => "https://login.microsoftonline.us"
    case _ => "https://login.microsoftonline.com"
  }

  final case class ManagedIdentity(clientId: String = "")
  final case class WorkloadIdentity(clientId: String, tenantId: String,
      tokenFilePath: String = "")
  final case class OAuth(clientId: String, clientSecret: String, tenantId: String)
  final case class Sdk(tenantId: String = "")
  final case class Certificate(clientId: String, tenantId: String,
      certificatePath: String, certificateKeyPath: String = "",
      certificatePassword: String = "", sendCertificateChain: Boolean = false)

  final case class Config(
      cloud: String = AzurePublic,
      scope: String = "",
      managedIdentity: Option[ManagedIdentity] = None,
      workloadIdentity: Option[WorkloadIdentity] = None,
      oauth: Option[OAuth] = None,
      sdk: Option[Sdk] = None,
      certificate: Option[Certificate] = None) {
    def effectiveScope: String = if (scope.nonEmpty) scope else audience(cloud)
  }

  private def isUuid(s: String): Boolean =
    try { java.util.UUID.fromString(s); true }
    catch { case _: IllegalArgumentException => false }
  private val tenantRe = "^[0-9a-zA-Z-.]+$".r
  private val scopeRe = "^[\\w\\s:/.\\-]+$".r

  /** config validation, mirroring azuread.go Validate() error for error */
  def validate(c: Config): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (c.cloud != AzureChina && c.cloud != AzureGovernment && c.cloud != AzurePublic)
      errs += "must provide a cloud in the Azure AD config"
    val n = Seq(c.managedIdentity, c.workloadIdentity, c.oauth, c.sdk,
      c.certificate).count(_.isDefined)
    if (n == 0)
      errs += ("must provide an Azure Managed Identity, Azure Workload " +
        "Identity, Azure OAuth, Azure Certificate or Azure SDK in the " +
        "Azure AD config")
    if (n > 1)
      errs += "cannot provide multiple authentication methods in the Azure AD config"
    c.managedIdentity.foreach { mi =>
      if (mi.clientId.nonEmpty && !isUuid(mi.clientId))
        errs += "the provided Azure Managed Identity client_id is invalid"
    }
    c.workloadIdentity.foreach { wi =>
      if (wi.clientId.isEmpty)
        errs += "must provide an Azure Workload Identity client_id in the Azure AD config"
      else if (!isUuid(wi.clientId))
        errs += "the provided Azure Workload Identity client_id is invalid"
      if (wi.tenantId.isEmpty)
        errs += "must provide an Azure Workload Identity tenant_id in the Azure AD config"
      else if (!isUuid(wi.tenantId))
        errs += "the provided Azure Workload Identity tenant_id is invalid"
    }
    c.oauth.foreach { o =>
      if (o.clientId.isEmpty)
        errs += "must provide an Azure OAuth client_id in the Azure AD config"
      else if (!isUuid(o.clientId))
        errs += "the provided Azure OAuth client_id is invalid"
      if (o.clientSecret.isEmpty)
        errs += "must provide an Azure OAuth client_secret in the Azure AD config"
      if (o.tenantId.isEmpty)
        errs += "must provide an Azure OAuth tenant_id in the Azure AD config"
      else if (tenantRe.findFirstIn(o.tenantId).isEmpty)
        errs += "the provided Azure OAuth tenant_id is invalid"
    }
    c.sdk.foreach { s =>
      if (s.tenantId.nonEmpty && tenantRe.findFirstIn(s.tenantId).isEmpty)
        errs += "the provided Azure SDK tenant_id is invalid"
    }
    c.certificate.foreach { ct =>
      if (ct.clientId.isEmpty)
        errs += "must provide an Azure Certificate client_id in the Azure AD config"
      else if (!isUuid(ct.clientId))
        errs += "the provided Azure Certificate client_id is invalid"
      if (ct.tenantId.isEmpty)
        errs += "must provide an Azure Certificate tenant_id in the Azure AD config"
      else if (tenantRe.findFirstIn(ct.tenantId).isEmpty)
        errs += "the provided Azure Certificate tenant_id is invalid"
      if (ct.certificatePath.isEmpty)
        errs += "must provide an Azure Certificate certificate_path in the Azure AD config"
    }
    if (c.scope.nonEmpty && scopeRe.findFirstIn(c.scope).isEmpty)
      errs += "the provided scope contains invalid characters"
    errs.result()
  }

  // ------------------------------------------------------------ PEM / PFX

  private def pemBlocks(text: String): Seq[(String, Array[Byte])] = {
    val re = ("-----BEGIN ([A-Z0-9 ]+)-----([\\s\\S]*?)-----END \\1-----").r
    re.findAllMatchIn(text).map { m =>
      (m.group(1),
       java.util.Base64.getMimeDecoder.decode(m.group(2).trim))
    }.toSeq
  }

  /** load (certificate, private key) from the config's PEM/PFX paths */
  def loadCertAndKey(cfg: Certificate)
      : (java.security.cert.X509Certificate, java.security.PrivateKey) = {
    val path = cfg.certificatePath
    val lower = path.toLowerCase
    if (lower.endsWith(".pfx") || lower.endsWith(".p12")) {
      val ks = java.security.KeyStore.getInstance("PKCS12")
      val in = new java.io.FileInputStream(path)
      try ks.load(in, cfg.certificatePassword.toCharArray)
      finally in.close()
      val aliases = ks.aliases()
      while (aliases.hasMoreElements) {
        val a = aliases.nextElement()
        if (ks.isKeyEntry(a))
          return (ks.getCertificate(a).asInstanceOf[java.security.cert.X509Certificate],
            ks.getKey(a, cfg.certificatePassword.toCharArray)
              .asInstanceOf[java.security.PrivateKey])
      }
      throw new IllegalArgumentException(s"no key entry in PFX $path")
    } else {
      val certText = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
      val keyText =
        if (cfg.certificateKeyPath.nonEmpty)
          new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(cfg.certificateKeyPath)), "UTF-8")
        else certText
      val certDer = pemBlocks(certText).collectFirst {
        case ("CERTIFICATE", der) => der
      }.getOrElse(throw new IllegalArgumentException(s"no CERTIFICATE block in $path"))
      val keyDer = pemBlocks(keyText).collectFirst {
        case ("PRIVATE KEY", der) => der // PKCS#8
      }.getOrElse(throw new IllegalArgumentException(
        "no PKCS#8 PRIVATE KEY block found (PKCS#1 'RSA PRIVATE KEY' is not " +
        "supported — re-encode with PKCS#8)"))
      val cert = java.security.cert.CertificateFactory.getInstance("X.509")
        .generateCertificate(new java.io.ByteArrayInputStream(certDer))
        .asInstanceOf[java.security.cert.X509Certificate]
      val key = java.security.KeyFactory.getInstance("RSA")
        .generatePrivate(new java.security.spec.PKCS8EncodedKeySpec(keyDer))
      (cert, key)
    }
  }

  private def b64url(b: Array[Byte]): String =
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(b)

  /** client-assertion JWT for the certificate flow (RS256; x5t = SHA-1
    * thumbprint of the cert DER, x5c on send_certificate_chain — the shape
    * azidentity's ClientCertificateCredential produces) */
  def clientAssertion(cfg: Certificate, tokenUrl: String,
      nowMs: Long, jti: String): String = {
    val (cert, key) = loadCertAndKey(cfg)
    val x5t = b64url(java.security.MessageDigest.getInstance("SHA-1")
      .digest(cert.getEncoded))
    val x5c =
      if (cfg.sendCertificateChain)
        s""","x5c":["${java.util.Base64.getEncoder.encodeToString(cert.getEncoded)}"]"""
      else ""
    val header = s"""{"alg":"RS256","typ":"JWT","x5t":"$x5t"$x5c}"""
    val nowSec = nowMs / 1000
    val claims = s"""{"aud":"${Json.escape(tokenUrl)}","iss":"${cfg.clientId}",""" +
      s""""sub":"${cfg.clientId}","jti":"$jti","nbf":$nowSec,"exp":${nowSec + 600}}"""
    val signingInput =
      b64url(header.getBytes("UTF-8")) + "." + b64url(claims.getBytes("UTF-8"))
    val sig = java.security.Signature.getInstance("SHA256withRSA")
    sig.initSign(key)
    sig.update(signingInput.getBytes("UTF-8"))
    signingInput + "." + b64url(sig.sign())
  }

  // -------------------------------------------------------- token provider

  /** bearer tokens with an expiry-refreshed cache; `authorityOverride` /
    * `imdsOverride` point the flows at fake endpoints in tests, `env`
    * feeds the sdk chain's environment probing; `client` lets service
    * discovery fetch its tokens over its one shared client */
  final class TokenProvider(cfg: Config,
      authorityOverride: Option[String] = None,
      imdsOverride: Option[String] = None,
      nowMs: () => Long = () => System.currentTimeMillis(),
      env: Map[String, String] = sys.env,
      client: java.net.http.HttpClient = java.net.http.HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofSeconds(10)).build()) {
    private var cached: String = null
    private var expiresAtMs: Long = Long.MinValue

    private def authority = authorityOverride.getOrElse(authorityHost(cfg.cloud))
    private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")

    private def parseToken(body: String): (String, Long) = {
      val m = JsonLite.parse(body) match {
        case mm: Map[_, _] => mm.asInstanceOf[Map[String, Any]]
        case _ => Map.empty[String, Any]
      }
      val tok = m.get("access_token") match {
        case Some(s: String) => s
        case _ => throw new IllegalStateException("azuread: response missing access_token")
      }
      val expSec = m.get("expires_in") match {
        case Some(d: Double) => d.toLong
        case Some(s: String) => try s.toLong catch { case _: Exception => 3600L }
        case _ => 3600L
      }
      (tok, expSec)
    }

    private def post(url: String, form: String): String = {
      val resp = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
          .timeout(java.time.Duration.ofSeconds(30))
          .header("Content-Type", "application/x-www-form-urlencoded")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(form)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() != 200)
        throw new IllegalStateException(s"azuread token: status ${resp.statusCode()}")
      resp.body()
    }

    private def fetch(): (String, Long) = fetchFor(cfg)

    private def fetchFor(cfg: Config): (String, Long) = {
      val scope = cfg.effectiveScope
      def tokenUrl(tenant: String) = s"$authority/$tenant/oauth2/v2.0/token"
      if (cfg.oauth.isDefined) {
        val o = cfg.oauth.get
        val form = s"client_id=${enc(o.clientId)}&client_secret=${enc(o.clientSecret)}" +
          s"&grant_type=client_credentials&scope=${enc(scope)}"
        parseToken(post(tokenUrl(o.tenantId), form))
      } else if (cfg.certificate.isDefined) {
        val ct = cfg.certificate.get
        val url = tokenUrl(ct.tenantId)
        val assertion = clientAssertion(ct, url, nowMs(),
          java.util.UUID.randomUUID().toString)
        val form = s"client_id=${enc(ct.clientId)}" +
          "&client_assertion_type=" +
          enc("urn:ietf:params:oauth:client-assertion-type:jwt-bearer") +
          s"&client_assertion=${enc(assertion)}" +
          s"&grant_type=client_credentials&scope=${enc(scope)}"
        parseToken(post(url, form))
      } else if (cfg.workloadIdentity.isDefined) {
        val wi = cfg.workloadIdentity.get
        val path =
          if (wi.tokenFilePath.nonEmpty) wi.tokenFilePath
          else env.getOrElse("AZURE_FEDERATED_TOKEN_FILE",
            "/var/run/secrets/azure/tokens/azure-identity-token")
        val fedToken = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)), "UTF-8").trim
        val form = s"client_id=${enc(wi.clientId)}" +
          "&client_assertion_type=" +
          enc("urn:ietf:params:oauth:client-assertion-type:jwt-bearer") +
          s"&client_assertion=${enc(fedToken)}" +
          s"&grant_type=client_credentials&scope=${enc(scope)}"
        parseToken(post(tokenUrl(wi.tenantId), form))
      } else if (cfg.managedIdentity.isDefined) {
        val mi = cfg.managedIdentity.get
        // IMDS takes a RESOURCE (the audience without the /.default suffix)
        val resource = scope.stripSuffix("/.default").stripSuffix("/")
        val base = imdsOverride.getOrElse("http://169.254.169.254")
        val url = s"$base/metadata/identity/oauth2/token?api-version=2018-02-01" +
          s"&resource=${enc(resource)}" +
          (if (mi.clientId.nonEmpty) s"&client_id=${enc(mi.clientId)}" else "")
        val resp = client.send(
          java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
            .timeout(java.time.Duration.ofSeconds(30))
            .header("Metadata", "true").GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        if (resp.statusCode() != 200)
          throw new IllegalStateException(s"azuread imds: status ${resp.statusCode()}")
        parseToken(resp.body())
      } else {
        // `sdk`: the DefaultAzureCredential chain SUBSET this engine runs
        // (ref azuread.go → azidentity.NewDefaultAzureCredential's probe
        // order): environment client-secret, then environment client
        // certificate, then workload identity, then managed identity
        // (IMDS) as the last resort. The azidentity shapes not implemented
        // here (username/password env, Azure CLI/PowerShell/Developer CLI
        // hops) fall through to the next credential, like the SDK when a
        // hop is unavailable. config tenant_id wins over AZURE_TENANT_ID.
        val sd = cfg.sdk.getOrElse(Sdk())
        val tenant =
          if (sd.tenantId.nonEmpty) sd.tenantId
          else env.getOrElse("AZURE_TENANT_ID", "")
        val cid = env.getOrElse("AZURE_CLIENT_ID", "")
        val secret = env.getOrElse("AZURE_CLIENT_SECRET", "")
        val certPath = env.getOrElse("AZURE_CLIENT_CERTIFICATE_PATH", "")
        val fedFile = env.getOrElse("AZURE_FEDERATED_TOKEN_FILE", "")
        val delegate =
          if (tenant.nonEmpty && cid.nonEmpty && secret.nonEmpty)
            cfg.copy(sdk = None, oauth = Some(OAuth(cid, secret, tenant)))
          else if (tenant.nonEmpty && cid.nonEmpty && certPath.nonEmpty)
            cfg.copy(sdk = None, certificate = Some(Certificate(
              cid, tenant, certPath,
              certificatePassword =
                env.getOrElse("AZURE_CLIENT_CERTIFICATE_PASSWORD", ""))))
          else if (tenant.nonEmpty && cid.nonEmpty && fedFile.nonEmpty)
            cfg.copy(sdk = None,
              workloadIdentity = Some(WorkloadIdentity(cid, tenant, fedFile)))
          else
            cfg.copy(sdk = None,
              managedIdentity = Some(ManagedIdentity(cid)))
        fetchFor(delegate)
      }
    }

    /** cached bearer token; refreshed inside the 5-minute expiry window */
    def token(): String = synchronized {
      val t = nowMs()
      if (cached == null || t + 300000L >= expiresAtMs) {
        val (tok, expSec) = fetch()
        cached = tok
        expiresAtMs = t + expSec * 1000L
      }
      cached
    }
  }
}
