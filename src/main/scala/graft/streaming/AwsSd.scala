package graft.streaming

/** Shared plumbing for the AWS service-discovery family (EC2 / Lightsail /
  * ECS / RDS / MSK / ElastiCache): endpoints, credentials and the signed
  * POST over [[SdHttp]].
  *
  * Region resolution is DEFERRED from config parse to provider init (ref:
  * discovery/aws/aws.go loadRegion + the reference's #19037 fix): a
  * config-only check (`promtool check config` equivalent) must make no
  * network calls, so an omitted `region` is accepted at parse time and
  * resolved — config value, then AWS_REGION / AWS_DEFAULT_REGION — on the
  * first refresh. A refresh that cannot resolve throws, which the SD
  * manager treats as "keep previous targets" per its provider contract.
  */
object AwsSd {

  /** config region → env fallback; throws when unresolvable (first refresh
    * only — never at YAML parse time, ref aws.go loadRegion) */
  def resolveRegion(cfgRegion: String,
      env: Map[String, String] = sys.env): String =
    if (cfgRegion.nonEmpty) cfgRegion
    else env.get("AWS_REGION").filter(_.nonEmpty)
      .orElse(env.get("AWS_DEFAULT_REGION").filter(_.nonEmpty))
      .getOrElse(throw new IllegalStateException(
        "could not determine AWS region: not in config or environment"))

  /** (signing host, base URL) of an AWS API: `endpoint` overrides the
    * regional host */
  def endpointOf(endpoint: String, regionalHost: String): (String, String) =
    if (endpoint.nonEmpty) (java.net.URI.create(endpoint).getHost, endpoint.stripSuffix("/"))
    else (regionalHost, s"https://$regionalHost")

  /** one SigV4-signed POST to `base`/ over the shared SD transport; AWS
    * answers XML or its own JSON types, so no Accept header is sent */
  def post(sd: String, base: String, body: String, signed: Map[String, String]): String =
    SdHttp.post(sd, base + "/", body, signed, accept = "")

  // ---------------------------------------------------------- credentials
  // The reference's credential chain (ref discovery/aws/ec2.go:250-276):
  // static access/secret keys when both are set, else the SDK default chain
  // (environment variables here — no instance-metadata hop in this engine);
  // then, when `role_arn` is configured, STS AssumeRole wraps the base
  // credentials (stscreds.NewAssumeRoleProvider + aws.NewCredentialsCache,
  // with `external_id` forwarded — ref ec2.go:90-91,269-276 and #18579 for
  // the ECS/MSK/RDS/ElastiCache family). Temporary credentials carry a
  // session token that must join the SigV4 signed-header set as
  // x-amz-security-token.

  /** one credential triple; sessionToken empty for long-lived keys */
  final case class Creds(accessKey: String, secretKey: String,
      sessionToken: String = "")

  /** a source of (possibly refreshing) credentials; every signed request
    * calls `creds()` so AssumeRole refreshes transparently mid-provider */
  trait CredsProvider { def creds(): Creds }

  /** config keys when both given, else the named shared-config `profile`,
    * else env (AWS_ACCESS_KEY_ID / AWS_SECRET_ACCESS_KEY /
    * AWS_SESSION_TOKEN — the token only rides along with env/profile
    * credentials, matching the SDK default chain; ref ec2.go:258-261
    * WithSharedConfigProfile) */
  final class StaticCreds(accessKey: String, secretKey: String,
      profile: String = "", env: Map[String, String] = sys.env)
      extends CredsProvider {
    private val resolved =
      if (accessKey.nonEmpty && secretKey.nonEmpty) Creds(accessKey, secretKey)
      else if (profile.nonEmpty)
        profileCreds(profile, env).getOrElse(Creds("", ""))
      else Creds(
        env.getOrElse("AWS_ACCESS_KEY_ID", ""),
        env.getOrElse("AWS_SECRET_ACCESS_KEY", ""),
        env.getOrElse("AWS_SESSION_TOKEN", ""))
    override def creds(): Creds = resolved
  }

  /** minimal shared-credentials-file reader (the SDK's INI format:
    * `[profile]` sections with aws_access_key_id / aws_secret_access_key /
    * aws_session_token keys). Path from AWS_SHARED_CREDENTIALS_FILE, else
    * ~/.aws/credentials. Returns None when the file or profile is absent. */
  def profileCreds(profile: String,
      env: Map[String, String] = sys.env): Option[Creds] = {
    val path = env.get("AWS_SHARED_CREDENTIALS_FILE").filter(_.nonEmpty)
      .getOrElse(System.getProperty("user.home", "") + "/.aws/credentials")
    val f = new java.io.File(path)
    if (!f.isFile) return None
    var section = ""
    var ak = ""; var sk = ""; var tok = ""
    var found = false
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().foreach { raw =>
      val line = raw.trim
      if (line.startsWith("[") && line.endsWith("]"))
        section = line.substring(1, line.length - 1).trim
      else if (section == profile && line.contains("=") && !line.startsWith("#")) {
        val k = line.substring(0, line.indexOf('=')).trim.toLowerCase
        val v = line.substring(line.indexOf('=') + 1).trim
        k match {
          case "aws_access_key_id" => ak = v; found = true
          case "aws_secret_access_key" => sk = v; found = true
          case "aws_session_token" => tok = v
          case _ => ()
        }
      }
    } finally src.close()
    if (found && ak.nonEmpty && sk.nonEmpty) Some(Creds(ak, sk, tok)) else None
  }

  /** injectable STS transport: posts one AssumeRole Query form, returns the
    * raw AssumeRoleResponse XML (tests fake this; production signs with
    * SigV4 under the BASE credentials — you authenticate as yourself to
    * become the role) */
  trait StsApi { def assumeRole(form: String): String }

  /** production STS client (regional endpoint, Query protocol) */
  final class HttpStsApi(region: String, base: CredsProvider,
      endpoint: String = "") extends StsApi {
    private val (host, baseUrl) = endpointOf(endpoint, s"sts.$region.amazonaws.com")
    override def assumeRole(form: String): String =
      post("sts", baseUrl, form, Ec2Sd.SigV4.headers(base.creds(), region, "sts",
        host, form, java.time.Instant.now()))
  }

  /** AssumeRole with an expiry-refreshed cache: one STS call serves every
    * request until 5 minutes before Expiration (the credentials-cache
    * expiry window), shared across a provider's whole API family. The
    * `api` thunk is lazy so deferred-region providers (#19037) build the
    * STS client only on first use, never at config parse. */
  final class AssumeRoleCreds(apiThunk: => StsApi, roleArn: String,
      externalId: String = "", sessionName: String = "graft-sd",
      durationSec: Int = 3600,
      now: () => java.time.Instant = () => java.time.Instant.now())
      extends CredsProvider {
    private lazy val api = apiThunk
    private var cached: Creds = null
    private var expiresAt: java.time.Instant = java.time.Instant.MIN
    private def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
    override def creds(): Creds = synchronized {
      val t = now()
      if (cached == null || !t.plusSeconds(300).isBefore(expiresAt)) {
        val form = "Action=AssumeRole&Version=2011-06-15" +
          "&RoleArn=" + enc(roleArn) +
          "&RoleSessionName=" + enc(sessionName) +
          "&DurationSeconds=" + durationSec +
          (if (externalId.nonEmpty) "&ExternalId=" + enc(externalId) else "")
        val doc = parseXml(api.assumeRole(form))
        val credsEl = (for {
          result <- child(doc.getDocumentElement, "AssumeRoleResult")
          c <- child(result, "Credentials")
        } yield c).getOrElse(throw new IllegalStateException(
          "sts assume-role: response missing Credentials"))
        cached = Creds(text(credsEl, "AccessKeyId"),
          text(credsEl, "SecretAccessKey"), text(credsEl, "SessionToken"))
        expiresAt = java.time.Instant.parse(text(credsEl, "Expiration"))
      }
      cached
    }
  }

  /** the provider-facing factory: static/profile/env chain, wrapped in
    * AssumeRole when role_arn is set. `region` is by-name so deferred-region
    * providers can pass their lazily-resolved region. */
  def credentials(accessKey: String, secretKey: String, roleArn: String,
      externalId: String, region: => String,
      stsApi: Option[StsApi] = None, profile: String = ""): CredsProvider = {
    val base = new StaticCreds(accessKey, secretKey, profile)
    if (roleArn.isEmpty) base
    else new AssumeRoleCreds(
      stsApi.getOrElse(new HttpStsApi(region, base)), roleArn, externalId)
  }

  // ------------------------------------------------------------------ XML
  // The RDS and ElastiCache APIs speak the AWS Query protocol (XML
  // responses). List members appear either as a named child per item
  // (older shapes, e.g. <DBClusters><DBCluster>) or as <member> (newer
  // shapes); both are accepted.

  def parseXml(xml: String): org.w3c.dom.Document = {
    val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    f.setExpandEntityReferences(false)
    f.newDocumentBuilder().parse(
      new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
  }

  def children(n: org.w3c.dom.Node, name: String): Seq[org.w3c.dom.Element] = {
    val out = Seq.newBuilder[org.w3c.dom.Element]
    val kids = n.getChildNodes
    var i = 0
    while (i < kids.getLength) {
      kids.item(i) match {
        case e: org.w3c.dom.Element if e.getTagName == name => out += e
        case _ => ()
      }
      i += 1
    }
    out.result()
  }

  def child(n: org.w3c.dom.Node, name: String): Option[org.w3c.dom.Element] =
    children(n, name).headOption

  def text(n: org.w3c.dom.Node, name: String): String =
    children(n, name).headOption.map(_.getTextContent.trim).getOrElse("")

  /** members of wrapper `set`: named `item` children, or `member`, or any
    * element child (covers <DBClusters><DBCluster> and <.. ><member>) */
  def items(n: org.w3c.dom.Node, set: String): Seq[org.w3c.dom.Element] =
    children(n, set).headOption.map { w =>
      val all = Seq.newBuilder[org.w3c.dom.Element]
      val kids = w.getChildNodes
      var i = 0
      while (i < kids.getLength) {
        kids.item(i) match {
          case e: org.w3c.dom.Element => all += e
          case _ => ()
        }
        i += 1
      }
      all.result()
    }.getOrElse(Nil)

  /** ISO timestamp → the reference's RFC3339 rendering (seconds precision,
    * Z offset — ref rds.go/elasticache.go `Format(time.RFC3339)`) */
  def rfc3339(v: String): String =
    try {
      val inst =
        try java.time.Instant.parse(v)
        catch { case _: Exception =>
          java.time.OffsetDateTime.parse(v).toInstant }
      java.time.format.DateTimeFormatter.ISO_INSTANT.format(
        inst.truncatedTo(java.time.temporal.ChronoUnit.SECONDS))
    } catch { case _: Exception => v }

  /** host:port with IPv6 bracketing (the reference's net.JoinHostPort) */
  def hostPort(host: String, port: Int): String =
    if (host.contains(":") && !host.startsWith("[")) s"[$host]:$port"
    else s"$host:$port"
}
