package graft.streaming

import SdJson.{children, hostPort, parseXml, text}

/** EC2 service discovery (ref: discovery/aws/ec2.go).
  *
  * Same poll-based shape as [[KubernetesSd]]: each manager refresh runs one
  * DescribeInstances sweep (paginated) against the EC2 Query API and builds
  * one target group with the reference's `__meta_ec2_*` labels — address =
  * private IP : port, instances without a private IP skipped, tags as
  * `__meta_ec2_tag_<sanitized>`. The production client signs requests with
  * AWS Signature V4 (HMAC-SHA256 chain over a canonical POST — implemented
  * from the published signing process); tests inject a fake transport
  * returning canned DescribeInstancesResponse XML, the same seam the
  * reference's ec2_test.go uses with a mocked SDK client. */
object Ec2Sd {

  /** ec2_sd_configs entry (ref: aws/ec2.go EC2SDConfig; defaults port 80,
    * refresh 60s) */
  final case class Config(
      region: String,
      port: Int = 80,
      accessKey: String = "",
      secretKey: String = "",
      endpoint: String = "", // override for testing/VPC endpoints
      roleArn: String = "", // STS AssumeRole (ref ec2.go:90, #18579)
      externalId: String = "",
      profile: String = "", // shared-credentials-file profile
      refreshMs: Long = 60000L)

  /** injectable DescribeInstances transport; returns the raw XML body */
  trait ApiClient { def describeInstances(nextToken: Option[String]): String }

  // ------------------------------------------------------------- signature

  /** AWS Signature V4 for the EC2 query API and for remote-write sinks
    * like Amazon Managed Prometheus, service "aps" (published signing
    * process: canonical request → string-to-sign → HMAC key chain). */
  private[graft] object SigV4 {
    private def hmac(key: Array[Byte], data: String): Array[Byte] = {
      val mac = javax.crypto.Mac.getInstance("HmacSHA256")
      mac.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
      mac.doFinal(data.getBytes("UTF-8"))
    }
    private def sha256Hex(s: String): String = sha256Hex(s.getBytes("UTF-8"))
    /** payload hash for [[headersForPayload]] callers */
    def payloadHash(b: Array[Byte]): String = sha256Hex(b)
    private def sha256Hex(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(b).map("%02x".format(_)).mkString

    /** [[AwsSd.Creds]] form: a temporary-credential session token joins the
      * signed set as x-amz-security-token (the SigV4 rule for STS creds) */
    def headers(creds: AwsSd.Creds, region: String, service: String,
        host: String, body: String, nowUtc: java.time.Instant): Map[String, String] =
      headers(creds, region, service, host, body, nowUtc,
        "application/x-www-form-urlencoded; charset=utf-8",
        Map.empty[String, String])
    def headers(creds: AwsSd.Creds, region: String, service: String,
        host: String, body: String, nowUtc: java.time.Instant,
        contentType: String,
        extraSigned: Map[String, String]): Map[String, String] =
      headers(creds.accessKey, creds.secretKey, region, service, host, body,
        nowUtc, contentType, withToken(extraSigned, creds))
    def headersFor(creds: AwsSd.Creds, region: String, service: String,
        host: String, method: String, path: String, query: String,
        body: String, nowUtc: java.time.Instant): Map[String, String] =
      headersFor(creds.accessKey, creds.secretKey, region, service, host,
        method, path, query, body, nowUtc,
        extraSigned = withToken(Map.empty, creds))
    private def withToken(extra: Map[String, String],
        creds: AwsSd.Creds): Map[String, String] =
      if (creds.sessionToken.isEmpty) extra
      else extra + ("X-Amz-Security-Token" -> creds.sessionToken)

    /** signed header set for one POST of `body` to `host`; `extraSigned`
      * headers (e.g. x-amz-target for JSON-1.1 APIs) join the signed set */
    def headers(accessKey: String, secretKey: String, region: String,
        service: String, host: String, body: String,
        nowUtc: java.time.Instant,
        contentType: String = "application/x-www-form-urlencoded; charset=utf-8",
        extraSigned: Map[String, String] = Map.empty): Map[String, String] =
      headersFor(accessKey, secretKey, region, service, host,
        "POST", "/", "", body, nowUtc, contentType, extraSigned)

    /** general form: sign any method/path/query (REST APIs like MSK sign
      * GETs with a non-root path; `query` must already be canonically
      * encoded with sorted params or empty) */
    def headersFor(accessKey: String, secretKey: String, region: String,
        service: String, host: String, method: String, path: String,
        query: String, body: String, nowUtc: java.time.Instant,
        contentType: String = "application/x-www-form-urlencoded; charset=utf-8",
        extraSigned: Map[String, String] = Map.empty): Map[String, String] =
      headersForPayload(accessKey, secretKey, region, service, host, method,
        path, query, sha256Hex(body), nowUtc, contentType, extraSigned)

    /** binary-body form (remote-write ships snappy-compressed protobuf):
      * the caller supplies the payload's sha256 hex directly */
    def headersForPayload(accessKey: String, secretKey: String, region: String,
        service: String, host: String, method: String, path: String,
        query: String, payloadSha256Hex: String, nowUtc: java.time.Instant,
        contentType: String,
        extraSigned: Map[String, String]): Map[String, String] = {
      val amzDate = java.time.format.DateTimeFormatter
        .ofPattern("yyyyMMdd'T'HHmmss'Z'").withZone(java.time.ZoneOffset.UTC)
        .format(nowUtc)
      val date = amzDate.take(8)
      // canonical headers sorted by lowercased name (the SigV4 process)
      val signedHdrs = (Map(
        "content-type" -> contentType,
        "host" -> host,
        "x-amz-date" -> amzDate) ++
        extraSigned.map { case (k, v) => k.toLowerCase -> v }).toSeq.sortBy(_._1)
      val signedNames = signedHdrs.map(_._1).mkString(";")
      val canonical = (Seq(method, path, query) ++
        signedHdrs.map { case (k, v) => s"$k:$v" } ++
        Seq("", signedNames, payloadSha256Hex)).mkString("\n")
      val scope = s"$date/$region/$service/aws4_request"
      val toSign = Seq("AWS4-HMAC-SHA256", amzDate, scope,
        sha256Hex(canonical)).mkString("\n")
      val kSigning = hmac(hmac(hmac(hmac(
        ("AWS4" + secretKey).getBytes("UTF-8"), date), region), service),
        "aws4_request")
      val sig = hmac(kSigning, toSign).map("%02x".format(_)).mkString
      Map(
        "Content-Type" -> contentType,
        "X-Amz-Date" -> amzDate,
        "Authorization" -> (s"AWS4-HMAC-SHA256 Credential=$accessKey/$scope, " +
          s"SignedHeaders=$signedNames, Signature=$sig")) ++ extraSigned
    }
  }

  /** production client: SigV4-signed DescribeInstances query calls */
  final class HttpApiClient(cfg: Config) extends ApiClient {
    private val (host, base) =
      AwsSd.endpointOf(cfg.endpoint, s"ec2.${cfg.region}.amazonaws.com")
    private val credsProvider = AwsSd.credentials(cfg.accessKey,
      cfg.secretKey, cfg.roleArn, cfg.externalId, cfg.region, profile = cfg.profile)
    override def describeInstances(nextToken: Option[String]): String = {
      val body = "Action=DescribeInstances&Version=2016-11-15" +
        nextToken.map(t => "&NextToken=" +
          java.net.URLEncoder.encode(t, "UTF-8")).getOrElse("")
      AwsSd.post("ec2", base, body, SigV4.headers(credsProvider.creds(), cfg.region,
        "ec2", host, body, java.time.Instant.now()))
    }
  }

  // ------------------------------------------------------------------- XML

  private def items(n: org.w3c.dom.Node, set: String): Seq[org.w3c.dom.Element] =
    children(n, set).headOption.map(children(_, "item")).getOrElse(Nil)

  // --------------------------------------------------------------- builder

  /** ENI sweep → (default ipv6, primary-per-device-index list, all list)
    * (ref: ec2.go getInstanceIPv6Addresses:460-494). Primary addresses sit
    * at their attachment's device index; gaps stay as empty strings so the
    * list preserves position information. Default = first primary, else
    * first of the full list. VPC-less instances have no IPv6 labels. */
  private def instanceIpv6(inst: org.w3c.dom.Element)
      : (Option[String], Seq[String], Seq[String]) = {
    if (text(inst, "vpcId").isEmpty) return (None, Nil, Nil)
    val primary = scala.collection.mutable.ArrayBuffer.empty[String]
    val all = Seq.newBuilder[String]
    items(inst, "networkInterfaceSet").foreach { eni =>
      if (text(eni, "subnetId").nonEmpty) {
        val devIdx = children(eni, "attachment").headOption
          .map(a => text(a, "deviceIndex")).filter(_.nonEmpty)
          .map(_.toInt).getOrElse(0)
        items(eni, "ipv6AddressesSet").foreach { a =>
          val addr = text(a, "ipv6Address")
          if (addr.nonEmpty) {
            all += addr
            if (text(a, "isPrimaryIpv6") == "true") {
              while (primary.length <= devIdx) primary += ""
              primary(devIdx) = addr
            }
          }
        }
      }
    }
    val allSeq = all.result()
    val default = (primary.toSeq ++ allSeq).find(_.nonEmpty)
    (default, primary.toSeq, allSeq)
  }

  /** one instance element → (address, labels) (ref: ec2.go refresh loop) */
  private def buildInstance(inst: org.w3c.dom.Element, ownerId: String,
      cfg: Config): Option[(String, Map[String, String])] = {
    val privateIp = text(inst, "privateIpAddress")
    val (defaultIpv6, primaryIpv6, allIpv6) = instanceIpv6(inst)
    // the reference skips instances with neither a private IPv4 nor any
    // IPv6 address (ec2.go:352 — IPv6-only VPCs stay scrapeable, #16088)
    if (privateIp.isEmpty && defaultIpv6.isEmpty) return None
    var l = Map(
      "__meta_ec2_instance_id" -> text(inst, "instanceId"),
      "__meta_ec2_region" -> cfg.region,
      "__meta_ec2_ami" -> text(inst, "imageId"),
      "__meta_ec2_instance_state" ->
        children(inst, "instanceState").headOption.map(text(_, "name")).getOrElse(""),
      "__meta_ec2_instance_type" -> text(inst, "instanceType"),
      "__meta_ec2_availability_zone" ->
        children(inst, "placement").headOption
          .map(text(_, "availabilityZone")).getOrElse(""))
    if (privateIp.nonEmpty) l += "__meta_ec2_private_ip" -> privateIp
    defaultIpv6.foreach(a => l += "__meta_ec2_default_ipv6_address" -> a)
    if (primaryIpv6.nonEmpty)
      l += "__meta_ec2_primary_ipv6_addresses" ->
        primaryIpv6.mkString(",", ",", ",")
    if (allIpv6.nonEmpty)
      l += "__meta_ec2_ipv6_addresses" -> allIpv6.mkString(",", ",", ",")
    if (ownerId.nonEmpty) l += "__meta_ec2_owner_id" -> ownerId
    val privDns = text(inst, "privateDnsName")
    if (privDns.nonEmpty) l += "__meta_ec2_private_dns_name" -> privDns
    val pubIp = text(inst, "ipAddress")
    if (pubIp.nonEmpty) {
      l += "__meta_ec2_public_ip" -> pubIp
      l += "__meta_ec2_public_dns_name" -> text(inst, "dnsName")
    }
    val platform = text(inst, "platform")
    if (platform.nonEmpty) l += "__meta_ec2_platform" -> platform
    val arch = text(inst, "architecture")
    if (arch.nonEmpty) l += "__meta_ec2_architecture" -> arch
    val lifecycle = text(inst, "instanceLifecycle")
    if (lifecycle.nonEmpty) l += "__meta_ec2_instance_lifecycle" -> lifecycle
    val vpc = text(inst, "vpcId")
    if (vpc.nonEmpty) {
      l += "__meta_ec2_vpc_id" -> vpc
      l += "__meta_ec2_primary_subnet_id" -> text(inst, "subnetId")
      // distinct subnets across interfaces, surrounded separator list
      val subnets = items(inst, "networkInterfaceSet").map(text(_, "subnetId"))
        .filter(_.nonEmpty).distinct
      if (subnets.nonEmpty)
        l += "__meta_ec2_subnet_id" -> subnets.mkString(",", ",", ",")
    }
    items(inst, "tagSet").foreach { tag =>
      val k = text(tag, "key"); val v = text(tag, "value")
      if (k.nonEmpty)
        l += "__meta_ec2_tag_" + KubernetesSd.sanitize(k) -> v
    }
    // address: private IPv4 preferred, default IPv6 otherwise (ec2.go:370)
    val addrHost = if (privateIp.nonEmpty) privateIp else defaultIpv6.get
    Some((hostPort(addrHost, cfg.port), l))
  }

  final class Ec2Provider(override val name: String, cfg: Config,
      client: ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) = this(name, cfg, new HttpApiClient(cfg))
    override def refreshMs: Long = cfg.refreshMs
    override def refresh(): Seq[Discovery.TargetGroup] = {
      val targets = Seq.newBuilder[(String, Map[String, String])]
      var token: Option[String] = None
      var more = true
      while (more) {
        val doc = parseXml(client.describeInstances(token))
        val root = doc.getDocumentElement
        items(root, "reservationSet").foreach { res =>
          val owner = text(res, "ownerId")
          items(res, "instancesSet").foreach(inst =>
            buildInstance(inst, owner, cfg).foreach(targets += _))
        }
        val next = text(root, "nextToken")
        token = if (next.nonEmpty) Some(next) else None
        more = token.isDefined
      }
      Seq(Discovery.TargetGroup(cfg.region, Map.empty, targets.result()))
    }
  }
}
