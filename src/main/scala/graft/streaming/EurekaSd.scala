package graft.streaming

/** Eureka service discovery (ref: discovery/eureka/eureka.go + client.go).
  *
  * One `GET {server}/apps` per refresh — the Eureka REST registry returns an
  * XML application list; every instance of every application becomes a
  * target at hostName:port (port 80 when the instance declares none), with
  * the reference's `__meta_eureka_app_*` label set, including
  * dataCenterInfo and instance metadata maps. */
object EurekaSd {

  /** eureka_sd_configs entry (ref: eureka.go SDConfig; server is the full
    * service URL, e.g. http://localhost:8080/eureka; refresh 30s) */
  final case class Config(server: String, refreshMs: Long = 30000L)

  /** injectable transport; returns the /apps XML body */
  trait ApiClient { def apps(): String }

  final class HttpApiClient(cfg: Config) extends ApiClient {
    override def apps(): String =
      SdHttp.get("eureka", cfg.server.stripSuffix("/") + "/apps", accept = "application/xml")
  }

  private def parseXml(xml: String): org.w3c.dom.Document = {
    val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    f.newDocumentBuilder().parse(
      new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
  }

  private def children(n: org.w3c.dom.Node, name: String): Seq[org.w3c.dom.Element] = {
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
  private def childElems(n: org.w3c.dom.Node): Seq[org.w3c.dom.Element] = {
    val out = Seq.newBuilder[org.w3c.dom.Element]
    val kids = n.getChildNodes
    var i = 0
    while (i < kids.getLength) {
      kids.item(i) match { case e: org.w3c.dom.Element => out += e; case _ => () }
      i += 1
    }
    out.result()
  }
  private def text(n: org.w3c.dom.Node, name: String): String =
    children(n, name).headOption.map(_.getTextContent).getOrElse("")

  /** ref eureka.go:172-233 targetsForApp */
  private def buildInstance(appName: String, inst: org.w3c.dom.Element):
      (String, Map[String, String]) = {
    val host = text(inst, "hostName")
    val portE = children(inst, "port").headOption
    val port = portE.map(_.getTextContent.trim).filter(_.nonEmpty).getOrElse("80")
    val instanceId = text(inst, "instanceId")
    var l = Map(
      "instance" -> instanceId,
      "__meta_eureka_app_name" -> appName,
      "__meta_eureka_app_instance_hostname" -> host,
      "__meta_eureka_app_instance_homepage_url" -> text(inst, "homePageUrl"),
      "__meta_eureka_app_instance_statuspage_url" -> text(inst, "statusPageUrl"),
      "__meta_eureka_app_instance_healthcheck_url" -> text(inst, "healthCheckUrl"),
      "__meta_eureka_app_instance_ip_addr" -> text(inst, "ipAddr"),
      "__meta_eureka_app_instance_vip_address" -> text(inst, "vipAddress"),
      "__meta_eureka_app_instance_secure_vip_address" -> text(inst, "secureVipAddress"),
      "__meta_eureka_app_instance_status" -> text(inst, "status"),
      "__meta_eureka_app_instance_country_id" -> text(inst, "countryId"),
      "__meta_eureka_app_instance_id" -> instanceId)
    portE.foreach { p =>
      l += "__meta_eureka_app_instance_port" -> p.getTextContent.trim
      l += "__meta_eureka_app_instance_port_enabled" -> p.getAttribute("enabled")
    }
    children(inst, "securePort").headOption.foreach { p =>
      l += "__meta_eureka_app_instance_secure_port" -> p.getTextContent.trim
      l += "__meta_eureka_app_instance_secure_port_enabled" -> p.getAttribute("enabled")
    }
    children(inst, "dataCenterInfo").headOption.foreach { dci =>
      l += "__meta_eureka_app_instance_datacenterinfo_name" -> text(dci, "name")
      children(dci, "metadata").headOption.foreach(md =>
        childElems(md).foreach(e =>
          l += "__meta_eureka_app_instance_datacenterinfo_metadata_" +
            KubernetesSd.sanitize(e.getTagName) -> e.getTextContent))
    }
    children(inst, "metadata").headOption.foreach(md =>
      childElems(md).foreach(e =>
        l += "__meta_eureka_app_instance_metadata_" +
          KubernetesSd.sanitize(e.getTagName) -> e.getTextContent))
    (s"$host:$port", l)
  }

  final class EurekaProvider(override val name: String, cfg: Config,
      client: ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) = this(name, cfg, new HttpApiClient(cfg))
    override def refreshMs: Long = cfg.refreshMs
    override def refresh(): Seq[Discovery.TargetGroup] = {
      val doc = parseXml(client.apps())
      val targets = children(doc.getDocumentElement, "application").flatMap { app =>
        val appName = text(app, "name")
        children(app, "instance").map(buildInstance(appName, _))
      }
      Seq(Discovery.TargetGroup("eureka", Map.empty, targets))
    }
  }
}
