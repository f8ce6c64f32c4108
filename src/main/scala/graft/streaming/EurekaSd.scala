package graft.streaming

import SdJson.{children, elements, parseXml}

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

  /** the untrimmed text of the first child `name` (Go's xml decoding keeps
    * surrounding whitespace) */
  private def rawText(n: org.w3c.dom.Node, name: String): String =
    children(n, name).headOption.map(_.getTextContent).getOrElse("")

  /** ref eureka.go:172-233 targetsForApp */
  private def buildInstance(appName: String, inst: org.w3c.dom.Element):
      (String, Map[String, String]) = {
    val host = rawText(inst, "hostName")
    val portE = children(inst, "port").headOption
    val port = portE.map(_.getTextContent.trim).filter(_.nonEmpty).getOrElse("80")
    val instanceId = rawText(inst, "instanceId")
    var l = Map(
      "instance" -> instanceId,
      "__meta_eureka_app_name" -> appName,
      "__meta_eureka_app_instance_hostname" -> host,
      "__meta_eureka_app_instance_homepage_url" -> rawText(inst, "homePageUrl"),
      "__meta_eureka_app_instance_statuspage_url" -> rawText(inst, "statusPageUrl"),
      "__meta_eureka_app_instance_healthcheck_url" -> rawText(inst, "healthCheckUrl"),
      "__meta_eureka_app_instance_ip_addr" -> rawText(inst, "ipAddr"),
      "__meta_eureka_app_instance_vip_address" -> rawText(inst, "vipAddress"),
      "__meta_eureka_app_instance_secure_vip_address" -> rawText(inst, "secureVipAddress"),
      "__meta_eureka_app_instance_status" -> rawText(inst, "status"),
      "__meta_eureka_app_instance_country_id" -> rawText(inst, "countryId"),
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
      l += "__meta_eureka_app_instance_datacenterinfo_name" -> rawText(dci, "name")
      children(dci, "metadata").headOption.foreach(md =>
        elements(md).foreach(e =>
          l += "__meta_eureka_app_instance_datacenterinfo_metadata_" +
            KubernetesSd.sanitize(e.getTagName) -> e.getTextContent))
    }
    children(inst, "metadata").headOption.foreach(md =>
      elements(md).foreach(e =>
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
        val appName = rawText(app, "name")
        children(app, "instance").map(buildInstance(appName, _))
      }
      Seq(Discovery.TargetGroup("eureka", Map.empty, targets))
    }
  }
}
