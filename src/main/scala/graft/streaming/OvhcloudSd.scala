package graft.streaming

import graft.web.JsonLite
import SdJson._

/** OVHcloud service discovery (ref: discovery/ovhcloud/ovhcloud.go; vps.go
  * and dedicated_server.go per service).
  *
  * The OVH API is name-list + per-name detail: one `GET /vps` (or
  * `/dedicated/server`) for the name list, then `GET /{name}` and
  * `GET /{name}/ips` per server; a failed detail fetch skips that server
  * (ref vps.go:132-137). Targets address the IPv4 (IPv6 fallback) with NO
  * port — the reference emits the bare IP. The production transport signs
  * every request with the published OVH scheme: X-Ovh-Signature =
  * "$1$" + SHA1hex(appSecret "+" consumerKey "+" method "+" url "+" body
  * "+" timestamp). */
object OvhcloudSd {

  /** ovhcloud_sd_configs entry (ref: ovhcloud.go SDConfig; endpoint ovh-eu,
    * refresh 60s) */
  final case class Config(
      service: String, // vps | dedicated_server
      applicationKey: String = "",
      applicationSecret: String = "",
      consumerKey: String = "",
      endpoint: String = "ovh-eu",
      refreshMs: Long = 60000L)

  /** injectable transport; `path` is relative to the endpoint base */
  trait ApiClient { def get(path: String): String }

  private val endpoints = Map(
    "ovh-eu" -> "https://eu.api.ovh.com/1.0",
    "ovh-ca" -> "https://ca.api.ovh.com/1.0",
    "ovh-us" -> "https://api.us.ovhcloud.com/1.0")

  final class HttpApiClient(cfg: Config) extends ApiClient {
    private val base = endpoints.getOrElse(cfg.endpoint,
      cfg.endpoint.stripSuffix("/"))
    private def sha1Hex(s: String): String =
      java.security.MessageDigest.getInstance("SHA-1")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    override def get(path: String): String = {
      val url = base + path
      val ts = (System.currentTimeMillis() / 1000L).toString
      val sig = "$1$" + sha1Hex(Seq(cfg.applicationSecret, cfg.consumerKey,
        "GET", url, "", ts).mkString("+"))
      SdHttp.get("ovhcloud", url, Seq(
        "X-Ovh-Application" -> cfg.applicationKey,
        "X-Ovh-Consumer" -> cfg.consumerKey,
        "X-Ovh-Timestamp" -> ts,
        "X-Ovh-Signature" -> sig))
    }
  }

  private def ipSplit(ips: List[String]): (String, String) = {
    var v4 = ""; var v6 = ""
    ips.foreach { ip =>
      // /ips may return addresses or CIDR blocks; strip the prefix
      val a = ip.split("/")(0)
      if (a.contains(":")) v6 = a
      else if (a.contains(".")) v4 = a
    }
    (v4, v6)
  }

  final class OvhcloudProvider(override val name: String, cfg: Config,
      client: ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) = this(name, cfg, new HttpApiClient(cfg))
    override def refreshMs: Long = cfg.refreshMs

    private def vpsTargets(): Seq[(String, Map[String, String])] =
      strs(JsonLite.parse(client.get("/vps"))).flatMap { vpsName =>
        try {
          val enc = java.net.URLEncoder.encode(vpsName,
            java.nio.charset.StandardCharsets.UTF_8)
          val d = map(JsonLite.parse(client.get(s"/vps/$enc")))
          val (ipv4, ipv6) = ipSplit(strs(JsonLite.parse(client.get(s"/vps/$enc/ips"))))
          val addr = if (ipv4.nonEmpty) ipv4 else ipv6
          val model = map(d, "model")
          Some((addr, Map(
            "instance" -> str(d, "name"),
            "__meta_ovhcloud_vps_offer" -> str(model, "offer"),
            // the reference renders the datacenter list with Go's %+v
            "__meta_ovhcloud_vps_datacenter" ->
              strs(model, "datacenter").mkString("[", " ", "]"),
            "__meta_ovhcloud_vps_model_vcore" -> str(model, "vcore"),
            "__meta_ovhcloud_vps_maximum_additional_ip" -> str(model, "maximumAdditionnalIp"),
            "__meta_ovhcloud_vps_version" -> str(model, "version"),
            "__meta_ovhcloud_vps_model_name" -> str(model, "name"),
            "__meta_ovhcloud_vps_disk" -> str(model, "disk"),
            "__meta_ovhcloud_vps_memory" -> str(model, "memory"),
            "__meta_ovhcloud_vps_zone" -> str(d, "zone"),
            "__meta_ovhcloud_vps_display_name" -> str(d, "displayName"),
            "__meta_ovhcloud_vps_cluster" -> str(d, "cluster"),
            "__meta_ovhcloud_vps_state" -> str(d, "state"),
            "__meta_ovhcloud_vps_name" -> str(d, "name"),
            "__meta_ovhcloud_vps_netboot_mode" -> str(d, "netbootMode"),
            "__meta_ovhcloud_vps_memory_limit" -> str(d, "memoryLimit"),
            "__meta_ovhcloud_vps_offer_type" -> str(d, "offerType"),
            "__meta_ovhcloud_vps_vcore" -> str(d, "vcore"),
            "__meta_ovhcloud_vps_ipv4" -> ipv4,
            "__meta_ovhcloud_vps_ipv6" -> ipv6)))
        } catch { case _: Exception => None } // detail failure skips the server
      }

    private def dedicatedTargets(): Seq[(String, Map[String, String])] =
      strs(JsonLite.parse(client.get("/dedicated/server"))).flatMap { sn =>
        try {
          val enc = java.net.URLEncoder.encode(sn,
            java.nio.charset.StandardCharsets.UTF_8)
          val d = map(JsonLite.parse(client.get(s"/dedicated/server/$enc")))
          val (ipv4, ipv6) = ipSplit(strs(JsonLite.parse(
            client.get(s"/dedicated/server/$enc/ips"))))
          val addr = if (ipv4.nonEmpty) ipv4 else ipv6
          Some((addr, Map(
            "instance" -> str(d, "name"),
            "__meta_ovhcloud_dedicated_server_state" -> str(d, "state"),
            "__meta_ovhcloud_dedicated_server_commercial_range" -> str(d, "commercialRange"),
            "__meta_ovhcloud_dedicated_server_link_speed" -> str(d, "linkSpeed"),
            "__meta_ovhcloud_dedicated_server_rack" -> str(d, "rack"),
            "__meta_ovhcloud_dedicated_server_no_intervention" ->
              bool(d, "noIntervention").toString,
            "__meta_ovhcloud_dedicated_server_os" -> str(d, "os"),
            "__meta_ovhcloud_dedicated_server_support_level" -> str(d, "supportLevel"),
            "__meta_ovhcloud_dedicated_server_server_id" -> str(d, "serverId"),
            "__meta_ovhcloud_dedicated_server_reverse" -> str(d, "reverse"),
            "__meta_ovhcloud_dedicated_server_datacenter" -> str(d, "datacenter"),
            "__meta_ovhcloud_dedicated_server_name" -> str(d, "name"),
            "__meta_ovhcloud_dedicated_server_ipv4" -> ipv4,
            "__meta_ovhcloud_dedicated_server_ipv6" -> ipv6)))
        } catch { case _: Exception => None }
      }

    override def refresh(): Seq[Discovery.TargetGroup] = {
      val targets = cfg.service match {
        case "dedicated_server" => dedicatedTargets()
        case _ => vpsTargets()
      }
      Seq(Discovery.TargetGroup(s"ovhcloud_${cfg.service}_${cfg.endpoint}",
        Map.empty, targets))
    }
  }
}
