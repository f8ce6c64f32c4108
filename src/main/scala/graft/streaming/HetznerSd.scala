package graft.streaming

import graft.web.JsonLite
import SdJson._

/** Hetzner service discovery (ref: discovery/hetzner/hetzner.go; hcloud.go
  * for the Cloud role, robot.go for the dedicated-server Robot role).
  *
  * hcloud: pages `GET /v1/servers` (bearer token, optional label_selector
  * pushed to the API) plus one `GET /v1/networks` to resolve private-net
  * names; robot: one `GET /server` with basic auth. Label sets mirror
  * hcloud_test.go / robot_test.go exactly so relabel configs written for
  * the reference work unchanged. */
object HetznerSd {

  /** hetzner_sd_configs entry (ref: hetzner.go SDConfig; defaults port 80,
    * refresh 60s). `bearerToken`/`bearerTokenFile` authenticate the hcloud
    * role; `username`/`password` the robot role. */
  final case class Config(
      role: String, // hcloud | robot
      bearerToken: String = "",
      bearerTokenFile: String = "",
      username: String = "",
      password: String = "",
      port: Int = 80,
      labelSelector: String = "",
      refreshMs: Long = 60000L)

  /** injectable transport; `path` includes the query; throws on failure */
  trait ApiClient { def get(path: String): String }

  final class HttpApiClient(cfg: Config) extends ApiClient {
    private val base =
      if (cfg.role == "robot") "https://robot-ws.your-server.de"
      else "https://api.hetzner.cloud/v1"
    override def get(path: String): String =
      SdHttp.get("hetzner", base + path,
        if (cfg.role == "robot") SdHttp.basic(cfg.username, cfg.password)
        else SdHttp.bearer(cfg.bearerToken, cfg.bearerTokenFile),
        ok = SdHttp.any2xx)
  }

  /** ref hcloud.go:98-142 — one target per server, address public IPv4 */
  private def buildHcloudServer(sv: J, networkNames: Map[String, String],
      port: Int): (String, Map[String, String]) = {
    val pub = map(sv, "public_net")
    val loc = map(sv, "location")
    val st = map(sv, "server_type")
    val ipv4 = str(map(pub, "ipv4"), "ip")
    var l = Map(
      "__meta_hetzner_role" -> "hcloud",
      "__meta_hetzner_server_id" -> str(sv, "id"),
      "__meta_hetzner_server_name" -> str(sv, "name"),
      "__meta_hetzner_server_status" -> str(sv, "status"),
      "__meta_hetzner_public_ipv4" -> ipv4,
      "__meta_hetzner_public_ipv6_network" -> str(map(pub, "ipv6"), "ip"),
      "__meta_hetzner_hcloud_location" -> str(loc, "name"),
      "__meta_hetzner_hcloud_location_network_zone" -> str(loc, "network_zone"),
      // kept for backward compatibility in the reference (hcloud.go:109-110)
      "__meta_hetzner_hcloud_datacenter_location" -> str(loc, "name"),
      "__meta_hetzner_hcloud_datacenter_location_network_zone" -> str(loc, "network_zone"),
      "__meta_hetzner_hcloud_server_type" -> str(st, "name"),
      "__meta_hetzner_hcloud_cpu_cores" -> str(st, "cores"),
      "__meta_hetzner_hcloud_cpu_type" -> str(st, "cpu_type"),
      "__meta_hetzner_hcloud_memory_size_gb" -> str(st, "memory"),
      "__meta_hetzner_hcloud_disk_size_gb" -> str(st, "disk"))
    val img = map(sv, "image")
    if (img.nonEmpty) l ++= Map(
      "__meta_hetzner_hcloud_image_name" -> str(img, "name"),
      "__meta_hetzner_hcloud_image_description" -> str(img, "description"),
      "__meta_hetzner_hcloud_image_os_version" -> str(img, "os_version"),
      "__meta_hetzner_hcloud_image_os_flavor" -> str(img, "os_flavor"))
    list(sv, "private_net").foreach { pn =>
      networkNames.get(str(pn, "network")).foreach { netName =>
        l += "__meta_hetzner_hcloud_private_ipv4_" + KubernetesSd.sanitize(netName) ->
          str(pn, "ip")
      }
    }
    map(sv, "labels").foreach { case (k, v) =>
      val sk = KubernetesSd.sanitize(k)
      l += "__meta_hetzner_hcloud_label_" + sk -> str(v)
      l += "__meta_hetzner_hcloud_labelpresent_" + sk -> "true"
    }
    (s"$ipv4:$port", l)
  }

  /** ref robot.go:107-128 — one target per dedicated server */
  private def buildRobotServer(entry: J, port: Int): (String, Map[String, String]) = {
    val sv = map(entry, "server")
    val ip = str(sv, "server_ip")
    var l = Map(
      "__meta_hetzner_role" -> "robot",
      "__meta_hetzner_server_id" -> str(sv, "server_number"),
      "__meta_hetzner_server_name" -> str(sv, "server_name"),
      // kept for backward compatibility in the reference (robot.go:112)
      "__meta_hetzner_datacenter" -> str(sv, "dc").toLowerCase,
      "__meta_hetzner_public_ipv4" -> ip,
      "__meta_hetzner_server_status" -> str(sv, "status"),
      "__meta_hetzner_robot_datacenter" -> str(sv, "dc").toLowerCase,
      "__meta_hetzner_robot_product" -> str(sv, "product"),
      "__meta_hetzner_robot_cancelled" ->
        bool(sv, "cancelled").toString)
    // the first non-v4 subnet is the public IPv6 network (ref robot.go:121-127)
    list(sv, "subnet")
      .find(sn => str(sn, "ip").contains(":"))
      .foreach(sn =>
        l += "__meta_hetzner_public_ipv6_network" -> s"${str(sn, "ip")}/${str(sn, "mask")}")
    (s"$ip:$port", l)
  }

  final class HetznerProvider(override val name: String, cfg: Config,
      client: ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) = this(name, cfg, new HttpApiClient(cfg))
    override def refreshMs: Long = cfg.refreshMs
    override def refresh(): Seq[Discovery.TargetGroup] = {
      val targets: Seq[(String, Map[String, String])] = cfg.role match {
        case "robot" =>
          list(JsonLite.parse(client.get("/server"))).map(buildRobotServer(_, cfg.port))
        case _ =>
          // network id → name, one LIST (ref hcloud.go:93)
          val nets = list(map(JsonLite.parse(client.get("/networks"))), "networks")
            .map(n => str(n, "id") -> str(n, "name")).toMap
          val out = Seq.newBuilder[(String, Map[String, String])]
          var page = 1
          var more = true
          while (more) {
            val sel = if (cfg.labelSelector.isEmpty) ""
              else "&label_selector=" + java.net.URLEncoder.encode(cfg.labelSelector,
                java.nio.charset.StandardCharsets.UTF_8)
            val body = map(JsonLite.parse(client.get(s"/servers?page=$page&per_page=50$sel")))
            list(body, "servers")
              .foreach(sv => out += buildHcloudServer(sv, nets, cfg.port))
            val nextPage = str(map(map(body, "meta"), "pagination"), "next_page")
            more = nextPage.nonEmpty && nextPage != "null"
            page += 1
          }
          out.result()
      }
      Seq(Discovery.TargetGroup("hetzner", Map.empty, targets))
    }
  }
}
