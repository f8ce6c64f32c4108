package graft.streaming

import graft.web.JsonLite
import SdJson._

/** IONOS Cloud service discovery (ref: discovery/ionos/ionos.go +
  * server.go).
  *
  * One `GET /cloudapi/v6/datacenters/{id}/servers?depth=3` per refresh —
  * depth 3 inlines each server's NICs so IPs come in the same response.
  * One target per server with at least one IP at ips[0]:port; NIC IPs are
  * surrounded-joined per NIC name, servers without IPs are dropped
  * (ref server.go:114-119). */
object IonosSd {

  /** ionos_sd_configs entry (ref: ionos.go SDConfig; port 80, refresh 60s) */
  final case class Config(
      datacenterId: String,
      bearerToken: String = "",
      username: String = "",
      password: String = "",
      port: Int = 80,
      refreshMs: Long = 60000L)

  /** injectable transport; `path` includes the query */
  trait ApiClient { def get(path: String): String }

  final class HttpApiClient(cfg: Config) extends ApiClient {
    override def get(path: String): String =
      SdHttp.get("ionos", "https://api.ionos.com" + path,
        if (cfg.bearerToken.nonEmpty) SdHttp.bearer(cfg.bearerToken)
        else if (cfg.username.nonEmpty) SdHttp.basic(cfg.username, cfg.password)
        else Nil)
  }

  final class IonosProvider(override val name: String, cfg: Config,
      client: ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) = this(name, cfg, new HttpApiClient(cfg))
    override def refreshMs: Long = cfg.refreshMs
    override def refresh(): Seq[Discovery.TargetGroup] = {
      val body = map(JsonLite.parse(client.get(
        s"/cloudapi/v6/datacenters/${cfg.datacenterId}/servers?depth=3")))
      val serversId = str(body, "id")
      val targets = list(body, "items").flatMap { sv =>
        // NIC ips, newest-first per the reference's prepend order
        var ips = List.empty[String]
        var byNic = Map.empty[String, List[String]]
        list(map(map(sv, "entities"), "nics"), "items").foreach { nic =>
          val props = map(nic, "properties")
          val nicName = { val n = str(props, "name"); if (n.isEmpty) "unnamed" else n }
          val nicIps = strs(props, "ips")
          ips = nicIps ++ ips
          byNic += nicName -> (nicIps ++ byNic.getOrElse(nicName, Nil))
        }
        if (ips.isEmpty) None // ip-less servers are dropped
        else {
          val props = map(sv, "properties")
          var l = Map(
            "__meta_ionos_server_availability_zone" -> str(props, "availabilityZone"),
            "__meta_ionos_server_cpu_family" -> str(props, "cpuFamily"),
            "__meta_ionos_server_servers_id" -> serversId,
            "__meta_ionos_server_id" -> str(sv, "id"),
            "__meta_ionos_server_ip" -> ips.mkString(",", ",", ","),
            "__meta_ionos_server_lifecycle" -> str(map(sv, "metadata"), "state"),
            "__meta_ionos_server_name" -> str(props, "name"),
            "__meta_ionos_server_state" -> str(props, "vmState"),
            "__meta_ionos_server_type" -> str(props, "type"))
          byNic.foreach { case (nicName, nicIps) =>
            l += "__meta_ionos_server_nic_ip_" + KubernetesSd.sanitize(nicName) ->
              nicIps.mkString(",", ",", ",")
          }
          val bootCdrom = str(map(props, "bootCdrom"), "id")
          if (bootCdrom.nonEmpty)
            l += "__meta_ionos_server_boot_cdrom_id" -> bootCdrom
          val bootVol = str(map(props, "bootVolume"), "id")
          if (bootVol.nonEmpty)
            l += "__meta_ionos_server_boot_volume_id" -> bootVol
          // boot image = first attached volume's image (ref server.go:146-154)
          list(map(map(sv, "entities"), "volumes"), "items")
            .headOption.map(v => str(map(v, "properties"), "image"))
            .filter(_.nonEmpty)
            .foreach(img => l += "__meta_ionos_server_boot_image_id" -> img)
          Some((s"${ips.head}:${cfg.port}", l))
        }
      }
      Seq(Discovery.TargetGroup(cfg.datacenterId, Map.empty, targets))
    }
  }
}
