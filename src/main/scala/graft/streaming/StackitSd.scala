package graft.streaming

import graft.web.JsonLite
import SdJson._

/** STACKIT Cloud service discovery (ref: discovery/stackit/stackit.go +
  * server.go).
  *
  * One `GET /v1/projects/{project}/servers` per refresh against the
  * regional IaaS endpoint — targets address the first public IP (falling
  * back to the first private IPv4) : port; per-network private IPs label by
  * network name, string labels get label/labelpresent pairs, NIC-less and
  * IP-less servers are skipped. */
object StackitSd {

  /** stackit_sd_configs entry (ref: stackit.go SDConfig; port 80,
    * refresh 60s; endpoint defaults to the regional IaaS API) */
  final case class Config(
      project: String,
      region: String = "",
      endpoint: String = "",
      bearerToken: String = "",
      port: Int = 80,
      refreshMs: Long = 60000L) {
    def apiEndpoint: String =
      if (endpoint.nonEmpty) endpoint.stripSuffix("/")
      else s"https://iaas.api.$region.stackit.cloud"
  }

  /** injectable transport; `path` is relative to the endpoint */
  trait ApiClient { def get(path: String): String }

  final class HttpApiClient(cfg: Config) extends ApiClient {
    override def get(path: String): String =
      SdHttp.get("stackit", cfg.apiEndpoint + path, SdHttp.bearer(cfg.bearerToken))
  }

  final class StackitProvider(override val name: String, cfg: Config,
      client: ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) = this(name, cfg, new HttpApiClient(cfg))
    override def refreshMs: Long = cfg.refreshMs
    override def refresh(): Seq[Discovery.TargetGroup] = {
      val body = map(JsonLite.parse(client.get(
        s"/v1/projects/${cfg.project}/servers")))
      val targets = list(body, "items").flatMap { sv =>
        val nics = list(sv, "nics")
        if (nics.isEmpty) None // NIC-less servers are skipped
        else {
          var l = Map(
            "__meta_stackit_project" -> cfg.project,
            "__meta_stackit_id" -> str(sv, "id"),
            "__meta_stackit_name" -> str(sv, "name"),
            "__meta_stackit_availability_zone" -> str(sv, "availabilityZone"),
            "__meta_stackit_status" -> str(sv, "status"),
            "__meta_stackit_power_status" -> str(sv, "powerStatus"),
            "__meta_stackit_type" -> str(sv, "machineType"))
          var addr = ""; var publicIp = ""
          nics.foreach { nic =>
            val pub = str(nic, "publicIp")
            if (pub.nonEmpty && publicIp.isEmpty) { publicIp = pub; addr = pub }
            val v4 = str(nic, "ipv4")
            if (v4.nonEmpty) {
              l += "__meta_stackit_private_ipv4_" +
                KubernetesSd.sanitize(str(nic, "networkName")) -> v4
              if (addr.isEmpty) addr = v4
            }
          }
          if (addr.isEmpty) None // IP-less servers are skipped
          else {
            if (publicIp.nonEmpty) l += "__meta_stackit_public_ipv4" -> publicIp
            map(sv, "labels").foreach {
              case (k, v: String) =>
                val sk = KubernetesSd.sanitize(k)
                l += "__meta_stackit_label_" + sk -> v
                l += "__meta_stackit_labelpresent_" + sk -> "true"
              case _ => () // only string label values attach (ref server.go:208)
            }
            Some((s"$addr:${cfg.port}", l))
          }
        }
      }
      Seq(Discovery.TargetGroup("stackit", Map.empty, targets))
    }
  }
}
