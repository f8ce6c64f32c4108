package graft.streaming

import graft.web.JsonLite
import SdJson._

/** Vultr service discovery (ref: discovery/vultr/vultr.go).
  *
  * Pages `GET /v2/instances` (bearer token; cursor pagination) — one target
  * per instance at main_ip:port with the `__meta_vultr_instance_*` label set
  * and surrounded feature/tag lists. */
object VultrSd {

  /** vultr_sd_configs entry (ref: vultr.go SDConfig; port 80, refresh 60s) */
  final case class Config(
      bearerToken: String = "",
      bearerTokenFile: String = "",
      port: Int = 80,
      refreshMs: Long = 60000L)

  /** injectable transport; `path` includes the query */
  trait ApiClient { def get(path: String): String }

  final class HttpApiClient(cfg: Config) extends ApiClient {
    override def get(path: String): String =
      SdHttp.get("vultr", "https://api.vultr.com" + path,
        SdHttp.bearer(cfg.bearerToken, cfg.bearerTokenFile))
  }

  final class VultrProvider(override val name: String, cfg: Config,
      client: ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) = this(name, cfg, new HttpApiClient(cfg))
    override def refreshMs: Long = cfg.refreshMs
    override def refresh(): Seq[Discovery.TargetGroup] = {
      val targets = Seq.newBuilder[(String, Map[String, String])]
      var cursor = ""
      var more = true
      while (more) {
        val q = "?per_page=100" + (if (cursor.isEmpty) "" else
          "&cursor=" + java.net.URLEncoder.encode(cursor,
            java.nio.charset.StandardCharsets.UTF_8))
        val body = map(JsonLite.parse(client.get("/v2/instances" + q)))
        list(body, "instances").foreach { inst =>
          var l = Map(
            "__meta_vultr_instance_id" -> str(inst, "id"),
            "__meta_vultr_instance_label" -> str(inst, "label"),
            "__meta_vultr_instance_os" -> str(inst, "os"),
            "__meta_vultr_instance_os_id" -> str(inst, "os_id"),
            "__meta_vultr_instance_region" -> str(inst, "region"),
            "__meta_vultr_instance_plan" -> str(inst, "plan"),
            "__meta_vultr_instance_vcpu_count" -> str(inst, "vcpu_count"),
            "__meta_vultr_instance_ram_mb" -> str(inst, "ram"),
            "__meta_vultr_instance_allowed_bandwidth_gb" -> str(inst, "allowed_bandwidth"),
            "__meta_vultr_instance_disk_gb" -> str(inst, "disk"),
            "__meta_vultr_instance_main_ip" -> str(inst, "main_ip"),
            "__meta_vultr_instance_main_ipv6" -> str(inst, "v6_main_ip"),
            "__meta_vultr_instance_internal_ip" -> str(inst, "internal_ip"),
            "__meta_vultr_instance_hostname" -> str(inst, "hostname"),
            "__meta_vultr_instance_server_status" -> str(inst, "server_status"))
          val features = strs(inst, "features")
          if (features.nonEmpty)
            l += "__meta_vultr_instance_features" -> features.mkString(",", ",", ",")
          val tags = strs(inst, "tags")
          if (tags.nonEmpty)
            l += "__meta_vultr_instance_tags" -> tags.mkString(",", ",", ",")
          targets += ((s"${str(inst, "main_ip")}:${cfg.port}", l))
        }
        cursor = str(map(map(body, "meta"), "links"), "next")
        more = cursor.nonEmpty
      }
      Seq(Discovery.TargetGroup("Vultr", Map.empty, targets.result()))
    }
  }
}
