package graft.streaming

import graft.web.JsonLite
import SdJson._

/** Triton (triton-cmon) service discovery (ref: discovery/triton/triton.go).
  *
  * One GET per refresh against the cmon discover endpoint —
  * `https://{endpoint}:{port}/v{version}/discover` for the container role,
  * `/v{version}/gz/discover` for compute nodes — with an optional
  * `groups` filter. Targets address `{uuid}.{dns_suffix}:{port}`. */
object TritonSd {

  /** triton_sd_configs entry (ref: triton.go SDConfig / DefaultSDConfig:
    * role container, port 9163, version 1, refresh 60s) */
  final case class Config(
      account: String,
      dnsSuffix: String,
      endpoint: String,
      role: String = "container", // container | cn
      groups: Seq[String] = Nil,
      port: Int = 9163,
      version: Int = 1,
      refreshMs: Long = 60000L)

  /** injectable transport; `url` is the full discover URL */
  trait ApiClient { def get(url: String): String }

  final class HttpApiClient extends ApiClient {
    override def get(url: String): String = SdHttp.get("triton", url)
  }

  final class TritonProvider(override val name: String, cfg: Config,
      client: ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) = this(name, cfg, new HttpApiClient)
    override def refreshMs: Long = cfg.refreshMs
    override def refresh(): Seq[Discovery.TargetGroup] = {
      val pathSeg = if (cfg.role == "cn") "gz/discover" else "discover"
      var url = s"https://${cfg.endpoint}:${cfg.port}/v${cfg.version}/$pathSeg"
      if (cfg.groups.nonEmpty)
        url += "?groups=" + java.net.URLEncoder.encode(cfg.groups.mkString(","),
          java.nio.charset.StandardCharsets.UTF_8)
      val body = map(JsonLite.parse(client.get(url)))
      val targets: Seq[(String, Map[String, String])] =
        if (cfg.role == "cn")
          list(body, "cns").map { cn =>
            (s"${str(cn, "server_uuid")}.${cfg.dnsSuffix}:${cfg.port}", Map(
              "__meta_triton_machine_id" -> str(cn, "server_uuid"),
              "__meta_triton_machine_alias" -> str(cn, "server_hostname")))
          }
        else
          list(body, "containers").map { c =>
            var l = Map(
              "__meta_triton_machine_id" -> str(c, "vm_uuid"),
              "__meta_triton_machine_alias" -> str(c, "vm_alias"),
              "__meta_triton_machine_brand" -> str(c, "vm_brand"),
              "__meta_triton_machine_image" -> str(c, "vm_image_uuid"),
              "__meta_triton_server_id" -> str(c, "server_uuid"))
            val groups = strs(c, "groups")
            if (groups.nonEmpty)
              l += "__meta_triton_groups" -> groups.mkString(",", ",", ",")
            (s"${str(c, "vm_uuid")}.${cfg.dnsSuffix}:${cfg.port}", l)
          }
      Seq(Discovery.TargetGroup(url, Map.empty, targets))
    }
  }
}
