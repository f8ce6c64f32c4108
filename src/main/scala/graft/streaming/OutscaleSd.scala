package graft.streaming

import graft.web.{Json, JsonLite}
import SdJson._

/** Outscale (3DS OUTSCALE) service discovery (ref: discovery/outscale/
  * outscale.go + vm.go).
  *
  * Paginated `POST /api/v1/ReadVms` per refresh — one target per VM at
  * private ip (public fallback) : port with the `__meta_outscale_vm_*`
  * labels; address-less VMs are skipped. The OAPI signs requests with the
  * AWS SigV4 process (service `oapi`), reused from [[Ec2Sd.SigV4]]. */
object OutscaleSd {

  /** outscale_sd_configs entry (ref: outscale.go SDConfig; port 80,
    * refresh 60s, endpoint api.{region}.outscale.com) */
  final case class Config(
      region: String,
      accessKey: String = "",
      secretKey: String = "",
      secretKeyFile: String = "",
      endpoint: String = "",
      port: Int = 80,
      refreshMs: Long = 60000L)

  /** injectable transport; posts one ReadVms body, returns JSON */
  trait ApiClient { def readVms(nextPageToken: Option[String]): String }

  final class HttpApiClient(cfg: Config) extends ApiClient {
    private val host =
      if (cfg.endpoint.nonEmpty) java.net.URI.create(cfg.endpoint).getHost
      else s"api.${cfg.region}.outscale.com"
    private val base =
      if (cfg.endpoint.nonEmpty) cfg.endpoint.stripSuffix("/")
      else s"https://$host/api/v1"
    override def readVms(nextPageToken: Option[String]): String = {
      val body = nextPageToken
        .map(t => s"""{"NextPageToken":"${Json.escape(t)}"}""")
        .getOrElse("{}")
      SdHttp.post("outscale", base + "/ReadVms", body,
        Ec2Sd.SigV4.headers(cfg.accessKey, SdHttp.secret(cfg.secretKey, cfg.secretKeyFile),
          cfg.region, "oapi", host, body, java.time.Instant.now(),
          contentType = "application/json"),
        accept = "")
    }
  }

  final class OutscaleProvider(override val name: String, cfg: Config,
      client: ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) = this(name, cfg, new HttpApiClient(cfg))
    override def refreshMs: Long = cfg.refreshMs
    override def refresh(): Seq[Discovery.TargetGroup] = {
      val targets = Seq.newBuilder[(String, Map[String, String])]
      var token: Option[String] = None
      var more = true
      while (more) {
        val body = map(JsonLite.parse(client.readVms(token)))
        list(body, "Vms").foreach { vm =>
          // private ip first, public fallback; neither → skip (ref vm.go:95-103)
          val priv = str(vm, "PrivateIp"); val pub = str(vm, "PublicIp")
          val host = if (priv.nonEmpty) priv else pub
          if (host.nonEmpty) {
            var l = Map(
              "__meta_outscale_vm_instance_id" -> str(vm, "VmId"),
              "__meta_outscale_vm_region" -> cfg.region,
              "__meta_outscale_vm_state" -> str(vm, "State"))
            val sub = str(map(vm, "Placement"), "SubregionName")
            if (sub.nonEmpty) l += "__meta_outscale_vm_subregion" -> sub
            if (priv.nonEmpty) l += "__meta_outscale_vm_private_ip" -> priv
            if (pub.nonEmpty) l += "__meta_outscale_vm_public_ip" -> pub
            list(vm, "Tags").foreach { t =>
              val k = str(t, "Key")
              if (k.nonEmpty)
                l += "__meta_outscale_vm_tag_" + KubernetesSd.sanitize(k) -> str(t, "Value")
            }
            targets += ((s"$host:${cfg.port}", l))
          }
        }
        token = Some(str(body, "NextPageToken")).filter(_.nonEmpty)
        more = token.isDefined
      }
      Seq(Discovery.TargetGroup("outscale", Map.empty, targets.result()))
    }
  }
}
