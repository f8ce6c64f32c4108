package graft.streaming

import graft.web.JsonLite
import SdJson._

/** Nomad service discovery (ref: discovery/nomad/nomad.go).
  *
  * Per refresh: `GET /v1/services` lists service stubs per namespace, then
  * `GET /v1/service/{name}` resolves each service's registrations — one
  * target per registration at address:port with the `__meta_nomad_*` label
  * set and the surrounded tag list. */
object NomadSd {

  /** nomad_sd_configs entry (ref: nomad.go SDConfig / DefaultSDConfig:
    * server http://localhost:4646, namespace default, region global,
    * allow_stale true, tag_separator ",", refresh 60s) */
  final case class Config(
      server: String = "http://localhost:4646",
      namespace: String = "default",
      region: String = "global",
      allowStale: Boolean = true,
      tagSeparator: String = ",",
      refreshMs: Long = 60000L)

  /** injectable transport; `path` includes the query */
  trait ApiClient { def get(path: String): String }

  final class HttpApiClient(cfg: Config) extends ApiClient {
    override def get(path: String): String =
      SdHttp.get("nomad", cfg.server.stripSuffix("/") + path)
  }

  final class NomadProvider(override val name: String, cfg: Config,
      client: ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) = this(name, cfg, new HttpApiClient(cfg))
    override def refreshMs: Long = cfg.refreshMs
    private def query: String = {
      val ps = Seq("namespace" -> cfg.namespace, "region" -> cfg.region)
        .filter(_._2.nonEmpty)
        .map { case (k, v) =>
          k + "=" + java.net.URLEncoder.encode(v, java.nio.charset.StandardCharsets.UTF_8) } ++
        (if (cfg.allowStale) Seq("stale=") else Nil)
      if (ps.isEmpty) "" else "?" + ps.mkString("&")
    }
    override def refresh(): Seq[Discovery.TargetGroup] = {
      val stubs = list(JsonLite.parse(client.get("/v1/services" + query)))
      val targets = for {
        stub <- stubs
        svc <- list(stub, "Services")
        reg <- list(JsonLite.parse(client.get(
          "/v1/service/" + java.net.URLEncoder.encode(str(svc, "ServiceName"),
            java.nio.charset.StandardCharsets.UTF_8) + query)))
      } yield {
        val addr = str(reg, "Address"); val port = str(reg, "Port")
        var l = Map(
          "__meta_nomad_address" -> addr,
          "__meta_nomad_dc" -> str(reg, "Datacenter"),
          "__meta_nomad_node_id" -> str(reg, "NodeID"),
          "__meta_nomad_namespace" -> str(reg, "Namespace"),
          "__meta_nomad_service" -> str(reg, "ServiceName"),
          "__meta_nomad_service_address" -> addr,
          "__meta_nomad_service_id" -> str(reg, "ID"),
          "__meta_nomad_service_port" -> port)
        val tags = strs(reg, "Tags")
        if (tags.nonEmpty)
          l += "__meta_nomad_tags" -> tags.mkString(cfg.tagSeparator,
            cfg.tagSeparator, cfg.tagSeparator)
        (s"$addr:$port", l)
      }
      Seq(Discovery.TargetGroup("Nomad", Map.empty, targets))
    }
  }
}
