package graft.streaming

import graft.web.{Json, JsonLite}
import SdJson._

/** Kuma MADS (xDS v3) service discovery (ref: discovery/xds/xds.go,
  * client.go, kuma.go).
  *
  * Each refresh POSTs a protoJSON DiscoveryRequest to
  * `{server}/v3/discovery:monitoringassignments?fetch-timeout=...`,
  * carrying the last seen versionInfo/nonce; a 304 or empty response means
  * "no change" and the previous target set is kept. Each
  * kuma.observability.v1.MonitoringAssignment resource contributes one
  * target per dataplane with mesh/service/dataplane meta labels, user
  * labels under `__meta_kuma_label_*`, and the special `__scheme__` /
  * `__metrics_path__` labels the reference sets from the MADS target. */
object KumaSd {

  val resourceTypeUrl = "type.googleapis.com/kuma.observability.v1.MonitoringAssignment"

  /** kuma_sd_configs entry (ref: kuma.go DefaultKumaSDConfig: refresh 15s,
    * fetch_timeout 2m; client_id defaults to the FQDN) */
  final case class Config(
      server: String,
      clientId: String = "",
      fetchTimeoutMs: Long = 120000L,
      refreshMs: Long = 15000L)

  /** injectable transport: one DiscoveryRequest POST; returns the response
    * body, or None on 304 Not Modified */
  trait ApiClient { def fetch(body: String): Option[String] }

  final class HttpApiClient(cfg: Config) extends ApiClient {
    private val url = cfg.server.stripSuffix("/") +
      "/v3/discovery:monitoringassignments?fetch-timeout=" +
      java.net.URLEncoder.encode(s"${cfg.fetchTimeoutMs / 1000}s",
        java.nio.charset.StandardCharsets.UTF_8)
    /** a long poll: the server holds the request up to the fetch timeout */
    override def fetch(body: String): Option[String] = {
      val resp = SdHttp.exchange("kuma",
        SdHttp.request(url, Seq("Content-Type" -> "application/json"))
          .timeout(java.time.Duration.ofMillis(cfg.fetchTimeoutMs + 15000))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
        ok = s => s == 200 || s == 304)
      if (resp.statusCode() == 304) None else Some(resp.body())
    }
  }

  /** protoJSON emits lowerCamel but accepts original names — read both */
  private def s(o: J, camel: String, snake: String = ""): String = {
    val v = str(o, camel)
    if (v.nonEmpty || snake.isEmpty) v else str(o, snake)
  }

  final class KumaProvider(override val name: String, cfg: Config,
      client: ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) = this(name, cfg, new HttpApiClient(cfg))
    override def refreshMs: Long = cfg.refreshMs
    private var latestVersion = ""
    private var latestNonce = ""
    private var lastTargets: Seq[(String, Map[String, String])] = Nil

    override def refresh(): Seq[Discovery.TargetGroup] = {
      def q(x: String) = "\"" + Json.escape(x) + "\""
      val clientId = if (cfg.clientId.nonEmpty) cfg.clientId else "prometheus"
      val req = s"""{"versionInfo":${q(latestVersion)},""" +
        s""""responseNonce":${q(latestNonce)},""" +
        s""""typeUrl":${q(resourceTypeUrl)},"resourceNames":[],""" +
        s""""node":{"id":${q(clientId)}}}"""
      client.fetch(req) match {
        case None => () // 304: keep the previous target set
        case Some(body) =>
          val resp = map(JsonLite.parse(body))
          val typeUrl = s(resp, "typeUrl", "type_url")
          if (typeUrl.nonEmpty && typeUrl != resourceTypeUrl)
            throw new IllegalStateException(
              s"received invalid typeURL for Kuma MADS v1 Resource: $typeUrl")
          latestNonce = s(resp, "nonce")
          latestVersion = s(resp, "versionInfo", "version_info")
          lastTargets = list(resp, "resources").flatMap { res =>
            def userLabels(o: J): Map[String, String] =
              map(o, "labels").map { case (k, v) =>
                "__meta_kuma_label_" + KubernetesSd.sanitize(k) -> str(v) }
            val common = userLabels(res) ++ Map(
              "__meta_kuma_mesh" -> s(res, "mesh"),
              "__meta_kuma_service" -> s(res, "service"))
            list(res, "targets").map { t =>
              // assignment-level user labels win over target-level ones
              // (ref kuma.go:118 target.Merge(commonLabels))
              val l = userLabels(t) ++ common ++ Map(
                "__meta_kuma_dataplane" -> s(t, "name"),
                "instance" -> s(t, "name"),
                "__scheme__" -> s(t, "scheme"),
                "__metrics_path__" -> s(t, "metricsPath", "metrics_path"))
              (s(t, "address"), l)
            }
          }
      }
      Seq(Discovery.TargetGroup(cfg.server, Map.empty, lastTargets))
    }
  }
}
