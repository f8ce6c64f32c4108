package graft.streaming

import graft.web.JsonLite
import SdJson._

/** GCE service discovery (ref: discovery/gce/gce.go).
  *
  * Poll-based like [[KubernetesSd]]/[[Ec2Sd]]: each refresh LISTs
  * `compute/v1/projects/{project}/zones/{zone}/instances` (paginated JSON)
  * and builds one target group per (project, zone) with the reference's
  * `__meta_gce_*` labels — address = primary interface IP : port, instances
  * without interfaces skipped, tags as a surrounded separator list,
  * metadata/labels sanitized per key. The production client authenticates
  * with the instance metadata-server token (the in-cluster default the
  * reference's google.DefaultClient resolves to); tests inject a fake
  * transport returning canned InstanceList JSON. */
object GceSd {

  /** gce_sd_configs entry (ref: gce.go SDConfig; defaults port 80,
    * tag_separator ",", refresh 60s) */
  final case class Config(
      project: String,
      zone: String,
      port: Int = 80,
      tagSeparator: String = ",",
      endpoint: String = "", // override for testing
      refreshMs: Long = 60000L)

  /** injectable LIST transport; returns InstanceList JSON */
  trait ApiClient { def listInstances(pageToken: Option[String]): String }

  final class HttpApiClient(cfg: Config) extends ApiClient {
    private val base =
      (if (cfg.endpoint.nonEmpty) cfg.endpoint.stripSuffix("/")
       else "https://compute.googleapis.com/compute/v1") +
      s"/projects/${cfg.project}/zones/${cfg.zone}/instances"
    private val tokenUrl = "http://metadata.google.internal/computeMetadata/v1" +
      "/instance/service-accounts/default/token"
    /** metadata-server access token (GCE-internal default credentials) */
    private def token(): String = {
      val req = SdHttp.request(tokenUrl, Seq("Metadata-Flavor" -> "Google"))
        .timeout(java.time.Duration.ofSeconds(5)).GET().build()
      str(map(JsonLite.parse(SdHttp.exchange("gce", req).body())), "access_token")
    }
    override def listInstances(pageToken: Option[String]): String =
      SdHttp.get("gce", base + pageToken.map(t =>
        "?pageToken=" + java.net.URLEncoder.encode(t, "UTF-8")).getOrElse(""),
        SdHttp.bearer(token()))
  }

  private def buildInstance(inst: J, cfg: Config): Option[(String, Map[String, String])] = {
    val ifaces = list(inst, "networkInterfaces")
    if (ifaces.isEmpty) return None
    val pri = ifaces.head
    var l = Map(
      "__meta_gce_project" -> cfg.project,
      "__meta_gce_zone" -> str(inst, "zone"),
      "__meta_gce_instance_id" -> str(inst, "id"),
      "__meta_gce_instance_name" -> str(inst, "name"),
      "__meta_gce_instance_status" -> str(inst, "status"),
      "__meta_gce_machine_type" -> str(inst, "machineType"),
      "__meta_gce_network" -> str(pri, "network"),
      "__meta_gce_subnetwork" -> str(pri, "subnetwork"),
      "__meta_gce_private_ip" -> str(pri, "networkIP"))
    ifaces.foreach { f =>
      l += "__meta_gce_interface_ipv4_" + KubernetesSd.sanitize(str(f, "name")) ->
        str(f, "networkIP")
    }
    val tags = strs(map(inst, "tags"), "items")
    if (tags.nonEmpty)
      l += "__meta_gce_tags" -> tags.mkString(cfg.tagSeparator,
        cfg.tagSeparator, cfg.tagSeparator)
    list(map(inst, "metadata"), "items")
      .foreach { i =>
        val v = i.getOrElse("value", null)
        if (v != null)
          l += "__meta_gce_metadata_" + KubernetesSd.sanitize(str(i, "key")) -> str(v)
      }
    map(inst, "labels").foreach { case (k, v) =>
      l += "__meta_gce_label_" + KubernetesSd.sanitize(k) -> str(v) }
    list(pri, "accessConfigs").headOption.foreach { ac =>
      if (str(ac, "type") == "ONE_TO_ONE_NAT")
        l += "__meta_gce_public_ip" -> str(ac, "natIP")
    }
    Some((s"${str(pri, "networkIP")}:${cfg.port}", l))
  }

  final class GceProvider(override val name: String, cfg: Config,
      client: ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) = this(name, cfg, new HttpApiClient(cfg))
    override def refreshMs: Long = cfg.refreshMs
    override def refresh(): Seq[Discovery.TargetGroup] = {
      val targets = Seq.newBuilder[(String, Map[String, String])]
      var token: Option[String] = None
      var more = true
      while (more) {
        val page = map(JsonLite.parse(client.listInstances(token)))
        list(page, "items")
          .foreach(inst => buildInstance(inst, cfg).foreach(targets += _))
        val next = str(page, "nextPageToken")
        token = if (next.nonEmpty) Some(next) else None
        more = token.isDefined
      }
      Seq(Discovery.TargetGroup(s"GCE_${cfg.project}_${cfg.zone}",
        Map.empty, targets.result()))
    }
  }
}
