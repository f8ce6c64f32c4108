package graft.streaming

import graft.web.JsonLite
import SdJson._

/** Consul service discovery (ref: discovery/consul/consul.go).
  *
  * Architecture divergence, deliberately: the reference holds long-poll
  * blocking queries per watched service (WaitIndex/WaitTime). This engine's
  * discovery manager is cadence-polled, so each refresh LISTs the catalog
  * (`/v1/catalog/services`) and the health entries of every watched service
  * (`/v1/health/service/<name>`) — one consistent snapshot per refresh, the
  * same data the reference's watches deliver incrementally. Target labels
  * (`__meta_consul_*`), address selection (service address over node
  * address), the surrounded tag list, and the health aggregation mirror the
  * reference's `watch` 1:1 so existing relabel configs work unchanged.
  *
  * The HTTP transport is injectable for tests (fake catalog server), like
  * [[KubernetesSd.ApiClient]]. */
object ConsulSd {

  /** consul_sd_configs entry (ref: consul.go SDConfig; defaults: server
    * localhost:8500, tag_separator ",", refresh 30s).
    *
    * `filter` goes to the Catalog API only and `healthFilter` to the Health
    * API only — the reference split them precisely because a catalog
    * expression is not valid health-endpoint syntax and vice versa
    * (consul.go:119-124, watchServices:377 vs watch:507; #18479/#18499).
    * `allowStale` and `nodeMeta` ride on BOTH calls (QueryOptions), and
    * server-side filtering is what keeps a >5k-target catalog poll at
    * kilobytes instead of shipping the whole catalog every refresh. */
  final case class Config(
      server: String = "localhost:8500",
      scheme: String = "http",
      datacenter: String = "",
      namespace: String = "", // Consul Enterprise
      partition: String = "", // Consul Enterprise
      services: Seq[String] = Nil, // empty = every catalog service
      tags: Seq[String] = Nil, // every listed tag must be present
      nodeMeta: Map[String, String] = Map.empty, // desired node metadata
      filter: String = "", // Catalog API filter expression
      healthFilter: String = "", // Health API filter expression
      allowStale: Boolean = false,
      tagSeparator: String = ",",
      token: String = "",
      refreshMs: Long = 30000L)

  trait ApiClient { def get(path: String): String }

  final class HttpApiClient(cfg: Config) extends ApiClient {
    override def get(path: String): String =
      SdHttp.get("consul", s"${cfg.scheme}://${cfg.server}$path",
        if (cfg.token.nonEmpty) Seq("X-Consul-Token" -> cfg.token) else Nil)
  }

  /** ref: consul api AggregatedStatus — any maintenance/critical → critical,
    * else any warning → warning, else passing */
  private def aggregatedStatus(checks: List[J]): String = {
    val statuses = checks.map(c => str(c, "Status"))
    if (statuses.exists(st => st == "critical" || st == "maintenance")) "critical"
    else if (statuses.contains("warning")) "warning"
    else "passing"
  }

  private def hostPort(host: String, port: String): String =
    if (host.contains(":") && !host.startsWith("[")) s"[$host]:$port"
    else s"$host:$port"

  /** one health/service entry → (address, per-target labels)
    * (ref: consul.go:535-590 watch) */
  private def buildTarget(entry: J, cfg: Config, dc: String): (String, Map[String, String]) = {
    val node = map(entry, "Node"); val svc = map(entry, "Service")
    val tags = strs(svc, "Tags")
    // surrounded separator list so relabel regexes need no position cases
    val tagStr = cfg.tagSeparator + tags.mkString(cfg.tagSeparator) + cfg.tagSeparator
    val svcAddr = str(svc, "Address"); val nodeAddr = str(node, "Address")
    val port = str(svc, "Port")
    val addr = hostPort(if (svcAddr.nonEmpty) svcAddr else nodeAddr, port)
    var tl = Map(
      "__meta_consul_address" -> nodeAddr,
      "__meta_consul_node" -> str(node, "Node"),
      "__meta_consul_namespace" -> str(svc, "Namespace"),
      "__meta_consul_partition" -> str(svc, "Partition"),
      "__meta_consul_tags" -> tagStr,
      "__meta_consul_service_address" -> svcAddr,
      "__meta_consul_service_port" -> port,
      "__meta_consul_service_id" -> str(svc, "ID"),
      "__meta_consul_health" -> aggregatedStatus(list(entry, "Checks")))
    map(node, "Meta").foreach { case (k, v) =>
      tl += "__meta_consul_metadata_" + KubernetesSd.sanitize(k) -> str(v) }
    map(svc, "Meta").foreach { case (k, v) =>
      tl += "__meta_consul_service_metadata_" + KubernetesSd.sanitize(k) -> str(v) }
    map(node, "TaggedAddresses").foreach { case (k, v) =>
      tl += "__meta_consul_tagged_address_" + KubernetesSd.sanitize(k) -> str(v) }
    (addr, tl)
  }

  final class ConsulProvider(override val name: String, cfg: Config,
      client: ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) = this(name, cfg, new HttpApiClient(cfg))
    override def refreshMs: Long = cfg.refreshMs
    private def enc(s: String): String =
      java.net.URLEncoder.encode(s, "UTF-8").replace("+", "%20")
    /** shared QueryOptions params (dc/ns/partition/stale/node-meta) plus
      * per-endpoint extras; node-meta repeats one `k:v` pair per entry
      * (the consul api client's encoding), sorted for determinism */
    private def queryString(extra: Seq[(String, String)]): String = {
      val params = Seq.newBuilder[(String, String)]
      if (cfg.datacenter.nonEmpty) params += ("dc" -> cfg.datacenter)
      if (cfg.namespace.nonEmpty) params += ("ns" -> cfg.namespace)
      if (cfg.partition.nonEmpty) params += ("partition" -> cfg.partition)
      if (cfg.allowStale) params += ("stale" -> "")
      cfg.nodeMeta.toSeq.sortBy(_._1).foreach { case (k, v) =>
        params += ("node-meta" -> s"$k:$v") }
      params ++= extra
      val all = params.result()
      if (all.isEmpty) ""
      else "?" + all.map { case (k, v) =>
        if (v.isEmpty) enc(k) else enc(k) + "=" + enc(v) }.mkString("&")
    }
    override def refresh(): Seq[Discovery.TargetGroup] = {
      // catalog LIST carries `filter` (NOT health_filter — #18499's exact
      // regression was crossing the two)
      val catalogQ = queryString(
        if (cfg.filter.nonEmpty) Seq("filter" -> cfg.filter) else Nil)
      // catalog map: service name → tags (ref: watchServices shouldWatch)
      val catalog = map(JsonLite.parse(
        client.get(s"/v1/catalog/services$catalogQ")))
      val watched = catalog.filter { case (svcName, svcTags) =>
        (cfg.services.isEmpty || cfg.services.contains(svcName)) &&
        cfg.tags.forall(strs(svcTags).contains)
      }.keys.toSeq.sorted
      // health queries carry `health_filter` plus the server-side tag set
      // (ref watch:507 ServiceMultipleTags — one `tag` param per entry)
      val healthQ = queryString(
        cfg.tags.map("tag" -> _) ++
        (if (cfg.healthFilter.nonEmpty) Seq("filter" -> cfg.healthFilter)
         else Nil))
      watched.map { svcName =>
        val entries = list(JsonLite.parse(
          client.get(s"/v1/health/service/$svcName$healthQ")))
        // per-target tag filter too: a node of a watched service may lack
        // the required tag (ref: ServiceMultipleTags server-side filter)
        val matching = entries.filter { e =>
          val ts = strs(map(e, "Service"), "Tags")
          cfg.tags.forall(ts.contains)
        }
        Discovery.TargetGroup(svcName,
          Map("__meta_consul_service" -> svcName,
              "__meta_consul_dc" -> cfg.datacenter),
          matching.map(buildTarget(_, cfg, cfg.datacenter)))
      }
    }
  }
}
