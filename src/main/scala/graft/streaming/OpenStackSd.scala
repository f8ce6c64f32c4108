package graft.streaming

import graft.web.{Json, JsonLite}
import SdJson._

/** OpenStack service discovery (ref: discovery/openstack/openstack.go;
  * hypervisor.go, instance.go, loadbalancer.go per role).
  *
  * The production transport authenticates against Keystone v3 (password or
  * application-credential, the two methods the reference's gophercloud
  * AuthOptions cover), caches the subject token, and resolves per-service
  * endpoints from the catalog entry matching the configured region and
  * availability (interface). Each refresh then LISTs:
  *   - hypervisor:   compute `/os-hypervisors/detail`
  *   - instance:     network `/v2.0/ports` + `/v2.0/floatingips`, compute
  *                   `/servers/detail` (floating IPs are skipped as targets
  *                   and surfaced as `__meta_openstack_public_ip` on their
  *                   fixed address, ref instance.go:118-236)
  *   - loadbalancer: load-balancer `/v2.0/lbaas/{listeners,loadbalancers}` +
  *                   network floating IPs; only LBs with a PROMETHEUS
  *                   listener become targets (ref loadbalancer.go:150-168)
  * Standard `*_links` rel=next pagination is followed on every LIST. */
object OpenStackSd {

  /** openstack_sd_configs entry (ref: openstack.go SDConfig; defaults
    * port 80, refresh 60s, availability public) */
  final case class Config(
      role: String, // hypervisor | instance | loadbalancer
      region: String,
      identityEndpoint: String = "",
      username: String = "",
      userid: String = "",
      password: String = "",
      domainName: String = "",
      domainId: String = "",
      projectName: String = "",
      projectId: String = "",
      applicationCredentialName: String = "",
      applicationCredentialId: String = "",
      applicationCredentialSecret: String = "",
      allTenants: Boolean = false,
      availability: String = "public",
      port: Int = 80,
      refreshMs: Long = 60000L)

  /** injectable transport: GET `path` (query included) against the endpoint
    * of `service` ("compute" | "network" | "load-balancer") from the
    * Keystone catalog; throws on failure */
  trait ApiClient { def get(service: String, path: String): String }

  final class HttpApiClient(cfg: Config) extends ApiClient {
    @volatile private var token: String = ""
    @volatile private var catalog: Map[String, String] = Map.empty

    /** Keystone v3 auth/tokens request body (ref: gophercloud AuthOptions —
      * password or application_credential methods) */
    private def authBody(): String = {
      def q(s: String) = "\"" + Json.escape(s) + "\""
      def domain(): String =
        if (cfg.domainId.nonEmpty) s"""{"id":${q(cfg.domainId)}}"""
        else s"""{"name":${q(cfg.domainName)}}"""
      val identity =
        if (cfg.applicationCredentialId.nonEmpty || cfg.applicationCredentialName.nonEmpty) {
          val cred =
            if (cfg.applicationCredentialId.nonEmpty)
              s"""{"id":${q(cfg.applicationCredentialId)},"secret":${q(cfg.applicationCredentialSecret)}}"""
            else
              s"""{"name":${q(cfg.applicationCredentialName)},
                 |"user":{"name":${q(cfg.username)},"domain":${domain()}},
                 |"secret":${q(cfg.applicationCredentialSecret)}}""".stripMargin.replace("\n", "")
          s"""{"methods":["application_credential"],"application_credential":$cred}"""
        } else {
          val user =
            if (cfg.userid.nonEmpty) s"""{"id":${q(cfg.userid)},"password":${q(cfg.password)}}"""
            else s"""{"name":${q(cfg.username)},"domain":${domain()},"password":${q(cfg.password)}}"""
          s"""{"methods":["password"],"password":{"user":$user}}"""
        }
      val scope =
        if (cfg.projectId.nonEmpty) s""","scope":{"project":{"id":${q(cfg.projectId)}}}"""
        else if (cfg.projectName.nonEmpty)
          s""","scope":{"project":{"name":${q(cfg.projectName)},"domain":${domain()}}}"""
        else ""
      s"""{"auth":{"identity":$identity$scope}}"""
    }

    private def authenticate(): Unit = {
      val url = cfg.identityEndpoint.stripSuffix("/") match {
        case u if u.endsWith("/v3") => u + "/auth/tokens"
        case u => u + "/v3/auth/tokens"
      }
      val resp = SdHttp.exchange("openstack", SdHttp.request(url,
          Seq("Content-Type" -> "application/json"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(authBody())).build(),
        ok = SdHttp.any2xx)
      token = resp.headers().firstValue("X-Subject-Token").orElse("")
      // catalog: service type → endpoint url for (region, interface)
      catalog = list(map(map(JsonLite.parse(resp.body())), "token"), "catalog")
        .flatMap { svc =>
          list(svc, "endpoints")
            .find(e => str(e, "interface") == cfg.availability &&
              (cfg.region.isEmpty || str(e, "region") == cfg.region))
            .map(e => str(svc, "type") -> str(e, "url"))
        }.toMap
    }

    override def get(service: String, path: String): String = {
      if (token.isEmpty) authenticate()
      def once(): String = {
        val base = catalog.getOrElse(service, throw new IllegalStateException(
          s"openstack sd: no '$service' endpoint for region '${cfg.region}' in the catalog"))
        SdHttp.get("openstack", base.stripSuffix("/") + path,
          Seq("X-Auth-Token" -> token), ok = SdHttp.any2xx)
      }
      try once()
      catch { // token expired: authenticate again, once
        case e: SdHttp.StatusError if e.status == 401 => authenticate(); once()
      }
    }
  }

  /** accumulate `key` items across `key_links` rel=next pages */
  private def listAll(client: ApiClient, service: String, path: String,
      key: String): List[J] = {
    val out = List.newBuilder[J]
    var next = path
    while (next.nonEmpty) {
      val body = map(JsonLite.parse(client.get(service, next)))
      out ++= list(body, key)
      next = list(body, key + "_links")
        .find(l => str(l, "rel") == "next")
        .map { l =>
          val u = java.net.URI.create(str(l, "href"))
          u.getRawPath + Option(u.getRawQuery).map("?" + _).getOrElse("")
        }.getOrElse("")
    }
    out.result()
  }

  /** ref hypervisor.go:73-97 */
  private def hypervisorTargets(client: ApiClient, port: Int): Seq[(String, Map[String, String])] =
    listAll(client, "compute", "/os-hypervisors/detail", "hypervisors").map { h =>
      (s"${str(h, "host_ip")}:$port", Map(
        "__meta_openstack_hypervisor_id" -> str(h, "id"),
        "__meta_openstack_hypervisor_hostname" -> str(h, "hypervisor_hostname"),
        "__meta_openstack_hypervisor_host_ip" -> str(h, "host_ip"),
        "__meta_openstack_hypervisor_status" -> str(h, "status"),
        "__meta_openstack_hypervisor_state" -> str(h, "state"),
        "__meta_openstack_hypervisor_type" -> str(h, "hypervisor_type")))
    }

  /** ref instance.go:103-240 */
  private def instanceTargets(client: ApiClient, port: Int,
      allTenants: Boolean): Seq[(String, Map[String, String])] = {
    // port id → device id, then (device, fixed ip) → floating ip
    val devByPort = listAll(client, "network", "/v2.0/ports", "ports")
      .map(p => str(p, "id") -> str(p, "device_id")).toMap
    val fips = listAll(client, "network", "/v2.0/floatingips", "floatingips")
    val floatingByFixed = fips.flatMap { f =>
      val portId = str(f, "port_id"); val fixed = str(f, "fixed_ip_address")
      if (portId.isEmpty || fixed.isEmpty) None
      else devByPort.get(portId).map(dev => (dev, fixed) -> str(f, "floating_ip_address"))
    }.toMap
    val floatingPresent = fips.map(str(_, "floating_ip_address")).filter(_.nonEmpty).toSet
    val query = if (allTenants) "?all_tenants=true" else ""
    listAll(client, "compute", s"/servers/detail$query", "servers").flatMap { sv =>
      val addresses = map(sv, "addresses")
      if (addresses.isEmpty) Nil
      else {
        val flavor = map(sv, "flavor")
        // original_name for microversion >= 2.47, else id (ref instance.go:187-198)
        val flavorName =
          if (str(flavor, "original_name").nonEmpty) str(flavor, "original_name")
          else str(flavor, "id")
        if (flavorName.isEmpty) Nil
        else {
          var base = Map(
            "__meta_openstack_instance_id" -> str(sv, "id"),
            "__meta_openstack_instance_status" -> str(sv, "status"),
            "__meta_openstack_instance_name" -> str(sv, "name"),
            "__meta_openstack_project_id" -> str(sv, "tenant_id"),
            "__meta_openstack_user_id" -> str(sv, "user_id"),
            "__meta_openstack_instance_flavor" -> flavorName)
          val imageId = str(map(sv, "image"), "id")
          if (imageId.nonEmpty) base += "__meta_openstack_instance_image" -> imageId
          map(sv, "metadata").foreach { case (k, v) =>
            base += "__meta_openstack_tag_" + KubernetesSd.sanitize(k) -> str(v) }
          addresses.toSeq.flatMap { case (pool, poolAddrs) =>
            list(poolAddrs).flatMap { a =>
              val addr = str(a, "addr")
              if (addr.isEmpty || floatingPresent.contains(addr)) None
              else {
                var l = base +
                  ("__meta_openstack_address_pool" -> pool) +
                  ("__meta_openstack_private_ip" -> addr)
                floatingByFixed.get((str(sv, "id"), addr))
                  .foreach(f => l += "__meta_openstack_public_ip" -> f)
                Some((s"$addr:$port", l))
              }
            }
          }
        }
      }
    }
  }

  /** ref loadbalancer.go:93-193 — only LBs with a PROMETHEUS listener */
  private def loadbalancerTargets(client: ApiClient): Seq[(String, Map[String, String])] = {
    val listenersByLb = listAll(client, "load-balancer", "/v2.0/lbaas/listeners", "listeners")
      .flatMap(li => list(li, "loadbalancers").map(lb => str(lb, "id") -> li))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val floatingByPort = listAll(client, "network", "/v2.0/floatingips", "floatingips")
      .filter(f => str(f, "port_id").nonEmpty)
      .map(f => str(f, "port_id") -> str(f, "floating_ip_address")).toMap
    listAll(client, "load-balancer", "/v2.0/lbaas/loadbalancers", "loadbalancers").flatMap { lb =>
      listenersByLb.getOrElse(str(lb, "id"), Nil)
        .find(li => str(li, "protocol") == "PROMETHEUS")
        .map { li =>
          var l = Map(
            "__meta_openstack_loadbalancer_id" -> str(lb, "id"),
            "__meta_openstack_loadbalancer_name" -> str(lb, "name"),
            "__meta_openstack_loadbalancer_operating_status" -> str(lb, "operating_status"),
            "__meta_openstack_loadbalancer_provisioning_status" -> str(lb, "provisioning_status"),
            "__meta_openstack_loadbalancer_availability_zone" -> str(lb, "availability_zone"),
            "__meta_openstack_loadbalancer_vip" -> str(lb, "vip_address"),
            "__meta_openstack_loadbalancer_provider" -> str(lb, "provider"),
            "__meta_openstack_project_id" -> str(lb, "project_id"))
          val tags = strs(lb, "tags")
          if (tags.nonEmpty) l += "__meta_openstack_loadbalancer_tags" -> tags.mkString(",")
          floatingByPort.get(str(lb, "vip_port_id"))
            .foreach(f => l += "__meta_openstack_loadbalancer_floating_ip" -> f)
          (s"${str(lb, "vip_address")}:${str(li, "protocol_port")}", l)
        }
    }
  }

  final class OpenStackProvider(override val name: String, cfg: Config,
      client: ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) = this(name, cfg, new HttpApiClient(cfg))
    override def refreshMs: Long = cfg.refreshMs
    override def refresh(): Seq[Discovery.TargetGroup] = {
      val targets = cfg.role match {
        case "hypervisor" => hypervisorTargets(client, cfg.port)
        case "instance" => instanceTargets(client, cfg.port, cfg.allTenants)
        case "loadbalancer" => loadbalancerTargets(client)
        case other => throw new IllegalArgumentException(s"unknown openstack role $other")
      }
      Seq(Discovery.TargetGroup("OS_" + cfg.region, Map.empty, targets))
    }
  }
}
