package graft.streaming

import graft.web.JsonLite
import SdJson._

/** Scaleway service discovery (ref: discovery/scaleway/scaleway.go;
  * instance.go for the instance role, baremetal.go for baremetal).
  *
  * instance: pages `GET /instance/v1/zones/{zone}/servers` (X-Auth-Token);
  * the address ladder mirrors instance.go:173-235 — last of ipv6 /
  * public_ip / private_ip wins (private preferred), servers with no
  * address are skipped. baremetal: `/baremetal/v1/zones/{zone}/servers`
  * joined against offers and OS lists for type/os labels. Fully-private
  * instance servers (no public/ipv6/private address) resolve their
  * private-NIC IPs through one regional IPAM LIST filtered to exactly
  * those NICs (ref instance.go privateNICIPs). */
object ScalewaySd {

  /** scaleway_sd_configs entry (ref: scaleway.go SDConfig; port 80,
    * refresh 60s, zone fr-par-1) */
  final case class Config(
      role: String, // instance | baremetal
      projectId: String = "",
      secretKey: String = "",
      secretKeyFile: String = "",
      zone: String = "fr-par-1",
      port: Int = 80,
      nameFilter: String = "",
      tagsFilter: Seq[String] = Nil,
      apiUrl: String = "https://api.scaleway.com",
      refreshMs: Long = 60000L)

  /** injectable transport; `path` includes the query */
  trait ApiClient { def get(path: String): String }

  final class HttpApiClient(cfg: Config) extends ApiClient {
    override def get(path: String): String =
      SdHttp.get("scaleway", cfg.apiUrl.stripSuffix("/") + path,
        Seq("X-Auth-Token" -> SdHttp.secret(cfg.secretKey, cfg.secretKeyFile)))
  }

  /** zone → region (ref scw.Zone.Region: strip the trailing -N) */
  private def regionOf(zone: String): String =
    zone.reverse.dropWhile(_.isDigit).reverse.stripSuffix("-")

  private def filterQuery(cfg: Config): String = {
    val ps = (if (cfg.nameFilter.nonEmpty)
        Seq("name=" + java.net.URLEncoder.encode(cfg.nameFilter,
          java.nio.charset.StandardCharsets.UTF_8)) else Nil) ++
      cfg.tagsFilter.map(t => "tags=" + java.net.URLEncoder.encode(t,
        java.nio.charset.StandardCharsets.UTF_8))
    ps.map("&" + _).mkString
  }

  private def listAll(client: ApiClient, base: String, key: String,
      extraQuery: String): List[J] = {
    val out = List.newBuilder[J]
    var page = 1
    var more = true
    while (more) {
      val items = list(map(JsonLite.parse(
        client.get(s"$base?page=$page&per_page=50$extraQuery"))), key)
      out ++= items
      more = items.size == 50
      page += 1
    }
    out.result()
  }

  /** fully-private servers (no public_ip/ipv6/private_ip): resolve their
    * private-NIC IPs with ONE regional IPAM LIST filtered to those NICs
    * (ref instance.go:241-279 privateNICIPs) */
  private def privateNicIps(client: ApiClient, cfg: Config,
      servers: List[J]): Map[String, String] = {
    val nicIds = servers.filter { sv =>
      map(sv, "public_ip").isEmpty && map(sv, "ipv6").isEmpty &&
        { val p = str(sv, "private_ip"); p.isEmpty || p == "null" }
    }.flatMap(sv => list(sv, "private_nics").map(str(_, "id")))
      .filter(_.nonEmpty)
    if (nicIds.isEmpty) Map.empty
    else {
      val q = nicIds.map(id => "&resource_ids=" + java.net.URLEncoder.encode(id,
          java.nio.charset.StandardCharsets.UTF_8)).mkString +
        "&resource_type=instance_private_nic"
      listAll(client, s"/ipam/v1/regions/${regionOf(cfg.zone)}/ips", "ips", q)
        .flatMap { ip =>
          val addr = str(ip, "address").split("/")(0)
          val rid = str(map(ip, "resource"), "id")
          if (rid.nonEmpty && addr.nonEmpty && !addr.contains(":") &&
              !bool(ip, "is_ipv6"))
            Some(rid -> addr)
          else None
        }.toMap
    }
  }

  /** ref instance.go:107-239 */
  private def instanceTargets(client: ApiClient, cfg: Config): Seq[(String, Map[String, String])] = {
    val servers = listAll(client, s"/instance/v1/zones/${cfg.zone}/servers",
      "servers", filterQuery(cfg))
    val nicIp = privateNicIps(client, cfg, servers)
    servers.flatMap { sv =>
      var l = Map(
        "__meta_scaleway_instance_boot_type" -> str(sv, "boot_type"),
        "__meta_scaleway_instance_hostname" -> str(sv, "hostname"),
        "__meta_scaleway_instance_id" -> str(sv, "id"),
        "__meta_scaleway_instance_name" -> str(sv, "name"),
        "__meta_scaleway_instance_organization_id" -> str(sv, "organization"),
        "__meta_scaleway_instance_project_id" -> str(sv, "project"),
        "__meta_scaleway_instance_status" -> str(sv, "state"),
        "__meta_scaleway_instance_type" -> str(sv, "commercial_type"),
        "__meta_scaleway_instance_zone" -> cfg.zone,
        "__meta_scaleway_instance_region" -> regionOf(cfg.zone))
      val img = map(sv, "image")
      if (img.nonEmpty) l ++= Map(
        "__meta_scaleway_instance_image_arch" -> str(img, "arch"),
        "__meta_scaleway_instance_image_id" -> str(img, "id"),
        "__meta_scaleway_instance_image_name" -> str(img, "name"))
      val loc = map(sv, "location")
      if (loc.nonEmpty) l ++= Map(
        "__meta_scaleway_instance_location_cluster_id" -> str(loc, "cluster_id"),
        "__meta_scaleway_instance_location_hypervisor_id" -> str(loc, "hypervisor_id"),
        "__meta_scaleway_instance_location_node_id" -> str(loc, "node_id"))
      val sg = map(sv, "security_group")
      if (sg.nonEmpty) l ++= Map(
        "__meta_scaleway_instance_security_group_id" -> str(sg, "id"),
        "__meta_scaleway_instance_security_group_name" -> str(sg, "name"))
      val tags = strs(sv, "tags")
      if (tags.nonEmpty)
        l += "__meta_scaleway_instance_tags" -> tags.mkString(",", ",", ",")
      // public ip address lists (ref instance.go:174-199)
      val pubIps = list(sv, "public_ips")
      val (v4s, v6s) = pubIps.partition(ip => str(ip, "family") != "inet6")
      if (v4s.nonEmpty)
        l += "__meta_scaleway_instance_public_ipv4_addresses" ->
          v4s.map(str(_, "address")).mkString(",", ",", ",")
      if (v6s.nonEmpty)
        l += "__meta_scaleway_instance_public_ipv6_addresses" ->
          v6s.map(str(_, "address")).mkString(",", ",", ",")
      // address ladder: ipv6 → public_ip (v4 label only when not inet6) →
      // private_ip; last assignment wins (ref instance.go:201-216)
      var addr = ""
      val ipv6 = map(sv, "ipv6")
      if (ipv6.nonEmpty && str(ipv6, "address").nonEmpty) {
        l += "__meta_scaleway_instance_public_ipv6" -> str(ipv6, "address")
        addr = str(ipv6, "address")
      }
      val pubIp = map(sv, "public_ip")
      if (pubIp.nonEmpty && str(pubIp, "address").nonEmpty) {
        if (str(pubIp, "family") != "inet6")
          l += "__meta_scaleway_instance_public_ipv4" -> str(pubIp, "address")
        addr = str(pubIp, "address")
      }
      val privIp = str(sv, "private_ip")
      if (privIp.nonEmpty && privIp != "null") {
        l += "__meta_scaleway_instance_private_ipv4" -> privIp
        addr = privIp
      }
      // fully-private server: first private NIC with an IPAM-resolved IP
      // (ref instance.go:218-229)
      if (addr.isEmpty)
        list(sv, "private_nics").iterator
          .flatMap(nic => nicIp.get(str(nic, "id")))
          .nextOption().foreach { ip =>
            l += "__meta_scaleway_instance_private_ipv4" -> ip
            addr = ip
          }
      if (addr.isEmpty) None
      else Some((hostPort(addr, cfg.port), l))
    }
  }

  /** ref baremetal.go:93-186 */
  private def baremetalTargets(client: ApiClient, cfg: Config): Seq[(String, Map[String, String])] = {
    val servers = listAll(client, s"/baremetal/v1/zones/${cfg.zone}/servers",
      "servers", filterQuery(cfg))
    val offers = listAll(client, s"/baremetal/v1/zones/${cfg.zone}/offers", "offers", "")
      .map(o => str(o, "id") -> str(o, "name")).toMap
    val osList = listAll(client, s"/baremetal/v1/zones/${cfg.zone}/os", "os", "")
      .map(o => str(o, "id") -> o).toMap
    servers.flatMap { sv =>
      var l = Map(
        "__meta_scaleway_baremetal_id" -> str(sv, "id"),
        "__meta_scaleway_baremetal_name" -> str(sv, "name"),
        "__meta_scaleway_baremetal_zone" -> cfg.zone,
        "__meta_scaleway_baremetal_status" -> str(sv, "status"),
        "__meta_scaleway_baremetal_project_id" -> str(sv, "project_id"))
      offers.get(str(sv, "offer_id")).foreach(n =>
        l += "__meta_scaleway_baremetal_type" -> n)
      val install = map(sv, "install")
      if (install.nonEmpty)
        osList.get(str(install, "os_id")).foreach { os =>
          l += "__meta_scaleway_baremetal_os_name" -> str(os, "name")
          l += "__meta_scaleway_baremetal_os_version" -> str(os, "version")
        }
      val tags = strs(sv, "tags")
      if (tags.nonEmpty)
        l += "__meta_scaleway_baremetal_tags" -> tags.mkString(",", ",", ",")
      var addr = ""
      list(sv, "ips").foreach { ip =>
        val a = str(ip, "address")
        str(ip, "version") match {
          case "IPv4" if !l.contains("__meta_scaleway_baremetal_public_ipv4") =>
            l += "__meta_scaleway_baremetal_public_ipv4" -> a
            addr = a
          case "IPv6" if !l.contains("__meta_scaleway_baremetal_public_ipv6") =>
            l += "__meta_scaleway_baremetal_public_ipv6" -> a
            if (addr.isEmpty) addr = a
          case _ => ()
        }
      }
      if (addr.isEmpty) None else Some((hostPort(addr, cfg.port), l))
    }
  }

  final class ScalewayProvider(override val name: String, cfg: Config,
      client: ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) = this(name, cfg, new HttpApiClient(cfg))
    override def refreshMs: Long = cfg.refreshMs
    override def refresh(): Seq[Discovery.TargetGroup] = {
      val targets = cfg.role match {
        case "baremetal" => baremetalTargets(client, cfg)
        case _ => instanceTargets(client, cfg)
      }
      Seq(Discovery.TargetGroup("scaleway", Map.empty, targets))
    }
  }
}
