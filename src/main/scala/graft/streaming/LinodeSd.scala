package graft.streaming

import graft.web.JsonLite
import SdJson._

/** Linode service discovery (ref: discovery/linode/linode.go).
  *
  * Three paginated LISTs per refresh — `/v4/linode/instances`,
  * `/v4/networking/ips` (rDNS + public/private classification), and
  * `/v4/networking/ipv6/ranges` — joined in memory exactly like the
  * reference's refreshData: the first public/private IPv4 become the
  * labeled addresses (remainder → extra_ips), the instance's SLAAC ipv6
  * resolves rDNS, and ipv6 ranges routed to the SLAAC attach as a list.
  * Address = public_ipv4:port. */
object LinodeSd {

  /** linode_sd_configs entry (ref: linode.go SDConfig; port 80,
    * tag_separator ",", refresh 60s; region filters all three LISTs) */
  final case class Config(
      bearerToken: String = "",
      bearerTokenFile: String = "",
      region: String = "",
      port: Int = 80,
      tagSeparator: String = ",",
      refreshMs: Long = 60000L)

  /** injectable transport; `path` includes the query; the region filter
    * rides the X-Filter header like linodego */
  trait ApiClient { def get(path: String, filter: String): String }

  final class HttpApiClient(cfg: Config) extends ApiClient {
    override def get(path: String, filter: String): String =
      SdHttp.get("linode", "https://api.linode.com" + path,
        (if (filter.nonEmpty) Seq("X-Filter" -> filter) else Nil) ++
          SdHttp.bearer(cfg.bearerToken, cfg.bearerTokenFile))
  }

  /** page through a Linode v4 collection ({data, page, pages}) */
  private def listAll(client: ApiClient, path: String, filter: String): List[J] = {
    val out = List.newBuilder[J]
    var page = 1
    var pages = 1
    while (page <= pages) {
      val body = map(JsonLite.parse(
        client.get(s"$path?page=$page&page_size=500", filter)))
      out ++= list(body, "data")
      pages = math.max(1, long(body, "pages").toInt)
      page += 1
    }
    out.result()
  }

  final class LinodeProvider(override val name: String, cfg: Config,
      client: ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) = this(name, cfg, new HttpApiClient(cfg))
    override def refreshMs: Long = cfg.refreshMs
    override def refresh(): Seq[Discovery.TargetGroup] = {
      val filter = if (cfg.region.isEmpty) ""
        else s"""{"region":"${cfg.region}"}"""
      val instances = listAll(client, "/v4/linode/instances", filter)
      val ips = listAll(client, "/v4/networking/ips", filter)
      val ipByAddr = ips.map(ip => str(ip, "address") -> ip).toMap
      val v6Ranges = listAll(client, "/v4/networking/ipv6/ranges", filter)
      val sep = cfg.tagSeparator
      val targets = instances.flatMap { inst =>
        val ipv4 = strs(inst, "ipv4")
        if (ipv4.isEmpty) None
        else {
          var privateV4 = ""; var publicV4 = ""
          var privateRdns = ""; var publicRdns = ""
          val extra = List.newBuilder[String]
          ipv4.foreach { addr =>
            ipByAddr.get(addr).foreach { det =>
              val rdns = str(det, "rdns")
              val pub = bool(det, "public")
              if (pub && publicV4.isEmpty) {
                publicV4 = addr
                if (rdns.nonEmpty && rdns != "null") publicRdns = rdns
              } else if (!pub && privateV4.isEmpty) {
                privateV4 = addr
                if (rdns.nonEmpty && rdns != "null") privateRdns = rdns
              } else extra += addr
            }
          }
          var publicV6 = ""; var publicV6Rdns = ""
          val ranges = List.newBuilder[String]
          val ipv6 = str(inst, "ipv6")
          if (ipv6.nonEmpty) {
            val slaac = ipv6.split("/")(0)
            ipByAddr.get(slaac).foreach { det =>
              publicV6 = str(det, "address")
              val rdns = str(det, "rdns")
              if (rdns.nonEmpty && rdns != "null") publicV6Rdns = rdns
            }
            v6Ranges.foreach { r =>
              if (str(r, "route_target") == slaac)
                ranges += s"${str(r, "range")}/${str(r, "prefix")}"
            }
          }
          val specs = map(inst, "specs")
          val backups = bool(map(inst, "backups"), "enabled")
          var l = Map(
            "__meta_linode_instance_id" -> str(inst, "id"),
            "__meta_linode_instance_label" -> str(inst, "label"),
            "__meta_linode_image" -> str(inst, "image"),
            "__meta_linode_private_ipv4" -> privateV4,
            "__meta_linode_public_ipv4" -> publicV4,
            "__meta_linode_public_ipv6" -> publicV6,
            "__meta_linode_private_ipv4_rdns" -> privateRdns,
            "__meta_linode_public_ipv4_rdns" -> publicRdns,
            "__meta_linode_public_ipv6_rdns" -> publicV6Rdns,
            "__meta_linode_region" -> str(inst, "region"),
            "__meta_linode_type" -> str(inst, "type"),
            "__meta_linode_status" -> str(inst, "status"),
            "__meta_linode_group" -> str(inst, "group"),
            "__meta_linode_gpus" -> str(specs, "gpus"),
            "__meta_linode_hypervisor" -> str(inst, "hypervisor"),
            "__meta_linode_backups" -> (if (backups) "enabled" else "disabled"),
            // specs are MiB/GiB-scaled in the API; labels carry bytes
            "__meta_linode_specs_disk_bytes" -> (long(specs, "disk") << 20).toString,
            "__meta_linode_specs_memory_bytes" -> (long(specs, "memory") << 20).toString,
            "__meta_linode_specs_vcpus" -> str(specs, "vcpus"),
            "__meta_linode_specs_transfer_bytes" -> (long(specs, "transfer") << 20).toString)
          val tags = strs(inst, "tags")
          if (tags.nonEmpty)
            l += "__meta_linode_tags" -> tags.mkString(sep, sep, sep)
          val extras = extra.result()
          if (extras.nonEmpty)
            l += "__meta_linode_extra_ips" -> extras.mkString(sep, sep, sep)
          val rs = ranges.result()
          if (rs.nonEmpty)
            l += "__meta_linode_ipv6_ranges" -> rs.mkString(sep, sep, sep)
          Some((s"$publicV4:${cfg.port}", l))
        }
      }
      Seq(Discovery.TargetGroup("Linode", Map.empty, targets))
    }
  }
}
