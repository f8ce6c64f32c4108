package graft.streaming

import graft.web.JsonLite
import SdJson._

/** DigitalOcean service discovery (ref: discovery/digitalocean/
  * digitalocean.go for the droplets role, digitalocean_db.go for the
  * databases role).
  *
  * Poll-based like the other cloud providers here: each refresh pages
  * `GET /v2/droplets` (or `/v2/databases`) with a bearer token and builds
  * the reference's `__meta_digitalocean_*` label set — address is the
  * public IPv4 (droplets) or the connection host, private preferred
  * (databases), joined with the configured port. Feature/tag lists are
  * surrounded separator-joined strings so relabel regexes need not care
  * about positions (ref digitalocean.go:251-259). */
object DigitalOceanSd {

  /** digitalocean_sd_configs entry (ref: digitalocean.go SDConfig;
    * defaults port 80, refresh 60s, role droplets) */
  final case class Config(
      role: String = "droplets", // droplets | databases
      bearerToken: String = "",
      bearerTokenFile: String = "",
      port: Int = 80,
      refreshMs: Long = 60000L)

  /** injectable transport; `path` includes the query (e.g.
    * "/v2/droplets?page=2&per_page=200"); throws on failure */
  trait ApiClient { def get(path: String): String }

  final class HttpApiClient(cfg: Config) extends ApiClient {
    override def get(path: String): String =
      SdHttp.get("digitalocean", "https://api.digitalocean.com" + path,
        SdHttp.bearer(cfg.bearerToken, cfg.bearerTokenFile))
  }

  /** surrounded separator list (ref digitalocean.go:251: ",a,b," so regexes
    * need not consider positions) */
  private def surrounded(items: List[String]): String =
    items.mkString(",", ",", ",")

  /** ref digitalocean.go:214-262 — one target per droplet with a v4 network */
  private def buildDroplet(d: J, port: Int): Option[(String, Map[String, String])] = {
    val v4 = list(map(d, "networks"), "v4")
    if (v4.isEmpty) return None
    val v6 = list(map(d, "networks"), "v6")
    def ipOf(nets: List[J], typ: String): String =
      nets.find(n => str(n, "type") == typ).map(str(_, "ip_address")).getOrElse("")
    val publicV4 = ipOf(v4, "public")
    var l = Map(
      "__meta_digitalocean_droplet_id" -> str(d, "id"),
      "__meta_digitalocean_droplet_name" -> str(d, "name"),
      "__meta_digitalocean_image" -> str(map(d, "image"), "slug"),
      "__meta_digitalocean_image_name" -> str(map(d, "image"), "name"),
      "__meta_digitalocean_private_ipv4" -> ipOf(v4, "private"),
      "__meta_digitalocean_public_ipv4" -> publicV4,
      "__meta_digitalocean_public_ipv6" -> ipOf(v6, "public"),
      "__meta_digitalocean_region" -> str(map(d, "region"), "slug"),
      "__meta_digitalocean_size" -> str(d, "size_slug"),
      "__meta_digitalocean_status" -> str(d, "status"),
      "__meta_digitalocean_vpc" -> str(d, "vpc_uuid"))
    val features = strs(d, "features")
    if (features.nonEmpty) l += "__meta_digitalocean_features" -> surrounded(features)
    val tags = strs(d, "tags")
    if (tags.nonEmpty) l += "__meta_digitalocean_tags" -> surrounded(tags)
    Some((s"$publicV4:$port", l))
  }

  /** ref digitalocean_db.go:56-90 — one target per cluster; the private
    * connection host is preferred for the address */
  private def buildDatabase(c: J, port: Int): Option[(String, Map[String, String])] = {
    var l = Map(
      "__meta_digitalocean_db_id" -> str(c, "id"),
      "__meta_digitalocean_db_name" -> str(c, "name"),
      "__meta_digitalocean_db_engine" -> str(c, "engine"),
      "__meta_digitalocean_db_version" -> str(c, "version"),
      "__meta_digitalocean_db_status" -> str(c, "status"),
      "__meta_digitalocean_db_region" -> str(c, "region"),
      "__meta_digitalocean_db_size" -> str(c, "size"),
      "__meta_digitalocean_db_num_nodes" -> str(c, "num_nodes"))
    val priv = str(map(c, "private_connection"), "host")
    val pub = str(map(c, "connection"), "host")
    if (priv.nonEmpty) l += "__meta_digitalocean_db_private_host" -> priv
    if (pub.nonEmpty) l += "__meta_digitalocean_db_host" -> pub
    strs(c, "tags").foreach(t =>
      l += "__meta_digitalocean_db_tag_" + KubernetesSd.sanitize(t) -> "true")
    val host = if (priv.nonEmpty) priv else pub
    if (host.isEmpty) None else Some((s"$host:$port", l))
  }

  final class DigitalOceanProvider(override val name: String, cfg: Config,
      client: ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) = this(name, cfg, new HttpApiClient(cfg))
    override def refreshMs: Long = cfg.refreshMs
    override def refresh(): Seq[Discovery.TargetGroup] = {
      val (base, itemsKey, build, source) =
        if (cfg.role == "databases")
          ("/v2/databases", "databases",
            buildDatabase(_: J, cfg.port), "DigitalOcean Databases")
        else ("/v2/droplets", "droplets",
            buildDroplet(_: J, cfg.port), "DigitalOcean")
      val targets = Seq.newBuilder[(String, Map[String, String])]
      var page = 1
      var more = true
      while (more) {
        val body = map(JsonLite.parse(client.get(s"$base?page=$page&per_page=200")))
        val items = list(body, itemsKey)
        items.foreach(i => build(i).foreach(targets += _))
        // godo pagination: stop when links.pages.next is absent
        val next = str(map(map(body, "links"), "pages"), "next")
        more = next.nonEmpty && items.nonEmpty
        page += 1
      }
      Seq(Discovery.TargetGroup(source, Map.empty, targets.result()))
    }
  }
}
