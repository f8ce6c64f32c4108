package graft.streaming

import graft.web.{Json, JsonLite}
import SdJson._

/** PuppetDB service discovery (ref: discovery/puppetdb/puppetdb.go +
  * resources.go).
  *
  * One `POST {url}/pdb/query/v4` per refresh with the configured PQL query;
  * every returned resource becomes a target at certname:port with the
  * `__meta_puppetdb_*` label set. Parameters are attached only when
  * `include_parameters` is set (they can carry secrets), flattened the way
  * the reference's Parameters.toLabels does: scalars stringified, string
  * lists surrounded-joined, nested maps underscore-flattened. */
object PuppetDbSd {

  /** puppetdb_sd_configs entry (ref: puppetdb.go SDConfig; port 80,
    * refresh 60s) */
  final case class Config(
      url: String,
      query: String,
      includeParameters: Boolean = false,
      port: Int = 80,
      refreshMs: Long = 60000L)

  /** injectable transport; posts the JSON body, returns the resource list */
  trait ApiClient { def post(url: String, body: String): String }

  final class HttpApiClient extends ApiClient {
    override def post(url: String, body: String): String =
      SdHttp.post("puppetdb", url, body, Seq("Content-Type" -> "application/json"))
  }

  /** ref resources.go:39-90 Parameters.toLabels — nested maps flatten with
    * '_'; JSON lists plain-join with ','; empty values and anything
    * non-scalar are dropped */
  private[streaming] def flattenParams(params: J, prefix: String): Map[String, String] =
    params.flatMap { case (k, v) =>
      val key = prefix + KubernetesSd.sanitize(k)
      val flat: Map[String, String] = v match {
        case m: Map[_, _] => flattenParams(m.asInstanceOf[J], key + "_")
        case l: List[_] if l.nonEmpty =>
          Map(key -> l.collect {
            case x @ (_: String | _: java.lang.Boolean | _: java.lang.Double) => str(x)
          }.mkString(","))
        case _: List[_] => Map.empty
        case null => Map.empty
        case other => Map(key -> str(other))
      }
      flat.filter(_._2.nonEmpty)
    }

  final class PuppetDbProvider(override val name: String, cfg: Config,
      client: ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) = this(name, cfg, new HttpApiClient)
    override def refreshMs: Long = cfg.refreshMs
    override def refresh(): Seq[Discovery.TargetGroup] = {
      val url = cfg.url.stripSuffix("/") + "/pdb/query/v4"
      val body = s"""{"query":"${Json.escape(cfg.query)}"}"""
      val resources = list(JsonLite.parse(client.post(url, body)))
      val targets = resources.map { r =>
        var l = Map(
          "__meta_puppetdb_query" -> cfg.query,
          "__meta_puppetdb_certname" -> str(r, "certname"),
          "__meta_puppetdb_resource" -> str(r, "resource"),
          "__meta_puppetdb_type" -> str(r, "type"),
          "__meta_puppetdb_title" -> str(r, "title"),
          "__meta_puppetdb_exported" ->
            bool(r, "exported").toString,
          "__meta_puppetdb_file" -> str(r, "file"),
          "__meta_puppetdb_environment" -> str(r, "environment"))
        val tags = strs(r, "tags")
        if (tags.nonEmpty) l += "__meta_puppetdb_tags" -> tags.mkString(",", ",", ",")
        if (cfg.includeParameters)
          l ++= flattenParams(map(r, "parameters"),
            "__meta_puppetdb_parameter_")
        (s"${str(r, "certname")}:${cfg.port}", l)
      }
      Seq(Discovery.TargetGroup(url + "?query=" + cfg.query, Map.empty, targets))
    }
  }
}
