package graft.streaming

import SdJson._

/** Uyuni / SUSE Manager service discovery (ref: discovery/uyuni/uyuni.go).
  *
  * The Uyuni API is XML-RPC over HTTP POST to `{server}/rpc/api`. Per
  * refresh (with the auth token cached to half its lifetime like the
  * reference):
  *   1. `auth.login(user, pass, durationSec)` → session token
  *   2. `system.listSystemGroupsForSystemsWithEntitlement(token, ent)` —
  *      monitored systems + their groups
  *   3. `system.monitoring.listEndpoints(token, ids)` — exporter endpoints
  *   4. `system.getNetworkForSystems(token, ids)` — hostname/FQDN per system
  * One target per endpoint at hostname:port with the `__meta_uyuni_*`
  * labels (scheme from tls_enabled). A minimal XML-RPC codec lives here —
  * strings/ints/booleans/doubles/structs/arrays, faults → exceptions. */
object UyuniSd {

  /** uyuni_sd_configs entry (ref: uyuni.go SDConfig / DefaultSDConfig:
    * entitlement monitoring_entitled, separator ",", refresh 60s) */
  final case class Config(
      server: String,
      username: String,
      password: String,
      entitlement: String = "monitoring_entitled",
      separator: String = ",",
      refreshMs: Long = 60000L)

  /** injectable XML-RPC transport: `call` returns the decoded response
    * value (String / Long / Boolean / Double / Map / List) */
  trait ApiClient { def call(method: String, params: Seq[Any]): Any }

  // ------------------------------------------------------- XML-RPC codec

  private[streaming] def encodeValue(sb: StringBuilder, v: Any): Unit = {
    sb.append("<value>")
    v match {
      case s: String =>
        sb.append("<string>").append(s.replace("&", "&amp;")
          .replace("<", "&lt;").replace(">", "&gt;")).append("</string>")
      case i: Int => sb.append("<int>").append(i).append("</int>")
      case l: Long => sb.append("<int>").append(l).append("</int>")
      case b: Boolean => sb.append("<boolean>").append(if (b) "1" else "0").append("</boolean>")
      case d: Double => sb.append("<double>").append(d).append("</double>")
      case xs: Seq[_] =>
        sb.append("<array><data>")
        xs.foreach(encodeValue(sb, _))
        sb.append("</data></array>")
      case other => sb.append("<string>").append(String.valueOf(other)).append("</string>")
    }
    sb.append("</value>")
  }

  private[streaming] def encodeCall(method: String, params: Seq[Any]): String = {
    val sb = new StringBuilder
    sb.append("<?xml version=\"1.0\"?><methodCall><methodName>")
      .append(method).append("</methodName><params>")
    params.foreach { p => sb.append("<param>"); encodeValue(sb, p); sb.append("</param>") }
    sb.append("</params></methodCall>")
    sb.toString
  }

  private def decodeValue(v: org.w3c.dom.Element): Any = {
    val typed = elements(v)
    if (typed.isEmpty) return v.getTextContent // bare <value>text</value> = string
    val t = typed.head
    t.getTagName match {
      case "string" => t.getTextContent
      case "int" | "i4" | "i8" => t.getTextContent.trim.toLong
      case "boolean" => t.getTextContent.trim == "1"
      case "double" => t.getTextContent.trim.toDouble
      case "array" =>
        children(t, "data").take(1).flatMap(children(_, "value")).map(decodeValue).toList
      case "struct" =>
        children(t, "member").map { mem =>
          val name = elements(mem).find(_.getTagName == "name")
            .map(_.getTextContent).getOrElse("")
          val value = elements(mem).find(_.getTagName == "value")
            .map(decodeValue).orNull
          name -> value
        }.toMap
      case _ => t.getTextContent
    }
  }

  private[streaming] def decodeResponse(xml: String): Any = {
    val root = parseXml(xml).getDocumentElement // methodResponse
    elements(root).headOption match {
      case Some(fault) if fault.getTagName == "fault" =>
        val detail = elements(fault).find(_.getTagName == "value")
          .map(decodeValue).getOrElse(Map.empty)
        throw new IllegalStateException(s"uyuni sd: xml-rpc fault $detail")
      case Some(params) if params.getTagName == "params" =>
        elements(params).find(_.getTagName == "param").toList
          .flatMap(elements(_)).find(_.getTagName == "value")
          .map(decodeValue).orNull
      case _ => null
    }
  }

  final class HttpApiClient(cfg: Config) extends ApiClient {
    private val url = cfg.server.stripSuffix("/") + "/rpc/api"
    override def call(method: String, params: Seq[Any]): Any =
      decodeResponse(SdHttp.post("uyuni", url, encodeCall(method, params),
        Seq("Content-Type" -> "text/xml"), accept = ""))
  }

  // ------------------------------------------------------------ provider

  /** the reference's 12h API token, re-logged-in at half-life */
  private val tokenDurationMs = 12L * 3600 * 1000

  final class UyuniProvider(override val name: String, cfg: Config,
      client: ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) = this(name, cfg, new HttpApiClient(cfg))
    override def refreshMs: Long = cfg.refreshMs
    private var token = ""
    private var tokenExpiresAt = 0L

    override def refresh(): Seq[Discovery.TargetGroup] = {
      val now = System.currentTimeMillis()
      if (token.isEmpty || now >= tokenExpiresAt) {
        token = str(client.call("auth.login",
          Seq(cfg.username, cfg.password, (tokenDurationMs / 1000).toInt)))
        tokenExpiresAt = now + tokenDurationMs / 2
      }
      try {
        val groupsBySystem = list(client.call(
            "system.listSystemGroupsForSystemsWithEntitlement",
            Seq(token, cfg.entitlement)))
          .map(g => long(g, "id") -> list(g, "system_groups").map(str(_, "name")))
          .toMap
        val systemIds = groupsBySystem.keys.toList.sorted
        if (systemIds.isEmpty)
          return Seq(Discovery.TargetGroup(cfg.server, Map.empty, Nil))
        val endpoints = list(client.call("system.monitoring.listEndpoints",
          Seq(token, systemIds)))
        val netBySystem = list(client.call("system.getNetworkForSystems",
          Seq(token, systemIds)))
          .map(n => long(n, "system_id") -> n).toMap
        val targets = endpoints.map { ep =>
          val sid = long(ep, "system_id")
          val net = netBySystem.getOrElse(sid, Map.empty[String, Any])
          val scheme = if (bool(ep, "tls_enabled")) "https" else "http"
          (s"${str(net, "hostname")}:${long(ep, "port")}", Map(
            "__meta_uyuni_minion_hostname" -> str(net, "hostname"),
            "__meta_uyuni_primary_fqdn" -> str(net, "primary_fqdn"),
            "__meta_uyuni_system_id" -> sid.toString,
            "__meta_uyuni_groups" ->
              groupsBySystem.getOrElse(sid, Nil).mkString(cfg.separator),
            "__meta_uyuni_endpoint_name" -> str(ep, "endpoint_name"),
            "__meta_uyuni_exporter" -> str(ep, "exporter_name"),
            "__meta_uyuni_proxy_module" -> str(ep, "module"),
            "__meta_uyuni_metrics_path" -> str(ep, "path"),
            "__meta_uyuni_scheme" -> scheme))
        }
        Seq(Discovery.TargetGroup(cfg.server, Map.empty, targets))
      } catch { case e: Exception =>
        token = "" // force re-login next refresh (ref uyuni.go:353-355)
        throw e
      }
    }
  }
}
