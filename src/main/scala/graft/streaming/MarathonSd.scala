package graft.streaming

import graft.web.JsonLite
import SdJson._

/** Marathon service discovery (ref: discovery/marathon/marathon.go).
  *
  * One `GET {server}/v2/apps/?embed=apps.tasks` per refresh (servers tried
  * in order until one answers — the reference picks a random one per
  * request; ordered failover is equivalent at the refresh cadence). One
  * target group per app keyed by app id, one target per task × port, with
  * the reference's port resolution ladder: container portMappings (1.5+) →
  * docker portMappings (<1.5) → portDefinitions (ports only when
  * requirePorts) → the task's own ports; zero ports resolve from the task
  * when the lengths line up, and container-network apps use the task ip +
  * containerPort (ref marathon.go:415-509). */
object MarathonSd {

  /** marathon_sd_configs entry (ref: marathon.go SDConfig; refresh 30s) */
  final case class Config(
      servers: Seq[String],
      authToken: String = "",
      authTokenFile: String = "",
      refreshMs: Long = 30000L)

  /** injectable transport; `url` is the full app-list URL */
  trait ApiClient { def get(url: String): String }

  final class HttpApiClient(cfg: Config) extends ApiClient {
    override def get(url: String): String = {
      val t = SdHttp.secret(cfg.authToken, cfg.authTokenFile)
      SdHttp.get("marathon", url, if (t.nonEmpty) Seq("Authorization" -> s"token=$t") else Nil)
    }
  }

  private def strMap(o: J, k: String): Map[String, String] =
    map(o, k).map { case (kk, v) => kk -> str(v) }

  /** ref marathon.go:393-412 createTargetGroup */
  private def buildApp(app: J): Discovery.TargetGroup = {
    val appId = str(app, "id")
    val container = map(app, "container")
    val containerNet = list(app, "networks").headOption
      .exists(n => str(n, "mode") == "container")
    // port resolution ladder (ref marathon.go:419-452)
    val (ports0, portLabels, prefix): (List[Int], List[Map[String, String]], String) = {
      val pm15 = list(container, "portMappings")
      val pmDocker = list(map(container, "docker"), "portMappings")
      val defs = list(app, "portDefinitions")
      if (pm15.nonEmpty || pmDocker.nonEmpty) {
        val pms = if (pm15.nonEmpty) pm15 else pmDocker
        (pms.map(p => long(p, if (containerNet) "containerPort" else "hostPort").toInt),
          pms.map(strMap(_, "labels")), "__meta_marathon_port_mapping_label_")
      } else if (defs.nonEmpty) {
        val requirePorts = bool(app, "requirePorts")
        (defs.map(d => if (requirePorts) long(d, "port").toInt else 0),
          defs.map(strMap(_, "labels")), "__meta_marathon_port_definition_label_")
      } else (Nil, Nil, "")
    }
    val targets = list(app, "tasks").flatMap { task =>
      val taskPorts = (task.getOrElse("ports", null) match {
        case l: List[_] => l; case _ => Nil
      }).map { case d: java.lang.Double => d.intValue; case other => str(other).toInt }
      // host-networking apps with only `ports`: take the task's own list
      val ports = if (ports0.isEmpty) taskPorts else ports0
      val host =
        if (containerNet)
          list(task, "ipAddresses").headOption
            .map(str(_, "ipAddress")).getOrElse(str(task, "host"))
        else str(task, "host")
      ports.zipWithIndex.map { case (p0, i) =>
        // a zero port is Mesos-allocated — look it up in the task
        val p = if (p0 == 0 && taskPorts.length == ports.length) taskPorts(i) else p0
        var tl = Map(
          "__meta_marathon_task" -> str(task, "id"),
          "__meta_marathon_port_index" -> i.toString)
        if (portLabels.nonEmpty)
          portLabels(i).foreach { case (ln, lv) =>
            tl += prefix + KubernetesSd.sanitize(ln) -> lv }
        (s"$host:$p", tl)
      }
    }
    val shared = Map(
      "__meta_marathon_app" -> appId,
      "__meta_marathon_image" -> str(map(container, "docker"), "image")) ++
      strMap(app, "labels").map { case (k, v) =>
        "__meta_marathon_app_label_" + KubernetesSd.sanitize(k) -> v }
    Discovery.TargetGroup(appId, shared, targets)
  }

  final class MarathonProvider(override val name: String, cfg: Config,
      client: ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) = this(name, cfg, new HttpApiClient(cfg))
    override def refreshMs: Long = cfg.refreshMs
    override def refresh(): Seq[Discovery.TargetGroup] = {
      // try servers in order; all failed → throw (manager keeps last state)
      val body = cfg.servers.view.map { srv =>
        try Some(client.get(srv.stripSuffix("/") + "/v2/apps/?embed=apps.tasks"))
        catch { case _: Exception => None }
      }.collectFirst { case Some(b) => b }
        .getOrElse(throw new IllegalStateException("marathon sd: all servers failed"))
      list(map(JsonLite.parse(body)), "apps").map(buildApp)
    }
  }
}
