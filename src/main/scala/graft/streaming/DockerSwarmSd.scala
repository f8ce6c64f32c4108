package graft.streaming

import graft.web.JsonLite
import SdJson._

/** Docker Swarm service discovery (ref: discovery/moby/dockerswarm.go with
  * per-role builders nodes.go / services.go / tasks.go and the shared
  * network labeler network.go).
  *
  * Engine-API LISTs per refresh against the same injectable transport shape
  * as [[DockerSd]]:
  *  - nodes:    `/nodes` — one target per node at status addr : port
  *  - services: `/services` + `/networks` — one target per virtual IP ×
  *    published TCP port (port-less VIPs fall back to the configured port)
  *  - tasks:    `/tasks` + `/services` + `/nodes` + `/networks` — published
  *    port-status ports at the node address, then per network-attachment
  *    address × service port (falling back to the configured port) */
object DockerSwarmSd {

  /** dockerswarm_sd_configs entry (ref: moby/dockerswarm.go DockerSwarmSDConfig;
    * port 80, refresh 60s) */
  final case class Config(
      host: String, // e.g. tcp://127.0.0.1:2375
      role: String, // nodes | services | tasks
      port: Int = 80,
      refreshMs: Long = 60000L)

  trait ApiClient { def get(path: String): String }

  final class HttpApiClient(cfg: Config) extends ApiClient {
    private val base = cfg.host.replaceFirst("^tcp://", "http://").stripSuffix("/")
    override def get(path: String): String = SdHttp.get("dockerswarm", base + path)
  }

  private def cidrIp(a: String): String = a.split("/")(0)

  private val P = "__meta_dockerswarm_"

  /** ref network.go getNetworksLabels with the swarm prefix */
  private def networkLabels(client: ApiClient): Map[String, Map[String, String]] =
    list(JsonLite.parse(client.get("/networks"))).map { n =>
      val id = str(n, "Id")
      id -> (Map(
        P + "network_id" -> id,
        P + "network_name" -> str(n, "Name"),
        P + "network_scope" -> str(n, "Scope"),
        P + "network_internal" -> bool(n, "Internal").toString,
        P + "network_ingress" -> bool(n, "Ingress").toString) ++
        map(n, "Labels").map { case (k, v) =>
          P + "network_label_" + KubernetesSd.sanitize(k) -> str(v) })
    }.toMap

  /** ref nodes.go nodeLabels (shared by the nodes role and task merge) */
  private def nodeLabelSet(n: J): Map[String, String] = {
    val spec = map(n, "Spec"); val desc = map(n, "Description"); val status = map(n, "Status")
    var l = Map(
      P + "node_id" -> str(n, "ID"),
      P + "node_role" -> str(spec, "Role"),
      P + "node_availability" -> str(spec, "Availability"),
      P + "node_hostname" -> str(desc, "Hostname"),
      P + "node_platform_architecture" -> str(map(desc, "Platform"), "Architecture"),
      P + "node_platform_os" -> str(map(desc, "Platform"), "OS"),
      P + "node_engine_version" -> str(map(desc, "Engine"), "EngineVersion"),
      P + "node_status" -> str(status, "State"),
      P + "node_address" -> str(status, "Addr"))
    val mgr = map(n, "ManagerStatus")
    if (mgr.nonEmpty) l ++= Map(
      P + "node_manager_leader" -> bool(mgr, "Leader").toString,
      P + "node_manager_reachability" -> str(mgr, "Reachability"),
      P + "node_manager_address" -> str(mgr, "Addr"))
    l ++ map(spec, "Labels").map { case (k, v) =>
      P + "node_label_" + KubernetesSd.sanitize(k) -> str(v) }
  }

  /** ref services.go serviceLabels + getServiceValueMode */
  private def serviceLabelSet(sv: J): Map[String, String] = {
    val spec = map(sv, "Spec")
    // mode keys are present-but-possibly-empty objects (ref services.go
    // getServiceValueMode checks pointer nilness)
    val modeMap = map(spec, "Mode")
    val mode =
      if (modeMap.contains("Global")) "global"
      else if (modeMap.contains("Replicated")) "replicated"
      else ""
    Map(
      P + "service_id" -> str(sv, "ID"),
      P + "service_name" -> str(spec, "Name"),
      P + "service_mode" -> mode) ++
      map(spec, "Labels").map { case (k, v) =>
        P + "service_label_" + KubernetesSd.sanitize(k) -> str(v) }
  }

  final class DockerSwarmProvider(override val name: String, cfg: Config,
      client: ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) = this(name, cfg, new HttpApiClient(cfg))
    override def refreshMs: Long = cfg.refreshMs

    private def refreshNodes(): Seq[(String, Map[String, String])] =
      list(JsonLite.parse(client.get("/nodes"))).map { n =>
        (s"${str(map(n, "Status"), "Addr")}:${cfg.port}", nodeLabelSet(n))
      }

    /** ref services.go refreshServices — VIP × TCP published port, the
      * port-less VIP falls back to the configured port */
    private def refreshServices(): Seq[(String, Map[String, String])] = {
      val nets = networkLabels(client)
      list(JsonLite.parse(client.get("/services"))).flatMap { sv =>
        val spec = map(sv, "Spec")
        var common = serviceLabelSet(sv)
        val cspec = map(map(spec, "TaskTemplate"), "ContainerSpec")
        if (cspec.nonEmpty) common ++= Map(
          P + "service_task_container_hostname" -> str(cspec, "Hostname"),
          P + "service_task_container_image" -> str(cspec, "Image"))
        val upd = map(sv, "UpdateStatus")
        if (upd.nonEmpty)
          common += P + "service_updating_status" -> str(upd, "State")
        val endpoint = map(sv, "Endpoint")
        val ports = list(endpoint, "Ports")
        list(endpoint, "VirtualIPs").flatMap { vip =>
          val ip = cidrIp(str(vip, "Addr"))
          val netl = nets.getOrElse(str(vip, "NetworkID"), Map.empty)
          val tcp = ports.filter(p => str(p, "Protocol") == "tcp")
          if (tcp.nonEmpty) tcp.map { p =>
            (s"$ip:${str(p, "PublishedPort")}", common ++ netl ++ Map(
              P + "service_endpoint_port_name" -> str(p, "Name"),
              P + "service_endpoint_port_publish_mode" -> str(p, "PublishMode")))
          } else Seq((s"$ip:${cfg.port}", common ++ netl))
        }
      }
    }

    /** ref tasks.go refreshTasks */
    private def refreshTasks(): Seq[(String, Map[String, String])] = {
      val nets = networkLabels(client)
      val services = list(JsonLite.parse(client.get("/services")))
      val svcLabels = services.map(sv => str(sv, "ID") -> serviceLabelSet(sv)).toMap
      val svcPorts = services.map(sv =>
        str(sv, "ID") -> list(map(sv, "Endpoint"), "Ports")).toMap
      val nodes = list(JsonLite.parse(client.get("/nodes")))
        .map(n => str(n, "ID") -> nodeLabelSet(n)).toMap
      list(JsonLite.parse(client.get("/tasks"))).flatMap { t =>
        var common = Map(
          P + "task_id" -> str(t, "ID"),
          P + "task_desired_state" -> str(t, "DesiredState"),
          P + "task_state" -> str(map(t, "Status"), "State"),
          P + "task_slot" -> str(t, "Slot"))
        val cstatus = map(map(t, "Status"), "ContainerStatus")
        if (cstatus.nonEmpty)
          common += P + "task_container_id" -> str(cstatus, "ContainerID")
        common ++= map(map(map(t, "Spec"), "ContainerSpec"), "Labels").map { case (k, v) =>
          P + "container_label_" + KubernetesSd.sanitize(k) -> str(v) }
        common ++= svcLabels.getOrElse(str(t, "ServiceID"), Map.empty)
        common ++= nodes.getOrElse(str(t, "NodeID"), Map.empty)
        // published ports at the node address (ref tasks.go:90-106)
        val published = list(map(map(t, "Status"), "PortStatus"), "Ports")
          .filter(p => str(p, "Protocol") == "tcp")
          .map { p =>
            (s"${common.getOrElse(P + "node_address", "")}:${str(p, "PublishedPort")}",
              common + (P + "task_port_publish_mode" -> str(p, "PublishMode")))
          }
        // network attachments × service ports (ref tasks.go:108-158)
        val attached = list(t, "NetworksAttachments").flatMap { na =>
          val netl = nets.getOrElse(str(map(na, "Network"), "ID"), Map.empty)
          strs(na, "Addresses").flatMap { a =>
            val ip = cidrIp(a)
            val tcp = svcPorts.getOrElse(str(t, "ServiceID"), Nil)
              .filter(p => str(p, "Protocol") == "tcp")
            if (tcp.nonEmpty) tcp.map { p =>
              (s"$ip:${str(p, "PublishedPort")}", common ++ netl +
                (P + "task_port_publish_mode" -> str(p, "PublishMode")))
            } else Seq((s"$ip:${cfg.port}", common ++ netl))
          }
        }
        published ++ attached
      }
    }

    override def refresh(): Seq[Discovery.TargetGroup] = {
      val targets = cfg.role match {
        case "nodes" => refreshNodes()
        case "services" => refreshServices()
        case "tasks" => refreshTasks()
        case other => throw new IllegalArgumentException(s"unknown dockerswarm role $other")
      }
      Seq(Discovery.TargetGroup("DockerSwarm", Map.empty, targets))
    }
  }
}
