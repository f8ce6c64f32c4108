package graft.streaming

import graft.web.JsonLite
import SdJson._

/** Docker service discovery (ref: discovery/moby/docker.go).
  *
  * Poll-based like the other providers: each refresh LISTs
  * `/containers/json` (+ `/networks` for network meta labels) against the
  * Docker Engine API and emits one target per container × network × TCP
  * port with the reference's `__meta_docker_*` labels — address = network
  * IP : private port, port-less containers fall back to the configured
  * port (host networking uses the daemon host). Engine API over TCP
  * (`host: tcp://…` / `http://…`); tests inject a fake transport. */
object DockerSd {

  /** docker_sd_configs entry (ref: moby/docker.go DockerSDConfig; defaults
    * port 80, refresh 60s) */
  final case class Config(
      host: String, // e.g. tcp://127.0.0.1:2375
      port: Int = 80, // fallback for port-less containers
      refreshMs: Long = 60000L)

  trait ApiClient { def get(path: String): String }

  final class HttpApiClient(cfg: Config) extends ApiClient {
    private val base = cfg.host.replaceFirst("^tcp://", "http://").stripSuffix("/")
    override def get(path: String): String = SdHttp.get("docker", base + path)
  }

  final class DockerProvider(override val name: String, cfg: Config,
      client: ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) = this(name, cfg, new HttpApiClient(cfg))
    override def refreshMs: Long = cfg.refreshMs

    override def refresh(): Seq[Discovery.TargetGroup] = {
      val containers = list(JsonLite.parse(client.get("/containers/json")))
      // network id → __meta_docker_network_* labels (ref: moby/network.go)
      val networkLabels: Map[String, Map[String, String]] =
        list(JsonLite.parse(client.get("/networks"))).map { n =>
          str(n, "Id") -> (Map(
            "__meta_docker_network_id" -> str(n, "Id"),
            "__meta_docker_network_name" -> str(n, "Name"),
            "__meta_docker_network_internal" -> str(n, "Internal"),
            "__meta_docker_network_scope" -> str(n, "Scope")) ++
            map(n, "Labels").map { case (k, v) =>
              "__meta_docker_network_label_" + KubernetesSd.sanitize(k) -> str(v) })
        }.toMap
      val targets = Seq.newBuilder[(String, Map[String, String])]
      containers.foreach { c =>
        val names = strs(c, "Names")
        if (names.nonEmpty) {
          val common = Map(
            "__meta_docker_container_id" -> str(c, "Id"),
            "__meta_docker_container_name" -> names.head,
            "__meta_docker_container_network_mode" -> str(map(c, "HostConfig"), "NetworkMode")) ++
            map(c, "Labels").map { case (k, v) =>
              "__meta_docker_container_label_" + KubernetesSd.sanitize(k) -> str(v) }
          val ports = list(c, "Ports")
          map(map(c, "NetworkSettings"), "Networks").foreach { case (_, nv) =>
            val net = map(nv)
            val ip = {
              val v4 = str(net, "IPAddress")
              if (v4.nonEmpty) v4 else str(net, "GlobalIPv6Address")
            }
            val netLbls = networkLabels.getOrElse(str(net, "NetworkID"), Map.empty)
            val tcp = ports.filter(p => str(p, "Type") == "tcp")
            if (tcp.nonEmpty) tcp.foreach { p =>
              var tl = common ++ netLbls ++ Map(
                "__meta_docker_network_ip" -> ip,
                "__meta_docker_port_private" -> str(p, "PrivatePort"))
              val pub = str(p, "PublicPort")
              if (pub.nonEmpty && pub != "0")
                tl ++= Map("__meta_docker_port_public" -> pub,
                  "__meta_docker_port_public_ip" -> str(p, "IP"))
              targets += ((hostPort(ip, str(p, "PrivatePort")), tl))
            } else {
              // no TCP ports exposed: fall back to the configured port
              targets += ((hostPort(ip, cfg.port.toString),
                common ++ netLbls + ("__meta_docker_network_ip" -> ip)))
            }
          }
        }
      }
      Seq(Discovery.TargetGroup("Docker", Map.empty, targets.result()))
    }
  }
}
