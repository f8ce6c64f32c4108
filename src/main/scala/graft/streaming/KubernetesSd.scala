package graft.streaming

import graft.web.JsonLite
import SdJson._

import scala.collection.concurrent.TrieMap

/** Kubernetes service discovery (ref: discovery/kubernetes/kubernetes.go and
  * the per-role builders pod.go / node.go / service.go / endpoints.go /
  * endpointslice.go / ingress.go).
  *
  * Freshness model: like the reference's client-go informers, the provider
  * runs LIST+WATCH ([[Informer]]) — one initial LIST seeds a keyed object
  * cache, a daemon watch stream applies ADDED/MODIFIED/DELETED events as
  * they happen, and each manager refresh snapshots the live cache. Churn is
  * visible at the next poll with steady-state network cost O(changes)
  * instead of O(objects)·polls. A list-only [[ApiClient]] degrades to
  * LIST-per-refresh (the consistency model of the reference's own HTTP SD).
  * Target-group construction (sources, `__meta_kubernetes_*` labels,
  * address selection, ready/not-ready duplication) mirrors the reference's
  * builders 1:1 so relabel configs written for the reference work unchanged.
  *
  * The API transport is injectable ([[ApiClient]]/[[WatchApiClient]]):
  * tests drive the whole Manager → provider → relabel → scrape-target chain
  * against a fake API server exactly the way the reference's tests drive a
  * fake clientset (discovery/kubernetes/kubernetes_test.go), including
  * scripted watch-event streams. */
object KubernetesSd {

  /** per-resource label/field selector (ref: kubernetes.go SelectorConfig) —
    * passed to the API server as LIST query parameters, so filtering happens
    * server-side exactly like the reference's informer list options */
  final case class Selector(role: String, label: String = "", field: String = "")

  /** ref: kubernetes.go AttachMetadataConfig (+ inline PodMetadataConfig) —
    * merge node / namespace object metadata onto targets (so relabel configs
    * can use `__meta_kubernetes_node_label_*` on pod/endpoint targets and
    * `__meta_kubernetes_namespace_label_*` on any namespaced role);
    * deployment/job/cronjob resolve the pod's controller chain
    * (ReplicaSet → Deployment, Job → CronJob) into
    * `__meta_kubernetes_pod_{deployment,job,cronjob}_name` */
  final case class AttachMetadata(node: Boolean = false, namespace: Boolean = false,
      deployment: Boolean = false, job: Boolean = false, cronjob: Boolean = false)

  /** selector roles each main role accepts (ref: kubernetes.go
    * UnmarshalYAML allowedSelectors) */
  val allowedSelectors: Map[String, Seq[String]] = Map(
    "pod" -> Seq("pod", "node"),
    "service" -> Seq("service"),
    "endpointslice" -> Seq("pod", "service", "endpointslice"),
    "endpoints" -> Seq("pod", "service", "endpoints"),
    "node" -> Seq("node"),
    "ingress" -> Seq("ingress"))

  /** kubernetes_sd_configs entry (ref: kubernetes.go SDConfig). `apiServer`
    * empty = in-cluster (https://kubernetes.default.svc with the mounted
    * service-account token). `ownNamespace` appends the namespace from the
    * mounted service-account file (ref: kubernetes.go New reads
    * /var/run/secrets/kubernetes.io/serviceaccount/namespace; the file path
    * is a field here only so tests can inject one). */
  final case class Config(
      role: String, // node | pod | service | endpoints | endpointslice | ingress
      apiServer: String = "",
      namespaces: Seq[String] = Nil, // empty = all namespaces
      bearerTokenFile: String = "",
      refreshMs: Long = 30000L,
      ownNamespace: Boolean = false,
      selectors: Seq[Selector] = Nil,
      attachMetadata: AttachMetadata = AttachMetadata(),
      namespaceFile: String = "/var/run/secrets/kubernetes.io/serviceaccount/namespace")

  /** injectable LIST transport; `path` is the API path (e.g.
    * "/api/v1/pods"); throws on failure (the manager keeps previous state) */
  trait ApiClient { def get(path: String): String }

  /** LIST+WATCH transport: `watch` streams newline-delimited watch events
    * (`{"type":"ADDED|MODIFIED|DELETED|BOOKMARK|ERROR","object":{...}}`)
    * until the server closes the stream or `stopped()` turns true; throws on
    * connect/protocol failure (the informer backs off and reconnects). A
    * provider whose client implements this trait runs informers
    * ([[Informer]]) instead of LIST-per-refresh. */
  trait WatchApiClient extends ApiClient {
    def watch(path: String, onLine: String => Unit, stopped: () => Boolean): Unit
  }

  /** production client: GET {apiServer}{path}, optional bearer token */
  final class HttpApiClient(apiServer: String, bearerTokenFile: String = "")
      extends WatchApiClient {
    private val base =
      (if (apiServer.nonEmpty) apiServer else "https://kubernetes.default.svc")
        .stripSuffix("/")
    private val tokenFile =
      if (bearerTokenFile.nonEmpty) bearerTokenFile
      else "/var/run/secrets/kubernetes.io/serviceaccount/token"
    /** the token file is re-read per request (the kubelet rotates it) */
    private def auth: Seq[(String, String)] =
      if (new java.io.File(tokenFile).exists()) SdHttp.bearer("", tokenFile) else Nil
    override def get(path: String): String = SdHttp.get("kubernetes", base + path, auth)
    /** chunked watch stream — one JSON event per line, consumed lazily so
      * the connection stays open for the server's event dribble (hence no
      * request timeout) */
    override def watch(path: String, onLine: String => Unit, stopped: () => Boolean): Unit = {
      val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(base + path))
        .header("Accept", "application/json")
      auth.foreach { case (k, v) => b.header(k, v) }
      val resp = SdHttp.client.send(b.GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofLines())
      if (resp.statusCode() != 200) {
        resp.body().close()
        throw new SdHttp.StatusError("kubernetes", resp.statusCode(), path)
      }
      val it = resp.body().iterator()
      try while (!stopped() && it.hasNext) {
        val line = it.next()
        if (line.nonEmpty) onLine(line)
      } finally resp.body().close()
    }
  }

  // ------------------------------------------------------------- JSON views

  // --------------------------------------------------------------- labeling

  /** ref: util/strutil SanitizeLabelName — every invalid char → '_' */
  private[streaming] def sanitize(name: String): String =
    name.map(c => if (c.isLetterOrDigit && c < 128 || c == '_') c else '_')

  /** ref: kubernetes.go addObjectMetaLabels — name + labels/annotations with
    * presence markers */
  private def objectMetaLabels(meta: J, role: String): Map[String, String] = {
    val p = s"__meta_kubernetes_${role}_"
    val base = Map(p + "name" -> str(meta, "name"))
    val lbls = map(meta, "labels").flatMap { case (k, v) =>
      val sk = sanitize(k)
      Seq(p + "label_" + sk -> str(v), p + "labelpresent_" + sk -> "true")
    }
    val anns = map(meta, "annotations").flatMap { case (k, v) =>
      val sk = sanitize(k)
      Seq(p + "annotation_" + sk -> str(v), p + "annotationpresent_" + sk -> "true")
    }
    base ++ lbls ++ anns
  }

  /** controller owner reference (ref: pod.go GetControllerOf) */
  private def controllerOf(meta: J): Option[J] =
    list(meta, "ownerReferences").find(bool(_, "controller"))

  /** attach_metadata.node — the node's full objectMeta label set (ref:
    * endpoints.go addNodeLabels merges addObjectMetaLabels(node, RoleNode)) */
  private def nodeMetaLabels(nodesByName: Map[String, J], nodeName: String): Map[String, String] =
    if (nodeName.isEmpty) Map.empty
    else nodesByName.get(nodeName)
      .map(n => objectMetaLabels(map(n, "metadata"), "node"))
      .getOrElse(Map.empty)

  /** attach_metadata.namespace — labels/annotations only, the name is already
    * on `__meta_kubernetes_namespace` (ref: kubernetes.go
    * addNamespaceMetaLabels) */
  private def namespaceMetaLabels(nsByName: Map[String, J], ns: String): Map[String, String] =
    nsByName.get(ns).map { nsObj =>
      objectMetaLabels(map(nsObj, "metadata"), "namespace") - "__meta_kubernetes_namespace_name"
    }.getOrElse(Map.empty)

  // ------------------------------------------------------------------- pod

  /** owner-chain lookups for attach_metadata's pod options (ref: pod.go
    * podLabels — ReplicaSet store → Deployment owner, Job store → CronJob
    * owner). A `None` map means the option is off. */
  private[streaming] final case class PodMeta(
      jobName: Boolean = false,
      deploymentByRs: Option[Map[String, String]] = None, // ns/rsName → deployment
      cronjobByJob: Option[Map[String, String]] = None)   // ns/jobName → cronjob

  /** ref: pod.go podLabels + buildPod */
  private def podSharedLabels(pod: J, podMeta: PodMeta = PodMeta()): Map[String, String] = {
    val meta = map(pod, "metadata"); val spec = map(pod, "spec"); val status = map(pod, "status")
    val ready = list(status, "conditions")
      .find(c => str(c, "type") == "Ready")
      .map(c => str(c, "status").toLowerCase == "true").getOrElse(false)
    val ctrl = controllerOf(meta).toSeq.flatMap { o =>
      val kind = str(o, "kind"); val cname = str(o, "name")
      val base = Seq("__meta_kubernetes_pod_controller_kind" -> kind,
          "__meta_kubernetes_pod_controller_name" -> cname)
        .filter(_._2.nonEmpty)
      val key = str(meta, "namespace") + "/" + cname
      val extra = kind match {
        case "ReplicaSet" =>
          podMeta.deploymentByRs.flatMap(_.get(key))
            .map("__meta_kubernetes_pod_deployment_name" -> _).toSeq
        case "Job" =>
          (if (podMeta.jobName) Seq("__meta_kubernetes_pod_job_name" -> cname) else Nil) ++
            podMeta.cronjobByJob.flatMap(_.get(key))
              .map("__meta_kubernetes_pod_cronjob_name" -> _).toSeq
        case _ => Nil
      }
      base ++ extra
    }
    Map(
      "__meta_kubernetes_namespace" -> str(meta, "namespace"),
      "__meta_kubernetes_pod_ip" -> str(status, "podIP"),
      "__meta_kubernetes_pod_ready" -> ready.toString,
      "__meta_kubernetes_pod_phase" -> str(status, "phase"),
      "__meta_kubernetes_pod_node_name" -> str(spec, "nodeName"),
      "__meta_kubernetes_pod_host_ip" -> str(status, "hostIP"),
      "__meta_kubernetes_pod_uid" -> str(meta, "uid")) ++
      objectMetaLabels(meta, "pod") ++ ctrl
  }

  /** per-container/per-port targets (ref: pod.go buildPod: a port-less
    * container targets the bare pod IP; each declared port targets ip:port).
    * `nodesByName` non-empty = attach_metadata.node (ref: pod.go:390 merges
    * the node's objectMeta labels into the group's shared labels). */
  private def buildPod(pod: J, nodesByName: Map[String, J],
      podMeta: PodMeta = PodMeta()): TargetGroup = {
    val meta = map(pod, "metadata"); val spec = map(pod, "spec"); val status = map(pod, "status")
    val source = s"pod/${str(meta, "namespace")}/${str(meta, "name")}"
    val podIP = str(status, "podIP")
    if (podIP.isEmpty) return TargetGroup(source, Map.empty, Nil)
    val statuses = (list(status, "containerStatuses") ++ list(status, "initContainerStatuses"))
      .map(cs => str(cs, "name") -> str(cs, "containerID")).toMap
    val containers = list(spec, "containers").map((_, false)) ++
      list(spec, "initContainers").map((_, true))
    val targets = containers.flatMap { case (c, isInit) =>
      val cname = str(c, "name")
      val common = Map(
        "__meta_kubernetes_pod_container_name" -> cname,
        "__meta_kubernetes_pod_container_id" -> statuses.getOrElse(cname, ""),
        "__meta_kubernetes_pod_container_image" -> str(c, "image"),
        "__meta_kubernetes_pod_container_init" -> isInit.toString)
      val ports = list(c, "ports")
      if (ports.isEmpty) Seq((podIP, common))
      else ports.map { p =>
        val num = str(p, "containerPort")
        (hostPort(podIP, num), common ++ Map(
          "__meta_kubernetes_pod_container_port_name" -> str(p, "name"),
          "__meta_kubernetes_pod_container_port_number" -> num,
          "__meta_kubernetes_pod_container_port_protocol" -> str(p, "protocol")))
      }
    }
    TargetGroup(source,
      podSharedLabels(pod, podMeta) ++ nodeMetaLabels(nodesByName, str(spec, "nodeName")),
      targets)
  }

  // ------------------------------------------------------------------ node

  /** ref: node.go nodeAddress — priority InternalIP > InternalDNS >
    * ExternalIP > ExternalDNS > LegacyHostIP > Hostname */
  private val nodeAddrPriority =
    Seq("InternalIP", "InternalDNS", "ExternalIP", "ExternalDNS", "LegacyHostIP", "Hostname")

  private def buildNode(node: J): Option[TargetGroup] = {
    val meta = map(node, "metadata"); val spec = map(node, "spec"); val status = map(node, "status")
    val source = s"node/${str(meta, "name")}"
    val addrs = list(status, "addresses")
    val byType = addrs.groupBy(a => str(a, "type"))
    val primary = nodeAddrPriority.iterator
      .flatMap(t => byType.getOrElse(t, Nil).headOption).map(a => str(a, "address"))
      .toSeq.headOption
    primary.map { addr =>
      val port = str(map(map(status, "daemonEndpoints"), "kubeletEndpoint"), "Port")
      val conditions = list(status, "conditions").map(c =>
        "__meta_kubernetes_node_condition_" + sanitize(str(c, "type").toLowerCase) ->
          str(c, "status").toLowerCase).toMap
      val addrLabels = byType.collect { case (t, as) if as.nonEmpty =>
        sanitize("__meta_kubernetes_node_address_" + t) -> str(as.head, "address")
      }
      val shared = Map("__meta_kubernetes_node_provider_id" -> str(spec, "providerID")) ++
        conditions ++ objectMetaLabels(meta, "node")
      val tl = addrLabels ++ Map("instance" -> str(meta, "name"))
      TargetGroup(source, shared,
        Seq((hostPort(addr, if (port.isEmpty) "10250" else port), tl)))
    }
  }

  // --------------------------------------------------------------- service

  /** ref: service.go buildService — one target per port at
    * name.namespace.svc:port */
  private def buildService(svc: J): TargetGroup = {
    val meta = map(svc, "metadata"); val spec = map(svc, "spec")
    val ns = str(meta, "namespace"); val name = str(meta, "name")
    val source = s"svc/$ns/$name"
    val svcType = str(spec, "type")
    val shared = Map("__meta_kubernetes_namespace" -> ns) ++
      objectMetaLabels(meta, "service")
    val targets = list(spec, "ports").map { p =>
      val port = str(p, "port")
      val tl0 = Map(
        "__meta_kubernetes_service_port_name" -> str(p, "name"),
        "__meta_kubernetes_service_port_number" -> port,
        "__meta_kubernetes_service_port_protocol" -> str(p, "protocol"),
        "__meta_kubernetes_service_type" -> svcType)
      val tl1 =
        if (svcType == "ExternalName")
          tl0 + ("__meta_kubernetes_service_external_name" -> str(spec, "externalName"))
        else tl0 + ("__meta_kubernetes_service_cluster_ip" -> str(spec, "clusterIP"))
      val tl2 =
        if (svcType == "LoadBalancer")
          tl1 + ("__meta_kubernetes_service_loadbalancer_ip" -> str(spec, "loadBalancerIP"))
        else tl1
      (hostPort(s"$name.$ns.svc", port), tl2)
    }
    TargetGroup(source, shared, targets)
  }

  // ------------------------------------------------------------- endpoints

  /** ref: endpoints.go buildEndpoints — per subset × port × address targets,
    * not-ready addresses emitted with ready="false"; pod-backed addresses
    * merge the pod's shared labels and the matching container port labels */
  private def buildEndpoints(eps: J, podsByKey: Map[String, J],
      nodesByName: Map[String, J], podMeta: PodMeta): TargetGroup = {
    val meta = map(eps, "metadata")
    val ns = str(meta, "namespace"); val name = str(meta, "name")
    val source = s"endpoints/$ns/$name"
    val shared = Map(
      "__meta_kubernetes_namespace" -> ns,
      "__meta_kubernetes_service_name" -> name) ++ // service of the same name
      objectMetaLabels(meta, "endpoints")
    val targets = Seq.newBuilder[(String, Map[String, String])]
    for (ss <- list(eps, "subsets"); port <- list(ss, "ports")) {
      val portNum = str(port, "port")
      def add(addr: J, ready: String): Unit = {
        val ip = str(addr, "ip")
        var tl = Map(
          "__meta_kubernetes_endpoint_port_name" -> str(port, "name"),
          "__meta_kubernetes_endpoint_port_protocol" -> str(port, "protocol"),
          "__meta_kubernetes_endpoint_ready" -> ready)
        val ref = map(addr, "targetRef")
        if (ref.nonEmpty)
          tl ++= Map(
            "__meta_kubernetes_endpoint_address_target_kind" -> str(ref, "kind"),
            "__meta_kubernetes_endpoint_address_target_name" -> str(ref, "name"))
        val nodeName = str(addr, "nodeName")
        if (nodeName.nonEmpty) tl += "__meta_kubernetes_endpoint_node_name" -> nodeName
        val hostname = str(addr, "hostname")
        if (hostname.nonEmpty) tl += "__meta_kubernetes_endpoint_hostname" -> hostname
        // attach_metadata.node (ref: endpoints.go:390-395 — the address's
        // node if set, else a Node-kind targetRef)
        if (nodesByName.nonEmpty) {
          val nn = if (nodeName.nonEmpty) nodeName
            else if (str(ref, "kind") == "Node") str(ref, "name") else ""
          tl ++= nodeMetaLabels(nodesByName, nn)
        }
        // pod-backed address: merge the pod's standard labels + container port
        if (str(ref, "kind") == "Pod") {
          podsByKey.get(str(ref, "namespace") + "/" + str(ref, "name")).foreach { pod =>
            tl ++= podSharedLabels(pod, podMeta) - "__meta_kubernetes_namespace"
            val spec = map(pod, "spec")
            val containers = list(spec, "containers").map((_, false)) ++
              list(spec, "initContainers").map((_, true))
            containers.iterator.flatMap { case (c, isInit) =>
              list(c, "ports").find(p => str(p, "containerPort") == portNum)
                .map(p => (c, isInit, p))
            }.take(1).foreach { case (c, isInit, p) =>
              val cname = str(c, "name")
              val statuses = (list(map(pod, "status"), "containerStatuses") ++
                list(map(pod, "status"), "initContainerStatuses"))
                .map(cs => str(cs, "name") -> str(cs, "containerID")).toMap
              tl ++= Map(
                "__meta_kubernetes_pod_container_name" -> cname,
                "__meta_kubernetes_pod_container_id" -> statuses.getOrElse(cname, ""),
                "__meta_kubernetes_pod_container_image" -> str(c, "image"),
                "__meta_kubernetes_pod_container_port_name" -> str(p, "name"),
                "__meta_kubernetes_pod_container_port_number" -> portNum,
                "__meta_kubernetes_pod_container_port_protocol" -> str(port, "protocol"),
                "__meta_kubernetes_pod_container_init" -> isInit.toString)
            }
          }
        }
        targets += ((hostPort(ip, portNum), tl))
      }
      list(ss, "addresses").foreach(add(_, "true"))
      list(ss, "notReadyAddresses").foreach(add(_, "false"))
    }
    TargetGroup(source, shared, targets.result())
  }

  /** ref: endpointslice.go buildEndpointSlice — same target shape as
    * endpoints with the endpointslice meta prefix + conditions */
  private def buildEndpointSlice(es: J, podsByKey: Map[String, J],
      nodesByName: Map[String, J], podMeta: PodMeta): TargetGroup = {
    val meta = map(es, "metadata")
    val ns = str(meta, "namespace"); val name = str(meta, "name")
    val source = s"endpointslice/$ns/$name"
    val svcName = str(map(meta, "labels"), "kubernetes.io/service-name")
    val shared = Map(
      "__meta_kubernetes_namespace" -> ns,
      "__meta_kubernetes_endpointslice_name" -> name,
      "__meta_kubernetes_endpointslice_address_type" -> str(es, "addressType")) ++
      (if (svcName.nonEmpty) Map("__meta_kubernetes_service_name" -> svcName) else Map.empty)
    val targets = Seq.newBuilder[(String, Map[String, String])]
    for (port <- list(es, "ports"); ep <- list(es, "endpoints")) {
      val portNum = str(port, "port")
      val cond = map(ep, "conditions")
      val ready = cond.getOrElse("ready", null) != java.lang.Boolean.FALSE
      strs(ep, "addresses").headOption.foreach { ip =>
        var tl = Map(
          "__meta_kubernetes_endpointslice_port" -> portNum,
          "__meta_kubernetes_endpointslice_port_name" -> str(port, "name"),
          "__meta_kubernetes_endpointslice_port_protocol" -> str(port, "protocol"),
          "__meta_kubernetes_endpointslice_endpoint_conditions_ready" -> ready.toString)
        val ref = map(ep, "targetRef")
        if (ref.nonEmpty)
          tl ++= Map(
            "__meta_kubernetes_endpointslice_address_target_kind" -> str(ref, "kind"),
            "__meta_kubernetes_endpointslice_address_target_name" -> str(ref, "name"))
        val nodeName = str(ep, "nodeName")
        if (nodeName.nonEmpty)
          tl += "__meta_kubernetes_endpointslice_endpoint_topology_kubernetes_io_hostname" -> nodeName
        // attach_metadata.node (ref: endpointslice.go — endpoint nodeName,
        // else a Node-kind targetRef)
        if (nodesByName.nonEmpty) {
          val nn = if (nodeName.nonEmpty) nodeName
            else if (str(ref, "kind") == "Node") str(ref, "name") else ""
          tl ++= nodeMetaLabels(nodesByName, nn)
        }
        if (str(ref, "kind") == "Pod")
          podsByKey.get(str(ref, "namespace") + "/" + str(ref, "name")).foreach { pod =>
            tl ++= podSharedLabels(pod, podMeta) - "__meta_kubernetes_namespace"
          }
        targets += ((hostPort(ip, portNum), tl))
      }
    }
    TargetGroup(source, shared, targets.result())
  }

  // --------------------------------------------------------------- ingress

  /** ref: ingress.go buildIngress — one target per rule host × path; scheme
    * https when a TLS host pattern matches the rule host */
  private def buildIngress(ing: J): TargetGroup = {
    val meta = map(ing, "metadata"); val spec = map(ing, "spec")
    val ns = str(meta, "namespace"); val name = str(meta, "name")
    val source = s"ingress/$ns/$name"
    val cls = str(spec, "ingressClassName")
    val shared = Map("__meta_kubernetes_namespace" -> ns) ++
      objectMetaLabels(meta, "ingress") ++
      (if (cls.nonEmpty) Map("__meta_kubernetes_ingress_class_name" -> cls) else Map.empty)
    val tlsHosts = list(spec, "tls").flatMap(strs(_, "hosts"))
    def matchesPattern(pattern: String, host: String): Boolean = {
      if (pattern == host) return true
      val pp = pattern.split('.'); val hp = host.split('.')
      pp.headOption.contains("*") && pp.length == hp.length &&
        pp.tail.sameElements(hp.tail)
    }
    val targets = list(spec, "rules").flatMap { rule =>
      val host = str(rule, "host")
      val scheme = if (tlsHosts.exists(matchesPattern(_, host))) "https" else "http"
      val paths0 = list(map(rule, "http"), "paths").map(p => str(p, "path")).filter(_.nonEmpty)
      val paths = if (paths0.isEmpty) Seq("/") else paths0
      paths.map(path => (host, Map(
        "__meta_kubernetes_ingress_scheme" -> scheme,
        "__meta_kubernetes_ingress_host" -> host,
        "__meta_kubernetes_ingress_path" -> path)))
    }
    TargetGroup(source, shared, targets)
  }

  // -------------------------------------------------------------- provider

  private def listPath(role: String, namespace: String): String = {
    val nsSeg = if (namespace.isEmpty) "" else s"/namespaces/$namespace"
    role match {
      case "node" => "/api/v1/nodes"
      case "namespace" => "/api/v1/namespaces"
      case "replicaset" => s"/apis/apps/v1$nsSeg/replicasets"
      case "job" => s"/apis/batch/v1$nsSeg/jobs"
      case "pod" => s"/api/v1$nsSeg/pods"
      case "service" => s"/api/v1$nsSeg/services"
      case "endpoints" => s"/api/v1$nsSeg/endpoints"
      case "endpointslice" => s"/apis/discovery.k8s.io/v1$nsSeg/endpointslices"
      case "ingress" => s"/apis/networking.k8s.io/v1$nsSeg/ingresses"
      case other => throw new IllegalArgumentException(s"unknown kubernetes role $other")
    }
  }

  /** selector for `resourceRole` as LIST query params (ref: the informer
    * list options carry LabelSelector/FieldSelector; a LIST transport passes
    * the same strings as `labelSelector`/`fieldSelector`) */
  private def selQuery(selectors: Seq[Selector], resourceRole: String): String =
    selectors.find(_.role == resourceRole).map { sel =>
      val ps = Seq("labelSelector" -> sel.label, "fieldSelector" -> sel.field)
        .filter(_._2.nonEmpty)
        .map { case (k, v) =>
          k + "=" + java.net.URLEncoder.encode(v, java.nio.charset.StandardCharsets.UTF_8) }
      if (ps.isEmpty) "" else "?" + ps.mkString("&")
    }.getOrElse("")

  private def items(client: ApiClient, role: String, namespaces: Seq[String],
      query: String = ""): List[J] = {
    val nss = if (namespaces.isEmpty) Seq("") else namespaces
    nss.flatMap(ns =>
      list(map(JsonLite.parse(client.get(listPath(role, ns) + query))), "items")).toList
  }

  // -------------------------------------------------------------- informers

  /** Minimal shared-informer analog (ref: kubernetes.go builds client-go
    * SharedIndexInformers per role/namespace): ONE initial LIST seeds a
    * keyed object cache and captures the list-level resourceVersion; a
    * daemon thread then holds a WATCH open from that version and applies
    * ADDED/MODIFIED/DELETED events incrementally (BOOKMARK advances the
    * version without data). `snapshot()` reads the live cache instead of
    * re-LISTing, so churn between manager polls is visible at the very next
    * poll and steady-state network cost is O(changes) — not
    * O(objects)·polls, the property that makes cluster-scale freshness
    * affordable. An ERROR event (410 Gone: the version was compacted away)
    * invalidates the cache and the loop re-LISTs (client-go's relist); a
    * dropped connection resumes the watch from the last seen version (the
    * API server replays missed events, or answers 410 → relist). While a
    * relist is pending the cache serves its previous objects — the same
    * keep-on-failure contract as the manager's whole-refresh-throws path. */
  final class Informer(client: WatchApiClient, resource: String,
      namespace: String, query: String) {
    // the cache is a VOLATILE REFERENCE to a concurrent map: watch events
    // mutate the current map in place (single writer — the watch thread),
    // while a relist builds a fresh map and publishes it with one reference
    // swap. A concurrent snapshot() therefore sees exactly the old state or
    // exactly the new state, never a mix (the round-12 retainAll+putAll
    // two-step could briefly hide newly-added objects from a snapshot
    // taken between the steps).
    @volatile private var byKey =
      new java.util.concurrent.ConcurrentHashMap[String, J]()
    @volatile private var rv: String = ""
    @volatile private var valid = false
    @volatile private var closed = false
    private var thread: Thread = null
    // observability for specs (LIST amplification is the thing informers kill)
    @volatile private[streaming] var lists = 0L
    @volatile private[streaming] var events = 0L

    private def path = listPath(resource, namespace)
    private def okey(meta: J): String = str(meta, "namespace") + "/" + str(meta, "name")

    private[streaming] def relist(): Unit = {
      val body = map(JsonLite.parse(client.get(path + query)))
      // populate a LOCAL map and publish it with one volatile write:
      // snapshot() reads concurrently from the manager poll thread, and the
      // "previous objects while a relist is pending" contract requires it
      // to see either the complete old or the complete new state
      val fresh = new java.util.concurrent.ConcurrentHashMap[String, J]()
      list(body, "items").foreach(o => fresh.put(okey(map(o, "metadata")), o))
      rv = str(map(body, "metadata"), "resourceVersion")
      byKey = fresh
      lists += 1
      valid = true
    }

    private def handle(line: String): Unit = {
      val ev = map(JsonLite.parse(line))
      val obj = map(ev, "object")
      val orv = str(map(obj, "metadata"), "resourceVersion")
      events += 1
      str(ev, "type") match {
        case "ADDED" | "MODIFIED" => byKey.put(okey(map(obj, "metadata")), obj)
        case "DELETED" => byKey.remove(okey(map(obj, "metadata")))
        case "BOOKMARK" => ()
        case "ERROR" => valid = false // 410 Gone etc → relist from scratch
        case _ => ()
      }
      if (orv.nonEmpty) rv = orv
    }

    private def watchLoop(): Unit = {
      var failures = 0
      while (!closed) {
        try {
          if (!valid) relist()
          val wq = (if (query.isEmpty) "?" else query + "&") +
            "watch=1&allowWatchBookmarks=true&resourceVersion=" +
            java.net.URLEncoder.encode(rv, java.nio.charset.StandardCharsets.UTF_8)
          client.watch(path + wq, handle, () => closed || !valid)
          failures = 0 // clean close / deliberate invalidation
        } catch { case _: Exception => failures += 1 } // resume from rv after the pause
        // clean close / invalidation / failure all re-enter through here;
        // the pause bounds reconnect churn against a flapping server, and
        // consecutive failures back off exponentially (50ms → 30s cap) so a
        // down API server isn't hammered at reconnect speed
        val pause = math.min(50L << math.min(failures, 10), 30000L)
        if (!closed) try Thread.sleep(pause) catch { case _: InterruptedException => return }
      }
    }

    /** first call LISTs synchronously (a provider's first refresh must see
      * full targets) and starts the watch thread */
    def ensureStarted(): Unit = synchronized {
      if (thread == null) {
        relist()
        thread = new Thread(() => watchLoop(), s"k8s-informer-$resource-$namespace")
        thread.setDaemon(true)
        thread.start()
      }
    }

    def snapshot(): List[J] = {
      ensureStarted()
      import scala.jdk.CollectionConverters._
      byKey.values.asScala.toList
    }

    def close(): Unit = {
      closed = true
      // a watch blocked on a silent stream only checks stopped() per line —
      // interrupt so reloads don't park a thread until the server speaks
      synchronized { if (thread != null) thread.interrupt() }
    }
  }

  /** one kubernetes_sd_configs entry as a manager provider; a whole-refresh
    * failure keeps previous targets (manager semantics) */
  final class KubernetesProvider(override val name: String, cfg: Config,
      client: ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) =
      this(name, cfg, new HttpApiClient(cfg.apiServer, cfg.bearerTokenFile))
    override def refreshMs: Long = cfg.refreshMs

    // informer per (resource, namespace, selector query) — shared across
    // refreshes for the provider's lifetime (client-go's shared-informer
    // factory scope); closed with the provider on config reload
    private val informers =
      TrieMap[(String, String, String), Informer]()
    private[streaming] def informerFor(resource: String, ns: String, query: String): Informer =
      client match {
        case wc: WatchApiClient =>
          informers.getOrElseUpdate((resource, ns, query), new Informer(wc, resource, ns, query))
        case _ => throw new IllegalStateException("client is not watch-capable")
      }
    override def close(): Unit = informers.values.foreach(_.close())

    /** objects of `resource` across `namespaces` — live informer caches when
      * the client can watch (the reference's only mode), LIST-per-refresh
      * otherwise (injected list-only fakes, and the degenerate-but-valid
      * polling transport) */
    private def objs(resource: String, namespaces: Seq[String], query: String = ""): List[J] =
      client match {
        case _: WatchApiClient =>
          val nss = if (namespaces.isEmpty) Seq("") else namespaces
          nss.flatMap(ns => informerFor(resource, ns, query).snapshot()).toList
        case _ => items(client, resource, namespaces, query)
      }

    /** ref: kubernetes.go Discovery.namespaces() — own_namespace appends the
      * mounted service-account namespace; no names + no own_namespace = all
      * namespaces; own_namespace with an empty/missing mount and no names
      * discovers nothing (the reference's exact degenerate case) */
    private def effectiveNamespaces(): Seq[String] =
      if (cfg.namespaces.isEmpty && !cfg.ownNamespace) Seq("")
      else {
        val own = if (!cfg.ownNamespace) "" else {
          val f = new java.io.File(cfg.namespaceFile)
          if (!f.exists()) ""
          else new String(java.nio.file.Files.readAllBytes(f.toPath),
            java.nio.charset.StandardCharsets.UTF_8).trim
        }
        if (own.nonEmpty) (cfg.namespaces :+ own).distinct else cfg.namespaces
      }

    override def refresh(): Seq[Discovery.TargetGroup] = {
      val nss = effectiveNamespaces()
      if (nss.isEmpty) return Nil
      def q(r: String) = selQuery(cfg.selectors, r)
      // attach_metadata lookups are ONE unselected LIST each per refresh —
      // node/namespace object counts are cluster-scale, driver-held only
      val nodes: Map[String, J] =
        if (cfg.attachMetadata.node && cfg.role != "node")
          objs("node", Nil, q("node"))
            .map(n => str(map(n, "metadata"), "name") -> n).toMap
        else Map.empty
      val nsMeta: Map[String, J] =
        if (cfg.attachMetadata.namespace && cfg.role != "node")
          objs("namespace", Nil)
            .map(n => str(map(n, "metadata"), "name") -> n).toMap
        else Map.empty
      // attach_metadata.{deployment,cronjob}: owner-name lookup tables from
      // one ReplicaSet / Job LIST (ref pod.go podLabels owner-chain walk)
      val podRoles = Set("pod", "endpoints", "endpointslice")
      def ownerIndex(resource: String, ownerKind: String): Map[String, String] =
        objs(resource, nss).flatMap { o =>
          val meta = map(o, "metadata")
          controllerOf(meta).filter(r => str(r, "kind") == ownerKind)
            .map(r => str(meta, "namespace") + "/" + str(meta, "name") -> str(r, "name"))
        }.toMap
      val podMeta = PodMeta(
        jobName = cfg.attachMetadata.job,
        deploymentByRs =
          if (cfg.attachMetadata.deployment && podRoles(cfg.role))
            Some(ownerIndex("replicaset", "Deployment")) else None,
        cronjobByJob =
          if (cfg.attachMetadata.cronjob && podRoles(cfg.role))
            Some(ownerIndex("job", "CronJob")) else None)
      val groups: Seq[TargetGroup] = cfg.role match {
        case "node" => objs("node", Nil, q("node")).flatMap(buildNode)
        case "pod" => objs("pod", nss, q("pod")).map(buildPod(_, nodes, podMeta))
        case "service" => objs("service", nss, q("service")).map(buildService)
        case "endpoints" =>
          val pods = podIndex(nss)
          objs("endpoints", nss, q("endpoints")).map(buildEndpoints(_, pods, nodes, podMeta))
        case "endpointslice" =>
          val pods = podIndex(nss)
          objs("endpointslice", nss, q("endpointslice")).map(buildEndpointSlice(_, pods, nodes, podMeta))
        case "ingress" => objs("ingress", nss, q("ingress")).map(buildIngress)
        case other => throw new IllegalArgumentException(s"unknown kubernetes role $other")
      }
      // attach_metadata.namespace: merge the namespace's labels/annotations
      // onto every namespaced group's shared labels
      val finalGroups =
        if (nsMeta.isEmpty) groups
        else groups.map { g =>
          val ns = g.labels.getOrElse("__meta_kubernetes_namespace", "")
          if (ns.isEmpty) g else g.copy(labels = g.labels ++ namespaceMetaLabels(nsMeta, ns))
        }
      // deletion tombstones: the manager keeps sources a refresh doesn't
      // mention, so an object that vanished (informer DELETED event, or
      // absent from a re-LIST) must be emitted as an EMPTY group or its
      // targets would be scraped forever (ref: the per-role informer
      // DeleteFunc sends &targetgroup.Group{Source: ...} with no targets)
      val current = finalGroups.map(_.source).toSet
      val tombstones = (lastSources -- current).toSeq.sorted
        .map(src => Discovery.TargetGroup(src, Map.empty, Nil))
      lastSources = current
      finalGroups.map(g => Discovery.TargetGroup(g.source, g.labels, g.targets)) ++ tombstones
    }
    // sources of the previous successful refresh (single-flight per provider,
    // so plain state is safe)
    private var lastSources: Set[String] = Set.empty
    private def podIndex(namespaces: Seq[String]): Map[String, J] =
      objs("pod", namespaces, selQuery(cfg.selectors, "pod"))
        .map(p => str(map(p, "metadata"), "namespace") + "/" + str(map(p, "metadata"), "name") -> p)
        .toMap
  }

  // internal group shape before adapting to Discovery.TargetGroup
  private final case class TargetGroup(source: String, labels: Map[String, String],
      targets: Seq[(String, Map[String, String])])
}
