package graft.streaming

import AwsSd._
import SdJson._

/** MSK (Managed Streaming for Kafka) service discovery (ref:
  * discovery/aws/msk.go).
  *
  * One refresh lists PROVISIONED clusters (or describes the configured
  * ARNs — non-provisioned clusters are skipped with a warning, like the
  * reference), lists each cluster's nodes, and emits ONE TARGET PER
  * BROKER/CONTROLLER ENDPOINT (a node with three endpoints yields three
  * targets differing in `__meta_msk_broker_endpoint_index` /
  * `__meta_msk_controller_endpoint_index`), carrying the reference's
  * `__meta_msk_*` label set. Nodes that are neither broker nor controller
  * are skipped.
  *
  * The MSK ("kafka") API is REST JSON. Production signs GETs with
  * [[Ec2Sd.SigV4]]; tests inject a fake [[MskSd.ApiClient]]. Region
  * resolution defers to the first refresh ([[AwsSd.resolveRegion]],
  * ref #19037).
  */
object MskSd {

  /** msk_sd_configs entry (ref: aws/msk.go MSKSDConfig; defaults port 80,
    * refresh 60s, request_concurrency 10) */
  final case class Config(
      region: String = "",
      port: Int = 80,
      accessKey: String = "",
      secretKey: String = "",
      endpoint: String = "",
      roleArn: String = "", // STS AssumeRole (ref #18579)
      externalId: String = "",
      profile: String = "", // shared-credentials-file profile
      clusters: Seq[String] = Nil,
      refreshMs: Long = 60000L)

  /** injectable transport returning the REST API's JSON bodies */
  trait ApiClient {
    def listClustersV2(nextToken: Option[String]): String
    def describeClusterV2(arn: String): String
    def listNodes(arn: String, nextToken: Option[String]): String
  }

  /** production client: SigV4-signed GETs against the kafka REST API */
  final class HttpApiClient(cfg: Config, region: String) extends ApiClient {
    private val (host, base) =
      AwsSd.endpointOf(cfg.endpoint, s"kafka.$region.amazonaws.com")
    private val credsProvider = AwsSd.credentials(cfg.accessKey,
      cfg.secretKey, cfg.roleArn, cfg.externalId, region, profile = cfg.profile)

    /** SigV4 over a GET: signs the exact path and query with an empty
      * payload hash */
    private def get(pathAndQuery: String): String = {
      val uri = java.net.URI.create(base + pathAndQuery)
      SdHttp.get("msk", uri.toString, Ec2Sd.SigV4.headersFor(credsProvider.creds(),
        region, "kafka", host, "GET", uri.getRawPath,
        Option(uri.getRawQuery).getOrElse(""), "", java.time.Instant.now()), accept = "")
    }

    private def enc(s: String): String =
      java.net.URLEncoder.encode(s, "UTF-8")
    override def listClustersV2(tok: Option[String]): String =
      get("/api/v2/clusters?clusterTypeFilter=PROVISIONED&maxResults=100" +
        tok.map(t => s"&nextToken=${enc(t)}").getOrElse(""))
    override def describeClusterV2(arn: String): String =
      get(s"/api/v2/clusters/${enc(arn)}")
    override def listNodes(arn: String, tok: Option[String]): String =
      get(s"/v1/clusters/${enc(arn)}/nodes?maxResults=100" +
        tok.map(t => s"&nextToken=${enc(t)}").getOrElse(""))
  }

  // ------------------------------------------------------------- provider

  final class MskProvider(override val name: String, cfg: Config,
      clientFor: String => ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) =
      this(name, cfg, r => new HttpApiClient(cfg, r))
    override def refreshMs: Long = cfg.refreshMs

    override def refresh(): Seq[Discovery.TargetGroup] = {
      val region = resolveRegion(cfg.region)
      val api = clientFor(region)

      val clusters: Seq[Map[String, Any]] =
        if (cfg.clusters.nonEmpty)
          // DescribeClusterV2 per configured ARN; skip non-provisioned
          // (ref msk.go describeClusters warns and drops serverless)
          cfg.clusters.flatMap { arn =>
            val info = map(map(graft.web.JsonLite.parse(
              api.describeClusterV2(arn))).getOrElse("clusterInfo", Map.empty))
            if (str(info, "clusterType") == "PROVISIONED") Some(info) else None
          }
        else {
          val out = Seq.newBuilder[Map[String, Any]]
          var tok: Option[String] = None
          var more = true
          while (more) {
            val resp = graft.web.JsonLite.parse(api.listClustersV2(tok))
            out ++= list(map(resp), "clusterInfoList")
            tok = opt(map(resp), "nextToken").filter(_.nonEmpty)
            more = tok.isDefined
          }
          out.result()
        }

      val targets = Seq.newBuilder[(String, Map[String, String])]
      clusters.foreach { cluster =>
        val clusterArn = str(cluster, "clusterArn")
        val nodes = {
          val out = Seq.newBuilder[Map[String, Any]]
          var tok: Option[String] = None
          var more = true
          while (more) {
            val resp = graft.web.JsonLite.parse(api.listNodes(clusterArn, tok))
            out ++= list(map(resp), "nodeInfoList")
            tok = opt(map(resp), "nextToken").filter(_.nonEmpty)
            more = tok.isDefined
          }
          out.result()
        }
        val prov = map(cluster.getOrElse("provisioned", Map.empty))
        val swInfo = map(prov.getOrElse("currentBrokerSoftwareInfo", Map.empty))
        val openMon = map(prov.getOrElse("openMonitoring", Map.empty))
        val promMon = map(openMon.getOrElse("prometheus", Map.empty))

        nodes.foreach { node =>
          var l = Map(
            "__meta_msk_cluster_name" -> str(cluster, "clusterName"),
            "__meta_msk_cluster_arn" -> clusterArn,
            "__meta_msk_cluster_state" -> str(cluster, "state"),
            "__meta_msk_cluster_type" -> str(cluster, "clusterType"),
            "__meta_msk_cluster_version" -> str(cluster, "currentVersion"),
            "__meta_msk_node_arn" -> str(node, "nodeARN"),
            "__meta_msk_node_added_time" -> str(node, "addedToClusterTime"),
            "__meta_msk_node_instance_type" -> str(node, "instanceType"),
            "__meta_msk_cluster_configuration_arn" -> str(swInfo, "configurationArn"),
            "__meta_msk_cluster_configuration_revision" ->
              (if (str(swInfo, "configurationRevision").nonEmpty)
                str(swInfo, "configurationRevision") else "0"),
            "__meta_msk_cluster_kafka_version" -> str(swInfo, "kafkaVersion"))
          // omitted when Open Monitoring is off (ref msk.go)
          map(promMon.getOrElse("jmxExporter", Map.empty))
            .get("enabledInBroker").foreach(v =>
              l += "__meta_msk_cluster_jmx_exporter_enabled" -> v.toString)
          map(cluster.getOrElse("tags", Map.empty)).foreach { case (k, v) =>
            l += "__meta_msk_cluster_tag_" + KubernetesSd.sanitize(k) ->
              String.valueOf(v)
          }
          val broker = map(node.getOrElse("brokerNodeInfo", Map.empty))
          val controller = map(node.getOrElse("controllerNodeInfo", Map.empty))
          if (broker.nonEmpty) {
            l += "__meta_msk_node_type" -> "BROKER"
            l += "__meta_msk_node_attached_eni" -> str(broker, "attachedENIId")
            l += "__meta_msk_broker_id" -> str(broker, "brokerId")
            l += "__meta_msk_broker_client_subnet" -> str(broker, "clientSubnet")
            l += "__meta_msk_broker_client_vpc_ip" -> str(broker, "clientVpcIpAddress")
            map(promMon.getOrElse("nodeExporter", Map.empty))
              .get("enabledInBroker").foreach(v =>
                l += "__meta_msk_broker_node_exporter_enabled" -> v.toString)
            strs(broker, "endpoints").zipWithIndex.foreach { case (ep, idx) =>
              targets += ((hostPort(ep, cfg.port),
                l + ("__meta_msk_broker_endpoint_index" -> idx.toString)))
            }
          } else if (controller.nonEmpty) {
            l += "__meta_msk_node_type" -> "CONTROLLER"
            strs(controller, "endpoints").zipWithIndex.foreach { case (ep, idx) =>
              targets += ((hostPort(ep, cfg.port),
                l + ("__meta_msk_controller_endpoint_index" -> idx.toString)))
            }
          } // other node types skipped (ref msk.go nodeType default)
        }
      }
      Seq(Discovery.TargetGroup(region, Map.empty, targets.result()))
    }
  }
}
