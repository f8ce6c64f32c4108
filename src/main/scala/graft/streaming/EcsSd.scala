package graft.streaming

import AwsSd._
import SdJson._

/** ECS service discovery (ref: discovery/aws/ecs.go).
  *
  * One refresh walks clusters → services/tasks → container instances →
  * EC2 instances/ENIs and emits one target per running task with the
  * reference's `__meta_ecs_*` label set (ecs.go buildLabels inside
  * refresh): awsvpc tasks take their IP/subnet from the ENI attachment
  * (public IP via DescribeNetworkInterfaces), bridge/host tasks from the
  * backing EC2 instance. Tasks without a resolvable IP are skipped.
  *
  * The ECS API is JSON 1.1 (POST + X-Amz-Target); the EC2 sub-calls are
  * Query XML. Production signs both with [[Ec2Sd.SigV4]]; tests inject a
  * fake [[EcsSd.ApiClient]] returning canned payloads — the same seam the
  * reference's ecs_test.go uses with a mocked SDK client. Region
  * resolution is deferred to the first refresh (ref #19037, see
  * [[AwsSd.resolveRegion]]) so config-only checks stay network-free.
  */
object EcsSd {

  /** ecs_sd_configs entry (ref: aws/ecs.go ECSSDConfig; defaults port 80,
    * refresh 60s, request_concurrency 20) */
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
      requestConcurrency: Int = 20,
      refreshMs: Long = 60000L)

  /** injectable transport; ECS methods return JSON, ec2* return XML */
  trait ApiClient {
    def listClusters(nextToken: Option[String]): String
    def describeClusters(arns: Seq[String]): String
    def listServices(cluster: String, nextToken: Option[String]): String
    def describeServices(cluster: String, arns: Seq[String]): String
    def listTasks(cluster: String, nextToken: Option[String]): String
    def describeTasks(cluster: String, arns: Seq[String]): String
    def describeContainerInstances(cluster: String, arns: Seq[String]): String
    def ec2DescribeInstances(ids: Seq[String]): String
    def ec2DescribeNetworkInterfaces(eniIds: Seq[String]): String
  }

  /** production client: SigV4-signed JSON-1.1 calls to the ECS endpoint
    * plus Query-XML calls to EC2 for instance/ENI enrichment */
  final class HttpApiClient(cfg: Config, region: String) extends ApiClient {
    private val (ecsHost, ecsBase) =
      AwsSd.endpointOf(cfg.endpoint, s"ecs.$region.amazonaws.com")
    private val ec2Host = s"ec2.$region.amazonaws.com"
    private val credsProvider = AwsSd.credentials(cfg.accessKey,
      cfg.secretKey, cfg.roleArn, cfg.externalId, region, profile = cfg.profile)

    private def post(base: String, host: String, service: String, body: String,
        contentType: String, extra: Map[String, String]): String =
      AwsSd.post("ecs", base, body, Ec2Sd.SigV4.headers(credsProvider.creds(), region,
        service, host, body, java.time.Instant.now(), contentType, extra))

    private def ecs(action: String, body: String): String =
      post(ecsBase, ecsHost, "ecs", body, "application/x-amz-json-1.1",
        Map("x-amz-target" -> s"AmazonEC2ContainerServiceV20141113.$action"))
    private def jsArr(xs: Seq[String]): String =
      xs.map(s => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
        .mkString("[", ",", "]")

    override def listClusters(tok: Option[String]): String =
      ecs("ListClusters", "{\"maxResults\":100" +
        tok.map(t => s""","nextToken":"$t"""").getOrElse("") + "}")
    override def describeClusters(arns: Seq[String]): String =
      ecs("DescribeClusters",
        s"""{"clusters":${jsArr(arns)},"include":["TAGS"]}""")
    override def listServices(cluster: String, tok: Option[String]): String =
      ecs("ListServices", s"""{"cluster":"$cluster","maxResults":100""" +
        tok.map(t => s""","nextToken":"$t"""").getOrElse("") + "}")
    override def describeServices(cluster: String, arns: Seq[String]): String =
      ecs("DescribeServices", s"""{"cluster":"$cluster","services":${jsArr(arns)},"include":["TAGS"]}""")
    override def listTasks(cluster: String, tok: Option[String]): String =
      ecs("ListTasks", s"""{"cluster":"$cluster","maxResults":100""" +
        tok.map(t => s""","nextToken":"$t"""").getOrElse("") + "}")
    override def describeTasks(cluster: String, arns: Seq[String]): String =
      ecs("DescribeTasks", s"""{"cluster":"$cluster","tasks":${jsArr(arns)},"include":["TAGS"]}""")
    override def describeContainerInstances(cluster: String, arns: Seq[String]): String =
      ecs("DescribeContainerInstances",
        s"""{"cluster":"$cluster","containerInstances":${jsArr(arns)}}""")

    private def ec2Query(params: Seq[(String, String)]): String = {
      val body = params.map { case (k, v) =>
        k + "=" + java.net.URLEncoder.encode(v, "UTF-8") }.mkString("&")
      post(s"https://$ec2Host", ec2Host, "ec2", body,
        "application/x-www-form-urlencoded; charset=utf-8", Map.empty)
    }
    override def ec2DescribeInstances(ids: Seq[String]): String =
      ec2Query(Seq("Action" -> "DescribeInstances", "Version" -> "2016-11-15") ++
        ids.zipWithIndex.map { case (id, i) => s"InstanceId.${i + 1}" -> id })
    override def ec2DescribeNetworkInterfaces(eniIds: Seq[String]): String =
      ec2Query(Seq("Action" -> "DescribeNetworkInterfaces", "Version" -> "2016-11-15") ++
        eniIds.zipWithIndex.map { case (id, i) => s"NetworkInterfaceId.${i + 1}" -> id })
  }

  // ------------------------------------------------------------- provider

  private def tagLabels(m: Map[String, Any], prefix: String): Map[String, String] =
    list(m, "tags").flatMap { t =>
      val k = str(t, "key"); val v = str(t, "value")
      if (k.nonEmpty) Some(prefix + KubernetesSd.sanitize(k) -> v) else None
    }.toMap

  private final case class Ec2Info(privateIp: String, publicIp: String,
      subnetId: String, instanceType: String, tags: Map[String, String])

  final class EcsProvider(override val name: String, cfg: Config,
      clientFor: String => ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) =
      this(name, cfg, r => new HttpApiClient(cfg, r))
    override def refreshMs: Long = cfg.refreshMs

    private def paged(fetch: Option[String] => String,
        key: String): Seq[String] = {
      val out = Seq.newBuilder[String]
      var tok: Option[String] = None
      var more = true
      while (more) {
        val resp = graft.web.JsonLite.parse(fetch(tok))
        out ++= strs(map(resp), key)
        tok = opt(map(resp), "nextToken").filter(_.nonEmpty)
        more = tok.isDefined
      }
      out.result()
    }

    override def refresh(): Seq[Discovery.TargetGroup] = {
      val region = resolveRegion(cfg.region)
      val api = clientFor(region)
      val clusterArns =
        if (cfg.clusters.nonEmpty) cfg.clusters
        else paged(api.listClusters, "clusterArns")
      if (clusterArns.isEmpty)
        return Seq(Discovery.TargetGroup(region, Map.empty, Nil))

      // cluster details (DescribeClusters batches of 100, ref ecs.go)
      val clusterByArn: Map[String, Map[String, Any]] =
        clusterArns.grouped(100).flatMap { batch =>
          list(map(graft.web.JsonLite.parse(api.describeClusters(batch))), "clusters")
            .map(c => str(c, "clusterArn") -> c)
        }.toMap

      val targets = Seq.newBuilder[(String, Map[String, String])]
      clusterArns.foreach { clusterArn =>
        val cluster = clusterByArn.getOrElse(clusterArn, Map.empty)
        val taskArns = paged(api.listTasks(clusterArn, _), "taskArns")
        if (taskArns.nonEmpty) {
          val serviceArns = paged(api.listServices(clusterArn, _), "serviceArns")
          // services by NAME (batches of 10, ref ecs.go describeServices)
          val services: Map[String, Map[String, Any]] =
            serviceArns.grouped(10).flatMap { batch =>
              list(map(graft.web.JsonLite.parse(api.describeServices(clusterArn, batch))),
                "services").map(s => str(s, "serviceName") -> s)
            }.toMap
          val tasks = taskArns.grouped(100).flatMap { batch =>
            list(map(graft.web.JsonLite.parse(api.describeTasks(clusterArn, batch))), "tasks")
          }.toSeq

          // container instance ARN → EC2 instance id (batches of 100)
          val ciArns = tasks.flatMap(t => opt(t, "containerInstanceArn")).distinct
          val ciToEc2: Map[String, String] =
            ciArns.grouped(100).flatMap { batch =>
              list(map(graft.web.JsonLite.parse(
                api.describeContainerInstances(clusterArn, batch))),
                "containerInstances").flatMap { ci =>
                  val arn = str(ci, "containerInstanceArn")
                  val id = str(ci, "ec2InstanceId")
                  if (arn.nonEmpty && id.nonEmpty) Some(arn -> id) else None
                }
            }.toMap

          // ENI id → public IP for awsvpc tasks (ref describeNetworkInterfaces)
          val eniIds = tasks.flatMap { t =>
            list(t, "attachments").find(a =>
              str(a, "type") == "ElasticNetworkInterface").toSeq.flatMap { a =>
              list(a, "details").find(d => str(d, "name") == "networkInterfaceId")
                .map(d => str(d, "value"))
            }
          }.filter(_.nonEmpty).distinct
          val eniToPublicIp: Map[String, String] =
            if (eniIds.isEmpty) Map.empty
            else {
              val doc = parseXml(api.ec2DescribeNetworkInterfaces(eniIds))
              items(doc.getDocumentElement, "networkInterfaceSet").flatMap { eni =>
                val id = text(eni, "networkInterfaceId")
                val pub = child(eni, "association").map(text(_, "publicIp")).getOrElse("")
                if (id.nonEmpty && pub.nonEmpty) Some(id -> pub) else None
              }.toMap
            }

          val ec2Infos: Map[String, Ec2Info] =
            if (ciToEc2.isEmpty) Map.empty
            else {
              val doc = parseXml(api.ec2DescribeInstances(ciToEc2.values.toSeq.distinct))
              items(doc.getDocumentElement, "reservationSet").flatMap { res =>
                items(res, "instancesSet").flatMap { inst =>
                  val id = text(inst, "instanceId")
                  val priv = text(inst, "privateIpAddress")
                  if (id.isEmpty || priv.isEmpty) None
                  else Some(id -> Ec2Info(priv, text(inst, "ipAddress"),
                    text(inst, "subnetId"), text(inst, "instanceType"),
                    items(inst, "tagSet").map(t =>
                      text(t, "key") -> text(t, "value"))
                      .filter(_._1.nonEmpty).toMap))
                }
              }.toMap
            }

          tasks.foreach { task =>
            buildTask(region, cfg, cluster, services, task, ciToEc2,
              ec2Infos, eniToPublicIp).foreach(targets += _)
          }
        }
      }
      Seq(Discovery.TargetGroup(region, Map.empty, targets.result()))
    }
  }

  /** one task → (address, labels); None when no IP is resolvable (ref:
    * ecs.go refresh task goroutine) */
  private def buildTask(region: String, cfg: Config,
      cluster: Map[String, Any], services: Map[String, Map[String, Any]],
      task: Map[String, Any], ciToEc2: Map[String, String],
      ec2Infos: Map[String, Ec2Info], eniToPublicIp: Map[String, String])
      : Option[(String, Map[String, String])] = {
    var ipAddress = ""; var subnetId = ""; var publicIp = ""
    var networkMode = ""
    var ec2Id = ""; var ec2Type = ""; var ec2Priv = ""; var ec2Pub = ""
    val ciArn = opt(task, "containerInstanceArn")

    val eni = list(task, "attachments").find(a =>
      str(a, "type") == "ElasticNetworkInterface")
    eni match {
      case Some(att) =>
        networkMode = "awsvpc"
        var eniId = ""
        list(att, "details").foreach { d =>
          str(d, "name") match {
            case "privateIPv4Address" => ipAddress = str(d, "value")
            case "subnetId" => subnetId = str(d, "value")
            case "networkInterfaceId" => eniId = str(d, "value")
            case _ => ()
          }
        }
        if (eniId.nonEmpty) publicIp = eniToPublicIp.getOrElse(eniId, "")
      case None =>
        ciArn.foreach { arn =>
          networkMode = "bridge"
          ciToEc2.get(arn).foreach { id =>
            ec2Id = id
            ec2Infos.get(id).foreach { info =>
              ipAddress = info.privateIp; publicIp = info.publicIp
              subnetId = info.subnetId; ec2Type = info.instanceType
              ec2Priv = info.privateIp; ec2Pub = info.publicIp
            }
          }
        }
    }
    // awsvpc tasks on EC2 launch type still surface host-instance metadata
    if (networkMode == "awsvpc") ciArn.foreach { arn =>
      ciToEc2.get(arn).foreach { id =>
        ec2Id = id
        ec2Infos.get(id).foreach { info =>
          ec2Type = info.instanceType; ec2Priv = info.privateIp
          ec2Pub = info.publicIp
        }
      }
    }
    if (ipAddress.isEmpty) return None

    var l = Map(
      "__meta_ecs_cluster_arn" -> str(cluster, "clusterArn"),
      "__meta_ecs_cluster" -> str(cluster, "clusterName"),
      "__meta_ecs_task_group" -> str(task, "group"),
      "__meta_ecs_task_arn" -> str(task, "taskArn"),
      "__meta_ecs_task_definition" -> str(task, "taskDefinitionArn"),
      "__meta_ecs_ip_address" -> ipAddress,
      "__meta_ecs_region" -> region,
      "__meta_ecs_launch_type" -> str(task, "launchType"),
      "__meta_ecs_availability_zone" -> str(task, "availabilityZone"),
      "__meta_ecs_desired_status" -> str(task, "desiredStatus"),
      "__meta_ecs_last_status" -> str(task, "lastStatus"),
      "__meta_ecs_health_status" -> str(task, "healthStatus"),
      "__meta_ecs_network_mode" -> networkMode)
    if (subnetId.nonEmpty) l += "__meta_ecs_subnet_id" -> subnetId
    ciArn.foreach(arn => l += "__meta_ecs_container_instance_arn" -> arn)
    if (ec2Id.nonEmpty) l += "__meta_ecs_ec2_instance_id" -> ec2Id
    if (ec2Type.nonEmpty) l += "__meta_ecs_ec2_instance_type" -> ec2Type
    if (ec2Priv.nonEmpty) l += "__meta_ecs_ec2_instance_private_ip" -> ec2Priv
    if (ec2Pub.nonEmpty) l += "__meta_ecs_ec2_instance_public_ip" -> ec2Pub
    if (publicIp.nonEmpty) l += "__meta_ecs_public_ip" -> publicIp
    opt(task, "platformFamily").foreach(v =>
      l += "__meta_ecs_platform_family" -> v)
    opt(task, "platformVersion").foreach(v =>
      l += "__meta_ecs_platform_version" -> v)

    l ++= tagLabels(cluster, "__meta_ecs_tag_cluster_")
    // service:<name> task groups pull service info + tags
    val group = str(task, "group")
    if (group.startsWith("service:")) {
      val svc = services.getOrElse(group.stripPrefix("service:"), Map.empty)
      opt(svc, "serviceName").foreach(v => l += "__meta_ecs_service" -> v)
      opt(svc, "serviceArn").foreach(v => l += "__meta_ecs_service_arn" -> v)
      opt(svc, "status").foreach(v => l += "__meta_ecs_service_status" -> v)
      l ++= tagLabels(svc, "__meta_ecs_tag_service_")
    }
    l ++= tagLabels(task, "__meta_ecs_tag_task_")
    if (ec2Id.nonEmpty) ec2Infos.get(ec2Id).foreach { info =>
      l ++= info.tags.map { case (k, v) =>
        "__meta_ecs_tag_ec2_" + KubernetesSd.sanitize(k) -> v }
    }
    Some((hostPort(ipAddress, cfg.port), l))
  }
}
