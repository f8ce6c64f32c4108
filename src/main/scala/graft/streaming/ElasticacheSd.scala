package graft.streaming

import AwsSd._

/** ElastiCache service discovery (ref: discovery/aws/elasticache.go).
  *
  * Covers BOTH deployment options: serverless caches (one target per
  * cache, `__meta_elasticache_deployment_option="serverless"`, address =
  * cache endpoint address:port) and node-based cache clusters (one target
  * PER CACHE NODE, `deployment_option="node"`, address = node endpoint).
  * Configured `clusters` are ARNs split by resource type
  * (`serverlesscache:` vs `replicationgroup:` — ref
  * splitCacheDeploymentOptions; invalid ARNs are skipped); with none
  * configured everything in the region is described. Cache clusters are
  * described twice, with ShowCacheClustersNotInReplicationGroups false
  * then true, exactly like the reference. Tags ride in via
  * ListTagsForResource per ARN. Time fields render RFC3339.
  *
  * The ElastiCache API is AWS Query protocol (XML, Version 2015-02-02).
  * Production signs with [[Ec2Sd.SigV4]]; tests inject a fake
  * [[ElasticacheSd.ApiClient]]. Region resolution defers to the first
  * refresh ([[AwsSd.resolveRegion]], ref #19037).
  */
object ElasticacheSd {

  /** elasticache_sd_configs entry (ref: aws/elasticache.go
    * ElasticacheSDConfig; defaults port 80, refresh 60s) */
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

  /** injectable transport; all calls return Query-protocol XML */
  trait ApiClient {
    def describeServerlessCaches(name: Option[String], nextToken: Option[String]): String
    def describeCacheClusters(id: Option[String], notInReplicationGroups: Boolean,
        marker: Option[String]): String
    def listTagsForResource(arn: String): String
  }

  /** production client: SigV4-signed Query-API calls (Version 2015-02-02) */
  final class HttpApiClient(cfg: Config, region: String) extends ApiClient {
    private val (host, base) =
      AwsSd.endpointOf(cfg.endpoint, s"elasticache.$region.amazonaws.com")
    private val credsProvider = AwsSd.credentials(cfg.accessKey,
      cfg.secretKey, cfg.roleArn, cfg.externalId, region, profile = cfg.profile)

    private def query(params: Seq[(String, String)]): String = {
      val body = params.map { case (k, v) =>
        k + "=" + java.net.URLEncoder.encode(v, "UTF-8") }.mkString("&")
      AwsSd.post("elasticache", base, body, Ec2Sd.SigV4.headers(credsProvider.creds(),
        region, "elasticache", host, body, java.time.Instant.now()))
    }

    override def describeServerlessCaches(name: Option[String],
        nextToken: Option[String]): String =
      query(Seq("Action" -> "DescribeServerlessCaches",
        "Version" -> "2015-02-02", "MaxResults" -> "50") ++
        name.map("ServerlessCacheName" -> _) ++ nextToken.map("NextToken" -> _))
    override def describeCacheClusters(id: Option[String],
        notInReplicationGroups: Boolean, marker: Option[String]): String =
      query(Seq("Action" -> "DescribeCacheClusters", "Version" -> "2015-02-02",
        "MaxRecords" -> "100", "ShowCacheNodeInfo" -> "true",
        "ShowCacheClustersNotInReplicationGroups" -> notInReplicationGroups.toString) ++
        id.map("CacheClusterId" -> _) ++ marker.map("Marker" -> _))
    override def listTagsForResource(arn: String): String =
      query(Seq("Action" -> "ListTagsForResource", "Version" -> "2015-02-02",
        "ResourceName" -> arn))
  }

  // ------------------------------------------------------------- provider

  /** ARN list → (serverless cache names, cache cluster ids); invalid ARNs
    * and unknown resource types skipped (ref splitCacheDeploymentOptions) */
  private[streaming] def splitDeploymentOptions(arns: Seq[String])
      : (Seq[String], Seq[String]) = {
    val serverless = Seq.newBuilder[String]
    val clusters = Seq.newBuilder[String]
    arns.filter(_.nonEmpty).foreach { arn =>
      val parts = arn.split(":", -1)
      if (parts.length >= 7) parts(5) match {
        case "serverlesscache" => serverless += parts(6)
        case "replicationgroup" => clusters += parts(6)
        case _ => ()
      }
    }
    (serverless.result(), clusters.result())
  }

  final class ElasticacheProvider(override val name: String, cfg: Config,
      clientFor: String => ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) =
      this(name, cfg, r => new HttpApiClient(cfg, r))
    override def refreshMs: Long = cfg.refreshMs

    private def serverlessCaches(api: ApiClient,
        names: Seq[String]): Seq[org.w3c.dom.Element] = {
      def page(name: Option[String]): Seq[org.w3c.dom.Element] = {
        val out = Seq.newBuilder[org.w3c.dom.Element]
        var tok: Option[String] = None
        var more = true
        while (more) {
          val doc = parseXml(api.describeServerlessCaches(name, tok))
          val result = child(doc.getDocumentElement,
            "DescribeServerlessCachesResult").getOrElse(doc.getDocumentElement)
          out ++= items(result, "ServerlessCaches")
          val t = text(result, "NextToken")
          tok = if (t.nonEmpty) Some(t) else None
          more = tok.isDefined && name.isEmpty
        }
        out.result()
      }
      if (names.isEmpty) page(None) else names.flatMap(n => page(Some(n)))
    }

    private def cacheClusters(api: ApiClient,
        ids: Seq[String]): Seq[org.w3c.dom.Element] = {
      def page(id: Option[String], notInRg: Boolean): Seq[org.w3c.dom.Element] = {
        val out = Seq.newBuilder[org.w3c.dom.Element]
        var tok: Option[String] = None
        var more = true
        while (more) {
          val doc = parseXml(api.describeCacheClusters(id, notInRg, tok))
          val result = child(doc.getDocumentElement,
            "DescribeCacheClustersResult").getOrElse(doc.getDocumentElement)
          out ++= items(result, "CacheClusters")
          val t = text(result, "Marker")
          tok = if (t.nonEmpty) Some(t) else None
          more = tok.isDefined && id.isEmpty
        }
        out.result()
      }
      // both flag values, exactly like the reference's describeCacheClusters
      val flags = Seq(false, true)
      if (ids.isEmpty) flags.flatMap(f => page(None, f))
      else ids.flatMap(id => flags.flatMap(f => page(Some(id), f)))
    }

    private def tagsOf(api: ApiClient, arn: String): Map[String, String] = {
      val doc = parseXml(api.listTagsForResource(arn))
      val result = child(doc.getDocumentElement, "ListTagsForResourceResult")
        .getOrElse(doc.getDocumentElement)
      items(result, "TagList").map(t => text(t, "Key") -> text(t, "Value"))
        .filter(_._1.nonEmpty).toMap
    }

    override def refresh(): Seq[Discovery.TargetGroup] = {
      val region = resolveRegion(cfg.region)
      val api = clientFor(region)
      val (serverlessNames, clusterIds) = splitDeploymentOptions(cfg.clusters)
      // configured but both lists empty = nothing matches; all-empty config
      // means describe everything
      val discoverAll = cfg.clusters.isEmpty

      val targets = Seq.newBuilder[(String, Map[String, String])]
      val caches =
        if (discoverAll || serverlessNames.nonEmpty)
          serverlessCaches(api, serverlessNames) else Nil
      caches.foreach { c =>
        serverlessTarget(c, tagsOf(api, text(c, "ARN"))).foreach(targets += _)
      }
      val clusters =
        if (discoverAll || clusterIds.nonEmpty)
          cacheClusters(api, clusterIds) else Nil
      clusters.foreach { c =>
        targets ++= clusterTargets(c, tagsOf(api, text(c, "ARN")))
      }
      Seq(Discovery.TargetGroup(region, Map.empty, targets.result()))
    }
  }

  // -------------------------------------------------------- label builders

  private val pfx = "__meta_elasticache_"

  /** serverless cache → one target (ref addServerlessCacheTargets) */
  private[streaming] def serverlessTarget(c: org.w3c.dom.Element,
      tags: Map[String, String]): Option[(String, Map[String, String])] = {
    val sp = pfx + "serverless_cache_"
    var l = Map(
      pfx + "deployment_option" -> "serverless",
      sp + "arn" -> text(c, "ARN"),
      sp + "name" -> text(c, "ServerlessCacheName"),
      sp + "status" -> text(c, "Status"),
      sp + "engine" -> text(c, "Engine"),
      sp + "full_engine_version" -> text(c, "FullEngineVersion"),
      sp + "major_engine_version" -> text(c, "MajorEngineVersion"))
    def opt(tag: String, suffix: String, time: Boolean = false): Unit = {
      val v = text(c, tag)
      if (v.nonEmpty) l += sp + suffix -> (if (time) rfc3339(v) else v)
    }
    opt("Description", "description")
    opt("CreateTime", "create_time", time = true)
    opt("KmsKeyId", "kms_key_id")
    opt("UserGroupId", "user_group_id")
    opt("DailySnapshotTime", "daily_snapshot_time")
    opt("SnapshotRetentionLimit", "snapshot_retention_limit")
    child(c, "Endpoint").foreach { ep =>
      val a = text(ep, "Address"); val p = text(ep, "Port")
      if (a.nonEmpty) l += sp + "endpoint_address" -> a
      if (p.nonEmpty) l += sp + "endpoint_port" -> p
    }
    child(c, "ReaderEndpoint").foreach { ep =>
      val a = text(ep, "Address"); val p = text(ep, "Port")
      if (a.nonEmpty) l += sp + "endpoint_reader_address" -> a
      if (p.nonEmpty) l += sp + "endpoint_reader_port" -> p
    }
    items(c, "SecurityGroupIds").map(_.getTextContent.trim)
      .filter(_.nonEmpty).zipWithIndex.foreach { case (sg, i) =>
        l += s"${sp}security_group_id_$i" -> sg }
    items(c, "SubnetIds").map(_.getTextContent.trim)
      .filter(_.nonEmpty).zipWithIndex.foreach { case (sn, i) =>
        l += s"${sp}subnet_id_$i" -> sn }
    child(c, "CacheUsageLimits").foreach { ul =>
      child(ul, "DataStorage").foreach { ds =>
        val mx = text(ds, "Maximum"); val mn = text(ds, "Minimum")
        if (mx.nonEmpty) l += sp + "cache_usage_limit_data_storage_maximum" -> mx
        if (mn.nonEmpty) l += sp + "cache_usage_limit_data_storage_minimum" -> mn
        l += sp + "cache_usage_limit_data_storage_unit" -> text(ds, "Unit")
      }
      child(ul, "ECPUPerSecond").foreach { ec =>
        val mx = text(ec, "Maximum"); val mn = text(ec, "Minimum")
        if (mx.nonEmpty) l += sp + "cache_usage_limit_ecpu_per_second_maximum" -> mx
        if (mn.nonEmpty) l += sp + "cache_usage_limit_ecpu_per_second_minimum" -> mn
      }
    }
    l ++= tags.map { case (k, v) =>
      sp + "tag_" + KubernetesSd.sanitize(k) -> v }
    for {
      ep <- child(c, "Endpoint")
      addr = text(ep, "Address") if addr.nonEmpty
      port = text(ep, "Port") if port.nonEmpty
    } yield (hostPort(addr, port.toInt), l)
  }

  /** node-based cache cluster → one target per cache node (ref
    * addCacheClusterTargets) */
  private[streaming] def clusterTargets(c: org.w3c.dom.Element,
      tags: Map[String, String]): Seq[(String, Map[String, String])] = {
    val cp = pfx + "cache_cluster_"
    var common = Map(
      pfx + "deployment_option" -> "node",
      cp + "arn" -> text(c, "ARN"),
      cp + "cache_cluster_id" -> text(c, "CacheClusterId"),
      cp + "cache_cluster_status" -> text(c, "CacheClusterStatus"))
    def opt(tag: String, suffix: String, time: Boolean = false): Unit = {
      val v = text(c, tag)
      if (v.nonEmpty) common += cp + suffix -> (if (time) rfc3339(v) else v)
    }
    opt("AtRestEncryptionEnabled", "at_rest_encryption_enabled")
    opt("AuthTokenEnabled", "auth_token_enabled")
    opt("AuthTokenLastModifiedDate", "auth_token_last_modified", time = true)
    opt("AutoMinorVersionUpgrade", "auto_minor_version_upgrade")
    opt("CacheClusterCreateTime", "cache_cluster_create_time", time = true)
    opt("CacheNodeType", "cache_node_type")
    child(c, "CacheParameterGroup").foreach { pg =>
      val n = text(pg, "CacheParameterGroupName")
      if (n.nonEmpty) common += cp + "cache_parameter_group" -> n
    }
    opt("CacheSubnetGroupName", "cache_subnet_group_name")
    opt("ClientDownloadLandingPage", "client_download_landing_page")
    child(c, "ConfigurationEndpoint").foreach { ep =>
      val a = text(ep, "Address"); val p = text(ep, "Port")
      if (a.nonEmpty) common += cp + "configuration_endpoint_address" -> a
      if (p.nonEmpty) common += cp + "configuration_endpoint_port" -> p
    }
    opt("Engine", "engine")
    opt("EngineVersion", "engine_version")
    opt("IpDiscovery", "ip_discovery")
    opt("NetworkType", "network_type")
    child(c, "NotificationConfiguration").foreach { nc =>
      val a = text(nc, "TopicArn"); val s = text(nc, "TopicStatus")
      if (a.nonEmpty) common += cp + "notification_topic_arn" -> a
      if (s.nonEmpty) common += cp + "notification_topic_status" -> s
    }
    opt("NumCacheNodes", "num_cache_nodes")
    opt("PreferredAvailabilityZone", "preferred_availability_zone")
    opt("PreferredMaintenanceWindow", "preferred_maintenance_window")
    opt("PreferredOutpostArn", "preferred_outpost_arn")
    opt("ReplicationGroupId", "replication_group_id")
    opt("ReplicationGroupLogDeliveryEnabled", "replication_group_log_delivery_enabled")
    opt("SnapshotRetentionLimit", "snapshot_retention_limit")
    opt("SnapshotWindow", "snapshot_window")
    opt("TransitEncryptionEnabled", "transit_encryption_enabled")
    opt("TransitEncryptionMode", "transit_encryption_mode")
    items(c, "LogDeliveryConfigurations").zipWithIndex.foreach { case (ld, i) =>
      def put(tag: String, suffix: String): Unit = {
        val v = text(ld, tag)
        if (v.nonEmpty)
          common += s"${cp}log_delivery_configuration_${suffix}_$i" -> v
      }
      put("DestinationType", "destination_type")
      put("LogFormat", "log_format")
      put("LogType", "log_type")
      put("Status", "status")
      put("Message", "message")
      child(ld, "DestinationDetails").foreach { dd =>
        child(dd, "CloudWatchLogsDetails").foreach { cw =>
          val lg = text(cw, "LogGroup")
          if (lg.nonEmpty)
            common += s"${cp}log_delivery_configuration_log_group_$i" -> lg
        }
        child(dd, "KinesisFirehoseDetails").foreach { kf =>
          val ds = text(kf, "DeliveryStream")
          if (ds.nonEmpty)
            common += s"${cp}log_delivery_configuration_delivery_stream_$i" -> ds
        }
      }
    }
    child(c, "PendingModifiedValues").foreach { pm =>
      def put(tag: String, suffix: String): Unit = {
        val v = text(pm, tag)
        if (v.nonEmpty) common += cp + "pending_modified_values_" + suffix -> v
      }
      put("AuthTokenStatus", "auth_token_status")
      put("CacheNodeType", "cache_node_type")
      put("EngineVersion", "engine_version")
      put("NumCacheNodes", "num_cache_nodes")
      put("TransitEncryptionEnabled", "transit_encryption_enabled")
      put("TransitEncryptionMode", "transit_encryption_mode")
      val rm = items(pm, "CacheNodeIdsToRemove").map(_.getTextContent.trim)
        .filter(_.nonEmpty)
      if (rm.nonEmpty)
        common += cp + "pending_modified_values_cache_node_ids_to_remove" ->
          rm.mkString(",")
    }
    items(c, "SecurityGroups").zipWithIndex.foreach { case (sg, i) =>
      val id = text(sg, "SecurityGroupId"); val st = text(sg, "Status")
      if (id.nonEmpty) common += s"${cp}security_group_membership_id_$i" -> id
      if (st.nonEmpty) common += s"${cp}security_group_membership_status_$i" -> st
    }
    common ++= tags.map { case (k, v) =>
      cp + "tag_" + KubernetesSd.sanitize(k) -> v }

    items(c, "CacheNodes").flatMap { node =>
      var l = common
      def opt2(tag: String, suffix: String, time: Boolean = false): Unit = {
        val v = text(node, tag)
        if (v.nonEmpty) l += cp + "node_" + suffix -> (if (time) rfc3339(v) else v)
      }
      opt2("CacheNodeId", "id")
      opt2("CacheNodeStatus", "status")
      opt2("CacheNodeCreateTime", "create_time", time = true)
      opt2("CustomerAvailabilityZone", "availability_zone")
      opt2("CustomerOutpostArn", "customer_outpost_arn")
      opt2("SourceCacheNodeId", "source_cache_node_id")
      opt2("ParameterGroupStatus", "parameter_group_status")
      child(node, "Endpoint") match {
        case Some(ep) =>
          val a = text(ep, "Address"); val p = text(ep, "Port")
          if (a.nonEmpty) l += cp + "node_endpoint_address" -> a
          if (p.nonEmpty) l += cp + "node_endpoint_port" -> p
          if (a.nonEmpty && p.nonEmpty) Some((hostPort(a, p.toInt), l))
          else None
        case None => None
      }
    }
  }
}
