package graft.streaming

import AwsSd._
import SdJson.{hostPort, parseXml, text}

/** RDS service discovery (ref: discovery/aws/rds.go).
  *
  * One refresh describes DB clusters (all, or the configured identifiers),
  * then per cluster describes the member DB instances (always filtered by
  * `db-cluster-id`, plus any user `filters` — reference feature #18859)
  * and emits one target per instance carrying BOTH the cluster's
  * `__meta_rds_cluster_*` and the instance's `__meta_rds_instance_*`
  * label surface (rds.go refresh loop — the label set is a fixed
  * hand-picked field list, reproduced here as a mapping table). Address =
  * instance endpoint address : config port. `is_cluster_writer` comes
  * from the cluster's member list, time fields render RFC3339.
  *
  * The RDS API is AWS Query protocol (XML). Production signs with
  * [[Ec2Sd.SigV4]]; tests inject a fake [[RdsSd.ApiClient]]. Region
  * resolution defers to the first refresh ([[AwsSd.resolveRegion]],
  * ref #19037).
  */
object RdsSd {

  /** rds_sd_configs entry (ref: aws/rds.go RDSSDConfig; defaults port 80,
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
      filters: Seq[(String, Seq[String])] = Nil,
      refreshMs: Long = 60000L)

  /** injectable transport; both calls return DescribeDB*Response XML */
  trait ApiClient {
    def describeDBClusters(identifier: Option[String], marker: Option[String]): String
    def describeDBInstances(filters: Seq[(String, Seq[String])],
        marker: Option[String]): String
  }

  /** production client: SigV4-signed Query-API calls (Version 2014-10-31) */
  final class HttpApiClient(cfg: Config, region: String) extends ApiClient {
    private val (host, base) =
      AwsSd.endpointOf(cfg.endpoint, s"rds.$region.amazonaws.com")
    private val credsProvider = AwsSd.credentials(cfg.accessKey,
      cfg.secretKey, cfg.roleArn, cfg.externalId, region, profile = cfg.profile)

    private def query(params: Seq[(String, String)]): String = {
      val body = params.map { case (k, v) =>
        k + "=" + java.net.URLEncoder.encode(v, "UTF-8") }.mkString("&")
      AwsSd.post("rds", base, body, Ec2Sd.SigV4.headers(credsProvider.creds(), region,
        "rds", host, body, java.time.Instant.now()))
    }

    override def describeDBClusters(identifier: Option[String],
        marker: Option[String]): String =
      query(Seq("Action" -> "DescribeDBClusters", "Version" -> "2014-10-31",
        "MaxRecords" -> "100") ++
        identifier.map("DBClusterIdentifier" -> _) ++ marker.map("Marker" -> _))

    override def describeDBInstances(filters: Seq[(String, Seq[String])],
        marker: Option[String]): String =
      query(Seq("Action" -> "DescribeDBInstances", "Version" -> "2014-10-31",
        "MaxRecords" -> "100") ++
        filters.zipWithIndex.flatMap { case ((name, values), i) =>
          Seq(s"Filters.Filter.${i + 1}.Name" -> name) ++
            values.zipWithIndex.map { case (v, j) =>
              s"Filters.Filter.${i + 1}.Values.Value.${j + 1}" -> v }
        } ++ marker.map("Marker" -> _))
  }

  // --------------------------------------------------- label field tables
  // (xmlTag, labelSuffix, isTime) — the reference's hand-picked field list
  // (rds.go refresh); XML tags are the Query-protocol member names.
  // Non-string SDK fields (ints/bools) arrive as already-rendered text in
  // the XML, matching the reference's strconv formatting.

  private val clusterFields: Seq[(String, String, Boolean)] = Seq(
    ("DBClusterArn", "arn", false),
    ("DBClusterIdentifier", "identifier", false),
    ("ActivityStreamKinesisStreamName", "activity_stream_kinesis_stream_name", false),
    ("ActivityStreamKmsKeyId", "activity_stream_kms_key_id", false),
    ("ActivityStreamMode", "activity_stream_mode", false),
    ("ActivityStreamStatus", "activity_stream_status", false),
    ("AllocatedStorage", "allocated_storage", false),
    ("AutoMinorVersionUpgrade", "auto_minor_version_upgrade", false),
    ("AutomaticRestartTime", "automatic_restart_time", true),
    ("AwsBackupRecoveryPointArn", "aws_backup_recovery_point_arn", false),
    ("BacktrackConsumedChangeRecords", "backtrack_consumed_change_records", false),
    ("BacktrackWindow", "backtrack_window", false),
    ("BackupRetentionPeriod", "backup_retention_period", false),
    ("Capacity", "capacity", false),
    ("CharacterSetName", "character_set_name", false),
    ("CloneGroupId", "clone_group_id", false),
    ("ClusterCreateTime", "cluster_create_time", true),
    ("ClusterScalabilityType", "cluster_scalability_type", false),
    ("CopyTagsToSnapshot", "copy_tags_to_snapshot", false),
    ("CrossAccountClone", "cross_account_clone", false),
    ("DBClusterInstanceClass", "instance_class", false),
    ("DBClusterParameterGroup", "parameter_group", false),
    ("DBSubnetGroup", "subnet_group", false),
    ("DBSystemId", "db_system_id", false),
    ("DatabaseInsightsMode", "database_insights_mode", false),
    ("DatabaseName", "database_name", false),
    ("DbClusterResourceId", "resource_id", false),
    ("DeletionProtection", "deletion_protection", false),
    ("EarliestBacktrackTime", "earliest_backtrack_time", true),
    ("EarliestRestorableTime", "earliest_restorable_time", true),
    ("Endpoint", "endpoint", false),
    ("Engine", "engine", false),
    ("EngineLifecycleSupport", "engine_lifecycle_support", false),
    ("EngineMode", "engine_mode", false),
    ("EngineVersion", "engine_version", false),
    ("GlobalClusterIdentifier", "global_cluster_identifier", false),
    ("GlobalWriteForwardingRequested", "global_write_forwarding_requested", false),
    ("GlobalWriteForwardingStatus", "global_write_forwarding_status", false),
    ("HostedZoneId", "hosted_zone_id", false),
    ("HttpEndpointEnabled", "http_endpoint_enabled", false),
    ("IAMDatabaseAuthenticationEnabled", "iam_database_authentication_enabled", false),
    ("IOOptimizedNextAllowedModificationTime", "io_optimized_next_allowed_modification_time", true),
    ("Iops", "iops", false),
    ("KmsKeyId", "kms_key_id", false),
    ("LatestRestorableTime", "latest_restorable_time", true),
    ("LocalWriteForwardingStatus", "local_write_forwarding_status", false),
    ("MasterUsername", "master_username", false),
    ("MonitoringInterval", "monitoring_interval", false),
    ("MonitoringRoleArn", "monitoring_role_arn", false),
    ("MultiAZ", "multi_az", false),
    ("NetworkType", "network_type", false),
    ("PercentProgress", "percent_progress", false),
    ("PerformanceInsightsEnabled", "performance_insights_enabled", false),
    ("PerformanceInsightsKMSKeyId", "performance_insights_kms_key_id", false),
    ("PerformanceInsightsRetentionPeriod", "performance_insights_retention_period", false),
    ("Port", "port", false),
    ("PreferredBackupWindow", "preferred_backup_window", false),
    ("PreferredMaintenanceWindow", "preferred_maintenance_window", false),
    ("PubliclyAccessible", "publicly_accessible", false),
    ("ReaderEndpoint", "reader_endpoint", false),
    ("ReplicationSourceIdentifier", "replication_source_identifier", false),
    ("ServerlessV2PlatformVersion", "serverless_v2_platform_version", false),
    ("Status", "status", false),
    ("StorageEncrypted", "storage_encrypted", false),
    ("StorageEncryptionType", "storage_encryption_type", false),
    ("StorageThroughput", "storage_throughput", false),
    ("StorageType", "storage_type", false),
    ("UpgradeRolloutOrder", "upgrade_rollout_order", false))

  private val instanceFields: Seq[(String, String, Boolean)] = Seq(
    ("DBInstanceArn", "arn", false),
    ("DBInstanceIdentifier", "identifier", false),
    ("ActivityStreamEngineNativeAuditFieldsIncluded", "activity_stream_engine_native_audit_fields_included", false),
    ("ActivityStreamKinesisStreamName", "activity_stream_kinesis_stream_name", false),
    ("ActivityStreamKmsKeyId", "activity_stream_kms_key_id", false),
    ("ActivityStreamMode", "activity_stream_mode", false),
    ("ActivityStreamPolicyStatus", "activity_stream_policy_status", false),
    ("ActivityStreamStatus", "activity_stream_status", false),
    ("AllocatedStorage", "allocated_storage", false),
    ("AutoMinorVersionUpgrade", "auto_minor_version_upgrade", false),
    ("AutomaticRestartTime", "automatic_restart_time", true),
    ("AutomationMode", "automation_mode", false),
    ("AvailabilityZone", "availability_zone", false),
    ("AwsBackupRecoveryPointArn", "aws_backup_recovery_point_arn", false),
    ("BackupRetentionPeriod", "backup_retention_period", false),
    ("BackupTarget", "backup_target", false),
    ("CACertificateIdentifier", "ca_certificate_identifier", false),
    ("CharacterSetName", "character_set_name", false),
    ("CopyTagsToSnapshot", "copy_tags_to_snapshot", false),
    ("CustomIamInstanceProfile", "custom_iam_instance_profile", false),
    ("CustomerOwnedIpEnabled", "customer_owned_ip_enabled", false),
    ("DBClusterIdentifier", "db_cluster_identifier", false),
    ("DBInstanceClass", "class", false),
    ("DBInstanceStatus", "status", false),
    ("DBName", "db_name", false),
    ("DbInstancePort", "port", false),
    ("DbiResourceId", "resource_id", false),
    ("DedicatedLogVolume", "dedicated_log_volume", false),
    ("DeletionProtection", "deletion_protection", false),
    ("Engine", "engine", false),
    ("EngineLifecycleSupport", "engine_lifecycle_support", false),
    ("EngineVersion", "engine_version", false),
    ("EnhancedMonitoringResourceArn", "enhanced_monitoring_resource_arn", false),
    ("IAMDatabaseAuthenticationEnabled", "iam_database_authentication_enabled", false),
    ("InstanceCreateTime", "instance_create_time", true),
    ("Iops", "iops", false),
    ("IsStorageConfigUpgradeAvailable", "is_storage_config_upgrade_available", false),
    ("KmsKeyId", "kms_key_id", false),
    ("LatestRestorableTime", "latest_restorable_time", true),
    ("LicenseModel", "license_model", false),
    ("MasterUsername", "master_username", false),
    ("MaxAllocatedStorage", "max_allocated_storage", false),
    ("MonitoringInterval", "monitoring_interval", false),
    ("MonitoringRoleArn", "monitoring_role_arn", false),
    ("MultiAZ", "multi_az", false),
    ("MultiTenant", "multi_tenant", false),
    ("NcharCharacterSetName", "nchar_character_set_name", false),
    ("NetworkType", "network_type", false),
    ("PercentProgress", "percent_progress", false),
    ("PerformanceInsightsEnabled", "performance_insights_enabled", false),
    ("PerformanceInsightsKMSKeyId", "performance_insights_kms_key_id", false),
    ("PerformanceInsightsRetentionPeriod", "performance_insights_retention_period", false),
    ("PreferredBackupWindow", "preferred_backup_window", false),
    ("PreferredMaintenanceWindow", "preferred_maintenance_window", false),
    ("PromotionTier", "promotion_tier", false),
    ("PubliclyAccessible", "publicly_accessible", false),
    ("ReadReplicaSourceDBClusterIdentifier", "read_replica_source_db_cluster_identifier", false),
    ("ReadReplicaSourceDBInstanceIdentifier", "read_replica_source_db_instance_identifier", false),
    ("ReplicaMode", "replica_mode", false),
    ("ResumeFullAutomationModeTime", "resume_full_automation_mode_time", true),
    ("SecondaryAvailabilityZone", "secondary_availability_zone", false),
    ("StorageEncrypted", "storage_encrypted", false),
    ("StorageEncryptionType", "storage_encryption_type", false),
    ("StorageThroughput", "storage_throughput", false),
    ("StorageType", "storage_type", false),
    ("StorageVolumeStatus", "storage_volume_status", false),
    ("TdeCredentialArn", "tde_credential_arn", false),
    ("Timezone", "timezone", false),
    ("UpgradeRolloutOrder", "upgrade_rollout_order", false),
    ("DBSystemId", "db_system_id", false),
    ("DatabaseInsightsMode", "database_insights_mode", false))

  private def fieldLabels(el: org.w3c.dom.Element, prefix: String,
      fields: Seq[(String, String, Boolean)]): Map[String, String] =
    fields.flatMap { case (tag, suffix, isTime) =>
      val v = text(el, tag)
      if (v.isEmpty) None
      else Some(prefix + suffix -> (if (isTime) rfc3339(v) else v))
    }.toMap

  private def tagLabels(el: org.w3c.dom.Element, prefix: String): Map[String, String] =
    items(el, "TagList").flatMap { t =>
      val k = text(t, "Key"); val v = text(t, "Value")
      if (k.nonEmpty) Some(prefix + KubernetesSd.sanitize(k) -> v) else None
    }.toMap

  // ------------------------------------------------------------- provider

  final class RdsProvider(override val name: String, cfg: Config,
      clientFor: String => ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) =
      this(name, cfg, r => new HttpApiClient(cfg, r))
    override def refreshMs: Long = cfg.refreshMs

    private def clustersOf(api: ApiClient,
        identifier: Option[String]): Seq[org.w3c.dom.Element] = {
      val out = Seq.newBuilder[org.w3c.dom.Element]
      var marker: Option[String] = None
      var more = true
      while (more) {
        val doc = parseXml(api.describeDBClusters(identifier, marker))
        val result = child(doc.getDocumentElement, "DescribeDBClustersResult")
          .getOrElse(doc.getDocumentElement)
        out ++= items(result, "DBClusters")
        val m = text(result, "Marker")
        marker = if (m.nonEmpty) Some(m) else None
        more = marker.isDefined
      }
      out.result()
    }

    private def instancesOf(api: ApiClient,
        clusterArn: String): Seq[org.w3c.dom.Element] = {
      val filters = ("db-cluster-id" -> Seq(clusterArn)) +: cfg.filters
      val out = Seq.newBuilder[org.w3c.dom.Element]
      var marker: Option[String] = None
      var more = true
      while (more) {
        val doc = parseXml(api.describeDBInstances(filters, marker))
        val result = child(doc.getDocumentElement, "DescribeDBInstancesResult")
          .getOrElse(doc.getDocumentElement)
        out ++= items(result, "DBInstances")
        val m = text(result, "Marker")
        marker = if (m.nonEmpty) Some(m) else None
        more = marker.isDefined
      }
      out.result()
    }

    override def refresh(): Seq[Discovery.TargetGroup] = {
      val region = resolveRegion(cfg.region)
      val api = clientFor(region)
      val clusters =
        if (cfg.clusters.isEmpty) clustersOf(api, None)
        else cfg.clusters.flatMap(id => clustersOf(api, Some(id)))

      val targets = Seq.newBuilder[(String, Map[String, String])]
      clusters.foreach { cluster =>
        val clusterArn = text(cluster, "DBClusterArn")
        // member identifier → IsClusterWriter (ref rds.go writerMap)
        val writerMap = items(cluster, "DBClusterMembers").map { m =>
          text(m, "DBInstanceIdentifier") -> text(m, "IsClusterWriter")
        }.filter(e => e._1.nonEmpty && e._2.nonEmpty).toMap
        val clusterLabels =
          fieldLabels(cluster, "__meta_rds_cluster_", clusterFields) ++
            tagLabels(cluster, "__meta_rds_cluster_tag_")

        instancesOf(api, clusterArn).foreach { inst =>
          var l = clusterLabels ++
            fieldLabels(inst, "__meta_rds_instance_", instanceFields) ++
            tagLabels(inst, "__meta_rds_instance_tag_")
          val id = text(inst, "DBInstanceIdentifier")
          writerMap.get(id).foreach(w =>
            l += "__meta_rds_instance_is_cluster_writer" -> w)
          child(inst, "Endpoint").foreach { ep =>
            val addr = text(ep, "Address")
            if (addr.nonEmpty) l += "__meta_rds_instance_endpoint_address" -> addr
            val hz = text(ep, "HostedZoneId")
            if (hz.nonEmpty) l += "__meta_rds_instance_endpoint_hosted_zone_id" -> hz
            val p = text(ep, "Port")
            if (p.nonEmpty) l += "__meta_rds_instance_endpoint_port" -> p
          }
          child(inst, "ListenerEndpoint").foreach { ep =>
            val addr = text(ep, "Address")
            if (addr.nonEmpty) l += "__meta_rds_instance_listener_endpoint_address" -> addr
            val hz = text(ep, "HostedZoneId")
            if (hz.nonEmpty) l += "__meta_rds_instance_listener_endpoint_hosted_zone_id" -> hz
            val p = text(ep, "Port")
            if (p.nonEmpty) l += "__meta_rds_instance_listener_endpoint_port" -> p
          }
          child(inst, "DBSubnetGroup").foreach { sg =>
            val n = text(sg, "DBSubnetGroupName")
            if (n.nonEmpty) l += "__meta_rds_instance_subnet_group" -> n
          }
          // address = endpoint address : CONFIG port (ref rds.go AddressLabel)
          val addr = child(inst, "Endpoint").map(text(_, "Address")).getOrElse("")
          val port = child(inst, "Endpoint").map(text(_, "Port")).getOrElse("")
          if (addr.nonEmpty && port.nonEmpty)
            targets += ((hostPort(addr, cfg.port), l))
        }
      }
      Seq(Discovery.TargetGroup(region, Map.empty, targets.result()))
    }
  }
}
