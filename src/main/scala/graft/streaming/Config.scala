package graft.streaming

import graft.promqltest.YamlLite
import graft.promqltest.YamlLite.{YList, YMap, YNode, YScalar}

/** prometheus.yml configuration loader (ref: config/config.go) — the subset
  * this engine acts on: global intervals + external labels, rule_files
  * (glob-expanded), scrape_configs (static + file SD targets, paths/schemes,
  * relabel chains), remote_write/remote_read URLs, alertmanager targets.
  * Unknown fields are intentionally IGNORED (auth/TLS/SD mechanisms outside
  * the engine's scope) — `load` is lenient where promtool's checker is
  * strict, because its job is to boot the stack from an existing config, not
  * to lint it. */
object Config {

  final case class ScrapeJob(
      jobName: String,
      staticTargets: Seq[ScrapeManager.ScrapeTarget],
      fileSdPaths: Seq[String],
      intervalMs: Long,
      relabel: Seq[Relabel.Rule],
      metricRelabel: Seq[Relabel.Rule],
      scheme: String, metricsPath: String,
      limits: ScrapeManager.ScrapeLimits = ScrapeManager.ScrapeLimits(),
      honorLabels: Boolean = false,
      dnsSd: Seq[Discovery.DnsSd.Config] = Nil,
      httpSd: Seq[(String, Long)] = Nil,  // (url, refreshMs)
      kubernetesSd: Seq[KubernetesSd.Config] = Nil,
      consulSd: Seq[ConsulSd.Config] = Nil,
      ec2Sd: Seq[Ec2Sd.Config] = Nil,
      ecsSd: Seq[EcsSd.Config] = Nil,
      rdsSd: Seq[RdsSd.Config] = Nil,
      mskSd: Seq[MskSd.Config] = Nil,
      elasticacheSd: Seq[ElasticacheSd.Config] = Nil,
      gceSd: Seq[GceSd.Config] = Nil,
      azureSd: Seq[AzureSd.Config] = Nil,
      dockerSd: Seq[DockerSd.Config] = Nil,
      digitaloceanSd: Seq[DigitalOceanSd.Config] = Nil,
      hetznerSd: Seq[HetznerSd.Config] = Nil,
      openstackSd: Seq[OpenStackSd.Config] = Nil,
      eurekaSd: Seq[EurekaSd.Config] = Nil,
      nomadSd: Seq[NomadSd.Config] = Nil,
      marathonSd: Seq[MarathonSd.Config] = Nil,
      puppetdbSd: Seq[PuppetDbSd.Config] = Nil,
      linodeSd: Seq[LinodeSd.Config] = Nil,
      vultrSd: Seq[VultrSd.Config] = Nil,
      scalewaySd: Seq[ScalewaySd.Config] = Nil,
      lightsailSd: Seq[LightsailSd.Config] = Nil,
      dockerswarmSd: Seq[DockerSwarmSd.Config] = Nil,
      tritonSd: Seq[TritonSd.Config] = Nil,
      ovhcloudSd: Seq[OvhcloudSd.Config] = Nil,
      ionosSd: Seq[IonosSd.Config] = Nil,
      stackitSd: Seq[StackitSd.Config] = Nil,
      outscaleSd: Seq[OutscaleSd.Config] = Nil,
      uyuniSd: Seq[UyuniSd.Config] = Nil,
      ociSd: Seq[OciSd.Config] = Nil,
      kumaSd: Seq[KumaSd.Config] = Nil,
      zookeeperSd: Seq[ZookeeperSd.Config] = Nil, // serverset + nerve
      // per-scrape HTTP client config (ref: config/config.go ScrapeConfig
      // ScrapeTimeout + HTTPClientConfig): request timeout, rendered
      // Authorization header value (basic_auth / authorization /
      // bearer_token), URL query params (also exposed as __param_<name>
      // labels to relabeling, ref scrape/target.go PopulateDiscoveredLabels)
      timeoutMs: Long = 10000L,
      authHeader: Option[String] = None,
      // honor_timestamps default true (ref: config.go DefaultScrapeConfig)
      honorTimestamps: Boolean = true,
      // cap on relabel-dropped targets kept for /api/v1/targets
      // (0 = unlimited; ref: config.go KeepDroppedTargets)
      keepDroppedTargets: Long = 0L,
      // HTTP proxy + client TLS (ref: common HTTPClientConfig proxy_url /
      // no_proxy / proxy_from_environment / tls_config {ca_file,
      // insecure_skip_verify} / enable_http2)
      proxyUrl: String = "",
      tlsCaFile: String = "",
      tlsInsecureSkipVerify: Boolean = false,
      noProxy: String = "",
      proxyFromEnvironment: Boolean = false,
      enableHttp2: Boolean = true,
      // negotiation order + unrecognized-Content-Type parser (ref:
      // config.go ScrapeProtocols / ScrapeFallbackProtocol)
      scrapeProtocols: Seq[String] = Nil,
      fallbackProtocol: String = "",
      // emit classic _count/_sum/_bucket series ALONGSIDE a native
      // histogram from protobuf scrapes (ref: config.go
      // AlwaysScrapeClassicHistograms)
      alwaysClassicHist: Boolean = false,
      // Accept-Encoding: gzip on scrape requests (default true, ref:
      // config.go EnableCompression)
      enableCompression: Boolean = true,
      // classic → NHCB native conversion at scrape time (ref: ScrapeConfig
      // ConvertClassicHistogramsToNHCB; global default)
      convertNhcb: Boolean = false,
      // ingest native histograms from protobuf scrapes (ref: ScrapeConfig
      // ScrapeNativeHistograms, default false in 3.x; also selects
      // proto-first protocol negotiation). Pool default for the per-target
      // __scrape_native_histograms__ relabel override.
      scrapeNativeHistograms: Boolean = false,
      // follow HTTP 3xx redirects on scrapes (ref: common HTTPClientConfig
      // FollowRedirects, default true; cross-host hops drop credentials)
      followRedirects: Boolean = true,
      // oauth2 block of the common HTTP client config (ref:
      // configuration.md:706 <oauth2>) — the server builds one refreshing
      // TokenProvider per pool; mutually exclusive with authHeader (checker)
      oauth2: Option[graft.web.OAuth2.Config] = None,
      // http_headers of the common HTTP client config (ref:
      // configuration.md:733 — values/secrets/files merged per name;
      // file contents resolve at config load like the *_file auth fields)
      httpHeaders: Map[String, Seq[String]] = Map.empty,
      // scrape_failure_log_file (per-job override of the global; resolved
      // against the config dir — ref ScrapeConfig.ScrapeFailureLogFile)
      failureLogFile: Option[String] = None,
      // track_timestamps_staleness (ref #13060, default false)
      trackTimestampsStaleness: Boolean = false)

  /** one `alerting.alertmanagers` group (ref: config/config.go:1330
    * AlertmanagerConfig): target discovery + relabel_configs live on the
    * embedded [[ScrapeJob]] (same SD surface as scrape configs), the push
    * endpoint shape is scheme://addr + path_prefix + /api/<version>/alerts
    * (ref: notifier/alertmanager.go:87 postPath), and `alertRelabel` is
    * this group's own alert_relabel_configs applied just before send
    * (ref: notifier/alertmanagerset.go:139). */
  final case class AlertmanagerGroup(
      sd: ScrapeJob,
      scheme: String,
      pathPrefix: String,
      apiVersion: String,
      timeoutMs: Long,
      alertRelabel: Seq[Relabel.Rule],
      // sigv4 request signing for Amazon Managed Prometheus alertmanager
      // endpoints (ref config.go:1369 AlertmanagerConfig.SigV4Config,
      // notifier/alertmanagerset.go:58); basic/bearer/oauth2 ride the
      // embedded [[ScrapeJob]]'s HTTP client config
      sigv4: Option[SigV4Cfg] = None)

  final case class PromConfig(
      scrapeIntervalMs: Long,
      evaluationIntervalMs: Long,
      externalLabels: Map[String, String],
      ruleFiles: Seq[String],
      scrapeJobs: Seq[ScrapeJob],
      remoteWriteUrls: Seq[String],
      remoteReadUrls: Seq[String],
      alertmanagerUrls: Seq[String],
      queryLogFile: Option[String] = None,
      // alerting-level alert_relabel_configs (ref: config/config.go:1274)
      alertRelabel: Seq[Relabel.Rule] = Nil,
      alertmanagerGroups: Seq[AlertmanagerGroup] = Nil,
      // storage.exemplars.max_exemplars (ref: config/config.go:1265
      // ExemplarsConfig; ≤0 disables the storage)
      maxExemplars: Long = 100000L,
      // global.rule_query_offset — default evaluation-time offset for rule
      // groups without their own query_offset (ref: config.go GlobalConfig)
      ruleQueryOffsetMs: Long = 0L,
      // full remote_write entries (auth + headers + PRW message); the
      // legacy remoteWriteUrls field stays populated for URL-only callers
      remoteWrites: Seq[RemoteWriteEntry] = Nil,
      // full remote_read entries — url + rendered auth + custom headers;
      // feeds authenticated RemoteReadClients for the fanout surface
      remoteReads: Seq[RemoteReadEntry] = Nil,
      // expanded scrape_config_files paths — the auto-reload watcher
      // tracks them like rule files (ref main.go reloadConfig watching)
      scrapeConfigPaths: Seq[String] = Nil,
      // `otlp:` receiver block (ref config.go:1755 OTLPConfig subset)
      otlp: graft.web.Otlp.OtlpCfg = graft.web.Otlp.OtlpCfg()) {
    /** all scrape targets of a job (static + current file-SD contents) */
    def targetsOf(job: ScrapeJob): Seq[ScrapeManager.ScrapeTarget] =
      (job.staticTargets ++ job.fileSdPaths.flatMap(p =>
        try ScrapeManager.fileSdTargets(p, job.jobName, job.scheme, job.metricsPath)
        catch { case _: Exception => Nil }))
        .map(_.copy(honorLabels = job.honorLabels))
  }

  /** one remote_write entry (ref: config/config.go RemoteWriteConfig —
    * the subset the forwarder acts on: url, rendered auth header, custom
    * headers, protobuf_message selecting PRW 1.0 vs 2.0, display name) */
  final case class RemoteWriteEntry(
      url: String,
      name: String = "",
      authHeader: Option[String] = None,
      headers: Map[String, String] = Map.empty,
      protoVersion: Int = 1,
      // write_relabel_configs: applied to every outgoing batch before the
      // send (ref: storage/remote/queue_manager.go processExternalLabels →
      // relabel.Process; the standard drop-expensive-series valve)
      writeRelabel: Seq[Relabel.Rule] = Nil,
      // azuread auth block (ref storage/remote/azuread; #18217 certificate
      // flow) — mutually exclusive with the other auth shapes (checker)
      azureAd: Option[graft.web.AzureAd.Config] = None,
      // sigv4 auth block (ref config.go:1502 SigV4Config; configuration.md
      // :3715 — Amazon Managed Prometheus sinks, service "aps")
      sigv4: Option[SigV4Cfg] = None,
      // oauth2 client-credentials / jwt-bearer block (ref common
      // HTTPClientConfig OAuth2; configuration.md:3034)
      oauth2: Option[graft.web.OAuth2.Config] = None,
      // google_iam: service-account → Bearer for Google Cloud Monitoring
      // sinks (ref config.go:1504; storage/remote/googleiam)
      googleIam: Option[graft.web.GoogleIam.Config] = None,
      // queue_config (ref config.go:1612 QueueConfig) — see the Forwarder
      // scaladoc for the shards↔partitions mapping
      queue: QueueCfg = QueueCfg(),
      // remote_timeout (ref DefaultRemoteWriteConfig 30s) — per-request cap
      remoteTimeoutMs: Long = 30000L,
      // send_native_histograms (upstream default false): v2 endpoints only
      // carry histogram rows when enabled
      sendNativeHistograms: Boolean = false,
      // metadata_config.send (ref config.go MetadataConfig, default true):
      // gates the v2 inline per-series metadata; send_interval and
      // max_samples_per_send are 1.0 separate-RPC pacing knobs — parsed
      // and validated, inert here (documented divergence)
      metadataSend: Boolean = true,
      // transport knobs — remote_write default pins HTTP/1.1
      client: HttpClientCfg = HttpClientCfg(enableHttp2 = false))

  /** common HTTP-client TRANSPORT knobs shared by remote_write/remote_read
    * entries (ref common HTTPClientConfig). enable_http2 defaults differ:
    * remote_write ships HTTP/1.1 (config.go:221
    * DefaultRemoteWriteHTTPClientConfig), remote_read the common HTTP/2
    * default (config.go:265). */
  final case class HttpClientCfg(
      followRedirects: Boolean = true,
      enableHttp2: Boolean = true,
      tlsCaFile: String = "",
      tlsInsecureSkipVerify: Boolean = false,
      proxyUrl: String = "",
      noProxy: String = "",
      proxyFromEnvironment: Boolean = false)

  private def clientCfgOf(m: YMap, base: java.nio.file.Path,
      http2Default: Boolean): HttpClientCfg = HttpClientCfg(
    followRedirects = !m.str("follow_redirects").contains("false"),
    enableHttp2 = m.str("enable_http2") match {
      case Some("true") => true
      case Some("false") => false
      case _ => http2Default
    },
    tlsCaFile = m.get("tls_config") match {
      case Some(tc: YMap) =>
        val f = tc.str("ca_file").filter(_.nonEmpty).getOrElse("")
        if (f.nonEmpty) base.resolve(f).toString else ""
      case _ => ""
    },
    tlsInsecureSkipVerify = m.get("tls_config") match {
      case Some(tc: YMap) => tc.str("insecure_skip_verify").contains("true")
      case _ => false
    },
    proxyUrl = m.str("proxy_url").filter(_.nonEmpty).getOrElse(""),
    noProxy = m.str("no_proxy").filter(_.nonEmpty).getOrElse(""),
    proxyFromEnvironment = m.str("proxy_from_environment").contains("true"))

  /** sigv4 block (ref: the prometheus/sigv4 library's SigV4Config as
    * documented at configuration.md:3715; access/secret keys, named
    * shared-config profile, and STS AssumeRole with external_id all ride
    * the credential chain [[AwsSd.credentials]] already implements).
    * `use_fips_sts_endpoint` selects the sts-fips.* endpoint host. */
  final case class SigV4Cfg(
      region: String = "",
      accessKey: String = "",
      secretKey: String = "",
      profile: String = "",
      roleArn: String = "",
      externalId: String = "",
      useFipsStsEndpoint: Boolean = false)

  /** queue_config (ref config.go:1612 QueueConfig, defaults config.go:236
    * DefaultQueueConfig). capacity / min_shards / batch_send_deadline are
    * queue-manager pacing knobs with no foreachBatch analog — parsed and
    * validated, intentionally inert at runtime (documented divergence). */
  final case class QueueCfg(
      capacity: Int = 10000,
      maxShards: Int = 50,
      minShards: Int = 1,
      maxSamplesPerSend: Int = 2000,
      batchSendDeadlineMs: Long = 5000L,
      minBackoffMs: Long = 30L,
      maxBackoffMs: Long = 5000L,
      retryOnHttp429: Boolean = false,
      sampleAgeLimitMs: Long = 0L)

  /** one remote_read entry (ref config.go RemoteReadConfig — the client
    * subset this engine acts on) */
  final case class RemoteReadEntry(
      url: String,
      name: String = "",
      authHeader: Option[String] = None,
      headers: Map[String, String] = Map.empty,
      oauth2: Option[graft.web.OAuth2.Config] = None,
      // fanout routing policy (ref config.go:1679 RemoteReadConfig:
      // ReadRecent default false, FilterExternalLabels default true,
      // RequiredMatchers as equality pairs) — see FanoutStore.Secondary
      readRecent: Boolean = false,
      requiredMatchers: Map[String, String] = Map.empty,
      filterExternalLabels: Boolean = true,
      // remote_timeout (ref DefaultRemoteReadConfig 1m)
      remoteTimeoutMs: Long = 60000L,
      // transport knobs — remote_read keeps the common HTTP/2 default
      client: HttpClientCfg = HttpClientCfg())

  /** rendered Authorization header from basic_auth / authorization /
    * bearer_token* (ref: common HTTPClientConfig — exactly one wins,
    * in that precedence; *_file paths resolve against the config dir) */
  private def authHeaderOf(m: YMap, base: java.nio.file.Path): Option[String] = {
    def fileOrInline(inline: String, file: String): String =
      if (inline.nonEmpty) inline
      else if (file.nonEmpty)
        try new String(java.nio.file.Files.readAllBytes(
          base.resolve(file)), "UTF-8").trim
        catch { case _: Exception => "" }
      else ""
    (m.get("basic_auth") match {
      case Some(ba: YMap) =>
        val user = str(ba, "username")
        val pass = fileOrInline(str(ba, "password"), str(ba, "password_file"))
        if (user.nonEmpty || pass.nonEmpty)
          Some("Basic " + java.util.Base64.getEncoder.encodeToString(
            s"$user:$pass".getBytes("UTF-8")))
        else None
      case _ => None
    }).orElse(m.get("authorization") match {
      case Some(az: YMap) =>
        val typ = { val t = str(az, "type"); if (t.nonEmpty) t else "Bearer" }
        val cred = fileOrInline(str(az, "credentials"), str(az, "credentials_file"))
        if (cred.nonEmpty) Some(s"$typ $cred") else None
      case _ => None
    }).orElse {
      val tok = fileOrInline(str(m, "bearer_token"), str(m, "bearer_token_file"))
      if (tok.nonEmpty) Some(s"Bearer $tok") else None
    }
  }

  /** azuread block → [[graft.web.AzureAd.Config]] (ref azuread.go
    * AzureADConfig; validation lives in ConfigCheck — load stays lenient) */
  private def azureAdOf(m: YMap): Option[graft.web.AzureAd.Config] =
    m.get("azuread") match {
      case Some(az: YMap) =>
        import graft.web.AzureAd
        Some(AzureAd.Config(
          cloud = str(az, "cloud", AzureAd.AzurePublic),
          scope = str(az, "scope"),
          managedIdentity = az.get("managed_identity").collect { case mi: YMap =>
            AzureAd.ManagedIdentity(str(mi, "client_id")) },
          workloadIdentity = az.get("workload_identity").collect { case wi: YMap =>
            AzureAd.WorkloadIdentity(str(wi, "client_id"), str(wi, "tenant_id"),
              str(wi, "token_file_path")) },
          oauth = az.get("oauth").collect { case o: YMap =>
            AzureAd.OAuth(str(o, "client_id"), str(o, "client_secret"),
              str(o, "tenant_id")) },
          sdk = az.get("sdk").collect { case s: YMap =>
            AzureAd.Sdk(str(s, "tenant_id")) },
          certificate = az.get("certificate").collect { case c: YMap =>
            AzureAd.Certificate(str(c, "client_id"), str(c, "tenant_id"),
              str(c, "certificate_path"), str(c, "certificate_key_path"),
              str(c, "certificate_password"),
              c.str("send_certificate_chain").contains("true")) }))
      case _ => None
    }

  /** oauth2 block → [[graft.web.OAuth2.Config]] (ref configuration.md:706
    * <oauth2>; *_file paths resolve against the config dir) */
  private def oauth2Of(m: YMap, base: java.nio.file.Path)
      : Option[graft.web.OAuth2.Config] =
    m.get("oauth2") match {
      case Some(o: YMap) =>
        def resolved(k: String): String = {
          val f = str(o, k)
          if (f.nonEmpty) base.resolve(f).toString else ""
        }
        Some(graft.web.OAuth2.Config(
          clientId = str(o, "client_id"),
          tokenUrl = str(o, "token_url"),
          clientSecret = str(o, "client_secret"),
          clientSecretFile = resolved("client_secret_file"),
          scopes = strList(o.get("scopes")),
          endpointParams = kv(o.get("endpoint_params")),
          grantType = str(o, "grant_type"),
          clientCertificateKey = str(o, "client_certificate_key"),
          clientCertificateKeyFile = resolved("client_certificate_key_file"),
          clientCertificateKeyId = str(o, "client_certificate_key_id"),
          signatureAlgorithm = str(o, "signature_algorithm"),
          iss = str(o, "iss"),
          audience = str(o, "audience"),
          claims = kv(o.get("claims"))))
      case _ => None
    }

  /** http_headers block → per-name value lists (ref configuration.md:733:
    * `values` inline, `secrets` inline-but-redacted-in-UI, `files` read
    * from disk relative to the config dir). Order: values, secrets, files —
    * the order prometheus/common emits them. */
  private def httpHeadersOf(m: YMap, base: java.nio.file.Path)
      : Map[String, Seq[String]] =
    m.get("http_headers") match {
      case Some(h: YMap) =>
        h.entries.collect { case (name, spec: YMap) =>
          val fileVals = strList(spec.get("files")).flatMap { f =>
            try Some(new String(java.nio.file.Files.readAllBytes(
              base.resolve(f)), "UTF-8").trim)
            catch { case _: Exception => None }
          }
          name -> (strList(spec.get("values")) ++ strList(spec.get("secrets")) ++
            fileVals)
        }.filter(_._2.nonEmpty).toMap
      case _ => Map.empty
    }

  /** sigv4 block → [[SigV4Cfg]]; `sigv4: {}` (the documented "use the
    * default AWS credential chain" shape) yields the all-defaults config */
  private def sigv4Of(m: YMap): Option[SigV4Cfg] =
    m.get("sigv4") match {
      case Some(s4: YMap) => Some(SigV4Cfg(
        region = str(s4, "region"),
        accessKey = str(s4, "access_key"),
        secretKey = str(s4, "secret_key"),
        profile = str(s4, "profile"),
        roleArn = str(s4, "role_arn"),
        externalId = str(s4, "external_id"),
        useFipsStsEndpoint = s4.str("use_fips_sts_endpoint").contains("true")))
      case Some(YScalar(s)) if s.trim.isEmpty => Some(SigV4Cfg())
      case _ => None
    }

  /** queue_config block → [[QueueCfg]] with the reference's defaults */
  private def queueOf(m: YMap): QueueCfg = m.get("queue_config") match {
    case Some(q: YMap) => QueueCfg(
      capacity = q.str("capacity").map(_.trim.toInt).getOrElse(10000),
      maxShards = q.str("max_shards").map(_.trim.toInt).getOrElse(50),
      minShards = q.str("min_shards").map(_.trim.toInt).getOrElse(1),
      maxSamplesPerSend =
        q.str("max_samples_per_send").map(_.trim.toInt).getOrElse(2000),
      batchSendDeadlineMs =
        q.str("batch_send_deadline").map(durMs).getOrElse(5000L),
      minBackoffMs = q.str("min_backoff").map(durMs).getOrElse(30L),
      maxBackoffMs = q.str("max_backoff").map(durMs).getOrElse(5000L),
      retryOnHttp429 = q.str("retry_on_http_429").contains("true"),
      sampleAgeLimitMs = q.str("sample_age_limit").map(durMs).getOrElse(0L))
    case _ => QueueCfg()
  }

  private def durMs(s: String): Long = graft.promqltest.TestScript.parseTime(s)

  private def str(n: YMap, k: String, dflt: String = ""): String =
    n.str(k).filter(_.nonEmpty).getOrElse(dflt)

  /** an SD config's (token, token file): `authorization.credentials[_file]`,
    * else the legacy `bearer_token[_file]` unless `legacy` is off */
  private def sdToken(n: YMap, legacy: Boolean = true): (String, String) =
    n.get("authorization") match {
      case Some(am: YMap) => (str(am, "credentials"), str(am, "credentials_file"))
      case _ if legacy => (str(n, "bearer_token"), str(n, "bearer_token_file"))
      case _ => ("", "")
    }

  private def kv(n: Option[YNode]): Map[String, String] = n match {
    case Some(m: YMap) => m.entries.collect { case (k, YScalar(v)) => k -> v }.toMap
    case _ => Map.empty
  }

  private def strList(n: Option[YNode]): Seq[String] = n match {
    case Some(YList(items)) => items.collect { case YScalar(s) => s }
    case Some(YScalar(s)) if s.nonEmpty => Seq(s)
    case _ => Nil
  }

  /** relabel_configs entry → Relabel.Rule (defaults ref: relabel.go
    * DefaultRelabelConfig) */
  private def relabelRule(m: YMap): Relabel.Rule = {
    import Relabel._
    val action = str(m, "action", "replace").toLowerCase match {
      case "replace" => Replace
      case "keep" => Keep
      case "drop" => Drop
      case "keepequal" => KeepEqual
      case "dropequal" => DropEqual
      case "hashmod" => HashMod
      case "labelmap" => LabelMap
      case "labeldrop" => LabelDrop
      case "labelkeep" => LabelKeep
      case "lowercase" => Lowercase
      case "uppercase" => Uppercase
      case other => throw new IllegalArgumentException(s"unknown relabel action '$other'")
    }
    Rule(action,
      sourceLabels = strList(m.get("source_labels")),
      separator = str(m, "separator", ";"),
      regex = str(m, "regex", "(.*)"),
      targetLabel = str(m, "target_label"),
      replacement = str(m, "replacement", "$1"),
      modulus = m.str("modulus").map(_.toLong).getOrElse(0L))
  }

  private def relabelChain(n: Option[YNode]): Seq[Relabel.Rule] = n match {
    case Some(YList(items)) => items.collect { case m: YMap => relabelRule(m) }
    case _ => Nil
  }

  /** expand a rule_files pattern (globs supported) relative to baseDir;
    * non-matching patterns contribute nothing (the reference warns) */
  private[streaming] def expandGlob(baseDir: java.nio.file.Path, pattern: String): Seq[String] = {
    val p = if (pattern.startsWith("/")) pattern else baseDir.resolve(pattern).toString
    // filepath.Glob metacharacters are * ? and [...] (ref: Go path/filepath
    // Match) — a pattern like `rules-?.yml` must glob, not literal-match
    if (!p.exists(c => c == '*' || c == '?' || c == '[')) {
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(p))) Seq(p) else Nil
    } else {
      val dir = java.nio.file.Paths.get(p).getParent
      if (dir == null || !java.nio.file.Files.isDirectory(dir)) Nil
      else {
        val matcher = java.nio.file.FileSystems.getDefault.getPathMatcher("glob:" + p)
        val s = java.nio.file.Files.list(dir)
        try s.iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
          .asScalaIter.filter(matcher.matches).map(_.toString).toSeq.sorted
        finally s.close()
      }
    }
  }

  def parse(text: String, baseDir: String = "."): PromConfig = {
    val root = YamlLite.parse(text) match {
      case m: YMap => m
      case other => throw new IllegalArgumentException(s"expected a mapping, got $other")
    }
    val base = java.nio.file.Paths.get(baseDir)
    val global = root.get("global") match { case Some(m: YMap) => m; case _ => YMap(Nil) }
    // defaults ref: config/config.go DefaultGlobalConfig (1m scrape, 1m eval)
    val scrapeMs = global.str("scrape_interval").map(durMs).getOrElse(60000L)
    val evalMs = global.str("evaluation_interval").map(durMs).getOrElse(60000L)
    // one scrape_config body → ScrapeJob; the alertmanagers groups reuse the
    // full SD-config surface through the same parser (ref: config/config.go:846
    // AlertmanagerConfig.ServiceDiscoveryConfigs is the same
    // discovery.Configs type scrape configs use)
    def parseScrapeJob(m: YMap, nameDefault: String = "",
        // files included via scrape_config_files resolve their relative
        // paths against THEIR OWN directory (ref config.go SetDirectory)
        jobBase: java.nio.file.Path = base): ScrapeJob = {
      val name = { val n = str(m, "job_name"); if (n.nonEmpty) n else nameDefault }
      val scheme = str(m, "scheme", "http")
      // params ride the metrics path as a query string; relabeling sees
      // them as __param_<name> labels (ref: scrape/target.go URL())
      val params: Seq[(String, Seq[String])] = m.get("params") match {
        case Some(pm: YMap) => pm.entries.map {
          case (k, YList(vs)) => k -> vs.collect { case YScalar(s) => s }
          case (k, YScalar(s)) => k -> Seq(s)
          case (k, _) => k -> Nil
        }
        case _ => Nil
      }
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      val query = params.flatMap { case (k, vs) => vs.map(v => s"${enc(k)}=${enc(v)}") }
        .mkString("&")
      val path = str(m, "metrics_path", "/metrics") +
        (if (query.nonEmpty) s"?$query" else "")
      // scrape_timeout: per-job, else global, else the reference default 10s
      val timeoutMs = m.str("scrape_timeout").orElse(global.str("scrape_timeout"))
        .map(durMs).getOrElse(10000L)
      // rendered Authorization header (ref: common HTTPClientConfig —
      // exactly one of basic_auth / authorization / bearer_token*)
      val authHeader = authHeaderOf(m, jobBase)
      val statics = m.list("static_configs").collect { case sc: YMap =>
        val lbls = kv(sc.get("labels"))
        strList(sc.get("targets")).map(addr =>
          ScrapeManager.ScrapeTarget(s"$scheme://$addr$path",
            lbls.getOrElse("job", name), addr, extraLabels = lbls - "job"))
      }.flatten
      val sdFiles = m.list("file_sd_configs").collect { case fc: YMap =>
        strList(fc.get("files")).flatMap(expandGlob(jobBase, _))
      }.flatten
      // dns_sd_configs (ref: discovery/dns/dns.go SDConfig; defaults
      // type=SRV, refresh_interval=30s)
      val dnsSd = m.list("dns_sd_configs").collect { case dc: YMap =>
        Discovery.DnsSd.Config(
          strList(dc.get("names")),
          str(dc, "type", "SRV"),
          dc.str("port").map(_.toInt).getOrElse(0),
          dc.str("refresh_interval").map(durMs).getOrElse(30000L))
      }
      // http_sd_configs (ref: discovery/http/http.go; default refresh 60s)
      val httpSd = m.list("http_sd_configs").collect { case hc: YMap =>
        (str(hc, "url"),
          hc.str("refresh_interval").map(durMs).getOrElse(60000L))
      }.filter(_._1.nonEmpty)
      // kubernetes_sd_configs (ref: discovery/kubernetes/kubernetes.go
      // SDConfig: role required; api_server empty = in-cluster)
      val k8sSd = m.list("kubernetes_sd_configs").collect { case kc: YMap =>
        val (nss, ownNs) = kc.get("namespaces") match {
          case Some(nm: YMap) =>
            (strList(nm.get("names")), nm.str("own_namespace").contains("true"))
          case _ => (Nil, false)
        }
        val tokenFile = sdToken(kc)._2
        val selectors = kc.list("selectors").collect { case sm: YMap =>
          KubernetesSd.Selector(str(sm, "role"), str(sm, "label"), str(sm, "field"))
        }
        val attach = kc.get("attach_metadata") match {
          case Some(am: YMap) => KubernetesSd.AttachMetadata(
            node = am.str("node").contains("true"),
            namespace = am.str("namespace").contains("true"),
            deployment = am.str("deployment").contains("true"),
            job = am.str("job").contains("true"),
            cronjob = am.str("cronjob").contains("true"))
          case _ => KubernetesSd.AttachMetadata()
        }
        KubernetesSd.Config(str(kc, "role"), str(kc, "api_server"), nss,
          tokenFile, kc.str("refresh_interval").map(durMs).getOrElse(30000L),
          ownNamespace = ownNs, selectors = selectors, attachMetadata = attach)
      }.filter(_.role.nonEmpty)
      // consul_sd_configs (ref: discovery/consul/consul.go SDConfig)
      val consulSd = m.list("consul_sd_configs").collect { case cc: YMap =>
        ConsulSd.Config(
          str(cc, "server", "localhost:8500"),
          str(cc, "scheme", "http"),
          str(cc, "datacenter"),
          str(cc, "namespace"),
          str(cc, "partition"),
          strList(cc.get("services")),
          strList(cc.get("tags")),
          kv(cc.get("node_meta")),
          str(cc, "filter"),
          str(cc, "health_filter"),
          cc.str("allow_stale").contains("true"),
          str(cc, "tag_separator", ","),
          str(cc, "token"),
          cc.str("refresh_interval").map(durMs).getOrElse(30000L))
      }
      // ec2_sd_configs (ref: discovery/aws/ec2.go EC2SDConfig)
      val ec2Sd = m.list("ec2_sd_configs").collect { case ec: YMap =>
        Ec2Sd.Config(
          str(ec, "region"),
          ec.str("port").map(_.toInt).getOrElse(80),
          str(ec, "access_key"),
          str(ec, "secret_key"),
          str(ec, "endpoint"),
          str(ec, "role_arn"),
          str(ec, "external_id"),
          str(ec, "profile"),
          ec.str("refresh_interval").map(durMs).getOrElse(60000L))
      }.filter(_.region.nonEmpty)
      // ecs_sd_configs (ref: discovery/aws/ecs.go ECSSDConfig; region may be
      // omitted — resolution deferred to SD init per reference #19037)
      val ecsSd = m.list("ecs_sd_configs").collect { case ec: YMap =>
        EcsSd.Config(
          str(ec, "region"),
          ec.str("port").map(_.toInt).getOrElse(80),
          str(ec, "access_key"),
          str(ec, "secret_key"),
          str(ec, "endpoint"),
          str(ec, "role_arn"),
          str(ec, "external_id"),
          str(ec, "profile"),
          strList(ec.get("clusters")),
          ec.str("request_concurrency").map(_.toInt).getOrElse(20),
          ec.str("refresh_interval").map(durMs).getOrElse(60000L))
      }
      // rds_sd_configs (ref: discovery/aws/rds.go RDSSDConfig; `filters`
      // forward to DescribeDBInstances, reference feature #18859)
      val rdsSd = m.list("rds_sd_configs").collect { case rc: YMap =>
        RdsSd.Config(
          str(rc, "region"),
          rc.str("port").map(_.toInt).getOrElse(80),
          str(rc, "access_key"),
          str(rc, "secret_key"),
          str(rc, "endpoint"),
          str(rc, "role_arn"),
          str(rc, "external_id"),
          str(rc, "profile"),
          strList(rc.get("clusters")),
          rc.list("filters").collect { case f: YMap =>
            (str(f, "name"), strList(f.get("values")))
          },
          rc.str("refresh_interval").map(durMs).getOrElse(60000L))
      }
      // msk_sd_configs (ref: discovery/aws/msk.go MSKSDConfig)
      val mskSd = m.list("msk_sd_configs").collect { case kc: YMap =>
        MskSd.Config(
          str(kc, "region"),
          kc.str("port").map(_.toInt).getOrElse(80),
          str(kc, "access_key"),
          str(kc, "secret_key"),
          str(kc, "endpoint"),
          str(kc, "role_arn"),
          str(kc, "external_id"),
          str(kc, "profile"),
          strList(kc.get("clusters")),
          kc.str("refresh_interval").map(durMs).getOrElse(60000L))
      }
      // elasticache_sd_configs (ref: discovery/aws/elasticache.go)
      val elasticacheSd = m.list("elasticache_sd_configs").collect { case cc: YMap =>
        ElasticacheSd.Config(
          str(cc, "region"),
          cc.str("port").map(_.toInt).getOrElse(80),
          str(cc, "access_key"),
          str(cc, "secret_key"),
          str(cc, "endpoint"),
          str(cc, "role_arn"),
          str(cc, "external_id"),
          str(cc, "profile"),
          strList(cc.get("clusters")),
          cc.str("refresh_interval").map(durMs).getOrElse(60000L))
      }
      // gce_sd_configs (ref: discovery/gce/gce.go SDConfig)
      val gceSd = m.list("gce_sd_configs").collect { case gc: YMap =>
        GceSd.Config(
          str(gc, "project"),
          str(gc, "zone"),
          gc.str("port").map(_.toInt).getOrElse(80),
          str(gc, "tag_separator", ","),
          str(gc, "endpoint"),
          gc.str("refresh_interval").map(durMs).getOrElse(60000L))
      }.filter(c => c.project.nonEmpty && c.zone.nonEmpty)
      // azure_sd_configs (ref: discovery/azure/azure.go SDConfig)
      val azureSd = m.list("azure_sd_configs").collect { case ac: YMap =>
        AzureSd.Config(
          str(ac, "subscription_id"),
          str(ac, "tenant_id"),
          str(ac, "client_id"),
          str(ac, "client_secret"),
          ac.str("port").map(_.toInt).getOrElse(80),
          str(ac, "resource_group"),
          ac.str("refresh_interval").map(durMs).getOrElse(300000L))
      }.filter(_.subscriptionId.nonEmpty)
      // docker_sd_configs (ref: discovery/moby/docker.go DockerSDConfig)
      val dockerSd = m.list("docker_sd_configs").collect { case dk: YMap =>
        DockerSd.Config(
          str(dk, "host"),
          dk.str("port").map(_.toInt).getOrElse(80),
          dk.str("refresh_interval").map(durMs).getOrElse(60000L))
      }.filter(_.host.nonEmpty)
      // digitalocean_sd_configs (ref: discovery/digitalocean/digitalocean.go
      // SDConfig; defaults role droplets, port 80, refresh 60s)
      val doSd = m.list("digitalocean_sd_configs").collect { case oc: YMap =>
        val (tok, tokenFile) = sdToken(oc)
        DigitalOceanSd.Config(
          str(oc, "role", "droplets"), tok, tokenFile,
          oc.str("port").map(_.toInt).getOrElse(80),
          oc.str("refresh_interval").map(durMs).getOrElse(60000L))
      }
      // hetzner_sd_configs (ref: discovery/hetzner/hetzner.go SDConfig)
      val hetznerSd = m.list("hetzner_sd_configs").collect { case hz: YMap =>
        val (user, pass) = hz.get("basic_auth") match {
          case Some(ba: YMap) => (str(ba, "username"), str(ba, "password"))
          case _ => ("", "")
        }
        val (tok, tokFile) = sdToken(hz)
        HetznerSd.Config(str(hz, "role"), tok, tokFile, user, pass,
          hz.str("port").map(_.toInt).getOrElse(80),
          str(hz, "label_selector"),
          hz.str("refresh_interval").map(durMs).getOrElse(60000L))
      }.filter(_.role.nonEmpty)
      // openstack_sd_configs (ref: discovery/openstack/openstack.go SDConfig)
      val openstackSd = m.list("openstack_sd_configs").collect { case os: YMap =>
        OpenStackSd.Config(
          str(os, "role"), str(os, "region"),
          str(os, "identity_endpoint"),
          str(os, "username"), str(os, "userid"), str(os, "password"),
          str(os, "domain_name"), str(os, "domain_id"),
          str(os, "project_name"), str(os, "project_id"),
          str(os, "application_credential_name"),
          str(os, "application_credential_id"),
          str(os, "application_credential_secret"),
          os.str("all_tenants").contains("true"),
          str(os, "availability", "public"),
          os.str("port").map(_.toInt).getOrElse(80),
          os.str("refresh_interval").map(durMs).getOrElse(60000L))
      }.filter(_.role.nonEmpty)
      // eureka_sd_configs (ref: discovery/eureka/eureka.go SDConfig)
      val eurekaSd = m.list("eureka_sd_configs").collect { case ec: YMap =>
        EurekaSd.Config(str(ec, "server"),
          ec.str("refresh_interval").map(durMs).getOrElse(30000L))
      }.filter(_.server.nonEmpty)
      // nomad_sd_configs (ref: discovery/nomad/nomad.go DefaultSDConfig)
      val nomadSd = m.list("nomad_sd_configs").collect { case nc: YMap =>
        NomadSd.Config(
          str(nc, "server", "http://localhost:4646"),
          str(nc, "namespace", "default"),
          str(nc, "region", "global"),
          !nc.str("allow_stale").contains("false"),
          str(nc, "tag_separator", ","),
          nc.str("refresh_interval").map(durMs).getOrElse(60000L))
      }
      // marathon_sd_configs (ref: discovery/marathon/marathon.go SDConfig)
      val marathonSd = m.list("marathon_sd_configs").collect { case mc: YMap =>
        MarathonSd.Config(
          strList(mc.get("servers")),
          str(mc, "auth_token"), str(mc, "auth_token_file"),
          mc.str("refresh_interval").map(durMs).getOrElse(30000L))
      }.filter(_.servers.nonEmpty)
      // puppetdb_sd_configs (ref: discovery/puppetdb/puppetdb.go SDConfig)
      val puppetdbSd = m.list("puppetdb_sd_configs").collect { case pc: YMap =>
        PuppetDbSd.Config(
          str(pc, "url"), str(pc, "query"),
          pc.str("include_parameters").contains("true"),
          pc.str("port").map(_.toInt).getOrElse(80),
          pc.str("refresh_interval").map(durMs).getOrElse(60000L))
      }.filter(c => c.url.nonEmpty && c.query.nonEmpty)
      // linode_sd_configs (ref: discovery/linode/linode.go SDConfig)
      val linodeSd = m.list("linode_sd_configs").collect { case lc: YMap =>
        val (tok, tokFile) = sdToken(lc)
        LinodeSd.Config(tok, tokFile, str(lc, "region"),
          lc.str("port").map(_.toInt).getOrElse(80),
          str(lc, "tag_separator", ","),
          lc.str("refresh_interval").map(durMs).getOrElse(60000L))
      }
      // vultr_sd_configs (ref: discovery/vultr/vultr.go SDConfig)
      val vultrSd = m.list("vultr_sd_configs").collect { case vc: YMap =>
        val (tok, tokFile) = sdToken(vc)
        VultrSd.Config(tok, tokFile,
          vc.str("port").map(_.toInt).getOrElse(80),
          vc.str("refresh_interval").map(durMs).getOrElse(60000L))
      }
      // scaleway_sd_configs (ref: discovery/scaleway/scaleway.go SDConfig)
      val scalewaySd = m.list("scaleway_sd_configs").collect { case sc: YMap =>
        ScalewaySd.Config(
          str(sc, "role"), str(sc, "project_id"),
          str(sc, "secret_key"), str(sc, "secret_key_file"),
          str(sc, "zone", "fr-par-1"),
          sc.str("port").map(_.toInt).getOrElse(80),
          str(sc, "name_filter"), strList(sc.get("tags_filter")),
          str(sc, "api_url", "https://api.scaleway.com"),
          sc.str("refresh_interval").map(durMs).getOrElse(60000L))
      }.filter(_.role.nonEmpty)
      // lightsail_sd_configs (ref: discovery/aws/lightsail.go)
      val lightsailSd = m.list("lightsail_sd_configs").collect { case lc: YMap =>
        LightsailSd.Config(str(lc, "region"),
          str(lc, "access_key"), str(lc, "secret_key"),
          str(lc, "endpoint"),
          str(lc, "role_arn"), str(lc, "external_id"),
          str(lc, "profile"),
          lc.str("port").map(_.toInt).getOrElse(80),
          lc.str("refresh_interval").map(durMs).getOrElse(60000L))
      }
      // dockerswarm_sd_configs (ref: discovery/moby/dockerswarm.go)
      val dockerswarmSd = m.list("dockerswarm_sd_configs").collect { case dk: YMap =>
        DockerSwarmSd.Config(
          str(dk, "host"), str(dk, "role"),
          dk.str("port").map(_.toInt).getOrElse(80),
          dk.str("refresh_interval").map(durMs).getOrElse(60000L))
      }.filter(c => c.host.nonEmpty && c.role.nonEmpty)
      // triton_sd_configs (ref: discovery/triton/triton.go SDConfig)
      val tritonSd = m.list("triton_sd_configs").collect { case tc: YMap =>
        TritonSd.Config(
          str(tc, "account"), str(tc, "dns_suffix"), str(tc, "endpoint"),
          str(tc, "role", "container"),
          strList(tc.get("groups")),
          tc.str("port").map(_.toInt).getOrElse(9163),
          tc.str("version").map(_.toInt).getOrElse(1),
          tc.str("refresh_interval").map(durMs).getOrElse(60000L))
      }.filter(_.endpoint.nonEmpty)
      // ovhcloud_sd_configs (ref: discovery/ovhcloud/ovhcloud.go SDConfig)
      val ovhcloudSd = m.list("ovhcloud_sd_configs").collect { case oc: YMap =>
        OvhcloudSd.Config(
          str(oc, "service"),
          str(oc, "application_key"), str(oc, "application_secret"),
          str(oc, "consumer_key"),
          str(oc, "endpoint", "ovh-eu"),
          oc.str("refresh_interval").map(durMs).getOrElse(60000L))
      }.filter(_.service.nonEmpty)
      // ionos_sd_configs (ref: discovery/ionos/ionos.go SDConfig)
      val ionosSd = m.list("ionos_sd_configs").collect { case ic: YMap =>
        val tok = sdToken(ic, legacy = false)._1
        val (user, pass) = ic.get("basic_auth") match {
          case Some(ba: YMap) => (str(ba, "username"), str(ba, "password"))
          case _ => ("", "")
        }
        IonosSd.Config(str(ic, "datacenter_id"), tok, user, pass,
          ic.str("port").map(_.toInt).getOrElse(80),
          ic.str("refresh_interval").map(durMs).getOrElse(60000L))
      }.filter(_.datacenterId.nonEmpty)
      // stackit_sd_configs (ref: discovery/stackit/stackit.go SDConfig)
      val stackitSd = m.list("stackit_sd_configs").collect { case sk: YMap =>
        val tok = sdToken(sk, legacy = false)._1
        StackitSd.Config(str(sk, "project"), str(sk, "region"),
          str(sk, "endpoint"), tok,
          sk.str("port").map(_.toInt).getOrElse(80),
          sk.str("refresh_interval").map(durMs).getOrElse(60000L))
      }.filter(_.project.nonEmpty)
      // outscale_sd_configs (ref: discovery/outscale/outscale.go SDConfig)
      val outscaleSd = m.list("outscale_sd_configs").collect { case oc: YMap =>
        OutscaleSd.Config(str(oc, "region"),
          str(oc, "access_key"), str(oc, "secret_key"),
          str(oc, "secret_key_file"), str(oc, "endpoint"),
          oc.str("port").map(_.toInt).getOrElse(80),
          oc.str("refresh_interval").map(durMs).getOrElse(60000L))
      }.filter(_.region.nonEmpty)
      // uyuni_sd_configs (ref: discovery/uyuni/uyuni.go SDConfig)
      val uyuniSd = m.list("uyuni_sd_configs").collect { case uc: YMap =>
        UyuniSd.Config(str(uc, "server"),
          str(uc, "username"), str(uc, "password"),
          str(uc, "entitlement", "monitoring_entitled"),
          str(uc, "separator", ","),
          uc.str("refresh_interval").map(durMs).getOrElse(60000L))
      }.filter(_.server.nonEmpty)
      // oci_sd_configs (ref: discovery/oci/oci.go SDConfig)
      val ociSd = m.list("oci_sd_configs").collect { case oc: YMap =>
        OciSd.Config(str(oc, "region"),
          str(oc, "tenancy"), str(oc, "user"), str(oc, "fingerprint"),
          str(oc, "key_file"), strList(oc.get("compartments")),
          oc.str("port").map(_.toInt).getOrElse(80),
          oc.str("refresh_interval").map(durMs).getOrElse(60000L))
      }.filter(_.region.nonEmpty)
      // kuma_sd_configs (ref: discovery/xds/kuma.go KumaSDConfig)
      val kumaSd = m.list("kuma_sd_configs").collect { case kc: YMap =>
        KumaSd.Config(str(kc, "server"), str(kc, "client_id"),
          kc.str("fetch_timeout").map(durMs).getOrElse(120000L),
          kc.str("refresh_interval").map(durMs).getOrElse(15000L))
      }.filter(_.server.nonEmpty)
      // serverset_sd_configs + nerve_sd_configs (ref: discovery/zookeeper/
      // zookeeper.go ServersetSDConfig / NerveSDConfig)
      val zookeeperSd =
        Seq("serverset" -> "serverset_sd_configs", "nerve" -> "nerve_sd_configs")
          .flatMap { case (kind, key) =>
            m.list(key).collect { case zc: YMap =>
              ZookeeperSd.Config(kind,
                strList(zc.get("servers")), strList(zc.get("paths")),
                zc.str("timeout").map(durMs).getOrElse(10000L),
                zc.str("refresh_interval").map(durMs).getOrElse(30000L))
            }
          }.filter(c => c.servers.nonEmpty && c.paths.nonEmpty)
      ScrapeJob(name, statics, sdFiles,
        m.str("scrape_interval").map(durMs).getOrElse(scrapeMs),
        relabelChain(m.get("relabel_configs")),
        relabelChain(m.get("metric_relabel_configs")),
        scheme, path,
        ScrapeManager.ScrapeLimits(
          m.str("sample_limit").map(_.toLong).getOrElse(0L),
          m.str("label_limit").map(_.toInt).getOrElse(0),
          m.str("label_name_length_limit").map(_.toInt).getOrElse(0),
          m.str("label_value_length_limit").map(_.toInt).getOrElse(0),
          m.str("body_size_limit").map(ScrapeManager.parseBytes).getOrElse(0L),
          m.str("target_limit").map(_.toLong).getOrElse(0L),
          m.str("native_histogram_bucket_limit").map(_.trim.toLong).getOrElse(0L),
          m.str("native_histogram_min_bucket_factor").map(_.trim.toDouble)
            .getOrElse(0.0)),
        m.str("honor_labels").contains("true"),
        dnsSd, httpSd, k8sSd, consulSd, ec2Sd, ecsSd, rdsSd, mskSd,
        elasticacheSd, gceSd, azureSd, dockerSd,
        doSd, hetznerSd, openstackSd, eurekaSd, nomadSd, marathonSd, puppetdbSd,
        linodeSd, vultrSd, scalewaySd, lightsailSd,
        dockerswarmSd, tritonSd, ovhcloudSd, ionosSd,
        stackitSd, outscaleSd, uyuniSd, ociSd, kumaSd, zookeeperSd,
        timeoutMs, authHeader,
        honorTimestamps = !m.str("honor_timestamps").contains("false"),
        keepDroppedTargets = m.str("keep_dropped_targets")
          .orElse(global.str("keep_dropped_targets")).map(_.toLong).getOrElse(0L),
        proxyUrl = str(m, "proxy_url"),
        noProxy = str(m, "no_proxy"),
        proxyFromEnvironment = m.str("proxy_from_environment").contains("true"),
        enableHttp2 = !m.str("enable_http2").contains("false"),
        tlsCaFile = m.get("tls_config") match {
          case Some(tc: YMap) =>
            val f = str(tc, "ca_file")
            if (f.nonEmpty) jobBase.resolve(f).toString else ""
          case _ => ""
        },
        tlsInsecureSkipVerify = m.get("tls_config") match {
          case Some(tc: YMap) => tc.str("insecure_skip_verify").contains("true")
          case _ => false
        },
        scrapeProtocols = (strList(m.get("scrape_protocols")) match {
          case Nil => strList(global.get("scrape_protocols"))
          case l => l
        }) match {
          // scrape_native_histograms with no explicit protocol list →
          // proto-first negotiation (ref: config.go
          // DefaultProtoFirstScrapeProtocols)
          case Nil if m.str("scrape_native_histograms").contains("true") =>
            "PrometheusProto" +: ScrapeManager.defaultScrapeProtocols
          case l => l
        },
        fallbackProtocol = str(m, "fallback_scrape_protocol"),
        oauth2 = oauth2Of(m, jobBase),
        httpHeaders = httpHeadersOf(m, jobBase),
        failureLogFile = m.str("scrape_failure_log_file")
          .orElse(global.str("scrape_failure_log_file"))
          .filter(_.nonEmpty).map(f => jobBase.resolve(f).toString),
        trackTimestampsStaleness =
          m.str("track_timestamps_staleness").contains("true"),
        alwaysClassicHist =
          m.str("always_scrape_classic_histograms").contains("true"),
        enableCompression = !m.str("enable_compression").contains("false"),
        convertNhcb = m.str("convert_classic_histograms_to_nhcb")
          .orElse(global.str("convert_classic_histograms_to_nhcb"))
          .contains("true"),
        scrapeNativeHistograms = m.str("scrape_native_histograms")
          .orElse(global.str("scrape_native_histograms"))
          .contains("true"),
        followRedirects = !m.str("follow_redirects").contains("false"))
    }
    // scrape_config_files: globbed side files each carrying their own
    // scrape_configs list (ref config.go:296 ScrapeConfigFiles +
    // GetScrapeConfigs — relative paths inside resolve against the
    // included file's directory)
    val scrapeConfigPaths = root.list("scrape_config_files")
      .collect { case YScalar(pat) => pat }
      .flatMap(expandGlob(base, _))
    val fileJobs = scrapeConfigPaths
      .flatMap { f =>
        try {
          val fp = java.nio.file.Paths.get(f)
          val sub = graft.promqltest.YamlLite.parse(
            new String(java.nio.file.Files.readAllBytes(fp), "UTF-8")) match {
            case mm: YMap => mm
            case _ => YMap(Nil)
          }
          val fb = Option(fp.getParent)
            .getOrElse(java.nio.file.Paths.get("."))
          sub.list("scrape_configs").collect {
            case jm: YMap => parseScrapeJob(jm, jobBase = fb) }
        } catch { case _: Exception => Nil }
      }
    val jobs = root.list("scrape_configs").collect { case m: YMap =>
      parseScrapeJob(m) } ++ fileJobs
    def urlsOf(key: String): Seq[String] =
      root.list(key).collect { case m: YMap => str(m, "url") }.filter(_.nonEmpty)
    // full remote_write entries (ref: config.go RemoteWriteConfig): auth
    // renders to one Authorization value, custom headers ride each request
    // (reserved protocol headers win — validated by ConfigCheck), and
    // protobuf_message io.prometheus.write.v2.Request selects PRW 2.0
    val remoteWrites = root.list("remote_write").collect { case m: YMap =>
      RemoteWriteEntry(
        str(m, "url"),
        str(m, "name"),
        authHeaderOf(m, base),
        kv(m.get("headers")),
        if (str(m, "protobuf_message") == "io.prometheus.write.v2.Request") 2
        else 1,
        relabelChain(m.get("write_relabel_configs")),
        azureAdOf(m),
        sigv4Of(m),
        oauth2Of(m, base),
        m.get("google_iam") match {
          case Some(g: YMap) =>
            Some(graft.web.GoogleIam.Config({
              val f = str(g, "credentials_file")
              if (f.nonEmpty) base.resolve(f).toString else ""
            }))
          case _ => None
        },
        queueOf(m),
        remoteTimeoutMs = m.str("remote_timeout").map(durMs).getOrElse(30000L),
        sendNativeHistograms =
          m.str("send_native_histograms").contains("true"),
        metadataSend = m.get("metadata_config") match {
          case Some(mc: YMap) => !mc.str("send").contains("false")
          case _ => true
        },
        client = clientCfgOf(m, base, http2Default = false))
    }.filter(_.url.nonEmpty)
    val remoteReads = root.list("remote_read").collect { case m: YMap =>
      RemoteReadEntry(str(m, "url"), str(m, "name"),
        authHeaderOf(m, base), kv(m.get("headers")), oauth2Of(m, base),
        readRecent = m.str("read_recent").contains("true"),
        requiredMatchers = kv(m.get("required_matchers")),
        filterExternalLabels = !m.str("filter_external_labels").contains("false"),
        remoteTimeoutMs = m.str("remote_timeout").map(durMs).getOrElse(60000L),
        client = clientCfgOf(m, base, http2Default = true))
    }.filter(_.url.nonEmpty)
    // alerting: — per-group service discovery via the scrape-job machinery
    // plus alert relabeling (ref: config/config.go:1274 AlertingConfig
    // {alert_relabel_configs, alertmanagers}; each group carries the full
    // *_sd_configs surface, relabel_configs for AM-target selection, and
    // its own alert_relabel_configs)
    val alertingYaml = root.get("alerting") match {
      case Some(a: YMap) => a
      case _ => YMap(Nil)
    }
    val alertRelabel = relabelChain(alertingYaml.get("alert_relabel_configs"))
    val amGroups = alertingYaml.list("alertmanagers").zipWithIndex.collect {
      case (m: YMap, i) =>
        AlertmanagerGroup(
          parseScrapeJob(m, nameDefault = s"alertmanager/$i"),
          str(m, "scheme", "http"),
          str(m, "path_prefix"),
          str(m, "api_version", "v2"),
          m.str("timeout").map(durMs).getOrElse(10000L),
          relabelChain(m.get("alert_relabel_configs")),
          sigv4Of(m))
    }
    // static AM base URLs (display surface + legacy notifier path); live
    // push endpoints resolve from the groups incl. SD + target relabeling
    val ams = amGroups.flatMap(g =>
      g.sd.staticTargets.map(t => s"${g.scheme}://${t.instance}${g.pathPrefix}"))
    PromConfig(scrapeMs, evalMs, kv(global.get("external_labels")),
      root.list("rule_files").collect { case YScalar(s) => s }.flatMap(expandGlob(base, _)),
      jobs, urlsOf("remote_write"), urlsOf("remote_read"), ams,
      // --query.log-file analog: global.query_log_file (relative to the
      // config file's directory, like rule_files)
      global.str("query_log_file").filter(_.nonEmpty)
        .map(f => base.resolve(f).toString),
      alertRelabel = alertRelabel,
      alertmanagerGroups = amGroups,
      maxExemplars = (root.get("storage") match {
        case Some(s: YMap) => s.get("exemplars") match {
          case Some(e: YMap) => e.str("max_exemplars").map(_.toLong)
          case _ => None
        }
        case _ => None
      }).getOrElse(100000L),
      ruleQueryOffsetMs = global.str("rule_query_offset").map(durMs).getOrElse(0L),
      remoteWrites = remoteWrites,
      remoteReads = remoteReads,
      scrapeConfigPaths = scrapeConfigPaths,
      otlp = root.get("otlp") match {
        case Some(o: YMap) => graft.web.Otlp.OtlpCfg(
          promoteAll = o.str("promote_all_resource_attributes").contains("true"),
          promote = strList(o.get("promote_resource_attributes")),
          ignore = strList(o.get("ignore_resource_attributes")),
          keepIdentifying =
            o.str("keep_identifying_resource_attributes").contains("true"),
          convertHistogramsToNhcb =
            o.str("convert_histograms_to_nhcb").contains("true"),
          promoteScopeMetadata =
            o.str("promote_scope_metadata").contains("true"))
        case _ => graft.web.Otlp.OtlpCfg()
      })
  }

  def load(path: String): PromConfig = {
    val p = java.nio.file.Paths.get(path)
    parse(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"),
      Option(p.getParent).map(_.toString).getOrElse("."))
  }

  /** Load a rule file (ref: model/rulefmt/rulefmt.go — groups of recording/
    * alerting rules with per-group intervals) into evaluable [[Rules.Group]]s.
    * Rule expressions must parse at load time, exactly-one-of record/alert
    * is enforced, and a group without an interval inherits the global
    * evaluation interval. */
  def loadRuleGroups(path: String, defaultIntervalMs: Long,
      defaultQueryOffsetMs: Long = 0L): Seq[Rules.Group] = {
    import graft.promqltest.YamlLite
    import graft.promqltest.YamlLite.{YMap, YScalar}
    val text = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    val root = YamlLite.parse(text) match {
      case m: YMap => m
      case other => throw new IllegalArgumentException(s"$path: expected mapping, got $other")
    }
    root.list("groups").collect { case g: YMap =>
      val gname = g.str("name").getOrElse("")
      val interval = g.str("interval").map(durMs).getOrElse(defaultIntervalMs)
      var rec = Seq.empty[Rules.RecordingRule]
      var al = Seq.empty[Rules.AlertingRule]
      g.list("rules").foreach {
        case r: YMap =>
          val record = r.str("record").getOrElse("")
          val alert = r.str("alert").getOrElse("")
          if (record.nonEmpty == alert.nonEmpty)
            throw new IllegalArgumentException(
              s"$path: rule must have exactly one of 'record' and 'alert'")
          val expr = r.str("expr").getOrElse(
            throw new IllegalArgumentException(s"$path: rule missing expr"))
          try graft.promql.Engine.parse(expr)
          catch { case e: Throwable =>
            throw new IllegalArgumentException(s"$path: invalid expr '$expr': ${e.getMessage}") }
          val lbls = kv(r.get("labels"))
          if (record.nonEmpty) rec :+= Rules.RecordingRule(record, expr, lbls)
          else al :+= Rules.AlertingRule(alert, expr,
            r.str("for").map(durMs).getOrElse(0L),
            r.str("keep_firing_for").map(durMs).getOrElse(0L),
            lbls, kv(r.get("annotations")))
        case other => throw new IllegalArgumentException(s"$path: bad rule node $other")
      }
      Rules.Group(gname, interval, rec, al,
        queryOffsetMs = g.str("query_offset").map(durMs)
          .getOrElse(defaultQueryOffsetMs),
        limit = g.str("limit").map(_.toInt).getOrElse(0))
    }
  }

  private implicit class JIter[T](it: java.util.Iterator[T]) {
    def asScalaIter: Iterator[T] = new Iterator[T] {
      def hasNext: Boolean = it.hasNext
      def next(): T = it.next()
    }
  }
}
