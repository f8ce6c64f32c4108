package graft.streaming

import graft.promqltest.YamlLite
import graft.promqltest.YamlLite.{YList, YMap, YNode, YScalar}

/** prometheus.yml and rule-file loader (ref: config/config.go LoadFile,
  * model/rulefmt/rulefmt.go ParseFile) — the one reader of both files: the
  * server's load and reload, CheckSd and promtool's `check config` /
  * `check rules` ([[ConfigCheck]]) all go through [[parse]] and
  * [[loadRuleGroups]].
  *
  * Validation follows the reference's strict unmarshal plus each section's
  * Validate: unknown fields, per-provider SD required fields and enums,
  * remote_write/remote_read shapes, scrape timeout vs interval and
  * duplicate job names are errors. One parse collects every error and
  * throws one [[ConfigError]] that names them all. The model is the subset
  * this engine acts on: global intervals + external labels, rule_files
  * (glob-expanded), scrape_configs (static + SD targets, paths/schemes,
  * relabel chains, HTTP client config), remote_write/remote_read entries,
  * alertmanager groups and the otlp receiver. */
object Config {

  /** every error one read of a config or rule file found, in file order */
  final class ConfigError(val errors: Seq[String])
      extends IllegalArgumentException(errors.mkString("\n"))

  private type Errs = scala.collection.mutable.ArrayBuffer[String]

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
      // scrape_timeout: the per-scrape request timeout (ref: config.go
      // ScrapeConfig.ScrapeTimeout)
      timeoutMs: Long = 10000L,
      // honor_timestamps default true (ref: config.go DefaultScrapeConfig)
      honorTimestamps: Boolean = true,
      // cap on relabel-dropped targets kept for /api/v1/targets
      // (0 = unlimited; ref: config.go KeepDroppedTargets)
      keepDroppedTargets: Long = 0L,
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
      // the job's common HTTP client config (auth, oauth2, http_headers,
      // TLS, proxy, follow_redirects, enable_http2)
      client: HttpClientCfg = HttpClientCfg(),
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
      // notifier/alertmanagerset.go:58); the rest of the group's HTTP
      // client config is the embedded [[ScrapeJob]]'s `client`
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
    * the subset the forwarder acts on: url, HTTP client config,
    * protobuf_message selecting PRW 1.0 vs 2.0, display name) */
  final case class RemoteWriteEntry(
      url: String,
      name: String = "",
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
      // HTTP client config — remote_write's default pins HTTP/1.1
      client: HttpClientCfg = HttpClientCfg(enableHttp2 = false))

  /** the common HTTP client config (ref: prometheus/common HTTPClientConfig)
    * of scrape jobs, alertmanager groups and remote_write/remote_read
    * entries; [[graft.web.OutboundHttp]] builds the client and decorates
    * the requests. enable_http2 defaults differ: remote_write ships
    * HTTP/1.1 (config.go:221 DefaultRemoteWriteHTTPClientConfig), the
    * others the common HTTP/2 default (config.go:265). */
  final case class HttpClientCfg(
      followRedirects: Boolean = true,
      enableHttp2: Boolean = true,
      tlsCaFile: String = "",
      tlsInsecureSkipVerify: Boolean = false,
      proxyUrl: String = "",
      noProxy: String = "",
      proxyFromEnvironment: Boolean = false,
      // rendered Authorization value of basic_auth / authorization /
      // bearer_token* (mutually exclusive with oauth2 — checker)
      authHeader: Option[String] = None,
      // oauth2 block (ref configuration.md:706 <oauth2>): each consumer
      // runs one refreshing token provider
      oauth2: Option[graft.web.OAuth2.Config] = None,
      // http_headers (ref configuration.md:733): values, secrets and file
      // contents per name, in that order
      headers: Map[String, Seq[String]] = Map.empty)

  private val topLevelFields = Set(
    "global", "runtime", "rule_files", "scrape_config_files", "scrape_configs",
    "alerting", "remote_write", "remote_read", "storage", "tracing", "otlp")

  private val globalFields = Set(
    "scrape_interval", "scrape_timeout", "scrape_protocols",
    "evaluation_interval", "rule_query_offset", "query_log_file",
    "scrape_failure_log_file", "external_labels", "body_size_limit",
    "sample_limit", "label_limit", "label_name_length_limit",
    "label_value_length_limit", "target_limit", "keep_dropped_targets",
    "metric_name_validation_scheme", "metric_name_escaping_scheme",
    "always_scrape_classic_histograms", "convert_classic_histograms_to_nhcb",
    "scrape_native_histograms")

  // ref: common HTTPClientConfig yaml tags, inlined into every section
  // that sends HTTP requests
  private val httpClientFields = Set(
    "basic_auth", "authorization", "oauth2", "bearer_token",
    "bearer_token_file", "tls_config", "proxy_url", "no_proxy",
    "proxy_from_environment", "proxy_connect_header", "follow_redirects",
    "enable_http2", "http_headers")

  private val scrapeFields = Set(
    "job_name", "scrape_interval", "scrape_timeout", "scrape_protocols",
    "scrape_failure_log_file",
    "metrics_path", "scheme", "honor_labels", "honor_timestamps",
    "track_timestamps_staleness", "params",
    "relabel_configs", "metric_relabel_configs", "body_size_limit",
    "sample_limit", "label_limit", "label_name_length_limit",
    "label_value_length_limit", "target_limit", "keep_dropped_targets",
    "native_histogram_bucket_limit", "native_histogram_min_bucket_factor",
    "always_scrape_classic_histograms", "convert_classic_histograms_to_nhcb",
    "scrape_native_histograms", "fallback_scrape_protocol",
    "enable_compression", "static_configs", "metric_name_validation_scheme",
    "metric_name_escaping_scheme") ++ httpClientFields

  // ref: config/config.go:1330 AlertmanagerConfig yaml fields
  private val alertmanagerFields = Set(
    "timeout", "api_version", "path_prefix", "scheme", "static_configs",
    "relabel_configs", "alert_relabel_configs", "sigv4") ++ httpClientFields

  // ref: config.go:1482 RemoteWriteConfig / :1679 RemoteReadConfig yaml tags
  private val remoteWriteFields = Set(
    "url", "remote_timeout", "headers", "write_relabel_configs", "name",
    "send_exemplars", "send_native_histograms", "round_robin_dns",
    "protobuf_message", "failed_request_logging", "queue_config",
    "metadata_config", "sigv4", "azuread", "google_iam") ++ httpClientFields
  private val remoteReadFields = Set(
    "url", "remote_timeout", "chunked_read_limit", "headers",
    "read_recent", "name", "required_matchers",
    "filter_external_labels") ++ httpClientFields

  // ref: common HTTPClientConfig OAuth2 yaml tags (configuration.md:3034)
  private val oauth2Fields = Set(
    "client_id", "client_secret", "client_secret_file", "grant_type",
    "client_certificate_key", "client_certificate_key_file",
    "client_certificate_key_id", "signature_algorithm", "iss", "audience",
    "claims", "scopes", "token_url", "endpoint_params", "tls_config",
    "proxy_url", "no_proxy", "proxy_from_environment", "proxy_connect_header")

  // custom headers must not shadow the protocol's own (ref: config.go
  // reservedHeaders + common Headers.Validate)
  private val reservedHeaders = Set("authorization", "host", "content-encoding",
    "content-length", "content-type", "user-agent", "connection",
    "keep-alive", "proxy-authenticate", "proxy-authorization",
    "www-authenticate", "accept-encoding",
    "x-prometheus-remote-write-version", "x-prometheus-remote-read-version",
    "x-amz-date", "x-amz-security-token", "x-amz-content-sha256",
    // JDK HttpRequest.Builder refuses these outright — accepting them at
    // config time would surface as per-batch send failures instead of a
    // load error (java.net.http restricted header set)
    "expect", "upgrade", "trailer", "transfer-encoding", "te")

  /** a field outside `known` is an error, as under the reference's
    * yaml.UnmarshalStrict; with `sd`, every `*_sd_configs` key passes
    * (unimplemented providers' options are not re-validated). `where`
    * names the section; empty at the top level. */
  private def unknownKeys(m: YMap, known: Set[String], where: String,
      errs: Errs, sd: Boolean = false): Unit =
    m.keys.filterNot(k => known(k) || sd && k.endsWith("_sd_configs"))
      .foreach(k => errs += (if (where.isEmpty) "" else s"$where: ") +
        s"field $k not found in type config")

  /** the one HTTP client config parser and validator (ref: common
    * HTTPClientConfig Validate); relative *_file paths resolve against
    * `base`, and `where` names the section in error messages */
  private def clientCfgOf(m: YMap, base: java.nio.file.Path,
      http2Default: Boolean, where: String, errs: Errs): HttpClientCfg = {
    val oauth2 = m.get("oauth2").collect { case o: YMap =>
      unknownKeys(o, oauth2Fields, s"$where oauth2", errs)
      oauth2Of(o, base)
    }
    oauth2.foreach(graft.web.OAuth2.validate(_).foreach(e => errs += s"$where: $e"))
    // proxy_connect_header: valid upstream (headers on the CONNECT to the
    // proxy) but the JDK HTTP client cannot set CONNECT headers — rejected
    // at load instead of silently dropped
    if (m.get("proxy_connect_header").isDefined)
      errs += s"$where: proxy_connect_header is not supported by this engine"
    m.get("http_headers").collect { case h: YMap => h.entries }.getOrElse(Nil)
      .foreach { case (name, spec) =>
        if (reservedHeaders(name.toLowerCase))
          errs += s"""$where: setting header "$name" is not allowed"""
        spec match {
          case sm: YMap => unknownKeys(sm, Set("values", "secrets", "files"),
            s"$where http_headers $name", errs)
          case _ => ()
        }
      }
    HttpClientCfg(
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
      proxyFromEnvironment = m.str("proxy_from_environment").contains("true"),
      authHeader = authHeaderOf(m, base),
      oauth2 = oauth2,
      headers = httpHeadersOf(m, base))
  }

  /** a remote_write/remote_read entry's client config: the legacy
    * `headers:` map goes ahead of the http_headers values of a name, and
    * must not set a reserved header (ref config.go validateHeaders) */
  private def remoteClientCfgOf(m: YMap, base: java.nio.file.Path,
      http2Default: Boolean, section: String, errs: Errs): HttpClientCfg = {
    val c = clientCfgOf(m, base, http2Default, section, errs)
    val legacy = kv(m.get("headers")).map { case (k, v) => k -> Seq(v) }
    legacy.keys.foreach { k =>
      // authorization gets its own message pointing at the auth shapes
      if (k.equalsIgnoreCase("authorization"))
        errs += s"$section: authorization header must be changed via the " +
          "basic_auth, authorization, oauth2, sigv4, azuread or google_iam parameter"
      else if (reservedHeaders(k.toLowerCase))
        errs += s"$section: $k is a reserved header. It must not be changed"
    }
    c.copy(headers = legacy ++ c.headers.map { case (k, vs) =>
      k -> (legacy.getOrElse(k, Nil) ++ vs) })
  }

  /** the auth shapes an entry configures, in the reference's order (ref
    * config.go:1559 validateAuthConfigs; bearer_token* is the legacy
    * spelling of `authorization`) */
  private def authShapes(m: YMap): Seq[String] = Seq(
    "basic_auth" -> m.get("basic_auth").isDefined,
    "authorization" -> (m.get("authorization").isDefined ||
      m.str("bearer_token").exists(_.nonEmpty) ||
      m.str("bearer_token_file").exists(_.nonEmpty)),
    "oauth2" -> m.get("oauth2").isDefined,
    "sigv4" -> m.get("sigv4").isDefined,
    "azuread" -> m.get("azuread").isDefined,
    "google_iam" -> m.get("google_iam").isDefined).collect { case (n, true) => n }

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
      // fanout routing policy (ref config.go:1679 RemoteReadConfig:
      // ReadRecent default false, FilterExternalLabels default true,
      // RequiredMatchers as equality pairs) — see FanoutStore.Secondary
      readRecent: Boolean = false,
      requiredMatchers: Map[String, String] = Map.empty,
      filterExternalLabels: Boolean = true,
      // remote_timeout (ref DefaultRemoteReadConfig 1m)
      remoteTimeoutMs: Long = 60000L,
      // HTTP client config — remote_read keeps the common HTTP/2 default
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

  /** azuread block → [[graft.web.AzureAd.Config]], validated (ref
    * azuread.go AzureADConfig + Validate) */
  private def azureAdOf(m: YMap, section: String, errs: Errs)
      : Option[graft.web.AzureAd.Config] = {
    import graft.web.AzureAd
    val cfg = m.get("azuread").collect { case az: YMap =>
      AzureAd.Config(
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
            c.str("send_certificate_chain").contains("true")) })
    }
    cfg.foreach(AzureAd.validate(_).foreach(e => errs += s"$section: $e"))
    cfg
  }

  /** oauth2 block → [[graft.web.OAuth2.Config]] (ref configuration.md:706
    * <oauth2>; *_file paths resolve against `base`, so a resolved path is
    * non-empty exactly when the raw one is — validation relies on that) */
  private def oauth2Of(o: YMap, base: java.nio.file.Path)
      : graft.web.OAuth2.Config = {
    def resolved(k: String): String = {
      val f = str(o, k)
      if (f.nonEmpty) base.resolve(f).toString else ""
    }
    graft.web.OAuth2.Config(
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
      claims = kv(o.get("claims")))
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

  /** sigv4 block → [[SigV4Cfg]], validated (ref: the prometheus/sigv4
    * library's Validate); `sigv4: {}` (the documented "use the default AWS
    * credential chain" shape) yields the all-defaults config */
  private def sigv4Of(m: YMap, section: String, errs: Errs): Option[SigV4Cfg] = {
    val cfg = m.get("sigv4") match {
      case Some(s4: YMap) =>
        unknownKeys(s4, Set("region", "access_key", "secret_key", "profile",
          "role_arn", "external_id", "use_fips_sts_endpoint"), s"$section sigv4", errs)
        Some(SigV4Cfg(
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
    cfg.foreach { c =>
      if (c.accessKey.nonEmpty != c.secretKey.nonEmpty)
        errs += s"$section: must provide a AWS SigV4 Access key and Secret Key " +
          "if credentials are specified in the SigV4 config"
      if (c.externalId.nonEmpty && c.roleArn.isEmpty)
        errs += s"$section: sigv4 external_id can only be used with role_arn"
    }
    cfg
  }

  /** queue_config block → [[QueueCfg]] with the reference's defaults,
    * validated (ref config.go:1639 QueueConfig.Validate) */
  private def queueOf(m: YMap, section: String, errs: Errs): QueueCfg = {
    val q = m.get("queue_config") match {
      case Some(q: YMap) =>
        unknownKeys(q, Set("capacity", "max_shards", "min_shards",
          "max_samples_per_send", "batch_send_deadline", "min_backoff",
          "max_backoff", "retry_on_http_429", "sample_age_limit"),
          s"$section queue_config", errs)
        QueueCfg(
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
    def positive(v: Int, k: String): Unit =
      if (v <= 0) errs += s"$section: remote write queue $k must be positive"
    positive(q.maxShards, "max_shards")
    positive(q.minShards, "min_shards")
    if (q.minShards > q.maxShards && q.maxShards > 0)
      errs += s"$section: remote write queue min_shards must not be greater than max_shards"
    positive(q.maxSamplesPerSend, "max_samples_per_send")
    positive(q.capacity, "capacity")
    if (q.maxBackoffMs < q.minBackoffMs)
      errs += s"$section: remote write queue max_backoff must not be less than min_backoff"
    q
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
  private def expandGlob(baseDir: java.nio.file.Path, pattern: String): Seq[String] = {
    val p = if (pattern.startsWith("/")) pattern else baseDir.resolve(pattern).toString
    // a pattern like `rules-?.yml` must glob, not literal-match
    if (!isGlob(p)) {
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

  private[streaming] def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)

  /** filepath.Glob metacharacters (ref: Go path/filepath Match) */
  private def isGlob(pattern: String): Boolean =
    pattern.exists(c => c == '*' || c == '?' || c == '[')

  def parse(text: String, baseDir: String = "."): PromConfig = read(text, baseDir)._1

  /** [[parse]] plus the auth-shape conflicts it tolerates: an entry that
    * configures more than one of basic_auth / authorization / oauth2 /
    * sigv4 / azuread / google_iam (ref config.go:1559 validateAuthConfigs,
    * common HTTPClientConfig Validate). The reference rejects them; here
    * only `check config` does, because the serving load still has to take
    * ConfigSpec's shared HTTP client block, which sets basic_auth and
    * oauth2 together in every section. */
  def read(text: String, baseDir: String = "."): (PromConfig, Seq[String]) = {
    val errs = new Errs
    val conflicts = new Errs
    val cfg =
      try Some(build(text, java.nio.file.Paths.get(baseDir), errs, conflicts))
      catch { case e: Exception => errs += message(e); None }
    if (errs.nonEmpty) throw new ConfigError(errs.toList)
    (cfg.get, conflicts.toList)
  }

  private def build(text: String, base: java.nio.file.Path, errs: Errs,
      conflicts: Errs): PromConfig = {
    val root = YamlLite.parse(text) match {
      case m: YMap => m
      case YScalar("") => YMap(Nil) // an empty config is valid
      case other => throw new IllegalArgumentException(s"expected a mapping, got $other")
    }
    unknownKeys(root, topLevelFields, "", errs)
    def section(k: String): YMap = root.get(k) match {
      case Some(m: YMap) => m
      case _ => YMap(Nil)
    }
    // one entry of a list section: an exception (a malformed number or
    // duration, an unknown relabel action) becomes one error and the parse
    // goes on with the next entry
    def guarded[T](prefix: String)(body: => T): Option[T] =
      try Some(body) catch { case e: Exception => errs += prefix + message(e); None }
    // a pattern's matches; a literal path must exist
    def expand(pattern: String)(missing: => String): Seq[String] = {
      val fs = expandGlob(base, pattern)
      if (fs.isEmpty && !isGlob(pattern)) errs += missing
      fs
    }
    val global = section("global")
    unknownKeys(global, globalFields, "global", errs)
    // defaults ref: config/config.go DefaultGlobalConfig (1m scrape, 1m
    // eval, 10s scrape timeout capped at the scrape interval)
    val scrapeMs = global.str("scrape_interval").map(durMs).getOrElse(60000L)
    val evalMs = global.str("evaluation_interval").map(durMs).getOrElse(60000L)
    val scrapeTimeoutMs = global.str("scrape_timeout").map(durMs)
      .getOrElse(math.min(10000L, scrapeMs))
    if (scrapeTimeoutMs > scrapeMs)
      errs += "global scrape timeout greater than scrape interval"
    // one scrape_config body → ScrapeJob, with each SD provider's required
    // fields and enums checked (ref: each SDConfig's Validate/UnmarshalYAML);
    // the alertmanagers groups reuse the full SD-config surface through the
    // same parser (ref: config/config.go:846 AlertmanagerConfig.
    // ServiceDiscoveryConfigs is the same discovery.Configs type scrape
    // configs use). `clientWhere` names the job in HTTP client errors.
    def parseScrapeJob(m: YMap, name: String, clientWhere: String,
        // files included via scrape_config_files resolve their relative
        // paths against THEIR OWN directory (ref config.go SetDirectory)
        jobBase: java.nio.file.Path = base): ScrapeJob = {
      val label = if (name.nonEmpty) name else "<no job_name>"
      def bad(msg: String): Unit = errs += s"""job "$label": $msg"""
      def need(ok: Boolean, msg: String): Unit = if (!ok) bad(msg)
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
      val intervalMs = m.str("scrape_interval").map(durMs).getOrElse(scrapeMs)
      // scrape_timeout: per-job, else the global one capped at the job's
      // interval (ref config.go ScrapeConfig.Validate)
      val timeoutMs = m.str("scrape_timeout").map(durMs)
        .getOrElse(math.min(scrapeTimeoutMs, intervalMs))
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
        val c = Discovery.DnsSd.Config(
          strList(dc.get("names")),
          str(dc, "type", "SRV"),
          dc.str("port").map(_.toInt).getOrElse(0),
          dc.str("refresh_interval").map(durMs).getOrElse(30000L))
        need(c.names.nonEmpty, "DNS-SD config must contain at least one SRV record name")
        if (!Set("SRV", "A", "AAAA", "MX", "NS")(c.recordType))
          bad(s"invalid DNS-SD records type ${c.recordType}")
        else need(c.recordType == "SRV" || c.port != 0,
          "relevant DNS-SD configs require a port defined")
        c
      }
      // http_sd_configs (ref: discovery/http/http.go; default refresh 60s)
      val httpSd = m.list("http_sd_configs").collect { case hc: YMap =>
        (str(hc, "url"),
          hc.str("refresh_interval").map(durMs).getOrElse(60000L))
      }.filter(_._1.nonEmpty)
      // kubernetes_sd_configs (ref: discovery/kubernetes/kubernetes.go
      // SDConfig: role required; api_server empty = in-cluster)
      val k8sRoles = Set("node", "pod", "service", "endpoints",
        "endpointslice", "ingress")
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
        val c = KubernetesSd.Config(str(kc, "role"), str(kc, "api_server"), nss,
          tokenFile, kc.str("refresh_interval").map(durMs).getOrElse(30000L),
          ownNamespace = ownNs, selectors = selectors, attachMetadata = attach)
        need(k8sRoles(c.role), s"""role "${c.role}" (must be one of """ +
          k8sRoles.toSeq.sorted.mkString(", ") + ")")
        // selectors: one per role, each allowed for the main role (ref:
        // kubernetes.go UnmarshalYAML allowedSelectors); own_namespace
        // needs the in-cluster mount
        val seen = scala.collection.mutable.Set.empty[String]
        c.selectors.foreach { s =>
          need(seen.add(s.role), s"duplicated selector role: ${s.role}")
          KubernetesSd.allowedSelectors.get(c.role).foreach { ok =>
            need(ok.contains(s.role),
              s"${c.role} role supports only ${ok.mkString(", ")} selectors")
          }
        }
        need(!(c.ownNamespace && c.apiServer.nonEmpty),
          "cannot use 'api_server' and 'namespaces.own_namespace' simultaneously")
        c
      }
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
      // An omitted EC2/Lightsail region is VALID — the reference resolves
      // it from the instance metadata at runtime, and promtool's own
      // corpus pins that (prometheus-aws-sd-empty-region.good.yml). Same
      // for ecs/rds/msk/elasticache: their UnmarshalYAML defers region
      // resolution to SD init (ref #19037), so a load makes no network call.
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
      // ecs_sd_configs (ref: discovery/aws/ecs.go ECSSDConfig);
      // request_concurrency bounds the provider's API fan-out
      val ecsSd = m.list("ecs_sd_configs").collect { case ec: YMap =>
        val c = EcsSd.Config(
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
        need(c.requestConcurrency > 0,
          "ecs_sd: request_concurrency must be a positive integer")
        c
      }
      // rds_sd_configs (ref: discovery/aws/rds.go RDSSDConfig; `filters`
      // forward verbatim to DescribeDBInstances, reference feature #18859)
      val rdsSd = m.list("rds_sd_configs").collect { case rc: YMap =>
        val c = RdsSd.Config(
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
        c.filters.foreach { case (n, vs) =>
          need(n.nonEmpty, "rds_sd: filter missing a name")
          need(vs.nonEmpty, "rds_sd: filter requires at least one value")
        }
        c
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
        val c = GceSd.Config(
          str(gc, "project"),
          str(gc, "zone"),
          gc.str("port").map(_.toInt).getOrElse(80),
          str(gc, "tag_separator", ","),
          str(gc, "endpoint"),
          gc.str("refresh_interval").map(durMs).getOrElse(60000L))
        need(c.project.nonEmpty, "GCE SD configuration requires a project")
        need(c.zone.nonEmpty, "GCE SD configuration requires a zone")
        c
      }
      // azure_sd_configs (ref: discovery/azure/azure.go SDConfig)
      val azureSd = m.list("azure_sd_configs").collect { case ac: YMap =>
        val c = AzureSd.Config(
          str(ac, "subscription_id"),
          str(ac, "tenant_id"),
          str(ac, "client_id"),
          str(ac, "client_secret"),
          ac.str("port").map(_.toInt).getOrElse(80),
          str(ac, "resource_group"),
          ac.str("refresh_interval").map(durMs).getOrElse(300000L))
        need(c.subscriptionId.nonEmpty,
          "Azure SD configuration requires a subscription_id")
        c
      }
      // docker_sd_configs (ref: discovery/moby/docker.go DockerSDConfig)
      def hostUrl(host: String): Boolean = host.matches("^(tcp|http|https|unix)://.*")
      val dockerSd = m.list("docker_sd_configs").collect { case dk: YMap =>
        val c = DockerSd.Config(
          str(dk, "host"),
          dk.str("port").map(_.toInt).getOrElse(80),
          dk.str("refresh_interval").map(durMs).getOrElse(60000L))
        if (c.host.isEmpty) bad("Docker SD configuration requires a host")
        else need(hostUrl(c.host), s"""Docker SD host "${c.host}" must be a url""")
        c
      }
      // digitalocean_sd_configs (ref: discovery/digitalocean/digitalocean.go
      // SDConfig; defaults role droplets, port 80, refresh 60s)
      val doSd = m.list("digitalocean_sd_configs").collect { case oc: YMap =>
        val (tok, tokenFile) = sdToken(oc)
        val c = DigitalOceanSd.Config(
          str(oc, "role", "droplets"), tok, tokenFile,
          oc.str("port").map(_.toInt).getOrElse(80),
          oc.str("refresh_interval").map(durMs).getOrElse(60000L))
        need(c.role == "droplets" || c.role == "databases",
          s"""unknown DigitalOcean SD role "${c.role}"""")
        c
      }
      // hetzner_sd_configs (ref: discovery/hetzner/hetzner.go SDConfig)
      val hetznerSd = m.list("hetzner_sd_configs").collect { case hz: YMap =>
        val (user, pass) = hz.get("basic_auth") match {
          case Some(ba: YMap) => (str(ba, "username"), str(ba, "password"))
          case _ => ("", "")
        }
        val (tok, tokFile) = sdToken(hz)
        val c = HetznerSd.Config(str(hz, "role"), tok, tokFile, user, pass,
          hz.str("port").map(_.toInt).getOrElse(80),
          str(hz, "label_selector"),
          hz.str("refresh_interval").map(durMs).getOrElse(60000L))
        if (c.role.isEmpty) bad("role missing (one of: robot, hcloud)")
        else need(c.role == "robot" || c.role == "hcloud",
          s"""unknown role "${c.role}" (one of: robot, hcloud)""")
        c
      }
      // openstack_sd_configs (ref: discovery/openstack/openstack.go SDConfig)
      val openstackSd = m.list("openstack_sd_configs").collect { case os: YMap =>
        val c = OpenStackSd.Config(
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
        if (c.role.isEmpty)
          bad("role missing (one of: instance, hypervisor, loadbalancer)")
        else need(Set("instance", "hypervisor", "loadbalancer")(c.role),
          s"""unknown OpenStack SD role "${c.role}"""")
        need(c.region.nonEmpty, "openstack SD configuration requires a region")
        c
      }
      // eureka_sd_configs (ref: discovery/eureka/eureka.go SDConfig)
      val eurekaSd = m.list("eureka_sd_configs").collect { case ec: YMap =>
        val c = EurekaSd.Config(str(ec, "server"),
          ec.str("refresh_interval").map(durMs).getOrElse(30000L))
        if (c.server.isEmpty) bad("empty or null eureka server")
        else need(c.server.matches("^https?://[^/]+.*"), "invalid eureka server URL")
        c
      }
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
        val c = MarathonSd.Config(
          strList(mc.get("servers")),
          str(mc, "auth_token"), str(mc, "auth_token_file"),
          mc.str("refresh_interval").map(durMs).getOrElse(30000L))
        need(c.servers.nonEmpty,
          "marathon_sd: must contain at least one Marathon server")
        need(c.authToken.isEmpty || c.authTokenFile.isEmpty,
          "marathon_sd: at most one of auth_token & auth_token_file must be configured")
        c
      }
      // puppetdb_sd_configs (ref: discovery/puppetdb/puppetdb.go SDConfig)
      val puppetdbSd = m.list("puppetdb_sd_configs").collect { case pc: YMap =>
        val c = PuppetDbSd.Config(
          str(pc, "url"), str(pc, "query"),
          pc.str("include_parameters").contains("true"),
          pc.str("port").map(_.toInt).getOrElse(80),
          pc.str("refresh_interval").map(durMs).getOrElse(60000L))
        if (c.url.isEmpty) bad("URL is missing")
        else if (!c.url.matches("^https?://.*"))
          bad("URL scheme must be 'http' or 'https'")
        else need(!c.url.matches("^https?://(/.*)?$"), "host is missing in URL")
        need(c.query.nonEmpty, "query missing")
        c
      }
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
        val c = ScalewaySd.Config(
          str(sc, "role"), str(sc, "project_id"),
          str(sc, "secret_key"), str(sc, "secret_key_file"),
          str(sc, "zone", "fr-par-1"),
          sc.str("port").map(_.toInt).getOrElse(80),
          str(sc, "name_filter"), strList(sc.get("tags_filter")),
          str(sc, "api_url", "https://api.scaleway.com"),
          sc.str("refresh_interval").map(durMs).getOrElse(60000L))
        if (c.role.isEmpty) bad("role missing (one of: instance, baremetal)")
        else need(c.role == "instance" || c.role == "baremetal",
          s"""unknown role "${c.role}"""")
        need(c.projectId.nonEmpty, "project_id is mandatory")
        need(c.secretKey.nonEmpty || c.secretKeyFile.nonEmpty,
          "one of secret_key & secret_key_file must be configured")
        need(c.secretKey.isEmpty || c.secretKeyFile.isEmpty,
          "at most one of secret_key & secret_key_file must be configured")
        need(str(sc, "access_key").nonEmpty, "access_key is mandatory")
        c
      }
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
        val c = DockerSwarmSd.Config(
          str(dk, "host"), str(dk, "role"),
          dk.str("port").map(_.toInt).getOrElse(80),
          dk.str("refresh_interval").map(durMs).getOrElse(60000L))
        if (c.host.isEmpty) bad("host missing")
        else need(hostUrl(c.host), s"""Docker Swarm SD host "${c.host}" must be a url""")
        need(Set("services", "tasks", "nodes")(c.role),
          s"invalid role ${c.role}, expected tasks, services, or nodes")
        c
      }
      // triton_sd_configs (ref: discovery/triton/triton.go SDConfig)
      val tritonSd = m.list("triton_sd_configs").collect { case tc: YMap =>
        val c = TritonSd.Config(
          str(tc, "account"), str(tc, "dns_suffix"), str(tc, "endpoint"),
          str(tc, "role", "container"),
          strList(tc.get("groups")),
          tc.str("port").map(_.toInt).getOrElse(9163),
          tc.str("version").map(_.toInt).getOrElse(1),
          tc.str("refresh_interval").map(durMs).getOrElse(60000L))
        need(c.role == "container" || c.role == "cn",
          "triton SD configuration requires role to be 'container' or 'cn'")
        need(c.account.nonEmpty, "triton SD configuration requires an account")
        need(c.dnsSuffix.nonEmpty, "triton SD configuration requires a dns_suffix")
        need(c.endpoint.nonEmpty, "triton SD configuration requires an endpoint")
        c
      }
      // ovhcloud_sd_configs (ref: discovery/ovhcloud/ovhcloud.go SDConfig)
      val ovhcloudSd = m.list("ovhcloud_sd_configs").collect { case oc: YMap =>
        val c = OvhcloudSd.Config(
          str(oc, "service"),
          str(oc, "application_key"), str(oc, "application_secret"),
          str(oc, "consumer_key"),
          str(oc, "endpoint", "ovh-eu"),
          oc.str("refresh_interval").map(durMs).getOrElse(60000L))
        need(c.applicationKey.nonEmpty, "application key can not be empty")
        need(c.applicationSecret.nonEmpty, "application secret can not be empty")
        need(c.consumerKey.nonEmpty, "consumer key can not be empty")
        need(c.service == "vps" || c.service == "dedicated_server",
          s"unknown service: ${c.service}")
        c
      }
      // ionos_sd_configs (ref: discovery/ionos/ionos.go SDConfig)
      val ionosSd = m.list("ionos_sd_configs").collect { case ic: YMap =>
        val tok = sdToken(ic, legacy = false)._1
        val (user, pass) = ic.get("basic_auth") match {
          case Some(ba: YMap) => (str(ba, "username"), str(ba, "password"))
          case _ => ("", "")
        }
        val c = IonosSd.Config(str(ic, "datacenter_id"), tok, user, pass,
          ic.str("port").map(_.toInt).getOrElse(80),
          ic.str("refresh_interval").map(durMs).getOrElse(60000L))
        need(c.datacenterId.nonEmpty, "datacenter id can't be empty")
        c
      }
      // stackit_sd_configs (ref: discovery/stackit/stackit.go SDConfig)
      val stackitSd = m.list("stackit_sd_configs").collect { case sk: YMap =>
        val tok = sdToken(sk, legacy = false)._1
        val c = StackitSd.Config(str(sk, "project"), str(sk, "region"),
          str(sk, "endpoint"), tok,
          sk.str("port").map(_.toInt).getOrElse(80),
          sk.str("refresh_interval").map(durMs).getOrElse(60000L))
        need(c.endpoint.nonEmpty || c.region.nonEmpty,
          "stackit_sd: endpoint and region missing")
        c
      }.filter(_.project.nonEmpty)
      // outscale_sd_configs (ref: discovery/outscale/outscale.go SDConfig)
      val outscaleSd = m.list("outscale_sd_configs").collect { case oc: YMap =>
        val c = OutscaleSd.Config(str(oc, "region"),
          str(oc, "access_key"), str(oc, "secret_key"),
          str(oc, "secret_key_file"), str(oc, "endpoint"),
          oc.str("port").map(_.toInt).getOrElse(80),
          oc.str("refresh_interval").map(durMs).getOrElse(60000L))
        need(c.region.nonEmpty, "outscale SD configuration requires a region")
        need(c.accessKey.nonEmpty, "outscale SD configuration requires access_key")
        need(c.secretKey.nonEmpty || c.secretKeyFile.nonEmpty,
          "one of secret_key & secret_key_file must be configured")
        c
      }
      // uyuni_sd_configs (ref: discovery/uyuni/uyuni.go SDConfig)
      val uyuniSd = m.list("uyuni_sd_configs").collect { case uc: YMap =>
        val c = UyuniSd.Config(str(uc, "server"),
          str(uc, "username"), str(uc, "password"),
          str(uc, "entitlement", "monitoring_entitled"),
          str(uc, "separator", ","),
          uc.str("refresh_interval").map(durMs).getOrElse(60000L))
        need(c.server.nonEmpty, "Uyuni SD configuration requires server host")
        need(c.username.nonEmpty, "Uyuni SD configuration requires a username")
        need(c.password.nonEmpty, "Uyuni SD configuration requires a password")
        c
      }
      // oci_sd_configs (ref: discovery/oci/oci.go SDConfig; api_key auth
      // needs the four key fields)
      val ociSd = m.list("oci_sd_configs").collect { case oc: YMap =>
        val c = OciSd.Config(str(oc, "region"),
          str(oc, "tenancy"), str(oc, "user"), str(oc, "fingerprint"),
          str(oc, "key_file"), strList(oc.get("compartments")),
          oc.str("port").map(_.toInt).getOrElse(80),
          oc.str("refresh_interval").map(durMs).getOrElse(60000L))
        need(c.region.nonEmpty, "oci_sd: region is required")
        if (str(oc, "auth", "api_key") == "api_key")
          Seq("tenancy" -> c.tenancy, "user" -> c.user,
            "fingerprint" -> c.fingerprint, "key_file" -> c.keyFile).foreach {
            case (f, v) => need(v.nonEmpty, s"oci_sd: api_key auth requires $f")
          }
        c
      }
      // kuma_sd_configs (ref: discovery/xds/kuma.go KumaSDConfig)
      val kumaSd = m.list("kuma_sd_configs").collect { case kc: YMap =>
        val c = KumaSd.Config(str(kc, "server"), str(kc, "client_id"),
          kc.str("fetch_timeout").map(durMs).getOrElse(120000L),
          kc.str("refresh_interval").map(durMs).getOrElse(15000L))
        if (c.server.isEmpty) bad("empty xDS server URL")
        else need(c.server.matches("^https?://.*"),
          "invalid xDS server URL protocol. must be either 'http' or 'https'")
        c
      }
      // serverset_sd_configs + nerve_sd_configs (ref: discovery/zookeeper/
      // zookeeper.go ServersetSDConfig / NerveSDConfig)
      val zookeeperSd =
        Seq("serverset" -> "serverset_sd_configs", "nerve" -> "nerve_sd_configs")
          .flatMap { case (kind, key) =>
            m.list(key).collect { case zc: YMap =>
              val c = ZookeeperSd.Config(kind,
                strList(zc.get("servers")), strList(zc.get("paths")),
                zc.str("timeout").map(durMs).getOrElse(10000L),
                zc.str("refresh_interval").map(durMs).getOrElse(30000L))
              need(c.servers.nonEmpty,
                s"$kind SD config must contain at least one Zookeeper server")
              need(c.paths.nonEmpty, s"$kind SD config must contain at least one path")
              c.paths.filterNot(_.startsWith("/")).foreach(p =>
                bad(s"$kind SD config paths must begin with '/': $p"))
              c
            }
          }
      ScrapeJob(name, statics, sdFiles, intervalMs,
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
        timeoutMs,
        honorTimestamps = !m.str("honor_timestamps").contains("false"),
        keepDroppedTargets = m.str("keep_dropped_targets")
          .orElse(global.str("keep_dropped_targets")).map(_.toLong).getOrElse(0L),
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
        client = clientCfgOf(m, jobBase, http2Default = true, clientWhere, errs))
    }
    // one scrape_configs entry of the main file or of an include (`src`
    // names the include in field errors)
    def scrapeConfig(m: YMap, src: String, jobBase: java.nio.file.Path): ScrapeJob = {
      unknownKeys(m, scrapeFields, s"${src}scrape_config", errs, sd = true)
      val name = str(m, "job_name")
      val label = if (name.nonEmpty) name else "<no job_name>"
      val where = s"""job "$label""""
      val job = parseScrapeJob(m, name, where, jobBase)
      if (job.timeoutMs > job.intervalMs)
        errs += "scrape timeout greater than scrape interval for scrape " +
          s"""config with job name "$label""""
      // scrape_protocols / fallback values must be known (ref: config.go
      // ScrapeProtocol.Validate)
      val known = ScrapeManager.protocolHeaders.keySet
      (strList(m.get("scrape_protocols")) ++
        Some(job.fallbackProtocol).filter(_.nonEmpty)).filterNot(known).foreach(p =>
        errs += s"$where: unknown scrape protocol $p, supported: " +
          known.toSeq.sorted.mkString("[", ", ", "]"))
      if (authShapes(m).size > 1)
        conflicts += s"$where: at most one of basic_auth, authorization, " +
          "oauth2, bearer_token & bearer_token_file must be configured"
      job
    }
    // scrape_config_files: globbed side files each carrying their own
    // scrape_configs list (ref config.go:296 ScrapeConfigFiles +
    // GetScrapeConfigs — relative paths inside resolve against the
    // included file's directory)
    val scrapeConfigPaths = root.list("scrape_config_files")
      .collect { case YScalar(pat) => pat }
      .flatMap(pat => expand(pat)(s"scrape config file $pat: no such file or directory"))
    val fileJobs = scrapeConfigPaths.flatMap { f =>
      guarded(s"$f: ") {
        val fp = java.nio.file.Paths.get(f)
        val sub = YamlLite.parse(
          new String(java.nio.file.Files.readAllBytes(fp), "UTF-8")) match {
          case mm: YMap => mm
          case _ => YMap(Nil)
        }
        unknownKeys(sub, Set("scrape_configs"), f, errs)
        val fb = Option(fp.getParent).getOrElse(java.nio.file.Paths.get("."))
        sub.list("scrape_configs").flatMap {
          case jm: YMap => guarded(s"$f: ")(scrapeConfig(jm, s"$f ", fb))
          case _ => errs += s"$f: bad scrape_config node"; None
        }
      }.getOrElse(Nil)
    }
    val jobs = root.list("scrape_configs").flatMap {
      case m: YMap => guarded("")(scrapeConfig(m, "", base))
      case _ => errs += "bad scrape_config node"; None
    } ++ fileJobs
    // job_name is unique across the main file AND every included file (ref
    // config.go GetScrapeConfigs)
    val seenJobs = scala.collection.mutable.Set[String]()
    jobs.map(_.jobName).filter(_.nonEmpty).filterNot(seenJobs.add).foreach(j =>
      errs += s"""found multiple scrape configs with job name "$j"""")
    // remote_write / remote_read entries: url required, one auth shape,
    // the entry's own fields (ref: config.go RemoteWriteConfig /
    // RemoteReadConfig)
    def remote[T](section: String, known: Set[String])(entry: YMap => T): Seq[T] =
      root.list(section).flatMap {
        case m: YMap =>
          unknownKeys(m, known, section, errs)
          if (str(m, "url").isEmpty) errs += s"$section: url is required"
          val shapes = authShapes(m)
          if (shapes.size > 1)
            conflicts += s"$section: at most one of basic_auth, authorization, " +
              "oauth2, sigv4, azuread or google_iam must be configured. " +
              s"Currently configured: [${shapes.mkString(", ")}]"
          guarded("")(entry(m))
        case _ => None
      }
    // protobuf_message io.prometheus.write.v2.Request selects PRW 2.0
    val remoteWrites = remote("remote_write", remoteWriteFields) { m =>
      RemoteWriteEntry(
        str(m, "url"),
        str(m, "name"),
        if (str(m, "protobuf_message") == "io.prometheus.write.v2.Request") 2
        else 1,
        relabelChain(m.get("write_relabel_configs")),
        azureAdOf(m, "remote_write", errs),
        sigv4Of(m, "remote_write", errs),
        m.get("google_iam").collect { case g: YMap =>
          unknownKeys(g, Set("credentials_file"), "remote_write google_iam", errs)
          val f = str(g, "credentials_file")
          graft.web.GoogleIam.Config(if (f.nonEmpty) base.resolve(f).toString else "")
        },
        queueOf(m, "remote_write", errs),
        remoteTimeoutMs = m.str("remote_timeout").map(durMs).getOrElse(30000L),
        sendNativeHistograms =
          m.str("send_native_histograms").contains("true"),
        // metadata_config (ref config.go:1664 MetadataConfig)
        metadataSend = m.get("metadata_config") match {
          case Some(mc: YMap) =>
            unknownKeys(mc, Set("send", "send_interval", "max_samples_per_send"),
              "remote_write metadata_config", errs)
            !mc.str("send").contains("false")
          case _ => true
        },
        client = remoteClientCfgOf(m, base, http2Default = false, "remote_write", errs))
    }
    val remoteReads = remote("remote_read", remoteReadFields) { m =>
      RemoteReadEntry(str(m, "url"), str(m, "name"),
        readRecent = m.str("read_recent").contains("true"),
        requiredMatchers = kv(m.get("required_matchers")),
        filterExternalLabels = !m.str("filter_external_labels").contains("false"),
        remoteTimeoutMs = m.str("remote_timeout").map(durMs).getOrElse(60000L),
        client = remoteClientCfgOf(m, base, http2Default = true, "remote_read", errs))
    }
    // alerting: — per-group service discovery via the scrape-job machinery
    // plus alert relabeling (ref: config/config.go:1274 AlertingConfig
    // {alert_relabel_configs, alertmanagers}; each group carries the full
    // *_sd_configs surface, relabel_configs for AM-target selection, its
    // own alert_relabel_configs, and at most one of basic_auth,
    // authorization, oauth2 & sigv4 — config.go:1410; api_version v1 is
    // no longer supported)
    val alerting = section("alerting")
    unknownKeys(alerting, Set("alert_relabel_configs", "alertmanagers"), "alerting", errs)
    val alertRelabel = relabelChain(alerting.get("alert_relabel_configs"))
    val amGroups = alerting.list("alertmanagers").zipWithIndex.flatMap {
      case (m: YMap, i) =>
        val where = "alertmanager config"
        unknownKeys(m, alertmanagerFields, where, errs, sd = true)
        if (authShapes(m).size > 1)
          conflicts += s"$where: at most one of basic_auth, authorization, " +
            "oauth2, & sigv4 must be configured"
        val v = str(m, "api_version", "v2")
        if (v != "v2")
          errs += s"""$where: invalid api_version "$v" (only "v2" is supported)"""
        guarded("")(AlertmanagerGroup(
          parseScrapeJob(m, s"alertmanager/$i", where),
          str(m, "scheme", "http"),
          str(m, "path_prefix"),
          v,
          m.str("timeout").map(durMs).getOrElse(10000L),
          relabelChain(m.get("alert_relabel_configs")),
          sigv4Of(m, where, errs)))
      case _ => errs += "bad alertmanager config node"; None
    }
    // static AM base URLs (display surface + legacy notifier path); live
    // push endpoints resolve from the groups incl. SD + target relabeling
    val ams = amGroups.flatMap(g =>
      g.sd.staticTargets.map(t => s"${g.scheme}://${t.instance}${g.pathPrefix}"))
    // otlp: receiver block (ref config.go:1785 OTLPConfig UnmarshalYAML —
    // promote-all/promote exclusivity, ignore only with promote-all,
    // attribute sanity; translation_strategy limited to the
    // underscore-escaping default this engine implements)
    val otlp = root.get("otlp") match {
      case Some(o: YMap) =>
        unknownKeys(o, Set("promote_all_resource_attributes",
          "promote_resource_attributes", "ignore_resource_attributes",
          "translation_strategy", "keep_identifying_resource_attributes",
          "convert_histograms_to_nhcb", "promote_scope_metadata",
          "label_name_underscore_sanitization",
          "label_name_preserve_multiple_underscores"), "otlp", errs)
        val c = graft.web.Otlp.OtlpCfg(
          promoteAll = o.str("promote_all_resource_attributes").contains("true"),
          promote = strList(o.get("promote_resource_attributes")),
          ignore = strList(o.get("ignore_resource_attributes")),
          keepIdentifying =
            o.str("keep_identifying_resource_attributes").contains("true"),
          convertHistogramsToNhcb =
            o.str("convert_histograms_to_nhcb").contains("true"),
          promoteScopeMetadata =
            o.str("promote_scope_metadata").contains("true"))
        if (c.promoteAll && c.promote.nonEmpty)
          errs += "'promote_all_resource_attributes' and " +
            "'promote_resource_attributes' cannot be configured simultaneously"
        if (!c.promoteAll && c.ignore.nonEmpty)
          errs += "'ignore_resource_attributes' cannot be configured " +
            "unless 'promote_all_resource_attributes' is true"
        val (attrs, what) =
          if (c.promoteAll) (c.ignore, "ignored") else (c.promote, "promoted")
        val seenAttr = scala.collection.mutable.Set[String]()
        attrs.foreach { a =>
          if (a.trim.isEmpty) errs += s"empty $what OTLP resource attribute"
          else if (!seenAttr.add(a))
            errs += s"""duplicated $what OTLP resource attribute "$a""""
        }
        o.str("translation_strategy").foreach {
          case "UnderscoreEscapingWithSuffixes" => ()
          case v @ ("NoUTF8EscapingWithSuffixes" | "NoTranslation" |
                    "UnderscoreEscapingWithoutSuffixes") =>
            errs += s"otlp translation_strategy $v is not supported " +
              "by this engine (UnderscoreEscapingWithSuffixes only)"
          case v => errs += s"""unsupported OTLP translation strategy "$v""""
        }
        c
      case _ => graft.web.Otlp.OtlpCfg()
    }
    // rule_files: a glob may match nothing, a literal path must exist (as
    // promtool checks it)
    val ruleFiles = root.list("rule_files").collect { case YScalar(rf) => rf }
      .flatMap(rf => expand(rf)(
        s"${if (rf.startsWith("/")) rf else base.resolve(rf)}: no such file or directory"))
    PromConfig(scrapeMs, evalMs, kv(global.get("external_labels")), ruleFiles,
      jobs, remoteWrites.map(_.url), remoteReads.map(_.url), ams,
      // --query.log-file analog: global.query_log_file (relative to the
      // config file's directory, like rule_files)
      global.str("query_log_file").filter(_.nonEmpty)
        .map(f => base.resolve(f).toString),
      alertRelabel = alertRelabel,
      alertmanagerGroups = amGroups,
      maxExemplars = (section("storage").get("exemplars") match {
        case Some(e: YMap) => e.str("max_exemplars").map(_.toLong)
        case _ => None
      }).getOrElse(100000L),
      ruleQueryOffsetMs = global.str("rule_query_offset").map(durMs).getOrElse(0L),
      remoteWrites = remoteWrites,
      remoteReads = remoteReads,
      scrapeConfigPaths = scrapeConfigPaths,
      otlp = otlp)
  }

  def load(path: String): PromConfig = {
    val p = java.nio.file.Paths.get(path)
    parse(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"),
      Option(p.getParent).map(_.toString).getOrElse("."))
  }

  /** template variables the reference's AlertTemplateData exposes — an
    * unknown `$x` fails template execution in promtool's test-expansion.
    * Only `$identifier` occurrences INSIDE `{{ ... }}` template actions are
    * variables (text/template evaluates actions only); a literal
    * "check $HOSTNAME in the runbook" outside an action passes. */
  private def templateErrors(text: String, where: String): Seq[String] = {
    // syntax check through the real template parser (ref: rulefmt testTemplateParsing
    // via template.Expander.ParseTest)
    val parseErr =
      if (!text.contains("{{")) None
      else new graft.template.GoTemplate.Expander(text, "__alert_", null, 0L, _ => Nil)
        .parseTest().map(e => s"$where: template parse error: $e")
    // variables declared inside the template (`$x :=`, `range $i, $v :=`)
    // are defined; everything else must come from AlertTemplateData
    val declared = "((?:\\$[A-Za-z_][A-Za-z0-9_]*\\s*,\\s*)*\\$[A-Za-z_][A-Za-z0-9_]*)\\s*:?=".r
      .findAllMatchIn(text).flatMap(m =>
        "\\$([A-Za-z_][A-Za-z0-9_]*)".r.findAllMatchIn(m.group(1)).map(_.group(1))).toSet
    val undef = "(?s)\\{\\{(.*?)\\}\\}".r.findAllMatchIn(text).toSeq.flatMap(a =>
      "\\$([A-Za-z_][A-Za-z0-9_]*)".r.findAllMatchIn(a.group(1)).map(_.group(1)))
      .filterNot(declared ++ Set("labels", "value", "externalLabels", "externalURL"))
      .map(v => s"$where: undefined variable \"$$$v\" in template")
    parseErr.toSeq ++ undef
  }

  /** Load a rule file (ref: model/rulefmt/rulefmt.go ParseFile — groups of
    * recording/alerting rules with per-group intervals) into evaluable
    * [[Rules.Group]]s, each keeping the file's rule order. Each rule needs
    * exactly one of record/alert and an expression that parses, no
    * `__name__` label, and its label and annotation templates may only use
    * known variables; a group name may appear once per file; a field
    * rulefmt does not know is an error unless `ignoreUnknownFields` (ref:
    * promtool test rules --ignore-unknown-fields). Every error in the file is
    * collected into one [[ConfigError]]. A group without an interval
    * inherits the global evaluation interval. */
  def loadRuleGroups(path: String, defaultIntervalMs: Long,
      defaultQueryOffsetMs: Long = 0L,
      ignoreUnknownFields: Boolean = false): Seq[Rules.Group] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p))
      throw new ConfigError(Seq(s"$path: no such file or directory"))
    val errs = new Errs
    def guarded[T](body: => T): Option[T] =
      try Some(body) catch { case e: Exception => errs += s"$path: ${message(e)}"; None }
    def fields(m: YMap, known: Set[String], where: String): Unit =
      if (!ignoreUnknownFields) unknownKeys(m, known, s"$path: $where", errs)
    def rule(r: YMap): Rules.Rule = {
      fields(r, Set("record", "alert", "expr", "for", "keep_firing_for", "labels",
        "annotations"), "rule")
      val record = str(r, "record")
      val alert = str(r, "alert")
      if (record.nonEmpty == alert.nonEmpty)
        errs += s"$path: rule must have exactly one of 'record' and 'alert'"
      val expr = r.str("expr")
      expr match {
        case None => errs += s"$path: rule missing expr"
        case Some(e) =>
          try graft.promql.Engine.parse(e)
          catch { case ex: Throwable =>
            errs += s"$path: could not parse expression: ${ex.getMessage}" }
      }
      val lbls = kv(r.get("labels"))
      val anns = kv(r.get("annotations"))
      if (lbls.contains("__name__")) errs += s"$path: invalid label name: __name__"
      (lbls.values ++ anns.values).foreach(v => errs ++= templateErrors(v, path))
      if (record.nonEmpty) Rules.RecordingRule(record, expr.getOrElse(""), lbls)
      else Rules.AlertingRule(alert, expr.getOrElse(""),
        r.str("for").map(durMs).getOrElse(0L),
        r.str("keep_firing_for").map(durMs).getOrElse(0L),
        lbls, anns)
    }
    def group(g: YMap): Rules.Group = {
      fields(g, Set("name", "interval", "query_offset", "limit", "rules", "labels"), "group")
      Rules.Group(str(g, "name"),
        g.str("interval").map(durMs).getOrElse(defaultIntervalMs),
        g.list("rules").flatMap {
          case r: YMap => Some(rule(r))
          case other => errs += s"$path: bad rule node $other"; None
        },
        queryOffsetMs = g.str("query_offset").map(durMs)
          .getOrElse(defaultQueryOffsetMs),
        limit = g.str("limit").map(_.toInt).getOrElse(0), file = path)
    }
    val groups = guarded {
      YamlLite.parse(new String(java.nio.file.Files.readAllBytes(p), "UTF-8")) match {
        case root: YMap =>
          fields(root, Set("groups"), "rule file")
          root.list("groups").flatMap {
            case g: YMap => guarded(group(g))
            case _ => errs += s"$path: bad group node"; None
          }
        case other => throw new IllegalArgumentException(s"expected mapping, got $other")
      }
    }.getOrElse(Nil)
    groups.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }.toSeq.sorted
      .foreach(n => errs += s"$path: groupname: \"$n\" is repeated in the same file")
    if (errs.nonEmpty) throw new ConfigError(errs.toList)
    groups
  }

  private implicit class JIter[T](it: java.util.Iterator[T]) {
    def asScalaIter: Iterator[T] = new Iterator[T] {
      def hasNext: Boolean = it.hasNext
      def next(): T = it.next()
    }
  }
}
