package graft.streaming

import graft.promql.{Engine, QueryLimits}
import org.apache.spark.sql.SparkSession

/** Whole-server assembly (ref: cmd/prometheus/main.go component wiring +
  * web/web.go lifecycle): prometheus.yml → scrape manager + rule groups +
  * notifier + remote-write forwarding + the HTTP v1 API, with config
  * hot-reload (POST /-/reload — the SIGHUP analog, web/web.go:584) and
  * agent mode (ingest/forward only; query surface 422s like
  * api.go wrapAgent; ref tsdb/agent/db.go).
  *
  * Reload semantics follow the reference's ApplyConfig chain: the new
  * config is parsed and validated FIRST; only on success are components
  * swapped (a bad file leaves the running config untouched and /-/reload
  * returns 500 with the parse error).
  */
final class PromServer(
    spark: SparkSession,
    configPath: String,
    port: Int = 0,
    agentMode: Boolean = false,
    limits: QueryLimits = QueryLimits(),
    nowMs: () => Long = () => System.currentTimeMillis(),
    dataDir: Option[String] = None,
    dnsResolver: Discovery.DnsSd.Resolver = Discovery.DnsSd.SystemResolver,
    consoleTemplates: Option[String] = None,
    consoleLibraries: Option[String] = None,
    externalUrl: String = "",
    webConfigFile: Option[String] = None,
    // --enable-feature=created-timestamp-zero-ingestion (ref: main.go
    // feature flag -> scrape Options.EnableCreatedTimestampZeroIngestion)
    stZeroIngestion: Boolean = false,
    // --enable-feature=st-synthesis (ref: #18279 → scrape Options.SynthesizeST)
    stSynthesis: Boolean = false,
    // --enable-feature=extra-scrape-metrics
    extraScrapeMetrics: Boolean = false,
    // --config.auto-reload interval (0 = disabled; ref main.go
    // --config.auto-reload-interval, default 30s, floor 1s)
    autoReloadMs: Long = 0L,
    // --enable-feature=promql-per-step-stats (ref: main.go → engine
    // EnablePerStepStats; stats=all then carries the per-step arrays)
    perStepStats: Boolean = false) {

  /** SD manager shared by every scrape pool (ref: discovery/manager.go) */
  val discovery = new Discovery.Manager(nowMs)

  private val emptyDf = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Engine.samplesSchema)
  val store = new graft.web.SampleStore(spark, emptyDf)
  val api = new graft.web.HttpApi(spark, store, port, nowMs, limits, agentMode,
    webConfigFile, perStepStats)
  // console templates + external URL (ref: --web.console.templates /
  // --web.console.libraries / --web.external-url flags)
  api.consoleTemplatesPath = consoleTemplates
  api.consoleLibrariesPath = consoleLibraries
  if (externalUrl.nonEmpty) api.externalUrl = java.net.URI.create(externalUrl)

  /** crash-forensics active-query file under the data dir (ref:
    * promql/query_logger.go NewActiveQueryTracker — constructing it first
    * REPORTS whatever the previous run left in flight, then re-allocates) */
  private val tracker: Option[graft.promql.ActiveQueryTracker] =
    dataDir.map(d => new graft.promql.ActiveQueryTracker(d, limits.maxConcurrent))
  /** queries that were running when the previous process died */
  val unfinishedQueries: Seq[String] = tracker.map(_.unfinishedQueries).getOrElse(Nil)
  tracker.foreach(t => api.activeQueryTracker = Some(t))
  unfinishedQueries.foreach(q =>
    System.err.println(s"[graft] query did not finish in the last run: $q"))

  @volatile private var configOpt: Option[Config.PromConfig] = None
  @volatile private var ruleGroups: Seq[Rules.Group] = Nil
  @volatile private var alertStates: Map[String, Map[String, Rules.AlertState]] = Map.empty
  @volatile private var notifier: Option[graft.web.Notifier] = None
  // (write_relabel rules, sender) per remote_write entry — the rules run on
  // every outgoing batch before the send (ref: queue_manager.go)
  @volatile private var forwarders
      : Seq[(Seq[Relabel.Rule], graft.web.RemoteWriteForwarder)] = Nil
  // authenticated remote-read clients per remote_read entry, for callers
  // composing a FanoutStore over this server's primary store
  @volatile var remoteReadClients: Seq[graft.web.RemoteReadClient] = Nil
  // the same clients with their fanout routing policy (read_recent /
  // required_matchers / filter_external_labels) attached
  @volatile var remoteReadSecondaries: Seq[graft.web.FanoutStore.Secondary] = Nil
  @volatile private var scrapers: Seq[ScrapeManager] = Nil

  /** per-job discovered labels of relabel-dropped targets, refreshed on
    * each SD pass (feeds /api/v1/targets droppedTargets) */
  private val droppedByJob =
    scala.collection.concurrent.TrieMap[String, Seq[Map[String, String]]]()
  @volatile private var scraping = false
  @volatile private var queryLogPath: Option[String] = None

  def config: Option[Config.PromConfig] = configOpt
  def currentRuleGroups: Seq[Rules.Group] = ruleGroups

  /** sigv4 config → a supplier of (resolved credentials, region). The
    * credential chain is the one the AWS SD family runs (static keys →
    * shared-config profile → env, wrapped in STS AssumeRole when role_arn
    * is set, FIPS STS endpoint honored); the STS result is expiry-cached
    * inside AssumeRoleCreds so each call is cheap. Region resolves config →
    * AWS_REGION / AWS_DEFAULT_REGION eagerly, failing the reload with a
    * clear error like the reference's NewSigV4RoundTripper. */
  private def sigv4CredsSupplier(s4: Config.SigV4Cfg)
      : () => (AwsSd.Creds, String) = {
    val region = AwsSd.resolveRegion(s4.region)
    val baseCreds = new AwsSd.StaticCreds(s4.accessKey, s4.secretKey, s4.profile)
    val cp: AwsSd.CredsProvider =
      if (s4.roleArn.isEmpty) baseCreds
      else new AwsSd.AssumeRoleCreds(
        new AwsSd.HttpStsApi(region, baseCreds,
          endpoint =
            if (s4.useFipsStsEndpoint) s"https://sts-fips.$region.amazonaws.com"
            else ""),
        s4.roleArn, s4.externalId)
    () => (cp.creds(), region)
  }

  /** (re)load the configuration; Left(error) leaves the old state running */
  def reload(): Either[String, Unit] = synchronized {
    try {
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(configPath)), "UTF-8")
      val base = Option(java.nio.file.Paths.get(configPath).getParent)
        .map(_.toString).getOrElse(".")
      val cfg = Config.parse(text, base)
      // rule files must load cleanly BEFORE anything is swapped
      val groups = cfg.ruleFiles.map(f =>
        Config.loadRuleGroups(f, cfg.evaluationIntervalMs, cfg.ruleQueryOffsetMs))
      // ---- commit point: swap components ----
      configOpt = Some(cfg)
      ruleGroups = groups.flatten
      api.ruleGroups = ruleGroups
      // rule health resets with the registry — stale (group, rule) error
      // entries must not outlive a reload that renamed or removed them
      api.ruleErrors = Map.empty
      api.alertmanagerUrls = cfg.alertmanagerUrls
      // /api/v1/alertmanagers serves the LIVE discovery view (active +
      // relabel-dropped) aggregated across the alertmanagers groups
      val amGroupsNow = cfg.alertmanagerGroups
      api.alertmanagerDiscovery = () => {
        discovery.poll()
        val views = amGroupsNow.map(g =>
          Discovery.alertmanagerTargets(discovery, g))
        (views.flatMap(_._1), views.flatMap(_._2))
      }
      api.configYaml = text
      api.externalLabels = cfg.externalLabels
      api.otlpCfg = cfg.otlp
      // storage.exemplars.max_exemplars is runtime-reloadable
      // (ref: main.go reloadConfig → ApplyConfig on the exemplar storage)
      store.maxExemplars = cfg.maxExemplars
      // notifier fan-out: each alertmanagers group resolves its push
      // endpoints live from the shared discovery manager (statics included —
      // they ride the group's StaticProvider), with alerting-level +
      // per-group alert_relabel_configs (ref: notifier/manager.go ApplyConfig)
      notifier =
        if (cfg.alertmanagerGroups.isEmpty) None
        else Some(new graft.web.Notifier(Nil,
          externalLabels = cfg.externalLabels,
          alertRelabel = cfg.alertRelabel,
          sets = cfg.alertmanagerGroups.map { g =>
            // per-group HTTP client auth (ref alertmanagerset.go:45-60):
            // oauth2 builds a refreshing provider, fixed-header otherwise;
            // sigv4 resolves the AWS credential chain per send
            val oa = g.sd.oauth2.map(new graft.web.OAuth2.TokenProvider(_))
            graft.web.Notifier.AmSet(
              () => {
                discovery.poll()
                Discovery.alertmanagerEndpoints(discovery, g)
              },
              g.alertRelabel, g.timeoutMs,
              authHeader = oa.map[() => String](tp => () => tp.header())
                .orElse(g.sd.authHeader.map(h => () => h)),
              sigv4 = g.sigv4.map(sigv4CredsSupplier))
          },
          // per-AM bounded queues: the rules tick never blocks on a slow
          // AM; live queues survive a reload (process-wide loop map)
          async = true))
      // query_log_file: swap the per-query logger (close the old one when
      // the path changed; reload with the same path keeps appending —
      // ref main.go reloadConfig → engine.SetQueryLogger)
      val newLog = cfg.queryLogFile
      if (queryLogPath != newLog) {
        api.queryLogger.foreach(_.close())
        api.queryLogger = newLog.map(new graft.promql.QueryLogger(_))
        queryLogPath = newLog
      }
      forwarders = cfg.remoteWrites.map { e =>
        // dynamic auth: azuread / oauth2 / google_iam each build ONE
        // refreshing token provider per entry; fixed-header auth otherwise
        // (the checker enforces at-most-one auth shape per entry)
        val azProvider = e.azureAd.map(new graft.web.AzureAd.TokenProvider(_))
        val oaProvider = e.oauth2.map(new graft.web.OAuth2.TokenProvider(_))
        val giProvider = e.googleIam.map(new graft.web.GoogleIam.TokenProvider(_))
        val dynAuth: Option[() => String] =
          azProvider.map[() => String](tp => () => "Bearer " + tp.token())
            .orElse(oaProvider.map(tp => () => tp.header()))
            .orElse(giProvider.map(tp => () => tp.header()))
        // sigv4: the driver resolves the credential chain once per
        // forward() call; executors sign each batch body (ref
        // storage/remote/client.go:199)
        val signerProvider = e.sigv4.map { s4 =>
          val sup = sigv4CredsSupplier(s4)
          val uri = java.net.URI.create(e.url)
          () => {
            val (creds, region) = sup()
            graft.web.RemoteWriteForwarder.SigV4Signer(
              creds, region, uri.getAuthority, uri.getRawPath)
          }
        }
        (e.writeRelabel,
         new graft.web.RemoteWriteForwarder(e.url,
           maxBatch = e.queue.maxSamplesPerSend,
           backoffMs = e.queue.minBackoffMs,
           protoVersion = e.protoVersion,
           authHeader = e.authHeader, headers = e.headers,
           authProvider = dynAuth,
           signerProvider = signerProvider,
           maxBackoffMs = e.queue.maxBackoffMs,
           retryOn429 = e.queue.retryOnHttp429,
           sampleAgeLimitMs = e.queue.sampleAgeLimitMs,
           maxShards = e.queue.maxShards,
           remoteTimeoutMs = e.remoteTimeoutMs,
           sendNativeHistograms = e.sendNativeHistograms,
           metadataProvider =
             if (e.metadataSend) Some(() => store.metadata) else None,
           clientCfg = e.client))
      }
      remoteReadSecondaries = cfg.remoteReads.map { e =>
        val oaProvider = e.oauth2.map(new graft.web.OAuth2.TokenProvider(_))
        graft.web.FanoutStore.Secondary(
          new graft.web.RemoteReadClient(e.url,
            client = ScrapeManager.buildClient(
              e.client.proxyUrl, e.client.tlsCaFile,
              e.client.tlsInsecureSkipVerify, e.client.noProxy,
              e.client.proxyFromEnvironment, e.client.enableHttp2,
              redirects =
                if (e.client.followRedirects)
                  java.net.http.HttpClient.Redirect.NORMAL
                else java.net.http.HttpClient.Redirect.NEVER),
            authHeader = e.authHeader, headers = e.headers,
            authProvider = oaProvider.map(tp => () => tp.header()),
            remoteTimeoutMs = e.remoteTimeoutMs),
          readRecent = e.readRecent,
          requiredMatchers = e.requiredMatchers,
          filterExternalLabels = e.filterExternalLabels)
      }
      remoteReadClients = remoteReadSecondaries.map(_.client)
      // ONE scrape pool per job (ref: scrape/manager.go ApplyConfig — a
      // scrapePool per ScrapeConfig): each pool runs its own interval,
      // relabel_configs (applied to discovered targets, possibly dropping
      // or rewriting them), metric_relabel_configs and limits; SD
      // re-resolves per pass
      scrapers.foreach(_.stop())
      // the discovery manager merges target groups across every provider of
      // every job (ref: discovery/manager.go — targets keyed by
      // (setName, provider) → source); re-registered from scratch on reload
      discovery.clear()
      droppedByJob.clear()
      cfg.scrapeJobs.foreach(Discovery.registerJob(discovery, _, dnsResolver))
      // alertmanager groups discover through the same manager, keyed by
      // their synthetic set names ("alertmanager/<i>")
      cfg.alertmanagerGroups.foreach(g =>
        Discovery.registerJob(discovery, g.sd, dnsResolver))
      val mgrs = cfg.scrapeJobs.map { job =>
        val m = new ScrapeManager(spark, store, Nil,
          intervalMs = if (job.intervalMs > 0) job.intervalMs else cfg.scrapeIntervalMs,
          metricRelabel = job.metricRelabel, nowMs = nowMs, limits = job.limits,
          timeoutMs = job.timeoutMs, authHeader = job.authHeader,
          // oauth2: one refreshing token provider per pool (fetch once,
          // cached across scrapes, refreshed inside the expiry window)
          authProvider = job.oauth2.map(new graft.web.OAuth2.TokenProvider(_))
            .map(tp => () => tp.header()),
          httpHeaders = job.httpHeaders,
          failureLogFile = job.failureLogFile,
          honorTimestamps = job.honorTimestamps,
          trackTimestampsStaleness = job.trackTimestampsStaleness,
          scrapeProtocols = job.scrapeProtocols,
          fallbackProtocol = job.fallbackProtocol,
          alwaysClassicHist = job.alwaysClassicHist,
          enableCompression = job.enableCompression,
          convertNhcb = job.convertNhcb,
          stZeroIngestion = stZeroIngestion,
          stSynthesis = stSynthesis,
          extraScrapeMetrics = extraScrapeMetrics,
          followRedirects = job.followRedirects,
          client =
            if (job.proxyUrl.nonEmpty || job.tlsCaFile.nonEmpty ||
                job.tlsInsecureSkipVerify || job.proxyFromEnvironment ||
                !job.enableHttp2)
              ScrapeManager.buildClient(job.proxyUrl, job.tlsCaFile,
                job.tlsInsecureSkipVerify, job.noProxy,
                job.proxyFromEnvironment, job.enableHttp2)
            else java.net.http.HttpClient.newHttpClient())
        m.setTargetProvider { () =>
          discovery.poll()
          val discovered = discovery
            .targetsFor(job.jobName, job.jobName, job.scheme, job.metricsPath)
            .map(_.copy(honorLabels = job.honorLabels))
          // pool-config scrape options seed the per-target override labels
          // so relabel rules can flip them target-by-target (ref:
          // target.go PopulateDiscoveredLabels scrapeLabels, #18929/#18840)
          val scrapeDefaults = Map(
            "__scrape_native_histograms__" -> job.scrapeNativeHistograms.toString,
            "__always_scrape_classic_histograms__" -> job.alwaysClassicHist.toString,
            "__convert_classic_histograms_to_nhcb__" -> job.convertNhcb.toString)
          val (kept, droppedNow) = discovered
            .map(t => t -> ScrapeManager.relabelTarget(t, job.relabel, scrapeDefaults))
            .partition(_._2.isDefined)
          // relabel-dropped targets stay visible with their discovered
          // labels, capped per pool by keep_dropped_targets (0 = unlimited;
          // ref: scrape/manager.go TargetsDropped + TargetsDroppedCounts)
          val keepN =
            if (job.keepDroppedTargets > 0) job.keepDroppedTargets.toInt
            else Int.MaxValue
          droppedByJob.put(job.jobName, droppedNow.take(keepN).map { case (t, _) =>
            ScrapeManager.discoveryLabelSet(t) })
          api.droppedTargets = droppedByJob.toSeq.flatMap {
            case (pool, ds) => ds.map(pool -> _) }
          kept.flatMap(_._2)
        }
        m
      }
      api.scrapeTargets = mgrs.flatMap(_.currentTargets())
      api.scrapePoolConfigs = cfg.scrapeJobs.map(j => j.jobName -> j.relabel).toMap
      api.scrapePoolOptions = cfg.scrapeJobs.map(j => j.jobName ->
        (if (j.intervalMs > 0) j.intervalMs else cfg.scrapeIntervalMs,
          j.timeoutMs)).toMap
      scrapers = mgrs
      if (scraping) mgrs.foreach(_.start())
      // reload success resolves the failure banner (ref: main.go reloadConfig
      // → notifs.DeleteNotification(ConfigurationUnsuccessful))
      api.notifications.delete(graft.web.Notifications.ConfigurationUnsuccessful)
      Right(())
    } catch {
      case e: Throwable =>
        api.notifications.add(graft.web.Notifications.ConfigurationUnsuccessful)
        Left(Option(e.getMessage).getOrElse(e.getClass.getName))
    }
  }

  /** One rule-evaluation tick over every group (the reference's
    * rules/manager.go eval loop body): recording rules run in topological
    * LEVELS (producers land in the store before consumers read), then
    * alerting rules advance their state machines, append ALERTS /
    * ALERTS_FOR_STATE, forward to remote write, and notify. Driver work is
    * scheduling only — each rule is one distributed instant query. */
  def evalRulesOnce(tsMs: Long): Unit = synchronized {
    ruleGroups.foreach { g =>
      val g0 = System.nanoTime()
      // query_offset: the group evaluates (and stamps its output) at
      // ts - offset, trading recency for slow-ingest slack (ref:
      // rules/group.go Eval restoreStartTime/queryOffset)
      val ets = tsMs - g.queryOffsetMs
      // a rule whose query or append fails goes unhealthy with the error;
      // the tick goes on with the group's other rules (ref: rules/group.go
      // Eval — a failed rule sets its health and lastError)
      def guarded(rule: String)(body: => Unit): Unit =
        try body catch { case e: Exception =>
          api.ruleErrors = api.ruleErrors.updated((g.name, rule),
            Option(e.getMessage).getOrElse(e.getClass.getName))
        }
      Rules.recordingLevels(g.recording).foreach { level =>
        level.foreach { r => guarded(r.record) {
          val out = Rules.evalRecording(spark, store.samples, r, ets)
          // group limit: a recording rule producing more series than the
          // group allows DROPS its output and goes unhealthy (ref:
          // rules/group.go Eval "exceeded limit %d with %d series")
          val n = if (g.limit > 0) out.count() else -1L
          if (g.limit > 0 && n > g.limit) {
            api.ruleErrors = api.ruleErrors.updated((g.name, r.record),
              s"exceeded limit of ${g.limit} with $n series")
          } else {
            store.append(out)
            api.ruleErrors -= ((g.name, r.record))
            // a failing sink must not abort the evaluation tick: the
            // reference's queue manager is async — send failures drop/retry
            // on their own clock and never stall rule evaluation
            forwarders.foreach { case (rules, f) =>
              try f.forward(if (rules.isEmpty) out else Relabel(out, rules))
              catch { case e: Exception =>
                System.err.println(s"[remote-write] forward failed: ${e.getMessage}") }
            }
          }
        } }
      }
      g.alerting.foreach { a => guarded(a.alert) {
        val prevAll = alertStates.getOrElse(g.name, Map.empty)
        val prev = prevAll.filter(
          _._2.labels.getOrElse("alertname", "") == a.alert)
        val (df, next) = Rules.evalAlerting(spark, store.samples, a, ets, prev,
          externalLabels = configOpt.map(_.externalLabels).getOrElse(Map.empty))
        if (g.limit > 0 && next.size > g.limit) {
          api.ruleErrors = api.ruleErrors.updated((g.name, a.alert),
            s"exceeded limit of ${g.limit} with ${next.size} alerts")
        } else {
          store.append(df)
          api.ruleErrors -= ((g.name, a.alert))
          val others = prevAll -- prev.keys
          alertStates = alertStates.updated(g.name, others ++ next)
          api.alertState = alertStates
          notifier.foreach(_.sendFromState(a, next, ets))
        }
      } }
      api.ruleEvalStats = api.ruleEvalStats
        .updated(g.name, (tsMs, (System.nanoTime() - g0) / 1e9))
    }
  }

  /** one synchronous scrape pass (agent and server modes share the path);
    * appended samples also ship to every remote-write endpoint */
  def scrapeOnce(): Long = {
    val n = scrapers.map(_.scrapeOnce()).sum
    if (scrapers.nonEmpty) api.scrapeTargets = scrapers.flatMap(_.currentTargets())
    n
  }

  def start(): Unit = {
    reload() match {
      case Left(err) => throw new IllegalArgumentException(
        s"failed to load config $configPath: $err")
      case Right(_) => ()
    }
    api.reloadHook = Some(() => reload())
    api.start()
    if (autoReloadMs > 0) startAutoReload()
  }

  // ---- --config.auto-reload (ref: main.go — a checksum over the config
  // file AND every file it references (rule files, file-SD files) is
  // recomputed on the interval; a change triggers the same reload path as
  // /-/reload, and a FAILED reload keeps retrying so a later fix applies)
  @volatile private var autoReloadThread: Option[Thread] = None
  @volatile private var autoReloadStop = false

  /** files whose content participates in the checksum beside the config
    * itself (ref: config.GenerateChecksum walks rule_files + *_sd file
    * lists) */
  private def watchedFiles(): Seq[String] =
    configOpt.toSeq.flatMap(cfg =>
      cfg.ruleFiles ++ cfg.scrapeConfigPaths ++
        cfg.scrapeJobs.flatMap(_.fileSdPaths)).sorted

  private def configChecksum(): String = {
    def bytesOf(p: String): Array[Byte] =
      try java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
      catch { case _: Exception => Array.empty }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(bytesOf(configPath))
    watchedFiles().foreach { p =>
      md.update(p.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(bytesOf(p))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def startAutoReload(): Unit = {
    var last = configChecksum()
    val t = new Thread(() => {
      var interrupted = false
      while (!autoReloadStop && !interrupted) {
        try Thread.sleep(autoReloadMs) catch { case _: InterruptedException => interrupted = true }
        if (!autoReloadStop && !interrupted) try {
          val now = configChecksum()
          if (now != last) {
            // reload FIRST, stamp after: a failing reload retries until the
            // config parses again (ref main.go: checksum only advances with
            // the attempt; our stamp-on-success keeps retrying a bad file,
            // same eventual behavior, simpler state)
            if (reload().isRight) last = now
          }
        } catch { case _: Exception => () }
      }
    }, "config-auto-reload")
    t.setDaemon(true)
    t.start()
    autoReloadThread = Some(t)
  }

  def startScraping(): Unit = synchronized {
    scraping = true
    scrapers.foreach(_.start())
  }

  def stop(): Unit = synchronized {
    autoReloadStop = true
    autoReloadThread.foreach(_.interrupt())
    scraping = false
    scrapers.foreach(_.stop())
    // drain queued notifications before shutdown (ref main.go
    // --alertmanager.drain-notification-queue-on-shutdown, default true)
    notifier.foreach(_.stop(drain = true))
    api.queryLogger.foreach(_.close())
    tracker.foreach(_.close())
    api.stop()
  }
}
