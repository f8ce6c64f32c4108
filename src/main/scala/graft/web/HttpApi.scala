package graft.web

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.promql._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Prometheus HTTP v1 query API + federation + remote-write receiver over
  * the Spark engine (SURVEY M8; ref: web/api/v1/api.go:443-660 routes,
  * web/federate.go:55, storage/remote/write_handler.go:270).
  *
  * Serving is driver-side by design: each request compiles to a distributed
  * plan via [[graft.promql.Engine]] and collects only the RESULT rows
  * (result cardinality, not sample cardinality — same shape as the
  * reference's API layer sitting on its engine). JSON bodies mirror the
  * reference's encoding: quoted Go-formatted sample values, second-resolution
  * timestamps with ms fractions, histogram objects with boundary-rule
  * bucket arrays (ref: util/jsonutil/marshal.go).
  */
final class HttpApi(spark: SparkSession, store: SampleStore, port: Int = 0,
    nowMs: () => Long = () => System.currentTimeMillis(),
    limits: QueryLimits = QueryLimits(),
    agentMode: Boolean = false,
    webConfigFile: Option[String] = None,
    // --enable-feature=promql-per-step-stats (ref: main.go feature flag →
    // engine EnablePerStepStats): stats=all adds the per-step arrays
    perStepStats: Boolean = false) {

  // --web.config.file serving (ref: web/web.go Run → toolkit_web.Serve):
  // HTTPS when tls_server_config is present, bcrypt basic-auth on every
  // route when basic_auth_users is. The file re-reads on mtime change, so
  // user edits apply live; a cert/key change re-keys new connections too
  // (the delegating SSLContext below resolves per handshake).
  @volatile private var webCfg: WebTls.ServeConfig =
    webConfigFile.map(WebTls.loadConfig).getOrElse(WebTls.ServeConfig())
  @volatile private var webCfgStamp: Long =
    webConfigFile.map(f => new java.io.File(f).lastModified()).getOrElse(0L)
  private def currentWebCfg: WebTls.ServeConfig = {
    webConfigFile.foreach { f =>
      val st = new java.io.File(f).lastModified()
      if (st != webCfgStamp) synchronized {
        if (st != webCfgStamp) {
          try { webCfg = WebTls.loadConfig(f); sslCtxCache.clear() }
          catch { case _: Exception => () } // keep the last good config
          webCfgStamp = st
        }
      }
    }
    webCfg
  }
  private val sslCtxCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), javax.net.ssl.SSLContext]()
  private val basicAuth = new WebTls.BasicAuth(() => currentWebCfg.users)

  private val server: HttpServer =
    if (webCfg.tlsEnabled) {
      val s = com.sun.net.httpserver.HttpsServer.create(
        new java.net.InetSocketAddress(port), 0)
      // delegating SPI: each handshake uses the CURRENT cert/key pair
      val spi = new javax.net.ssl.SSLContextSpi {
        private def cur: javax.net.ssl.SSLContext = {
          val c = currentWebCfg
          sslCtxCache.computeIfAbsent((c.certFile, c.keyFile),
            { case (cf, kf) => WebTls.sslContext(cf, kf) })
        }
        override def engineCreateSSLEngine(): javax.net.ssl.SSLEngine =
          cur.createSSLEngine()
        override def engineCreateSSLEngine(h: String, p: Int): javax.net.ssl.SSLEngine =
          cur.createSSLEngine(h, p)
        override def engineGetClientSessionContext(): javax.net.ssl.SSLSessionContext =
          cur.getClientSessionContext
        override def engineGetServerSessionContext(): javax.net.ssl.SSLSessionContext =
          cur.getServerSessionContext
        override def engineGetServerSocketFactory(): javax.net.ssl.SSLServerSocketFactory =
          cur.getServerSocketFactory
        override def engineGetSocketFactory(): javax.net.ssl.SSLSocketFactory =
          cur.getSocketFactory
        override def engineInit(km: Array[javax.net.ssl.KeyManager],
            tm: Array[javax.net.ssl.TrustManager],
            sr: java.security.SecureRandom): Unit = ()
      }
      val delegating = new javax.net.ssl.SSLContext(spi, null, "TLS") {}
      s.setHttpsConfigurator(new com.sun.net.httpserver.HttpsConfigurator(delegating))
      s
    } else HttpServer.create(new java.net.InetSocketAddress(port), 0)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
  server.setExecutor(pool)

  /** scheme this server actually speaks (for clients/tests) */
  def scheme: String = if (webCfg.tlsEnabled) "https" else "http"

  /** crash-forensics tracker (queries.active) + per-query log file —
    * wired by the host (PromServer data dir / query_log_file config) */
  @volatile var activeQueryTracker: Option[ActiveQueryTracker] = None
  @volatile var queryLogger: Option[QueryLogger] = None

  /** per-query resource protection: concurrency gate + job-group timeout
    * (ref: promql/engine.go:768 ActiveQueryTracker, --query.timeout) */
  private val gate = new QueryGate(spark, limits,
    tracker = () => activeQueryTracker, queryLog = () => queryLogger)

  /** OTLP delta→cumulative receive-edge state (ref: api.go:378 ConvertDelta) */
  private val otlpDelta = new Otlp.DeltaConverter
  // `otlp:` config block (resource-attribute promotion etc.) — set by the
  // server on (re)load
  @volatile var otlpCfg: Otlp.OtlpCfg = Otlp.OtlpCfg()

  private val startedMs = nowMs()

  /** rule registry + evaluated alert state, wired in by the host
    * (group name → signature → state); rendered by /rules and /alerts */
  @volatile var ruleGroups: Seq[graft.streaming.Rules.Group] = Nil
  @volatile var alertState: Map[String, Map[String, graft.streaming.Rules.AlertState]] = Map.empty
  @volatile var scrapeTargets: Seq[graft.streaming.ScrapeManager.ScrapeTarget] = Nil
  /** notifier fan-out endpoints, rendered by /api/v1/alertmanagers */
  @volatile var alertmanagerUrls: Seq[String] = Nil
  /** (active push URLs, relabel-dropped URLs) — overridden by the server
    * with the live SD view; defaults to the static list */
  @volatile var alertmanagerDiscovery: () => (Seq[String], Seq[String]) =
    () => (alertmanagerUrls, Nil)

  /** group name → (last evaluation wall time ms, duration sec), maintained
    * by the rule-eval loop; rendered by /api/v1/rules */
  @volatile var ruleEvalStats: Map[String, (Long, Double)] = Map.empty

  /** (group, rule) → last evaluation error (group-limit violations etc.),
    * set by the rule-eval loop; renders health=err + lastError */
  @volatile var ruleErrors: Map[(String, String), String] = Map.empty

  /** scrape pool name → its relabel_configs, set by the server assembly on
    * (re)load; serves /scrape_pools and /targets/relabel_steps */
  @volatile var scrapePoolConfigs: Map[String, Seq[graft.streaming.Relabel.Rule]] = Map.empty

  /** scrape pool name → (intervalMs, timeoutMs); serves the /targets
    * scrapeInterval/scrapeTimeout fields (ref: api.go Target struct) */
  @volatile var scrapePoolOptions: Map[String, (Long, Long)] = Map.empty

  /** (pool, discovered labels) of targets relabeling DROPPED on the last SD
    * pass — set by the server's target providers; serves /targets
    * droppedTargets (ref: scrape/manager.go TargetsDropped) */
  @volatile var droppedTargets: Seq[(String, Map[String, String])] = Nil

  /** config `global.external_labels` — attached to federation output
    * (series labels win on conflict; ref: web/federate.go external-label
    * merge) and exposed for the notifier/rule paths */
  @volatile var externalLabels: Map[String, String] = Map.empty

  /** console template directories (ref: --web.console.templates /
    * --web.console.libraries flags; web/web.go h.consoles) */
  @volatile var consoleTemplatesPath: Option[String] = None
  @volatile var consoleLibrariesPath: Option[String] = None
  /** ref: --web.external-url — template pathPrefix()/externalURL() */
  @volatile var externalUrl: java.net.URI = java.net.URI.create("")

  /** lifecycle hook: set by the server assembly to enable POST /-/reload
    * (ref: web/web.go EnableLifecycle; unset → 403 like the reference) */
  @volatile var reloadHook: Option[() => Either[String, Unit]] = None
  /** rendered by /api/v1/status/config (ref: api.go serveConfig) */
  @volatile var configYaml: String = "# graft-spark serving configuration"

  /** (rendered alert JSON, state string) for one alerting rule */
  private def activeAlertsOf(group: String,
      a: graft.streaming.Rules.AlertingRule): Seq[(String, String)] =
    alertState.getOrElse(group, Map.empty).toSeq.collect {
      case (_, st) if st.labels.getOrElse("alertname", "") == a.alert =>
        val state = if (st.firingSinceMs >= 0) "firing" else "pending"
        (Json.obj(
          "labels" -> Json.metric(st.labels),
          "annotations" -> Json.metric(
            if (st.annotations.nonEmpty) st.annotations else a.annotations),
          "state" -> Json.str(state),
          "activeAt" -> Json.str(java.time.Instant.ofEpochMilli(st.activeSinceMs).toString),
          "value" -> Json.value(st.value)), state)
    }.sortBy(_._1)

  def boundPort: Int = server.getAddress.getPort

  def start(): Unit = { routes(); server.start() }
  @volatile private var stopping = false
  def stop(): Unit = { stopping = true; server.stop(0); pool.shutdown() }

  // ---------- request plumbing ----------

  private def params(ex: HttpExchange): Map[String, List[String]] = {
    def parse(q: String): Seq[(String, String)] =
      if (q == null || q.isEmpty) Nil
      else q.split("&").toSeq.filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        val dec = (s: String) => java.net.URLDecoder.decode(s, "UTF-8")
        if (i < 0) (dec(kv), "") else (dec(kv.take(i)), dec(kv.drop(i + 1)))
      }
    val fromUrl = parse(ex.getRequestURI.getRawQuery)
    // POST form bodies are accepted like the reference (api.go uses
    // r.FormValue which merges query + form)
    val fromBody =
      if (ex.getRequestMethod == "POST" &&
          Option(ex.getRequestHeaders.getFirst("Content-Type"))
            .exists(_.startsWith("application/x-www-form-urlencoded")))
        parse(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
      else Nil
    (fromUrl ++ fromBody).groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toList }
  }

  /** unix seconds (float) or RFC3339 (ref: api.go parseTime) */
  private def parseTimeMs(s: String): Long =
    if (s.matches("^-?[0-9]+(\\.[0-9]+)?$")) math.round(s.toDouble * 1000.0)
    else java.time.Instant.parse(s).toEpochMilli

  /** duration seconds (float) or Prometheus duration (ref: api.go parseDuration) */
  private def parseDurMs(s: String): Long =
    if (s.matches("^-?[0-9]+(\\.[0-9]+)?$")) math.round(s.toDouble * 1000.0)
    else Lexer.parseDuration(s)

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }

  private def ok(ex: HttpExchange, data: String): Unit =
    respond(ex, 200, s"""{"status":"success","data":$data}""")

  private def okW(ex: HttpExchange, data: String, warnings: Seq[String]): Unit =
    if (warnings.isEmpty) ok(ex, data)
    else respond(ex, 200, s"""{"status":"success","warnings":${
      Json.arr(warnings.map(Json.str))},"data":$data}""")

  /** API-level `limit` param (0 = disabled; ref api.go parseLimitParam).
    * Returns (kept, warnings) — truncation warns like the reference. */
  private def applyLimit[T](items: Seq[T], p: Map[String, List[String]]): (Seq[T], Seq[String]) = {
    val lim = p.get("limit").flatMap(_.headOption).map(_.toInt).getOrElse(0)
    if (lim < 0) throw new IllegalArgumentException("limit must be non-negative")
    if (lim == 0 || items.size <= lim) (items, Nil)
    else (items.take(lim), Seq("results truncated due to limit"))
  }

  /** push the API `limit` into the distributed plan as `limit(n+1)` — the
    * +1 row keeps [[applyLimit]]'s truncation warning observable while the
    * cluster stops producing past the limit (GlobalLimit; with a preceding
    * orderBy Spark plans TakeOrdered) */
  private def planLimit(df: DataFrame, p: Map[String, List[String]]): DataFrame = {
    val lim = p.get("limit").flatMap(_.headOption).map(_.toInt).getOrElse(0)
    if (lim <= 0) df else df.limit(lim + 1)
  }

  private def err(ex: HttpExchange, code: Int, errorType: String, msg: String): Unit =
    respond(ex, code,
      Json.obj("status" -> Json.str("error"), "errorType" -> Json.str(errorType),
        "error" -> Json.str(msg)))

  /** self-monitoring: per-handler request counters served by /metrics and
    * /api/v1/status/self_metrics (ref: web.go instrumentHandler) */
  private val requestCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  private def countRequest(handlerPath: String): Unit =
    requestCounts.computeIfAbsent(handlerPath,
      _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()

  /** notification center (ref: util/notifications) — the server assembly
    * adds/deletes banners (config reload failures etc.) */
  val notifications = new Notifications(nowMs = nowMs)

  /** handler for routes that hand the exchange to a long-lived streaming
    * thread: the exchange is NOT closed when the lambda returns (the
    * streaming thread owns it); errors thrown before detach still close */
  private def streamingHandler(f: HttpExchange => Unit): com.sun.net.httpserver.HttpHandler =
    (ex: HttpExchange) =>
      try {
        if (!basicAuth.allowed(ex.getRequestHeaders.getFirst("Authorization"))) {
          ex.getResponseHeaders.set("WWW-Authenticate", "Basic")
          ex.sendResponseHeaders(401, -1)
          ex.close()
        } else { countRequest(ex.getHttpContext.getPath); f(ex) }
      }
      catch { case _: Throwable =>
        try ex.close() catch { case _: Exception => () } }

  private def handler(f: HttpExchange => Unit): com.sun.net.httpserver.HttpHandler = (ex: HttpExchange) =>
    try {
      if (!basicAuth.allowed(ex.getRequestHeaders.getFirst("Authorization"))) {
        // ref: exporter-toolkit handler.go — 401 + challenge on every route
        ex.getResponseHeaders.set("WWW-Authenticate", "Basic")
        val b = "Unauthorized\n".getBytes("UTF-8")
        ex.sendResponseHeaders(401, b.length)
        ex.getResponseBody.write(b)
      } else { countRequest(ex.getHttpContext.getPath); f(ex) }
    }
    catch {
      case e: ParseError => err(ex, 400, "bad_data", e.getMessage)
      // resource-protection errors carry the reference's status mapping
      // (web/api/v1/api.go returnAPIError: timeout→503, exec→422)
      case e: QueryTimeoutError => err(ex, 503, "timeout", e.getMessage)
      case e: TooManySamplesError => err(ex, 422, "execution", e.getMessage)
      case e: PromQLError => err(ex, 422, "execution", e.getMessage)
      case e: IllegalArgumentException => err(ex, 400, "bad_data", String.valueOf(e.getMessage))
      case e: java.time.format.DateTimeParseException => err(ex, 400, "bad_data", e.getMessage)
      case e: Throwable =>
        val m = Option(e.getMessage).getOrElse(e.getClass.getName)
        // lazily-raised engine errors surface as Spark job failures
        if (m.contains("USER_RAISED_EXCEPTION") || m.contains("duplicate series") ||
            m.contains("same labelset"))
          err(ex, 422, "execution", m.take(300))
        else err(ex, 500, "internal", m.take(300))
    }
    finally ex.close()

  // ---------- result rendering ----------

  private def labelsOf(r: Row, i: Int): Map[String, String] =
    r.getMap[String, String](i).toMap

  /** template `query` function: instant vector at `ts` as template samples
    * (ref: rules.EngineQueryFunc via template.QueryFunc) */
  private def templateQuery(expr: String, ts: Long): Seq[graft.template.GoTemplate.Sample] =
    Engine.instantQuery(spark, store.samples, expr, ts) match {
      case VectorVal(df) =>
        df.select(col("labels"), col("v"), col("h")).collect().toSeq.map { r =>
          val value: Any =
            if (!r.isNullAt(2)) FHist.fromRow(r.getStruct(2)) else r.getDouble(1)
          graft.template.GoTemplate.Sample(labelsOf(r, 0), value)
        }
      case ScalarVal(df, _) =>
        df.select(col("v")).collect().toSeq.map(r =>
          graft.template.GoTemplate.Sample(Map.empty, r.getDouble(0)))
      case other => throw new graft.template.GoTemplate.ExecException(
        s"query result is not a vector or scalar")
    }

  private def histJson(r: Row): String = {
    val h = FHist.fromRow(r)
    val buckets = h.compact.allBuckets.filter(_._3 != 0.0).map { case (lo, hi, c) =>
      // boundary rule (ref: model/histogram bucket Boundaries): 0 = (lo,hi],
      // 1 = [lo,hi), 3 = [lo,hi] (zero bucket)
      val rule = if (lo < 0 && hi > 0) 3 else if (lo < 0) 1 else 0
      Json.arr(Seq(rule.toString, Json.value(lo), Json.value(hi), Json.value(c)))
    }
    Json.obj("count" -> Json.value(h.cnt), "sum" -> Json.value(h.sum),
      "buckets" -> Json.arr(buckets))
  }

  /** [t, "v"] or [t, {histogram}] */
  private def point(r: Row, tIdx: Int, vIdx: Int, hIdx: Int): (Boolean, String) =
    if (!r.isNullAt(hIdx))
      (true, "[" + Json.ts(r.getLong(tIdx)) + "," + histJson(r.getStruct(hIdx)) + "]")
    else
      (false, "[" + Json.ts(r.getLong(tIdx)) + "," + Json.value(r.getDouble(vIdx)) + "]")

  private def renderVectorInstant(df: DataFrame,
      p: Map[String, List[String]] = Map.empty): (String, Seq[String]) = {
    val hasOrd = df.columns.contains("__ord")
    val cols = Seq(col("labels"), col("t"), col("v"), col("h")) ++
      (if (hasOrd) Seq(col("__ord")) else Nil)
    var rows = df.select(cols: _*).collect().toSeq
    if (hasOrd) rows = rows.sortBy(_.getDouble(4))
    val (kept, warns) = applyLimit(rows, p)
    val items = kept.map { r =>
      val (isH, pt) = point(r, 1, 2, 3)
      Json.obj("metric" -> Json.metric(labelsOf(r, 0)),
        (if (isH) "histogram" else "value") -> pt)
    }
    (Json.obj("resultType" -> Json.str("vector"), "result" -> Json.arr(items)), warns)
  }

  private def renderMatrix(df: DataFrame,
      p: Map[String, List[String]] = Map.empty): (String, Seq[String]) = {
    val rows = df.select(col("labels"), col("t"), col("v"), col("h")).collect().toSeq
    val bySeries = rows.groupBy(r => labelsOf(r, 0)).toSeq.sortBy(_._1.toSeq.sorted.mkString)
    val (kept, warns) = applyLimit(bySeries, p)
    val items = kept.map { case (lbls, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      val (hs, fs) = sorted.partition(r => !r.isNullAt(3))
      val fields = Seq("metric" -> Json.metric(lbls)) ++
        (if (fs.nonEmpty) Seq("values" -> Json.arr(fs.map(point(_, 1, 2, 3)._2))) else Nil) ++
        (if (hs.nonEmpty) Seq("histograms" -> Json.arr(hs.map(point(_, 1, 2, 3)._2))) else Nil)
      Json.obj(fields: _*)
    }
    (Json.obj("resultType" -> Json.str("matrix"), "result" -> Json.arr(items)), warns)
  }

  private def renderScalar(df: DataFrame): String = {
    val r = df.orderBy(col("t")).collect().last
    Json.obj("resultType" -> Json.str("scalar"),
      "result" -> ("[" + Json.ts(r.getLong(0)) + "," + Json.value(r.getDouble(1)) + "]"))
  }

  // ---------- selectors ----------

  private def parseMatch(s: String): List[LabelMatcher] =
    Engine.parse(s) match {
      case VectorSelector(name, matchers, _, _) =>
        name.map(n => LabelMatcher("__name__", MatchOp.Eq, n)).toList ++ matchers
      case _ => throw new IllegalArgumentException(s"invalid series selector: $s")
    }

  private def matcherFilter(df: DataFrame, ms: List[LabelMatcher]): DataFrame =
    ms.foldLeft(df) { (d, m) =>
      val c = coalesce(element_at(col("labels"), m.name), lit(""))
      d.filter(m.op match {
        case MatchOp.Eq => c === m.value
        case MatchOp.Neq => c =!= m.value
        case MatchOp.Re => c.rlike("^(?:" + m.value + ")$")
        case MatchOp.NotRe => !c.rlike("^(?:" + m.value + ")$")
      })
    }

  /** union of match[] selectors over [start, end] */
  private def seriesSet(p: Map[String, List[String]]): DataFrame = {
    val start = p.get("start").flatMap(_.headOption).map(parseTimeMs).getOrElse(Long.MinValue / 2)
    val end = p.get("end").flatMap(_.headOption).map(parseTimeMs).getOrElse(Long.MaxValue / 2)
    val matches = p.getOrElse("match[]", Nil)
    val base = store.samples.filter(col("t") >= start && col("t") <= end && !col("stale"))
    if (matches.isEmpty) base
    else matches.map(m => matcherFilter(base, parseMatch(m))).reduce(_ unionByName _)
  }

  /** `stats=` parameter: per-phase timings + sample accounting appended to
    * the data envelope (ref: util/stats/query_stats.go QueryTimings/
    * QuerySamples JSON; api.go query handlers render when stats != "") */
  private def statsField(queueS: Double, prepS: Double, innerS: Double,
      st: graft.promql.Engine.SampleStats): (String, String) = {
    // per-step arrays render as the reference's stepStat pairs
    // [unix_seconds, n] (ref: util/stats/query_stats.go stepStat
    // MarshalJSON), omitted entirely without the feature flag
    def steps(xs: Seq[(Long, Long)]): String =
      Json.arr(xs.map { case (ts, n) =>
        "[" + Json.ts(ts) + "," + n.toString + "]" })
    val fields =
      (if (st.perStepTotal.nonEmpty)
        Seq("totalQueryableSamplesPerStep" -> steps(st.perStepTotal)) else Nil) ++
      Seq("totalQueryableSamples" -> st.total.toString) ++
      (if (st.perStepRead.nonEmpty)
        Seq("samplesReadPerStep" -> steps(st.perStepRead)) else Nil) ++
      Seq("samplesRead" -> st.read.toString,
        "peakSamples" -> st.total.toString)
    "stats" -> Json.obj(
      "timings" -> Json.obj(
        "evalTotalTime" -> (prepS + innerS).toString,
        "resultSortTime" -> "0",
        "queryPreparationTime" -> prepS.toString,
        "innerEvalTime" -> innerS.toString,
        "execQueueTime" -> queueS.toString,
        "execTotalTime" -> (queueS + prepS + innerS).toString),
      "samples" -> Json.obj(fields: _*))
  }

  /** splice extra fields into an already-rendered JSON object */
  private def spliced(objJson: String, extra: Seq[(String, String)]): String =
    if (extra.isEmpty) objJson
    else objJson.dropRight(1) + extra.map { case (k, v) => "," + Json.str(k) + ":" + v }
      .mkString + "}"

  /** agent mode blocks the query/series/rules surface with the reference's
    * 422 execution error (ref: web/api/v1/api.go:432 wrapAgent — the data
    * path endpoints stay: write, OTLP, targets, metadata, status) */
  private def agentGuard(f: HttpExchange => Unit): HttpExchange => Unit =
    if (!agentMode) f
    else ex => err(ex, 422, "execution", "unavailable with Prometheus Agent")

  /** handler for the endpoints the reference wraps with wrapAgent */
  private def qHandler(f: HttpExchange => Unit): com.sun.net.httpserver.HttpHandler =
    handler(agentGuard(f))

  // ---------- routes ----------

  private def routes(): Unit = {
    // lifecycle (ref: web/web.go:580-602): POST/PUT /-/reload re-applies the
    // configuration through the server assembly's hook; without a hook the
    // lifecycle API is disabled and the reference 403s
    server.createContext("/-/reload", handler { ex =>
      ex.getRequestMethod match {
        case "POST" | "PUT" =>
          reloadHook match {
            case None =>
              respond(ex, 403, "Lifecycle API is not enabled.", "text/plain; charset=utf-8")
            case Some(h) => h() match {
              case Right(_) => ex.sendResponseHeaders(200, -1)
              case Left(msg) =>
                respond(ex, 500, s"failed to reload config: $msg", "text/plain; charset=utf-8")
            }
          }
        case _ =>
          respond(ex, 405, "Only POST or PUT requests allowed", "text/plain; charset=utf-8")
      }
    })

    server.createContext("/-/healthy", handler { ex =>
      respond(ex, 200, "Prometheus Server is Healthy.\n", "text/plain; charset=utf-8")
    })
    server.createContext("/-/ready", handler { ex =>
      respond(ex, 200, "Prometheus Server is Ready.\n", "text/plain; charset=utf-8")
    })
    server.createContext("/api/v1/query_range", qHandler { ex =>
      val p = params(ex)
      def need(k: String) = p.get(k).flatMap(_.headOption)
        .getOrElse(throw new IllegalArgumentException(s"missing parameter $k"))
      val q = need("query")
      val start = parseTimeMs(need("start"))
      val end = parseTimeMs(need("end"))
      val step = parseDurMs(need("step"))
      if (step <= 0) throw new IllegalArgumentException(
        "zero or negative query resolution step widths are not accepted")
      if (end < start) throw new IllegalArgumentException(
        "end timestamp must not be before start time")
      val lb = p.get("lookback_delta").flatMap(_.headOption).map(parseDurMs)
        .getOrElse(300000L) // ref: api.go extractQueryOpts
      val statsParam = p.get("stats").flatMap(_.headOption).getOrElse("")
      val wantStats = statsParam.nonEmpty
      gate.execTimed(q, Map("query" -> q, "start" -> ((start / 1000.0).toString),
          "end" -> ((end / 1000.0).toString), "step" -> ((step / 1000.0).toString))) { queueS =>
        val t0 = System.nanoTime()
        val (v, sst) = Engine.rangeQueryWithStats(spark, store.samples, q, start, end, step, lb,
          maxSamples = limits.maxSamples, wantStats = wantStats,
          wantPerStep = perStepStats && statsParam == "all")
        val t1 = System.nanoTime()
        def st(j: String, innerNs: Long): String =
          sst.fold(j)(s =>
            spliced(j, Seq(statsField(queueS, (t1 - t0) / 1e9, innerNs / 1e9, s))))
        v match {
          case VectorVal(df) =>
            val (j, w) = renderMatrix(df, p); okW(ex, st(j, System.nanoTime() - t1), w)
          case ScalarVal(df, _) =>
            // scalar range renders as a matrix (ref: api.go rangedQuery)
            val j = Json.obj("resultType" -> Json.str("matrix"), "result" -> Json.arr(Seq(
              Json.obj("metric" -> "{}", "values" -> Json.arr(
                df.orderBy(col("t")).collect().toSeq.map(r =>
                  "[" + Json.ts(r.getLong(0)) + "," + Json.value(r.getDouble(1)) + "]"))))))
            ok(ex, st(j, System.nanoTime() - t1))
          case other => throw PromQLError(s"invalid expression type for range query")
        }
      }
    })

    server.createContext("/api/v1/query", qHandler { ex =>
      // exact-path dispatch: the JDK router prefix-matches on the longest
      // registered context, so unknown /api/v1/queryXXX paths land here
      if (ex.getRequestURI.getPath != "/api/v1/query")
        err(ex, 404, "not_found", "not found")
      else {
        val p = params(ex)
        val q = p.get("query").flatMap(_.headOption)
          .getOrElse(throw new IllegalArgumentException("missing parameter query"))
        val ts = p.get("time").flatMap(_.headOption).map(parseTimeMs).getOrElse(nowMs())
        val lb = p.get("lookback_delta").flatMap(_.headOption).map(parseDurMs)
          .getOrElse(300000L) // ref: api.go extractQueryOpts
        val statsParam = p.get("stats").flatMap(_.headOption).getOrElse("")
        val wantStats = statsParam.nonEmpty
        gate.execTimed(q, Map("query" -> q, "time" -> ((ts / 1000.0).toString))) { queueS =>
          val t0 = System.nanoTime()
          val (v, sst) = Engine.instantQueryWithStats(spark, store.samples, q, ts, lb,
            maxSamples = limits.maxSamples, wantStats = wantStats,
            wantPerStep = perStepStats && statsParam == "all")
          val t1 = System.nanoTime()
          def st(j: String, innerNs: Long): String =
            sst.fold(j)(s =>
              spliced(j, Seq(statsField(queueS, (t1 - t0) / 1e9, innerNs / 1e9, s))))
          v match {
            case VectorVal(df) =>
              val (j, w) = renderVectorInstant(df, p); okW(ex, st(j, System.nanoTime() - t1), w)
            case ScalarVal(df, _) => ok(ex, st(renderScalar(df), System.nanoTime() - t1))
            case MatrixVal(df) =>
              val (j, w) = renderMatrix(df, p); okW(ex, st(j, System.nanoTime() - t1), w)
            case StringVal(s) => ok(ex, st(Json.obj("resultType" -> Json.str("string"),
              "result" -> ("[" + Json.ts(ts) + "," + Json.str(s) + "]")), 0L))
          }
        }
      }
    })

    server.createContext("/api/v1/series", qHandler { ex =>
      val p = params(ex)
      if (p.getOrElse("match[]", Nil).isEmpty)
        throw new IllegalArgumentException("no match[] parameter provided")
      // distinct() can't run on MAP columns — dedupe on the sorted-entries
      // hash. The API limit is pushed into the PLAN (`limit(n+1)` keeps the
      // truncation warning observable) so the driver never materializes the
      // full series set — at real cardinality (millions of matched series)
      // the un-limited collect is a driver OOM, not a slowdown.
      val rows = planLimit(seriesSet(p)
        .groupBy(xxhash64(array_sort(map_entries(col("labels")))).as("__sg"))
        .agg(first(col("labels")).as("labels"))
        .select(col("labels")), p).collect().toSeq
      val (kept, warns) = applyLimit(
        rows.map(r => labelsOf(r, 0)).distinct.sortBy(_.toSeq.sorted.mkString("\u0000")), p)
      okW(ex, Json.arr(kept.map(Json.metric)), warns)
    })

    server.createContext("/api/v1/labels", qHandler { ex =>
      val p = params(ex)
      // orderBy+limit compiles to TakeOrdered — a per-partition top-k heap,
      // no global sort, no full collect
      val rows = planLimit(seriesSet(p)
        .select(explode(map_keys(col("labels"))).as("k")).distinct()
        .orderBy(col("k")), p).collect().toSeq
      val (kept, warns) = applyLimit(rows.map(r => Json.str(r.getString(0))), p)
      okW(ex, Json.arr(kept), warns)
    })

    server.createContext("/api/v1/label/", qHandler { ex =>
      val path = ex.getRequestURI.getPath
      val m = "^/api/v1/label/([^/]+)/values$".r
      path match {
        case m(name0) =>
          val name = java.net.URLDecoder.decode(name0, "UTF-8")
          val p = params(ex)
          val rows = planLimit(seriesSet(p)
            .select(element_at(col("labels"), name).as("v"))
            .filter(col("v").isNotNull).distinct().orderBy(col("v")), p).collect().toSeq
          val (kept, warns) = applyLimit(rows.map(r => Json.str(r.getString(0))), p)
          okW(ex, Json.arr(kept), warns)
        case _ => err(ex, 404, "not_found", "not found")
      }
    })

    server.createContext("/api/v1/admin/tsdb/delete_series", qHandler { ex =>
      val p = params(ex)
      val matches = p.getOrElse("match[]", Nil)
      if (matches.isEmpty) throw new IllegalArgumentException("no match[] parameter provided")
      val start = p.get("start").flatMap(_.headOption).map(parseTimeMs).getOrElse(Long.MinValue / 2)
      val end = p.get("end").flatMap(_.headOption).map(parseTimeMs).getOrElse(Long.MaxValue / 2)
      matches.foreach(m => store.deleteSeries(parseMatch(m), start, end))
      ex.sendResponseHeaders(204, -1)
    })

    server.createContext("/api/v1/admin/tsdb/clean_tombstones", qHandler { ex =>
      store.cleanTombstones()
      ex.sendResponseHeaders(204, -1)
    })

    server.createContext("/api/v1/admin/tsdb/snapshot", qHandler { ex =>
      val dir = sys.props.getOrElse("graft.snapshot.dir",
        sys.env.getOrElse("GRAFT_SNAPSHOT_DIR", "/tmp/graft_snapshots"))
      val name = store.snapshot(dir)
      ok(ex, Json.obj("name" -> Json.str(name)))
    })

    server.createContext("/api/v1/write", handler { ex =>
      val body = ex.getRequestBody.readAllBytes()
      val isV2 = Option(ex.getRequestHeaders.getFirst("Content-Type"))
        .exists(_.contains("io.prometheus.write.v2.Request"))
      val snappyOn = Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
        .forall(_.equalsIgnoreCase("snappy")) // PRW mandates snappy; absent ⇒ assume snappy
      val (samples, meta) = RemoteWrite.decodeFull(body, isV2, snappyOn)
      store.appendRows(samples.map(_.toRow))
      if (meta.nonEmpty) store.mergeMetadata(meta)
      ex.sendResponseHeaders(204, -1)
    })

    server.createContext("/federate", qHandler { ex =>
      // latest value per matching series within the lookback window
      // (ref: web/federate.go:55) in exposition text format
      val p = params(ex)
      val ts = nowMs()
      val rows = seriesSet(p)
        .filter(col("t") > ts - 300000L && col("t") <= ts && col("h").isNull)
        .groupBy(xxhash64(array_sort(map_entries(col("labels")))).as("__sg"))
        .agg(max_by(struct(col("labels"), col("t"), col("v")), col("t")).as("p"))
        .select(col("p.labels"), col("p.t"), col("p.v")).collect().toSeq
      val sb = new StringBuilder
      rows.sortBy(r => labelsOf(r, 0).toSeq.sorted.mkString("\u0000")).foreach { r =>
        // external labels ride along; the series' own labels win conflicts
        // (ref: federate.go external-label merge, series value first)
        val lbls = externalLabels ++ labelsOf(r, 0)
        val name = lbls.getOrElse("__name__", "")
        val rest = (lbls - "__name__" - "__type__" - "__unit__").toSeq.sorted
          .map { case (k, v) => s"""$k="${v.replace("\\", "\\\\").replace("\"", "\\\"")}"""" }
        sb.append(name).append(rest.mkString("{", ",", "}"))
          .append(' ').append(Json.goFloat(r.getDouble(2)))
          .append(' ').append(r.getLong(1)).append('\n')
      }
      respond(ex, 200, sb.toString, "text/plain; version=0.0.4")
    })

    server.createContext("/api/v1/status/buildinfo", handler { ex =>
      // full PrometheusVersion field set (ref: api.go:168)
      ok(ex, Json.obj(
        "version" -> Json.str("graft-spark"),
        "revision" -> Json.str(""),
        "branch" -> Json.str(""),
        "buildUser" -> Json.str(""),
        "buildDate" -> Json.str(""),
        "goVersion" -> Json.str(
          "jvm-" + System.getProperty("java.version", "n/a"))))
    })

    // built-in UI (ref: web/web.go — / redirects to /graph; the React app
    // is re-expressed as one static page over the v1 API, web/Ui.scala)
    server.createContext("/graph", handler { ex =>
      respond(ex, 200, Ui.graphHtml, "text/html; charset=utf-8")
    })
    server.createContext("/", handler { ex =>
      if (ex.getRequestURI.getPath == "/") {
        ex.getResponseHeaders.set("Location", "/graph")
        ex.sendResponseHeaders(302, -1)
      } else err(ex, 404, "not_found", "unknown path")
    })

    server.createContext("/consoles/", handler { ex =>
      // expand a console template with the Prometheus function map and the
      // $rawParams/$params/$path/$externalLabels convenience variables
      // (ref: web/web.go:794 consoles)
      val name = ex.getRequestURI.getPath.stripPrefix("/consoles/")
      consoleTemplatesPath match {
        case None =>
          respond(ex, 404, "console templates not configured", "text/plain; charset=utf-8")
        case Some(dir) =>
          val root = new java.io.File(dir).getCanonicalFile
          val f = new java.io.File(root, name)
          // traversal guard: require the SEPARATOR after the root prefix, or
          // /srv/consoles-private would pass a startsWith("/srv/consoles")
          if (!f.getCanonicalPath.startsWith(
              root.getPath + java.io.File.separator) || !f.isFile)
            respond(ex, 404, s"console template $name not found", "text/plain; charset=utf-8")
          else {
            val text = new String(
              java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
            val raw = params(ex)
            val data = Map(
              "RawParams" -> raw.map { case (k, vs) => k -> vs.toVector },
              "Params" -> raw.map { case (k, vs) => k -> vs.headOption.getOrElse("") },
              "Path" -> name,
              "ExternalLabels" -> externalLabels)
            val defs = "{{$rawParams := .RawParams }}{{$params := .Params}}" +
              "{{$path := .Path}}{{$externalLabels := .ExternalLabels}}"
            val ts = nowMs()
            val libs = consoleLibrariesPath.toSeq.flatMap { ld =>
              Option(new java.io.File(ld).listFiles()).map(_.toSeq).getOrElse(Nil)
                .filter(_.getName.endsWith(".lib")).map(_.getPath).sorted
            }
            new graft.template.GoTemplate.Expander(
              defs + text, "__console_" + name, data, ts,
              templateQuery(_, ts), externalUrl)
              .expandHtml(libs) match {
                case Right(html) => respond(ex, 200, html, "text/html; charset=utf-8")
                case Left(msg) => respond(ex, 500, msg, "text/plain; charset=utf-8")
              }
          }
      }
    })

    server.createContext("/api/v1/format_query", qHandler { ex =>
      val q = params(ex).get("query").flatMap(_.headOption)
        .getOrElse(throw new ParseError("missing query", 0))
      ok(ex, Json.str(graft.promql.Printer.fmt(graft.promql.Parser.parse(q))))
    })

    server.createContext("/api/v1/parse_query", qHandler { ex =>
      val q = params(ex).get("query").flatMap(_.headOption)
        .getOrElse(throw new ParseError("missing query", 0))
      ok(ex, AstJson.translate(graft.promql.Parser.parse(q)))
    })

    server.createContext("/api/v1/status/flags", handler { ex => ok(ex, "{}") })

    server.createContext("/api/v1/openapi.yaml", handler { ex =>
      // ref: web/api/v1/openapi.go ServeOpenAPI (application/yaml,
      // no-cache headers; the spec itself is generated from the routes)
      ex.getResponseHeaders.set("Cache-Control",
        "no-cache, no-store, must-revalidate")
      respond(ex, 200, OpenApi.yaml, "application/yaml; charset=utf-8")
    })

    // self metrics as (name, help, type, [(labels, value)]) — rendered as
    // text exposition by /metrics and JSON families by /status/self_metrics
    def selfMetricFamilies(): Seq[(String, String, String, Seq[(Map[String, String], Double)])] = {
      import scala.jdk.CollectionConverters._
      val handlers = requestCounts.asScala.toSeq.sortBy(_._1)
        .map { case (h, c) => Map("handler" -> h) -> c.get().toDouble }
      Seq(
        ("prometheus_http_requests_total", "Counter of HTTP requests.",
          "counter", handlers),
        ("prometheus_build_info", "Build information.",
          "gauge", Seq(Map("version" -> "graft-spark", "goversion" -> "n/a") -> 1.0)),
        ("process_start_time_seconds", "Start time of the process since unix epoch in seconds.",
          "gauge", Seq(Map.empty[String, String] -> startedMs / 1000.0)),
        ("prometheus_notifications_active", "Active notification banners.",
          "gauge", Seq(Map.empty[String, String] -> notifications.active.size.toDouble)),
        ("prometheus_engine_queries_concurrent_max", "Max concurrent queries.",
          "gauge", Seq(Map.empty[String, String] -> limits.maxConcurrent.toDouble)),
        // ref #18081 — samples read (storage I/O) across queries; moves on
        // every API query (see Engine.samplesReadTotal)
        ("prometheus_engine_query_samples_read_total",
          "Total count of samples read by queries.",
          "counter", Seq(Map.empty[String, String] ->
            graft.promql.Engine.samplesReadTotal.get().toDouble)),
        // Janino compiles of generated classes in this JVM: under a steady
        // query mix it stays flat once the codegen cache holds the working
        // set (see Engine.tunedConf)
        ("graft_codegen_compilations_total",
          "Total count of classes compiled by Spark's code generator.",
          "counter", Seq(Map.empty[String, String] ->
            CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)))
    }

    server.createContext("/metrics", handler { ex =>
      // the server's own exposition endpoint (ref: web.go /metrics via
      // promhttp) — scrapeable by another Prometheus
      val sb = new StringBuilder
      selfMetricFamilies().foreach { case (name, help, typ, series) =>
        sb.append(s"# HELP $name $help\n# TYPE $name $typ\n")
        series.foreach { case (lbls, v) =>
          val ls =
            if (lbls.isEmpty) ""
            else lbls.toSeq.sorted.map { case (k, value) =>
              s"""$k="${value.replace("\\", "\\\\").replace("\"", "\\\"")}""""
            }.mkString("{", ",", "}")
          sb.append(name).append(ls).append(' ').append(Json.goFloat(v)).append('\n')
        }
      }
      respond(ex, 200, sb.toString, "text/plain; version=0.0.4; charset=utf-8")
    })

    server.createContext("/api/v1/status/self_metrics", handler { ex =>
      // ref: api.go:1929 selfMetrics — JSON metric families, optional
      // metric_name_pattern filter (fully anchored)
      val pat = params(ex).get("metric_name_pattern").flatMap(_.headOption)
        .filter(_.nonEmpty).map(p => ("^(?:" + p + ")$").r.pattern)
      val fams = selfMetricFamilies()
        .filter { case (n, _, _, _) => pat.forall(_.matcher(n).matches()) }
        .map { case (name, help, typ, series) =>
          Json.obj(
            "name" -> Json.str(name),
            "help" -> Json.str(help),
            "type" -> Json.str(typ.toUpperCase),
            "metric" -> Json.arr(series.map { case (lbls, v) =>
              Json.obj(
                "label" -> Json.arr(lbls.toSeq.sorted.map { case (k, value) =>
                  Json.obj("name" -> Json.str(k), "value" -> Json.str(value)) }),
                (if (typ == "counter") "counter" else "gauge") ->
                  Json.obj("value" -> Json.goFloat(v)))
            }))
        }
      ok(ex, Json.arr(fams))
    })

    server.createContext("/api/v1/notifications", handler { ex =>
      // ref: api.go:2039 — current active notification banners
      ok(ex, Json.arr(notifications.active.map(notifications.json)))
    })

    server.createContext("/api/v1/notifications/live", streamingHandler { ex =>
      // SSE stream (ref: api.go:2044 notificationsSSE): current actives are
      // sent as initial events, then updates as they fire; subscriber cap
      // exceeded → 204 so clients fall back to polling.
      // The long-lived stream runs on its OWN daemon thread — parking it on
      // one of the fixed-pool handler threads would let a handful of SSE
      // clients starve every other endpoint. streamingHandler leaves the
      // exchange OPEN on return (the thread owns closing it).
      notifications.subscribeWithSnapshot() match {
        case None =>
          ex.sendResponseHeaders(204, -1); ex.close()
        case Some((snapshot, q, unsubscribe)) =>
          try {
            ex.getResponseHeaders.set("Content-Type", "text/event-stream")
            ex.getResponseHeaders.set("Cache-Control", "no-cache")
            ex.sendResponseHeaders(200, 0)
          } catch {
            // a reset before headers land must release the subscriber slot
            // or 16 resets pin the endpoint at 204 forever
            case e: Throwable => unsubscribe(); throw e
          }
          val t = new Thread(() => {
            try {
              val out = ex.getResponseBody
              def emit(n: notifications.Notification): Unit = {
                out.write(s"data: ${notifications.json(n)}\n\n".getBytes("UTF-8"))
                out.flush()
              }
              // snapshot is atomic with queue registration, so an add()
              // racing this handler lands in exactly one of the two
              snapshot.foreach(emit)
              // runs until the client disconnects (IOException) or the
              // server stops; the 15s keepalive bounds stop latency
              while (!stopping) {
                val n = q.poll(15, java.util.concurrent.TimeUnit.SECONDS)
                if (n != null) emit(n)
                else { out.write(":keepalive\n\n".getBytes("UTF-8")); out.flush() }
              }
            } catch {
              case _: java.io.IOException => // client went away
              case _: InterruptedException =>
            } finally { unsubscribe(); ex.close() }
          }, "sse-notifications")
          t.setDaemon(true)
          t.start()
      }
    })

    server.createContext("/api/v1/scrape_pools", handler { ex =>
      // ref: api.go:1215 scrapePools — sorted pool (job) names
      ok(ex, Json.obj("scrapePools" -> Json.arr(
        scrapePoolConfigs.keys.toSeq.sorted.map(Json.str))))
    })

    server.createContext("/api/v1/features", handler { ex =>
      // ref: api.go:1888 features — {category: {name: enabled}}; templating
      // functions are registered like the reference's RegisterFeatures
      val tmplFuncs = graft.template.TemplateFuncs
        .funcMap(0L, _ => Nil, java.net.URI.create("")).keys.toSeq.sorted
      ok(ex, Json.obj(
        "templating_functions" -> Json.obj(
          tmplFuncs.map(f => f -> "true"): _*),
        "web" -> Json.obj(
          "agent_mode" -> String.valueOf(agentMode),
          "search_endpoints" -> "true")))
    })

    server.createContext("/api/v1/status/tsdb/blocks", qHandler { ex =>
      // ref: api.go:1961 serveTSDBBlocks — here a "block" is a 2h ingest
      // partition of the store; stats from one driver-scale aggregation
      val rows = store.samples
        .groupBy(((col("t") / graft.streaming.Ingest.blockMs).cast("long") *
          graft.streaming.Ingest.blockMs).as("block"))
        .agg(count(lit(1)).as("numSamples"),
          // canonical entry-order-independent series identity (to_json on
          // the raw map would hash the same series differently per ingest
          // path's map ordering)
          approx_count_distinct(
            xxhash64(array_sort(map_entries(col("labels"))))).as("numSeries"),
          min(col("t")).as("minT"), max(col("t")).as("maxT"))
        .orderBy(col("block")).collect().toSeq
      val blocks = rows.map { r =>
        val blk = r.getLong(0)
        Json.obj(
          "ulid" -> Json.str(f"GRAFT${blk}%019d".take(26)),
          "minTime" -> r.getLong(3).toString,
          "maxTime" -> r.getLong(4).toString,
          "stats" -> Json.obj(
            "numSamples" -> r.getLong(1).toString,
            "numSeries" -> r.getLong(2).toString),
          "compaction" -> Json.obj("level" -> "1", "sources" -> "[]"))
      }
      ok(ex, Json.obj("blocks" -> Json.arr(blocks)))
    })

    server.createContext("/api/v1/targets/relabel_steps", qHandler { ex =>
      // ref: api.go:1396 targetRelabelSteps — per-rule output + keep flag
      // for debugging a pool's relabel chain against a candidate label set
      val p = params(ex)
      val pool = p.get("scrapePool").flatMap(_.headOption).getOrElse("")
      val labelsJson = p.get("labels").flatMap(_.headOption).getOrElse("")
      val parsed: Either[String, Map[String, String]] =
        if (pool.isEmpty) Left("no scrapePool parameter provided")
        else if (labelsJson.isEmpty) Left("no labels parameter provided")
        else try JsonLite.parse(labelsJson) match {
          case m: Map[_, _] => Right(m.asInstanceOf[Map[String, Any]]
            .map { case (k, v) => k -> String.valueOf(v) })
          case _ => Left("error parsing labels: labels must be an object")
        } catch { case e: Exception => Left(s"error parsing labels: ${e.getMessage}") }
      parsed match {
        case Left(msg) => err(ex, 400, "bad_data", msg)
        case Right(lbls) => scrapePoolConfigs.get(pool) match {
          case None => err(ex, 400, "bad_data", s"error retrieving scrape config: unknown pool $pool")
          case Some(rules) =>
            var cur = lbls
            var keep = true
            val steps = rules.map { rule =>
              if (keep) graft.streaming.Relabel.applyToMap(cur, Seq(rule)) match {
                case Some(next) => cur = next
                case None => keep = false
              }
              Json.obj(
                "rule" -> Json.obj(
                  "action" -> Json.str(rule.action.toString.toLowerCase),
                  "source_labels" -> Json.arr(rule.sourceLabels.map(Json.str)),
                  "separator" -> Json.str(rule.separator),
                  "regex" -> Json.str(rule.regex),
                  "target_label" -> Json.str(rule.targetLabel),
                  "replacement" -> Json.str(rule.replacement),
                  "modulus" -> rule.modulus.toString),
                "output" -> Json.metric(cur),
                "keep" -> String.valueOf(keep))
            }
            ok(ex, Json.obj("steps" -> Json.arr(steps)))
        }
      }
    })

    // ---- /api/v1/search/* — NDJSON fuzzy autocomplete endpoints
    // (ref: web/api/v1/search.go; batches, then a has_more trailer)
    def searchRoute(path: String, candidatesOf: (Map[String, List[String]], Search.Params) => Seq[String],
        renderKey: String): Unit =
      server.createContext(path, handler { ex =>
        val p = params(ex)
        Search.parseParams(p.map { case (k, v) => k -> v.toSeq }) match {
          case Left(msg) => err(ex, 400, "bad_data", msg)
          case Right(sp) =>
            try {
              // search defaults: last hour → now (ref parseSearchParams)
              val p2 = p
                .updated("start", p.getOrElse("start", List(((nowMs() - 3600000L) / 1000.0).toString)))
                .updated("end", p.getOrElse("end", List((nowMs() / 1000.0).toString)))
              val candidates = candidatesOf(p2, sp)
              val (results, hasMore) = Search.run(candidates, sp)
              val sb = new StringBuilder
              results.grouped(sp.batchSize).foreach { batch =>
                val items = batch.map { case (v, s) =>
                  Json.obj((Seq(renderKey -> Json.str(v)) ++
                    (if (sp.includeScore) Seq("score" -> Json.goFloat(s)) else Nil)): _*)
                }
                sb.append(Json.obj("results" -> Json.arr(items))).append('\n')
              }
              if (results.isEmpty) sb.append(Json.obj("results" -> "[]")).append('\n')
              sb.append(Json.obj("status" -> Json.str("success"),
                "has_more" -> String.valueOf(hasMore))).append('\n')
              respond(ex, 200, sb.toString, "application/x-ndjson")
            } catch {
              case e: ParseError => err(ex, 400, "bad_data", e.getMessage)
            }
        }
      })

    searchRoute("/api/v1/search/metric_names",
      (p, _) => seriesSet(p)
        .select(element_at(col("labels"), "__name__").as("n"))
        .filter(col("n").isNotNull).distinct().collect().toSeq.map(_.getString(0)),
      "name")
    searchRoute("/api/v1/search/label_names",
      (p, _) => seriesSet(p)
        .select(explode(map_keys(col("labels"))).as("n"))
        .distinct().collect().toSeq.map(_.getString(0)),
      "name")
    searchRoute("/api/v1/search/label_values",
      (p, _) => {
        val label = p.get("label").flatMap(_.headOption).getOrElse(
          throw new ParseError("missing required parameter \"label\"", 0))
        seriesSet(p).select(element_at(col("labels"), label).as("v"))
          .filter(col("v").isNotNull).distinct().collect().toSeq.map(_.getString(0))
      },
      "value")

    server.createContext("/api/v1/status/walreplay", handler { ex =>
      // ref: api.go:2025 serveWALReplayStatus / tsdb/head.go:699 — recovery
      // here is Structured Streaming checkpoint restore, which completes
      // before serving starts, so the analog is an always-complete replay
      ok(ex, Json.obj("min" -> "0", "max" -> "0", "current" -> "0"))
    })

    server.createContext("/api/v1/status/config", handler { ex =>
      ok(ex, Json.obj("yaml" -> Json.str(configYaml)))
    })

    server.createContext("/api/v1/status/runtimeinfo", handler { ex =>
      // full RuntimeInfo field set (ref: api.go:178) — Go-runtime-specific
      // figures map to their JVM analogs (goroutineCount → live threads,
      // GOMAXPROCS → available processors); GC knob strings render empty
      ok(ex, Json.obj(
        "startTime" -> Json.str(java.time.Instant.ofEpochMilli(startedMs).toString),
        "CWD" -> Json.str(System.getProperty("user.dir", "")),
        "hostname" -> Json.str(
          try java.net.InetAddress.getLocalHost.getHostName
          catch { case _: Exception => "" }),
        "serverTime" -> Json.str(java.time.Instant.ofEpochMilli(nowMs()).toString),
        "reloadConfigSuccess" -> (!notifications.active.exists(
          _.text == Notifications.ConfigurationUnsuccessful)).toString,
        "lastConfigTime" -> Json.str(
          java.time.Instant.ofEpochMilli(startedMs).toString),
        "corruptionCount" -> "0",
        "goroutineCount" -> Thread.activeCount().toString,
        "GOMAXPROCS" -> Runtime.getRuntime.availableProcessors.toString,
        "GOMEMLIMIT" -> Runtime.getRuntime.maxMemory.toString,
        "GOGC" -> Json.str(""),
        "GODEBUG" -> Json.str(""),
        "storageRetention" -> Json.str("")))
    })

    // TSDB head stats (ref: api.go serveTSDBStatus) — each stat is one
    // distributed aggregation over the store; only top-10 rows are collected
    server.createContext("/api/v1/status/tsdb", qHandler { ex =>
      // ref: api.go serveTSDBStatus — limit= (default 10, 1..10000) bounds
      // each statistic; all four statistics derive from ONE series-level
      // distinct + one pair-level aggregation (series-cardinality shuffles)
      val limit = params(ex).get("limit").flatMap(_.headOption) match {
        case None => 10
        case Some(str) =>
          val n = try str.toInt catch {
            case _: NumberFormatException =>
              throw new ParseError("limit must be a positive number", 0)
          }
          if (n < 1) throw new ParseError("limit must be a positive number", 0)
          if (n > 10000) throw new ParseError("limit must not exceed 10000", 0)
          n
      }
      val s = store.samples
      val sl = s.select(array_sort(map_entries(col("labels"))).as("sl"))
        .distinct().cache()
      try {
        val numSeries = sl.count()
        // one row per (name, value) with its series count
        val pairs = sl.select(explode(col("sl")).as("e"))
          .groupBy(col("e.key").as("k"), col("e.value").as("v"))
          .agg(count(lit(1)).as("c")).cache()
        try {
          val top = (df: DataFrame) => Json.arr(df.limit(limit).collect().toSeq
            .map(r => Json.obj(
              "name" -> Json.str(Option(r.getString(0)).getOrElse("")),
              "value" -> r.getLong(1).toString)))
          val byMetric = top(pairs.filter(col("k") === "__name__")
            .orderBy(col("c").desc, col("v")).select(col("v"), col("c")))
          val valueCountByName = top(pairs.groupBy(col("k")).count()
            .orderBy(col("count").desc, col("k")))
          // bytes the label values of a name occupy across its series
          // (ref: PostingsStats labelValueLength — len(value)×postings)
          val memByName = top(pairs.groupBy(col("k"))
            .agg(sum(length(col("v")).cast("long") * col("c")).as("b"))
            .orderBy(col("b").desc, col("k")))
          val byPair = top(pairs
            .select(concat(col("k"), lit("="), col("v")).as("p"), col("c"))
            .orderBy(col("c").desc, col("p")))
          val numLabelPairs = pairs.count()
          val tRange = s.agg(min(col("t")), max(col("t")), count(lit(1)))
            .collect().head
          ok(ex, Json.obj(
            "headStats" -> Json.obj(
              "numSeries" -> numSeries.toString,
              "numLabelPairs" -> numLabelPairs.toString,
              "chunkCount" -> (if (tRange.isNullAt(2)) "0" else tRange.getLong(2).toString),
              "minTime" -> (if (tRange.isNullAt(0)) "0" else tRange.getLong(0).toString),
              "maxTime" -> (if (tRange.isNullAt(1)) "0" else tRange.getLong(1).toString)),
            "seriesCountByMetricName" -> byMetric,
            "labelValueCountByLabelName" -> valueCountByName,
            "memoryInBytesByLabelName" -> memByName,
            "seriesCountByLabelValuePair" -> byPair))
        } finally pairs.unpersist()
      } finally sl.unpersist()
    })

    // rule registry + live alerts (ref: api.go rules/alerts handlers) —
    // the host wires evaluated state in via `ruleGroups`/`alertState`
    server.createContext("/api/v1/rules", qHandler { ex =>
      // ref: api.go rules handler — type=, rule_name[]/rule_group[]/file[]
      // sets, exclude_alerts, match[] label filters, group_limit +
      // group_next_token pagination (token = sha256(file;name))
      val p = params(ex)
      val typeFilter = p.get("type").flatMap(_.headOption).getOrElse("")
      if (typeFilter.nonEmpty && typeFilter != "alert" && typeFilter != "record")
        throw new IllegalArgumentException(
          s"not supported value $typeFilter of parameter type")
      val rnSet = p.getOrElse("rule_name[]", Nil).toSet
      val rgSet = p.getOrElse("rule_group[]", Nil).toSet
      val fSet = p.getOrElse("file[]", Nil).toSet
      val excludeAlerts = p.get("exclude_alerts").flatMap(_.headOption)
        .map(_.toLowerCase) match {
        case None | Some("") => false
        case Some("true" | "1" | "t") => true
        case Some("false" | "0" | "f") => false
        case Some(bad) => throw new IllegalArgumentException(
          s"error converting exclude_alerts: $bad")
      }
      val matcherSets = p.getOrElse("match[]", Nil).map(parseMatch)
      def labelsMatch(lbls: Map[String, String]): Boolean =
        matcherSets.isEmpty || matcherSets.exists(_.forall { m =>
          val v = lbls.getOrElse(m.name, "")
          m.op match {
            case MatchOp.Eq => v == m.value
            case MatchOp.Neq => v != m.value
            case MatchOp.Re => v.matches("(?:" + m.value + ")")
            case MatchOp.NotRe => !v.matches("(?:" + m.value + ")")
          }
        })
      val groupLimit = p.get("group_limit").flatMap(_.headOption) match {
        case None => -1
        case Some(s) =>
          val n = try s.toInt catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"group_limit needs to be a valid number: $s")
          }
          if (n <= 0) throw new IllegalArgumentException(
            "group_limit needs to be greater than 0")
          n
      }
      val nextTokenParam = p.get("group_next_token").flatMap(_.headOption)
        .getOrElse("")
      if (nextTokenParam.nonEmpty && groupLimit < 0)
        throw new IllegalArgumentException(
          "group_limit needs to be present in order to paginate over the groups")
      def tokenOf(file: String, group: String): String = {
        val d = java.security.MessageDigest.getInstance("SHA-256")
        d.digest((file + ";" + group).getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString
      }

      val rendered = scala.collection.mutable.ArrayBuffer[String]()
      var nextToken = ""
      var foundToken = nextTokenParam.isEmpty
      val it = ruleGroups.iterator
      while (it.hasNext && nextToken.isEmpty) {
        val g = it.next()
        val skipToToken = !foundToken && tokenOf("", g.name) != nextTokenParam
        if (!skipToToken) {
          foundToken = true
          val groupKept =
            (rgSet.isEmpty || rgSet.contains(g.name)) &&
            (fSet.isEmpty || fSet.contains(""))
          if (groupKept) {
            val (lastMs, durS) = ruleEvalStats.getOrElse(g.name, (0L, 0.0))
            val evalFields = Seq(
              "evaluationTime" -> durS.toString,
              "lastEvaluation" -> Json.str(
                java.time.Instant.ofEpochMilli(lastMs).toString))
            // health/lastError per rule (ref: rules.RuleHealth — ok/err;
            // lastError is omitempty)
            def healthFields(rule: String): Seq[(String, String)] =
              ruleErrors.get((g.name, rule)) match {
                case Some(err) => Seq("health" -> Json.str("err"),
                  "lastError" -> Json.str(err))
                case None => Seq("health" -> Json.str("ok"))
              }
            val rec =
              if (typeFilter == "alert") Nil
              else g.recording
                .filter(r => (rnSet.isEmpty || rnSet.contains(r.record)) &&
                  labelsMatch(r.labels))
                .map(r => Json.obj(Seq(
                  "type" -> Json.str("recording"), "name" -> Json.str(r.record),
                  "query" -> Json.str(r.expr), "labels" -> Json.metric(r.labels)) ++
                  healthFields(r.record) ++ evalFields: _*))
            val alr =
              if (typeFilter == "record") Nil
              else g.alerting
                .filter(a => (rnSet.isEmpty || rnSet.contains(a.alert)) &&
                  labelsMatch(a.labels))
                .map { a =>
                  val alerts = activeAlertsOf(g.name, a)
                  Json.obj(Seq(
                    "type" -> Json.str("alerting"), "name" -> Json.str(a.alert),
                    "query" -> Json.str(a.expr),
                    "duration" -> (a.forMs / 1000.0).toString,
                    "keepFiringFor" -> (a.keepFiringForMs / 1000.0).toString,
                    "labels" -> Json.metric(a.labels),
                    "annotations" -> Json.metric(a.annotations),
                    "state" -> Json.str(
                      if (alerts.exists(_._2 == "firing")) "firing"
                      else if (alerts.nonEmpty) "pending" else "inactive"),
                    "alerts" ->
                      (if (excludeAlerts) "[]" else Json.arr(alerts.map(_._1)))) ++
                    healthFields(a.alert) ++ evalFields: _*)
                }
            // a group whose rules all filtered away is skipped (ref comment)
            if ((rec ++ alr).nonEmpty) {
              if (groupLimit > 0 && rendered.size == groupLimit) {
                nextToken = tokenOf("", g.name)
              } else rendered += Json.obj(
                "name" -> Json.str(g.name), "file" -> Json.str(""),
                "rules" -> Json.arr(rec ++ alr),
                "interval" -> (g.intervalMs / 1000.0).toString,
                "limit" -> g.limit.toString,
                "evaluationTime" -> durS.toString,
                "lastEvaluation" -> Json.str(
                  java.time.Instant.ofEpochMilli(lastMs).toString))
            }
          }
        }
      }
      if (!foundToken)
        throw new IllegalArgumentException(
          s"invalid group_next_token '$nextTokenParam'. were rule groups changed?")
      val fields = Seq("groups" -> Json.arr(rendered)) ++
        (if (nextToken.nonEmpty) Seq("groupNextToken" -> Json.str(nextToken))
         else Nil)
      ok(ex, Json.obj(fields: _*))
    })

    server.createContext("/api/v1/alerts", qHandler { ex =>
      val all = ruleGroups.flatMap(g => g.alerting.flatMap(a => activeAlertsOf(g.name, a)))
      ok(ex, Json.obj("alerts" -> Json.arr(all.map(_._1))))
    })

    server.createContext("/api/v1/targets", handler { ex =>
      // ref: api.go targets handler — state=active|dropped|any filter,
      // scrapePool filter, dropped targets with their discovered labels
      // plus per-pool dropped counts
      val p = params(ex)
      val state = p.get("state").flatMap(_.headOption)
        .map(_.toLowerCase).getOrElse("")
      val poolFilter = p.get("scrapePool").flatMap(_.headOption)
        .filter(_.nonEmpty)
      val showActive = state.isEmpty || state == "any" || state == "active"
      val showDropped = state.isEmpty || state == "any" || state == "dropped"
      val active =
        if (!showActive) Nil
        else {
          val kept = scrapeTargets.filter(t => poolFilter.forall(_ == t.job))
          // last-scrape state from the report series — one driver-scale
          // aggregation keyed (job, instance, name) over up /
          // scrape_duration_seconds (ref: Target.LastScrape/LastError/
          // Health come from the scrape loop's report)
          val rep: Map[(String, String, String), (Long, Double)] =
            if (kept.isEmpty) Map.empty
            else store.samples
              .filter(element_at(col("labels"), "__name__")
                .isin("up", "scrape_duration_seconds") && !col("stale"))
              .groupBy(
                element_at(col("labels"), "job").as("j"),
                element_at(col("labels"), "instance").as("i"),
                element_at(col("labels"), "__name__").as("n"))
              .agg(max_by(struct(col("t"), col("v")), col("t")).as("p"))
              .collect().map(r => (r.getString(0), r.getString(1),
                r.getString(2)) -> (r.getStruct(3).getLong(0),
                r.getStruct(3).getDouble(1))).toMap
          kept.sortBy(_.job).map { t =>
            val up = rep.get((t.job, t.instance, "up"))
            val dur = rep.get((t.job, t.instance, "scrape_duration_seconds"))
            val (intervalMs, timeoutMs) =
              scrapePoolOptions.getOrElse(t.job, (0L, 0L))
            Json.obj(
              "discoveredLabels" -> Json.metric(Map("__address__" -> t.url)),
              "labels" -> Json.metric(
                Map("instance" -> t.instance, "job" -> t.job) ++ t.extraLabels),
              "scrapePool" -> Json.str(t.job),
              "scrapeUrl" -> Json.str(t.url),
              "globalUrl" -> Json.str(t.url),
              "lastError" -> Json.str(
                if (up.exists(_._2 == 0.0)) "scrape failed" else ""),
              "lastScrape" -> Json.str(java.time.Instant.ofEpochMilli(
                up.map(_._1).getOrElse(0L)).toString),
              "lastScrapeDuration" -> dur.map(_._2).getOrElse(0.0).toString,
              "health" -> Json.str(up match {
                case Some((_, v)) => if (v > 0.0) "up" else "down"
                case None => "unknown"
              }),
              "scrapeInterval" -> Json.str(
                graft.streaming.CheckSd.goDuration(intervalMs)),
              "scrapeTimeout" -> Json.str(
                graft.streaming.CheckSd.goDuration(timeoutMs)))
          }
        }
      val dropped =
        if (!showDropped) Nil
        else droppedTargets
          .filter { case (pool, _) => poolFilter.forall(_ == pool) }
          .sortBy(_._1).map { case (pool, lbls) =>
            Json.obj("discoveredLabels" -> Json.metric(lbls),
              "scrapePool" -> Json.str(pool))
          }
      val fields = Seq("activeTargets" -> Json.arr(active),
        "droppedTargets" -> Json.arr(dropped)) ++
        (if (showDropped)
          Seq("droppedTargetCounts" -> Json.obj(
            droppedTargets.groupBy(_._1).toSeq.sortBy(_._1)
              .map { case (pool, ds) => pool -> ds.size.toString }: _*))
         else Nil)
      ok(ex, Json.obj(fields: _*))
    })

    server.createContext("/api/v1/targets/metadata", handler { ex =>
      // ref: web/api/v1/api.go targetMetadata — per-target family metadata,
      // filtered by match_target label matchers and an optional metric name
      val p = params(ex)
      val matchers = p.get("match_target").flatMap(_.headOption)
        .map(parseMatch).getOrElse(Nil)
      val metricFilter = p.get("metric").flatMap(_.headOption)
      def matches(lbls: Map[String, String]): Boolean = matchers.forall { m =>
        val v = lbls.getOrElse(m.name, "")
        m.op match {
          case MatchOp.Eq => v == m.value
          case MatchOp.Neq => v != m.value
          case MatchOp.Re => v.matches("(?:" + m.value + ")")
          case MatchOp.NotRe => !v.matches("(?:" + m.value + ")")
        }
      }
      val meta = store.metadata
      val items = for {
        t <- scrapeTargets
        lbls = Map("instance" -> t.instance, "job" -> t.job) ++ t.extraLabels
        if matches(lbls)
        (fam, (typ, unit, help)) <- meta.toSeq.sortBy(_._1)
        if metricFilter.forall(_ == fam)
      } yield Json.obj(
        "target" -> Json.metric(lbls),
        "metric" -> Json.str(fam),
        "type" -> Json.str(if (typ.isEmpty) "unknown" else typ),
        "help" -> Json.str(help),
        "unit" -> Json.str(unit))
      val (kept, _) = applyLimit(items, p)
      ok(ex, Json.arr(kept))
    })

    server.createContext("/api/v1/alertmanagers", qHandler { ex =>
      // ref: web/api/v1/api.go:1449 alertmanagers — live discovery state of
      // the notifier fan-out: SD-resolved + relabel-kept push URLs, plus the
      // relabel-dropped set (the server wires alertmanagerDiscovery to the
      // SD manager; the default serves the static URL list)
      val (act, dropped) = alertmanagerDiscovery()
      ok(ex, Json.obj(
        "activeAlertmanagers" -> Json.arr(act.map(u =>
          Json.obj("url" -> Json.str(u)))),
        "droppedAlertmanagers" -> Json.arr(dropped.map(u =>
          Json.obj("url" -> Json.str(u))))))
    })

    server.createContext("/api/v1/otlp/v1/metrics", handler { ex =>
      // OTLP/HTTP metrics ingest (ref: web/api/v1/api.go:484); delta
      // temporality converts to cumulative on the receive edge
      val gz = Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
        .exists(_.contains("gzip"))
      val dec = Otlp.decode(ex.getRequestBody.readAllBytes(), gz, Some(otlpDelta),
        otlpCfg)
      store.appendRows(dec.samples.map(_.toRow))
      if (dec.metadata.nonEmpty) store.mergeMetadata(dec.metadata)
      if (dec.exemplars.nonEmpty) {
        // exemplar rows: (series labels, exemplar{labels, v, t}) — the same
        // shape the OpenMetrics ingest feeds /api/v1/query_exemplars
        val exRows = dec.exemplars.map { case (sl, el, t, v) =>
          Row(sl, Row(el, v, t))
        }
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("labels",
            org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType,
              org.apache.spark.sql.types.StringType, valueContainsNull = false)),
          org.apache.spark.sql.types.StructField("exemplar",
            graft.streaming.OpenMetrics.exemplarType)))
        store.appendExemplars(spark.createDataFrame(
          spark.sparkContext.parallelize(exRows, 1), schema))
      }
      // empty ExportMetricsServiceResponse
      ex.getResponseHeaders.set("Content-Type", "application/x-protobuf")
      ex.sendResponseHeaders(200, -1)
    })

    server.createContext("/api/v1/read", handler { ex =>
      // remote-read server (ref: storage/remote/read_handler.go): response
      // type negotiated from accepted_response_types — the FIRST supported
      // type wins, an empty list means SAMPLES (:134 negotiateResponseType).
      // Float samples only — matching decodeV1's wire surface.
      val (queries, accepted) =
        RemoteRead.decodeRequestFull(ex.getRequestBody.readAllBytes())
      val respType = accepted.find(t =>
        t == RemoteRead.RespSamples || t == RemoteRead.RespStreamedXorChunks)
        .getOrElse(if (accepted.isEmpty) RemoteRead.RespSamples else -1)
      if (respType == -1)
        err(ex, 400, "bad_data", "none of the accepted response types are supported")
      else {
        def seriesDF(q: RemoteRead.Query): DataFrame =
          matcherFilter(
              store.samples.filter(col("t") >= q.startMs && col("t") <= q.endMs &&
                !col("stale") && col("h").isNull), q.matchers)
            .groupBy(xxhash64(array_sort(map_entries(col("labels")))).as("__sg"))
            .agg(first(col("labels")).as("labels"),
              sort_array(collect_list(struct(col("t"), col("v")))).as("pts"))
            .select(col("labels"), col("pts"))
        def seriesOfRow(r: Row): RemoteRead.Series =
          RemoteRead.Series(labelsOf(r, 0),
            r.getSeq[Row](1).map(p => (p.getLong(0), p.getDouble(1))))
        if (respType == RemoteRead.RespStreamedXorChunks) {
          // streamed chunked frames — the large-read path (ref :164
          // streamChunkedReadResponses writes per SERIES; framing chunked.go
          // uvarint + CRC32C). One frame per series; chunks cut at the
          // head's 120-sample layout (codec.go StreamChunkedReadResponses).
          // toLocalIterator fetches ONE PARTITION of the grouped result at a
          // time, so driver memory is O(partition), not O(matched series ×
          // samples) — a full .collect() here would be exactly the OOM the
          // streamed response type exists to avoid.
          ex.getResponseHeaders.set("Content-Type",
            "application/x-streamed-protobuf; proto=prometheus.ChunkedReadResponse")
          ex.sendResponseHeaders(200, 0)
          val os = ex.getResponseBody
          queries.zipWithIndex.foreach { case (q, qi) =>
            val it = seriesDF(q).toLocalIterator()
            while (it.hasNext) {
              val s = seriesOfRow(it.next())
              os.write(RemoteRead.frame(RemoteRead.encodeChunkedBody(qi.toLong,
                Seq((s.labels, RemoteRead.toChunks(s.samples))))))
            }
          }
          os.close()
        } else {
          // SAMPLES: the protocol is one snappy protobuf body — inherently
          // materialized; clients wanting bounded memory negotiate streamed.
          // The materialization is still BOUNDED: accumulate off a partition
          // iterator and fail at the sample cap (ref: config
          // remote_read_sample_limit, default 5e7) with 422 instead of
          // letting a 100×-scale read OOM the driver.
          val cap = if (limits.maxSamples > 0) limits.maxSamples else 50000000L
          var total = 0L
          val body = RemoteRead.encodeResponse(
            queries.map { q =>
              val buf = Seq.newBuilder[RemoteRead.Series]
              val it = seriesDF(q).toLocalIterator()
              while (it.hasNext) {
                val s = seriesOfRow(it.next())
                total += s.samples.length
                if (total > cap)
                  throw new TooManySamplesError(
                    s"remote read would load more than $cap samples; " +
                    "use the STREAMED_XOR_CHUNKS response type")
                buf += s
              }
              buf.result()
            })
          ex.getResponseHeaders.set("Content-Type", "application/x-protobuf")
          ex.getResponseHeaders.set("Content-Encoding", "snappy")
          ex.sendResponseHeaders(200, body.length)
          val os = ex.getResponseBody; os.write(body); os.close()
        }
      }
    })

    server.createContext("/api/v1/metadata", handler { ex =>
      // ref: web/api/v1/api.go metricMetadata — {metric: [{type,help,unit}]}
      // with metric= filter, limit= family cap, limit_per_metric= entry cap
      val p = params(ex)
      def intParam(k: String): Int = p.get(k).flatMap(_.headOption) match {
        case Some(s) => try s.toInt catch {
          case _: NumberFormatException =>
            throw new ParseError(s"$k must be a number", 0)
        }
        case None => -1
      }
      val limit = intParam("limit")
      val limitPerMetric = intParam("limit_per_metric")
      val metricFilter = p.get("metric").flatMap(_.headOption).filter(_.nonEmpty)
      val all = store.metadata.toSeq.sortBy(_._1)
        .filter { case (fam, _) => metricFilter.forall(_ == fam) }
      val limited = if (limit >= 0) all.take(limit) else all
      val items = limited.map { case (fam, (t, u, h)) =>
        val entries = Seq(Json.obj(
          "type" -> Json.str(if (t.isEmpty) "unknown" else t),
          "help" -> Json.str(h), "unit" -> Json.str(u)))
        // the store keeps one entry per family; the cap still applies
        // (the reference gates on limitPerMetric > 0 — 0/negative = no cap)
        fam -> Json.arr(
          if (limitPerMetric > 0) entries.take(limitPerMetric) else entries)
      }
      ok(ex, Json.obj(items: _*))
    })

    server.createContext("/api/v1/query_exemplars", qHandler { ex =>
      val p = params(ex)
      val q = p.get("query").flatMap(_.headOption)
        .getOrElse(throw new IllegalArgumentException("missing parameter query"))
      val start = p.get("start").flatMap(_.headOption).map(parseTimeMs).getOrElse(Long.MinValue / 2)
      val end = p.get("end").flatMap(_.headOption).map(parseTimeMs).getOrElse(Long.MaxValue / 2)
      val data = store.exemplars match {
        case None => Nil
        case Some(df) =>
          matcherFilter(df.filter(col("exemplar.t") >= start && col("exemplar.t") <= end),
              parseMatch(q))
            .groupBy(xxhash64(array_sort(map_entries(col("labels")))).as("__sg"))
            // sort_array can't order structs containing MAPs — sort driver-side
            .agg(first(col("labels")).as("labels"),
              collect_list(struct(col("exemplar.t").as("t"),
                col("exemplar.v").as("v"), col("exemplar.labels").as("el"))).as("exs"))
            .select(col("labels"), col("exs")).collect().toSeq
      }
      val items = data.sortBy(r => labelsOf(r, 0).toSeq.sorted.mkString(" ")).map { r =>
        Json.obj(
          "seriesLabels" -> Json.metric(labelsOf(r, 0)),
          "exemplars" -> Json.arr(r.getSeq[Row](1).sortBy(_.getLong(0)).map { e =>
            Json.obj("labels" -> Json.metric(e.getMap[String, String](2).toMap),
              "value" -> Json.str(Json.goFloat(e.getDouble(1))),
              "timestamp" -> Json.ts(e.getLong(0)))
          }))
      }
      ok(ex, Json.arr(items))
    })
  }
}
