package graft.streaming

import graft.promql.FHist
import graft.web.{ProtoExposition, SampleStore}
import graft.web.RemoteWrite.{Meta, Sample}
import org.apache.spark.sql.{Row, SparkSession}

/** Pull-model scrape manager: HTTP-poll a target set on an interval, parse
  * the exposition body (Prometheus text, OpenMetrics or protobuf) into one
  * batch, and append it through one path that attaches `instance`/`job`,
  * relabels, enforces the limits, stale-marks, synthesizes the per-scrape
  * report series (`up`, `scrape_duration_seconds`,
  * `scrape_samples_scraped`, ...) and stores the micro-batch (ref:
  * scrape/scrape.go:1264 scrapeLoop.run, report series :1788 report()).
  *
  * The poller is a driver-side edge by design — the same shape as the
  * reference's scrape manager (one process polls its shard of targets). At
  * 100 TB scale the target set shards across many ingest bridges and the
  * Spark side only sees their appended batches. A scrape's parse,
  * relabeling, NHCB conversion and append all run on the driver, with no
  * Spark job, like the reference's appender inside the scrape loop.
  */
final class ScrapeManager(
    spark: SparkSession,
    store: SampleStore,
    targets: Seq[ScrapeManager.ScrapeTarget],
    intervalMs: Long = 15000L,
    metricRelabel: Seq[Relabel.Rule] = Nil,
    honorTimestamps: Boolean = true,
    // track_timestamps_staleness (ref #13060, default false): explicitly
    // timestamped series also receive staleness markers when they
    // disappear; without it only implicit-ts series are tracked
    trackTimestampsStaleness: Boolean = false,
    nowMs: () => Long = () => System.currentTimeMillis(),
    limits: ScrapeManager.ScrapeLimits = ScrapeManager.ScrapeLimits(),
    // scrape_timeout (ref: ScrapeConfig.ScrapeTimeout): a hung exporter
    // reports up=0 after timeoutMs instead of wedging the pool
    timeoutMs: Long = 10000L,
    // scrape_failure_log_file (ref ScrapeConfig.ScrapeFailureLogFile):
    // one JSON line per failed scrape, slog-shaped fields
    failureLogFile: Option[String] = None,
    // negotiation order (ref: ScrapeConfig.ScrapeProtocols; empty = the
    // reference's DefaultScrapeProtocols) and the parser used when the
    // response carries no recognizable Content-Type
    scrapeProtocols: Seq[String] = Nil,
    fallbackProtocol: String = "",
    alwaysClassicHist: Boolean = false,
    enableCompression: Boolean = true,
    // convert scraped classic histograms to NHCB natives (ref: ScrapeConfig
    // ConvertClassicHistogramsToNHCB). The classic series stay alongside:
    // without TYPE metadata at this seam a name-suffix heuristic cannot
    // safely suppress e.g. a counter named foo_count, so the output is a
    // superset of the reference's (which drops classic unless
    // always_scrape_classic_histograms)
    convertNhcb: Boolean = false,
    // created-timestamp-zero-ingestion feature flag (ref: scrape.go
    // enableSTZeroIngestion): a sample's start timestamp (an OpenMetrics
    // `_created` line, consumed instead of ingested, or a protobuf
    // created_timestamp) injects a synthetic zero at that time
    stZeroIngestion: Boolean = false,
    // --enable-feature=st-synthesis (ref: scrape.go Options.SynthesizeST,
    // reference #18279): synthesize a start timestamp for cumulative
    // scraped series that carry none — delta/OTel-backed consumers need an
    // ST on every cumulative point. Per-series semantics follow the
    // reference's stCache (scrape/st_synthesis.go): the FIRST sample
    // establishes the anchor (st = its scrape ts) and is NOT appended;
    // later samples append rebased (v − anchor value) with that st; a
    // counter reset re-anchors at 0 with st = t−1 ("least risky guess").
    // Applies to every format (samples with an inline/parsed created
    // timestamp keep it and never synthesize):
    // classic histogram _bucket/_count/_sum series each synthesize
    // independently like the reference's float path, and proto-scraped
    // native histograms synthesize via FHist detectReset/sub
    // (ref synthesizeFloatHistogram). Gauge histograms pass through.
    stSynthesis: Boolean = false,
    // --enable-feature=extra-scrape-metrics (ref: scrape.go
    // reportExtraMetrics): scrape_timeout_seconds / scrape_sample_limit /
    // scrape_body_size_bytes report series
    extraScrapeMetrics: Boolean = false,
    // the pool's HTTP client config (ref: ScrapeConfig.HTTPClientConfig).
    // follow_redirects is honoured by a manual loop (≤10 hops, no
    // https→http downgrade) because the reference's security semantics
    // need per-hop control: credentials are NOT forwarded when a redirect
    // leaves the original host (ref changelog #18949 / CVE-2025-4673 via
    // prometheus/common v0.69.0) — so the client itself never follows
    clientCfg: Config.HttpClientCfg = Config.HttpClientCfg()) {

  private val http = new graft.web.OutboundHttp.Sender(
    clientCfg.copy(followRedirects = false))

  // per-target post-relabel series cache from the LAST successful scrape:
  // sig -> (labels, had-explicit-timestamp) — feeds scrape_series_added
  // AND the disappeared-series staleness markers (ref: the per-target
  // scrape cache, scrape.go:1575 staleness append)
  private val seriesSeen = scala.collection.concurrent.TrieMap[
    String, Map[Long, (Map[String, String], Boolean)]]()

  /** advance the per-target series cache; returns (scrape_series_added,
    * labels owed a staleness marker this cycle). A series present last
    * scrape and absent now gets a marker (ref scrape.go:1575); explicitly
    * timestamped series only under track_timestamps_staleness (#13060). A
    * FAILED scrape stales and clears the WHOLE cache (the reference
    * appends an empty report through the same path), so recovery
    * re-counts every series as added. */
  private def staleDiff(tgtKey: String,
      nowMap: Map[Long, (Map[String, String], Boolean)], effOk: Boolean)
      : (Long, Seq[Map[String, String]]) = {
    val prev = seriesSeen.getOrElse(tgtKey, Map.empty)
    def markable(m: Iterable[(Map[String, String], Boolean)]) =
      m.iterator.collect {
        case (l, explicit) if !explicit || trackTimestampsStaleness => l
      }.toSeq
    if (effOk) {
      val added = nowMap.keysIterator.count(!prev.contains(_)).toLong
      seriesSeen.put(tgtKey, nowMap)
      (added, markable(prev.collect {
        case (sig, v) if !nowMap.contains(sig) => v }))
    } else {
      seriesSeen.remove(tgtKey)
      (0L, markable(prev.values))
    }
  }
  private def seriesKey(job: String, url: String): String = job + "\u0000" + url
  // 64-bit FNV-1a over the sorted label string: a 32-bit String.hashCode
  // collides at realistic per-target series counts (~2^16 birthday bound)
  // and would undercount scrape_series_added by conflating distinct series
  private def series64(str: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < str.length) { h ^= str.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  // ------------------------------------------------------------ st-synthesis
  // per-target per-series synthesis anchors (ref scrape/st_synthesis.go
  // stCache: st + floatSynthesis{prev, starting}, histogramSynthesis for
  // native histograms, where startingH == null marks the post-reset state
  // that adjusts nothing); state lives only while the series keeps
  // appearing — a series absent from a scrape loses its anchor (the
  // reference clears stCache through staleness tracking), and departed
  // targets drop their whole map alongside seriesSeen
  private final class Anchor(var st: Long, var prev: Double, var starting: Double,
      var prevH: FHist, var startingH: FHist)
  private val anchors = scala.collection.concurrent.TrieMap[
    String, scala.collection.mutable.HashMap[Long, Anchor]]()

  /** is `name` a cumulative member of a typed family? (ref
    * checkAndSynthesizeStartTime: counter + histogram families wholesale,
    * summary only its _count/_sum — quantile gauges keep their values) */
  private def stSynthEligible(name: String, famTypes: Map[String, String]): Boolean = {
    def t(base: String) = famTypes.getOrElse(base, "")
    if (t(name) == "counter") true // bare text counter / OM base name
    else if (name.endsWith("_total") && t(name.stripSuffix("_total")) == "counter") true
    else if (name.endsWith("_bucket") && t(name.stripSuffix("_bucket")) == "histogram") true
    else if (name.endsWith("_count") || name.endsWith("_sum")) {
      val base = name.substring(0, name.lastIndexOf('_'))
      val ft = t(base)
      ft == "histogram" || ft == "summary"
    } else false
  }

  /** rewrite one scrape's samples under st-synthesis: only samples with NO
    * explicit/created start timestamp (stt == 0) of a cumulative family are
    * touched. The first sample anchors (st = its ts) and is dropped; later
    * samples append rebased (v − anchor, or fh − anchor Compact'd with the
    * incoming reset hint) with that st; a reset re-anchors at 0 (natives:
    * nothing subtracted) with st = t−1. Gauge histograms pass through (ref
    * synthesizeFloat / synthesizeFloatHistogram). */
  private def synthesizeSt(tgtKey: String, rows: Seq[Sample],
      famTypes: Map[String, String]): Seq[Sample] = {
    val state = anchors.getOrElseUpdate(tgtKey,
      new scala.collection.mutable.HashMap[Long, Anchor]())
    val seen = scala.collection.mutable.HashSet[Long]()
    val out = rows.flatMap { s =>
      val name = s.labels.getOrElse("__name__", "")
      val eligible = s.stt == 0L && s.h.fold(stSynthEligible(name, famTypes))(fh =>
        famTypes.getOrElse(name, "") == "histogram" && !fh.isGauge)
      if (!eligible) Some(s)
      else {
        val key = series64(s.h.fold("")(_ => "h ") + s.labels.toSeq.sorted.mkString(" "))
        seen += key
        (state.get(key), s.h) match {
          case (None, h) => // first sample: establish the anchor, skip the append
            state(key) = new Anchor(s.t, s.v, s.v, h.orNull, h.orNull)
            None
          case (Some(a), Some(fh)) =>
            if (fh.detectReset(a.prevH)) { a.startingH = null; a.st = s.t - 1 }
            val adj = if (a.startingH == null) fh else fh.sub(a.startingH).compact.copy(crh = fh.crh)
            a.prevH = fh
            Some(s.copy(h = Some(adj), stt = a.st))
          case (Some(a), None) =>
            if (s.v < a.prev) { a.starting = 0.0; a.st = s.t - 1 } // reset
            a.prev = s.v
            Some(s.copy(v = s.v - a.starting, stt = a.st))
        }
      }
    }
    // vanished cumulative series lose their anchor (re-anchored on return)
    state.filterInPlace((k, _) => seen(k))
    out
  }

  import ScrapeManager.ScrapeTarget

  /** append one failure line (ref scrape.go scrapeFailureLogger — a JSON
    * slog record per failed scrape; msg carries the reason) */
  private def logFailure(tgt: ScrapeTarget, reason: String): Unit =
    failureLogFile.foreach { f =>
      try {
        val line = graft.web.Json.obj(
          "time" -> graft.web.Json.str(
            java.time.Instant.ofEpochMilli(nowMs()).toString),
          "level" -> graft.web.Json.str("ERROR"),
          "msg" -> graft.web.Json.str(reason),
          "scrape_pool" -> graft.web.Json.str(tgt.job),
          "target" -> graft.web.Json.str(tgt.url)) + "\n"
        java.nio.file.Files.write(java.nio.file.Paths.get(f),
          line.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      } catch { case _: Exception => () }
    }

  /** common scrape request decoration (ref: scrape/scrape.go — the
    * X-Prometheus-Scrape-Timeout-Seconds hint header rides every request);
    * `withAuth=false` builds the credential-stripped request used after a
    * cross-host redirect */
  private def scrapeRequest(url: String,
      withAuth: Boolean = true): java.net.http.HttpRequest.Builder = {
    // http_headers and credentials are request decoration, re-applied per
    // redirect hop by the caller; the protocol headers after them win
    val b = http.decorate(java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofMillis(timeoutMs)), withAuth)
      .setHeader("X-Prometheus-Scrape-Timeout-Seconds",
        graft.web.Json.goFloat(timeoutMs / 1000.0))
    // ref: scrape.go acceptEncodingHeader — gzip unless enable_compression=false
    if (enableCompression) b.setHeader("Accept-Encoding", "gzip") else b
  }

  /** Send with manual redirect following (follow_redirects semantics): at
    * most 10 hops, Location-bearing 3xx only, never an https→http
    * downgrade, and the Authorization credential is DROPPED once a hop
    * leaves the original host (ref #18949 — credentials are no longer
    * forwarded on cross-host redirects). The request is REBUILT per hop via
    * `mk(url, withAuth)` so every decoration header re-applies cleanly. */
  private def sendFollow[T](mk: (String, Boolean) => java.net.http.HttpRequest,
      url0: String, handler: java.net.http.HttpResponse.BodyHandler[T])
      : java.net.http.HttpResponse[T] = {
    val origHost = java.net.URI.create(url0).getHost
    var url = url0
    var auth = true
    var hops = 0
    var resp = http.client.send(mk(url, auth), handler)
    while (clientCfg.followRedirects && hops < 10 &&
        Set(301, 302, 303, 307, 308)(resp.statusCode()) &&
        resp.headers().firstValue("Location").isPresent) {
      val cur = java.net.URI.create(url)
      val next = cur.resolve(resp.headers().firstValue("Location").get())
      if (cur.getScheme == "https" && next.getScheme != "https") return resp
      if (next.getHost != origHost) auth = false
      url = next.toString
      hops += 1
      resp = http.client.send(mk(url, auth), handler)
    }
    resp
  }

  /** transparently inflate a gzip response body */
  private def inflate(resp: java.net.http.HttpResponse[Array[Byte]]): Array[Byte] = {
    val gz = resp.headers().firstValue("Content-Encoding").orElse("")
      .toLowerCase.contains("gzip")
    if (!gz) resp.body()
    else {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(resp.body()))
      try in.readAllBytes() finally in.close()
    }
  }

  /** Scrape-limit enforcement (ref: scrape/scrape.go sampleLimitErr /
    * verifyLabelLimits — a violated limit FAILS the whole scrape: the
    * appended batch rolls back and the target reports up=0). Label checks
    * run on the decorated label sets; the sample limit applies after metric
    * relabeling like the reference's append-time check. Returns an error
    * description, or None when the scrape passes. */
  private def limitViolation(labelSets: Iterator[Map[String, String]],
      postRelabelCount: Long): Option[String] = {
    if (limits.sampleLimit > 0 && postRelabelCount > limits.sampleLimit)
      return Some(s"sample_limit exceeded ($postRelabelCount > ${limits.sampleLimit})")
    if (limits.labelLimit > 0 || limits.labelNameLengthLimit > 0 ||
        limits.labelValueLengthLimit > 0)
      labelSets.foreach { ls =>
        if (limits.labelLimit > 0 && ls.size > limits.labelLimit)
          return Some(s"label_limit exceeded (${ls.size} > ${limits.labelLimit})")
        ls.foreach { case (n, v) =>
          if (limits.labelNameLengthLimit > 0 && n.length > limits.labelNameLengthLimit)
            return Some(s"label_name_length_limit exceeded for '$n'")
          if (limits.labelValueLengthLimit > 0 && v.length > limits.labelValueLengthLimit)
            return Some(s"label_value_length_limit exceeded for label '$n'")
        }
      }
    None
  }

  @volatile private var running = false
  private var thread: Option[Thread] = None

  // target set provider — static by default; [[useFileSd]] swaps in
  // file-based re-discovery per pass (ref: discovery/file re-reads on change;
  // per-pass parse is equivalent at target cardinality)
  @volatile private var targetProvider: () => Seq[ScrapeTarget] = () => targets

  def setTargetProvider(f: () => Seq[ScrapeTarget]): Unit = targetProvider = f

  /** current discovered target set (also feeds /api/v1/targets) */
  def currentTargets(): Seq[ScrapeTarget] = targetProvider()

  /** file-based service discovery: re-parse the SD files before every
    * scrape pass (ref: discovery/file/file.go) */
  def useFileSd(paths: Seq[String], defaultJob: String): Unit =
    setTargetProvider(() =>
      paths.flatMap(p =>
        try ScrapeManager.fileSdTargets(p, defaultJob)
        catch { case _: Exception => Nil })) // a malformed SD file drops its groups, not the loop

  /** HTTP service discovery (ref: discovery/http/http.go Discovery.Refresh):
    * GET the endpoint — an application/json array of target groups in the
    * same shape file SD uses — re-fetched at the refresh cadence. A failed
    * refresh KEEPS the last successful target set (the reference serves the
    * previous groups until a refresh succeeds). */
  def useHttpSd(url: String, defaultJob: String, refreshMs: Long = 60000L): Unit = {
    val cache = new java.util.concurrent.atomic.AtomicReference[(Long, Seq[ScrapeTarget])]((0L, Nil))
    setTargetProvider { () =>
      val (at, last) = cache.get()
      val now = nowMs()
      if (at != 0L && now - at < refreshMs) last
      else {
        val next =
          try {
            val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
              .header("Accept", "application/json")
              .GET().build()
            val resp = http.client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
            if (resp.statusCode() != 200)
              throw new IllegalStateException(s"http sd: status ${resp.statusCode()}")
            ScrapeManager.groupsToTargets(
              ScrapeManager.jsonSdGroups(resp.body(), url), defaultJob)
          } catch { case _: Exception => last }
        cache.set((now, next))
        next
      }
    }
  }

  /** one synchronous scrape pass over every target; returns appended rows.
    * Every append runs on the driver, with no Spark job. Exemplars are
    * batched across the pool's targets into ONE append per cycle. */
  def scrapeOnce(): Long = {
    val tgts = targetProvider()
    // target_limit: exceeding fails EVERY target of the pool this cycle —
    // each reports up=0 and nothing is scraped (ref: scrape/scrape.go sync
    // targetLimit error path)
    if (limits.targetLimit > 0 && tgts.size > limits.targetLimit) {
      val t0 = nowMs()
      val rows = tgts.flatMap { tgt =>
        Seq(("up", 0.0), ("scrape_duration_seconds", 0.0),
          ("scrape_samples_scraped", 0.0),
          ("scrape_samples_post_metric_relabeling", 0.0)).map { case (n, v) =>
          Row(ScrapeManager.decorate(tgt, Map("__name__" -> n)), t0, v, false, null, 0L) }
      }
      store.appendRows(rows)
      return rows.size.toLong
    }
    // prune series caches of departed targets — SD churn must not grow
    // driver state without bound (the reference drops a target's scrape
    // cache with its loop)
    val liveKeys = tgts.map(t => seriesKey(t.job, t.url)).toSet
    // a departed target's cached series go stale at this cycle (ref
    // scrape.go — a stopping scrape loop appends staleness markers)
    val departed = seriesSeen.keys.filterNot(liveKeys).toSeq
    if (departed.nonEmpty) {
      val tMark = nowMs()
      val rows = departed.flatMap(k =>
        seriesSeen.getOrElse(k, Map.empty).valuesIterator.collect {
          case (l, explicit) if !explicit || trackTimestampsStaleness => l
        }).map(l => Row(l, tMark, Double.NaN, true, null, 0L))
      store.appendRows(rows)
      departed.foreach(seriesSeen.remove)
    }
    anchors.keys.filterNot(liveKeys).foreach(anchors.remove)
    val results = tgts.map(scrapeTarget)
    val exRows = results.flatMap(_._2)
    if (exRows.nonEmpty) store.appendExemplars(exRows)
    results.map(_._1).sum
  }

  /** the negotiation order a target's Accept header lists: the pool's
    * scrape_protocols (the reference's DefaultScrapeProtocols when unset),
    * with protobuf first for a target flagged `proto` */
  private def protocolsOf(tgt: ScrapeTarget): Seq[String] = {
    val pool =
      if (scrapeProtocols.nonEmpty) scrapeProtocols else ScrapeManager.defaultScrapeProtocols
    if (tgt.proto) "PrometheusProto" +: pool.filterNot(_ == "PrometheusProto") else pool
  }

  /** One scrape of one target (ref: scrape/scrape.go:1347 scrapeAndReport):
    * one request, one [[parse]] of the answer into a batch, one [[append]].
    * Returns (appended rows, exemplar rows for the pool's per-cycle batch). */
  private def scrapeTarget(tgt: ScrapeTarget): (Long, Seq[Row]) = {
    val t0 = nowMs()
    val none = ProtoExposition.Parsed(Nil, Map.empty)
    // (batch, uncompressed body bytes — -1 when body_size_limit fails the
    // scrape, the reference's errBodySizeLimit — and whether it succeeded)
    val (batch, bodyLen, ok) =
      try {
        val resp = sendFollow((u, a) => scrapeRequest(u, a)
            .setHeader("Accept", ScrapeManager.acceptHeader(protocolsOf(tgt)))
            .GET().build(),
          tgt.url, java.net.http.HttpResponse.BodyHandlers.ofByteArray())
        if (resp.statusCode() != 200) (none, 0L, false)
        else {
          val body = inflate(resp) // body_size_limit is on UNCOMPRESSED bytes
          if (limits.bodySizeLimit > 0 && body.length > limits.bodySizeLimit) (none, -1L, false)
          else parse(tgt, resp.headers().firstValue("Content-Type").orElse(""), body, t0)
            .fold((none, body.length.toLong, false))((_, body.length.toLong, true))
        }
      } catch { case _: Exception => (none, 0L, false) }
    append(tgt, t0, batch, bodyLen, ok)
  }

  /** One scrape body → one batch: samples with their start timestamp (stt)
    * and native histogram, family metadata, and exemplars whose missing
    * timestamp is set to the scrape time (ref: scrape.go — exemplars
    * without a timestamp default to the sample's). The parser follows the
    * target's `proto`/`openMetrics` flag, else the response Content-Type
    * (ref: scrape.go → textparse.New by media type), else
    * fallback_scrape_protocol, else the Prometheus text format. None when a
    * native histogram stays over the bucket limit: the whole scrape fails. */
  private def parse(tgt: ScrapeTarget, contentType: String, body: Array[Byte],
      t0: Long): Option[ProtoExposition.Parsed] = {
    val protocol =
      if (tgt.proto) "PrometheusProto"
      else if (tgt.openMetrics) "OpenMetricsText"
      else contentType.takeWhile(_ != ';').trim.toLowerCase match {
        case "application/vnd.google.protobuf" => "PrometheusProto"
        case "application/openmetrics-text" => "OpenMetricsText"
        case "text/plain" => "PrometheusText"
        case _ => fallbackProtocol
      }
    // per-target overrides win over pool config (ref: scrape.go
    // newScrapeLoop opts via target.boolLabel — #18929/#18840);
    // __scrape_native_histograms__=false keeps the classic representation
    // and drops native samples (ref: IgnoreNativeHistograms)
    val keepNative = tgt.nativeHistOverride.getOrElse(true)
    val p =
      if (protocol == "PrometheusProto")
        ProtoExposition.parse(body, t0,
          alwaysClassic = tgt.alwaysClassicOverride.getOrElse(alwaysClassicHist) || !keepNative)
      else {
        val lines = new String(body, "UTF-8").split("\n").toSeq
        if (protocol.startsWith("OpenMetricsText")) parseOpenMetrics(lines, t0)
        else parsePromText(lines, t0)
      }
    shapeNative(if (keepNative) p.samples else p.samples.filter(_.h.isEmpty)).map(s =>
      p.copy(samples = s, exemplars = p.exemplars.map { case (l, e) =>
        (l, if (e.t == ProtoExposition.NoTs) e.copy(t = t0) else e) }))
  }

  /** native-histogram shaping (ref scrape.go maxSchemaAppender +
    * bucketLimitAppender): min_bucket_factor caps the schema, then the
    * bucket limit keeps reducing resolution; a histogram still over the
    * limit at schema −4 (or an irreducible custom-bounds NHCB) gives None,
    * like the reference's errBucketLimit */
  private def shapeNative(samples: Seq[Sample]): Option[Seq[Sample]] = {
    val minFactorCap =
      if (limits.nativeHistogramMinBucketFactor > 1.0)
        ScrapeManager.pickSchema(limits.nativeHistogramMinBucketFactor)
      else Int.MaxValue
    val bucketLim = limits.nativeHistogramBucketLimit
    if (bucketLim <= 0 && minFactorCap == Int.MaxValue) return Some(samples)
    var bucketLimitHit = false
    val out = samples.map { sm =>
      sm.h match {
        case Some(h0) if !h0.isCustom =>
          var h = if (minFactorCap < h0.schema) h0.reduceTo(minFactorCap) else h0
          if (bucketLim > 0) {
            while (h.pcnt.length + h.ncnt.length > bucketLim && h.schema > -4)
              h = h.reduceTo(h.schema - 1)
            if (h.pcnt.length + h.ncnt.length > bucketLim) bucketLimitHit = true
          }
          sm.copy(h = Some(h))
        case Some(h0) =>
          if (bucketLim > 0 && h0.cv.length > bucketLim) bucketLimitHit = true
          sm
        case None => sm
      }
    }
    if (bucketLimitHit) None else Some(out)
  }

  /** OpenMetrics lines → batch; the `_created` lines set their family's stt
    * when created-timestamp-zero-ingestion or st-synthesis needs it (ref
    * parseST = synthesizeST || enableSTZeroIngestion) */
  private def parseOpenMetrics(lines: Seq[String], t0: Long): ProtoExposition.Parsed = {
    val all = lines.flatMap(OpenMetrics.parseLine(_, t0))
    val meta = familyMeta(all)
    val recs0 = all.filter(_.kind == 0)
    val recs =
      if (stZeroIngestion || stSynthesis) withCreated(recs0, meta) else recs0.map((_, 0L))
    ProtoExposition.Parsed(recs.map { case (r, stt) => Sample(r.labels, r.t, r.v, stt) }, meta,
      // scrape-time exemplar ingestion (ref: scrape/scrape.go append →
      // appender.AppendExemplar keyed on the sample's series)
      recs.flatMap { case (r, _) => r.ex.map(e => (r.labels, e)) })
  }

  /** Prometheus text lines → batch; TYPE and HELP comments name the family
    * as exposed (counters keep their _total), and the format has no UNIT */
  private def parsePromText(lines: Seq[String], t0: Long): ProtoExposition.Parsed =
    ProtoExposition.Parsed(
      lines.flatMap(Exposition.parseLine(_, t0)).map { case (l, t, v) => Sample(l, t, v) },
      familyMeta(lines.filter(_.trim.startsWith("#")).flatMap(OpenMetrics.parseLine(_, t0))
        .filter(_.metaKey != "unit")))

  /** TYPE/UNIT/HELP rows → family → (type, unit, help); a repeated key's
    * last line wins */
  private def familyMeta(rows: Seq[OpenMetrics.OMRow]): Meta =
    rows.filter(_.kind == 1).groupBy(_.family).map { case (fam, ms) =>
      def last(key: String) = ms.reverseIterator.find(_.metaKey == key).fold("")(_.metaVal)
      fam -> ((last("type"), last("unit"), last("help")))
    }

  /** OpenMetrics `<base>_created` lines → the created timestamp as the stt
    * of every matching series of the family (counter `_total`,
    * summary/histogram `_count`/`_sum`/`_bucket` and bare quantile samples —
    * matched on labels minus le/quantile). The `_created` series themselves
    * are consumed, not ingested (the reference's
    * WithOMParserSTSeriesSkipped). Consumption is gated on the family's
    * parsed TYPE — only counter/summary/histogram families carry created
    * timestamps in OM, so a genuine metric that merely ends in _created
    * (unknown/gauge TYPE) stays an ordinary series (ref: the OM parser's
    * CreatedTimestamp resolves created lines against typed families). */
  private def withCreated(recs: Seq[OpenMetrics.OMRow], meta: Meta)
      : Seq[(OpenMetrics.OMRow, Long)] = {
    val createdTyped = Set("counter", "summary", "histogram", "gaugehistogram")
    def name(r: OpenMetrics.OMRow) = r.labels.getOrElse("__name__", "")
    val (created, rest) = recs.partition(r => name(r).endsWith("_created") &&
      meta.get(name(r).stripSuffix("_created")).exists(m => createdTyped(m._1)))
    def key(base: String, r: OpenMetrics.OMRow) =
      (base, r.labels - "__name__" - "le" - "quantile")
    // OM created values are unix SECONDS (possibly fractional)
    val ctByKey = created.map(r =>
      key(name(r).stripSuffix("_created"), r) -> math.round(r.v * 1000.0)).toMap
    def baseOf(n: String): String =
      Seq("_total", "_count", "_sum", "_bucket").find(n.endsWith).fold(n)(n.stripSuffix)
    rest.map(r => (r, ctByKey.getOrElse(key(baseOf(name(r)), r), 0L)))
  }

  /** One scrape's append (ref: scrape.go scrapeLoop.append and report), in
    * this order: target decoration and honor_timestamps, ST zeros,
    * st-synthesis, metric relabeling, NHCB conversion, the limits, the
    * staleness diff, the report series, the store append, metadata and
    * exemplars. A failed or limit-violating scrape appends only its report
    * series and staleness markers. Returns (appended rows, exemplar rows). */
  private def append(tgt: ScrapeTarget, t0: Long, batch: ProtoExposition.Parsed,
      bodyLen: Long, ok: Boolean): (Long, Seq[Row]) = {
    val dur = (nowMs() - t0) / 1000.0
    val tgtKey = seriesKey(tgt.job, tgt.url)
    // target labels (ref: scrape.go:700 target label decoration)
    def decorate(labels: Map[String, String]): Map[String, String] =
      ScrapeManager.decorate(tgt, labels)
    val stamped0 = batch.samples.map(s =>
      s.copy(labels = decorate(s.labels), t = if (honorTimestamps) s.t else t0))
    // created-timestamp-zero-ingestion (ref: scrape.go AppendSTZeroSample
    // and AppendHistogramSTZeroSample): a zero at each sample's start
    // timestamp when 0 < stt < t, so rate/increase see the counter's birth;
    // a native histogram's zero is a counter reset that keeps its schema,
    // zero threshold and custom bounds. A zero keeps that timestamp
    // (honor_timestamps notwithstanding), is relabeled like a scraped sample
    // but EXCLUDED from sample_limit accounting — the reference's
    // AppendSTZeroSample bypasses the added counters
    val zeros =
      if (!stZeroIngestion) Nil
      else stamped0.collect { case s if s.stt > 0L && s.stt < s.t =>
        Sample(s.labels, s.stt, if (s.h.isEmpty) 0.0 else Double.NaN, h = s.h.map(h =>
          FHist(h.schema, h.zt, 0.0, 0.0, 0.0, Nil, Nil, Nil, Nil, h.cv, FHist.HintReset)))
      }.distinct
    // st-synthesis rewrites cumulative samples lacking an ST; a failed
    // scrape has none, so its anchors survive the outage
    val stamped =
      if (!stSynthesis || stamped0.isEmpty) stamped0
      else synthesizeSt(tgtKey, stamped0, batch.meta.map { case (n, (t, _, _)) => n -> t })
    // metric_relabel_configs apply to scraped samples only; the report
    // series bypass them (ref: scrape.go append vs report)
    def relabeled(rows: Seq[Sample]) =
      rows.flatMap(s => Relabel.applyToMap(s.labels, metricRelabel).map(l => s.copy(labels = l)))
    val scrapedReal = relabeled(stamped)
    val scraped0 = scrapedReal ++ relabeled(zeros)
    // convert_classic_histograms_to_nhcb (ref: textparse wraps every parser
    // in its NHCB parser)
    val scraped =
      if (tgt.convertNhcbOverride.getOrElse(convertNhcb)) Ingest.classicToNhcb(scraped0)
      else scraped0
    // limits run on the POST-metric-relabel label sets (ref: append-time
    // verifyLabelLimits — a relabel rule that drops the offending label must
    // let the scrape pass) and count the SCRAPED series only: ST zeros and
    // synthesized NHCB natives don't count against sample_limit
    val postPairs = scrapedReal.map(s => (s.labels, s.t != t0))
    val postN = postPairs.size.toLong
    val violation = if (!ok) None else limitViolation(postPairs.iterator.map(_._1), postN)
    val effOk = ok && violation.isEmpty
    if (!effOk) logFailure(tgt, violation.getOrElse("scrape failed"))
    // scrape_series_added + staleness diff: post-relabel series vs this
    // target's previous scrape (ref: scrape.go seriesAdded via the
    // per-target scrape cache; see staleDiff for the failure semantics)
    val (seriesAdded, staleLabels) = staleDiff(tgtKey, postPairs.iterator.map {
      case (ls, explicit) => series64(ls.toSeq.sorted.mkString("\u0001")) -> ((ls, explicit))
    }.toMap, effOk)
    val report = (Seq(
      ("up", if (effOk) 1.0 else 0.0),
      ("scrape_duration_seconds", dur),
      ("scrape_samples_scraped", batch.samples.size.toDouble),
      ("scrape_samples_post_metric_relabeling", postN.toDouble),
      ("scrape_series_added", seriesAdded.toDouble)) ++
      // --enable-feature=extra-scrape-metrics (ref: scrape.go
      // reportExtraMetrics): configured timeout/sample_limit + body size
      // (uncompressed; -1 when the scrape failed on body_size_limit)
      (if (extraScrapeMetrics) Seq(
        ("scrape_timeout_seconds", timeoutMs / 1000.0),
        ("scrape_sample_limit", limits.sampleLimit.toDouble),
        ("scrape_body_size_bytes", bodyLen.toDouble)) else Nil))
      .map { case (n, v) => Row(decorate(Map("__name__" -> n)), t0, v, false, null, 0L) }
    // a violated limit drops the WHOLE scraped batch (append rollback)
    store.appendRows((if (effOk) scraped.map(_.toRow) else Nil) ++ report ++
      staleLabels.map(l => Row(l, t0, Double.NaN, true, null, 0L)))
    if (effOk && batch.meta.nonEmpty) store.mergeMetadata(batch.meta)
    // exemplars ride the accepted scrape only, attached to the decorated,
    // POST-metric-relabel series — an exemplar of a relabel-dropped series
    // is dropped with it (ref: scrape.go exemplars append after the sample's
    // series ref resolves); the append itself is batched per pool cycle in
    // scrapeOnce
    val exRows =
      if (!effOk) Nil
      else batch.exemplars.flatMap { case (l, e) =>
        Relabel.applyToMap(decorate(l), metricRelabel)
          .map(sl => Row(sl, Row(e.labels, e.v, e.t)))
      }
    ((if (effOk) (stamped.size + zeros.size).toLong else 0L) + report.size, exRows)
  }

  def start(): Unit = synchronized {
    if (running) return
    running = true
    val th = new Thread(() => {
      while (running) {
        try scrapeOnce() catch { case _: InterruptedException => }
        try Thread.sleep(intervalMs) catch { case _: InterruptedException => }
      }
    }, "graft-scrape-loop")
    th.setDaemon(true)
    th.start()
    thread = Some(th)
  }

  def stop(): Unit = synchronized {
    running = false
    thread.foreach(_.interrupt())
    thread = None
  }
}

object ScrapeManager {
  /** per-scrape protection limits, 0 = disabled (ref: config/config.go
    * ScrapeConfig{SampleLimit, LabelLimit, LabelNameLengthLimit,
    * LabelValueLengthLimit}) */
  final case class ScrapeLimits(
      sampleLimit: Long = 0L,
      labelLimit: Int = 0,
      labelNameLengthLimit: Int = 0,
      labelValueLengthLimit: Int = 0,
      // uncompressed response bytes; exceeding fails the scrape (up=0,
      // ref: scrape/scrape.go errBodySizeLimit)
      bodySizeLimit: Long = 0L,
      // discovered-target count; exceeding fails EVERY target of the pool
      // for the cycle (ref: scrape/scrape.go:reload targetLimit, up=0 all)
      targetLimit: Long = 0L,
      // native-histogram shaping (ref scrape.go bucketLimitAppender +
      // maxSchemaAppender): bucket count over the limit reduces resolution
      // until it fits, failing the scrape at schema −4 (errBucketLimit);
      // a min bucket-growth factor caps the schema up front
      nativeHistogramBucketLimit: Long = 0L,
      nativeHistogramMinBucketFactor: Double = 0.0)

  /** largest standard schema whose bucket growth factor 2^(2^−schema) is
    * ≥ the configured minimum (ref scrape.go pickSchema; 1.00271 is the
    * factor of schema 8, the finest standard resolution) */
  def pickSchema(bucketFactor: Double): Int =
    if (bucketFactor <= 1.00271) 8
    else {
      def log2(x: Double) = math.log(x) / math.log(2.0)
      math.max(-4, math.min(8, math.floor(-log2(log2(bucketFactor))).toInt))
    }

  /** scrape protocol → content-type header value (ref: config/config.go:581
    * ScrapeProtocolsHeaders); DefaultScrapeProtocols is the no-config order */
  val protocolHeaders: Map[String, String] = Map(
    "PrometheusProto" -> ("application/vnd.google.protobuf;" +
      "proto=io.prometheus.client.MetricFamily;encoding=delimited"),
    "PrometheusText0.0.4" -> "text/plain;version=0.0.4",
    "PrometheusText1.0.0" -> "text/plain;version=1.0.0",
    "OpenMetricsText0.0.1" -> "application/openmetrics-text;version=0.0.1",
    "OpenMetricsText1.0.0" -> "application/openmetrics-text;version=1.0.0")

  val defaultScrapeProtocols: Seq[String] = Seq(
    "OpenMetricsText1.0.0", "OpenMetricsText0.0.1",
    "PrometheusText1.0.0", "PrometheusText0.0.4")

  /** ref: scrape/scrape.go:706 acceptHeader — q-weights descend from
    * len(headers)+1, then a catch-all */
  def acceptHeader(protocols: Seq[String]): String = {
    var weight = protocolHeaders.size + 1
    val vals = protocols.flatMap(protocolHeaders.get).map { h =>
      val v = s"$h;q=0.$weight"; weight -= 1; v
    }
    (vals :+ s"*/*;q=0.$weight").mkString(",")
  }

  /** Go units size string ("512MB", "64KiB", "10240B", bare bytes) → bytes
    * (ref: common config BodySizeLimit units.Base2Bytes + promtool corpus
    * accepts both SI and IEC suffixes) */
  def parseBytes(s: String): Long = {
    val m = "^([0-9]+(?:\\.[0-9]+)?)\\s*([KMGTPE]?)(i?)B?$".r
    s.trim match {
      case m(num, pfx, i) =>
        val base = if (i == "i") 1024.0 else 1000.0
        val exp = if (pfx.isEmpty) 0 else "KMGTPE".indexOf(pfx) + 1
        (num.toDouble * math.pow(base, exp)).toLong
      case other => other.toLong
    }
  }

  /** Target-label decoration (ref: scrape/scrape.go mutateSampleLabels):
    * honor_labels=false (default) renames CONFLICTING scraped labels to
    * `exported_<name>` before target labels apply; honor_labels=true keeps
    * the scraped values and target labels only fill the gaps. */
  def decorate(tgt: ScrapeTarget, labels: Map[String, String]): Map[String, String] = {
    val tgtLbls = Map("instance" -> tgt.instance, "job" -> tgt.job) ++ tgt.extraLabels
    if (tgt.honorLabels) tgtLbls ++ labels
    else {
      val renamed = labels.map { case (k, v) =>
        (if (tgtLbls.contains(k) && !k.startsWith("__")) "exported_" + k else k) -> v
      }
      renamed ++ tgtLbls
    }
  }

  final case class ScrapeTarget(
      url: String, job: String, instance: String,
      openMetrics: Boolean = false,
      proto: Boolean = false,
      extraLabels: Map[String, String] = Map.empty,
      honorLabels: Boolean = false,
      // per-target scrape-config overrides set by relabeling the internal
      // __scrape_native_histograms__ / __always_scrape_classic_histograms__ /
      // __convert_classic_histograms_to_nhcb__ labels (ref: scrape/target.go
      // boolLabel + scrape.go newScrapeLoop opts; reference #18929/#18840) —
      // None = inherit the pool's config value
      nativeHistOverride: Option[Boolean] = None,
      alwaysClassicOverride: Option[Boolean] = None,
      convertNhcbOverride: Option[Boolean] = None)

  /** Parse a file-SD target file — a JSON array or YAML list of target
    * groups `{labels: {...}, targets: [host:port, ...]}` (ref:
    * discovery/file/file.go readFile; promtool's good-sd-file corpus) —
    * into scrape targets. A group's `job` label overrides `defaultJob`;
    * other group labels ride as extra target labels. */
  def fileSdTargets(path: String, defaultJob: String, scheme: String = "http",
      metricsPath: String = "/metrics"): Seq[ScrapeTarget] = {
    val text = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    val groups: Seq[(Map[String, String], Seq[String])] =
      if (path.endsWith(".json")) jsonSdGroups(text, path)
      else {
        import graft.promqltest.YamlLite
        import graft.promqltest.YamlLite.{YList, YMap, YScalar}
        YamlLite.parse(text) match {
          case YList(items) => items.map {
            case g: YMap =>
              val unknown = g.keys.toSet.diff(Set("labels", "targets"))
              if (unknown.nonEmpty)
                throw new IllegalArgumentException(s"$path: unknown field(s) ${unknown.mkString(",")}")
              val lbls = g.get("labels") match {
                case Some(m: YMap) => m.entries.collect { case (k, YScalar(v)) => k -> v }.toMap
                case _ => Map.empty[String, String]
              }
              (lbls, g.list("targets").collect { case YScalar(s) => s })
            case other => throw new IllegalArgumentException(s"$path: bad target group $other")
          }
          case other => throw new IllegalArgumentException(s"$path: expected a list, got $other")
        }
      }
    groupsToTargets(groups, defaultJob, scheme, metricsPath)
  }

  /** JSON array of SD target groups `{labels: {...}, targets: [...]}` —
    * the wire format shared by file SD (.json) and HTTP SD
    * (ref: discovery/targetgroup/targetgroup.go UnmarshalJSON) */
  def jsonSdGroups(text: String, source: String): Seq[(Map[String, String], Seq[String])] =
    graft.web.JsonLite.parse(text) match {
      case items: List[_] => items.map {
        case m: Map[_, _] =>
          val mm = m.asInstanceOf[Map[String, Any]]
          val unknown = mm.keySet.diff(Set("labels", "targets"))
          if (unknown.nonEmpty)
            throw new IllegalArgumentException(s"$source: unknown field(s) ${unknown.mkString(",")}")
          val lbls = mm.get("labels") match {
            case Some(l: Map[_, _]) =>
              l.asInstanceOf[Map[String, Any]].map { case (k, v) => k -> String.valueOf(v) }
            case _ => Map.empty[String, String]
          }
          val tgts = mm.get("targets") match {
            case Some(t: List[_]) => t.map(String.valueOf(_))
            case _ => Nil
          }
          (lbls, tgts)
        case other => throw new IllegalArgumentException(s"$source: bad target group $other")
      }
      case other => throw new IllegalArgumentException(s"$source: expected a JSON array, got $other")
    }

  /** expand SD groups into scrape targets (a group's `job` label overrides
    * the default; other labels ride as extra target labels) */
  def groupsToTargets(groups: Seq[(Map[String, String], Seq[String])],
      defaultJob: String, scheme: String = "http",
      metricsPath: String = "/metrics"): Seq[ScrapeTarget] =
    for ((lbls, tgts) <- groups; addr <- tgts) yield
      ScrapeTarget(s"$scheme://$addr$metricsPath",
        lbls.getOrElse("job", defaultJob), addr,
        extraLabels = lbls - "job")

  /** Apply a job's relabel_configs to a discovered target (ref:
    * scrape/target.go:419 PopulateLabels): the target's discovery label set
    * (__address__/__scheme__/__metrics_path__/job/instance + SD labels) runs
    * the chain; None = target dropped. Surviving targets rebuild their URL
    * from the possibly-rewritten __address__/__scheme__/__metrics_path__,
    * default `instance` to __address__ when relabeling cleared it, and shed
    * every remaining __-prefixed label (the reference's post-relabel strip). */
  /** the pre-relabel decorated label set of a discovered target — what the
    * reference calls the "discovered labels" (ref: scrape/target.go
    * PopulateDiscoveredLabels: __address__/__scheme__/__metrics_path__ +
    * job/instance + SD labels) */
  /** decode the URL query into ordered (name, values) pairs */
  private def queryParams(rawQuery: String): Seq[(String, Seq[String])] = {
    if (rawQuery == null || rawQuery.isEmpty) return Nil
    val dec = (s: String) => java.net.URLDecoder.decode(s, "UTF-8")
    val pairs = rawQuery.split("&").toSeq.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => dec(k) -> dec(v)
        case Array(k) => dec(k) -> ""
      }
    }
    pairs.map(_._1).distinct.map(k => k -> pairs.collect { case (`k`, v) => v })
  }

  /** names of the per-target scrape-option labels (ref: scrape/target.go
    * scrapeNativeHistogramsLabel etc.) in (native, alwaysClassic,
    * convertNHCB) order */
  val scrapeOptionLabels: Seq[String] = Seq(
    "__scrape_native_histograms__",
    "__always_scrape_classic_histograms__",
    "__convert_classic_histograms_to_nhcb__")

  def discoveryLabelSet(tgt: ScrapeTarget,
      scrapeDefaults: Map[String, String] = Map.empty): Map[String, String] = {
    val uri = java.net.URI.create(tgt.url)
    val addr = uri.getHost + (if (uri.getPort != -1) s":${uri.getPort}" else "")
    val path0 = Option(uri.getPath).filter(_.nonEmpty).getOrElse("/metrics")
    // pool-config scrape options pre-populate their internal labels so
    // relabel rules can read AND rewrite them per target (ref:
    // scrape/target.go PopulateDiscoveredLabels scrapeLabels — set only
    // when the target doesn't already carry the label)
    scrapeDefaults ++ Map(
      "__address__" -> addr,
      "__scheme__" -> Option(uri.getScheme).getOrElse("http"),
      "__metrics_path__" -> path0,
      "job" -> tgt.job,
      "instance" -> tgt.instance) ++
      // first value of each URL param as __param_<name> (ref:
      // scrape/target.go PopulateDiscoveredLabels ParamLabelPrefix)
      queryParams(uri.getRawQuery).collect { case (k, v +: _) =>
        s"__param_$k" -> v } ++
      tgt.extraLabels
  }

  /** post-relabel values of the three scrape-option labels → per-target
    * overrides; an unparsable bool fails the target (ref: target.go
    * PopulateLabels ParseBool error → target rejected). Returns None on
    * invalid, Some(overrides) otherwise. */
  private def scrapeOverrides(out: Map[String, String])
      : Option[Seq[Option[Boolean]]] = {
    val parsed = scrapeOptionLabels.map { l =>
      out.get(l).filter(_.nonEmpty) match {
        case None => Some(None)
        case Some("true") => Some(Some(true))
        case Some("false") => Some(Some(false))
        case Some(_) => None // invalid bool
      }
    }
    if (parsed.contains(None)) None else Some(parsed.map(_.get))
  }

  def relabelTarget(tgt: ScrapeTarget, rules: Seq[Relabel.Rule],
      scrapeDefaults: Map[String, String] = Map.empty): Option[ScrapeTarget] = {
    // the __-prefixed strip happens whether or not relabel rules exist —
    // __meta_* SD labels never reach samples (ref: scrape/target.go
    // PopulateLabels deletes MetaLabelPrefix labels unconditionally)
    if (rules.isEmpty) {
      val merged = scrapeDefaults ++ tgt.extraLabels
      return scrapeOverrides(merged).map { case Seq(nh, ac, cn) =>
        tgt.copy(extraLabels = tgt.extraLabels.filter {
          case (k, _) => !k.startsWith("__") },
          nativeHistOverride = nh, alwaysClassicOverride = ac,
          convertNhcbOverride = cn)
      }
    }
    val uri = java.net.URI.create(tgt.url)
    val addr = uri.getHost + (if (uri.getPort != -1) s":${uri.getPort}" else "")
    val base = discoveryLabelSet(tgt, scrapeDefaults)
    Relabel.applyToMap(base, rules).flatMap { out =>
      scrapeOverrides(out).map(ovr => (out, ovr))
    }.map { case (out, Seq(nh, ac, cn)) =>
      val scheme = out.getOrElse("__scheme__", "http")
      val p0 = out.getOrElse("__metrics_path__", "/metrics")
      val p = if (p0.startsWith("/")) p0 else "/" + p0
      val addr2 = out.getOrElse("__address__", addr)
      // rebuild the query from the original params with each surviving
      // __param_<name> label overriding that param's FIRST value (ref:
      // scrape/target.go URL() — relabeling can rewrite or add params)
      val overrides = out.collect {
        case (k, v) if k.startsWith("__param_") => k.stripPrefix("__param_") -> v }
      val orig = queryParams(uri.getRawQuery)
      val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")
      val merged = orig.map { case (k, vs) =>
        k -> (overrides.get(k).map(_ +: vs.drop(1)).getOrElse(vs)) } ++
        (overrides -- orig.map(_._1)).toSeq.sortBy(_._1).map { case (k, v) => k -> Seq(v) }
      val qs = merged.flatMap { case (k, vs) => vs.map(v => s"${enc(k)}=${enc(v)}") }
        .mkString("&")
      val q = if (qs.isEmpty) "" else s"?$qs"
      tgt.copy(
        url = s"$scheme://$addr2$p$q",
        job = out.getOrElse("job", tgt.job),
        instance = out.get("instance").filter(_.nonEmpty).getOrElse(addr2),
        extraLabels = (out -- Seq("job", "instance"))
          .filter { case (k, _) => !k.startsWith("__") },
        nativeHistOverride = nh, alwaysClassicOverride = ac,
        convertNhcbOverride = cn)
    }
  }
}
