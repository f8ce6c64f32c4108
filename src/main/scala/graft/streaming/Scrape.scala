package graft.streaming

import graft.promql.Engine
import graft.web.SampleStore
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** Pull-model scrape manager: HTTP-poll a target set on an interval, parse
  * the exposition body (Prometheus text or OpenMetrics), apply relabeling,
  * attach `instance`/`job`, synthesize the per-scrape report series
  * (`up`, `scrape_duration_seconds`, `scrape_samples_scraped`) and append
  * micro-batches to the store (ref: scrape/scrape.go:1264 scrapeLoop.run,
  * report series :1788 report()).
  *
  * The poller is a driver-side edge by design — the same shape as the
  * reference's scrape manager (one process polls its shard of targets). At
  * 100 TB scale the target set shards across many ingest bridges and the
  * Spark side only sees their appended micro-batches; the parse itself is
  * the distributed [[Exposition]]/[[OpenMetrics]] map either way.
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
    client: java.net.http.HttpClient = java.net.http.HttpClient.newHttpClient(),
    nowMs: () => Long = () => System.currentTimeMillis(),
    limits: ScrapeManager.ScrapeLimits = ScrapeManager.ScrapeLimits(),
    // per-scrape HTTP client config (ref: ScrapeConfig.ScrapeTimeout +
    // HTTPClientConfig): request timeout — a hung exporter reports up=0
    // after timeoutMs instead of wedging the pool — and the rendered
    // Authorization header value
    timeoutMs: Long = 10000L,
    authHeader: Option[String] = None,
    // refreshing Authorization source (oauth2 token provider): evaluated
    // per request against its own expiry cache; wins over authHeader
    // (the checker enforces mutual exclusion at config load)
    authProvider: Option[() => String] = None,
    // http_headers custom per-request headers (ref common HTTPClientConfig
    // headers: multiple values per name allowed); protocol headers below
    // use setHeader and so always win a same-name collision
    httpHeaders: Map[String, Seq[String]] = Map.empty,
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
    // enableSTZeroIngestion): OpenMetrics `_created` lines inject synthetic
    // zeros at the family's creation time instead of being ingested as series
    stZeroIngestion: Boolean = false,
    // --enable-feature=st-synthesis (ref: scrape.go Options.SynthesizeST,
    // reference #18279): synthesize a start timestamp for cumulative
    // scraped series that carry none — delta/OTel-backed consumers need an
    // ST on every cumulative point. Per-series semantics follow the
    // reference's stCache (scrape/st_synthesis.go): the FIRST sample
    // establishes the anchor (st = its scrape ts) and is NOT appended;
    // later samples append rebased (v − anchor value) with that st; a
    // counter reset re-anchors at 0 with st = t−1 ("least risky guess").
    // Applies on all three parse paths (text, OM, proto — samples with an
    // inline/parsed created timestamp keep it and never synthesize):
    // classic histogram _bucket/_count/_sum series each synthesize
    // independently like the reference's float path, and proto-scraped
    // NATIVE histograms synthesize via FHist detectReset/sub
    // (ref synthesizeFloatHistogram). Gauge histograms pass through.
    stSynthesis: Boolean = false,
    // --enable-feature=extra-scrape-metrics (ref: scrape.go
    // reportExtraMetrics): scrape_timeout_seconds / scrape_sample_limit /
    // scrape_body_size_bytes report series
    extraScrapeMetrics: Boolean = false,
    // follow_redirects (ref: common HTTPClientConfig FollowRedirects,
    // default true). Redirects are followed manually (≤10 hops, no
    // https→http downgrade) because the reference's security semantics
    // need per-hop control: credentials are NOT forwarded when a redirect
    // leaves the original host (ref changelog #18949 / CVE-2025-4673 via
    // prometheus/common v0.69.0)
    followRedirects: Boolean = true) {

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
  // stCache: st + floatSynthesis{prev, starting}); state lives only while
  // the series keeps appearing — a series absent from a scrape loses its
  // anchor (the reference clears stCache through staleness tracking), and
  // departed targets drop their whole map alongside seriesSeen
  private final class StSynth(var st: Long, var prev: Double, var starting: Double)
  private val stSynthState = scala.collection.concurrent.TrieMap[
    String, scala.collection.mutable.HashMap[Long, StSynth]]()

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

  /** native-histogram synthesis anchors (ref st_synthesis.go
    * histogramSynthesis{prev, starting}); starting == null marks the
    * post-reset state where nothing is adjusted */
  private final class HistSynth(var st: Long, var prev: graft.promql.FHist,
      var starting: graft.promql.FHist)
  private val stSynthHistState = scala.collection.concurrent.TrieMap[
    String, scala.collection.mutable.HashMap[Long, HistSynth]]()

  /** native-histogram st-synthesis (ref synthesizeFloatHistogram): first
    * sample anchors (st = its ts) and is dropped; later samples append
    * `fh − anchor` (Compact'd, incoming reset hint preserved) with that st;
    * a detected reset clears the anchor and re-stamps st = t−1. Gauge
    * histograms and typed-non-histogram families pass through untouched. */
  private def synthesizeHistSt(tgtKey: String,
      rows: Seq[graft.web.RemoteWrite.Sample],
      famTypes: Map[String, String]): Seq[graft.web.RemoteWrite.Sample] = {
    val state = stSynthHistState.getOrElseUpdate(tgtKey,
      new scala.collection.mutable.HashMap[Long, HistSynth]())
    val seen = scala.collection.mutable.HashSet[Long]()
    val out = Seq.newBuilder[graft.web.RemoteWrite.Sample]
    rows.foreach { s =>
      val name = s.labels.getOrElse("__name__", "")
      val fh = s.h.get
      if (s.stt != 0L || famTypes.getOrElse(name, "") != "histogram" || fh.isGauge)
        out += s
      else {
        val key = series64(s.labels.toSeq.sorted.mkString(" "))
        seen += key
        state.get(key) match {
          case None =>
            state(key) = new HistSynth(s.t, fh, fh) // anchor + skip append
          case Some(hs) =>
            if (fh.detectReset(hs.prev)) {
              hs.starting = null; hs.st = s.t - 1; hs.prev = fh
              out += s.copy(stt = hs.st)
            } else {
              hs.prev = fh
              val adj =
                if (hs.starting == null) fh
                else fh.sub(hs.starting).compact.copy(crh = fh.crh)
              out += s.copy(h = Some(adj), stt = hs.st)
            }
        }
      }
    }
    state.filterInPlace((k, _) => seen(k))
    out.result()
  }

  /** rewrite one scrape's (labels, t, v, stt) rows under st-synthesis:
    * only rows with NO explicit/created start timestamp (stt == 0) and a
    * cumulative family type are touched */
  private def synthesizeSt(tgtKey: String,
      rows: Seq[(Map[String, String], Long, Double, Long)],
      famTypes: Map[String, String])
      : Seq[(Map[String, String], Long, Double, Long)] = {
    val state = stSynthState.getOrElseUpdate(tgtKey,
      new scala.collection.mutable.HashMap[Long, StSynth]())
    val seen = scala.collection.mutable.HashSet[Long]()
    val out = Seq.newBuilder[(Map[String, String], Long, Double, Long)]
    rows.foreach { case row @ (l, t, v, stt) =>
      val name = l.getOrElse("__name__", "")
      if (stt != 0L || !stSynthEligible(name, famTypes)) out += row
      else {
        val key = series64(l.toSeq.sorted.mkString(" "))
        seen += key
        state.get(key) match {
          case None =>
            // first sample: establish the anchor, skip the append
            state(key) = new StSynth(t, v, v)
          case Some(s) =>
            if (v < s.prev) { s.starting = 0.0; s.st = t - 1 } // reset
            s.prev = v
            out += ((l, t, v - s.starting, s.st))
        }
      }
    }
    // vanished cumulative series lose their anchor (re-anchored on return)
    state.filterInPlace((k, _) => seen(k))
    out.result()
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
    val b0 = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofMillis(timeoutMs))
      .header("X-Prometheus-Scrape-Timeout-Seconds",
        graft.web.Json.goFloat(timeoutMs / 1000.0))
    // ref: scrape.go acceptEncodingHeader — gzip unless enable_compression=false
    val b1 = if (enableCompression) b0.header("Accept-Encoding", "gzip") else b0
    // http_headers: custom headers ride every request (multi-value via
    // repeated header() calls); like credentials they are treated as
    // request decoration and re-applied per redirect hop by the caller
    val b = httpHeaders.foldLeft(b1) { case (bb, (k, vs)) =>
      vs.foldLeft(bb)((b2, v) => b2.header(k, v)) }
    if (withAuth) authProvider.map(_()).orElse(authHeader)
      .fold(b)(v => b.header("Authorization", v))
    else b
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
    var resp = client.send(mk(url, auth), handler)
    while (followRedirects && hops < 10 &&
        Set(301, 302, 303, 307, 308)(resp.statusCode()) &&
        resp.headers().firstValue("Location").isPresent) {
      val cur = java.net.URI.create(url)
      val next = cur.resolve(resp.headers().firstValue("Location").get())
      if (cur.getScheme == "https" && next.getScheme != "https") return resp
      if (next.getHost != origHost) auth = false
      url = next.toString
      hops += 1
      resp = client.send(mk(url, auth), handler)
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
            val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
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
    * Exemplars are batched across the pool's targets into ONE append per
    * cycle (mirroring the sample batch path) — a per-target append would
    * schedule one tiny Spark job per target per cycle at thousands-of-
    * targets scale. */
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
    stSynthState.keys.filterNot(liveKeys).foreach(stSynthState.remove)
    stSynthHistState.keys.filterNot(liveKeys).foreach(stSynthHistState.remove)
    // PrometheusProto first in scrape_protocols → protobuf negotiation for
    // the pool (ref: DefaultProtoFirstScrapeProtocols — how
    // scrape_native_histograms selects the proto path); per-target flags
    // (tests, explicit pools) still win
    val protoFirst = scrapeProtocols.headOption.contains("PrometheusProto")
    val results = tgts.map(t =>
      if (t.proto || (protoFirst && !t.openMetrics)) scrapeProto(t)
      else scrapeTarget(t))
    val exRows = results.flatMap(_._2)
    if (exRows.nonEmpty)
      store.appendExemplars(spark.createDataFrame(
        spark.sparkContext.parallelize(exRows, 1),
        OpenMetrics.exemplarBatchSchema))
    results.map(_._1).sum
  }

  /** protobuf-negotiated scrape (content type io.prometheus.client.MetricFamily,
    * delimited) — the only text-free scrape path; carries native histograms,
    * family metadata, and exemplars on counters / classic buckets / native
    * histograms (ref: scrape/scrape.go accept header negotiation,
    * model/textparse/protobufparse.go:329 Exemplar). Returns (appended rows,
    * exemplar rows for the pool's per-cycle batch). */
  private def scrapeProto(tgt: ScrapeTarget): (Long, Seq[Row]) = {
    import graft.promql.FHist
    import graft.web.ProtoExposition
    val t0 = nowMs()
    val (parsed, bodyLen, ok) =
      try {
        val resp = sendFollow((u, a) =>
          scrapeRequest(u, a)
            .header("Accept", "application/vnd.google.protobuf;" +
              "proto=io.prometheus.client.MetricFamily;encodings=delimited").GET().build(),
          tgt.url, java.net.http.HttpResponse.BodyHandlers.ofByteArray())
        if (resp.statusCode() != 200) (ProtoExposition.Parsed(Nil, Map.empty), 0L, false)
        else {
          val bytes = inflate(resp) // body_size_limit is on UNCOMPRESSED bytes
          if (limits.bodySizeLimit > 0 && bytes.length > limits.bodySizeLimit)
            (ProtoExposition.Parsed(Nil, Map.empty), -1L, false)
          else {
            // per-target overrides win over pool config (ref: scrape.go
            // newScrapeLoop opts via target.boolLabel — #18929/#18840)
            val effAlwaysClassic =
              tgt.alwaysClassicOverride.getOrElse(alwaysClassicHist)
            val keepNative = tgt.nativeHistOverride.getOrElse(true)
            // __scrape_native_histograms__=false on a proto target keeps
            // the classic representation and drops native samples (ref:
            // scrape.go IgnoreNativeHistograms = !enableNativeHistogram
            // Scraping — classic series still scrape as before)
            val p0 = ProtoExposition.parse(bytes, t0,
              alwaysClassic = effAlwaysClassic || !keepNative)
            val p1 =
              if (keepNative) p0
              else p0.copy(samples = p0.samples.filter(_.h.isEmpty))
            // native-histogram shaping (ref scrape.go maxSchemaAppender +
            // bucketLimitAppender): min_bucket_factor caps the schema,
            // then the bucket limit keeps reducing resolution; a histogram
            // still over the limit at schema −4 (or an irreducible custom-
            // bounds NHCB) fails the WHOLE scrape like the reference's
            // errBucketLimit → up=0, nothing appended
            val minFactorCap =
              if (limits.nativeHistogramMinBucketFactor > 1.0)
                ScrapeManager.pickSchema(limits.nativeHistogramMinBucketFactor)
              else Int.MaxValue
            val bucketLim = limits.nativeHistogramBucketLimit
            var bucketLimitHit = false
            val p =
              if (bucketLim <= 0 && minFactorCap == Int.MaxValue) p1
              else p1.copy(samples = p1.samples.map { sm =>
                sm.h match {
                  case Some(h0) if !h0.isCustom =>
                    var h =
                      if (minFactorCap < h0.schema) h0.reduceTo(minFactorCap)
                      else h0
                    if (bucketLim > 0) {
                      while (h.pcnt.length + h.ncnt.length > bucketLim &&
                             h.schema > -4)
                        h = h.reduceTo(h.schema - 1)
                      if (h.pcnt.length + h.ncnt.length > bucketLim)
                        bucketLimitHit = true
                    }
                    sm.copy(h = Some(h))
                  case Some(h0) =>
                    if (bucketLim > 0 && h0.cv.length > bucketLim)
                      bucketLimitHit = true
                    sm
                  case None => sm
                }
              })
            if (bucketLimitHit)
              (ProtoExposition.Parsed(Nil, Map.empty), bytes.length.toLong, false)
            else (p, bytes.length.toLong, true)
          }
        }
      } catch { case _: Exception => (ProtoExposition.Parsed(Nil, Map.empty), 0L, false) }
    val dur = (nowMs() - t0) / 1000.0
    def decorate(labels: Map[String, String]): Map[String, String] =
      ScrapeManager.decorate(tgt, labels)
    val stamped0 = parsed.samples.map { s =>
      s.copy(labels = decorate(s.labels), t = if (honorTimestamps && s.t != 0L) s.t else t0)
    }
    // st-synthesis on the proto path: FLOAT series without a proto
    // created_timestamp synthesize like the text path (family TYPE comes
    // from the proto metadata); NATIVE-HISTOGRAM series synthesize via the
    // FHist detectReset/sub machinery (ref synthesizeFloatHistogram).
    // GUARD on `ok`: a failed scrape (non-200/timeout/body-size) parses to
    // zero samples, and running synthesis then would prune EVERY anchor for
    // the target — the next good scrape would re-anchor (drop) all series
    // and rebase against post-failure values, a permanent level shift. The
    // reference only clears stCache through genuine staleness.
    val stamped =
      if (!stSynthesis || !ok || stamped0.isEmpty) stamped0
      else {
        val famTypes = parsed.meta.map { case (n, (t, _, _)) => n -> t }
        val tgtKey = seriesKey(tgt.job, tgt.url)
        val (floats, hists) = stamped0.partition(_.h.isEmpty)
        synthesizeSt(tgtKey,
          floats.map(s => (s.labels, s.t, s.v, s.stt)), famTypes)
          .map { case (l, t, v, stt) =>
            graft.web.RemoteWrite.Sample(l, t, v, stt) } ++
          synthesizeHistSt(tgtKey, hists, famTypes)
      }
    val rows = stamped.map(_.toRow)
    val df0 = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, rows.size / 10000)),
      Engine.samplesSchema)
    val scraped = if (rows.isEmpty) None else Some(Relabel(df0, metricRelabel))
    // limits run on the POST-metric-relabel label sets (ref: append-time
    // verifyLabelLimits — a relabel rule that drops the offending label must
    // let the scrape pass); one collect replaces the former count (the batch
    // is driver-origin and ≤ scrape size)
    val postPairs = scraped.map(_.select("labels", "t").collect()
      .map(r => (r.getAs[scala.collection.Map[String, String]](0).toMap,
        r.getLong(1) != t0))).getOrElse(Array.empty)
    val postLabels = postPairs.map(_._1)
    val postN = postLabels.length.toLong
    val violation = if (!ok) None else limitViolation(postLabels.iterator, postN)
    val effOk = ok && violation.isEmpty
    if (!effOk) logFailure(tgt, violation.getOrElse("scrape failed"))
    val tgtKey = seriesKey(tgt.job, tgt.url)
    val nowMap: Map[Long, (Map[String, String], Boolean)] =
      postPairs.iterator.map { case (ls, explicit) =>
        series64(ls.toSeq.sorted.mkString("\u0001")) -> ((ls, explicit)) }.toMap
    val (seriesAdded, staleLabels) = staleDiff(tgtKey, nowMap, effOk)
    val report = (Seq(
      ("up", if (effOk) 1.0 else 0.0),
      ("scrape_duration_seconds", dur),
      ("scrape_samples_scraped", parsed.samples.size.toDouble),
      ("scrape_samples_post_metric_relabeling", postN.toDouble),
      ("scrape_series_added", seriesAdded.toDouble)) ++
      (if (extraScrapeMetrics) Seq(
        ("scrape_timeout_seconds", timeoutMs / 1000.0),
        ("scrape_sample_limit", limits.sampleLimit.toDouble),
        ("scrape_body_size_bytes", bodyLen.toDouble)) else Nil))
      .map { case (n, v) =>
      Row(decorate(Map("__name__" -> n)), t0, v, false, null, 0L)
    }
    val markerRows = staleLabels.map(l => Row(l, t0, Double.NaN, true, null, 0L))
    scraped.filter(_ => violation.isEmpty).foreach(store.append)
    store.appendRows(report ++ markerRows)
    if (parsed.meta.nonEmpty && violation.isEmpty) store.mergeMetadata(parsed.meta)
    // exemplars ride the accepted scrape only, attached to the decorated,
    // POST-metric-relabel series (same contract as the OpenMetrics path);
    // a ts-less exemplar gets the scrape timestamp (ref: scrape.go — no-ts
    // exemplars default to the sample's timestamp)
    val exRows =
      if (!effOk) Nil
      else parsed.exemplars.flatMap { case (l, e) =>
        Relabel.applyToMap(decorate(l), metricRelabel).map { sl =>
          Row(sl, Row(e.labels, e.v,
            if (e.t == ProtoExposition.NoTs) t0 else e.t))
        }
      }
    ((if (violation.isEmpty) stamped.size.toLong else 0L) + report.size, exRows)
  }

  /** ST(created)-timestamp zero injection (ref: scrape.go
    * AppendSTZeroSample under the created-timestamp-zero-ingestion feature
    * flag): every OpenMetrics `<base>_created` line yields a synthetic 0 at
    * the created timestamp for each matching series of the family
    * (counter `_total`, summary/histogram `_count`/`_sum`/`_bucket` and
    * bare quantile samples — matched on labels minus le/quantile), so
    * rate/increase see the counter's birth instead of extrapolating. The
    * `_created` series themselves are consumed, not ingested (the
    * reference's WithOMParserSTSeriesSkipped). Zeros only inject when
    * 0 < ct < sample ts. */
  private def stZeroRows(recs: Seq[OpenMetrics.OMRow],
      famTypes: Map[String, String])
      : (Seq[(OpenMetrics.OMRow, Long)], Seq[(Map[String, String], Long, Double)]) = {
    // `_created` consumption is gated on the family's parsed TYPE — only
    // counter/summary/histogram families carry created timestamps in OM, so
    // a genuine metric that merely ends in _created (unknown/gauge TYPE)
    // stays an ordinary ingested series (ref: the OM parser's CreatedTimestamp
    // resolves created lines against typed metric families, not by suffix)
    val createdTyped = Set("counter", "summary", "histogram", "gaugehistogram")
    def isCreatedLine(name: String): Boolean =
      name.endsWith("_created") && {
        val base = name.stripSuffix("_created")
        famTypes.get(base).exists(createdTyped)
      }
    val (created, rest) = recs.partition(r =>
      isCreatedLine(r.labels.getOrElse("__name__", "")))
    if (created.isEmpty) return (rest.map((_, 0L)), Nil)
    // (family base, identity labels) → created ms; OM created values are
    // unix SECONDS (possibly fractional)
    val ctByKey = created.map { r =>
      val base = r.labels("__name__").stripSuffix("_created")
      (base, r.labels - "__name__") -> math.round(r.v * 1000.0)
    }.toMap
    def baseOf(name: String): String = {
      val i = Seq("_total", "_count", "_sum", "_bucket")
        .find(name.endsWith)
      i.map(s => name.stripSuffix(s)).getOrElse(name)
    }
    val zeros = rest.flatMap { r =>
      val key = (baseOf(r.labels.getOrElse("__name__", "")),
        r.labels - "__name__" - "le" - "quantile")
      ctByKey.get(key).filter(ct => ct > 0 && ct < r.t)
        .map(ct => (r.labels, ct, 0.0))
    }.distinct
    // family samples also carry ct in the stt column — the same threading
    // the protobuf path does unconditionally (Sample.stt), so downstream
    // start-timestamp semantics see text and proto scrapes identically
    val withStt = rest.map { r =>
      val key = (baseOf(r.labels.getOrElse("__name__", "")),
        r.labels - "__name__" - "le" - "quantile")
      (r, ctByKey.getOrElse(key, 0L))
    }
    (withStt, zeros)
  }

  private def scrapeTarget(tgt: ScrapeTarget): (Long, Seq[Row]) = {
    val t0 = nowMs()
    val (samples, exemplars, stZeros, bodyLen, ok, famTypesForSynth) =
      try {
        val textProtocols =
          (if (scrapeProtocols.nonEmpty) scrapeProtocols
           else ScrapeManager.defaultScrapeProtocols)
            .filterNot(_ == "PrometheusProto")
        val resp = sendFollow((u, a) => scrapeRequest(u, a)
            .header("Accept", ScrapeManager.acceptHeader(textProtocols))
            .GET().build(),
          tgt.url, java.net.http.HttpResponse.BodyHandlers.ofByteArray())
        lazy val bodyBytes = inflate(resp)
        if (resp.statusCode() != 200)
          (Nil, Nil, Nil, 0L, false, Map.empty[String, String])
        else if (limits.bodySizeLimit > 0 && bodyBytes.length > limits.bodySizeLimit)
          // ref: errBodySizeLimit — the scrape fails whole; the extra
          // scrape_body_size_bytes metric reports -1 for exactly this case
          (Nil, Nil, Nil, -1L, false, Map.empty[String, String])
        else {
          val lines = new String(bodyBytes, "UTF-8").split("\n").toSeq
          val defaultTs = t0
          // parser selection follows the RESPONSE Content-Type (ref:
          // scrape.go → textparse.New by media type), with
          // fallback_scrape_protocol deciding unrecognized/absent types
          val ct = resp.headers().firstValue("Content-Type").orElse("")
          val openMetrics = tgt.openMetrics ||
            ct.startsWith("application/openmetrics-text") ||
            (!ct.startsWith("text/plain") && !ct.startsWith("application/") &&
              fallbackProtocol.startsWith("OpenMetricsText"))
          if (openMetrics) {
            val all = lines.flatMap(OpenMetrics.parseLine(_, defaultTs))
            val recs0 = all.filter(_.kind == 0)
            lazy val famTypes = all.filter(r => r.kind != 0 && r.metaKey == "type")
              .map(r => r.family -> r.metaVal).toMap
            // st-synthesis needs the parsed created timestamps too (ref
            // parseST = synthesizeST || enableSTZeroIngestion): a series
            // with an explicit _created keeps it and is never synthesized.
            // The zero INJECTION stays the created-timestamp flag's job.
            val (recs, zeros0) =
              if (stZeroIngestion || stSynthesis) stZeroRows(recs0, famTypes)
              else (recs0.map((_, 0L)), Nil)
            val zeros = if (stZeroIngestion) zeros0 else Nil
            (recs.map { case (r, stt) => (r.labels, r.t, r.v, stt) },
              // scrape-time exemplar ingestion (ref: scrape/scrape.go append
              // → appender.AppendExemplar keyed on the sample's series)
              recs.flatMap { case (r, _) => r.ex.map(e => (r.labels, e)) },
              zeros,
              bodyBytes.length.toLong,
              true,
              if (stSynthesis) famTypes else Map.empty[String, String])
          } else {
            // Prometheus text format: TYPE lines name the metric as exposed
            // (counters keep their _total), so the eligibility check's bare
            // name lookup matches directly
            val famTypes =
              if (stSynthesis)
                lines.iterator.filter(_.startsWith("# TYPE ")).flatMap { ln =>
                  ln.substring(7).trim.split("\\s+") match {
                    case Array(n, t) => Some(n -> t)
                    case _ => None
                  }
                }.toMap
              else Map.empty[String, String]
            (lines.flatMap(Exposition.parseLine(_, defaultTs))
               .map { case (l, t, v) => (l, t, v, 0L) }, Nil, Nil,
               bodyBytes.length.toLong, true, famTypes)
          }
        }
      } catch { case _: Exception =>
        (Nil, Nil, Nil, 0L, false, Map.empty[String, String]) }
    val dur = (nowMs() - t0) / 1000.0
    // target labels (ref: scrape.go:700 target label decoration)
    def decorate(labels: Map[String, String]): Map[String, String] =
      ScrapeManager.decorate(tgt, labels)
    def toDf(rows: Seq[(Map[String, String], Long, Double, Long)]) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          rows.map { case (l, t, v, stt) => Row(l, t, v, false, null, stt) },
          math.max(1, rows.size / 10000)),
        Engine.samplesSchema)
    val stampedReal0 = samples.map { case (l, t, v, stt) =>
      (decorate(l), if (honorTimestamps) t else t0, v, stt)
    }
    // st-synthesis rewrites cumulative rows lacking an ST: first-seen rows
    // anchor and drop, later rows append rebased with the synthesized ST
    val stampedReal =
      if (stSynthesis && stampedReal0.nonEmpty)
        synthesizeSt(seriesKey(tgt.job, tgt.url), stampedReal0, famTypesForSynth)
      else stampedReal0
    // ST zeros keep the created timestamp (it IS a timestamp by definition,
    // honor_timestamps notwithstanding); relabeled like scraped samples but
    // EXCLUDED from sample_limit accounting — the reference's
    // AppendSTZeroSample bypasses the added/seriesAdded counters
    val stampedZeros = stZeros.map { case (l, ct, v) => (decorate(l), ct, v, 0L) }
    val stamped = stampedReal ++ stampedZeros
    // metric_relabel_configs apply to scraped samples only; the report
    // series bypass them (ref: scrape.go append vs report)
    val scrapedReal =
      if (stampedReal.isEmpty) None
      else Some(Relabel(toDf(stampedReal), metricRelabel))
    val zerosDf =
      if (stampedZeros.isEmpty) None
      else Some(Relabel(toDf(stampedZeros), metricRelabel))
    val scraped0 = (scrapedReal, zerosDf) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b) => a.orElse(b)
    }
    val scraped =
      if (tgt.convertNhcbOverride.getOrElse(convertNhcb))
        scraped0.map(Ingest.classicToNhcb)
      else scraped0
    // post-relabel label sets (see scrapeProto: append-time
    // verifyLabelLimits); limits count the SCRAPED series — synthesized
    // NHCB natives don't count against sample_limit
    val postPairs = scrapedReal.map(_.select("labels", "t").collect()
      .map(r => (r.getAs[scala.collection.Map[String, String]](0).toMap,
        r.getLong(1) != t0))).getOrElse(Array.empty)
    val postLabels = postPairs.map(_._1)
    val postN = postLabels.length.toLong
    val violation = if (!ok) None else limitViolation(postLabels.iterator, postN)
    val effOk = ok && violation.isEmpty
    if (!effOk) logFailure(tgt, violation.getOrElse("scrape failed"))
    // scrape_series_added + staleness diff: post-relabel series vs this
    // target's previous scrape (ref: scrape.go seriesAdded via the
    // per-target scrape cache; see staleDiff for the failure semantics)
    val tgtKey = seriesKey(tgt.job, tgt.url)
    val nowMap: Map[Long, (Map[String, String], Boolean)] =
      postPairs.iterator.map { case (ls, explicit) =>
        series64(ls.toSeq.sorted.mkString("\u0001")) -> ((ls, explicit)) }.toMap
    val (seriesAdded, staleLabels) = staleDiff(tgtKey, nowMap, effOk)
    val report = (Seq(
      ("up", if (effOk) 1.0 else 0.0),
      ("scrape_duration_seconds", dur),
      ("scrape_samples_scraped", samples.size.toDouble),
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
    scraped.filter(_ => violation.isEmpty).foreach(store.append)
    store.appendRows(report ++ staleLabels.map(l => Row(l, t0, Double.NaN, true, null, 0L)))
    // exemplars ride the accepted scrape only, attached to the decorated,
    // POST-metric-relabel series — an exemplar of a relabel-dropped series
    // is dropped with it (ref: scrape.go exemplars append after the sample's
    // series ref resolves); the append itself is batched per pool cycle in
    // scrapeOnce
    val exRows =
      if (violation.nonEmpty) Nil
      else exemplars.flatMap { case (l, e) =>
        Relabel.applyToMap(decorate(l), metricRelabel)
          .map(sl => Row(sl, Row(e.labels, e.v, e.t)))
      }
    ((if (violation.isEmpty) stamped.size.toLong else 0L) + report.size, exRows)
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

  /** Build the per-pool HTTP client from the job's client config (ref:
    * common HTTPClientConfig → NewClientFromConfig): `proxy_url` routes
    * requests through an HTTP proxy; `tls_config.ca_file` trusts a custom
    * PEM CA; `insecure_skip_verify` trusts any chain. Falls back to the
    * shared default client when nothing is configured. */
  /** no_proxy matcher (ref golang.org/x/net/http/httpproxy, the library
    * behind the common ProxyConfig): comma-separated entries — "*" matches
    * everything; an IP or CIDR matches literal request IPs; a domain
    * matches itself AND subdomains; a leading-dot domain matches
    * subdomains only. */
  private[streaming] def noProxyMatches(noProxy: String, host0: String): Boolean = {
    if (noProxy.trim.isEmpty || host0 == null || host0.isEmpty) return false
    val host = host0.toLowerCase.stripPrefix("[").stripSuffix("]")
    val isIp = host.forall(c => c.isDigit || c == '.') || host.contains(":")
    noProxy.split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).exists { e0 =>
      if (e0 == "*") true
      else {
        // strip a :port from the entry (Go allows host:port entries)
        val e = if (e0.count(_ == ':') == 1 && !e0.contains("/"))
          e0.substring(0, e0.indexOf(':')) else e0
        if (e.contains("/") && isIp && !host.contains(":")) {
          // CIDR vs dotted-quad
          try {
            val Array(net, bits) = e.split("/")
            def ip(x: String): Long =
              x.split("\\.").foldLeft(0L)((a, p) => (a << 8) | p.toLong)
            val mask = if (bits.toInt == 0) 0L else -1L << (32 - bits.toInt)
            (ip(host) & mask) == (ip(net) & mask)
          } catch { case _: Exception => false }
        }
        else if (e.startsWith(".")) host.endsWith(e)
        else host == e || host.endsWith("." + e)
      }
    }
  }

  /** proxy selection per request host (ref common ProxyConfig: explicit
    * proxy_url + no_proxy, or proxy_from_environment reading HTTP_PROXY /
    * HTTPS_PROXY / NO_PROXY — request scheme picks the variable) */
  private[streaming] def proxySelectorFor(proxyUrl: String, noProxy: String,
      proxyFromEnvironment: Boolean,
      env: Map[String, String] = sys.env): Option[java.net.ProxySelector] = {
    def envAny(k: String): String =
      env.getOrElse(k, env.getOrElse(k.toLowerCase, ""))
    val noP = if (proxyFromEnvironment) envAny("NO_PROXY") else noProxy
    def proxyFor(scheme: String): String =
      if (!proxyFromEnvironment) proxyUrl
      else if (scheme == "https") envAny("HTTPS_PROXY")
      else envAny("HTTP_PROXY")
    if (!proxyFromEnvironment && proxyUrl.isEmpty) return None
    Some(new java.net.ProxySelector {
      override def select(uri: java.net.URI): java.util.List[java.net.Proxy] = {
        val p = proxyFor(Option(uri.getScheme).getOrElse("http").toLowerCase)
        if (p.isEmpty || noProxyMatches(noP, uri.getHost))
          java.util.List.of(java.net.Proxy.NO_PROXY)
        else {
          val u = java.net.URI.create(p)
          val port = if (u.getPort != -1) u.getPort else 80
          java.util.List.of(new java.net.Proxy(java.net.Proxy.Type.HTTP,
            new java.net.InetSocketAddress(u.getHost, port)))
        }
      }
      override def connectFailed(uri: java.net.URI,
          sa: java.net.SocketAddress, ioe: java.io.IOException): Unit = ()
    })
  }

  def buildClient(proxyUrl: String = "", tlsCaFile: String = "",
      tlsInsecureSkipVerify: Boolean = false, noProxy: String = "",
      proxyFromEnvironment: Boolean = false,
      enableHttp2: Boolean = true,
      env: Map[String, String] = sys.env,
      // scrape keeps NEVER (sendFollow implements follow_redirects with
      // the cross-host credential drop itself); remote write/read pass
      // NORMAL for the common follow_redirects=true default
      redirects: java.net.http.HttpClient.Redirect =
        java.net.http.HttpClient.Redirect.NEVER): java.net.http.HttpClient = {
    val b = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(10))
      .followRedirects(redirects)
    // enable_http2=false pins HTTP/1.1 (the JDK default is 2-with-fallback)
    if (!enableHttp2) b.version(java.net.http.HttpClient.Version.HTTP_1_1)
    proxySelectorFor(proxyUrl, noProxy, proxyFromEnvironment, env)
      .foreach(b.proxy)
    if (tlsInsecureSkipVerify) {
      val trustAll: Array[javax.net.ssl.TrustManager] = Array(
        new javax.net.ssl.X509TrustManager {
          override def checkClientTrusted(
              c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
          override def checkServerTrusted(
              c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
          override def getAcceptedIssuers: Array[java.security.cert.X509Certificate] =
            Array.empty
        })
      val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
      ctx.init(null, trustAll, new java.security.SecureRandom())
      b.sslContext(ctx)
    } else if (tlsCaFile.nonEmpty) {
      val cf = java.security.cert.CertificateFactory.getInstance("X.509")
      val in = new java.io.FileInputStream(tlsCaFile)
      val certs = try cf.generateCertificates(in) finally in.close()
      val ks = java.security.KeyStore.getInstance(
        java.security.KeyStore.getDefaultType)
      ks.load(null, null)
      val it = certs.iterator()
      var i = 0
      while (it.hasNext) { ks.setCertificateEntry(s"ca$i", it.next()); i += 1 }
      val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
        javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
      tmf.init(ks)
      val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
      ctx.init(null, tmf.getTrustManagers, new java.security.SecureRandom())
      b.sslContext(ctx)
    }
    b.build()
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
