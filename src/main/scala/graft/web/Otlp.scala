package graft.web

import graft.promql.FHist
import scala.collection.mutable

/** OTLP/HTTP metrics receiver decoding: protobuf
  * `ExportMetricsServiceRequest` → canonical samples, following the
  * reference's translation rules (ref: web/api/v1/api.go:484 OTLP route +
  * storage/remote/otlptranslator/prometheusremotewrite/):
  *   - metric/label names sanitized to [a-zA-Z0-9_:]
  *   - monotonic cumulative sums → counters (`_total` suffix)
  *   - gauges/sums → float samples; summaries → _count/_sum/{quantile}
  *   - explicit-bounds histograms → classic `_bucket{le}`/`_sum`/`_count`
  *     (cumulative le buckets, +Inf closed)
  *   - exponential histograms → native histograms: prometheus index =
  *     otlp offset + 1, schema clamped to 8 via resolution reduction,
  *     default zero threshold 2^-128
  *     (ref: histograms.go:170 convertBucketsLayout, :88
  *     exponentialToNativeHistogram)
  *   - resource `service.name`/`service.instance.id` → job/instance labels;
  *     remaining resource attributes emit a `target_info` series
  *     (ref: helper.go resource translation)
  * Delta-temporality points convert to cumulative through a per-series
  * [[Otlp.DeltaConverter]] when one is supplied (ref: api.go:378
  * ConvertDelta / otlp-deltatocumulative); without one they are dropped
  * (the reference's default).
  *
  * Decoded with the shared [[ProtoWire]] reader; no protobuf runtime.
  */
object Otlp {

  import RemoteWrite.Sample
  import ProtoWire.{Reader, zigzag}

  private val defaultZeroThreshold = math.pow(2.0, -128)

  // ---------- wire helpers over the shared reader ----------

  private def double(r: Reader): Double = java.lang.Double.longBitsToDouble(r.fixed64())

  /** length-delimited raw bytes as lowercase hex (trace/span ids) */
  private def hex(r: Reader): String = r.byteArray().map(b => f"${b & 0xff}%02x").mkString

  // ---------- attribute / name translation ----------

  private[web] def sanitize(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach { c =>
      if (c.isLetterOrDigit || c == '_' || c == ':') sb.append(c) else sb.append('_')
    }
    val out = sb.toString
    if (out.nonEmpty && out.head.isDigit) "_" + out else out
  }

  /** KeyValue{key=1, value=2 AnyValue{string=1,bool=2,int=3,double=4}} */
  private def decodeKeyValue(r: Reader): (String, String) = {
    var k = ""; var v = ""
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (1, 2) => k = r.str()
        case (2, 2) =>
          val ar = r.sub()
          while (ar.hasMore) {
            val t2 = ar.varint()
            (t2 >> 3, (t2 & 7).toInt) match {
              case (1, 2) => v = ar.str()
              case (2, 0) => v = if (ar.varint() != 0L) "true" else "false"
              case (3, 0) => v = ar.varint().toString
              case (4, 1) => v = graft.web.Json.goFloat(double(ar))
              case (_, wt) => ar.skip(wt)
            }
          }
        case (_, wt) => r.skip(wt)
      }
    }
    (k, v)
  }

  // ---------- data points ----------

  /** exemplar: translated label set (trace_id/span_id hex + sanitized
    * filtered attributes), timestamp, value (ref: otlptranslator
    * getPromExemplars) */
  private final case class Ex(labels: Map[String, String], tNano: Long, v: Double)

  private def decodeExemplar(r: Reader): Ex = {
    val attrs = mutable.Map[String, String]()
    var t = 0L; var v = 0.0; var traceId = ""; var spanId = ""
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (7, 2) => val (k, s) = decodeKeyValue(r.sub()); attrs(sanitize(k)) = s
        case (2, 1) => t = r.fixed64()
        case (3, 1) => v = double(r)
        case (6, 1) => v = r.fixed64().toDouble // as_int
        case (4, 2) => spanId = hex(r)
        case (5, 2) => traceId = hex(r)
        case (_, wt) => r.skip(wt)
      }
    }
    val ids =
      (if (traceId.nonEmpty) Map("trace_id" -> traceId) else Map.empty[String, String]) ++
      (if (spanId.nonEmpty) Map("span_id" -> spanId) else Map.empty[String, String])
    Ex(attrs.toMap ++ ids, t, v)
  }

  private final case class NumPoint(attrs: Map[String, String], tNano: Long,
    stNano: Long, v: Double, exemplars: Seq[Ex] = Nil)
  private final case class HistPoint(attrs: Map[String, String], tNano: Long,
    stNano: Long, count: Double, sum: Double, hasSum: Boolean,
    bucketCounts: Seq[Long], bounds: Seq[Double], exemplars: Seq[Ex] = Nil)
  private final case class ExpPoint(attrs: Map[String, String], tNano: Long,
    stNano: Long, count: Double, sum: Double, scale: Int, zeroCount: Double,
    posOff: Int, posCounts: Seq[Long], negOff: Int, negCounts: Seq[Long],
    zeroThreshold: Double, exemplars: Seq[Ex] = Nil)
  private final case class SummaryPoint(attrs: Map[String, String], tNano: Long,
    stNano: Long, count: Double, sum: Double, quantiles: Seq[(Double, Double)])

  private def decodeNumPoint(r: Reader): NumPoint = {
    val attrs = mutable.Map[String, String]()
    var t = 0L; var st = 0L; var v = 0.0
    val exs = mutable.ArrayBuffer[Ex]()
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (7, 2) => val (k, s) = decodeKeyValue(r.sub()); attrs(k) = s
        case (2, 1) => st = r.fixed64()
        case (3, 1) => t = r.fixed64()
        case (4, 1) => v = double(r)
        case (6, 1) => v = r.fixed64().toDouble // as_int (sfixed64)
        case (5, 2) => exs += decodeExemplar(r.sub())
        case (_, wt) => r.skip(wt)
      }
    }
    NumPoint(attrs.toMap, t, st, v, exs.toSeq)
  }

  private def decodeHistPoint(r: Reader): HistPoint = {
    val attrs = mutable.Map[String, String]()
    var t = 0L; var st = 0L; var count = 0.0; var sum = 0.0; var hasSum = false
    val bucketCounts = mutable.ArrayBuffer[Long]()
    val bounds = mutable.ArrayBuffer[Double]()
    val exs = mutable.ArrayBuffer[Ex]()
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (9, 2) => val (k, s) = decodeKeyValue(r.sub()); attrs(k) = s
        case (2, 1) => st = r.fixed64()
        case (3, 1) => t = r.fixed64()
        case (4, 1) => count = r.fixed64().toDouble
        case (5, 1) => sum = double(r); hasSum = true
        case (6, 2) => val br = r.sub(); while (br.hasMore) bucketCounts += br.fixed64()
        case (6, 1) => bucketCounts += r.fixed64()
        case (7, 2) => val br = r.sub(); while (br.hasMore) bounds += double(br)
        case (7, 1) => bounds += double(r)
        case (8, 2) => exs += decodeExemplar(r.sub())
        case (_, wt) => r.skip(wt)
      }
    }
    HistPoint(attrs.toMap, t, st, count, sum, hasSum, bucketCounts.toSeq, bounds.toSeq,
      exs.toSeq)
  }

  private def decodeExpPoint(r: Reader): ExpPoint = {
    val attrs = mutable.Map[String, String]()
    var t = 0L; var st = 0L; var count = 0.0; var sum = 0.0
    var scale = 0; var zeroCount = 0.0; var zeroTh = defaultZeroThreshold
    var posOff = 0; var negOff = 0
    val exs = mutable.ArrayBuffer[Ex]()
    val posCounts = mutable.ArrayBuffer[Long]()
    val negCounts = mutable.ArrayBuffer[Long]()
    def decodeBuckets(br: Reader): (Int, Seq[Long]) = {
      var off = 0
      val cs = mutable.ArrayBuffer[Long]()
      while (br.hasMore) {
        val t2 = br.varint()
        (t2 >> 3, (t2 & 7).toInt) match {
          case (1, 0) => off = zigzag(br.varint()).toInt
          case (2, 2) => val pr = br.sub(); while (pr.hasMore) cs += pr.varint()
          case (2, 0) => cs += br.varint()
          case (_, wt) => br.skip(wt)
        }
      }
      (off, cs.toSeq)
    }
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (1, 2) => val (k, s) = decodeKeyValue(r.sub()); attrs(k) = s
        case (2, 1) => st = r.fixed64()
        case (3, 1) => t = r.fixed64()
        case (4, 1) => count = r.fixed64().toDouble
        case (5, 1) => sum = double(r)
        case (6, 0) => scale = zigzag(r.varint()).toInt
        case (7, 1) => zeroCount = r.fixed64().toDouble
        case (8, 2) => val (o, cs) = decodeBuckets(r.sub()); posOff = o; posCounts.clear(); posCounts ++= cs
        case (9, 2) => val (o, cs) = decodeBuckets(r.sub()); negOff = o; negCounts.clear(); negCounts ++= cs
        case (14, 1) => zeroTh = double(r)
        case (11, 2) => exs += decodeExemplar(r.sub())
        case (_, wt) => r.skip(wt)
      }
    }
    ExpPoint(attrs.toMap, t, st, count, sum, scale, zeroCount,
      posOff, posCounts.toSeq, negOff, negCounts.toSeq, zeroTh, exs.toSeq)
  }

  private def decodeSummaryPoint(r: Reader): SummaryPoint = {
    val attrs = mutable.Map[String, String]()
    var t = 0L; var st = 0L; var count = 0.0; var sum = 0.0
    val qs = mutable.ArrayBuffer[(Double, Double)]()
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (7, 2) => val (k, s) = decodeKeyValue(r.sub()); attrs(k) = s
        case (2, 1) => st = r.fixed64()
        case (3, 1) => t = r.fixed64()
        case (4, 1) => count = r.fixed64().toDouble
        case (5, 1) => sum = double(r)
        case (6, 2) =>
          val qr = r.sub()
          var q = 0.0; var v = 0.0
          while (qr.hasMore) {
            val t2 = qr.varint()
            (t2 >> 3, (t2 & 7).toInt) match {
              case (1, 1) => q = double(qr)
              case (2, 1) => v = double(qr)
              case (_, wt) => qr.skip(wt)
            }
          }
          qs += ((q, v))
        case (_, wt) => r.skip(wt)
      }
    }
    SummaryPoint(attrs.toMap, t, st, count, sum, qs.toSeq)
  }

  // ---------- metric assembly ----------

  /** exponential → native: prometheus index = otlp offset + bucket pos + 1;
    * scale > 8 reduced via FHist.reduceTo (exact downscale) */
  private def expToFHist(p: ExpPoint): FHist = {
    def sparse(off: Int, counts: Seq[Long]): (Seq[Int], Seq[Double]) = {
      val pairs = counts.zipWithIndex.collect {
        case (c, i) if c != 0L => (off + i + 1, c.toDouble)
      }
      (pairs.map(_._1), pairs.map(_._2))
    }
    val (pidx, pcnt) = sparse(p.posOff, p.posCounts)
    val (nidx, ncnt) = sparse(p.negOff, p.negCounts)
    val zt = if (p.zeroThreshold > 0) p.zeroThreshold else defaultZeroThreshold
    val h = FHist(p.scale, zt, p.zeroCount, p.count, p.sum,
      pidx, pcnt, nidx, ncnt, Nil, 0)
    if (p.scale > 8) h.reduceTo(8) else h
  }

  /** (series labels, exemplar labels, exemplar t ms, exemplar value) */
  type ExemplarRow = (Map[String, String], Map[String, String], Long, Double)

  final case class Decoded(samples: Seq[Sample], metadata: RemoteWrite.Meta,
      exemplars: Seq[ExemplarRow] = Nil)

  /** Delta→cumulative conversion state for OTLP receive (ref:
    * web/api/v1/api.go:378 ConvertDelta /
    * --enable-feature=otlp-deltatocumulative, the OTel deltatocumulative
    * processor semantics): per-series running totals on the receive edge,
    * so delta-temporality SDK exports ingest as the same cumulative samples
    * a cumulative exporter would produce.
    *
    * Accumulation rule per series (keyed on the final translated label set):
    *   - first point initializes the total and pins the accumulation start;
    *   - an in-order point whose window start does not jump past the
    *     accumulated end extends the total;
    *   - a window start AFTER the last accumulated point (a stream restart /
    *     gap with fresh start) resets the total to that point;
    *   - out-of-order points are dropped (the processor's behavior).
    * Emitted samples carry the accumulation-start timestamp as their CT.
    *
    * Memory is bounded by active delta-series cardinality — the same shape
    * as the reference receiver's per-series head state. Driver-side by
    * design: this is receive-edge state, not query state. */
  final class DeltaConverter(maxStaleNanos: Long = 3600L * 1000000000L) {
    private final class NumS(var startNano: Long, var lastNano: Long, var cum: Double)
    private final class HistS(var startNano: Long, var lastNano: Long,
      var counts: Array[Long], var bounds: Seq[Double],
      var count: Double, var sum: Double, var hasSum: Boolean)
    private final class ExpS(var startNano: Long, var lastNano: Long, var h: FHist)
    private val nums = new java.util.concurrent.ConcurrentHashMap[Map[String, String], NumS]()
    private val hists = new java.util.concurrent.ConcurrentHashMap[Map[String, String], HistS]()
    private val exps = new java.util.concurrent.ConcurrentHashMap[Map[String, String], ExpS]()

    // 0 = unknown start stays unknown (the cumulative exporters' encoding)
    private def startOf(stNano: Long, tNano: Long): Long = stNano
    private def restarted(last: Long, stNano: Long, tNano: Long): Boolean =
      stNano != 0 && stNano > last

    /** Staleness sweep (ref: the deltatocumulative processor's max_stale):
      * series whose last point is older than `maxStaleNanos` behind the
      * observed high-water mark are evicted, bounding state by ACTIVE —
      * not cumulative — delta-series cardinality (pod churn, ephemeral
      * exporters). Amortized: runs at most once per sweep interval. */
    private val hwmNano = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    @volatile private var lastSweepNano = Long.MinValue
    private[web] def maybeSweep(tNano: Long): Unit = {
      val hwm = hwmNano.accumulateAndGet(tNano, math.max(_, _))
      if (maxStaleNanos <= 0) return
      if (lastSweepNano != Long.MinValue && hwm - lastSweepNano < maxStaleNanos / 4) return
      synchronized {
        if (lastSweepNano != Long.MinValue && hwm - lastSweepNano < maxStaleNanos / 4) return
        lastSweepNano = hwm
        val cut = hwm - maxStaleNanos
        nums.entrySet.removeIf(e => e.getValue.lastNano < cut)
        hists.entrySet.removeIf(e => e.getValue.lastNano < cut)
        exps.entrySet.removeIf(e => e.getValue.lastNano < cut)
      }
    }
    private[web] def stateSize: Int = nums.size + hists.size + exps.size

    /** delta number point → Some((cumulative value, start nano)); None = out-of-order drop */
    def addNum(key: Map[String, String], stNano: Long, tNano: Long, v: Double): Option[(Double, Long)] = {
      maybeSweep(tNano)
      nums.synchronized {
        val s = nums.get(key)
        if (s == null) {
          nums.put(key, new NumS(startOf(stNano, tNano), tNano, v))
          Some((v, startOf(stNano, tNano)))
        } else if (tNano <= s.lastNano) None
        else {
          if (restarted(s.lastNano, stNano, tNano)) { s.startNano = stNano; s.cum = v }
          else s.cum += v
          s.lastNano = tNano
          Some((s.cum, s.startNano))
        }
      }
    }

    /** delta classic-histogram point → cumulative (counts, count, sum, hasSum, start) */
    def addHist(key: Map[String, String], stNano: Long, tNano: Long, bounds: Seq[Double],
        counts: Seq[Long], count: Double, sum: Double, hasSum: Boolean)
        : Option[(Seq[Long], Double, Double, Boolean, Long)] = {
      maybeSweep(tNano)
      hists.synchronized {
        val s = hists.get(key)
        if (s == null || tNano > s.lastNano &&
            (restarted(s.lastNano, stNano, tNano) || s.bounds != bounds)) {
          // fresh series, stream restart, or a bucket-layout change (the
          // processor resets on layout change — counts are not comparable)
          val ns = new HistS(startOf(stNano, tNano), tNano, counts.toArray, bounds,
            count, sum, hasSum)
          hists.put(key, ns)
          Some((counts, count, sum, hasSum, ns.startNano))
        } else if (tNano <= s.lastNano) None
        else {
          var i = 0
          while (i < s.counts.length && i < counts.length) {
            s.counts(i) += counts(i); i += 1
          }
          s.count += count; s.sum += sum; s.hasSum = s.hasSum && hasSum
          s.lastNano = tNano
          Some((s.counts.toSeq, s.count, s.sum, s.hasSum, s.startNano))
        }
      }
    }

    /** delta exponential-histogram point → cumulative native histogram */
    def addExp(key: Map[String, String], stNano: Long, tNano: Long, h: FHist)
        : Option[(FHist, Long)] = {
      maybeSweep(tNano)
      exps.synchronized {
        val s = exps.get(key)
        if (s == null) {
          exps.put(key, new ExpS(startOf(stNano, tNano), tNano, h))
          Some((h, startOf(stNano, tNano)))
        } else if (tNano <= s.lastNano) None
        else {
          if (restarted(s.lastNano, stNano, tNano)) { s.startNano = stNano; s.h = h }
          else s.h = s.h.add(h)
          s.lastNano = tNano
          Some((s.h, s.startNano))
        }
      }
    }
  }

  /** decode an ExportMetricsServiceRequest body (optionally gzipped).
    * `delta`: a [[DeltaConverter]] enables delta→cumulative conversion;
    * None drops delta-temporality points (the reference's default without
    * the otlp-deltatocumulative feature). */
  /** `otlp:` config block subset this decoder acts on (ref config.go:1755
    * OTLPConfig): resource-attribute promotion onto every sample (existing
    * labels win), the promote-all/ignore pair, and keeping the identifying
    * service.* attributes on target_info. */
  final case class OtlpCfg(
      promoteAll: Boolean = false,
      promote: Seq[String] = Nil,
      ignore: Seq[String] = Nil,
      keepIdentifying: Boolean = false,
      // convert_histograms_to_nhcb: explicit-bounds histogram points become
      // ONE custom-bounds native histogram instead of classic series
      convertHistogramsToNhcb: Boolean = false,
      // promote_scope_metadata: scope name/version/schema-url/attributes
      // become otel_scope_* labels on every sample of the scope
      promoteScopeMetadata: Boolean = false)

  def decode(body0: Array[Byte], gzipped: Boolean = false,
      delta: Option[DeltaConverter] = None,
      cfg: OtlpCfg = OtlpCfg()): Decoded = {
    val body =
      if (!gzipped) body0
      else new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(body0)).readAllBytes()
    val samples = mutable.ArrayBuffer[Sample]()
    val meta = mutable.Map[String, (String, String, String)]()
    val exemplars = mutable.ArrayBuffer[ExemplarRow]()
    val r = new Reader(body, 0, body.length)
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (1, 2) => decodeResourceMetrics(r.sub(), samples, meta, delta, exemplars, cfg)
        case (_, wt) => r.skip(wt)
      }
    }
    Decoded(samples.toSeq, meta.toMap, exemplars.toSeq)
  }

  private def decodeResourceMetrics(r: Reader,
      out: mutable.ArrayBuffer[Sample],
      meta: mutable.Map[String, (String, String, String)],
      delta: Option[DeltaConverter],
      exOut: mutable.ArrayBuffer[ExemplarRow],
      cfg: OtlpCfg = OtlpCfg()): Unit = {
    val resAttrs = mutable.Map[String, String]()
    val scopes = mutable.ArrayBuffer[Reader]()
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (1, 2) => // Resource{attributes=1}
          val rr = r.sub()
          while (rr.hasMore) {
            val t2 = rr.varint()
            (t2 >> 3, (t2 & 7).toInt) match {
              case (1, 2) => val (k, v) = decodeKeyValue(rr.sub()); resAttrs(k) = v
              case (_, wt) => rr.skip(wt)
            }
          }
        case (2, 2) => scopes += r.sub()
        case (_, wt) => r.skip(wt)
      }
    }
    // job/instance from service.* (ref: helper.go); the rest → target_info
    val idLabels = Map.newBuilder[String, String]
    resAttrs.get("service.name").foreach { sn =>
      val ns = resAttrs.get("service.namespace").map(_ + "/").getOrElse("")
      idLabels += ("job" -> (ns + sn))
    }
    resAttrs.get("service.instance.id").foreach(id => idLabels += ("instance" -> id))
    val ids0 = idLabels.result()
    // promote_resource_attributes / promote_all_resource_attributes: the
    // selected resource attributes ride EVERY sample's labels, never
    // overwriting an existing label (ref otlptranslator helper — promoted
    // attrs lose to datapoint attributes and the job/instance identifiers)
    val promoted: Map[String, String] = {
      val sel =
        if (cfg.promoteAll)
          resAttrs.filterNot { case (k, _) => cfg.ignore.contains(k) }
        else resAttrs.filter { case (k, _) => cfg.promote.contains(k) }
      sel.map { case (k, v) => sanitize(k) -> v }.toMap
    }
    val ids = promoted ++ ids0
    // keep_identifying_resource_attributes: target_info keeps service.*
    // too (normally excluded — they already render as job/instance)
    val infoSrc =
      if (cfg.keepIdentifying) resAttrs
      else resAttrs -- Seq("service.name", "service.namespace", "service.instance.id")
    val infoAttrs = infoSrc.map { case (k, v) => sanitize(k) -> v }.toMap
    var latestT = 0L
    scopes.foreach { sr =>
      // two-pass per scope: proto fields arrive in any order, and the
      // scope block (field 1) must be known before metrics decode when
      // promote_scope_metadata attaches otel_scope_* labels
      val metricSubs = mutable.ArrayBuffer[Reader]()
      var scopeLabels = Map.empty[String, String]
      while (sr.hasMore) {
        val tag = sr.varint()
        (tag >> 3, (tag & 7).toInt) match {
          case (1, 2) if cfg.promoteScopeMetadata =>
            // InstrumentationScope{name=1, version=2, attributes=3}
            val ir = sr.sub()
            while (ir.hasMore) {
              val t2 = ir.varint()
              (t2 >> 3, (t2 & 7).toInt) match {
                case (1, 2) => scopeLabels += ("otel_scope_name" -> ir.str())
                case (2, 2) => scopeLabels += ("otel_scope_version" -> ir.str())
                case (3, 2) =>
                  val (k, v) = decodeKeyValue(ir.sub())
                  scopeLabels += (("otel_scope_" + sanitize(k)) -> v)
                case (_, wt) => ir.skip(wt)
              }
            }
          case (2, 2) => metricSubs += sr.sub()
          case (3, 2) => // ScopeMetrics.schema_url
            val u = sr.str()
            if (cfg.promoteScopeMetadata && u.nonEmpty)
              scopeLabels += ("otel_scope_schema_url" -> u)
          case (_, wt) => sr.skip(wt)
        }
      }
      val scopedIds = if (scopeLabels.isEmpty) ids else ids ++ scopeLabels
      metricSubs.foreach { msr =>
        latestT = math.max(latestT,
          decodeMetric(msr, scopedIds, out, meta, delta, exOut, cfg))
      }
    }
    if (infoAttrs.nonEmpty && latestT > 0L)
      out += Sample(ids0 ++ infoAttrs + ("__name__" -> "target_info"), latestT, 1.0)
  }

  /** returns the latest sample timestamp seen (for target_info stamping) */
  private def decodeMetric(r: Reader, ids: Map[String, String],
      out: mutable.ArrayBuffer[Sample],
      meta: mutable.Map[String, (String, String, String)],
      delta: Option[DeltaConverter],
      exOut: mutable.ArrayBuffer[ExemplarRow],
      cfg: OtlpCfg = OtlpCfg()): Long = {
    var name = ""; var desc = ""; var unit = ""
    val pend = mutable.ArrayBuffer[(Int, Reader)]()
    var temporality = 2 // cumulative unless stated
    var monotonic = false
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (1, 2) => name = r.str()
        case (2, 2) => desc = r.str()
        case (3, 2) => unit = r.str()
        case (5, 2) => // gauge{data_points=1}
          val gr = r.sub()
          while (gr.hasMore) {
            val t2 = gr.varint()
            (t2 >> 3, (t2 & 7).toInt) match {
              case (1, 2) => pend += ((5, gr.sub()))
              case (_, wt) => gr.skip(wt)
            }
          }
        case (7, 2) => // sum{data_points=1, temporality=2, is_monotonic=3}
          val gr = r.sub()
          while (gr.hasMore) {
            val t2 = gr.varint()
            (t2 >> 3, (t2 & 7).toInt) match {
              case (1, 2) => pend += ((7, gr.sub()))
              case (2, 0) => temporality = gr.varint().toInt
              case (3, 0) => monotonic = gr.varint() != 0L
              case (_, wt) => gr.skip(wt)
            }
          }
        case (9, 2) | (10, 2) | (11, 2) => // histogram / exp histogram / summary
          val kind = (tag >> 3).toInt
          val gr = r.sub()
          while (gr.hasMore) {
            val t2 = gr.varint()
            (t2 >> 3, (t2 & 7).toInt) match {
              case (1, 2) => pend += ((kind, gr.sub()))
              case (2, 0) => temporality = gr.varint().toInt
              case (_, wt) => gr.skip(wt)
            }
          }
        case (_, wt) => r.skip(wt)
      }
    }
    // a monotonic delta sum converted to cumulative IS a counter
    val isCounter = monotonic && (temporality == 2 || delta.isDefined)
    val base0 = sanitize(name)
    val base = if (isCounter && !base0.endsWith("_total")) base0 + "_total" else base0
    var latest = 0L
    def ms(nano: Long): Long = nano / 1000000L
    def lbls(attrs: Map[String, String], n: String) =
      ids ++ attrs.map { case (k, v) => sanitize(k) -> v } + ("__name__" -> n)
    val mtype = pend.headOption.map(_._1) match {
      case Some(5) => "gauge"
      case Some(7) => if (isCounter) "counter" else "gauge"
      case Some(9) | Some(10) => "histogram"
      case Some(11) => "summary"
      case _ => "unknown"
    }
    if (base.nonEmpty) meta(base) = (mtype, unit, desc)
    pend.foreach { case (kind, pr) =>
      kind match {
        case 5 | 7 =>
          if (kind == 5 || temporality == 2) { // gauges have no temporality
            val p = decodeNumPoint(pr)
            latest = math.max(latest, ms(p.tNano))
            out += Sample(lbls(p.attrs, base), ms(p.tNano), p.v, ms(p.stNano))
            p.exemplars.foreach(e =>
              exOut += ((lbls(p.attrs, base), e.labels, ms(e.tNano), e.v)))
          } else delta.foreach { c => // delta sum → running cumulative total
            val p = decodeNumPoint(pr)
            val key = lbls(p.attrs, base)
            c.addNum(key, p.stNano, p.tNano, p.v).foreach { case (cum, st) =>
              latest = math.max(latest, ms(p.tNano))
              out += Sample(key, ms(p.tNano), cum, ms(st))
              p.exemplars.foreach(e => exOut += ((key, e.labels, ms(e.tNano), e.v)))
            }
          }
        case 9 =>
          // classic series: cumulative le buckets + +Inf, _sum, _count —
          // or, under convert_histograms_to_nhcb, ONE custom-bounds native
          // histogram (OTLP bucket_counts are already per-bucket, so they
          // map straight onto the NHCB bucket vector; ref otlptranslator
          // histograms.go NHCB conversion)
          def emitClassic(attrs: Map[String, String], t: Long, st: Long,
              bounds: Seq[Double], counts: Seq[Long], count: Double,
              sum: Double, hasSum: Boolean): Unit = {
            if (cfg.convertHistogramsToNhcb) {
              val n = bounds.length + 1
              val diffs = (0 until n).map(i => counts.lift(i).getOrElse(0L).toDouble)
              val h = graft.promql.FHist(graft.promql.FHist.CustomSchema,
                0.0, 0.0, count, if (hasSum) sum else 0.0,
                diffs.indices, diffs, Nil, Nil, bounds,
                graft.promql.FHist.HintUnknown).compact
              out += Sample(lbls(attrs, base), t, Double.NaN, st, Some(h))
              return
            }
            var cum = 0.0
            bounds.zipWithIndex.foreach { case (b, i) =>
              cum += counts.lift(i).getOrElse(0L).toDouble
              out += Sample(lbls(attrs, base + "_bucket") +
                ("le" -> graft.web.Json.goFloat(b)), t, cum, st)
            }
            out += Sample(lbls(attrs, base + "_bucket") + ("le" -> "+Inf"), t, count, st)
            if (hasSum) out += Sample(lbls(attrs, base + "_sum"), t, sum, st)
            out += Sample(lbls(attrs, base + "_count"), t, count, st)
          }
          // exemplars attach to the bucket whose bound first covers the value
          // (ref: otlptranslator histograms.go addExemplars)
          def emitHistExemplars(p: HistPoint): Unit = p.exemplars.foreach { e =>
            if (cfg.convertHistogramsToNhcb)
              exOut += ((lbls(p.attrs, base), e.labels, ms(e.tNano), e.v))
            else {
              val le = p.bounds.find(_ >= e.v).map(graft.web.Json.goFloat)
                .getOrElse("+Inf")
              exOut += ((lbls(p.attrs, base + "_bucket") + ("le" -> le),
                e.labels, ms(e.tNano), e.v))
            }
          }
          if (temporality == 2) {
            val p = decodeHistPoint(pr)
            val t = ms(p.tNano); latest = math.max(latest, t)
            emitClassic(p.attrs, t, ms(p.stNano), p.bounds, p.bucketCounts,
              p.count, p.sum, p.hasSum)
            emitHistExemplars(p)
          } else delta.foreach { c => // delta histogram → running bucket totals
            val p = decodeHistPoint(pr)
            c.addHist(lbls(p.attrs, base), p.stNano, p.tNano, p.bounds,
                p.bucketCounts, p.count, p.sum, p.hasSum)
              .foreach { case (counts, count, sum, hasSum, stN) =>
                val t = ms(p.tNano); latest = math.max(latest, t)
                emitClassic(p.attrs, t, ms(stN), p.bounds, counts, count, sum, hasSum)
                emitHistExemplars(p)
              }
          }
        case 10 =>
          if (temporality == 2) {
            val p = decodeExpPoint(pr)
            val t = ms(p.tNano); latest = math.max(latest, t)
            out += Sample(lbls(p.attrs, base), t, Double.NaN, ms(p.stNano),
              Some(expToFHist(p)))
            p.exemplars.foreach(e =>
              exOut += ((lbls(p.attrs, base), e.labels, ms(e.tNano), e.v)))
          } else delta.foreach { c => // delta exp histogram → native-hist sum
            val p = decodeExpPoint(pr)
            val key = lbls(p.attrs, base)
            c.addExp(key, p.stNano, p.tNano, expToFHist(p)).foreach { case (h, stN) =>
              val t = ms(p.tNano); latest = math.max(latest, t)
              out += Sample(key, t, Double.NaN, ms(stN), Some(h))
              p.exemplars.foreach(e => exOut += ((key, e.labels, ms(e.tNano), e.v)))
            }
          }
        case 11 =>
          val p = decodeSummaryPoint(pr)
          val t = ms(p.tNano); latest = math.max(latest, t)
          val st = ms(p.stNano)
          out += Sample(lbls(p.attrs, base + "_count"), t, p.count, st)
          out += Sample(lbls(p.attrs, base + "_sum"), t, p.sum, st)
          p.quantiles.foreach { case (q, v) =>
            out += Sample(lbls(p.attrs, base) +
              ("quantile" -> graft.web.Json.goFloat(q)), t, v, st)
          }
        case _ =>
      }
    }
    latest
  }
}
