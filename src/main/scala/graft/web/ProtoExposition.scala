package graft.web

import graft.promql.FHist
import scala.collection.mutable

/** Prometheus protobuf exposition format (scrape content type
  * `application/vnd.google.protobuf; proto=io.prometheus.client.MetricFamily;
  * encoding=delimited`) — a stream of varint-length-delimited MetricFamily
  * messages (ref: model/textparse/protobufparse.go;
  * prompb/io/prometheus/client/metrics.proto).
  *
  * Emits the same magic-suffix series the reference's parser synthesizes
  * (protobufparse.go:653 getMagicName): summaries expand to `_count`/`_sum` +
  * one series per `quantile`, classic histograms to `_count`/`_sum` +
  * `_bucket{le=...}`; a Histogram carrying native fields (schema/spans)
  * becomes one native-histogram sample under the family name. Decoding is
  * edge-side (driver/bridge cardinality); the appended micro-batch is the
  * distributed part.
  */
object ProtoExposition {

  import ProtoWire.{Reader, zigzag}
  import RemoteWrite.Sample

  /** exemplars are (parent-series labels → exemplar); an exemplar with no
    * proto timestamp carries t = NoTs and the scrape stamps it with the
    * batch time (ref: scrape/scrape.go — exemplars without a timestamp
    * default to the sample's) */
  final case class Parsed(samples: Seq[Sample], meta: RemoteWrite.Meta,
      exemplars: Seq[(Map[String, String], graft.streaming.OpenMetrics.Exemplar)] = Nil)

  /** sentinel for "exemplar had no timestamp field" */
  val NoTs: Long = Long.MinValue

  private val typeNames = Map(0 -> "counter", 1 -> "gauge", 2 -> "summary",
    3 -> "unknown", 4 -> "histogram", 5 -> "gaugehistogram")

  /** google.protobuf.Timestamp {seconds=1, nanos=2} → ms */
  private def tsMs(r: Reader): Long = {
    var sec = 0L; var nanos = 0L
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (1, 0) => sec = r.varint()
        case (2, 0) => nanos = r.varint()
        case (_, wt) => r.skip(wt)
      }
    }
    sec * 1000L + nanos / 1000000L
  }

  private def labelPair(r: Reader): (String, String) = {
    var n = ""; var v = ""
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (1, 2) => n = r.str()
        case (2, 2) => v = r.str()
        case (_, wt) => r.skip(wt)
      }
    }
    (n, v)
  }

  /** dto.Exemplar {label=1, value=2, timestamp=3} (metrics.proto:137);
    * a missing timestamp → t = [[NoTs]] */
  private def exemplarMsg(r: Reader): graft.streaming.OpenMetrics.Exemplar = {
    val lbls = mutable.Map[String, String]()
    var v = 0.0; var t = NoTs
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (1, 2) => lbls += labelPair(r.sub())
        case (2, 1) => v = java.lang.Double.longBitsToDouble(r.fixed64())
        case (3, 2) => t = tsMs(r.sub())
        case (_, wt) => r.skip(wt)
      }
    }
    graft.streaming.OpenMetrics.Exemplar(lbls.toMap, v, t)
  }

  private final case class HistParsed(
      classic: Seq[(Double, Double)], cnt: Double, sum: Double, stt: Long,
      native: Option[FHist],
      // per-bucket exemplars as (le, exemplar) (metrics.proto:123 Bucket.exemplar)
      bucketExemplars: Seq[(Double, graft.streaming.OpenMetrics.Exemplar)],
      // Histogram.exemplars=16 — native-histogram exemplars, MUST have ts
      histExemplars: Seq[graft.streaming.OpenMetrics.Exemplar])

  /** dto.Histogram — NOTE: different field numbering than prompb.Histogram
    * (metrics.proto:75-117). */
  private def histogram(r: Reader, gauge: Boolean): HistParsed = {
    var cntI = 0L; var cntF = Double.NaN; var sum = 0.0
    var schema = 0; var zt = 0.0; var zcI = 0L; var zcF = Double.NaN
    var stt = 0L
    var sawNative = false
    val classic = mutable.ArrayBuffer[(Double, Double)]()
    val negSpans = mutable.ArrayBuffer[(Int, Int)]()
    val posSpans = mutable.ArrayBuffer[(Int, Int)]()
    val negDeltas = mutable.ArrayBuffer[Long]()
    val posDeltas = mutable.ArrayBuffer[Long]()
    val negCounts = mutable.ArrayBuffer[Double]()
    val posCounts = mutable.ArrayBuffer[Double]()
    def span(sr: Reader): (Int, Int) = {
      var off = 0; var len = 0
      while (sr.hasMore) {
        val t = sr.varint()
        (t >> 3, (t & 7).toInt) match {
          case (1, 0) => off = zigzag(sr.varint()).toInt
          case (2, 0) => len = sr.varint().toInt
          case (_, wt) => sr.skip(wt)
        }
      }
      (off, len)
    }
    val bucketEx = mutable.ArrayBuffer[(Double, graft.streaming.OpenMetrics.Exemplar)]()
    val histEx = mutable.ArrayBuffer[graft.streaming.OpenMetrics.Exemplar]()
    def bucket(br: Reader): (Double, Double) = {
      var le = 0.0; var ccI = 0L; var ccF = Double.NaN
      var ex: Option[graft.streaming.OpenMetrics.Exemplar] = None
      while (br.hasMore) {
        val t = br.varint()
        (t >> 3, (t & 7).toInt) match {
          case (1, 0) => ccI = br.varint()
          case (2, 1) => le = java.lang.Double.longBitsToDouble(br.fixed64())
          case (3, 2) => ex = Some(exemplarMsg(br.sub()))
          case (4, 1) => ccF = java.lang.Double.longBitsToDouble(br.fixed64())
          case (_, wt) => br.skip(wt)
        }
      }
      ex.foreach(e => bucketEx += ((le, e)))
      (le, if (!ccF.isNaN) ccF else ccI.toDouble)
    }
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (1, 0) => cntI = r.varint()
        case (2, 1) => sum = java.lang.Double.longBitsToDouble(r.fixed64())
        case (3, 2) => classic += bucket(r.sub())
        case (4, 1) => cntF = java.lang.Double.longBitsToDouble(r.fixed64())
        case (5, 0) => schema = zigzag(r.varint()).toInt; sawNative = true
        case (6, 1) => zt = java.lang.Double.longBitsToDouble(r.fixed64()); sawNative = true
        case (7, 0) => zcI = r.varint(); sawNative = true
        case (8, 1) => zcF = java.lang.Double.longBitsToDouble(r.fixed64()); sawNative = true
        case (9, 2) => negSpans += span(r.sub()); sawNative = true
        case (10, 2) => { val s = r.sub(); while (s.hasMore) negDeltas += zigzag(s.varint()) }
        case (10, 0) => negDeltas += zigzag(r.varint())
        case (11, 2) => { val s = r.sub(); while (s.hasMore) negCounts += java.lang.Double.longBitsToDouble(s.fixed64()) }
        case (11, 1) => negCounts += java.lang.Double.longBitsToDouble(r.fixed64())
        case (12, 2) => posSpans += span(r.sub()); sawNative = true
        case (13, 2) => { val s = r.sub(); while (s.hasMore) posDeltas += zigzag(s.varint()) }
        case (13, 0) => posDeltas += zigzag(r.varint())
        case (14, 2) => { val s = r.sub(); while (s.hasMore) posCounts += java.lang.Double.longBitsToDouble(s.fixed64()) }
        case (14, 1) => posCounts += java.lang.Double.longBitsToDouble(r.fixed64())
        case (15, 2) => stt = tsMs(r.sub())
        case (16, 2) => histEx += exemplarMsg(r.sub())
        case (_, wt) => r.skip(wt)
      }
    }
    val cnt = if (!cntF.isNaN) cntF else cntI.toDouble
    val native =
      if (!sawNative) None
      else {
        def buckets(spans: Seq[(Int, Int)], deltas: Seq[Long], counts: Seq[Double])
            : (Seq[Int], Seq[Double]) = {
          val idx = mutable.ArrayBuffer[Int]()
          var cur = 0
          spans.foreach { case (off, len) =>
            cur += off
            (0 until len).foreach { _ => idx += cur; cur += 1 }
          }
          val vals =
            if (deltas.nonEmpty) deltas.scanLeft(0L)(_ + _).drop(1).map(_.toDouble)
            else counts
          (idx.toSeq, vals.toSeq)
        }
        val (pidx, pcnt) = buckets(posSpans.toSeq, posDeltas.toSeq, posCounts.toSeq)
        val (nidx, ncnt) = buckets(negSpans.toSeq, negDeltas.toSeq, negCounts.toSeq)
        // gauge histograms carry the GAUGE counter-reset hint (prompb value 3)
        Some(FHist(schema, zt, if (!zcF.isNaN) zcF else zcI.toDouble, cnt, sum,
          pidx, pcnt, nidx, ncnt, Nil, if (gauge) 3 else 0))
      }
    HistParsed(classic.toSeq, cnt, sum, stt, native, bucketEx.toSeq, histEx.toSeq)
  }

  /** one MetricFamily message → samples + exemplars */
  private def family(r: Reader, defaultTsMs: Long,
      meta: mutable.Map[String, (String, String, String)],
      exOut: mutable.ArrayBuffer[(Map[String, String], graft.streaming.OpenMetrics.Exemplar)],
      alwaysClassic: Boolean)
      : Seq[Sample] = {
    var name = ""; var help = ""; var unit = ""; var mtype = 3
    val out = mutable.ArrayBuffer[Sample]()
    val metricSubs = mutable.ArrayBuffer[Reader]()
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (1, 2) => name = r.str()
        case (2, 2) => help = r.str()
        case (3, 0) => mtype = r.varint().toInt
        case (4, 2) => metricSubs += r.sub()
        case (5, 2) => unit = r.str()
        case (_, wt) => r.skip(wt)
      }
    }
    meta(name) = (typeNames.getOrElse(mtype, "unknown"), unit, help)
    metricSubs.foreach { mr =>
      val base = mutable.Map[String, String]()
      var t = defaultTsMs
      var counterV = Double.NaN; var counterStt = 0L
      var counterEx: Option[graft.streaming.OpenMetrics.Exemplar] = None
      var gaugeV = Double.NaN; var untypedV = Double.NaN
      var summary: Option[(Double, Double, Seq[(Double, Double)], Long)] = None
      var hist: Option[HistParsed] = None
      while (mr.hasMore) {
        val tag = mr.varint()
        (tag >> 3, (tag & 7).toInt) match {
          case (1, 2) => base += labelPair(mr.sub())
          case (2, 2) => // gauge
            val gr = mr.sub()
            while (gr.hasMore) {
              val t2 = gr.varint()
              (t2 >> 3, (t2 & 7).toInt) match {
                case (1, 1) => gaugeV = java.lang.Double.longBitsToDouble(gr.fixed64())
                case (_, wt) => gr.skip(wt)
              }
            }
          case (3, 2) => // counter
            val cr = mr.sub()
            while (cr.hasMore) {
              val t2 = cr.varint()
              (t2 >> 3, (t2 & 7).toInt) match {
                case (1, 1) => counterV = java.lang.Double.longBitsToDouble(cr.fixed64())
                case (2, 2) => counterEx = Some(exemplarMsg(cr.sub()))
                case (3, 2) => counterStt = tsMs(cr.sub())
                case (_, wt) => cr.skip(wt)
              }
            }
          case (4, 2) => // summary
            val sr = mr.sub()
            var cnt = 0.0; var sum = 0.0; var stt = 0L
            val qs = mutable.ArrayBuffer[(Double, Double)]()
            while (sr.hasMore) {
              val t2 = sr.varint()
              (t2 >> 3, (t2 & 7).toInt) match {
                case (1, 0) => cnt = sr.varint().toDouble
                case (2, 1) => sum = java.lang.Double.longBitsToDouble(sr.fixed64())
                case (3, 2) =>
                  val qr = sr.sub()
                  var q = 0.0; var v = 0.0
                  while (qr.hasMore) {
                    val t3 = qr.varint()
                    (t3 >> 3, (t3 & 7).toInt) match {
                      case (1, 1) => q = java.lang.Double.longBitsToDouble(qr.fixed64())
                      case (2, 1) => v = java.lang.Double.longBitsToDouble(qr.fixed64())
                      case (_, wt) => qr.skip(wt)
                    }
                  }
                  qs += ((q, v))
                case (4, 2) => stt = tsMs(sr.sub())
                case (_, wt) => sr.skip(wt)
              }
            }
            summary = Some((cnt, sum, qs.toSeq, stt))
          case (5, 2) => // untyped
            val ur = mr.sub()
            while (ur.hasMore) {
              val t2 = ur.varint()
              (t2 >> 3, (t2 & 7).toInt) match {
                case (1, 1) => untypedV = java.lang.Double.longBitsToDouble(ur.fixed64())
                case (_, wt) => ur.skip(wt)
              }
            }
          case (7, 2) => hist = Some(histogram(mr.sub(), gauge = mtype == 5))
          case (6, 0) => t = mr.varint()
          case (_, wt) => mr.skip(wt)
        }
      }
      val lbl = base.toMap
      def named(n: String, extra: (String, String)*): Map[String, String] =
        lbl ++ extra + ("__name__" -> n)
      mtype match {
        case 0 => if (!counterV.isNaN) {
          out += Sample(named(name), t, counterV, counterStt)
          // one exemplar per counter series (ref: protobufparse.go:342
          // Exemplar — dto.Counter.exemplar; a missing ts is allowed)
          counterEx.foreach(e => exOut += ((named(name), e)))
        }
        case 1 => if (!gaugeV.isNaN) out += Sample(named(name), t, gaugeV)
        case 2 => summary.foreach { case (cnt, sum, qs, stt) =>
          out += Sample(named(name + "_count"), t, cnt, stt)
          out += Sample(named(name + "_sum"), t, sum, stt)
          qs.foreach { case (q, v) =>
            out += Sample(named(name, "quantile" -> Json.goFloat(q)), t, v, stt) }
        }
        case 4 | 5 => hist.foreach { hp =>
          hp.native match {
            case Some(h) =>
              out += Sample(named(name), t, Double.NaN, hp.stt, Some(h))
              // always_scrape_classic_histograms: ALSO expand the message's
              // classic section beside the native sample (ref:
              // protobufparse.go parseClassicHistograms / scrape.go
              // alwaysScrapeClassicHist)
              if (alwaysClassic) {
                out += Sample(named(name + "_count"), t, hp.cnt, hp.stt)
                out += Sample(named(name + "_sum"), t, hp.sum, hp.stt)
                hp.classic.foreach { case (le, cc) =>
                  out += Sample(named(name + "_bucket", "le" -> Json.goFloat(le)), t, cc, hp.stt) }
              }
              // native histograms: Histogram.exemplars (MUST carry ts,
              // ts-less ones dropped); when empty, fall back to bucket
              // exemplars that carry a ts (ref: protobufparse.go:345-378)
              val exs =
                if (hp.histExemplars.nonEmpty) hp.histExemplars
                else hp.bucketExemplars.map(_._2)
              exs.filter(_.t != NoTs).foreach(e => exOut += ((named(name), e)))
            case None =>
              out += Sample(named(name + "_count"), t, hp.cnt, hp.stt)
              out += Sample(named(name + "_sum"), t, hp.sum, hp.stt)
              hp.classic.foreach { case (le, cc) =>
                out += Sample(named(name + "_bucket", "le" -> Json.goFloat(le)), t, cc, hp.stt) }
              // classic expansion: each bucket's exemplar attaches to its
              // _bucket{le=...} series; ts optional (ref: protobufparse.go:366)
              hp.bucketExemplars.foreach { case (le, e) =>
                exOut += ((named(name + "_bucket", "le" -> Json.goFloat(le)), e)) }
          }
        }
        case _ => if (!untypedV.isNaN) out += Sample(named(name), t, untypedV)
      }
    }
    out.toSeq
  }

  /** parse a delimited MetricFamily stream */
  def parse(body: Array[Byte], defaultTsMs: Long,
      alwaysClassic: Boolean = false): Parsed = {
    val out = mutable.ArrayBuffer[Sample]()
    val exOut = mutable.ArrayBuffer[(Map[String, String], graft.streaming.OpenMetrics.Exemplar)]()
    val meta = mutable.Map[String, (String, String, String)]()
    val r = new Reader(body, 0, body.length)
    while (r.hasMore) {
      val fr = r.sub() // varint length prefix + MetricFamily bytes
      out ++= family(fr, defaultTsMs, meta, exOut, alwaysClassic)
    }
    Parsed(out.toSeq, meta.toMap, exOut.toSeq)
  }
}
