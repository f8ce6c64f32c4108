package graft.web

import scala.collection.mutable

/** Prometheus remote-write receiver decoding: snappy-compressed protobuf
  * bodies in PRW 1.0 (`prometheus.WriteRequest`) or PRW 2.0
  * (`io.prometheus.write.v2.Request`) wire format
  * (ref: storage/remote/write_handler.go:270 + prompb proto definitions,
  * prompb/io/prometheus/write/v2/types.proto).
  *
  * The wire format is hand-decoded — only varint/fixed64/length-delimited
  * field parsing over the handful of message shapes PRW uses; no protobuf
  * runtime needed. Unknown fields are skipped per proto rules, so
  * exemplars/metadata/histogram fields pass through harmlessly (native
  * histogram payload decode is not wired yet — samples and labels are).
  *
  * At scale this is the HTTP edge of an ingest bridge: decode on the
  * receiving edge, append micro-batches to the store (SURVEY §2.1 remote
  * write → readStream).
  */
object RemoteWrite {

  import graft.promql.FHist
  import ProtoWire.{Reader, delim, f64, labelFields, message, vint, zigzag}

  final case class Sample(labels: Map[String, String], t: Long, v: Double,
      stt: Long = 0L, h: Option[FHist] = None) {
    /** this sample as a row of [[graft.promql.Engine.samplesSchema]] */
    def toRow: org.apache.spark.sql.Row =
      org.apache.spark.sql.Row(labels, t, v, false, h.map(FHist.toRow).orNull, stt)
  }

  /** family → (type, unit, help), from PRW 2.0 per-series metadata */
  type Meta = Map[String, (String, String, String)]

  /** prompb.Histogram (ref: prompb/types.proto:71-116 — span-RLE buckets
    * with delta- or absolute-count encodings) → the engine's sparse-index
    * [[FHist]]. Returns (hist, timestamp ms). */
  private def decodeHistogram(r: Reader): (FHist, Long) = {
    var cntI = 0L; var cntF = Double.NaN
    var sum = 0.0; var schema = 0; var zt = 0.0
    var zcI = 0L; var zcF = Double.NaN
    val negSpans = mutable.ArrayBuffer[(Int, Int)]()
    val posSpans = mutable.ArrayBuffer[(Int, Int)]()
    val negDeltas = mutable.ArrayBuffer[Long]()
    val posDeltas = mutable.ArrayBuffer[Long]()
    val negCounts = mutable.ArrayBuffer[Double]()
    val posCounts = mutable.ArrayBuffer[Double]()
    val customVals = mutable.ArrayBuffer[Double]()
    var crh = 0; var ts = 0L
    def span(sr: Reader): (Int, Int) = {
      var off = 0; var len = 0
      while (sr.hasMore) {
        val t2 = sr.varint()
        (t2 >> 3, (t2 & 7).toInt) match {
          case (1, 0) => off = zigzag(sr.varint()).toInt
          case (2, 0) => len = sr.varint().toInt
          case (_, wt) => sr.skip(wt)
        }
      }
      (off, len)
    }
    def packedZig(sr: Reader, out: mutable.ArrayBuffer[Long]): Unit =
      while (sr.hasMore) out += zigzag(sr.varint())
    def packedF64(sr: Reader, out: mutable.ArrayBuffer[Double]): Unit =
      while (sr.hasMore) out += java.lang.Double.longBitsToDouble(sr.fixed64())
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (1, 0) => cntI = r.varint()
        case (2, 1) => cntF = java.lang.Double.longBitsToDouble(r.fixed64())
        case (3, 1) => sum = java.lang.Double.longBitsToDouble(r.fixed64())
        case (4, 0) => schema = zigzag(r.varint()).toInt
        case (5, 1) => zt = java.lang.Double.longBitsToDouble(r.fixed64())
        case (6, 0) => zcI = r.varint()
        case (7, 1) => zcF = java.lang.Double.longBitsToDouble(r.fixed64())
        case (8, 2) => negSpans += span(r.sub())
        case (9, 2) => packedZig(r.sub(), negDeltas)
        case (9, 0) => negDeltas += zigzag(r.varint())
        case (10, 2) => packedF64(r.sub(), negCounts)
        case (10, 1) => negCounts += java.lang.Double.longBitsToDouble(r.fixed64())
        case (11, 2) => posSpans += span(r.sub())
        case (12, 2) => packedZig(r.sub(), posDeltas)
        case (12, 0) => posDeltas += zigzag(r.varint())
        case (13, 2) => packedF64(r.sub(), posCounts)
        case (13, 1) => posCounts += java.lang.Double.longBitsToDouble(r.fixed64())
        case (14, 0) => crh = r.varint().toInt
        case (15, 0) => ts = r.varint()
        case (16, 2) => packedF64(r.sub(), customVals)
        case (16, 1) => customVals += java.lang.Double.longBitsToDouble(r.fixed64())
        case (_, wt) => r.skip(wt)
      }
    }
    /** span-RLE → (sparse indexes, counts); values are delta-cumulative for
      * integer histograms, absolute for float histograms */
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
    val h = FHist(schema, zt,
      if (!zcF.isNaN) zcF else zcI.toDouble,
      if (!cntF.isNaN) cntF else cntI.toDouble,
      sum, pidx, pcnt, nidx, ncnt, customVals.toSeq, crh)
    (h, ts)
  }

  private def decodeSample(r: Reader): (Double, Long) = {
    var v = 0.0; var t = 0L
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (1, 1) => v = java.lang.Double.longBitsToDouble(r.fixed64())
        case (2, 0) => t = r.varint()
        case (_, wt) => r.skip(wt)
      }
    }
    (v, t)
  }

  /** PRW 1.0: WriteRequest{ repeated TimeSeries{ repeated Label{name,value},
    * repeated Sample{value,timestamp} } } */
  def decodeV1(body: Array[Byte]): Seq[Sample] = {
    val out = mutable.ArrayBuffer[Sample]()
    val r = new Reader(body, 0, body.length)
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (1, 2) => // timeseries
          val ts = r.sub()
          val labels = mutable.Map[String, String]()
          val samples = mutable.ArrayBuffer[(Double, Long)]()
          val hists = mutable.ArrayBuffer[(FHist, Long)]()
          while (ts.hasMore) {
            val t2 = ts.varint()
            (t2 >> 3, (t2 & 7).toInt) match {
              case (1, 2) => // label
                val lr = ts.sub()
                var n = ""; var v = ""
                while (lr.hasMore) {
                  val t3 = lr.varint()
                  (t3 >> 3, (t3 & 7).toInt) match {
                    case (1, 2) => n = lr.str()
                    case (2, 2) => v = lr.str()
                    case (_, wt) => lr.skip(wt)
                  }
                }
                labels(n) = v
              case (2, 2) => samples += decodeSample(ts.sub())
              case (4, 2) => hists += decodeHistogram(ts.sub())
              case (_, wt) => ts.skip(wt)
            }
          }
          val lm = labels.toMap
          samples.foreach { case (v, t) => out += Sample(lm, t, v) }
          hists.foreach { case (h, t) => out += Sample(lm, t, Double.NaN, 0L, Some(h)) }
        case (_, wt) => r.skip(wt)
      }
    }
    out.toSeq
  }

  /** PRW 2.0: Request{ repeated string symbols = 4,
    * repeated TimeSeries{ packed uint32 labels_refs = 1,
    * repeated Sample = 2, created_timestamp = 6 } = 5 }.
    * labels_refs are (name,value) symbol-index pairs; created_timestamp
    * feeds the start-timestamp column (PROM-60). */
  def decodeV2(body: Array[Byte]): Seq[Sample] = decodeV2Full(body)._1

  /** v2 decode including per-series Metadata (type=1, help_ref=3,
    * unit_ref=4 — symbol-table indices; ref write/v2/types.proto:140-158) */
  def decodeV2Full(body: Array[Byte]): (Seq[Sample], Meta) = {
    val symbols = mutable.ArrayBuffer[String]()
    final case class TsRaw(refs: Seq[Int], samples: Seq[(Double, Long)],
      hists: Seq[(FHist, Long)], createdTs: Long, mType: Int, helpRef: Int, unitRef: Int)
    val rawSeries = mutable.ArrayBuffer[TsRaw]()
    val r = new Reader(body, 0, body.length)
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (4, 2) => symbols += r.str()
        case (5, 2) =>
          val ts = r.sub()
          val refs = mutable.ArrayBuffer[Int]()
          val samples = mutable.ArrayBuffer[(Double, Long)]()
          val hists = mutable.ArrayBuffer[(FHist, Long)]()
          var created = 0L
          var mType = 0; var helpRef = 0; var unitRef = 0
          while (ts.hasMore) {
            val t2 = ts.varint()
            (t2 >> 3, (t2 & 7).toInt) match {
              case (1, 2) => // packed labels_refs
                val pr = ts.sub()
                while (pr.hasMore) refs += pr.varint().toInt
              case (1, 0) => refs += ts.varint().toInt // unpacked fallback
              case (2, 2) => samples += decodeSample(ts.sub())
              case (3, 2) => hists += decodeHistogram(ts.sub())
              case (5, 2) =>
                val mr = ts.sub()
                while (mr.hasMore) {
                  val t3 = mr.varint()
                  (t3 >> 3, (t3 & 7).toInt) match {
                    case (1, 0) => mType = mr.varint().toInt
                    case (3, 0) => helpRef = mr.varint().toInt
                    case (4, 0) => unitRef = mr.varint().toInt
                    case (_, wt) => mr.skip(wt)
                  }
                }
              case (6, 0) => created = ts.varint()
              case (_, wt) => ts.skip(wt)
            }
          }
          rawSeries += TsRaw(refs.toSeq, samples.toSeq, hists.toSeq, created,
            mType, helpRef, unitRef)
        case (_, wt) => r.skip(wt)
      }
    }
    val typeNames = Map(1 -> "counter", 2 -> "gauge", 3 -> "histogram",
      4 -> "gaugehistogram", 5 -> "summary", 6 -> "info", 7 -> "stateset")
    val metaOut = mutable.Map[String, (String, String, String)]()
    val samplesOut = rawSeries.toSeq.flatMap { raw =>
      val labels = raw.refs.grouped(2).collect {
        case Seq(n, v) if n < symbols.length && v < symbols.length =>
          symbols(n) -> symbols(v)
      }.toMap
      labels.get("__name__").foreach { fam =>
        if (raw.mType != 0 || raw.helpRef != 0 || raw.unitRef != 0)
          metaOut(fam) = (typeNames.getOrElse(raw.mType, "unknown"),
            if (raw.unitRef < symbols.length) symbols(raw.unitRef) else "",
            if (raw.helpRef < symbols.length) symbols(raw.helpRef) else "")
      }
      raw.samples.map { case (v, t) => Sample(labels, t, v, raw.createdTs) } ++
        raw.hists.map { case (h, t) => Sample(labels, t, Double.NaN, raw.createdTs, Some(h)) }
    }
    (samplesOut, metaOut.toMap)
  }

  /** full receiver path: snappy-decompress (block format, ref
    * write_handler.go decompression) + decode by content-type version */
  def decode(body: Array[Byte], isV2: Boolean, snappyCompressed: Boolean = true): Seq[Sample] =
    decodeFull(body, isV2, snappyCompressed)._1

  /** decode with PRW 2.0 metadata (empty for 1.0) */
  def decodeFull(body: Array[Byte], isV2: Boolean, snappyCompressed: Boolean = true)
      : (Seq[Sample], Meta) = {
    val raw = if (snappyCompressed) org.xerial.snappy.Snappy.uncompress(body) else body
    if (isV2) decodeV2Full(raw) else (decodeV1(raw), Map.empty)
  }

  /** test/helper encoder (block-compressed PRW 1.0) — lets specs and local
    * producers exercise the receiver without a protobuf runtime */
  def encodeV1(samples: Seq[Sample]): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    samples.groupBy(_.labels).foreach { case (labels, ss) =>
      delim(bo, 1, message { tso =>
        labelFields(tso, labels)
        ss.foreach(s => delim(tso, 2, message { so => f64(so, 1, s.v); vint(so, 2 << 3); vint(so, s.t) }))
      })
    }
    org.xerial.snappy.Snappy.compress(bo.toByteArray)
  }

  /** PRW 2.0 encoder (block-compressed): symbol table + labels_refs series,
    * float samples AND native histograms (ref: prompb/io/prometheus/write/v2/
    * types.proto — Request{symbols=4, timeseries=5}; TimeSeries{labels_refs=1,
    * samples=2, histograms=3, created_timestamp=6}). Histograms are emitted
    * in FLOAT form (count_float, zero_count_float, packed counts) — the sparse FHist
    * representation maps 1:1 and receivers accept either family. This is the
    * sending half the forwarder uses for v2 endpoints. */
  def encodeV2(samples: Seq[Sample]): Array[Byte] =
    encodeV2(samples, Map.empty)

  /** v2 encode with per-series inline metadata (PRW 2.0 carries metadata
    * ON the TimeSeries, field 5 — type enum / help_ref / unit_ref into the
    * shared symbol table; ref the v2 spec's Metadata message and the
    * decode mirror above). `meta` is keyed by metric family name. */
  def encodeV2(samples: Seq[Sample], meta: Meta): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    def zig(v: Long): Long = (v << 1) ^ (v >> 63)
    def packedF64(o: java.io.ByteArrayOutputStream, tag: Int, vs: Seq[Double]): Unit =
      if (vs.nonEmpty) delim(o, tag, message(p => vs.foreach(ProtoWire.double(p, _))))
    /** sparse indexes → span-RLE (offset deltas between runs) */
    def spansOf(o: java.io.ByteArrayOutputStream, tag: Int, idx: Seq[Int]): Unit = {
      var prevEnd = 0
      var i = 0
      while (i < idx.length) {
        val start = idx(i)
        var j = i
        while (j + 1 < idx.length && idx(j + 1) == idx(j) + 1) j += 1
        delim(o, tag, message { so =>
          vint(so, 1 << 3); vint(so, zig((start - prevEnd).toLong)) // offset
          vint(so, 2 << 3); vint(so, (j - i + 1).toLong) // length
        })
        prevEnd = idx(j) + 1
        i = j + 1
      }
    }
    def histMsg(h: graft.promql.FHist, t: Long): Array[Byte] = message { ho =>
      f64(ho, 2, h.cnt) // count_float
      f64(ho, 3, h.sum)
      vint(ho, 4 << 3); vint(ho, zig(h.schema.toLong))
      f64(ho, 5, h.zt)
      f64(ho, 7, h.zc) // zero_count_float
      spansOf(ho, 8, h.nidx)
      packedF64(ho, 10, h.ncnt)
      spansOf(ho, 11, h.pidx)
      packedF64(ho, 13, h.pcnt)
      if (h.crh != 0) { vint(ho, 14 << 3); vint(ho, h.crh.toLong) }
      vint(ho, 15 << 3); vint(ho, t)
      packedF64(ho, 16, h.cv)
    }
    // symbol table: index 0 is the empty string per spec
    val symIdx = mutable.LinkedHashMap[String, Int]("" -> 0)
    def sym(s: String): Int = symIdx.getOrElseUpdate(s, symIdx.size)
    val seriesBodies = samples.groupBy(_.labels).toSeq.map { case (labels, ss) => message { tso =>
      delim(tso, 1, message(refs => labels.toSeq.sortBy(_._1).foreach { case (n, v) =>
        vint(refs, sym(n).toLong); vint(refs, sym(v).toLong)
      }))
      ss.foreach { s =>
        s.h match {
          case Some(h) => delim(tso, 3, histMsg(h, s.t))
          case None => delim(tso, 2, message { so => f64(so, 1, s.v); vint(so, 2 << 3); vint(so, s.t) })
        }
      }
      ss.map(_.stt).find(_ != 0L).foreach { ct =>
        vint(tso, 6 << 3); vint(tso, ct)
      }
      labels.get("__name__").flatMap(meta.get).foreach { case (typ, unit, help) =>
        val typeIds = Map("counter" -> 1, "gauge" -> 2, "histogram" -> 3,
          "gaugehistogram" -> 4, "summary" -> 5, "info" -> 6, "stateset" -> 7)
        delim(tso, 5, message { mo =>
          typeIds.get(typ.toLowerCase).foreach { id =>
            vint(mo, 1 << 3); vint(mo, id.toLong) }
          if (help.nonEmpty) { vint(mo, 3 << 3); vint(mo, sym(help).toLong) }
          if (unit.nonEmpty) { vint(mo, 4 << 3); vint(mo, sym(unit).toLong) }
        })
      }
    } }
    symIdx.keys.foreach(s => delim(bo, 4, s.getBytes("UTF-8")))
    seriesBodies.foreach(delim(bo, 5, _))
    org.xerial.snappy.Snappy.compress(bo.toByteArray)
  }
}
