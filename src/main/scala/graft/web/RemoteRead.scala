package graft.web

import graft.promql.{LabelMatcher, MatchOp}
import scala.collection.mutable

/** Prometheus remote-read protocol: snappy-compressed protobuf
  * `prompb.ReadRequest` / `ReadResponse` (SAMPLES response type; ref:
  * storage/remote/read_handler.go + prompb/remote.proto), over the shared
  * [[ProtoWire]] reader and writer.
  *
  * Server side: [[decodeRequest]] → evaluate each query over the store →
  * [[encodeResponse]]. Client side: [[RemoteReadClient]] issues the same
  * request against a remote endpoint and decodes the response — the read
  * half of fanout (ref: storage/fanout.go:45).
  */
object RemoteRead {

  import ProtoWire.{Reader, delim, f64, labelFields, message, vint}

  final case class Query(startMs: Long, endMs: Long, matchers: List[LabelMatcher])
  final case class Series(labels: Map[String, String], samples: Seq[(Long, Double)])

  // ---------- request ----------

  /** prompb.LabelMatcher.Type: EQ=0 NEQ=1 RE=2 NRE=3 */
  private def matchOp(i: Long): MatchOp = i match {
    case 0 => MatchOp.Eq
    case 1 => MatchOp.Neq
    case 2 => MatchOp.Re
    case 3 => MatchOp.NotRe
    case other => throw new IllegalArgumentException(s"unknown matcher type $other")
  }
  private def matchOpCode(op: MatchOp): Int = op match {
    case MatchOp.Eq => 0
    case MatchOp.Neq => 1
    case MatchOp.Re => 2
    case MatchOp.NotRe => 3
  }

  /** prompb ReadRequest.ResponseType */
  val RespSamples = 0
  val RespStreamedXorChunks = 1

  /** ReadRequest{ repeated Query{ int64 start=1; int64 end=2;
    * repeated LabelMatcher{type=1,name=2,value=3} = 3 } = 1 } */
  def decodeRequest(body: Array[Byte], snappyCompressed: Boolean = true): Seq[Query] =
    decodeRequestFull(body, snappyCompressed)._1

  /** [[decodeRequest]] plus the client's `accepted_response_types` (field 2,
    * packed or unpacked varints — ref: read_handler.go:134
    * negotiateResponseType: first accepted type wins, an empty list means
    * SAMPLES). */
  def decodeRequestFull(body: Array[Byte], snappyCompressed: Boolean = true): (Seq[Query], Seq[Int]) = {
    val raw = if (snappyCompressed) org.xerial.snappy.Snappy.uncompress(body) else body
    val out = mutable.ArrayBuffer[Query]()
    val accepted = mutable.ArrayBuffer[Int]()
    val r = new Reader(raw, 0, raw.length)
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (2, 0) => accepted += r.varint().toInt
        case (2, 2) =>
          val pr = r.sub()
          while (pr.hasMore) accepted += pr.varint().toInt
        case (1, 2) =>
          val q = r.sub()
          var start = 0L; var end = 0L
          val ms = mutable.ListBuffer[LabelMatcher]()
          while (q.hasMore) {
            val t2 = q.varint()
            (t2 >> 3, (t2 & 7).toInt) match {
              case (1, 0) => start = q.varint()
              case (2, 0) => end = q.varint()
              case (3, 2) =>
                val mr = q.sub()
                var tpe = 0L; var n = ""; var v = ""
                while (mr.hasMore) {
                  val t3 = mr.varint()
                  (t3 >> 3, (t3 & 7).toInt) match {
                    case (1, 0) => tpe = mr.varint()
                    case (2, 2) => n = mr.str()
                    case (3, 2) => v = mr.str()
                    case (_, wt) => mr.skip(wt)
                  }
                }
                ms += LabelMatcher(n, matchOp(tpe), v)
              case (_, wt) => q.skip(wt)
            }
          }
          out += Query(start, end, ms.toList)
        case (_, wt) => r.skip(wt)
      }
    }
    (out.toSeq, accepted.toSeq)
  }

  def encodeRequest(queries: Seq[Query], acceptedTypes: Seq[Int] = Nil): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    acceptedTypes.foreach { t => vint(bo, 2 << 3); vint(bo, t.toLong) }
    queries.foreach(q => delim(bo, 1, message { qo =>
      vint(qo, 1 << 3); vint(qo, q.startMs)
      vint(qo, 2 << 3); vint(qo, q.endMs)
      q.matchers.foreach(m => delim(qo, 3, message { mo =>
        vint(mo, 1 << 3); vint(mo, matchOpCode(m.op).toLong)
        delim(mo, 2, m.name.getBytes("UTF-8"))
        delim(mo, 3, m.value.getBytes("UTF-8"))
      }))
    }))
    org.xerial.snappy.Snappy.compress(bo.toByteArray)
  }

  // ---------- response ----------

  /** ReadResponse{ repeated QueryResult{ repeated TimeSeries{
    * repeated Label=1; repeated Sample{value=1,timestamp=2}=2 } = 1 } = 1 } */
  def encodeResponse(results: Seq[Seq[Series]]): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    results.foreach(series => delim(bo, 1, message { qr =>
      series.foreach(s => delim(qr, 1, message { tso =>
        labelFields(tso, s.labels)
        s.samples.sortBy(_._1).foreach { case (t, v) =>
          delim(tso, 2, message { so => f64(so, 1, v); vint(so, 2 << 3); vint(so, t) })
        }
      }))
    }))
    org.xerial.snappy.Snappy.compress(bo.toByteArray)
  }

  def decodeResponse(body: Array[Byte], snappyCompressed: Boolean = true): Seq[Seq[Series]] = {
    val raw = if (snappyCompressed) org.xerial.snappy.Snappy.uncompress(body) else body
    val out = mutable.ArrayBuffer[Seq[Series]]()
    val r = new Reader(raw, 0, raw.length)
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (1, 2) =>
          val qr = r.sub()
          val series = mutable.ArrayBuffer[Series]()
          while (qr.hasMore) {
            val t2 = qr.varint()
            (t2 >> 3, (t2 & 7).toInt) match {
              case (1, 2) =>
                val ts = qr.sub()
                val labels = mutable.Map[String, String]()
                val samples = mutable.ArrayBuffer[(Long, Double)]()
                while (ts.hasMore) {
                  val t3 = ts.varint()
                  (t3 >> 3, (t3 & 7).toInt) match {
                    case (1, 2) =>
                      val lr = ts.sub()
                      var n = ""; var v = ""
                      while (lr.hasMore) {
                        val t4 = lr.varint()
                        (t4 >> 3, (t4 & 7).toInt) match {
                          case (1, 2) => n = lr.str()
                          case (2, 2) => v = lr.str()
                          case (_, wt) => lr.skip(wt)
                        }
                      }
                      labels(n) = v
                    case (2, 2) =>
                      val sr = ts.sub()
                      var v = 0.0; var t = 0L
                      while (sr.hasMore) {
                        val t4 = sr.varint()
                        (t4 >> 3, (t4 & 7).toInt) match {
                          case (1, 1) => v = java.lang.Double.longBitsToDouble(sr.fixed64())
                          case (2, 0) => t = sr.varint()
                          case (_, wt) => sr.skip(wt)
                        }
                      }
                      samples += ((t, v))
                    case (_, wt) => ts.skip(wt)
                  }
                }
                series += Series(labels.toMap, samples.toSeq)
              case (_, wt) => qr.skip(wt)
            }
          }
          out += series.toSeq
        case (_, wt) => r.skip(wt)
      }
    }
    out.toSeq
  }

  // ---------- STREAMED_XOR_CHUNKS response (ref: read_handler.go:164
  // streamChunkedReadResponses + storage/remote/codec.go + chunked.go) ----------

  /** one chunk on the wire */
  final case class Chunk(minTimeMs: Long, maxTimeMs: Long, encoding: Int,
    data: Array[Byte])

  /** ChunkedReadResponse{ repeated ChunkedSeries{ repeated Label=1;
    * repeated Chunk{min_time_ms=1,max_time_ms=2,type=3,data=4}=2 } = 1;
    * int64 query_index = 2 } — NOT snappy-compressed (framing carries a
    * CRC instead; ref chunked.go doc) */
  def encodeChunkedBody(queryIndex: Long,
      series: Seq[(Map[String, String], Seq[Chunk])]): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    series.foreach { case (labels, chunks) => delim(bo, 1, message { so =>
      labelFields(so, labels)
      chunks.foreach(c => delim(so, 2, message { co =>
        vint(co, 1 << 3); vint(co, c.minTimeMs)
        vint(co, 2 << 3); vint(co, c.maxTimeMs)
        vint(co, 3 << 3); vint(co, c.encoding.toLong)
        delim(co, 4, c.data)
      }))
    }) }
    vint(bo, 2 << 3); vint(bo, queryIndex)
    bo.toByteArray
  }

  def decodeChunkedBody(body: Array[Byte]): (Long, Seq[(Map[String, String], Seq[Chunk])]) = {
    var queryIndex = 0L
    val series = mutable.ArrayBuffer[(Map[String, String], Seq[Chunk])]()
    val r = new Reader(body, 0, body.length)
    while (r.hasMore) {
      val tag = r.varint()
      (tag >> 3, (tag & 7).toInt) match {
        case (2, 0) => queryIndex = r.varint()
        case (1, 2) =>
          val sr = r.sub()
          val labels = mutable.Map[String, String]()
          val chunks = mutable.ArrayBuffer[Chunk]()
          while (sr.hasMore) {
            val t2 = sr.varint()
            (t2 >> 3, (t2 & 7).toInt) match {
              case (1, 2) =>
                val lr = sr.sub()
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
              case (2, 2) =>
                val cr = sr.sub()
                var minT = 0L; var maxT = 0L; var enc = 0; var data = Array.empty[Byte]
                while (cr.hasMore) {
                  val t3 = cr.varint()
                  (t3 >> 3, (t3 & 7).toInt) match {
                    case (1, 0) => minT = cr.varint()
                    case (2, 0) => maxT = cr.varint()
                    case (3, 0) => enc = cr.varint().toInt
                    case (4, 2) => data = cr.byteArray()
                    case (_, wt) => cr.skip(wt)
                  }
                }
                chunks += Chunk(minT, maxT, enc, data)
              case (_, wt) => sr.skip(wt)
            }
          }
          series += ((labels.toMap, chunks.toSeq))
        case (_, wt) => r.skip(wt)
      }
    }
    (queryIndex, series.toSeq)
  }

  /** cut a series into XOR chunks of ≤ `samplesPerChunk` time-sorted samples
    * (the TSDB head's 120-sample default) */
  def toChunks(samples: Seq[(Long, Double)], samplesPerChunk: Int = 120): Seq[Chunk] =
    samples.sortBy(_._1).grouped(samplesPerChunk).map { g =>
      Chunk(g.head._1, g.last._1, 1 /* XOR */, XorChunk.encode(g))
    }.toSeq

  /** Stream framing (ref: storage/remote/chunked.go ChunkedWriter.Write):
    * uvarint(len) + 4-byte big-endian CRC32C(data) + data. */
  def frame(data: Array[Byte]): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    vint(bo, data.length.toLong)
    val crc = new java.util.zip.CRC32C()
    crc.update(data)
    val c = crc.getValue
    bo.write(((c >> 24) & 0xff).toInt); bo.write(((c >> 16) & 0xff).toInt)
    bo.write(((c >> 8) & 0xff).toInt); bo.write((c & 0xff).toInt)
    bo.write(data)
    bo.toByteArray
  }

  /** split a concatenated frame stream back into frame bodies, verifying
    * each CRC (ref: chunked.go ChunkedReader.Next) */
  def deframe(stream: Array[Byte]): Seq[Array[Byte]] = {
    val out = mutable.ArrayBuffer[Array[Byte]]()
    val r = new Reader(stream, 0, stream.length)
    while (r.hasMore) {
      val len = r.varint().toInt
      var c = 0L; var i = 0
      while (i < 4) { c = (c << 8) | (stream(r.pos) & 0xffL); r.pos += 1; i += 1 }
      val data = java.util.Arrays.copyOfRange(stream, r.pos, r.pos + len)
      r.pos += len
      val crc = new java.util.zip.CRC32C()
      crc.update(data)
      if (crc.getValue != c)
        throw new IllegalArgumentException("chunked read: CRC mismatch")
      out += data
    }
    out.toSeq
  }
}

/** remote-read CLIENT: the read half of fanout (ref: storage/fanout.go:45,
  * storage/remote/client.go). Driver-side HTTP per query — result
  * cardinality is series×samples-in-range for the matched selector, the
  * same volume the reference's fanout pulls; at 100 TB the remote side does
  * the heavy filtering and this edge carries only matched series. */
final class RemoteReadClient(endpoint: String,
    // the remote_read HTTP client config (same contract as the forwarder:
    // protocol headers always win over a same-named custom header)
    clientCfg: graft.streaming.Config.HttpClientCfg =
      graft.streaming.Config.HttpClientCfg(),
    // remote_timeout (ref config.go DefaultRemoteReadConfig 1m)
    remoteTimeoutMs: Long = 60000L) {

  private val http = new OutboundHttp.Sender(clientCfg)

  def read(q: RemoteRead.Query): Seq[RemoteRead.Series] = read(q, streamed = false)

  /** `streamed = true` advertises STREAMED_XOR_CHUNKS (falling back to
    * SAMPLES when the server answers with the plain protobuf content type —
    * the reference client's negotiation, storage/remote/client.go Read) */
  def read(q: RemoteRead.Query, streamed: Boolean): Seq[RemoteRead.Series] = {
    val accepted =
      if (streamed) Seq(RemoteRead.RespStreamedXorChunks, RemoteRead.RespSamples)
      else Nil
    val req = http.decorate(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(endpoint))
          .timeout(java.time.Duration.ofMillis(remoteTimeoutMs)))
      .setHeader("Content-Type", "application/x-protobuf")
      .setHeader("Content-Encoding", "snappy")
      .setHeader("X-Prometheus-Remote-Read-Version", "0.1.0")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(
        RemoteRead.encodeRequest(Seq(q), accepted)))
      .build()
    val resp = http.client.send(req, java.net.http.HttpResponse.BodyHandlers.ofByteArray())
    if (resp.statusCode() != 200)
      throw new RuntimeException(s"remote read failed: HTTP ${resp.statusCode()}")
    val ct = resp.headers().firstValue("Content-Type").orElse("")
    if (ct.contains("ChunkedReadResponse")) {
      // merge frames: a series may span frames; chunks decode back to samples
      val bySeries = scala.collection.mutable.LinkedHashMap[Map[String, String],
        scala.collection.mutable.ArrayBuffer[(Long, Double)]]()
      RemoteRead.deframe(resp.body()).foreach { f =>
        val (qi, series) = RemoteRead.decodeChunkedBody(f)
        if (qi == 0L) series.foreach { case (labels, chunks) =>
          val buf = bySeries.getOrElseUpdate(labels,
            scala.collection.mutable.ArrayBuffer[(Long, Double)]())
          chunks.foreach(c => buf ++= XorChunk.decode(c.data))
        }
      }
      bySeries.map { case (l, pts) => RemoteRead.Series(l, pts.toSeq) }.toSeq
    } else RemoteRead.decodeResponse(resp.body()).headOption.getOrElse(Nil)
  }
}
