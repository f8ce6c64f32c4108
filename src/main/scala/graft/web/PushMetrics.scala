package graft.web

/** `promtool push metrics` analog (ref: cmd/promtool/metrics.go
  * PushMetrics + util/fmtutil MetricTextToWriteRequest): parse Prometheus
  * text exposition from files, attach extra job/labels, and POST the
  * snappy-compressed remote-write protobuf (v1 `prometheus.WriteRequest`
  * or v2 `io.prometheus.write.v2.Request`) to a receiver.
  *
  * Driver-side CLI — the receiving server does the distributed ingest.
  */
object PushMetrics {

  /** parse exposition text into remote-write samples; `extraLabels` are
    * added to every series, overriding parsed ones (ref: fmtutil's
    * labels map applied per time series); samples with no explicit
    * timestamp get `nowMs` */
  def parseText(text: String, extraLabels: Map[String, String],
      nowMs: Long): Seq[RemoteWrite.Sample] =
    text.linesIterator.flatMap(
      graft.streaming.Exposition.parseLine(_, nowMs)).map {
        case (lbls, t, v) => RemoteWrite.Sample(lbls ++ extraLabels, t, v)
      }.toSeq

  /** one HTTP POST of a sample batch; Right(()) on 2xx */
  def send(url: String, samples: Seq[RemoteWrite.Sample],
      v2: Boolean): Either[String, Unit] = {
    val body =
      if (v2) RemoteWrite.encodeV2(samples) else RemoteWrite.encodeV1(samples)
    try {
      val resp = OutboundHttp.default.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
          .header("Content-Encoding", "snappy")
          .header("Content-Type",
            if (v2) "application/x-protobuf;proto=io.prometheus.write.v2.Request"
            else "application/x-protobuf")
          .header("X-Prometheus-Remote-Write-Version",
            if (v2) "2.0.0" else "0.1.0")
          .header("User-Agent", "graft-push-metrics/0.1")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(body))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() / 100 == 2) Right(())
      else Left(s"HTTP ${resp.statusCode()}: ${resp.body().take(200)}")
    } catch { case e: Exception => Left(String.valueOf(e.getMessage)) }
  }

  /** push each file (reference prints per-file SUCCESS/FAILED and keeps
    * going); returns the per-file outcomes */
  def push(url: String, files: Seq[String], extraLabels: Map[String, String],
      v2: Boolean, nowMs: () => Long = () => System.currentTimeMillis())
      : Seq[(String, Either[String, Int])] =
    files.map { f =>
      val out =
        try {
          val text = new String(
            java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)),
            java.nio.charset.StandardCharsets.UTF_8)
          val samples = parseText(text, extraLabels, nowMs())
          if (samples.isEmpty) Left("no samples parsed")
          else send(url, samples, v2).map(_ => samples.size)
        } catch { case e: Exception => Left(String.valueOf(e.getMessage)) }
      f -> out
    }

  /** CLI: `runMain graft.web.PushMetrics <url> [--v1] [--label k=v]...
    * <file>...` — default proto is v2 like current promtool */
  def main(args: Array[String]): Unit = {
    var v2 = true
    val labels = scala.collection.mutable.Map[String, String]()
    val files = scala.collection.mutable.ArrayBuffer[String]()
    var url = ""
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--v1" => v2 = false
        case "--label" =>
          i += 1
          if (i >= args.length) {
            System.err.println("--label needs a k=v argument"); sys.exit(2)
          }
          args(i).split("=", 2) match {
            case Array(k, v) => labels(k) = v
            case _ => System.err.println(s"bad --label ${args(i)}"); sys.exit(2)
          }
        case a if url.isEmpty => url = a
        case a => files += a
      }
      i += 1
    }
    if (url.isEmpty || files.isEmpty) {
      System.err.println(
        "usage: PushMetrics <url> [--v1] [--label k=v]... <file>...")
      sys.exit(2)
    }
    val results = push(url, files.toSeq, labels.toMap, v2)
    var failed = false
    results.foreach {
      case (f, Right(n)) =>
        println(s"Parsing metrics file $f")
        println(s"  SUCCESS: $n samples pushed to remote write.")
      case (f, Left(err)) =>
        println(s"Parsing metrics file $f")
        System.err.println(s"  FAILED: $err")
        failed = true
    }
    if (failed) sys.exit(1)
  }
}
