package graft.web

import graft.promql.Engine
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URI

/** End-to-end smoke of the v1 HTTP API over a loaded fixture: query,
  * query_range, series, labels, label values, federate, remote write,
  * delete_series (ref routes: web/api/v1/api.go:443-660). */
class HttpApiSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def fixtureStore(): SampleStore = {
    // two counters over 10 minutes at 30s resolution
    val rows = for {
      inst <- Seq("a", "b")
      k <- 0 to 20
    } yield Row(Map("__name__" -> "http_requests_total", "instance" -> inst,
        "job" -> "api"), k * 30000L, (if (inst == "a") 10.0 else 20.0) * k,
        false, null, 0L)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Engine.samplesSchema)
    new SampleStore(spark, df)
  }

  private val client = HttpClient.newHttpClient()
  private def get(port: Int, pathAndQuery: String): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$pathAndQuery")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def withApi(f: (Int, SampleStore) => Unit): Unit = {
    val store = fixtureStore()
    val api = new HttpApi(spark, store, 0, () => 600000L)
    api.start()
    try f(api.boundPort, store) finally api.stop()
  }

  test("instant query, range query, scalar and error paths") {
    withApi { (port, _) =>
      val (c1, b1) = get(port, "/api/v1/query?query=http_requests_total&time=600")
      assert(c1 == 200 && b1.contains("\"status\":\"success\""))
      assert(b1.contains("\"resultType\":\"vector\""))
      assert(b1.contains("\"instance\":\"a\"") && b1.contains("[600,\"200\"]"))

      val (c2, b2) = get(port,
        "/api/v1/query_range?query=sum(rate(http_requests_total%5B2m%5D))&start=120&end=600&step=60")
      assert(c2 == 200 && b2.contains("\"resultType\":\"matrix\""))
      assert(b2.contains("\"values\":[[120,\"1\"]")) // 10+20 per 30s = 1/s

      // a bare literal evaluates to a scalar (scalar(42) itself is a type
      // error in the reference: scalar() takes an instant vector)
      val (c3, b3) = get(port, "/api/v1/query?query=42&time=600")
      assert(c3 == 200 && b3.contains("\"resultType\":\"scalar\"") && b3.contains("[600,\"42\"]"))

      val (c4, b4) = get(port, "/api/v1/query?query=sum(")
      assert(c4 == 400 && b4.contains("\"errorType\":\"bad_data\""))

      val (c5, _) = get(port, "/api/v1/query_range?query=up&start=600&end=120&step=60")
      assert(c5 == 400)
    }
  }

  test("series, labels, label values, federate") {
    withApi { (port, _) =>
      val (c1, b1) = get(port, "/api/v1/series?match%5B%5D=http_requests_total%7Binstance%3D%22a%22%7D")
      assert(c1 == 200 && b1.contains("\"instance\":\"a\"") && !b1.contains("\"instance\":\"b\""))

      val (c2, b2) = get(port, "/api/v1/labels")
      assert(c2 == 200 && b2.contains("\"__name__\"") && b2.contains("\"instance\"") && b2.contains("\"job\""))

      val (c3, b3) = get(port, "/api/v1/label/instance/values")
      assert(c3 == 200 && b3.contains("[\"a\",\"b\"]"))

      val (c4, b4) = get(port, "/federate?match%5B%5D=http_requests_total")
      assert(c4 == 200)
      assert(b4.contains("http_requests_total{instance=\"a\",job=\"api\"} 200 600000"))
    }
  }

  test("openapi.yaml describes every GET/POST route the server registers") {
    withApi { (port, _) =>
      val (c, b) = get(port, "/api/v1/openapi.yaml")
      assert(c == 200)
      assert(b.startsWith("openapi: 3.1.0\n"))
      assert(b.contains("servers:\n    - url: /api/v1"))
      // spot-check required path + param structure
      assert(b.contains("    /query:\n"))
      assert(b.contains("summary: Evaluate an instant query"))
      assert(b.contains("- name: query\n"))
      assert(b.contains("    /label/{label_name}/values:\n"))
      assert(b.contains("    /admin/tsdb/delete_series:\n        post:"))
    }
  }

  test("remote write ingests and is queryable; delete_series tombstones") {
    withApi { (port, store) =>
      val payload = RemoteWrite.encodeV1(Seq(
        RemoteWrite.Sample(Map("__name__" -> "pushed_metric", "src" -> "rw"), 590000L, 7.0)))
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/write"))
          .header("Content-Encoding", "snappy")
          .header("Content-Type", "application/x-protobuf")
          .POST(HttpRequest.BodyPublishers.ofByteArray(payload)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 204)

      val (c1, b1) = get(port, "/api/v1/query?query=pushed_metric&time=600")
      assert(c1 == 200 && b1.contains("\"src\":\"rw\"") && b1.contains("[600,\"7\"]"))

      val del = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/api/v1/admin/tsdb/delete_series?match%5B%5D=pushed_metric"))
          .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(del.statusCode() == 204)

      val (c2, b2) = get(port, "/api/v1/query?query=pushed_metric&time=600")
      assert(c2 == 200 && !b2.contains("\"src\":\"rw\""))
      store.cleanTombstones()
      val (c3, b3) = get(port, "/api/v1/query?query=pushed_metric&time=600")
      assert(c3 == 200 && !b3.contains("\"src\":\"rw\""))
    }
  }

  test("PRW 2.0 symbol-table decode with created timestamp") {
    // hand-encode a v2 Request: symbols + one series with packed refs
    val bo = new java.io.ByteArrayOutputStream()
    def vint(o: java.io.ByteArrayOutputStream, x0: Long): Unit = {
      var x = x0
      while ((x & ~0x7fL) != 0) { o.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      o.write(x.toInt)
    }
    def delim(o: java.io.ByteArrayOutputStream, tag: Int, body: Array[Byte]): Unit = {
      vint(o, (tag << 3) | 2); vint(o, body.length); o.write(body)
    }
    // symbols: ["", "__name__", "m2", "job", "x"] (index 0 = empty per spec)
    Seq("", "__name__", "m2", "job", "x").foreach(s => delim(bo, 4, s.getBytes("UTF-8")))
    val ts = new java.io.ByteArrayOutputStream()
    val refs = new java.io.ByteArrayOutputStream()
    Seq(1, 2, 3, 4).foreach(i => vint(refs, i))
    delim(ts, 1, refs.toByteArray)
    val so = new java.io.ByteArrayOutputStream()
    vint(so, (1 << 3) | 1)
    val bits = java.lang.Double.doubleToLongBits(3.5)
    (0 until 8).foreach(i => so.write(((bits >> (8 * i)) & 0xff).toInt))
    vint(so, 2 << 3); vint(so, 123000L)
    delim(ts, 2, so.toByteArray)
    vint(ts, 6 << 3); vint(ts, 100000L) // created_timestamp
    delim(bo, 5, ts.toByteArray)

    val out = RemoteWrite.decodeV2(bo.toByteArray)
    assert(out == Seq(RemoteWrite.Sample(
      Map("__name__" -> "m2", "job" -> "x"), 123000L, 3.5, 100000L)))
  }

  test("PRW 2.0 encoder round-trips and v2 forwarding carries native histograms") {
    val h = graft.promql.FHist(0, math.pow(2, -128), 1.0, 6.0, 12.0,
      Seq(1, 2, 5), Seq(2.0, 3.0, 1.0), Seq(0), Seq(1.0), Nil, 1)
    val in = Seq(
      RemoteWrite.Sample(Map("__name__" -> "hm", "job" -> "j"), 1000L, Double.NaN, 500L, Some(h)),
      RemoteWrite.Sample(Map("__name__" -> "fm", "job" -> "j"), 2000L, 3.25))
    val (out, _) = RemoteWrite.decodeV2Full(
      org.xerial.snappy.Snappy.uncompress(RemoteWrite.encodeV2(in)))
    val byName = out.groupBy(_.labels("__name__"))
    assert(byName("fm").head.v == 3.25 && byName("fm").head.t == 2000L)
    assert(byName("fm").head.labels == Map("__name__" -> "fm", "job" -> "j"))
    // the sparse histogram survives the span-RLE round trip exactly
    assert(byName("hm").head.h.contains(h))
    assert(byName("hm").head.stt == 500L)

    // e2e: v2 forwarding ships float AND histogram rows to a receiver,
    // where the histogram is queryable
    val down = fixtureStore()
    val api = new HttpApi(spark, down, 0, () => 600000L)
    api.start()
    try {
      val src = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row(Map("__name__" -> "fwd_f"), 3000L, 1.5, false, null, 0L),
          Row(Map("__name__" -> "fwd_h"), 3000L, Double.NaN, false,
            graft.promql.FHist.toRow(h), 0L)), 1),
        Engine.samplesSchema)
      val n = new RemoteWriteForwarder(
        s"http://127.0.0.1:${api.boundPort}/api/v1/write", protoVersion = 2)
        .forward(src.collect())
      assert(n == 2L) // histogram row INCLUDED (v1 would drop it)
      val (c, b) = get(api.boundPort, "/api/v1/query?query=fwd_h&time=3")
      assert(c == 200 && b.contains("\"histogram\""), b)
      assert(b.contains("\"count\":\"6\"") && b.contains("\"sum\":\"12\""), b)
    } finally api.stop()
  }

  test("remote-write forwarding carries configured auth + custom headers; protocol headers win") {
    val seen = new java.util.concurrent.atomic.AtomicReference[Map[String, String]](Map.empty)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    server.createContext("/w", (ex: com.sun.net.httpserver.HttpExchange) => {
      import scala.jdk.CollectionConverters._
      seen.set(ex.getRequestHeaders.asScala.map { case (k, v) =>
        k.toLowerCase -> v.asScala.mkString(",") }.toMap)
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    server.start()
    try {
      val src = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row(Map("__name__" -> "m"), 1000L, 1.0, false, null, 0L)), 1),
        Engine.samplesSchema)
      val n = new RemoteWriteForwarder(
        s"http://127.0.0.1:${server.getAddress.getPort}/w",
        clientCfg = graft.streaming.Config.HttpClientCfg(enableHttp2 = false,
          authHeader = Some("Basic dXNlcjpwdw=="),
          headers = Map("X-Scope-OrgID" -> Seq("tenant-7"),
            // a reserved name slipping past config validation must NOT
            // shadow the protocol value at runtime
            "Content-Type" -> Seq("text/evil"))))
        .forward(src.collect())
      assert(n == 1L)
      val h = seen.get()
      assert(h("authorization") == "Basic dXNlcjpwdw==")
      assert(h("x-scope-orgid") == "tenant-7")
      assert(h("content-type") == "application/x-protobuf")
      assert(h("content-encoding") == "snappy")
      assert(h("x-prometheus-remote-write-version") == "0.1.0")
      // the remote-READ client honors the same contract (the 500 response
      // aborts the read after the headers are captured)
      server.createContext("/r", (ex: com.sun.net.httpserver.HttpExchange) => {
        import scala.jdk.CollectionConverters._
        seen.set(ex.getRequestHeaders.asScala.map { case (k, v) =>
          k.toLowerCase -> v.asScala.mkString(",") }.toMap)
        ex.sendResponseHeaders(500, -1); ex.close()
      })
      val rr = new RemoteReadClient(
        s"http://127.0.0.1:${server.getAddress.getPort}/r",
        graft.streaming.Config.HttpClientCfg(authHeader = Some("Bearer tok"),
          headers = Map("X-Scope-OrgID" -> Seq("t9"), "Content-Type" -> Seq("text/evil"))))
      intercept[RuntimeException](rr.read(RemoteRead.Query(0L, 1000L,
        List(graft.promql.LabelMatcher("__name__", graft.promql.MatchOp.Eq, "m")))))
      val h2 = seen.get()
      assert(h2("authorization") == "Bearer tok")
      assert(h2("x-scope-orgid") == "t9")
      assert(h2("content-type") == "application/x-protobuf")
    } finally server.stop(0)
  }

  test("sample budget refuses over-limit queries with the reference 422 shape") {
    val store = fixtureStore()
    // instant query at t=600 scans 10 in-lookback samples per series × 2
    val api = new HttpApi(spark, store, 0, () => 600000L,
      graft.promql.QueryLimits(maxSamples = 10L))
    api.start()
    try {
      val (c1, b1) = get(api.boundPort, "/api/v1/query?query=http_requests_total&time=600")
      assert(c1 == 422, b1)
      assert(b1.contains("\"errorType\":\"execution\""))
      assert(b1.contains(
        "query processing would load too many samples into memory in query execution"))
      // under-budget query on the same API still succeeds (one series)
      val (c2, b2) = get(api.boundPort,
        "/api/v1/query?query=http_requests_total%7Binstance%3D%22a%22%7D&time=600")
      assert(c2 == 200 && b2.contains("\"status\":\"success\""), b2)
    } finally api.stop()
  }

  test("query timeout cancels cleanly with the reference 503 shape") {
    val store = fixtureStore()
    val api = new HttpApi(spark, store, 0, () => 600000L,
      graft.promql.QueryLimits(timeoutMs = 1L))
    api.start()
    try {
      val (c, b) = get(api.boundPort, "/api/v1/query?query=sum(http_requests_total)&time=600")
      assert(c == 503, b)
      assert(b.contains("\"errorType\":\"timeout\"") && b.contains("query timed out in"), b)
    } finally api.stop()
    // the session must remain healthy for subsequent queries
    val api2 = new HttpApi(spark, store, 0, () => 600000L)
    api2.start()
    try {
      val (c2, b2) = get(api2.boundPort, "/api/v1/query?query=sum(http_requests_total)&time=600")
      assert(c2 == 200, b2)
    } finally api2.stop()
  }

  test("stats= renders timings and sample counts in the data envelope") {
    withApi { (port, _) =>
      val (c1, b1) = get(port, "/api/v1/query?query=http_requests_total&time=600&stats=all")
      assert(c1 == 200, b1)
      assert(b1.contains("\"stats\":{\"timings\":{"), b1)
      for (k <- Seq("evalTotalTime", "resultSortTime", "queryPreparationTime",
          "innerEvalTime", "execQueueTime", "execTotalTime",
          "totalQueryableSamples", "samplesRead", "peakSamples"))
        assert(b1.contains("\"" + k + "\":"), s"missing $k in $b1")
      // instant selector: ONE selection per (series, step) in both figures
      // (ref: engine.go IncrementSamplesAtStep(step,1) + SamplesRead) — an
      // instant query has one step, two series select
      assert(b1.contains("\"totalQueryableSamples\":2"), b1)
      assert(b1.contains("\"samplesRead\":2"), b1)
      val (c2, b2) = get(port,
        "/api/v1/query_range?query=http_requests_total&start=120&end=600&step=60&stats=all")
      assert(c2 == 200 && b2.contains("\"stats\":{\"timings\":{"), b2)
      // without stats= the envelope stays clean
      val (c3, b3) = get(port, "/api/v1/query?query=http_requests_total&time=600")
      assert(c3 == 200 && !b3.contains("\"stats\""), b3)
    }
  }

  test("samplesRead counts storage points once while windowed reuse over-counts totalQueryableSamples") {
    withApi { (port, _) =>
      // rate over a 2m window stepped every 60s: consecutive windows OVERLAP,
      // so totalQueryableSamples counts the full window per step (ref:
      // util/stats/query_stats.go TotalSamplesPerStep) while samplesRead
      // counts each stored point once (ref #18081). 9 steps × 4 points per
      // 2m window × 2 series = 72 total; 20 covered points × 2 series = 40 read.
      val (c, b) = get(port,
        "/api/v1/query_range?query=rate(http_requests_total%5B2m%5D)&start=120&end=600&step=60&stats=all")
      assert(c == 200, b)
      assert(b.contains("\"totalQueryableSamples\":72"), b)
      assert(b.contains("\"samplesRead\":40"), b)
      // no per-step arrays without the promql-per-step-stats feature flag
      assert(!b.contains("samplesReadPerStep"), b)
      assert(!b.contains("totalQueryableSamplesPerStep"), b)
    }
  }

  test("engine samples-read counter moves on stats-less queries (ref #18081)") {
    withApi { (port, _) =>
      def counter(): Double = {
        val (cm, bm) = get(port, "/metrics")
        assert(cm == 200, bm.take(200))
        bm.linesIterator
          .find(_.startsWith("prometheus_engine_query_samples_read_total "))
          .get.split(" ").last.toDouble
      }
      val before = counter()
      // NO stats= parameter: the counter still advances, by the cheap
      // scan-count figure (pruned-scan row counts, no distinct job) — the
      // reference increments its engine counter on every query
      val (c, b) = get(port,
        "/api/v1/query_range?query=rate(http_requests_total%5B2m%5D)&start=120&end=600&step=60")
      assert(c == 200, b)
      val afterRange = counter()
      // ≥ the exact 40-point samplesRead of this query (the scan count is
      // an upper bound: it skips the covered-step dedup)
      assert(afterRange - before >= 40.0, s"$before -> $afterRange")
      val (c2, b2) = get(port, "/api/v1/query?query=http_requests_total&time=600")
      assert(c2 == 200, b2)
      val afterInstant = counter()
      assert(afterInstant > afterRange, s"$afterRange -> $afterInstant")
      // ONE counter, ONE semantic: the same query moves the counter by the
      // same per-scan figure with and without stats= (the exact dedup'd
      // samplesRead lives in the stats payload only)
      val (c3, _) = get(port,
        "/api/v1/query_range?query=rate(http_requests_total%5B2m%5D)&start=120&end=600&step=60&stats=all")
      assert(c3 == 200)
      val afterStats = counter()
      assert(afterStats - afterInstant == afterRange - before,
        s"stats-bearing delta ${afterStats - afterInstant} != stats-less delta ${afterRange - before}")
    }
  }

  test("promql-per-step-stats: stats=all adds the per-step arrays as [ts, n] pairs") {
    val store = fixtureStore()
    val api = new HttpApi(spark, store, 0, () => 600000L, perStepStats = true)
    api.start()
    try {
      val port = api.boundPort
      val (c, b) = get(port,
        "/api/v1/query_range?query=rate(http_requests_total%5B2m%5D)&start=120&end=600&step=60&stats=all")
      assert(c == 200, b)
      // step 0 reads its full window (4×2 points), later steps only the
      // points not covered by the previous window (2×2 each) — the
      // reference's stepStat [unix_seconds, count] rendering
      assert(b.contains("\"samplesReadPerStep\":[[120,8],[180,4]"), b)
      assert(b.contains("\"totalQueryableSamplesPerStep\":[[120,8],[180,8]"), b)
      assert(b.contains("\"totalQueryableSamples\":72"), b)
      assert(b.contains("\"samplesRead\":40"), b)
      // stats=1 (non-"all") keeps the totals but not the per-step arrays
      val (c2, b2) = get(port,
        "/api/v1/query_range?query=rate(http_requests_total%5B2m%5D)&start=120&end=600&step=60&stats=1")
      assert(c2 == 200 && b2.contains("\"samplesRead\":40") &&
        !b2.contains("PerStep"), b2)
      // instant selectors: the two arrays agree step by step
      val (c3, b3) = get(port,
        "/api/v1/query_range?query=http_requests_total&start=120&end=240&step=60&stats=all")
      assert(c3 == 200, b3)
      assert(b3.contains("\"totalQueryableSamplesPerStep\":[[120,2],[180,2],[240,2]]"), b3)
      assert(b3.contains("\"samplesReadPerStep\":[[120,2],[180,2],[240,2]]"), b3)
      // the engine counter accumulates samplesRead (ref #18081 self-metric)
      val (cm, bm) = get(port, "/metrics")
      assert(cm == 200 &&
        bm.contains("prometheus_engine_query_samples_read_total"), bm.take(400))
      val v = bm.linesIterator
        .find(_.startsWith("prometheus_engine_query_samples_read_total "))
        .get.split(" ").last.toDouble
      assert(v >= 40.0, v.toString)
    } finally api.stop()
  }

  test("/metrics counts codegen compilations, and a query never lowers the count") {
    withApi { (port, _) =>
      def compiles(): Double = {
        val (c, b) = get(port, "/metrics")
        assert(c == 200 && b.contains("# TYPE graft_codegen_compilations_total counter"), b.take(400))
        b.linesIterator.find(_.startsWith("graft_codegen_compilations_total "))
          .get.split(" ").last.toDouble
      }
      val before = compiles()
      val (c, b) = get(port, "/api/v1/query?query=sum(rate(http_requests_total%5B2m%5D))&time=600")
      assert(c == 200, b)
      assert(compiles() >= before)
    }
  }

  test("federation attaches external labels; series labels win conflicts") {
    val api = new HttpApi(spark, fixtureStore(), 0, () => 600000L)
    api.externalLabels = Map("site" -> "eu1", "job" -> "xjob")
    api.start()
    try {
      val (c, b) = get(api.boundPort, "/federate?match%5B%5D=http_requests_total")
      assert(c == 200, b)
      assert(b.contains("site=\"eu1\""), b)
      assert(b.contains("job=\"api\"") && !b.contains("xjob"), b)
    } finally api.stop()
  }

  test("metadata: metric filter, limit, limit_per_metric (ref metricMetadata)") {
    val store = fixtureStore()
    store.mergeMetadata(Map(
      "http_requests_total" -> (("counter", "", "Total requests.")),
      "mem_bytes" -> (("gauge", "bytes", "Memory."))))
    val api = new HttpApi(spark, store, 0, () => 600000L)
    api.start()
    try {
      val port = api.boundPort
      val (c1, b1) = get(port, "/api/v1/metadata")
      assert(c1 == 200 && b1.contains("http_requests_total") && b1.contains("mem_bytes"))
      val (_, b2) = get(port, "/api/v1/metadata?metric=mem_bytes")
      assert(b2.contains("mem_bytes") && !b2.contains("http_requests_total"))
      val (_, b3) = get(port, "/api/v1/metadata?limit=1")
      assert(b3.contains("http_requests_total") && !b3.contains("mem_bytes"))
      val (_, b4) = get(port, "/api/v1/metadata?limit=0")
      assert(b4.contains("\"data\":{}"))
      // limit_per_metric=0 means NO cap (reference gates on > 0)
      val (_, b5) = get(port, "/api/v1/metadata?limit_per_metric=0")
      assert(b5.contains("Total requests."))
      val (c6, b6) = get(port, "/api/v1/metadata?limit=abc")
      assert(c6 == 400 && b6.contains("must be a number"))
    } finally api.stop()
  }

  test("targets/metadata and alertmanagers endpoints render registry state") {
    val store = fixtureStore()
    store.mergeMetadata(Map(
      "http_requests_total" -> (("counter", "", "Total requests.")),
      "mem_bytes" -> (("gauge", "bytes", "Memory."))))
    val api = new HttpApi(spark, store, 0, () => 600000L)
    api.scrapeTargets = Seq(
      graft.streaming.ScrapeManager.ScrapeTarget("http://a:9100/metrics", "api", "a:9100"),
      graft.streaming.ScrapeManager.ScrapeTarget("http://b:9100/metrics", "db", "b:9100"))
    api.alertmanagerUrls = Seq("http://am1:9093/api/v2/alerts")
    api.start()
    try {
      val port = api.boundPort
      // all targets × all families
      val (c1, b1) = get(port, "/api/v1/targets/metadata")
      assert(c1 == 200, b1)
      assert(b1.contains("\"metric\":\"http_requests_total\"") &&
        b1.contains("\"type\":\"counter\"") && b1.contains("\"help\":\"Total requests.\""), b1)
      // match_target filters targets; metric filters families
      val (c2, b2) = get(port,
        "/api/v1/targets/metadata?match_target=%7Bjob%3D%22api%22%7D&metric=mem_bytes")
      assert(c2 == 200 && b2.contains("\"unit\":\"bytes\"") &&
        !b2.contains("http_requests_total") && !b2.contains("\"job\":\"db\""), b2)
      val (c3, b3) = get(port, "/api/v1/alertmanagers")
      assert(c3 == 200, b3)
      assert(b3.contains(
        "\"activeAlertmanagers\":[{\"url\":\"http://am1:9093/api/v2/alerts\"}]"), b3)
      assert(b3.contains("\"droppedAlertmanagers\":[]"), b3)
    } finally api.stop()
  }

  test("series/labels limits are plan-side and keep the truncation warning") {
    withApi { (port, _) =>
      val (c1, b1) = get(port, "/api/v1/series?match%5B%5D=http_requests_total&limit=1")
      assert(c1 == 200, b1)
      assert(b1.contains("results truncated due to limit"), b1)
      // exactly one metric object returned
      assert(b1.split("\"__name__\"").length == 2, b1)
      val (c2, b2) = get(port, "/api/v1/labels?limit=2")
      assert(c2 == 200 && b2.contains("results truncated due to limit"), b2)
      assert(b2.contains("\"data\":[\"__name__\",\"instance\"]"), b2)
      val (c3, b3) = get(port, "/api/v1/label/instance/values?limit=1")
      assert(c3 == 200 && b3.contains("results truncated due to limit"), b3)
      assert(b3.contains("\"data\":[\"a\"]"), b3)
    }
  }

  test("forwarder retries 429 with Retry-After instead of dropping the batch") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val posts = new java.util.concurrent.atomic.AtomicInteger(0)
    val firstAt = new java.util.concurrent.atomic.AtomicLong(0L)
    val secondAt = new java.util.concurrent.atomic.AtomicLong(0L)
    server.createContext("/write", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val n = posts.incrementAndGet()
        ex.getRequestBody.readAllBytes()
        if (n == 1) {
          firstAt.set(System.nanoTime())
          // rate-limit the first attempt; with retry_on_http_429 the
          // reference treats 429 as recoverable and honors Retry-After
          // (client.go:322 — NOT retried by default, see ForwarderAuthSpec)
          ex.getResponseHeaders.set("Retry-After", "1")
          ex.sendResponseHeaders(429, -1)
        } else {
          secondAt.set(System.nanoTime())
          ex.sendResponseHeaders(200, -1)
        }
        ex.close()
      }
    })
    server.start()
    try {
      val src = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row(Map("__name__" -> "rl"), 1000L, 1.0, false, null, 0L)), 1),
        Engine.samplesSchema)
      val n = new RemoteWriteForwarder(
        s"http://127.0.0.1:${server.getAddress.getPort}/write",
        retryOn429 = true).forward(src.collect())
      assert(n == 1L) // shipped after the retry, not dropped
      assert(posts.get() == 2)
      // the Retry-After hint (1s) outranks the base backoff (100ms)
      assert(secondAt.get() - firstAt.get() >= 900L * 1000 * 1000)
    } finally server.stop(0)
  }

  test("prometheus_tsdb_head_series counts the series dictionary") {
    val store = new SampleStore(spark,
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Engine.samplesSchema))
    val api = new HttpApi(spark, store, 0, () => 600000L)
    api.start()
    try {
      val port = api.boundPort
      def write(samples: Seq[RemoteWrite.Sample]): Unit = {
        val resp = client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/write"))
            .header("Content-Encoding", "snappy")
            .header("Content-Type", "application/x-protobuf")
            .POST(HttpRequest.BodyPublishers.ofByteArray(RemoteWrite.encodeV1(samples))).build(),
          HttpResponse.BodyHandlers.ofString())
        assert(resp.statusCode() == 204)
      }
      def series(i: Int) = Map("__name__" -> "hs", "i" -> i.toString)
      write((0 until 3).map(i => RemoteWrite.Sample(series(i), 1000L, i.toDouble)))
      write((0 until 3).map(i => RemoteWrite.Sample(series(i), 2000L, i.toDouble)))
      write(Seq(RemoteWrite.Sample(series(3), 2000L, 3.0)))
      val (c, b) = get(port, "/metrics")
      assert(c == 200)
      assert(b.contains("# HELP prometheus_tsdb_head_series Total number of series in the head block.\n" +
        "# TYPE prometheus_tsdb_head_series gauge\n"), b)
      assert(b.linesIterator.contains("prometheus_tsdb_head_series 4"), b)
    } finally api.stop()
  }
}
