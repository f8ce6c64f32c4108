package graft.streaming

import graft.promql.Engine
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class StreamingSpecs extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def samplesOf(rows: Seq[(Map[String, String], Long, Double)]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (l, t, v) => Row(l, t, v, false, null, 0L) }, 2),
      Engine.samplesSchema)

  private def emptyStoreS() = new graft.web.SampleStore(spark,
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Engine.samplesSchema))

  test("exposition parser handles labels, escapes, timestamps, comments") {
    assert(Exposition.parseLine("# HELP foo bar", 0).isEmpty)
    assert(Exposition.parseLine("foo 1.5", 99) ===
      Some((Map("__name__" -> "foo"), 99L, 1.5)))
    assert(Exposition.parseLine("""foo{a="x",b="y\"z"} 2 1234""", 0) ===
      Some((Map("__name__" -> "foo", "a" -> "x", "b" -> "y\"z"), 1234L, 2.0)))
    assert(Exposition.parseLine("up +Inf", 0).get._3.isPosInfinity)
  }

  test("relabel: replace, keep/drop, hashmod, labelmap, labeldrop") {
    import Relabel._
    val df = samplesOf(Seq(
      (Map("__name__" -> "m", "job" -> "api", "instance" -> "i1"), 0L, 1.0),
      (Map("__name__" -> "m", "job" -> "db", "instance" -> "i2"), 0L, 2.0)))

    val kept = Relabel(df, Seq(Rule(Keep, sourceLabels = Seq("job"), regex = "api")))
    assert(kept.count() == 1)

    val replaced = Relabel(df, Seq(Rule(Replace, sourceLabels = Seq("job"),
      regex = "(.*)", targetLabel = "svc", replacement = "svc-$1")))
    val svcs = replaced.select(element_at(col("labels"), "svc")).collect().map(_.getString(0)).toSet
    assert(svcs == Set("svc-api", "svc-db"))

    val modded = Relabel(df, Seq(Rule(HashMod, sourceLabels = Seq("instance"),
      targetLabel = "shard", modulus = 4)))
    val shards = modded.select(element_at(col("labels"), "shard")).collect().map(_.getString(0))
    assert(shards.forall(s => (0 until 4).map(_.toString).contains(s)))

    val mapped = Relabel(df, Seq(Rule(LabelMap, regex = "job", replacement = "orig_job")))
    assert(mapped.select(element_at(col("labels"), "orig_job")).collect()
      .map(_.getString(0)).toSet == Set("api", "db"))

    val dropped = Relabel(df, Seq(Rule(LabelDrop, regex = "inst.*")))
    assert(dropped.select(map_keys(col("labels"))).collect()
      .forall(!_.getSeq[String](0).contains("instance")))

    // Go regexp.Expand gotcha: "$1x" is the undefined group NAMED "1x"
    // (longest [A-Za-z0-9_]+ run), expanding to EMPTY — users must write
    // "${1}x"; an empty replace result deletes the target label
    val gotcha = Relabel(df, Seq(Rule(Replace, sourceLabels = Seq("job"),
      regex = "(.*)", targetLabel = "svc", replacement = "$1x")))
    assert(gotcha.select(map_keys(col("labels"))).collect()
      .forall(!_.getSeq[String](0).contains("svc")))
    val braced = Relabel(df, Seq(Rule(Replace, sourceLabels = Seq("job"),
      regex = "(.*)", targetLabel = "svc", replacement = "${1}x")))
    assert(braced.select(element_at(col("labels"), "svc")).collect()
      .map(_.getString(0)).toSet == Set("apix", "dbx"))
  }

  test("relabel: all eleven actions over a fixed table of label sets") {
    import Relabel._
    val a = Map("__name__" -> "m", "job" -> "api", "instance" -> "Host-A:9090", "team" -> "API")
    val b = Map("__name__" -> "m", "job" -> "db", "instance" -> "host-b:9100", "team" -> "db",
      "__tmp_job" -> "override")
    val c = Map("__name__" -> "n", "job" -> "web", "instance" -> "host-c:80", "team" -> "Web")
    val df = samplesOf(Seq(a, b, c).map(l => (l, 0L, 1.0)))
    def run(rules: Rule*): Set[Map[String, String]] =
      Relabel(df, rules).select("labels").collect().map(_.getMap[String, String](0).toMap).toSet
    val hostPort = "([^:]+):(\\d+)"
    assert(run(Rule(Replace, Seq("instance"), regex = hostPort, targetLabel = "host",
      replacement = "${1}-x")) == Set(a + ("host" -> "Host-A-x"), b + ("host" -> "host-b-x"),
      c + ("host" -> "host-c-x")))
    // the target name expands too
    assert(run(Rule(Replace, Seq("instance"), regex = hostPort, targetLabel = "p_${2}",
      replacement = "$1")) == Set(a + ("p_9090" -> "Host-A"), b + ("p_9100" -> "host-b"),
      c + ("p_80" -> "host-c")))
    // an empty replacement deletes the target; a non-matching value leaves it
    assert(run(Rule(Replace, Seq("team"), regex = "db", targetLabel = "team",
      replacement = "")) == Set(a, b - "team", c))
    assert(run(Rule(Keep, Seq("job"), regex = "api|web")) == Set(a, c))
    assert(run(Rule(Drop, Seq("__name__", "job"), regex = "m;db")) == Set(a, c))
    assert(run(Rule(KeepEqual, Seq("team"), targetLabel = "job")) == Set(b))
    assert(run(Rule(DropEqual, Seq("team"), targetLabel = "job")) == Set(a, c))
    assert(run(Rule(HashMod, Seq("instance"), targetLabel = "shard", modulus = 1000)) ==
      Set(a + ("shard" -> "382"), b + ("shard" -> "620"), c + ("shard" -> "359")))
    // a mapped name that collides with an existing label replaces its value
    assert(run(Rule(LabelMap, regex = "__tmp_(.+)", replacement = "$1")) ==
      Set(a, b + ("job" -> "override"), c))
    assert(run(Rule(LabelDrop, regex = "team|__tmp_.*")) ==
      Set(a - "team", b - "team" - "__tmp_job", c - "team"))
    assert(run(Rule(LabelKeep, regex = "__name__|job")) ==
      Set(Map("__name__" -> "m", "job" -> "api"), Map("__name__" -> "m", "job" -> "db"),
        Map("__name__" -> "n", "job" -> "web")))
    assert(run(Rule(Lowercase, Seq("team"), targetLabel = "team_lc")) ==
      Set(a + ("team_lc" -> "api"), b + ("team_lc" -> "db"), c + ("team_lc" -> "web")))
    assert(run(Rule(Uppercase, Seq("job", "team"), separator = "-", targetLabel = "key")) ==
      Set(a + ("key" -> "API-API"), b + ("key" -> "DB-DB"), c + ("key" -> "WEB-WEB")))
    // a chain applies its rules in order
    assert(run(Rule(LabelMap, regex = "__tmp_(.+)", replacement = "$1"),
      Rule(Keep, Seq("job"), regex = "override|web"), Rule(LabelDrop, regex = "__tmp_job")) ==
      Set(b - "__tmp_job" + ("job" -> "override"), c))
  }

  test("recording rule rewrites __name__ and feeds later rules") {
    val df = samplesOf(Seq(
      (Map("__name__" -> "reqs", "job" -> "a"), 0L, 10.0),
      (Map("__name__" -> "reqs", "job" -> "b"), 0L, 20.0)))
    val out = Rules.evalGroup(spark, df,
      Rules.Group("g", intervalMs = 60000,
        rules = Seq(
          Rules.RecordingRule("job:reqs:sum", "sum by (job) (reqs)"),
          Rules.RecordingRule("total:reqs", "sum(job:reqs:sum)"))),
      fromMs = 0L, toMs = 0L)
    val total = out.filter(element_at(col("labels"), "__name__") === "total:reqs")
      .select(col("v")).collect()
    assert(total.map(_.getDouble(0)).toSeq == Seq(30.0))
  }

  test("alerting rule walks pending -> firing with for:") {
    val df = samplesOf(Seq(
      (Map("__name__" -> "errors", "job" -> "a"), 0L, 5.0),
      (Map("__name__" -> "errors", "job" -> "a"), 60000L, 5.0)))
    val rule = Rules.AlertingRule("HighErrors", "errors > 1", forMs = 60000)
    def alertRows(df0: org.apache.spark.sql.DataFrame) =
      df0.filter(element_at(col("labels"), "__name__") === "ALERTS")
    val (out0, st0) = Rules.evalAlerting(spark, df, rule, 0L, Map.empty)
    val s0 = alertRows(out0).select(element_at(col("labels"), "alertstate")).collect().map(_.getString(0))
    assert(s0.toSeq == Seq("pending"))
    // the for-state series rides along (restoration input)
    assert(out0.filter(element_at(col("labels"), "__name__") === "ALERTS_FOR_STATE")
      .select("v").collect().map(_.getDouble(0)).toSeq == Seq(0.0))
    val (out1, _) = Rules.evalAlerting(spark, df, rule, 60000L, st0)
    val s1 = alertRows(out1).select(element_at(col("labels"), "alertstate")).collect().map(_.getString(0))
    assert(s1.toSeq == Seq("firing"))
  }

  test("alert templates expand $labels/$value/$externalLabels into labels and annotations") {
    val df = samplesOf(Seq(
      (Map("__name__" -> "errors", "job" -> "api", "instance" -> "i1"), 0L, 7.5)))
    val rule = Rules.AlertingRule("HighErrors", "errors > 1",
      labels = Map("severity" -> "page-{{ $labels.job }}"),
      annotations = Map(
        "summary" -> "{{ $labels.instance }} of {{ $labels.job }} at {{ $value }}",
        "runbook" -> "https://{{ $externalLabels.site }}/hi"))
    val (_, st) = Rules.evalAlerting(spark, df, rule, 0L, Map.empty,
      externalLabels = Map("site" -> "prom.example"))
    val a = st.values.head
    assert(a.labels("severity") == "page-api")
    assert(a.annotations("summary") == "i1 of api at 7.5")
    assert(a.annotations("runbook") == "https://prom.example/hi")
    assert(a.value == 7.5)
  }

  test("target decoration: exported_ renaming vs honor_labels") {
    val t0 = ScrapeManager.ScrapeTarget("u", "job1", "i1",
      extraLabels = Map("env" -> "prod"))
    // default (honor_labels=false): conflicting scraped labels are renamed
    // to exported_<name>, target values win (ref: scrape.go mutateSampleLabels)
    assert(ScrapeManager.decorate(t0,
      Map("__name__" -> "m", "job" -> "inner", "env" -> "dev", "x" -> "1")) ==
      Map("__name__" -> "m", "exported_job" -> "inner", "exported_env" -> "dev",
        "x" -> "1", "instance" -> "i1", "job" -> "job1", "env" -> "prod"))
    // honor_labels=true: scraped values win, target labels only fill gaps
    assert(ScrapeManager.decorate(t0.copy(honorLabels = true),
      Map("__name__" -> "m", "job" -> "inner")) ==
      Map("__name__" -> "m", "job" -> "inner", "instance" -> "i1", "env" -> "prod"))
  }

  test("scrape limits fail the whole scrape: up=0, batch dropped") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    server.createContext("/metrics", (ex: com.sun.net.httpserver.HttpExchange) => {
      val b = "a_total 1\nb_total 2\nc_total 3\n".getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
    })
    server.start()
    try {
      val tgt = Seq(ScrapeManager.ScrapeTarget(
        s"http://127.0.0.1:${server.getAddress.getPort}/metrics", "t", "i1"))
      def run(limits: ScrapeManager.ScrapeLimits): (Double, Seq[String]) = {
        val store = emptyStoreS()
        val mgr = new ScrapeManager(spark, store, tgt, nowMs = () => 60000L,
          limits = limits)
        mgr.scrapeOnce()
        val rows = store.samples.collect()
          .map(r => (r.getMap[String, String](0).toMap, r.getDouble(2)))
        (rows.collectFirst { case (l, v) if l("__name__") == "up" => v }.get,
         rows.map(_._1("__name__")).toSeq)
      }
      // under the limit: healthy scrape
      val (up1, names1) = run(ScrapeManager.ScrapeLimits(sampleLimit = 10))
      assert(up1 == 1.0 && names1.contains("a_total"))
      // sample_limit exceeded: up=0 and the scraped samples are DROPPED
      val (up2, names2) = run(ScrapeManager.ScrapeLimits(sampleLimit = 2))
      assert(up2 == 0.0 && !names2.exists(_.endsWith("_total")), names2.toString)
      assert(names2.contains("scrape_samples_post_metric_relabeling"))
      // label_value_length_limit: instance/job values checked too
      val (up3, _) = run(ScrapeManager.ScrapeLimits(labelValueLengthLimit = 3))
      assert(up3 == 0.0)
      val (up4, _) = run(ScrapeManager.ScrapeLimits(labelLimit = 1))
      assert(up4 == 0.0)
    } finally server.stop(0)
  }

  test("scrape_series_added counts new series per target; extra scrape metrics behind flag") {
    @volatile var body = "a_total 1\nb_total 2\n"
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    server.createContext("/metrics", (ex: com.sun.net.httpserver.HttpExchange) => {
      val b = body.getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
    })
    server.start()
    try {
      val tgt = Seq(ScrapeManager.ScrapeTarget(
        s"http://127.0.0.1:${server.getAddress.getPort}/metrics", "t", "i1"))
      val store = emptyStoreS()
      val mgr = new ScrapeManager(spark, store, tgt, nowMs = () => 60000L,
        timeoutMs = 7000L, limits = ScrapeManager.ScrapeLimits(sampleLimit = 50),
        extraScrapeMetrics = true)
      def metric(name: String): Seq[Double] =
        store.samples.collect()
          .filter(_.getMap[String, String](0)("__name__") == name)
          .map(_.getDouble(2)).toSeq
      mgr.scrapeOnce()
      // first scrape: both series are new
      assert(metric("scrape_series_added") == Seq(2.0))
      // extra metrics (ref scrape.go reportExtraMetrics)
      assert(metric("scrape_timeout_seconds") == Seq(7.0))
      assert(metric("scrape_sample_limit") == Seq(50.0))
      assert(metric("scrape_body_size_bytes") == Seq(body.length.toDouble))
      // second scrape adds one new series → series_added 1, then 0
      body = "a_total 1\nb_total 2\nc_total 3\n"
      mgr.scrapeOnce()
      assert(metric("scrape_series_added").sorted == Seq(1.0, 2.0))
      mgr.scrapeOnce()
      assert(metric("scrape_series_added").sorted == Seq(0.0, 1.0, 2.0))
      // default (flag off): no extra series
      val store2 = emptyStoreS()
      new ScrapeManager(spark, store2, tgt, nowMs = () => 60000L).scrapeOnce()
      assert(!store2.samples.collect()
        .exists(_.getMap[String, String](0)("__name__") == "scrape_timeout_seconds"))
    } finally server.stop(0)
  }

  test("created-timestamp zero ingestion injects family zeros, consumes _created") {
    val body =
      """# TYPE req counter
        |req_total{path="/a"} 7
        |req_created{path="/a"} 50.5
        |# TYPE lat summary
        |lat_count 4
        |lat_sum 2.5
        |lat{quantile="0.5"} 0.6
        |lat_created 40
        |# TYPE other counter
        |other_total 3
        |# TYPE widgets_created gauge
        |widgets_created 12
        |orphans_created 9
        |# EOF
        |""".stripMargin
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    server.createContext("/metrics", (ex: com.sun.net.httpserver.HttpExchange) => {
      val b = body.getBytes("UTF-8")
      ex.getResponseHeaders.set("Content-Type",
        "application/openmetrics-text;version=1.0.0")
      ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
    })
    server.start()
    try {
      val tgt = Seq(ScrapeManager.ScrapeTarget(
        s"http://127.0.0.1:${server.getAddress.getPort}/metrics", "t", "i1"))
      def runRows(st: Boolean): Seq[(String, Long, Double, Long)] = {
        val store = emptyStoreS()
        val mgr = new ScrapeManager(spark, store, tgt, nowMs = () => 60000L,
          stZeroIngestion = st)
        mgr.scrapeOnce()
        store.samples.collect().map(r =>
          (r.getMap[String, String](0).toMap.filterKeys(_ != "instance")
             .filterKeys(_ != "job").values.toSeq.sorted.mkString(","),
           r.getLong(1), r.getDouble(2), r.getLong(5)))
          .toSeq.sortBy(x => (x._1, x._2))
      }
      def run(st: Boolean): Seq[(String, Long, Double)] =
        runRows(st).map(x => (x._1, x._2, x._3))
      val on = run(st = true)
      // created ts also threads into the stt column of the real sample —
      // the same threading the protobuf path does via Sample.stt
      assert(runRows(st = true)
        .exists(x => x._1 == "/a,req_total" && x._2 == 60000L && x._4 == 50500L))
      // counter: zero at ct=50500ms + the real sample; _created NOT a series
      assert(on.contains(("/a,req_total", 50500L, 0.0)))
      assert(on.contains(("/a,req_total", 60000L, 7.0)))
      assert(!on.exists(_._1.startsWith("req_created")))
      // summary: count/sum AND the bare quantile sample get the family zero
      assert(on.contains(("lat_count", 40000L, 0.0)))
      assert(on.contains(("lat_sum", 40000L, 0.0)))
      assert(on.contains(("0.5,lat", 40000L, 0.0)))
      assert(!on.exists(_._1.startsWith("lat_created")))
      // a family without _created gets no zero
      assert(on.count(_._1 == "other_total") == 1)
      // a genuine metric merely NAMED *_created is not consumed: the gauge
      // TYPE (or no TYPE at all) fails the counter/summary/histogram gate
      // and the sample ingests as an ordinary series
      assert(on.contains(("widgets_created", 60000L, 12.0)))
      assert(on.contains(("orphans_created", 60000L, 9.0)))
      // flag off (default): _created ingests as an ordinary series, no zeros
      val off = run(st = false)
      assert(off.contains(("/a,req_created", 60000L, 50.5)))
      assert(!off.exists(x => x._2 == 50500L))
      // injected zeros bypass sample_limit (ref: AppendSTZeroSample is
      // outside the added counters): 7 real samples + 4 zeros pass limit=7
      val store3 = emptyStoreS()
      new ScrapeManager(spark, store3, tgt, nowMs = () => 60000L,
        stZeroIngestion = true,
        limits = ScrapeManager.ScrapeLimits(sampleLimit = 7)).scrapeOnce()
      val rows3 = store3.samples.collect()
        .map(r => (r.getMap[String, String](0)("__name__"), r.getDouble(2)))
      assert(rows3.contains(("up", 1.0)))
      assert(rows3.exists(_._1 == "req_total"))
    } finally server.stop(0)
  }

  test("st-synthesis: counters without _created get anchored STs, rebased values, reset handling") {
    // ref scrape/st_synthesis.go synthesizeFloat + #18279: first sample
    // anchors (st = its ts) and is dropped; later samples append v−anchor
    // with that st; a reset re-anchors at 0 with st = t−1
    @volatile var counterVal = 5.0
    @volatile var includeCounter = true
    @volatile var clock = 10000L
    def body: String = {
      val c = if (includeCounter)
        s"""# TYPE req counter
           |req_total $counterVal
           |""".stripMargin else ""
      c +
      s"""# TYPE temp gauge
         |temp 21.5
         |# TYPE boot counter
         |boot_total 3
         |boot_created 2
         |# EOF
         |""".stripMargin
    }
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    server.createContext("/metrics", (ex: com.sun.net.httpserver.HttpExchange) => {
      val b = body.getBytes("UTF-8")
      ex.getResponseHeaders.set("Content-Type",
        "application/openmetrics-text;version=1.0.0")
      ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
    })
    server.start()
    try {
      val tgt = Seq(ScrapeManager.ScrapeTarget(
        s"http://127.0.0.1:${server.getAddress.getPort}/metrics", "t", "i1"))
      val store = emptyStoreS()
      val mgr = new ScrapeManager(spark, store, tgt, nowMs = () => clock,
        stSynthesis = true)
      def rows(name: String): Seq[(Long, Double, Long)] =
        store.samples.collect().toSeq
          .filter(_.getMap[String, String](0)("__name__") == name)
          .map(r => (r.getLong(1), r.getDouble(2), r.getLong(5)))
          .sortBy(_._1)
      // scrape 1 @10s, req_total=5: anchor established, sample dropped
      mgr.scrapeOnce()
      assert(rows("req_total").isEmpty)
      // the gauge is not cumulative: appended as-is with no ST
      assert(rows("temp") == Seq((10000L, 21.5, 0L)))
      // explicit _created wins: value unchanged, stt = ct, line consumed,
      // and NO zero injected (that's the created-timestamp flag's job)
      assert(rows("boot_total") == Seq((10000L, 3.0, 2000L)))
      assert(rows("boot_created").isEmpty)
      assert(!store.samples.collect().exists(r => r.getDouble(2) == 0.0 &&
        r.getMap[String, String](0)("__name__") == "boot_total"))
      // scrape 2 @20s, req_total=9: rebased 9−5=4, st = first-seen ts
      clock = 20000L; counterVal = 9.0
      mgr.scrapeOnce()
      assert(rows("req_total") == Seq((20000L, 4.0, 10000L)))
      // scrape 3 @30s, req_total=2 (RESET): re-anchor at 0, st = t−1
      clock = 30000L; counterVal = 2.0
      mgr.scrapeOnce()
      assert(rows("req_total").last == ((30000L, 2.0, 29999L)))
      // scrape 4 @40s, req_total=6: rebase vs 0 anchor, st carried
      clock = 40000L; counterVal = 6.0
      mgr.scrapeOnce()
      assert(rows("req_total").last == ((40000L, 6.0, 29999L)))
      // vanish + return: the anchor is lost with the series, so the
      // returning sample re-anchors (dropped) instead of rebasing against
      // stale state (ref: stCache cleared through staleness tracking)
      clock = 50000L; includeCounter = false
      mgr.scrapeOnce()
      clock = 60000L; includeCounter = true; counterVal = 100.0
      mgr.scrapeOnce()
      assert(rows("req_total").count(_._1 == 60000L) == 0)
      clock = 70000L; counterVal = 104.0
      mgr.scrapeOnce()
      assert(rows("req_total").last == ((70000L, 4.0, 60000L)))
    } finally server.stop(0)
  }

  test("st-synthesis: plain-text counters via # TYPE lines; flag off leaves stt=0") {
    @volatile var clock = 10000L
    val body =
      """# TYPE foo_total counter
        |foo_total 7
        |# TYPE bar gauge
        |bar 1
        |""".stripMargin
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    server.createContext("/metrics", (ex: com.sun.net.httpserver.HttpExchange) => {
      val b = body.getBytes("UTF-8")
      ex.getResponseHeaders.set("Content-Type", "text/plain; version=0.0.4")
      ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
    })
    server.start()
    try {
      val tgt = Seq(ScrapeManager.ScrapeTarget(
        s"http://127.0.0.1:${server.getAddress.getPort}/metrics", "t", "i1"))
      val store = emptyStoreS()
      val mgr = new ScrapeManager(spark, store, tgt, nowMs = () => clock,
        stSynthesis = true)
      mgr.scrapeOnce() // anchor
      clock = 25000L
      mgr.scrapeOnce()
      val foo = store.samples.collect().toSeq
        .filter(_.getMap[String, String](0)("__name__") == "foo_total")
        .map(r => (r.getLong(1), r.getDouble(2), r.getLong(5)))
      // text-format TYPE names the metric as exposed (foo_total) — the
      // eligibility gate must match it; steady counter rebases to 0
      assert(foo == Seq((25000L, 0.0, 10000L)))
      // default (flag off): nothing synthesized, stt stays 0
      val store2 = emptyStoreS()
      val mgr2 = new ScrapeManager(spark, store2, tgt, nowMs = () => 30000L)
      mgr2.scrapeOnce()
      val foo2 = store2.samples.collect().toSeq
        .filter(_.getMap[String, String](0)("__name__") == "foo_total")
        .map(r => (r.getLong(1), r.getDouble(2), r.getLong(5)))
      assert(foo2 == Seq((30000L, 7.0, 0L)))
    } finally server.stop(0)
  }

  test("keep_firing_for keeps emitting firing rows after condition clears") {
    // true at t=0 (firing immediately, for=0); false afterwards
    val df = samplesOf(Seq((Map("__name__" -> "errors", "job" -> "a"), 0L, 5.0)))
    val rule = Rules.AlertingRule("Flappy", "errors > 1", forMs = 0L,
      keepFiringForMs = 120000L)
    val (out0, st0) = Rules.evalAlerting(spark, df, rule, 0L, Map.empty)
    assert(out0.filter(element_at(col("labels"), "__name__") === "ALERTS")
      .select(element_at(col("labels"), "alertstate")).collect()
      .map(_.getString(0)).toSeq == Seq("firing"))
    // t=60s: condition false (lookback still sees the stale-free sample at 0?
    // no — 5m lookback keeps it true; use t beyond lookback)
    val (out1, st1) = Rules.evalAlerting(spark, df, rule, 400000L, st0)
    val s1 = out1.filter(element_at(col("labels"), "__name__") === "ALERTS")
      .collect().map(r => (
        r.getMap[String, String](0)("alertstate"), r.getMap[String, String](0)("job")))
    assert(s1.toSeq == Seq(("firing", "a")), "keep-firing window emits firing with labels")
    // beyond keep_firing_for from last-true: gone
    val (out2, _) = Rules.evalAlerting(spark, df, rule, 400000L + 121000L, st1)
    assert(out2.count() == 0)
  }

  test("for-state restoration resumes the pending countdown across a restart") {
    // condition true every minute 0..8m; for: 3m, restart gap 2m..5m
    val input = samplesOf((0 to 8).map(i =>
      (Map("__name__" -> "errors", "job" -> "a"), i * 60000L, 5.0)))
    val g = Rules.Group("g", intervalMs = 60000,
      rules = Seq(Rules.AlertingRule("Slow", "errors > 1", forMs = 180000)))
    // pre-restart ticks 0..2m: pending, ALERTS_FOR_STATE persisted (v = 0s)
    val before = Rules.evalGroup(spark, input, g, fromMs = 0L, toMs = 120000L)
    assert(before.filter(element_at(col("labels"), "__name__") === "ALERTS_FOR_STATE")
      .select("v").collect().map(_.getDouble(0)).forall(_ == 0.0))
    val store = input.unionByName(before)
    def states(df: org.apache.spark.sql.DataFrame) =
      df.filter(element_at(col("labels"), "__name__") === "ALERTS" && !col("stale"))
        .select(col("t"), element_at(col("labels"), "alertstate")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    // restored: activeAt shifts by the 3m downtime to t=3m → fires at 6m
    // (ref: rules/group.go:739 RestoreForState, downtime-shift branch)
    val restored = states(Rules.evalGroup(spark, store, g,
      fromMs = 300000L, toMs = 360000L,
      restoreForState = true, forGracePeriodMs = 60000L))
    assert(restored == Map(300000L -> "pending", 360000L -> "firing"))
    // without restoration the countdown restarts: still pending at 6m
    val cold = states(Rules.evalGroup(spark, store, g,
      fromMs = 300000L, toMs = 360000L))
    assert(cold == Map(300000L -> "pending", 360000L -> "pending"))
  }

  test("resolved alerts stale-mark their ALERTS series (vanish staleness)") {
    // condition true only while the lone sample is inside the 5m lookback
    val input = samplesOf(Seq((Map("__name__" -> "errors", "job" -> "a"), 0L, 5.0)))
    val g = Rules.Group("g", intervalMs = 60000,
      rules = Seq(Rules.AlertingRule("Hot", "errors > 1", forMs = 0L)))
    val out = Rules.evalGroup(spark, input, g, fromMs = 0L, toMs = 360000L)
    // fresh firing rows at 0..4m; a stale marker lands at 5m when it resolves
    val stale = out.filter(element_at(col("labels"), "__name__") === "ALERTS" && col("stale"))
      .select("t").collect().map(_.getLong(0))
    assert(stale.toSeq == Seq(300000L))
    // so an instant query AFTER resolution sees nothing (the marker shadows
    // the 4m sample that would otherwise ride the 5m lookback)
    val store = input.unionByName(out)
    def alertsAt(ts: Long) =
      graft.promql.Engine.instantQuery(spark, store, "ALERTS", ts)
        .asInstanceOf[graft.promql.VectorVal].df.count()
    assert(alertsAt(240000L) == 1)
    assert(alertsAt(360000L) == 0)
  }

  test("evalGroup handles 100 ticks without plan blowup and orders rules topologically") {
    val df = samplesOf(Seq(
      (Map("__name__" -> "reqs", "job" -> "a"), 0L, 10.0),
      (Map("__name__" -> "reqs", "job" -> "b"), 0L, 20.0)))
    // dependency listed in reverse: total reads job:sum — topo sort must flip
    val out = Rules.evalGroup(spark, df,
      Rules.Group("g", intervalMs = 1000,
        rules = Seq(
          Rules.RecordingRule("total:reqs", "sum(job:reqs:sum)"),
          Rules.RecordingRule("job:reqs:sum", "sum by (job) (reqs)"))),
      fromMs = 0L, toMs = 99000L)
    val totals = out.filter(element_at(col("labels"), "__name__") === "total:reqs")
    assert(totals.count() == 100)
    assert(totals.select("v").collect().forall(_.getDouble(0) == 30.0))
  }

  test("classicToNhcb synthesizes custom-bounds native histograms, keeps classic series") {
    val rows = Seq(
      (Map("__name__" -> "h_bucket", "le" -> "1", "job" -> "j"), 1000L, 2.0),
      (Map("__name__" -> "h_bucket", "le" -> "2.5", "job" -> "j"), 1000L, 5.0),
      (Map("__name__" -> "h_bucket", "le" -> "+Inf", "job" -> "j"), 1000L, 7.0),
      (Map("__name__" -> "h_count", "job" -> "j"), 1000L, 7.0),
      (Map("__name__" -> "h_sum", "job" -> "j"), 1000L, 11.5),
      (Map("__name__" -> "other", "job" -> "j"), 1000L, 3.0))
    val out = Ingest.classicToNhcb(rows.map { case (l, t, v) =>
      graft.web.RemoteWrite.Sample(l, t, v) }).map(_.toRow)
    assert(out.size == 7) // 6 classic + 1 synthesized
    val nh = out.filter(!_.isNullAt(4))
    assert(nh.length == 1)
    val r = nh.head
    assert(r.getMap[String, String](0).toMap == Map("__name__" -> "h", "job" -> "j"))
    val h = r.getStruct(4)
    // FHist(schema=custom, ..., cnt, sum, pidx, pcnt, _, _, cv, _)
    assert(h.getDouble(3) == 7.0 && h.getDouble(4) == 11.5)
    assert(h.getSeq[Double](6) == Seq(2.0, 3.0, 2.0))    // de-cumulated buckets
    assert(h.getSeq[Double](9) == Seq(1.0, 2.5))          // custom bounds
    // engine sees it: histogram_count over the synthesized series
    val q = Engine.instantQuery(spark, spark.createDataFrame(
      java.util.Arrays.asList(out: _*), Engine.samplesSchema), "histogram_count(h)", 1000L)
    val got = q.asInstanceOf[graft.promql.VectorVal].df.collect()
    assert(got.length == 1 && got.head.getDouble(got.head.fieldIndex("v")) == 7.0)
  }

  test("streaming ingest end-to-end: file source -> relabel -> block-partitioned sink") {
    val inDir = java.nio.file.Files.createTempDirectory("graft_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_out").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ck").toString
    // samples spanning two 2h blocks (t in ms on the exposition line)
    java.nio.file.Files.write(java.nio.file.Paths.get(inDir, "scrape1.txt"),
      ("# TYPE m counter\n" +
       "m{job=\"a\"} 1 1000\n" +
       "m{job=\"a\"} 2 3600000\n" +
       "m{job=\"b\"} 5 7300000\n").getBytes("UTF-8"))
    val src = Ingest.source(spark, inDir)
    assert(src.isStreaming)
    val q = Ingest.sink(src, outDir, ckDir, oooWindowMs = 60000L)
    try { q.processAllAvailable() } finally q.stop()
    // block partitioning on disk = the 2h-block layout queries prune on
    val blocks = new java.io.File(outDir).listFiles()
      .filter(_.getName.startsWith("block=")).map(_.getName).sorted
    assert(blocks.toSeq == Seq("block=0", "block=7200000"))
    val rows = spark.read.parquet(outDir)
      .collect().map(r => (r.getMap[String, String](0)("job"), r.getLong(1), r.getDouble(2)))
    assert(rows.toSet == Set(("a", 1000L, 1.0), ("a", 3600000L, 2.0), ("b", 7300000L, 5.0)))
    // and the engine can query the sink directly
    val df = spark.read.parquet(outDir).select(col("labels"), col("t"), col("v"),
      col("stale"), col("h"), lit(0L).as("stt"))
    // at t=7300000 only job=b's sample is within the 5m lookback
    val got = graft.promql.Engine.instantQuery(spark, df, "sum(m)", 7300000L)
      .asInstanceOf[graft.promql.VectorVal].df.collect()
    assert(got.length == 1 && got.head.getDouble(got.head.fieldIndex("v")) == 5.0)
  }

  test("ingest checkpoint restart resumes without reprocessing (WAL-replay analog)") {
    // the Structured Streaming checkpoint IS the WAL: a restarted sink
    // resumes from the committed offset — previously-ingested files are not
    // re-appended (no duplicates), new files flow (ref: tsdb/wlog replay on
    // startup; tsdb/agent/db.go replays then continues)
    val inDir = java.nio.file.Files.createTempDirectory("graft_in2").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_out2").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ck2").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(inDir, "s1.txt"),
      "m{job=\"a\"} 1 1000\n".getBytes("UTF-8"))
    val q1 = Ingest.sink(Ingest.source(spark, inDir), outDir, ckDir, oooWindowMs = 60000L)
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(outDir).count() == 1)
    // "restart": a NEW query against the same checkpoint; a new file arrives
    java.nio.file.Files.write(java.nio.file.Paths.get(inDir, "s2.txt"),
      "m{job=\"b\"} 2 2000\n".getBytes("UTF-8"))
    val q2 = Ingest.sink(Ingest.source(spark, inDir), outDir, ckDir, oooWindowMs = 60000L)
    try q2.processAllAvailable() finally q2.stop()
    val rows = spark.read.parquet(outDir).collect()
      .map(r => (r.getMap[String, String](0)("job"), r.getDouble(2))).toSeq
    assert(rows.sorted == Seq(("a", 1.0), ("b", 2.0)), rows.toString) // no replays
  }

  test("file service discovery parses the reference's sd-file corpus") {
    val d = "/root/reference/cmd/promtool/testdata"
    // JSON one-group form: labels + targets together
    val j = ScrapeManager.fileSdTargets(s"$d/good-sd-file.json", "default")
    assert(j == Seq(ScrapeManager.ScrapeTarget(
      "http://localhost:9100/metrics", "node", "localhost:9100")))
    // YAML forms: {labels}-only group contributes nothing; {targets}-only
    // group falls back to the default job
    for (f <- Seq("good-sd-file.yml", "good-sd-file.yaml")) {
      val y = ScrapeManager.fileSdTargets(s"$d/$f", "default")
      assert(y == Seq(ScrapeManager.ScrapeTarget(
        "http://localhost:9100/metrics", "default", "localhost:9100")), f)
    }
    // unknown fields are an error (promtool check service-discovery strict)
    intercept[IllegalArgumentException] {
      ScrapeManager.fileSdTargets(s"$d/bad-sd-file-format.yml", "default")
    }
  }

  test("http service discovery: refresh cadence, failure keeps last set") {
    // tiny SD endpoint serving the shared target-group JSON
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    @volatile var body = """[{"labels":{"job":"node","env":"prod"},"targets":["h1:9100","h2:9100"]}]"""
    @volatile var status = 200
    server.createContext("/sd", (ex: com.sun.net.httpserver.HttpExchange) => {
      val b = body.getBytes("UTF-8")
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(status, b.length)
      ex.getResponseBody.write(b); ex.close()
    })
    server.start()
    try {
      var now = 1000L
      val mgr = new ScrapeManager(spark, null, Nil, nowMs = () => now)
      mgr.useHttpSd(s"http://127.0.0.1:${server.getAddress.getPort}/sd",
        "default", refreshMs = 60000L)
      val t1 = mgr.currentTargets()
      assert(t1.map(t => (t.url, t.job, t.extraLabels)) == Seq(
        ("http://h1:9100/metrics", "node", Map("env" -> "prod")),
        ("http://h2:9100/metrics", "node", Map("env" -> "prod"))))
      // within the refresh window: served from cache even if the body changed
      body = """[{"targets":["h3:9100"]}]"""
      assert(mgr.currentTargets() == t1)
      // past the window: re-fetched (job falls back to the default)
      now += 61000L
      val t2 = mgr.currentTargets()
      assert(t2.map(t => (t.url, t.job)) == Seq(("http://h3:9100/metrics", "default")))
      // a failing refresh keeps the last successful set
      status = 500
      now += 61000L
      assert(mgr.currentTargets() == t2)
    } finally server.stop(0)
  }

  test("check metrics --extended reproduces the reference's cardinality stats") {
    // ref: cmd/promtool/main_test.go TestCheckMetricsExtended over metrics-test.prom
    val (stats, total) = MetricsCheck.extendedStats(spark,
      "/root/reference/cmd/promtool/testdata/metrics-test.prom")
    assert(total == 27)
    assert(stats.map(s => (s.name, s.cardinality)) == Seq(
      ("prometheus_tsdb_compaction_chunk_size_bytes", 15L),
      ("go_gc_duration_seconds", 7L),
      ("net_conntrack_dialer_conn_attempted_total", 4L),
      ("go_info", 1L)))
    assert(stats.head.percentage == 15.0 / 27.0)
  }

  test("check metrics lint: camelCase flagged, clean corpus stays clean") {
    // ref: cmd/promtool/main_test.go TestCheckMetricsLintOptions
    val findings = MetricsCheck.lint(
      """# HELP testMetric_CamelCase A test metric with camelCase
        |# TYPE testMetric_CamelCase gauge
        |testMetric_CamelCase{label="value1"} 1
        |""".stripMargin)
    assert(findings.exists(p => p.metric == "testMetric_CamelCase" &&
      p.text.contains("snake_case")))
    // the reference's stats corpus lints clean
    assert(MetricsCheck.lintFile(
      "/root/reference/cmd/promtool/testdata/metrics-test.prom").isEmpty)
    // counter suffix + unit + reserved-label rules
    val more = MetricsCheck.lint(
      """# HELP reqs total requests
        |# TYPE reqs counter
        |reqs 5
        |# HELP d_milliseconds latency
        |# TYPE d_milliseconds gauge
        |d_milliseconds{quantile="0.5"} 1
        |""".stripMargin)
    assert(more.exists(p => p.metric == "reqs" && p.text.contains("_total")))
    assert(more.exists(p => p.metric == "d_milliseconds" && p.text.contains("base unit")))
    assert(more.exists(p => p.text.contains("quantile")))
  }

  test("openmetrics dump: Go %g value rendering") {
    import OpenMetrics.goG
    assert(goG(1.0) == "1")
    assert(goG(0.0) == "0")
    assert(goG(123456.0) == "123456")
    assert(goG(1234567.0) == "1.234567e+06")
    assert(goG(1.0267820369e10) == "1.0267820369e+10")
    assert(goG(1.026872507e10) == "1.026872507e+10")
    assert(goG(0.000345) == "0.000345")
    assert(goG(0.0000345) == "3.45e-05")
    assert(goG(-2.5) == "-2.5")
    assert(goG(Double.PositiveInfinity) == "+Inf")
    // JDK 17's Double.toString over-produces digits for these (fixed only in
    // JDK 19, JDK-4511638); Go's strconv emits the true shortest form
    assert(goG(5.7223519193314771e17) == "5.722351919331477e+17")
    assert(goG(-2.6814475343671142e18) == "-2.681447534367114e+18")
    assert(goG(1.64606760795392717e18) == "1.6460676079539272e+18")
    assert(graft.web.Json.goFloat(5.7223519193314771e17) == "572235191933147700")
    // shortest forms still round-trip exactly
    assert("5.722351919331477e17".toDouble == 5.7223519193314771e17)
  }

  test("openmetrics dump round-trips the reference's dump corpus") {
    // ref: cmd/promtool/tsdb_test.go TestTSDBDumpOpenMetricsRoundTrip —
    // backfill the OM file, dump it, expect the identical text back
    for (f <- Seq("dump-openmetrics-roundtrip-test.prom", "dump-openmetrics-test.prom")) {
      val path = s"/root/reference/cmd/promtool/testdata/$f"
      val want = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
        .replace("\r\n", "\n")
      val (samples, _) = OpenMetrics.read(spark, path)
      val got = OpenMetrics.dumpOpenMetrics(samples).mkString("", "\n", "\n")
      assert(got == want, s"$f roundtrip mismatch")
    }
  }

  test("retention drops old 2h block partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ret").toFile
    val old = new java.io.File(dir, "block=0"); old.mkdirs()
    val recent = new java.io.File(dir, s"block=${100 * Ingest.blockMs}"); recent.mkdirs()
    val dropped = Ingest.applyRetention(spark, dir.getPath,
      keepMs = 10 * Ingest.blockMs, nowMs = 101 * Ingest.blockMs)
    assert(dropped == Seq("block=0") && recent.exists())
  }

  test("rules backfill matches live rule evaluation and writes queryable blocks") {
    // 3h of two counter series at 15s resolution — spans two 2h blocks
    val endMs = 3 * 3600 * 1000L
    val rows = (0L to endMs by 15000L).flatMap(t => Seq(
      (Map("__name__" -> "reqs", "job" -> "a"), t, t / 1000.0),
      (Map("__name__" -> "reqs", "job" -> "b"), t, t / 500.0)))
    val store = samplesOf(rows)
    val g = Rules.Group("bf", intervalMs = 60000L,
      rules = Seq(Rules.RecordingRule("job:reqs:rate5m", "rate(reqs[5m])",
        labels = Map("team" -> "core"))))
    val outDir = java.nio.file.Files.createTempDirectory("graft_bf").toString
    val errs = RulesBackfill.importAll(spark, store, Seq(g), 600000L, endMs, outDir)
    assert(errs.isEmpty)
    // block partition layout: spans both 2h blocks
    val blocks = new java.io.File(outDir).listFiles().map(_.getName).filter(_.startsWith("block=")).sorted
    assert(blocks.toSeq == Seq("block=0", s"block=${Ingest.blockMs}"))
    val backfilled = spark.read.parquet(outDir)
    // live evaluation over the same slotted timestamps
    val t0 = RulesBackfill.firstEvalTs(g, 600000L)
    assert(t0 >= 600000L && t0 < 600000L + g.intervalMs)
    val live = Rules.evalGroup(spark, store, g, fromMs = t0, toMs = endMs)
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select(to_json(map_from_entries(array_sort(map_entries(col("labels"))))), col("t"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val bf = keyed(backfilled)
    assert(bf.nonEmpty && bf == keyed(live))
    // rule labels attached and override; queryable through the engine like ingested data
    assert(backfilled.select(element_at(col("labels"), "team")).collect()
      .forall(_.getString(0) == "core"))
    val q = Engine.instantQuery(spark, backfilled, "sum(job:reqs:rate5m)", endMs) match {
      case graft.promql.VectorVal(df) => df.select("v").collect().map(_.getDouble(0)).toSeq
      case other => fail(s"unexpected $other")
    }
    assert(q.size == 1 && math.abs(q.head - 3.0) < 1e-9) // 1/s + 2/s
  }

  test("per-target scrape override: relabel flips NHCB conversion for exactly one target") {
    // one pool, two targets, identical classic-histogram exposition; a
    // relabel rule rewrites __convert_classic_histograms_to_nhcb__ to true
    // for instance i2 only (ref: scrape/target.go scrape-option labels +
    // scrape.go per-target boolLabel, reference #18929/#18840)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    server.createContext("/metrics", (ex: com.sun.net.httpserver.HttpExchange) => {
      val b = ("h_bucket{le=\"1\"} 2\nh_bucket{le=\"+Inf\"} 7\n" +
        "h_count 7\nh_sum 11.5\n").getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/metrics"
      val raw = Seq(
        ScrapeManager.ScrapeTarget(url, "t", "i1"),
        ScrapeManager.ScrapeTarget(url, "t", "i2"))
      // pool default false seeds the label; the rule flips it for i2
      val defaults = ScrapeManager.scrapeOptionLabels.map(_ -> "false").toMap
      val rules = Seq(Relabel.Rule(Relabel.Replace,
        sourceLabels = Seq("instance"), regex = "i2",
        targetLabel = "__convert_classic_histograms_to_nhcb__",
        replacement = "true"))
      val tgts = raw.flatMap(t => ScrapeManager.relabelTarget(t, rules, defaults))
      assert(tgts.map(_.convertNhcbOverride) == Seq(Some(false), Some(true)))
      val store = emptyStoreS()
      val mgr = new ScrapeManager(spark, store, tgts, nowMs = () => 60000L,
        convertNhcb = false)
      mgr.scrapeOnce()
      val rows = store.samples.collect()
        .map(r => (r.getMap[String, String](0).toMap, r.isNullAt(4)))
      val natives = rows.filter(!_._2).map(_._1)
      assert(natives.nonEmpty)
      assert(natives.forall(_("instance") == "i2")) // only the flipped target converted
      assert(natives.exists(_("__name__") == "h"))
      // i1 still scraped its classic series untouched
      assert(rows.exists { case (l, isNull) =>
        l("instance") == "i1" && l("__name__") == "h_bucket" && isNull })
      // an unparsable bool FAILS the target at relabel time (ref:
      // target.go PopulateLabels ParseBool error)
      val badRules = Seq(Relabel.Rule(Relabel.Replace,
        sourceLabels = Seq("instance"), regex = "i1",
        targetLabel = "__scrape_native_histograms__", replacement = "maybe"))
      val kept = raw.flatMap(t => ScrapeManager.relabelTarget(t, badRules, defaults))
      assert(kept.map(_.instance) == Seq("i2"))
    } finally server.stop(0)
  }

  test("follow_redirects: 3xx followed <=10 hops; credentials dropped cross-host; off = up=0") {
    // target server answers on /metrics; front server 302-redirects to it.
    // 127.0.0.1 vs localhost = different hostnames (the reference strips
    // credentials by hostname, ref changelog #18949)
    @volatile var seenAuth: String = "unset"
    val target = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    target.createContext("/metrics", (ex: com.sun.net.httpserver.HttpExchange) => {
      seenAuth = ex.getRequestHeaders.getFirst("Authorization")
      val b = "m_total 1\n".getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
    })
    target.start()
    val front = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    @volatile var redirectTo: String = ""
    front.createContext("/metrics", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.getResponseHeaders.set("Location", redirectTo)
      ex.sendResponseHeaders(302, -1); ex.close()
    })
    front.start()
    try {
      val frontUrl = s"http://127.0.0.1:${front.getAddress.getPort}/metrics"
      def run(to: String, follow: Boolean): Double = {
        redirectTo = to
        seenAuth = "unset"
        val store = emptyStoreS()
        new ScrapeManager(spark, store,
          Seq(ScrapeManager.ScrapeTarget(frontUrl, "t", "i1")),
          nowMs = () => 60000L, clientCfg = Config.HttpClientCfg(
            authHeader = Some("Bearer s3cr3t"), followRedirects = follow)).scrapeOnce()
        store.samples.collect().collectFirst {
          case r if r.getMap[String, String](0)("__name__") == "up" => r.getDouble(2)
        }.get
      }
      // same-host (127.0.0.1 -> 127.0.0.1) redirect: followed WITH credentials
      assert(run(s"http://127.0.0.1:${target.getAddress.getPort}/metrics", follow = true) == 1.0)
      assert(seenAuth == "Bearer s3cr3t", seenAuth)
      // cross-host (127.0.0.1 -> localhost): followed, credentials DROPPED
      assert(run(s"http://localhost:${target.getAddress.getPort}/metrics", follow = true) == 1.0)
      assert(seenAuth == null, String.valueOf(seenAuth))
      // follow_redirects: false -> the 302 is the final answer, up=0
      assert(run(s"http://127.0.0.1:${target.getAddress.getPort}/metrics", follow = false) == 0.0)
      // redirect loop: bounded at 10 hops, ends as a failed scrape not a hang
      assert(run(frontUrl, follow = true) == 0.0)
    } finally { front.stop(0); target.stop(0) }
  }

  // ---------- one scrape path: the same families in every exposition format

  /** minimal protobuf writer for the exposition fixtures */
  private object Pb {
    type Out = java.io.ByteArrayOutputStream
    def vint(o: Out, x0: Long): Unit = {
      var x = x0
      while ((x & ~0x7fL) != 0) { o.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      o.write(x.toInt)
    }
    def msg(f: Out => Unit): Array[Byte] = { val o = new Out(); f(o); o.toByteArray }
    def bytes(o: Out, field: Int, b: Array[Byte]): Unit = {
      vint(o, (field << 3) | 2); vint(o, b.length); o.write(b)
    }
    def str(o: Out, field: Int, v: String): Unit = bytes(o, field, v.getBytes("UTF-8"))
    def uint(o: Out, field: Int, v: Long): Unit = { vint(o, field << 3); vint(o, v) }
    def dbl(o: Out, field: Int, v: Double): Unit = {
      vint(o, (field << 3) | 1)
      val bits = java.lang.Double.doubleToLongBits(v)
      (0 until 8).foreach(i => o.write(((bits >> (8 * i)) & 0xff).toInt))
    }
  }

  /** one family set — a counter with a created timestamp and an exemplar, a
    * gauge, a classic histogram with a ts-less bucket exemplar, and
    * TYPE/HELP/UNIT metadata — as Prometheus text (which has no created
    * timestamp, exemplar or unit), OpenMetrics and delimited protobuf */
  private val familiesText =
    """# HELP req_total Requests.
      |# TYPE req_total counter
      |req_total{path="/a"} 7
      |# HELP temp Temperature.
      |# TYPE temp gauge
      |temp 21.5
      |# HELP lat_seconds Latency.
      |# TYPE lat_seconds histogram
      |lat_seconds_bucket{le="0.5"} 1
      |lat_seconds_bucket{le="1"} 3
      |lat_seconds_bucket{le="+Inf"} 4
      |lat_seconds_count 4
      |lat_seconds_sum 2.5
      |""".stripMargin
  private val familiesOm =
    """# HELP req Requests.
      |# TYPE req counter
      |req_total{path="/a"} 7 # {trace_id="t1"} 1 55
      |req_created{path="/a"} 50.5
      |# HELP temp Temperature.
      |# TYPE temp gauge
      |temp 21.5
      |# HELP lat_seconds Latency.
      |# TYPE lat_seconds histogram
      |# UNIT lat_seconds seconds
      |lat_seconds_bucket{le="0.5"} 1
      |lat_seconds_bucket{le="1"} 3 # {trace_id="t2"} 0.7
      |lat_seconds_bucket{le="+Inf"} 4
      |lat_seconds_count 4
      |lat_seconds_sum 2.5
      |# EOF
      |""".stripMargin
  private lazy val familiesProto: Array[Byte] = {
    import Pb._
    def label(n: String, v: String) = msg { l => str(l, 1, n); str(l, 2, v) }
    def ts(ms: Long) = msg { t => uint(t, 1, ms / 1000); if (ms % 1000 != 0) uint(t, 2, ms % 1000 * 1000000) }
    def exemplar(trace: String, v: Double, tMs: Option[Long]) = msg { e =>
      bytes(e, 1, label("trace_id", trace)); dbl(e, 2, v); tMs.foreach(t => bytes(e, 3, ts(t))) }
    def bucket(cc: Long, le: Double, ex: Option[Array[Byte]]) = msg { b =>
      uint(b, 1, cc); dbl(b, 2, le); ex.foreach(bytes(b, 3, _)) }
    val req = msg { f =>
      str(f, 1, "req_total"); str(f, 2, "Requests."); uint(f, 3, 0) // COUNTER
      bytes(f, 4, msg { m =>
        bytes(m, 1, label("path", "/a"))
        bytes(m, 3, msg { c =>
          dbl(c, 1, 7.0); bytes(c, 2, exemplar("t1", 1.0, Some(55000L))); bytes(c, 3, ts(50500L)) })
      })
    }
    val temp = msg { f =>
      str(f, 1, "temp"); str(f, 2, "Temperature."); uint(f, 3, 1) // GAUGE
      bytes(f, 4, msg(m => bytes(m, 2, msg(g => dbl(g, 1, 21.5)))))
    }
    val lat = msg { f =>
      str(f, 1, "lat_seconds"); str(f, 2, "Latency."); uint(f, 3, 4); str(f, 5, "seconds")
      bytes(f, 4, msg(m => bytes(m, 7, msg { h =>
        uint(h, 1, 4); dbl(h, 2, 2.5)
        bytes(h, 3, bucket(1, 0.5, None))
        bytes(h, 3, bucket(3, 1.0, Some(exemplar("t2", 0.7, None))))
        bytes(h, 3, bucket(4, Double.PositiveInfinity, None))
      })))
    }
    msg(o => Seq(req, temp, lat).foreach { fam => vint(o, fam.length); o.write(fam) })
  }

  /** serves the families at /text, /om and /proto, each with its content
    * type; /plain serves the text body as text/plain. `f` gets the base URL
    * and the Accept header of the last request */
  private def withFamilies(f: (String, () => String) => Unit): Unit = {
    @volatile var accept = ""
    val server = com.sun.net.httpserver.HttpServer.create(new java.net.InetSocketAddress(0), 0)
    def serve(path: String, contentType: String, body: Array[Byte]): Unit =
      server.createContext(path, (ex: com.sun.net.httpserver.HttpExchange) => {
        accept = ex.getRequestHeaders.getFirst("Accept")
        ex.getResponseHeaders.set("Content-Type", contentType)
        ex.sendResponseHeaders(200, body.length); ex.getResponseBody.write(body); ex.close()
      })
    serve("/text", "text/plain; version=0.0.4; charset=utf-8", familiesText.getBytes("UTF-8"))
    serve("/om", "application/openmetrics-text; version=1.0.0; charset=utf-8",
      familiesOm.getBytes("UTF-8"))
    serve("/proto", "application/vnd.google.protobuf; " +
      "proto=io.prometheus.client.MetricFamily; encoding=delimited", familiesProto)
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}", () => accept)
    finally server.stop(0)
  }

  /** what one scrape stored: samples as (labels, t, v, stt, native
    * histogram), family metadata, exemplars and the report series */
  private final case class Stored(samples: Set[(String, Long, String, Long, String)],
      meta: Map[String, (String, String, String)],
      exemplars: Set[(String, Map[String, String], Double, Long)],
      report: Map[String, Double])

  private val reportNames = Set("up", "scrape_duration_seconds", "scrape_samples_scraped",
    "scrape_samples_post_metric_relabeling", "scrape_series_added")

  private def scrapeStored(url: String, nhcb: Boolean = false, zero: Boolean = false,
      protocols: Seq[String] = Nil): Stored = {
    val store = emptyStoreS()
    new ScrapeManager(spark, store, Seq(ScrapeManager.ScrapeTarget(url, "t", "i1")),
      nowMs = () => 60000L, convertNhcb = nhcb, stZeroIngestion = zero,
      scrapeProtocols = protocols).scrapeOnce()
    def key(l: Map[String, String]) = l.toSeq.sorted.mkString(",")
    val rows = store.samples.collect().toSeq.map(r => (r.getMap[String, String](0).toMap, r))
    Stored(
      rows.collect { case (l, r) if !reportNames(l("__name__")) =>
        (key(l), r.getLong(1), r.getDouble(2).toString, r.getLong(5),
          if (r.isNullAt(4)) "" else graft.promql.FHist.fromRow(r.getStruct(4)).toString)
      }.toSet,
      store.metadata,
      store.exemplars.toSeq.flatMap(_.collect()).map { r =>
        val e = r.getStruct(1)
        (key(r.getMap[String, String](0).toMap), e.getMap[String, String](0).toMap,
          e.getDouble(1), e.getLong(2))
      }.toSet,
      rows.collect { case (l, r) if reportNames(l("__name__")) => l("__name__") -> r.getDouble(2) }
        .toMap)
  }

  /** OpenMetrics names a counter family without its _total */
  private def omFamilies(meta: Map[String, (String, String, String)]) =
    meta.map { case (f, m) => (if (m._1 == "counter") f + "_total" else f) -> m }

  test("text, OpenMetrics and protobuf scrapes of one family set store the same batch") {
    withFamilies { (base, _) =>
      for (nhcb <- Seq(false, true); zero <- Seq(false, true)) withClue(s"nhcb=$nhcb zero=$zero: ") {
        val p = scrapeStored(s"$base/proto", nhcb, zero)
        val o = scrapeStored(s"$base/om", nhcb, zero)
        val t = scrapeStored(s"$base/text", nhcb, zero)
        assert(p.report("up") == 1.0 && p.report("scrape_samples_scraped") == 7.0, p.report)
        assert(p.samples.exists(_._4 == 50500L), p.samples) // created_timestamp → stt
        assert(p.samples.exists(_._5.nonEmpty) == nhcb, p.samples)
        assert(p.samples.exists(s => s._2 == 50500L && s._3 == "0.0") == zero, p.samples)
        assert(p.meta == Map("req_total" -> (("counter", "", "Requests.")),
          "temp" -> (("gauge", "", "Temperature.")),
          "lat_seconds" -> (("histogram", "seconds", "Latency."))))
        assert(p.exemplars.map(e => (e._2("trace_id"), e._4)) == Set(("t1", 55000L), ("t2", 60000L)))
        assert(omFamilies(o.meta) == p.meta)
        assert(o.exemplars == p.exemplars)
        // the samples a created timestamp did not shape
        def uncreated(ss: Set[(String, Long, String, Long, String)]) =
          ss.filter(_._2 != 50500L).map(_.copy(_4 = 0L))
        if (zero) {
          // zero ingestion reads OpenMetrics `_created` lines: one batch
          assert(o.samples == p.samples)
          assert(o.report == p.report)
        } else {
          // without it the `_created` line is a series of its own, and only
          // protobuf's created_timestamp sets stt
          assert(o.samples.filterNot(_._1.contains("req_created")) == uncreated(p.samples))
          assert(o.report == p.report.map { case (k, v) =>
            k -> (if (k == "up" || k == "scrape_duration_seconds") v else v + 1) })
        }
        // the text format has no created timestamp, exemplar or unit
        assert(t.samples == uncreated(p.samples))
        assert(t.meta == p.meta.map { case (f, (ty, _, help)) => f -> ((ty, "", help)) })
        assert(t.exemplars.isEmpty)
        assert(t.report == p.report)
      }
    }
  }

  test("a text or OpenMetrics scrape records its family metadata") {
    withFamilies { (base, _) =>
      assert(scrapeStored(s"$base/text").meta("req_total") == (("counter", "", "Requests.")))
      assert(scrapeStored(s"$base/om").meta("lat_seconds") == (("histogram", "seconds", "Latency.")))
    }
  }

  test("a protobuf scrape converts classic histograms to NHCB") {
    withFamilies { (base, _) =>
      val nhcb = scrapeStored(s"$base/proto", nhcb = true).samples
        .filter(s => s._1.contains("__name__,lat_seconds)") && s._5.nonEmpty)
      assert(nhcb.size == 1, nhcb)
    }
  }

  test("created-timestamp zero ingestion injects a zero at a protobuf created_timestamp") {
    withFamilies { (base, _) =>
      val req = scrapeStored(s"$base/proto", zero = true).samples
        .filter(_._1.contains("__name__,req_total")).map(s => (s._2, s._3))
      assert(req == Set((50500L, "0.0"), (60000L, "7.0")))
    }
  }

  test("created-timestamp zero ingestion injects a zero histogram at a native histogram's created_timestamp") {
    import Pb._
    // schema 0, zero threshold 0.001, count 4, sum 10, buckets [3, 1],
    // created at 50 s
    val fam = msg { f =>
      str(f, 1, "nh"); uint(f, 3, 4) // HISTOGRAM
      bytes(f, 4, msg(m => bytes(m, 7, msg { h =>
        uint(h, 1, 4); dbl(h, 2, 10.0); uint(h, 5, 0); dbl(h, 6, 0.001)
        bytes(h, 12, msg { s => uint(s, 1, 0); uint(s, 2, 2) })
        bytes(h, 13, msg { d => vint(d, 6); vint(d, 3) }) // packed sint64 [3, -2]
        bytes(h, 15, msg(t => uint(t, 1, 50)))
      })))
    }
    val body = msg { o => vint(o, fam.length); o.write(fam) }
    val server = com.sun.net.httpserver.HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/nh", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.getResponseHeaders.set("Content-Type", "application/vnd.google.protobuf; " +
        "proto=io.prometheus.client.MetricFamily; encoding=delimited")
      ex.sendResponseHeaders(200, body.length); ex.getResponseBody.write(body); ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/nh"
      for (zero <- Seq(false, true)) {
        val store = emptyStoreS()
        new ScrapeManager(spark, store, Seq(ScrapeManager.ScrapeTarget(url, "t", "i1")),
          nowMs = () => 60000L, stZeroIngestion = zero).scrapeOnce()
        val nh = store.samples.filter(element_at(col("labels"), "__name__") === "nh").collect()
          .map(r => r.getLong(1) -> graft.promql.FHist.fromRow(r.getStruct(4))).toMap
        assert(nh(60000L).cnt == 4.0 && nh(60000L).pcnt == Seq(3.0, 1.0))
        if (!zero) assert(nh.keySet == Set(60000L))
        else {
          // the reference's AppendHistogramSTZeroSample: a counter reset
          // that keeps the schema, zero threshold and custom bounds
          assert(nh.keySet == Set(50000L, 60000L))
          val z = nh(50000L)
          assert(z.schema == 0 && z.zt == 0.001 && z.crh == graft.promql.FHist.HintReset)
          assert(z.cnt == 0.0 && z.sum == 0.0 && z.zc == 0.0 && z.pcnt.isEmpty && z.ncnt.isEmpty)
        }
      }
    } finally server.stop(0)
  }

  test("a PrometheusProto-first pool scrapes a text/plain target as text") {
    withFamilies { (base, accept) =>
      val t = scrapeStored(s"$base/text",
        protocols = Seq("PrometheusProto", "PrometheusText0.0.4"))
      assert(t.report("up") == 1.0)
      assert(t.samples.exists(s => s._1.contains("__name__,req_total") && s._3 == "7.0"))
      assert(accept().startsWith("application/vnd.google.protobuf;"), accept())
    }
  }

  test("the Accept header lists protobuf wherever scrape_protocols puts it") {
    withFamilies { (base, accept) =>
      scrapeStored(s"$base/text", protocols = Seq("PrometheusText0.0.4", "PrometheusProto"))
      assert(accept() == "text/plain;version=0.0.4;q=0.6,application/vnd.google.protobuf;" +
        "proto=io.prometheus.client.MetricFamily;encoding=delimited;q=0.5,*/*;q=0.4")
    }
  }

  test("one scrape path: Scrape.scala stale-diffs, limits and stores a batch in one place") {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/streaming/Scrape.scala")), "UTF-8")
    // a call or a method value: the name followed by a parenthesis
    def calls(name: String, in: String = src): Int =
      ("""(?<!def )\b""" + java.util.regex.Pattern.quote(name) + "[()]").r.findAllIn(in).size
    assert(calls("staleDiff") == 1)
    assert(calls("limitViolation") == 1)
    // a scrape's accepted batch, its report series and its staleness
    // markers go to the store together, in one driver-side append
    val append = src.substring(src.indexOf("private def append("), src.indexOf("def start()"))
    assert(calls("store.appendRows", append) == 1)
    assert(calls("store.append") == 0)
  }

  test("driver-side ingest: Scrape.scala builds no Spark job, Relabel.scala has one rule evaluator") {
    def src(file: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"src/main/scala/graft/streaming/$file")), "UTF-8")
    val scrape = src("Scrape.scala")
    Seq("parallelize", "createDataFrame", "collect()").foreach(w => assert(!scrape.contains(w), w))
    val relabel = src("Relabel.scala")
    Seq("map_filter", "rlike").foreach(w => assert(!relabel.contains(w), w))
  }

  test("a scrape of text, OpenMetrics and protobuf targets and an OTLP request with exemplars run no Spark job") {
    import Pb._
    withFamilies { (base, _) =>
      val store = emptyStoreS()
      val scrape = new ScrapeManager(spark, store,
        Seq("text", "om", "proto").map(p => ScrapeManager.ScrapeTarget(s"$base/$p", "t", p)),
        nowMs = () => 60000L, convertNhcb = true,
        metricRelabel = Seq(Relabel.Rule(Relabel.Replace, Seq("path"), targetLabel = "route")),
        limits = ScrapeManager.ScrapeLimits(sampleLimit = 100))
      // one OTLP cumulative sum point with one exemplar (trace_id 0102)
      def fixed64(o: Out, field: Int, v: Long): Unit = {
        vint(o, (field << 3) | 1); (0 until 8).foreach(i => o.write(((v >> (8 * i)) & 0xff).toInt))
      }
      val exemplar = msg { e => fixed64(e, 2, 59000000000L); dbl(e, 3, 41.5)
        bytes(e, 5, Array[Byte](1, 2)) }
      val point = msg { d => fixed64(d, 3, 60000000000L); dbl(d, 4, 42.0); bytes(d, 5, exemplar) }
      val metric = msg { m => str(m, 1, "req.count")
        bytes(m, 7, msg { s => bytes(s, 1, point); uint(s, 2, 2); uint(s, 3, 1) }) }
      val otlp = msg(o => bytes(o, 1, msg(rm => bytes(rm, 2, msg(sm => bytes(sm, 2, metric))))))
      val api = new graft.web.HttpApi(spark, store, 0, () => 60000L)
      api.start()
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.add(String.valueOf(js.properties.getProperty("spark.job.description")))
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        scrape.scrapeOnce()
        val resp = java.net.http.HttpClient.newHttpClient().send(
          java.net.http.HttpRequest.newBuilder(java.net.URI.create(
              s"http://127.0.0.1:${api.boundPort}/api/v1/otlp/v1/metrics"))
            .header("Content-Type", "application/x-protobuf")
            .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(otlp)).build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        assert(resp.statusCode() == 200)
        // the listener bus delivers in order: once this job's start is seen,
        // every earlier one has been
        spark.sparkContext.setJobDescription("marker")
        spark.sparkContext.parallelize(Seq(1), 1).count()
        spark.sparkContext.setJobDescription(null)
        val deadline = System.nanoTime() + 10000000000L
        while (!jobs.contains("marker") && System.nanoTime() < deadline) Thread.sleep(20)
        assert(jobs.contains("marker"))
        assert(jobs.size == 1, jobs)
      } finally {
        spark.sparkContext.removeSparkListener(listener)
        api.stop()
      }
      val up = store.samples.filter(element_at(col("labels"), "__name__") === "up")
        .select("v").collect().map(_.getDouble(0))
      assert(up.toSeq == Seq(1.0, 1.0, 1.0))
      val traces = store.exemplars.get.collect()
        .map(_.getStruct(1).getMap[String, String](0)("trace_id")).toSet
      assert(traces == Set("t1", "t2", "0102"))
      assert(store.samples.filter(col("h").isNotNull).count() == 3) // one NHCB per target
    }
  }
}
