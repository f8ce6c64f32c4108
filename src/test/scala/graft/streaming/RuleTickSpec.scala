package graft.streaming

import graft.promql.Engine
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Rule ticks against the sealed-chunk store: recorded output is sealed at
  * append time, so the store's plan does not nest past rule queries; a
  * rule that fails is recorded unhealthy without aborting the tick; each
  * alerting rule, and each group of one name in two files, keeps its own
  * state; vanished series are stale-marked. */
class RuleTickSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private def server(rules: String,
      dir: java.nio.file.Path = java.nio.file.Files.createTempDirectory("graft-ticks")): PromServer =
    serverOf(dir, "rules.yml" -> rules)

  /** a started server over the named rule files, written to `dir` */
  private def serverOf(dir: java.nio.file.Path, files: (String, String)*): PromServer = {
    files.foreach { case (f, rules) =>
      java.nio.file.Files.write(dir.resolve(f), rules.getBytes("UTF-8")) }
    val cfg = dir.resolve("prometheus.yml")
    java.nio.file.Files.write(cfg, ("global:\n  evaluation_interval: 1s\nrule_files:\n" +
      files.map(f => s"  - ${f._1}\n").mkString).getBytes("UTF-8"))
    val srv = new PromServer(spark, cfg.toString)
    srv.start()
    srv
  }

  private def append(srv: PromServer, rows: Seq[Row]): Unit =
    srv.store.append(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      Engine.samplesSchema))

  private def count(srv: PromServer, query: String, tsMs: Long): Long =
    Engine.instantQuery(spark, srv.store.samples, query, tsMs)
      .asInstanceOf[graft.promql.VectorVal].df.count()

  private def planNodes(srv: PromServer): Int =
    srv.store.samples.queryExecution.logical.collect { case p => p }.size

  test("recording-rule output does not nest the store's plan across ticks") {
    val srv = server(
      """groups:
        |  - name: g
        |    rules:
        |      - record: m:sum
        |        expr: sum(m)
        |""".stripMargin)
    try {
      append(srv, (0 until 21).map(i =>
        Row(Map("__name__" -> "m", "i" -> i.toString), 10000L, i.toDouble, false, null, 0L)))
      val counts = (1 to 8).map { k =>
        srv.evalRulesOnce(10000L + k * 1000L)
        srv.store.samples.count()
      }
      val nodes = planNodes(srv)
      assert(counts == (22L to 29L))
      srv.evalRulesOnce(19000L)
      assert(planNodes(srv) == nodes)
      val recorded = srv.store.samples.collect().filter(
        _.getMap[String, String](0).get("__name__").contains("m:sum"))
      assert(recorded.map(_.getDouble(2)).toSet == Set(210.0) && recorded.length == 9)
    } finally srv.stop()
  }

  test("a failing rule is recorded in ruleErrors; the tick goes on") {
    // abs and ceil drop the metric name, so m1 and m2 collide on one label set
    // at execution time: the query plans, then its evaluation throws
    val srv = server(
      """groups:
        |  - name: g
        |    rules:
        |      - record: dup
        |        expr: abs({__name__=~"m1|m2"})
        |      - record: ok:sum
        |        expr: sum(m1)
        |      - alert: Bad
        |        expr: ceil({__name__=~"m1|m2"}) > 0
        |      - alert: Up
        |        expr: m1 > 0
        |""".stripMargin)
    try {
      append(srv, Seq(
        Row(Map("__name__" -> "m1", "i" -> "0"), 10000L, 1.0, false, null, 0L),
        Row(Map("__name__" -> "m2", "i" -> "0"), 10000L, 2.0, false, null, 0L)))
      val before = srv.store.samples.count()
      srv.evalRulesOnce(15000L)
      val errs = srv.api.ruleErrors
      assert(errs.keySet.map { case (g, i) => (g.name, g.rules(i).name) } ==
        Set(("g", "dup"), ("g", "Bad")), errs)
      assert(errs.values.forall(_.contains("same labelset")), errs)
      val names = srv.store.samples.collect()
        .map(_.getMap[String, String](0)("__name__")).toSeq
      // the healthy recording rule and the healthy alert landed; nothing else
      assert(names.count(_ == "ok:sum") == 1 && names.count(_ == "ALERTS") == 1, names)
      assert(srv.store.samples.count() == before + 3) // ok:sum, ALERTS, ALERTS_FOR_STATE
      assert(!names.contains("dup"))
    } finally srv.stop()
  }

  test("two alerting rules with one name keep their own state and their own alerts") {
    val srv = server(
      """groups:
        |  - name: g
        |    interval: 1m
        |    rules:
        |      - alert: HighLatency
        |        expr: lat > 1
        |        for: 2m
        |        labels:
        |          severity: warning
        |      - alert: HighLatency
        |        expr: lat > 2
        |        for: 2m
        |        labels:
        |          severity: critical
        |""".stripMargin)
    try {
      append(srv, (0 to 3).map(i =>
        Row(Map("__name__" -> "lat", "job" -> "api"), i * 60000L, 5.0, false, null, 0L)))
      Seq(60000L, 120000L, 180000L).foreach(srv.evalRulesOnce)
      assert(count(srv, """ALERTS{alertstate="firing"}""", 180000L) == 2)
      val body = new String(java.net.URI.create(
        s"http://127.0.0.1:${srv.api.boundPort}/api/v1/rules").toURL.openStream()
        .readAllBytes(), "UTF-8")
      val rules = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        .path("data").path("groups").get(0).path("rules")
      assert(rules.size == 2, body)
      (0 until 2).map(rules.get).foreach { r =>
        val severity = r.path("labels").path("severity").asText()
        val alerts = r.path("alerts")
        assert(r.path("state").asText() == "firing", body)
        assert(alerts.size == 1 &&
          alerts.get(0).path("labels").path("severity").asText() == severity, body)
      }
    } finally srv.stop()
  }

  test("groups of one name in two rule files keep their own state") {
    def rules(team: String) =
      s"""groups:
         |  - name: g
         |    interval: 1m
         |    rules:
         |      - record: $team:lat:max
         |        expr: max(lat)
         |      - alert: Slow
         |        expr: lat > 1
         |        for: 2m
         |        labels:
         |          team: $team
         |""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("graft-ticks")
    val srv = serverOf(dir, "a.yml" -> rules("a"), "b.yml" -> rules("b"))
    try {
      append(srv, (0 to 3).map(i =>
        Row(Map("__name__" -> "lat", "job" -> "api"), i * 60000L, 5.0, false, null, 0L)))
      Seq(60000L, 120000L, 180000L).foreach(srv.evalRulesOnce)
      assert(count(srv, """ALERTS{alertstate="firing"}""", 180000L) == 2)
      assert(count(srv, "a:lat:max", 180000L) == 1 && count(srv, "b:lat:max", 180000L) == 1)
      // neither group stale-marks the other's series: the only markers end
      // each alert's pending series when it fires
      val stale = srv.store.samples.filter("stale").collect().toSeq
        .map(_.getMap[String, String](0).toMap)
        .map(l => (l("__name__"), l.get("alertstate"), l.get("team")))
      assert(stale.sorted == Seq(("ALERTS", Some("pending"), Some("a")),
        ("ALERTS", Some("pending"), Some("b"))), stale)
      val body = new String(java.net.URI.create(
        s"http://127.0.0.1:${srv.api.boundPort}/api/v1/rules").toURL.openStream()
        .readAllBytes(), "UTF-8")
      val groups = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        .path("data").path("groups")
      assert(groups.size == 2, body)
      (0 until 2).map(groups.get).foreach { g =>
        val team = g.path("file").asText().stripSuffix(".yml").takeRight(1)
        val alerts = g.path("rules").get(1).path("alerts")
        assert(alerts.size == 1 &&
          alerts.get(0).path("labels").path("team").asText() == team, body)
      }
    } finally srv.stop()
  }

  test("a rule whose rows the host does not commit keeps its previous state") {
    val g = Rules.Group("g", 1000L, rules = Seq(Rules.RecordingRule("m:sum", "sum(m)")))
    val samples = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(Map("__name__" -> "m"), 1000L, 1.0, false, null, 0L)), 1), Engine.samplesSchema)
    val prev = Vector(Rules.RuleState())
    assert(Rules.tick(spark, g, 2000L, prev, () => samples)((_, _) => false) == prev)
    assert(Rules.tick(spark, g, 2000L, prev, () => samples)((_, _) => true) ==
      Vector(Rules.RuleState(Set(Map("__name__" -> "m:sum")))))
  }

  test("a resolved alert and a vanished recorded series are stale-marked at the next tick") {
    val srv = server(
      """groups:
        |  - name: g
        |    rules:
        |      - record: m:positive
        |        expr: m > 0
        |      - alert: MPositive
        |        expr: m > 0
        |""".stripMargin)
    try {
      append(srv, Seq(Row(Map("__name__" -> "m", "i" -> "0"), 10000L, 1.0, false, null, 0L)))
      srv.evalRulesOnce(15000L)
      assert(count(srv, "m:positive", 15000L) == 1 && count(srv, "ALERTS", 15000L) == 1)
      append(srv, Seq(Row(Map("__name__" -> "m", "i" -> "0"), 20000L, 0.0, false, null, 0L)))
      srv.evalRulesOnce(30000L)
      // without the markers the 15s samples would ride the 5m lookback
      assert(count(srv, "m:positive", 30000L) == 0)
      assert(count(srv, "ALERTS", 30000L) == 0 && count(srv, "ALERTS_FOR_STATE", 30000L) == 0)
    } finally srv.stop()
  }

  test("series that collide after the rule's labels fail with the reference's errors") {
    val srv = server(
      """groups:
        |  - name: g
        |    rules:
        |      - record: ab
        |        expr: '{__name__=~"a|b"}'
        |      - alert: AB
        |        expr: '{__name__=~"a|b"} > 0'
        |""".stripMargin)
    try {
      append(srv, Seq(
        Row(Map("__name__" -> "a", "i" -> "0"), 10000L, 1.0, false, null, 0L),
        Row(Map("__name__" -> "b", "i" -> "0"), 10000L, 2.0, false, null, 0L)))
      val before = srv.store.samples.count()
      srv.evalRulesOnce(15000L)
      assert(srv.api.ruleErrors.map { case ((g, i), e) => (g.name, g.rules(i).name) -> e } == Map(
        ("g", "ab") -> "vector contains metrics with the same labelset after applying rule labels",
        ("g", "AB") -> "vector contains metrics with the same labelset after applying alert labels"))
      assert(srv.store.samples.count() == before)
    } finally srv.stop()
  }

  test("rule health is kept per rule: of two rules with one name only the failing one is err") {
    // ceil drops the metric name, so m1 and m2 collide when it evaluates
    val srv = server(
      """groups:
        |  - name: g
        |    rules:
        |      - alert: HighLatency
        |        expr: ceil({__name__=~"m1|m2"}) > 0
        |        labels:
        |          severity: warning
        |      - alert: HighLatency
        |        expr: m1 > 0
        |        labels:
        |          severity: critical
        |""".stripMargin)
    try {
      append(srv, Seq(
        Row(Map("__name__" -> "m1", "i" -> "0"), 10000L, 1.0, false, null, 0L),
        Row(Map("__name__" -> "m2", "i" -> "0"), 10000L, 2.0, false, null, 0L)))
      srv.evalRulesOnce(15000L)
      val body = new String(java.net.URI.create(
        s"http://127.0.0.1:${srv.api.boundPort}/api/v1/rules").toURL.openStream()
        .readAllBytes(), "UTF-8")
      val rules = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        .path("data").path("groups").get(0).path("rules")
      val health = (0 until rules.size).map(rules.get).map(r =>
        (r.path("labels").path("severity").asText(), r.path("health").asText()))
      assert(health == Seq(("warning", "err"), ("critical", "ok")), body)
    } finally srv.stop()
  }

  test("a reload stale-marks the series of the rules and groups it removes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ticks")
    val keep = "  - name: g\n    rules:\n      - record: a:sum\n        expr: sum(m)\n"
    val srv = server("groups:\n" + keep + "      - record: b:sum\n        expr: sum(m)\n" +
      "  - name: h\n    rules:\n      - record: c:sum\n        expr: sum(m)\n", dir)
    try {
      append(srv, Seq(Row(Map("__name__" -> "m"), 10000L, 1.0, false, null, 0L)))
      srv.evalRulesOnce(15000L)
      assert(Seq("a:sum", "b:sum", "c:sum").map(count(srv, _, 15000L)) == Seq(1L, 1L, 1L))
      java.nio.file.Files.write(dir.resolve("rules.yml"), ("groups:\n" + keep).getBytes("UTF-8"))
      assert(srv.reload().isRight)
      srv.evalRulesOnce(30000L)
      // without the markers the 15s samples would ride the 5m lookback
      assert(Seq("a:sum", "b:sum", "c:sum").map(count(srv, _, 30000L)) == Seq(1L, 0L, 0L))
    } finally srv.stop()
  }

  test("a reload keeps each alerting rule's state, matched by name and labels") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ticks")
    val alert =
      """      - alert: Slow
        |        expr: lat > 1
        |        for: 2m
        |""".stripMargin
    val srv = server("groups:\n  - name: g\n    rules:\n" + alert, dir)
    try {
      append(srv, (0 to 3).map(i =>
        Row(Map("__name__" -> "lat", "job" -> "api"), i * 60000L, 5.0, false, null, 0L)))
      srv.evalRulesOnce(60000L)
      // a rule inserted before it moves the alert to another position
      java.nio.file.Files.write(dir.resolve("rules.yml"), ("groups:\n  - name: g\n    rules:\n" +
        "      - record: lat:max\n        expr: max(lat)\n" + alert).getBytes("UTF-8"))
      assert(srv.reload().isRight)
      srv.evalRulesOnce(120000L)
      srv.evalRulesOnce(180000L)
      assert(count(srv, """ALERTS{alertstate="firing"}""", 180000L) == 1)
    } finally srv.stop()
  }

  test("only Config walks a rule file's groups; only Rules writes ALERTS rows") {
    val root = new java.io.File("src/main/scala")
    def sources(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq.flatMap(f =>
        if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f)
        else Nil)
    val files = sources(root)
    assert(files.length > 100, s"sources not found under ${root.getAbsolutePath}")
    def offenders(pattern: scala.util.matching.Regex, owner: String): Seq[String] =
      files.filter(_.getName != owner).flatMap { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        pattern.findFirstIn(src).map(m => s"${f.getPath}: $m")
      }
    val walks = offenders("""list\(\s*"groups"\s*\)""".r, "Config.scala")
    assert(walks.isEmpty, s"read rule files through Config.loadRuleGroups: $walks")
    val writes = offenders("\"ALERTS(_FOR_STATE)?\"".r, "Rules.scala")
    assert(writes.isEmpty, s"build ALERTS rows in Rules.step: $writes")
  }
}
