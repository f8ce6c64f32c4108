package graft.streaming

import graft.promql.Engine
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Rule ticks against the sealed-chunk store: recorded output is sealed at
  * append time, so the store's plan does not nest past rule queries, and a
  * rule that fails is recorded unhealthy without aborting the tick. */
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

  private def server(rules: String): PromServer = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ticks")
    java.nio.file.Files.write(dir.resolve("rules.yml"), rules.getBytes("UTF-8"))
    val cfg = dir.resolve("prometheus.yml")
    java.nio.file.Files.write(cfg,
      "global:\n  evaluation_interval: 1s\nrule_files:\n  - rules.yml\n".getBytes("UTF-8"))
    val srv = new PromServer(spark, cfg.toString)
    srv.start()
    srv
  }

  private def append(srv: PromServer, rows: Seq[Row]): Unit =
    srv.store.append(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      Engine.samplesSchema))

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
      assert(errs.keySet == Set(("g", "dup"), ("g", "Bad")), errs)
      assert(errs.values.forall(_.contains("same labelset")), errs)
      val names = srv.store.samples.collect()
        .map(_.getMap[String, String](0)("__name__")).toSeq
      // the healthy recording rule and the healthy alert landed; nothing else
      assert(names.count(_ == "ok:sum") == 1 && names.count(_ == "ALERTS") == 1, names)
      assert(srv.store.samples.count() == before + 3) // ok:sum, ALERTS, ALERTS_FOR_STATE
      assert(!names.contains("dup"))
    } finally srv.stop()
  }
}
