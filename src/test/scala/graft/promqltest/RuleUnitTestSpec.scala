package graft.promqltest

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The reference's promtool rules-unit-test corpus, exit-code-matched against
  * cmd/promtool/unittest_test.go's own expectation table (21 cases: passing
  * suites, failure modes, feature flags, run filters, fuzzy compare). */
class RuleUnitTestSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("promtool unit-test corpus: all 21 reference cases match expected exit codes") {
    val results = RuleTestMain.runAll(spark)
    val bad = results.filter(!_._3)
    assert(bad.isEmpty, s"mismatched cases: ${bad.map(b => b._1 -> b._2.take(2)).mkString("; ")}")
  }

  test("check rules: duplicate detection + experimental-grammar rule files parse") {
    val d = "/root/reference/cmd/promtool/testdata"
    // ref: cmd/promtool/main_test.go TestCheckDuplicates — one duplicate
    assert(RuleUnitTest.duplicateRules(s"$d/rules_duplicates.yml") ==
      List(("job:test:count_over_time1m", Map.empty[String, String])))
    assert(RuleUnitTest.duplicateRules(s"$d/rules.yml").isEmpty)
    // features.yml: sort_by_label, duration expressions, anchored selectors,
    // fill modifiers — must all parse as rule exprs
    assert(RuleUnitTest.duplicateRules(s"$d/features.yml").isEmpty)
  }

  // ---- an in-repo oracle: one rule file, one unit-test file, and variants
  // that must fail for exactly the reason they were made to ----

  private val ruleFile =
    """groups:
      |  - name: chain
      |    rules:
      |      - record: job:reqs:sum
      |        expr: sum by (job) (reqs)
      |      - record: total:reqs
      |        expr: sum(job:reqs:sum)
      |      - alert: HighReqs
      |        expr: job:reqs:sum > 100
      |        for: 2m
      |        keep_firing_for: 3m
      |        labels:
      |          severity: page
      |        annotations:
      |          summary: "{{ $labels.job | toUpper }} at {{ $value }}"
      |          site: "{{ $externalLabels.site }}"
      |""".stripMargin

  private val testFile =
    """rule_files:
      |  - rules.yml
      |evaluation_interval: 1m
      |tests:
      |  - interval: 1m
      |    external_labels:
      |      site: eu1
      |    input_series:
      |      - series: 'reqs{job="api"}'
      |        values: '50 150 150 150 150 50 50 50 50 50'
      |      - series: 'reqs{job="db"}'
      |        values: '10 10 stale'
      |    promql_expr_test:
      |      - expr: total:reqs
      |        eval_time: 1m
      |        exp_samples:
      |          - labels: 'total:reqs'
      |            value: 160
      |      - expr: job:reqs:sum
      |        eval_time: 2m
      |        exp_samples:
      |          - labels: 'job:reqs:sum{job="api"}'
      |            value: 150
      |      - expr: ALERTS_FOR_STATE
      |        eval_time: 3m
      |        exp_samples:
      |          - labels: 'ALERTS_FOR_STATE{alertname="HighReqs", job="api", severity="page"}'
      |            value: 60
      |    alert_rule_test:
      |      - eval_time: 2m
      |        alertname: HighReqs
      |        exp_alerts: []
      |      - eval_time: 3m
      |        alertname: HighReqs
      |        exp_alerts:
      |          - exp_labels:
      |              severity: page
      |              job: api
      |            exp_annotations:
      |              summary: "API at 150"
      |              site: eu1
      |      - eval_time: 7m
      |        alertname: HighReqs
      |        exp_alerts:
      |          - exp_labels:
      |              severity: page
      |              job: api
      |            exp_annotations:
      |              summary: "API at 150"
      |              site: eu1
      |      - eval_time: 8m
      |        alertname: HighReqs
      |        exp_alerts: []
      |""".stripMargin

  /** runs the fixture with `rules`/`test` edited; returns the errors */
  private def runFixture(rules: String = ruleFile, test: String = testFile,
      opts: RuleUnitTest.Opts = RuleUnitTest.Opts()): List[String] = {
    val dir = java.nio.file.Files.createTempDirectory("graft-unittest")
    java.nio.file.Files.writeString(dir.resolve("rules.yml"), rules)
    java.nio.file.Files.writeString(dir.resolve("test.yml"), test)
    RuleUnitTest.runFile(spark, dir.resolve("test.yml").toString, opts)
  }

  private def edit(text: String, from: String, to: String): String = {
    assert(text.contains(from), from)
    text.replace(from, to)
  }

  test("fixture: recording chain, for, keep_firing_for, $value, $externalLabels and template functions pass") {
    assert(runFixture().isEmpty)
  }

  test("fixture: a wrong exp_samples value is the only error") {
    val errs = runFixture(test = edit(testFile, "value: 160", "value: 161"))
    assert(errs.size == 1 && errs.head.startsWith("expr: 'total:reqs', time: 60s"), errs)
  }

  test("fixture: a wrong exp_alerts label is the only error") {
    val errs = runFixture(test = edit(testFile,
      "      - eval_time: 7m\n        alertname: HighReqs\n        exp_alerts:\n          - exp_labels:\n              severity: page",
      "      - eval_time: 7m\n        alertname: HighReqs\n        exp_alerts:\n          - exp_labels:\n              severity: ticket"))
    assert(errs.size == 1 && errs.head.contains("alertname: HighReqs, time: 420s"), errs)
  }

  test("fixture: an unknown rule field is refused, and accepted with ignoreUnknownFields") {
    val rules = edit(ruleFile, "        for: 2m\n", "        for: 2m\n        owner: team-a\n")
    val errs = runFixture(rules = rules)
    assert(errs.size == 1 && errs.head.contains("field owner not found"), errs)
    assert(runFixture(rules = rules,
      opts = RuleUnitTest.Opts(ignoreUnknownFields = true)).isEmpty)
  }

  test("fixture: an annotation using the undefined $label is refused at load") {
    val errs = runFixture(rules = edit(ruleFile, "          site: ",
      "          bad: \"{{ $label.foo }}\"\n          site: "))
    assert(errs.size == 1 && errs.head.contains("undefined variable \"$label\""), errs)
  }

  test("the unit tester's range fold appends what evalGroup appends, staleness markers included") {
    import org.apache.spark.sql.Row
    val dir = java.nio.file.Files.createTempDirectory("graft-unittest")
    val path = dir.resolve("rules.yml")
    java.nio.file.Files.writeString(path, ruleFile)
    val g = graft.streaming.Config.loadRuleGroups(path.toString, 60000L).head
    val input =
      Seq(50.0, 150.0, 150.0, 150.0, 150.0, 50.0).zipWithIndex.map { case (v, i) =>
        Row(Map("__name__" -> "reqs", "job" -> "api"), i * 60000L, v, false, null, 0L)
      } ++ Seq(
        Row(Map("__name__" -> "reqs", "job" -> "db"), 0L, 10.0, false, null, 0L),
        Row(Map("__name__" -> "reqs", "job" -> "db"), 60000L, Double.NaN, true, null, 0L))
    val ticks = Vector.tabulate(10)(_ * 60000L)
    val store = scala.collection.mutable.ArrayBuffer[Row](input: _*)
    RuleUnitTest.foldRules(spark, Seq(g), ticks, 60000L, store)()
    // NaN marker values compare by their bits
    def keyed(rows: Seq[Row]) = rows.map(r => (r.getMap[String, String](0).toMap, r.getLong(1),
      java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getBoolean(3))).toSet
    val folded = keyed(store.drop(input.size).toSeq)
    import scala.jdk.CollectionConverters._
    val live = keyed(graft.streaming.Rules.evalGroup(spark,
      spark.createDataFrame(input.asJava, graft.promql.Engine.samplesSchema), g,
      ticks.head, ticks.last).collect().toSeq)
    assert(folded == live)
    // the comparison covers every kind of marker: a vanished recorded
    // series, a pending series turned firing, and a resolved alert
    val stale = folded.filter(_._4).map(r => (r._1("__name__"), r._2))
    assert(stale.contains(("job:reqs:sum", 60000L)))
    assert(stale.contains(("ALERTS", 180000L)))
    assert(stale.contains(("ALERTS", 480000L)), stale)
  }

  test("check rules and duplicateRules share one duplicate-rule lint") {
    val dir = java.nio.file.Files.createTempDirectory("graft-unittest")
    val path = dir.resolve("dups.yml")
    java.nio.file.Files.writeString(path,
      """groups:
        |  - name: a
        |    rules:
        |      - record: r:x
        |        expr: sum(x)
        |      - alert: Hot
        |        expr: x > 1
        |        labels:
        |          severity: page
        |  - name: b
        |    rules:
        |      - record: r:x
        |        expr: sum(y)
        |      - alert: Hot
        |        expr: x > 2
        |        labels:
        |          severity: ticket
        |""".stripMargin)
    assert(RuleUnitTest.duplicateRules(path.toString) == List(("r:x", Map.empty[String, String])))
    val checked = graft.streaming.ConfigCheck.checkRules(path.toString)
    assert(checked.exitCode == 3 && checked.lintIssues == Seq(s"$path: duplicate rule r:x"), checked)
  }

  test("yaml-lite: parses the unit-test structures") {
    import YamlLite._
    val n = parse(
      """# comment
        |rule_files:
        |  - rules.yml
        |evaluation_interval: 1m
        |tests:
        |  - interval: 1m
        |    input_series:
        |      - series: 'up{job="x", instance="y:9090"'
        |        values: "0+0x1440"  # inline comment
        |    alert_rule_test:
        |      - eval_time: 1d
        |        alertname: A
        |        exp_alerts:
        |          - {}
        |          - exp_labels:
        |              severity: page
        |      - eval_time: 0
        |        exp_alerts: []
        |  - {}
        |""".stripMargin)
    val m = n.asInstanceOf[YMap]
    assert(m.str("evaluation_interval").contains("1m"))
    assert(m.list("rule_files") == List(YScalar("rules.yml")))
    val t0 = m.list("tests").head.asInstanceOf[YMap]
    assert(m.list("tests")(1) == YMap(Nil))
    val s0 = t0.list("input_series").head.asInstanceOf[YMap]
    assert(s0.str("series").contains("""up{job="x", instance="y:9090""""))
    assert(s0.str("values").contains("0+0x1440"))
    val a0 = t0.list("alert_rule_test").head.asInstanceOf[YMap]
    assert(a0.list("exp_alerts").head == YMap(Nil))
    assert(a0.list("exp_alerts")(1).asInstanceOf[YMap]
      .get("exp_labels").get.asInstanceOf[YMap].str("severity").contains("page"))
    assert(t0.list("alert_rule_test")(1).asInstanceOf[YMap].list("exp_alerts").isEmpty)
  }
}
