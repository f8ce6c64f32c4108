package graft.promqltest

import org.apache.spark.sql.SparkSession

/** Runs the reference's promtool rules-unit-test corpus
  * (the cmd/promtool/testdata yml files) against [[RuleUnitTest]], asserting the same
  * exit codes as the reference's own cmd/promtool/unittest_test.go
  * TestRulesUnitTest / TestRulesUnitTestRun tables. */
object RuleTestMain {

  private val dir = "/root/reference/cmd/promtool/testdata"
  import RuleUnitTest.Opts

  /** (case name, file, opts, expect pass) — mirrors unittest_test.go:29-290 */
  val cases: Seq[(String, String, Opts, Boolean)] = Seq(
    ("Passing Unit Tests", "unittest.yml", Opts(), true),
    ("Long evaluation interval", "long-period.yml", Opts(), true),
    ("Bad input series", "bad-input-series.yml", Opts(), false),
    ("Bad PromQL", "bad-promql.yml", Opts(), false),
    ("Bad rules (syntax error)", "bad-rules-syntax-test.yml", Opts(), false),
    ("Bad rules (error evaluating)", "bad-rules-error-test.yml", Opts(), false),
    ("Simple failing test", "failing.yml", Opts(), false),
    ("Disabled feature (@ modifier)", "at-modifier-test.yml",
      Opts(enableAtModifier = false), false),
    ("Enabled feature (@ modifier)", "at-modifier-test.yml", Opts(), true),
    ("Disabled feature (negative offset)", "negative-offset-test.yml",
      Opts(enableNegativeOffset = false), false),
    ("Enabled feature (negative offset)", "negative-offset-test.yml", Opts(), true),
    ("No test group interval", "no-test-group-interval.yml", Opts(), true),
    ("Start time tests", "start-time-test.yml", Opts(), true),
    ("Test all without run arg", "rules_run.yml", Opts(), false),
    ("Test all with run arg", "rules_run.yml", Opts(run = Some("correct|wrong")), false),
    ("Test correct", "rules_run.yml", Opts(run = Some("correct")), true),
    ("Test wrong", "rules_run.yml", Opts(run = Some("wrong")), false),
    ("Test all with extra fields", "rules_run_extrafields.yml",
      Opts(ignoreUnknownFields = true), true),
    ("Test precise floating point comparison expected failure", "rules_run_no_fuzzy.yml",
      Opts(), false),
    ("Test fuzzy floating point comparison correct match", "rules_run_fuzzy.yml",
      Opts(run = Some("correct")), true),
    ("Test fuzzy floating point comparison wrong match", "rules_run_fuzzy.yml",
      Opts(run = Some("wrong")), false))

  /** run all cases; returns (case name, errors, matchedExpectation) */
  def runAll(spark: SparkSession, verbose: Boolean = false): Seq[(String, List[String], Boolean)] =
    cases.map { case (name, file, opts, expectPass) =>
      val errs = RuleUnitTest.runFile(spark, s"$dir/$file", opts)
      val ok = errs.isEmpty == expectPass
      if (verbose || !ok) {
        println(s"${if (ok) "OK  " else "BAD "} $name (${if (errs.isEmpty) "passed" else "failed"}, expected ${if (expectPass) "pass" else "fail"})")
        if (!ok) errs.take(5).foreach(e => println(s"       $e"))
      }
      (name, errs, ok)
    }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession()
    val t0 = System.nanoTime()
    val results = runAll(spark, verbose = true)
    val bad = results.count(!_._3)
    println(f"TOTAL: ${results.size - bad} matched, $bad mismatched of ${results.size} " +
      f"promtool unit-test cases (${(System.nanoTime() - t0) / 1e9}%.1f s)")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
