package graft.promqltest

import graft.promql._
import graft.streaming.{Config, ConfigCheck, Rules}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.mutable
import YamlLite.{YList, YMap, YNode, YScalar}

/** promtool-style rules unit testing (ref: cmd/promtool/unittest.go
  * RulesUnitTest + docs/configuration/unit_testing_rules.md): parse the YAML
  * test format, load `input_series`, evaluate every rule group over the tick
  * grid, then check `promql_expr_test` samples and `alert_rule_test` firing
  * alerts.
  *
  * Rule files load through the server's loader ([[Config.loadRuleGroups]])
  * and every tick goes through the server's rule step ([[Rules.step]]).
  * Execution twist: the reference loops tick-by-tick (`unittest.go:330`),
  * re-running every rule at every `evaluation_interval` — fine in-process,
  * hopeless when each rule eval is a distributed query. Here each rule is ONE
  * all-steps-at-once RANGE query over the whole grid (the engine's range
  * semantics are exactly per-step instant evaluation), and [[Rules.step]]
  * folds over the collected per-tick results, appending recorded samples,
  * ALERTS and staleness markers as the live tick does. Rules therefore must
  * not read their own (or a later rule's) output at an EARLIER tick —
  * same-tick visibility, the common case, is preserved by evaluating rules
  * in file order; the divergent case is detected and reported as
  * unsupported.
  */
object RuleUnitTest {

  final case class Opts(
      enableAtModifier: Boolean = true,
      enableNegativeOffset: Boolean = true,
      run: Option[String] = None,
      ignoreUnknownFields: Boolean = false)

  // ---------- parsed structures ----------

  private final case class PSample(labels: Map[String, String], value: Double, hist: Option[FHist])
  private final case class PromqlCase(expr: String, evalMs: Long, exp: List[PSample])
  private final case class ExpAlert(labels: Map[String, String], annotations: Map[String, String])
  private final case class AlertCase(evalMs: Long, alertname: String, exp: List[ExpAlert])
  private final case class TG(
      name: String, intervalMs: Long, startMs: Long,
      input: List[(Map[String, String], Vector[TestScript.SeriesValue])],
      promql: List[PromqlCase], alertCases: List[AlertCase],
      externalLabels: Map[String, String], externalUrl: String)
  private final case class TestError(msg: String) extends RuntimeException(msg)

  // ---------- YAML → structures ----------

  private def strict(m: YMap, allowed: Set[String], where: String): Unit = {
    val unknown = m.keys.filterNot(allowed)
    if (unknown.nonEmpty)
      throw TestError(s"unknown field(s) ${unknown.mkString(", ")} in $where")
  }

  private def durMs(s: String): Long = TestScript.parseTime(s)

  private def parseStartTs(s: String): Long =
    if (s.matches("^-?[0-9]+(\\.[0-9]+)?$")) (s.toDouble * 1000.0).toLong
    else java.time.Instant.parse(s).toEpochMilli

  private def kvMap(n: Option[YNode], where: String): Map[String, String] = n match {
    case None | Some(YScalar("")) => Map.empty
    case Some(YMap(entries)) => entries.map {
      case (k, YScalar(v)) => k -> v
      case (k, other) => throw TestError(s"$where: label '$k' must be a scalar, got $other")
    }.toMap
    case Some(other) => throw TestError(s"$where: expected a map, got $other")
  }

  private def parseSampleList(n: Option[YNode]): List[PSample] = n match {
    case None | Some(YScalar("")) | Some(YList(Nil)) => Nil
    case Some(YList(items)) => items.map {
      case m: YMap =>
        strict(m, Set("labels", "value", "histogram"), "exp_samples entry")
        val labels = m.str("labels").filter(_.nonEmpty)
          .map(TestScript.parseSelectorLabels(_, 0)).getOrElse(Map.empty)
        val hist = m.str("histogram").map { hs =>
          val inner = hs.trim.stripPrefix("{{").stripSuffix("}}")
          FHist.parseLiteral(inner)
        }
        PSample(labels, m.str("value").map(TestNum.parse).getOrElse(0.0), hist)
      case other => throw TestError(s"bad exp_samples node $other")
    }
    case Some(other) => throw TestError(s"bad exp_samples $other")
  }

  private def parseTestGroup(n: YNode, defIntervalMs: Long): TG = n match {
    case m: YMap =>
      strict(m, Set("interval", "input_series", "alert_rule_test", "promql_expr_test",
        "external_labels", "external_url", "name", "start_timestamp"), "test group")
      val interval = m.str("interval").map(durMs).getOrElse(defIntervalMs)
      val start = m.str("start_timestamp").map(parseStartTs).getOrElse(0L)
      val input = m.list("input_series").map {
        case s: YMap =>
          strict(s, Set("series", "values"), "input_series entry")
          val sel = s.str("series").getOrElse(throw TestError("input_series missing 'series'"))
          val vals = s.str("values").getOrElse("")
          val labels = TestScript.parseSelectorLabels(sel, 0)
          (labels, TestScript.parseValues(vals, 0))
        case other => throw TestError(s"bad input_series node $other")
      }
      val promql = m.list("promql_expr_test").map {
        case c: YMap =>
          strict(c, Set("expr", "eval_time", "exp_samples"), "promql_expr_test entry")
          PromqlCase(
            c.str("expr").getOrElse(throw TestError("promql_expr_test missing expr")),
            c.str("eval_time").map(durMs).getOrElse(0L),
            parseSampleList(c.get("exp_samples")))
        case other => throw TestError(s"bad promql_expr_test node $other")
      }
      val alerts = m.list("alert_rule_test").map {
        case c: YMap =>
          strict(c, Set("eval_time", "alertname", "exp_alerts"), "alert_rule_test entry")
          val exp = c.get("exp_alerts") match {
            case None | Some(YScalar("")) | Some(YList(Nil)) => Nil
            case Some(YList(items)) => items.map {
              case a: YMap =>
                strict(a, Set("exp_labels", "exp_annotations"), "exp_alerts entry")
                ExpAlert(kvMap(a.get("exp_labels"), "exp_labels"),
                  kvMap(a.get("exp_annotations"), "exp_annotations"))
              case other => throw TestError(s"bad exp_alerts node $other")
            }
            case Some(other) => throw TestError(s"bad exp_alerts $other")
          }
          AlertCase(c.str("eval_time").map(durMs).getOrElse(0L),
            c.str("alertname").getOrElse(
              throw TestError("an item under alert_rule_test misses required attribute alertname")),
            exp)
        case other => throw TestError(s"bad alert_rule_test node $other")
      }
      TG(m.str("name").getOrElse(""), interval, start, input, promql, alerts,
        kvMap(m.get("external_labels"), "external_labels"),
        m.str("external_url").getOrElse(""))
    case other => throw TestError(s"bad test group node $other")
  }

  // ---------- feature-flag + dependency checks ----------

  /** engine feature gates (ref: promql/engine.go:318,325 EnableAtModifier /
    * EnableNegativeOffset — validated per query, not at parse) */
  private def checkFeatures(exprText: String, opts: Opts): Unit = {
    Rules.walk(Engine.parse(exprText)) {
      case vs: VectorSelector =>
        if (!opts.enableAtModifier && vs.at.nonEmpty)
          throw TestError("@ modifier is disabled")
        if (!opts.enableNegativeOffset && vs.offsetMs < 0)
          throw TestError("negative offset is disabled")
      case sq: SubqueryExpr =>
        if (!opts.enableAtModifier && sq.at.nonEmpty)
          throw TestError("@ modifier is disabled")
        if (!opts.enableNegativeOffset && sq.offsetMs < 0)
          throw TestError("negative offset is disabled")
      case _ => ()
    }
  }

  // ---------- evaluation ----------

  private def canon(l: Map[String, String]): String =
    l.toSeq.sorted.map { case (k, v) => s"$k\u0000$v" }.mkString("\u0001")

  /** run one test group; returns error strings (empty = pass) */
  private def runGroup(spark: SparkSession, tg: TG, groups: Seq[Rules.Group],
      evalIntervalMs: Long, fuzzy: Boolean, opts: Opts): List[String] = {
    val errs = mutable.ArrayBuffer[String]()

    // ---- load input series ----
    val store = mutable.ArrayBuffer[Row]()
    tg.input.foreach { case (labels, values) =>
      var t = tg.startMs
      // the reference loads through a real TSDB head, whose chunk appender
      // materializes counter-reset hints (first-in-chunk → unknown, appended
      // non-reset → not_reset, reset → chunk cut → unknown; tsdb appender) —
      // the unittest sample compare is hint-sensitive, so synthesize the same
      var prevH: Option[FHist] = None
      values.foreach { v =>
        v match {
          case TestScript.Num(d) => store += Row(labels, t, d, false, null, 0L)
          case TestScript.StaleMark => store += Row(labels, t, Double.NaN, true, null, 0L)
          case TestScript.Hist(h0) =>
            val h =
              if (h0.crh == FHist.HintGauge) h0
              else prevH match {
                case Some(p) if !h0.detectReset(p) => h0.copy(crh = FHist.HintNotReset)
                case Some(_) => h0.copy(crh = FHist.HintUnknown)
                case None => h0
              }
            prevH = Some(h0)
            store += Row(labels, t, Double.NaN, false, Runner.hRow(h), 0L)
          case TestScript.Gap => ()
          case TestScript.Unsupported =>
            throw TestError(s"unsupported series notation for ${labels.getOrElse("__name__", "?")}")
        }
        t += tg.intervalMs
      }
    }
    val maxEvalMs = (tg.promql.map(_.evalMs) ++ tg.alertCases.map(_.evalMs) :+ 0L).max
    val mint = tg.startMs
    val maxt = mint + maxEvalMs
    val nTicks = ((maxt - mint) / evalIntervalMs + 1).toInt
    val ticks: Vector[Long] = Vector.iterate(mint, nTicks)(_ + evalIntervalMs)

    // per-alertname snapshots of FIRING alerts at each tick we must report on
    val alertTickOf: Map[Long, Long] = tg.alertCases.map { c =>
      c.evalMs -> (mint + ((mint + c.evalMs - mint) / evalIntervalMs) * evalIntervalMs)
    }.toMap
    val neededTicks: Set[(Long, String)] = tg.alertCases
      .map(c => (alertTickOf(c.evalMs), c.alertname)).toSet
    val firingSnapshots = mutable.Map[(Long, String), List[ExpAlert]]().withDefaultValue(Nil)

    foldRules(spark, groups, ticks, evalIntervalMs, store, tg.externalLabels,
      tg.externalUrl, opts) { (r, ts, st) =>
      if (neededTicks.contains((ts, r.name)))
        firingSnapshots((ts, r.name)) ++= st.alerts.values
          .filter(_.firingSinceMs >= 0L).map(a => ExpAlert(a.labels, a.annotations))
    }

    // ---- alert expectations ----
    tg.alertCases.foreach { c =>
      val got = firingSnapshots((alertTickOf(c.evalMs), c.alertname))
      val exp = c.exp.map(a => a.copy(labels = a.labels + ("alertname" -> c.alertname)))
      def render(as: List[ExpAlert]) = as.map(a => s"labels=${a.labels} annotations=${a.annotations}")
      if (got.map(a => (canon(a.labels), canon(a.annotations))).sorted !=
          exp.map(a => (canon(a.labels), canon(a.annotations))).sorted)
        errs += s"${if (tg.name.nonEmpty) s"name: ${tg.name}, " else ""}alertname: ${c.alertname}, " +
          s"time: ${c.evalMs / 1000}s, exp: ${render(exp)}, got: ${render(got)}"
    }

    // ---- promql expectations ----
    val finalDf = samplesOf(spark, store)
    tg.promql.foreach { c =>
      try {
        checkFeatures(c.expr, opts)
        val got: List[PSample] = Engine.instantQuery(spark, finalDf, c.expr, mint + c.evalMs,
          defaultSubqueryStepMs = evalIntervalMs) match {
          case VectorVal(df) => df.select(df("labels"), df("v"), df("h")).collect().toList
            .map(r0 => PSample(r0.getMap[String, String](0).toMap, r0.getDouble(1),
              if (r0.isNullAt(2)) None else Some(Runner.fhistFromRow(r0.getStruct(2)))))
          case ScalarVal(df, _) => df.collect().toList.map(r0 =>
            PSample(Map.empty, r0.getDouble(1), None))
          case _ => throw TestError("rule result is not a vector or scalar")
        }
        val onlyUlp = (x: Double, y: Double) =>
          x == y || math.nextAfter(x, Double.NegativeInfinity) == y ||
            math.nextAfter(x, Double.PositiveInfinity) == y
        def valEq(x: Double, y: Double): Boolean =
          (x.isNaN && y.isNaN) || (if (fuzzy) onlyUlp(x, y) else x == y)
        def histEq(a: Option[FHist], b: Option[FHist]): Boolean = (a, b) match {
          case (None, None) => true
          case (Some(x), Some(y)) => Runner.histAlmostEqual(x, y) && x.crh == y.crh
          case _ => false
        }
        val gotS = got.sortBy(s => canon(s.labels))
        val expS = c.exp.sortBy(s => canon(s.labels))
        val same = gotS.length == expS.length && gotS.zip(expS).forall { case (g2, e2) =>
          g2.labels == e2.labels && histEq(g2.hist, e2.hist) &&
            (e2.hist.nonEmpty || valEq(g2.value, e2.value))
        }
        if (!same)
          errs += s"expr: '${c.expr}', time: ${c.evalMs / 1000}s, " +
            s"exp: ${expS.map(s => (s.labels, s.value, s.hist.map(_.cnt)))}, " +
            s"got: ${gotS.map(s => (s.labels, s.value, s.hist.map(_.cnt)))}"
      } catch {
        case e: Throwable =>
          errs += s"expr: '${c.expr}', time: ${c.evalMs / 1000}s, err: " +
            Option(e.getMessage).getOrElse(e.toString).take(300)
      }
    }
    errs.toList
  }

  private def samplesOf(spark: SparkSession, rows: Iterable[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.toList.asJava, Engine.samplesSchema)
  }

  /** Every rule of `groups` in file order: one range query over `ticks`,
    * then [[Rules.step]] folded over the ticks, each tick's rows appended to
    * `store`, and `atTick` called with the rule's state after each step. A
    * rule's query sees every earlier rule's rows; the guard refuses a rule
    * that reads its own or a later rule's output (see object scaladoc). */
  private[promqltest] def foldRules(spark: SparkSession, groups: Seq[Rules.Group],
      ticks: Vector[Long], stepMs: Long, store: mutable.ArrayBuffer[Row],
      external: Map[String, String] = Map.empty, externalUrl: String = "",
      opts: Opts = Opts())
      (atTick: (Rules.Rule, Long, Rules.RuleState) => Unit = (_, _, _) => ()): Unit = {
    val flat = groups.flatMap(_.rules)
    flat.indices.foreach { i =>
      val produced = flat.drop(i).flatMap(Rules.outputNames).toSet
      val refs = Rules.reads(flat(i).expr, produced)
      if (refs.nonEmpty)
        throw TestError(s"rule '${flat(i).name}' reads ${refs.mkString(",")} produced by itself or a " +
          "later rule — cross-tick feedback is unsupported in range-evaluated rule testing")
    }
    def fail(r: Rules.Rule, e: Throwable) =
      TestError(s"rule: ${r.name}, err: ${Option(e.getMessage).getOrElse(e.toString).take(300)}")
    for (g <- groups; r <- g.rules) {
      checkFeatures(r.expr, opts)
      val byTick: Map[Long, Seq[Rules.Point]] =
        try Rules.asVector(Engine.rangeQuery(spark, samplesOf(spark, store), r.expr,
            ticks.head, ticks.last, stepMs, defaultSubqueryStepMs = stepMs), r.name)
          .select(Rules.resultLabels(r), col("v"), col("h"), col("t")).collect().toSeq
          .groupBy(_.getLong(3)).map { case (t, rows) => t -> rows.map(Rules.point) }
        catch { case e: Throwable => throw fail(r, e) }
      var state = Rules.RuleState()
      ticks.foreach { ts =>
        val templates = Rules.Templates(external, externalUrl,
          expr => Rules.templateQuery(spark, samplesOf(spark, store), ts)(expr))
        val (rows, next) =
          try Rules.step(r, ts, byTick.getOrElse(ts, Nil), state, g.limit, templates)
          catch { case e: Throwable => throw fail(r, e) }
        store ++= rows
        state = next
        atTick(r, ts, next)
      }
    }
  }

  /** promtool `check rules` duplicate detection ([[ConfigCheck.duplicates]])
    * over a file read by [[Config.loadRuleGroups]] */
  def duplicateRules(path: String, ignoreUnknownFields: Boolean = false)
      : List[(String, Map[String, String])] =
    ConfigCheck.duplicates(Config.loadRuleGroups(path, 60000L,
      ignoreUnknownFields = ignoreUnknownFields))

  // ---------- file driver ----------

  /** run one unit-test file; returns error strings (empty = success, the
    * reference's exit-0) */
  def runFile(spark: SparkSession, path: String, opts: Opts = Opts()): List[String] = {
    try {
      val dir = java.nio.file.Paths.get(path).toAbsolutePath.getParent
      val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
      val root = YamlLite.parse(text) match {
        case m: YMap => m
        case other => return List(s"$path: expected mapping at top level")
      }
      strict(root, Set("rule_files", "evaluation_interval", "group_eval_order", "tests",
        "fuzzy_compare"), path)
      val evalIntervalMs = root.str("evaluation_interval").map(durMs).getOrElse(60000L)
      val fuzzy = root.str("fuzzy_compare").contains("true")
      val ruleFiles = root.list("rule_files").map {
        case YScalar(s) => dir.resolve(s).toString
        case other => throw TestError(s"bad rule_files entry $other")
      }
      val orderNames = root.list("group_eval_order").collect { case YScalar(s) => s }
      val groups0 = ruleFiles.flatMap(Config.loadRuleGroups(_, evalIntervalMs,
        ignoreUnknownFields = opts.ignoreUnknownFields))
      val groups = {
        val orderIdx = orderNames.zipWithIndex.toMap
        groups0.sortBy(g => orderIdx.getOrElse(g.name, 0))  // stable: file order within ties
      }
      val runRe = opts.run.map(_.r)
      val errs = mutable.ArrayBuffer[String]()
      root.list("tests").zipWithIndex.foreach { case (tn, i) =>
        val tg = parseTestGroup(tn, evalIntervalMs)
        val name = if (tg.name.isEmpty) s"unnamed#$i" else tg.name
        if (runRe.forall(_.findFirstIn(tg.name).isDefined)) {
          try errs ++= runGroup(spark, tg, groups, evalIntervalMs, fuzzy, opts)
          catch { case e: Throwable =>
            errs += s"$name: ${Option(e.getMessage).getOrElse(e.toString).take(300)}" }
        }
      }
      errs.toList
    } catch {
      case e: Throwable => List(s"$path: ${Option(e.getMessage).getOrElse(e.toString).take(300)}")
    }
  }
}
