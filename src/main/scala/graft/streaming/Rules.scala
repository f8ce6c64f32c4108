package graft.streaming

import graft.promql._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.{Failure, Success, Try}

/** Recording & alerting rules (SURVEY §2.8 / M7; ref: rules/recording.go:85,
  * rules/alerting.go state machine, rules/group.go Eval, rules/manager.go:83
  * eval loop).
  *
  * This is the one module that decides what a rule evaluation emits. A rule's
  * query runs as a distributed plan; its result, collected at rule-output
  * cardinality, goes through [[step]] on the driver, which returns the rows
  * to append and the rule's next [[RuleState]]. The server's tick and
  * [[evalGroup]] run [[tick]]; the rules unit tester runs one range query
  * per rule and folds [[step]] over its ticks. Alert state lives on the
  * driver per rule, keyed by label signature: alert cardinality is
  * target-scale, not sample-scale, like the reference's in-memory alert map.
  */
object Rules {

  /** canonical alert-state key: sorted label pairs joined on U+0001 — the
    * ONE definition both live evaluation and for-state restoration key on
    * (a divergence between them silently turns restoration into a no-op) */
  private def stateSig(l: Map[String, String]): String =
    l.toSeq.sorted.mkString("\u0001")

  sealed trait Rule {
    def name: String
    def expr: String
    def labels: Map[String, String]
  }

  final case class RecordingRule(
      record: String, expr: String, labels: Map[String, String] = Map.empty) extends Rule {
    def name: String = record
  }

  final case class AlertingRule(
      alert: String, expr: String,
      forMs: Long = 0L, keepFiringForMs: Long = 0L,
      labels: Map[String, String] = Map.empty,
      annotations: Map[String, String] = Map.empty) extends Rule {
    def name: String = alert
  }

  /** inactive → pending (`for:`) → firing → (keep_firing_for) → inactive
    * (ref: rules/alerting.go:217-226). Carries the alert labels so a
    * keep-firing alert (condition no longer true) can still emit its ALERTS
    * series, plus the per-instance expanded annotations and last value. */
  final case class AlertState(activeSinceMs: Long, firingSinceMs: Long = -1L,
      lastTrueMs: Long = 0L, labels: Map[String, String] = Map.empty,
      keepFiringSinceMs: Long = -1L,
      annotations: Map[String, String] = Map.empty,
      value: Double = 0.0)

  /** what a rule carries from one tick to the next: the series it wrote (one
    * missing at the next tick gets a staleness marker, the reference's
    * seriesInPreviousEval) and, for an alerting rule, its alerts by label
    * signature */
  final case class RuleState(series: Set[Map[String, String]] = Set.empty,
      alerts: Map[String, AlertState] = Map.empty)

  /** one series of a rule's result at a tick; `h` is the native-histogram
    * struct, null for a float sample */
  final case class Point(labels: Map[String, String], v: Double, h: Row = null)

  /** what alert templates see besides the sample (ref: template.go
    * AlertTemplateData, rules/alerting.go Eval's query func) */
  final case class Templates(external: Map[String, String] = Map.empty,
      externalUrl: String = "",
      query: String => Seq[graft.template.GoTemplate.Sample] = _ => Nil)

  /** Alert template expansion through the full Go-template engine with the
    * reference's AlertTemplateData prelude ($labels/$externalLabels/
    * $externalURL/$value) and Prometheus function map; an expansion error
    * becomes the error string in place of the value (ref:
    * rules/alerting.go:409-433 expand). Applied to rule labels AND
    * annotations per alert instance at evaluation time. */
  def expandTemplate(text: String, labels: Map[String, String], value: Double,
      external: Map[String, String] = Map.empty,
      queryFunc: String => Seq[graft.template.GoTemplate.Sample] = _ => Nil,
      tsMs: Long = 0L, externalUrl: String = "", name: String = ""): String = {
    if (!text.contains("{{")) return text
    val defs = "{{$labels := .Labels}}{{$externalLabels := .ExternalLabels}}" +
      "{{$externalURL := .ExternalURL}}{{$value := .Value}}"
    val data = Map("Labels" -> labels, "ExternalLabels" -> external,
      "ExternalURL" -> externalUrl, "Value" -> value)
    new graft.template.GoTemplate.Expander(defs + text, "__alert_" + name,
      data, tsMs, queryFunc, java.net.URI.create(externalUrl)).expand() match {
      case Right(s) => s
      case Left(err) => s"<error expanding template: $err>"
    }
  }

  /** templates' `query` function: an instant query against `samples` at
    * `tsMs`, a scalar as one unlabelled sample */
  def templateQuery(spark: SparkSession, samples: DataFrame, tsMs: Long)
      : String => Seq[graft.template.GoTemplate.Sample] = expr =>
    asVector(Engine.instantQuery(spark, samples, expr, tsMs), expr)
      .select(col("labels"), col("v")).collect().toSeq
      .map(r => graft.template.GoTemplate.Sample(r.getMap[String, String](0).toMap, r.getDouble(1)))

  /** a query result as (labels, t, v, h) columns; a scalar is one series
    * without labels, as the reference's EngineQueryFunc makes it */
  def asVector(value: PValue, what: String): DataFrame = value match {
    case VectorVal(df) => df.select(col("labels"), col("t"), col("v"), col("h"))
    case ScalarVal(df, _) =>
      df.select(map_filter(map(lit("x"), lit("x")), (_, _) => lit(false)).as("labels"),
        col("t"), col("v"), lit(null).cast(FHist.schemaType).as("h"))
    case other => throw PromQLError(s"rule $what must produce a vector, got $other")
  }

  /** the labels a recording rule writes: the result's labels, overridden by
    * the rule's, with `__name__` the record name (ref: rules/recording.go:85) */
  def recordedLabels(rule: RecordingRule): Column = {
    val own = (rule.labels - "__name__").toSeq :+ ("__name__" -> rule.record)
    map_concat(
      map_filter(col("labels"), (k, _) => !k.isInCollection(own.map(_._1))),
      map(own.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*))
  }

  /** the labels column a rule's [[step]] takes: recorded labels for a
    * recording rule, the query's own for an alerting rule */
  def resultLabels(rule: Rule): Column = rule match {
    case r: RecordingRule => recordedLabels(r)
    case _ => col("labels")
  }

  /** the metric names a rule's rows carry */
  def outputNames(rule: Rule): Seq[String] = rule match {
    case _: AlertingRule => Seq("ALERTS", "ALERTS_FOR_STATE")
    case r => Seq(r.name)
  }

  /** a collected (labels, v, h) row */
  def point(r: Row): Point =
    Point(r.getMap[String, String](0).toMap, r.getDouble(1),
      if (r.isNullAt(2)) null else r.getStruct(2))

  /** a rule's result at `tsMs`, collected, in [[resultLabels]] */
  private def resultAt(spark: SparkSession, samples: DataFrame, rule: Rule,
      tsMs: Long): Seq[Point] =
    asVector(Engine.instantQuery(spark, samples, rule.expr, tsMs), rule.name)
      .select(resultLabels(rule), col("v"), col("h")).collect().toSeq.map(point)

  /** One rule at one tick (ref: rules/recording.go Eval, rules/alerting.go
    * Eval, rules/group.go Eval's staleness): from the rule's result, labels
    * already in [[resultLabels]], and its previous state, the rows to append
    * — recorded samples, or ALERTS and ALERTS_FOR_STATE, plus a staleness
    * marker for each series the rule wrote at its previous tick and not at
    * this one — and its next state. Two results with one label set, or more
    * series or alerts than a positive `limit`, raise the reference's errors;
    * a failed rule keeps its previous state. */
  def step(rule: Rule, tsMs: Long, result: Seq[Point], prev: RuleState,
      limit: Int = 0, templates: Templates = Templates()): (Seq[Row], RuleState) = {
    val (out, alerts) = rule match {
      case _: RecordingRule =>
        if (result.map(_.labels).distinct.size < result.size)
          throw PromQLError("vector contains metrics with the same labelset after applying rule labels")
        if (limit > 0 && result.size > limit)
          throw PromQLError(s"exceeded limit of $limit with ${result.size} series")
        (result.map(p => (p.labels, p.v, p.h)), Map.empty[String, AlertState])
      case a: AlertingRule =>
        val alerts = alertStep(a, tsMs, result, prev.alerts, templates)
        if (limit > 0 && alerts.size > limit)
          throw PromQLError(s"exceeded limit of $limit with ${alerts.size} alerts")
        (alerts.values.toSeq.flatMap { st =>
          val state = if (st.firingSinceMs >= 0L) "firing" else "pending"
          Seq((st.labels + ("__name__" -> "ALERTS", "alertstate" -> state), 1.0, null),
            // the `for`-state series restoration reads after a restart
            // (ref: rules/alerting.go:258 forStateSample)
            (st.labels + ("__name__" -> "ALERTS_FOR_STATE"),
              (st.activeSinceMs / 1000L).toDouble, null))
        }, alerts)
    }
    val series = out.map(_._1).toSet
    val rows = out.map { case (l, v, h) => Row(l, tsMs, v, false, h, 0L) } ++
      (prev.series -- series).toSeq.map(l => Row(l, tsMs, Double.NaN, true, null, 0L))
    (rows, RuleState(series, alerts))
  }

  /** the alert state machine (ref: rules/alerting.go:387 Eval): labels and
    * annotations expand against the sample's labels; a new alert is
    * pending, past `for:` firing; a firing alert whose condition clears
    * keeps firing until keep_firing_for has passed since the first false
    * tick; a pending one drops */
  private def alertStep(a: AlertingRule, tsMs: Long, result: Seq[Point],
      prev: Map[String, AlertState], t: Templates): Map[String, AlertState] = {
    def expand(text: String, p: Point): String =
      expandTemplate(text, p.labels, p.v, t.external, t.query, tsMs, t.externalUrl, a.alert)
    val next = scala.collection.mutable.LinkedHashMap[String, AlertState]()
    result.foreach { p =>
      val lbls = (p.labels - "__name__") ++ a.labels.map { case (k, v) => k -> expand(v, p) } +
        ("alertname" -> a.alert)
      val sig = stateSig(lbls)
      if (next.contains(sig))
        throw PromQLError("vector contains metrics with the same labelset after applying alert labels")
      val st = prev.getOrElse(sig, AlertState(tsMs, labels = lbls))
      val firing = st.firingSinceMs >= 0L || tsMs - st.activeSinceMs >= a.forMs
      next(sig) = st.copy(
        firingSinceMs = if (firing && st.firingSinceMs < 0L) tsMs else st.firingSinceMs,
        lastTrueMs = tsMs, keepFiringSinceMs = -1L, value = p.v,
        annotations = a.annotations.map { case (k, v) => k -> expand(v, p) })
    }
    prev.foreach { case (sig, st) =>
      val since = if (st.keepFiringSinceMs >= 0L) st.keepFiringSinceMs else tsMs
      if (!next.contains(sig) && st.firingSinceMs >= 0L && tsMs - since < a.keepFiringForMs)
        next(sig) = st.copy(keepFiringSinceMs = since)
    }
    next.toMap
  }

  /** One alerting evaluation at `tsMs` without staleness memory: (ALERTS
    * and ALERTS_FOR_STATE rows, next alert states). */
  def evalAlerting(spark: SparkSession, samples: DataFrame, rule: AlertingRule,
      tsMs: Long, state: Map[String, AlertState],
      externalLabels: Map[String, String] = Map.empty)
      : (DataFrame, Map[String, AlertState]) = {
    import scala.jdk.CollectionConverters._
    val (rows, next) = step(rule, tsMs, resultAt(spark, samples, rule, tsMs),
      RuleState(alerts = state),
      templates = Templates(externalLabels, query = templateQuery(spark, samples, tsMs)))
    (spark.createDataFrame(rows.asJava, Engine.samplesSchema), next.alerts)
  }

  /** A rule group; `rules` keeps the file's order. A group is named by its
    * rule file and its name together (ref: rules/manager.go GroupKey): two
    * files may each hold a group of one name. */
  final case class Group(name: String, intervalMs: Long,
      rules: Seq[Rule] = Nil,
      // rules evaluate at ts - queryOffsetMs (ref: rulefmt RuleGroup
      // query_offset / global rule_query_offset — slack for slow remote
      // write or delayed ingest)
      queryOffsetMs: Long = 0L,
      // max series a recording rule / alerts an alerting rule may produce;
      // 0 = unlimited (ref: rulefmt RuleGroup Limit, rules/group.go Eval
      // "exceeded limit %d with %d series" — the rule's output is DROPPED
      // and its health goes err)
      limit: Int = 0,
      file: String = "") {
    def recording: Seq[RecordingRule] = rules.collect { case r: RecordingRule => r }
  }

  /** every node of an expression, depth first */
  def walk(e: Expr)(f: Expr => Unit): Unit = {
    f(e)
    e match {
      case ms: MatrixSelector => walk(ms.vs)(f)
      case sv: SmoothedVector => walk(sv.vs)(f)
      case sq: SubqueryExpr => walk(sq.expr)(f)
      case c: Call => c.args.foreach(walk(_)(f))
      case a: AggregateExpr => walk(a.expr)(f); a.param.foreach(walk(_)(f))
      case b: BinaryExpr => walk(b.lhs)(f); walk(b.rhs)(f)
      case u: UnaryExpr => walk(u.expr)(f)
      case p: ParenExpr => walk(p.expr)(f)
      case _ => ()
    }
  }

  /** Which of `produced` a selector in the expression could read (ref:
    * rules/manager.go:500 dependencyMap). CONSERVATIVE: a regex, negative
    * or missing `__name__` constraint counts every produced name it could
    * admit — a rule reading `{__name__=~"job:.*"}` waits for those
    * producers. */
  def reads(expr: String, produced: Set[String]): Set[String] = {
    val out = scala.collection.mutable.Set[String]()
    try walk(Engine.parse(expr)) {
      case vs: VectorSelector =>
        val nameMs = vs.matchers.filter(_.name == "__name__")
        if (vs.metricName.isEmpty && nameMs.isEmpty) out ++= produced
        else {
          out ++= vs.metricName.filter(produced)
          nameMs.foreach { m =>
            def re = ("^(?:" + m.value + ")$").r
            m.op match {
              case MatchOp.Eq => if (produced(m.value)) out += m.value
              case MatchOp.Neq => out ++= produced - m.value
              case MatchOp.Re => out ++= produced.filter(n => re.findFirstIn(n).isDefined)
              case MatchOp.NotRe => out ++= produced.filter(n => re.findFirstIn(n).isEmpty)
            }
          }
        }
      case _ => ()
    } catch { case _: Throwable => () }
    out.toSet
  }

  /** The group's evaluation order as levels of rule positions: recording
    * rules in topological levels, producers before consumers, each level
    * mutually independent and so evaluated CONCURRENTLY (ref:
    * rules/manager.go:500 dependencyMap + the ConcurrentRules controller,
    * rules/manager.go:524); the rules of a cycle follow one per level, in
    * file order. The alerting rules, which feed no rule, form the last level. */
  private def levels(g: Group): Seq[Seq[Int]] = {
    val rec = g.rules.indices.filter(g.rules(_).isInstanceOf[RecordingRule])
    val produces = rec.map(g.rules(_).name).toSet
    val deps = rec.map(i => i -> reads(g.rules(i).expr, produces - g.rules(i).name)).toMap
    val out = Seq.newBuilder[Seq[Int]]
    val done = scala.collection.mutable.Set[String]()
    var pending = rec
    var progressed = true
    while (pending.nonEmpty && progressed) {
      val (ready, rest) = pending.partition(deps(_).forall(done))
      progressed = ready.nonEmpty
      if (ready.nonEmpty) { out += ready; done ++= ready.map(g.rules(_).name) }
      pending = rest
    }
    out ++= pending.map(Seq(_)) // a cycle's remainder: one by one, in file order
    (out.result() :+ g.rules.indices.filterNot(rec.contains)).filter(_.nonEmpty)
  }

  /** One evaluation tick of a group at `tsMs` (the body of the reference's
    * rules/group.go Eval): each level's queries run concurrently against
    * one snapshot of `samples`, each result goes through [[step]], and
    * `done` gets each rule's position and its (rows, next state) or error,
    * in order, before the next level's snapshot — so a host that appends
    * the rows there lets later levels read them. `done` answers whether it
    * committed the rows. Returns the next states, aligned with `g.rules`: a
    * rule that failed, or whose rows were not committed, keeps its previous
    * state. */
  def tick(spark: SparkSession, g: Group, tsMs: Long, prev: Vector[RuleState],
      samples: () => DataFrame, external: Map[String, String] = Map.empty,
      externalUrl: String = "")
      (done: (Int, Try[(Seq[Row], RuleState)]) => Boolean): Vector[RuleState] = {
    val state = prev.padTo(g.rules.size, RuleState()).toArray
    levels(g).foreach { level =>
      val snap = samples()
      val templates = Templates(external, externalUrl, templateQuery(spark, snap, tsMs))
      parEval(level.map(i => () => i -> Try(step(g.rules(i), tsMs,
        resultAt(spark, snap, g.rules(i), tsMs), state(i), g.limit, templates))))
        .foreach { case (i, res) =>
          if (done(i, res)) res.foreach { case (_, next) => state(i) = next }
        }
    }
    state.toVector
  }

  /** A reloaded group's states from the running group's: each rule takes
    * the state of the old rule of the same kind, name and labels, duplicates
    * matched in order (ref: rules/group.go CopyState). */
  def carryState(from: Group, state: Vector[RuleState], to: Group): Vector[RuleState] = {
    def key(r: Rule) = (r.getClass, r.name, r.labels)
    val old = scala.collection.mutable.Map[Any, List[Int]]() ++
      from.rules.indices.toList.groupBy(i => key(from.rules(i)))
    to.rules.map { r =>
      old.getOrElse(key(r), Nil) match {
        case i :: rest => old(key(r)) = rest; state.lift(i).getOrElse(RuleState())
        case Nil => RuleState()
      }
    }.toVector
  }

  /** Restore alert `for` state from persisted ALERTS_FOR_STATE series after
    * a restart (ref: rules/group.go:739 RestoreForState): for each alerting
    * rule whose hold duration is at least the grace period, read the last
    * non-stale ALERTS_FOR_STATE sample per labelset within
    * (ts − outageTolerance, ts], and shift the restored ActiveAt by the
    * downtime (or pin it `for − grace` before now when the remaining pending
    * time is under the grace period). Driver-side at alert cardinality —
    * one distributed filter+agg per alerting rule. Returns states aligned
    * with `g.rules`. */
  private[streaming] def restoredStates(spark: SparkSession, samples: DataFrame,
      g: Group, tsMs: Long, outageToleranceMs: Long, forGracePeriodMs: Long)
      : Vector[RuleState] =
    g.rules.toVector.map {
      case a: AlertingRule if a.forMs >= forGracePeriodMs =>
        val staticEq = a.labels.toSeq.collect {
          // template-valued labels expand per alert instance — not matchable
          // (ref: rules/alerting.go:279 QueryForStateSeries skips them)
          case (k, v) if !v.contains("{{") => element_at(col("labels"), k) === v
        }
        val cond = (element_at(col("labels"), "__name__") === "ALERTS_FOR_STATE") &&
          (element_at(col("labels"), "alertname") === a.alert) &&
          col("t") > tsMs - outageToleranceMs && col("t") <= tsMs &&
          staticEq.foldLeft(lit(true))(_ && _)
        val rows = samples.filter(cond)
          .select(col("labels"), col("t"), col("v"), col("stale")).collect()
        RuleState(alerts = rows
          .map(r => (r.getMap[String, String](0).toMap - "__name__",
            r.getLong(1), r.getDouble(2), r.getBoolean(3)))
          .groupBy(_._1)
          .flatMap { case (lbls, rs) =>
            val (_, t, v, stale) = rs.maxBy(_._2)
            if (stale) None // alert was resolved before the outage
            else {
              val downAtMs = (t / 1000L) * 1000L
              val restoredMs = (v * 1000.0).toLong
              val remainingMs = a.forMs - (downAtMs - restoredMs)
              val activeAt =
                if (remainingMs <= 0) restoredMs // was already firing
                else if (remainingMs < forGracePeriodMs)
                  tsMs + forGracePeriodMs - a.forMs // fire after the grace period
                else restoredMs + (tsMs - downAtMs) // shift by the downtime
              Some(stateSig(lbls) -> AlertState(activeAt, -1L, tsMs, lbls))
            }
          })
      case _ => RuleState()
    }

  /** Batch-driven group evaluation over a window of ticks: [[tick]] at each
    * tick, its rows collected (rule-output cardinality — the same scale the
    * reference appends to its head per eval), so each tick's plan is
    * base ∪ one in-memory scan instead of O(rules × ticks) nested unions.
    * `restoreForState` seeds the alert states from persisted
    * ALERTS_FOR_STATE series (restart continuity). A failing rule throws. */
  def evalGroup(spark: SparkSession, samples0: DataFrame, g: Group,
      fromMs: Long, toMs: Long, restoreForState: Boolean = false,
      outageToleranceMs: Long = 3600000L,   // ref: config default for_outage_tolerance 1h
      forGracePeriodMs: Long = 600000L): DataFrame = {  // ref: for_grace_period 10m
    import scala.jdk.CollectionConverters._
    val acc = scala.collection.mutable.ArrayBuffer[Row]()
    def samples(): DataFrame =
      if (acc.isEmpty) samples0
      else samples0.unionByName(spark.createDataFrame(acc.toList.asJava, Engine.samplesSchema))
    var state =
      if (restoreForState)
        restoredStates(spark, samples0, g, fromMs, outageToleranceMs, forGracePeriodMs)
      else Vector.empty[RuleState]
    var ts = fromMs
    while (ts <= toMs) {
      state = tick(spark, g, ts, state, () => samples()) {
        case (_, Success((rows, _))) => acc ++= rows; true
        case (_, Failure(e)) => throw e
      }
      ts += g.intervalMs
    }
    spark.createDataFrame(acc.toList.asJava, Engine.samplesSchema)
  }

  /** run independent rule evaluations concurrently (Spark's scheduler
    * accepts jobs from many threads; result order matches input order) */
  private def parEval[T](thunks: Seq[() => T]): Seq[T] =
    if (thunks.lengthCompare(1) <= 0) thunks.map(_())
    else {
      import scala.concurrent.{Await, Future, ExecutionContext}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(Future.sequence(thunks.map(t => Future(t()))), Duration.Inf)
    }
}
