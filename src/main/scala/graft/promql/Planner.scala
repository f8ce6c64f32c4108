package graft.promql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Evaluation parameters for one query (instant = start==end, one step).
  *
  * The four ratios are the planner's regime thresholds: an amplification at
  * or above one switches that operator from the coverage explode to its
  * linear pass. A subquery's planner inherits them, so a regime forced on a
  * query (the path-equivalence tests force 1.0 or 1e18) holds inside its
  * subqueries too.
  *  - `linearSelectRatio`: lookback amplification of an instant selector
  *    above which it takes the linear as-of lookup.
  *  - `linearPathRatio`: coverage amplification (min(window/step, numSteps))
  *    above which `*_over_time` takes the series-at-once pass
  *    (`Planner.seriesAtOnceFast`). Low crossover: that pass is one sorted
  *    fold with a tiny output struct (measured on the bench replica:
  *    sum_over_time(a_hundred[10m]) amp 60 is 20× cheaper CPU than the
  *    explode, and the explode spills GBs at day-scale windows).
  *  - `rateLinearRatio`: the separate crossover of the rate/changes family
  *    (`Planner.linearRangeStats`): its per-series stats UDF pays a
  *    row-boundary cost per (series, step) output, while the explode's
  *    hash-agg cost grows linearly in amplification. Re-measured after the
  *    AQE coalescing floor fix (which had been starving the linear path's
  *    agg stage of parallelism and inflated the apparent crossover to
  *    ~440): explode CPU ≈ linear CPU at amp ≈ 6 (rate(a_hundred[1m])) and
  *    ≈ 11 (rate(h_hundred[2m]), 1100 series); at amp 30 the linear path is
  *    2× cheaper CPU and wins wall (rate(h_hundred[5m]) 8.2→6.0 s inside
  *    histogram_quantile). Below 16 the fused Generate→HashAggregate
  *    explode stays faster AND bit-exact with the reference's fold order.
  *  - `linearExtPathRatio`: explode amplification above which the
  *    anchored/smoothed rate family takes its linear path. */
final case class EvalParams(
    startMs: Long, endMs: Long, stepMs: Long,
    lookbackMs: Long = 300000L,           // ref: promql/engine.go:64 (5m default)
    defaultSubqueryStepMs: Long = 60000L,
    isInstant: Boolean = false,           // instant ⇒ step()/range() = 0 (engine.go:4472-4478)
    linearSelectRatio: Double = 8.0,
    linearPathRatio: Double = 6.0,
    rateLinearRatio: Double = 6.0,
    linearExtPathRatio: Double = 32.0) {
  def numSteps: Long = (endMs - startMs) / stepMs + 1
}

/** PromQL value kinds flowing through the planner (ref: promql/value.go).
  * Vector/Matrix results are DataFrames:
  *   VectorVal: labels MAP, t LONG (step ms), v DOUBLE, st LONG (sample ts),
  *              dn BOOLEAN (deferred __name__ drop, ref: value.go:215 DropName
  *              + engine.go:4254 cleanupMetricLabels — labels keep the metric
  *              name until final output shaping in [[Engine]])
  *   ScalarVal: t LONG, v DOUBLE
  *   MatrixVal: labels MAP, t LONG (sample ts), v DOUBLE, dn   (top-level only)
  */
sealed trait PValue
final case class VectorVal(df: DataFrame) extends PValue
final case class ScalarVal(df: DataFrame, const: Option[Double]) extends PValue
final case class MatrixVal(df: DataFrame) extends PValue
final case class StringVal(s: String) extends PValue

final case class PromQLError(msg: String) extends RuntimeException(msg)

/** query exceeded its sample budget (ref: promql/engine.go:117
  * ErrTooManySamples — surfaced as a 422 execution error by the API) */
final case class TooManySamplesError(where: String) extends RuntimeException(
  s"query processing would load too many samples into memory in $where")

/** query exceeded its wall-clock budget (ref: promql/engine.go:111
  * ErrQueryTimeout — surfaced as a 503 timeout error by the API) */
final case class QueryTimeoutError(where: String) extends RuntimeException(
  s"query timed out in $where")

/** Compiles a PromQL AST into a DataFrame plan over the canonical samples
  * table (labels MAP<STRING,STRING>, t LONG ms, v DOUBLE, stale BOOLEAN).
  *
  * Architecture (the key divergence from the reference's per-step interpreter,
  * ref promql/engine.go:1410 rangeEval): ALL steps are evaluated at once in one
  * distributed plan. Lookback/range selection is an explode-by-coverage: each
  * sample row computes the step indices it can serve ([t, t+window) ∩ grid) and
  * emits only those — O(rows × window/step) work, independent of grid length,
  * followed by one hash aggregation keyed on (series, step). No per-step loop,
  * no driver-side evaluation, no nested-loop range join.
  */
final class Planner(spark: SparkSession, samples: DataFrame, params: EvalParams) {
  import MathCols._

  private val P = params

  /** Time-pruned selector scans recorded during planning — the engine's
    * sample-budget accounting surface (ref: promql/engine.go MaxSamples /
    * ErrTooManySamples). Each entry is one selector's pushed-down pruned
    * scan; counting it is a map-side count aggregation on the store (no wide
    * rows move). The sum is an upper bound on samples the reference engine
    * would hold (it counts per-step loads but releases per step), so a
    * budget refusal here never admits a query the reference would refuse
    * at materially lower cost. Subquery planners append into their parent. */
  private[promql] val scanLog = scala.collection.mutable.Buffer.empty[Planner.ScanRec]
  /** record one selector scan for sample accounting; `windowMs` > 0 marks a
    * range selector (per-step window accounting), 0 an instant selector
    * (lookback selection, counted per distinct (series, step)); the grid is
    * the recording planner's — subquery inner scans keep their inner grid */
  private def recordScan(df: DataFrame, windowMs: Long,
      offsetMs: Long, gridLo: Long, gridHi: Long): DataFrame = {
    scanLog += Planner.ScanRec(df, windowMs, P.lookbackMs, offsetMs,
      gridLo, gridHi, P.stepMs)
    df
  }

  // ---------- static store capabilities ----------

  /** true when the STORE has no native-histogram / start-timestamp column
    * (normalize synthesized it — see Engine.storeAbsentKey). No PromQL
    * operator creates a native histogram or a start timestamp from floats,
    * so absence at the store is absence everywhere in the query; predicates
    * below fold to literals and Catalyst erases the corresponding legs
    * (censuses, anti-joins, histogram branches) from the physical plan. */
  private val noHist: Boolean =
    samples.schema.fields.find(_.name == "h")
      .exists(_.metadata.contains(Engine.storeAbsentKey))
  private val noStt: Boolean =
    samples.schema.fields.find(_.name == "stt")
      .exists(_.metadata.contains(Engine.storeAbsentKey))

  /** `h IS NOT NULL` / `h IS NULL`, constant-folded on histogram-free stores */
  private[promql] def hNotNull: Column = if (noHist) lit(false) else col("h").isNotNull
  private[promql] def hIsNull: Column = if (noHist) lit(true) else col("h").isNull
  /** store-capability flag for operators that can skip whole histogram legs
    * at CONSTRUCTION time (cheaper than relying on Catalyst to erase them —
    * the pruned subtrees never pay analyzer/optimizer passes) */
  private[promql] def storeHasNoHist: Boolean = noHist

  /** offset-shifted start timestamp (0 = unknown), folded on stt-free stores */
  private def wstCol(offsetMs: Long): Column =
    if (noStt) lit(0L)
    else when(col("stt") =!= 0L, col("stt") + lit(offsetMs)).otherwise(lit(0L))

  // ---------- label plumbing ----------

  /** canonical ORDERING signature of a label map (wide; used only where a
    * deterministic label order matters — tiebreaks, sorted folds) */
  private def sigOf(m: Column): Column = Engine.sortedLabels(m)

  /** 8-byte shuffle/join key: xxhash64 of the canonical signature. Every
    * groupBy/join/window that only needs EQUALITY keys on this instead of
    * shuffling the wide array<struct> signature (SURVEY §1.5 series_id;
    * collision probability ~2^-64 per pair). */
  private def hsig(m: Column): Column = Engine.seriesSig(m)

  /** Stored-or-computed series signature: a store may materialize
    * `__sg` = [[Engine.seriesSig]] of `labels` at ingest
    * ([[Engine.withSeriesSig]] — the analog of the reference's series ID in
    * the TSDB index, tsdb/index/postings.go). When present, every selector
    * skips one hash+sort pass per sample. When absent, the hash is computed
    * once here, after time pruning. */
  private def withSg(df: DataFrame): DataFrame =
    if (df.columns.contains("__sg")) df else df.withColumn("__sg", hsig(col("labels")))

  /** Column form of start-timestamp counter-reset detection
    * (ref: promql/functions.go:760 isStartTimestampReset; Scala twin
    * [[HistUdfs.isStReset]]). Callers guard prev existence. */
  private def stResetCol(prevSt: Column, prevWt: Column, curSt: Column, curWt: Column): Column =
    curSt =!= 0L && curSt < curWt && curSt >= prevWt &&
      (curSt > prevWt || (prevSt <= prevWt && prevSt =!= 0L && prevSt =!= prevWt))

  private def lval(labels: Column, name: String): Column =
    coalesce(element_at(labels, name), lit(""))

  private def anchored(re: String): String = "^(?:" + re + ")$"

  /** dropping the metric name also drops the __type__/__unit__ metadata
    * labels (ref: schema/labels.go:26-60 IsMetadataLabel + DropReserved) */
  private def dropName(labels: Column): Column =
    map_filter(labels, (k, _) =>
      k =!= "__name__" && k =!= "__type__" && k =!= "__unit__")

  private def keepLabels(labels: Column, keep: Seq[String]): Column =
    if (keep.isEmpty) map_filter(labels, (_, _) => lit(false))
    else map_filter(labels, (k, _) => k.isInCollection(keep))

  private def withoutLabels(labels: Column, drop: Seq[String]): Column =
    map_filter(labels, (k, _) =>
      !k.isInCollection(drop ++ Seq("__name__", "__type__", "__unit__")))

  private val emptyLabels: Column =
    map_filter(map(lit("x"), lit("x")), (_, _) => lit(false))

  /** null native-histogram value (the float-sample case) */
  private val nullH: Column = lit(null).cast(FHist.schemaType)

  /** guarantee the `h` column on every vector/matrix result */
  private def ensureH(df: DataFrame): DataFrame =
    if (df.columns.contains("h")) df else df.withColumn("h", nullH)

  /** guarantee the `dn` (deferred name-drop) column on every vector/matrix
    * result; producers that never drop the name may omit it */
  private def ensureDn(df: DataFrame): DataFrame =
    if (df.columns.contains("dn")) df else df.withColumn("dn", lit(false))

  // ---------- step grid ----------

  private def grid: DataFrame =
    spark.range(P.numSteps).select((lit(P.startMs) + col("id") * P.stepMs).as("t"))

  private def resolveAt(a: AtModifier): Long = a match {
    case AtModifier.AtTimestamp(ms) => ms
    case AtModifier.AtStart => P.startMs
    case AtModifier.AtEnd => P.endMs
  }

  /** step indices covered by a sample visible over (t_step−window, t_step+future]:
    * k1 = max(0, ceil((wt−future−start)/step)),
    * k2 = min(n−1, floor((wt+window−1−start)/step)); future > 0 only for
    * smoothed extended selectors (sample also serves earlier steps). */
  private def coverage(df: DataFrame, wt: Column, windowMs: Long, futureMs: Long = 0L): DataFrame = {
    // batched into 3 Dataset ops (each op costs one full eager-analysis pass
    // on the driver — the per-query plan-build constant is dominated by op
    // count, not expression size); the explode emits t_step directly
    val k1 = greatest(ceil((wt - futureMs - P.startMs).cast("double") / P.stepMs).cast("long"), lit(0L))
    val k2 = least(floor((wt + (windowMs - 1) - P.startMs).cast("double") / P.stepMs).cast("long"),
                   lit(P.numSteps - 1))
    df.withColumns(Map("__k1" -> k1, "__k2" -> k2))
      .filter(col("__k1") <= col("__k2"))
      .select(df.columns.map(col) :+
        explode(transform(sequence(col("__k1"), col("__k2")),
          k => lit(P.startMs) + k * P.stepMs)).as("t_step"): _*)
  }

  // ---------- selectors ----------

  private def selectorBase(vs: VectorSelector): DataFrame = {
    val ms = vs.metricName.map(n => LabelMatcher("__name__", MatchOp.Eq, n)).toList ++ vs.matchers
    // Physical-layout fast path: stores may materialize labels["__name__"] as
    // a plain `metric` column (and partition the parquet files by it — the
    // analog of the reference's postings index on __name__,
    // tsdb/index/postings.go). A filter on that flat column reaches parquet
    // partition pruning and in-memory-cache batch min/max skipping, neither of
    // which can see through element_at(map). The map-side filters below still
    // run, so correctness never depends on the metric column's accuracy.
    // ONE filter op with the whole conjunction (each Dataset op costs a full
    // eager-analysis pass; the conjuncts short-circuit left-to-right in
    // codegen, so the cheap flat-column check still guards the map lookups)
    val fastConds: Seq[Column] =
      if (!samples.columns.contains("metric")) Nil
      else ms.filter(_.name == "__name__").flatMap { m =>
        val c = coalesce(col("metric"), lit(""))
        m.op match {
          // plain equality (no coalesce) for a non-empty name: a NULL metric
          // can never equal it, and the bare `attr = lit` form is what both
          // parquet row-group stats and InMemoryTableScan batch min/max
          // pruning recognize — coalesce(attr, '') = lit prunes nothing
          case MatchOp.Eq if m.value.nonEmpty => Seq(col("metric") === m.value)
          case MatchOp.Eq => Seq(c === m.value)
          case MatchOp.Neq => Seq(c =!= m.value)
          case MatchOp.Re =>
            // regex can't reach parquet stats; its literal skeleton can: a
            // pure alternation becomes an exact IN-list (pushed as In), a
            // literal prefix becomes a StartsWith conjunct (pushed, prunes
            // row groups / partition dirs) guarding the residual rlike
            Planner.literalAlternation(m.value) match {
              case Some(names) => Seq(col("metric").isInCollection(names))
              case None =>
                val pfx = Planner.literalPrefix(m.value)
                val guard = if (pfx.isEmpty) Nil else Seq(col("metric").startsWith(pfx))
                guard :+ c.rlike(anchored(m.value))
            }
          case MatchOp.NotRe => Seq(!c.rlike(anchored(m.value)))
        }
      }
    val mapConds: Seq[Column] = ms.map { m =>
      val c = lval(col("labels"), m.name)
      m.op match {
        case MatchOp.Eq => c === m.value
        case MatchOp.Neq => c =!= m.value
        case MatchOp.Re => c.rlike(anchored(m.value))
        case MatchOp.NotRe => !c.rlike(anchored(m.value))
      }
    }
    val conds = fastConds ++ mapConds
    val filtered = if (conds.isEmpty) samples else samples.filter(conds.reduce(_ && _))
    if (filtered.columns.contains("metric")) filtered.drop("metric") else filtered
  }

  /** Instant vector selector: per (series, step) the most recent sample in
    * (step−lookback, step], stale markers shadowing (ref: promql/engine.go:2730
    * vectorSelectorSingle; staleness ref model/value/value.go:28).
    * emitStt: emit the picked sample's start timestamp (seconds) as the value
    * instead — the start_timestamp() fast path (ref: functions.go:1920 +
    * engine.go:2680 propagateSTs, direct-selector argument only). */
  def instantSelect(vs: VectorSelector, emitStt: Boolean = false): DataFrame = {
    val base = selectorBase(vs)
    // start_timestamp() output: ST seconds (0 = unknown), never a histogram
    def shape(df: DataFrame): DataFrame =
      if (!emitStt) df.drop("stt")
      else df.select(col("labels"), col("t"),
        (coalesce(col("stt"), lit(0L)).cast("double") / 1000.0).as("v"),
        col("st"), nullH.as("h"))
    vs.at match {
      case Some(atm) =>
        val te = resolveAt(atm) - vs.offsetMs
        val picked = withSg(recordScan(base
          .filter(col("t") > te - P.lookbackMs && col("t") <= te),
          0L, vs.offsetMs, te + vs.offsetMs, te + vs.offsetMs))
          .groupBy(col("__sg"))
          .agg(max_by(struct(col("t"), col("v"), col("stale"), col("labels"), col("h"), col("stt")), col("t")).as("p"))
          .select(col("p.labels").as("labels"), col("p.t").as("st"),
                  col("p.v").as("v"), col("p.stale").as("stale"), col("p.h").as("h"),
                  col("p.stt").as("stt"))
          .filter(!col("stale")).drop("stale")
        shape(grid.crossJoin(picked).select(col("labels"), col("t"), col("v"), col("st"), col("h"), col("stt")))
      case None =>
        // plan-time time-range pruning (ref: engine.go:945 FindMinMaxTime /
        // :977 getTimeRangesForSelector): only (start−lookback, end] shifted
        // by the offset can contribute. Literal bounds on the raw `t` column
        // reach the parquet scan (partition pruning + row-group min/max) —
        // without this every query sorts the full per-series history.
        val pruned = recordScan(base.filter(
          col("t") > P.startMs - P.lookbackMs - vs.offsetMs &&
          col("t") <= P.endMs - vs.offsetMs),
          0L, vs.offsetMs, P.startMs, P.endMs)
        val shifted = withSg(pruned).withColumn("wt", col("t") + vs.offsetMs)
        // linear as-of regime: when the lookback explode would amplify the
        // scan meaningfully AND there are many steps, a series-at-once pass
        // replaces the explode — ONE hash aggregation collects each series'
        // sorted samples, then one forward pointer serves every step
        // (identical result to the max-by-wt pick). Histogram samples ride
        // along as nullable struct fields (minority column; decoded only
        // where present).
        val amp = math.min(P.lookbackMs.toDouble / P.stepMs, P.numSteps.toDouble)
        if (amp >= P.linearSelectRatio && P.numSteps > 1 && noHist) {
          // float-only stores (the static capability flag): the whole pick
          // rides primitive arrays across the UDF boundary (RangeUdfs
          // .instantPickAllSteps) — no Row boxing, no FHist codec
          val agged = shifted.groupBy(col("__sg"))
            .agg(first(col("labels")).as("labels"),
              collect_list(col("wt")).as("wts"),
              collect_list(coalesce(col("stale"), lit(false))).as("stales"),
              collect_list(col("t")).as("sts"), collect_list(col("v")).as("vsx"),
              collect_list(coalesce(col("stt"), lit(0L))).as("stts"))
          val pickC = StepFoldExprs.instantPickSteps(P.startMs, P.stepMs,
            P.numSteps.toInt, P.lookbackMs)(col("wts"), col("stales"),
            col("sts"), col("vsx"), col("stts"))
          val nullH = lit(null).cast(FHist.schemaType)
          shape(agged
            .select(col("labels"), explode(pickC).as("o"))
            .select(col("labels"), col("o.t").as("t"), col("o.v").as("v"),
              col("o.st").as("st"), nullH.as("h"), col("o.stt").as("stt")))
        } else if (amp >= P.linearSelectRatio && P.numSteps > 1) {
          val agged = shifted.groupBy(col("__sg"))
            .agg(first(col("labels")).as("labels"),
              collect_list(struct(col("wt"), col("t").as("st"), col("v"),
                col("stale"), col("stt"), col("h"))).as("pts"))
          val pickC = StepFoldExprs.instantMixedSteps(P.startMs, P.stepMs,
            P.numSteps.toInt, P.lookbackMs)(col("pts"))
          shape(agged.select(col("labels"), explode(pickC).as("o"))
            .select(col("labels"), col("o.t").as("t"), col("o.v").as("v"),
              col("o.st").as("st"), col("o.h").as("h"), col("o.stt").as("stt")))
        } else
          // __sg rides from the pruned scan (hashed once per sample — or
          // store-provided — never per exploded row)
          shape(coverage(shifted, col("wt"), P.lookbackMs)
            .groupBy(col("__sg"), col("t_step"))
            .agg(max_by(struct(col("wt"), col("t"), col("v"), col("stale"), col("labels"), col("h"), col("stt")),
                        col("wt")).as("p"))
            .select(col("p.labels").as("labels"), col("t_step").as("t"),
                    col("p.v").as("v"), col("p.t").as("st"), col("p.stale").as("stale"),
                    col("p.h").as("h"), col("p.stt").as("stt"))
            .filter(!col("stale")).drop("stale"))
    }
  }

  // ---------- range inputs (matrix selectors & subqueries) ----------

  /** points: labels, t (sample ts), v — stale already removed;
    * ext: 0 plain, 1 anchored, 2 smoothed;
    * cheapRescan: true when `points` is a plain pruned selector scan, so a
    * second traversal (e.g. the per-series labels dict) costs one more pass
    * over the pruned input — false for subqueries, whose points re-run the
    * whole inner evaluation */
  private final case class RangeInput(
      points: DataFrame, rangeMs: Long, offsetMs: Long, at: Option[AtModifier],
      ext: Int = 0, cheapRescan: Boolean = false)

  private def rangeInput(e: Expr): RangeInput = e match {
    case MatrixSelector(vs, range, ext) =>
      // time-range pruning (ref: engine.go:977): the union of all step windows
      // (t_step−range, t_step], widened by the extended-selector slack
      // (anchored/smoothed reach one lookback before the range; smoothed also
      // one lookback after — engine.go:2235-2238). Safe w.r.t. the prev-point
      // lag: pairs whose predecessor falls before the first window start are
      // never consumed (pairInWindow / prefix-difference both exclude them).
      val (lo0, hi0) = vs.at match {
        case Some(atm) => val te = resolveAt(atm); (te, te)
        case None => (P.startMs, P.endMs)
      }
      val extSlack = if (ext != 0) P.lookbackMs else 0L
      val futSlack = if (ext == 2) P.lookbackMs else 0L
      val loT = lo0 - range - extSlack - vs.offsetMs
      val hiT = hi0 + futSlack - vs.offsetMs
      // invariant: RangeInput.points always carries __sg (store-provided or
      // hashed once on the pruned scan) — every downstream group/join/window
      // keys on the column instead of re-hashing labels
      RangeInput(withSg(recordScan(selectorBase(vs).filter(!col("stale"))
                   .filter(col("t") > loT && col("t") <= hiT),
                   range, vs.offsetMs, lo0, hi0))
                   .select(col("labels"), col("t"), col("v"), col("h"), lit(false).as("dn"),
                           col("stt"), col("__sg")),
                 range, vs.offsetMs, vs.at, ext, cheapRescan = true)
    case SubqueryExpr(inner, range, step0, offset, at) =>
      val istep = if (step0 > 0) step0 else P.defaultSubqueryStepMs
      // inner grid: multiples of istep spanning [outerStart-offset-range, outerEnd-offset]
      // (ref: promql/engine.go:1932 runSubquery — subquery steps are epoch-aligned);
      // an @ modifier pins the whole inner evaluation window
      val (outerLo, outerHi) = at match {
        case Some(atm) => val te = resolveAt(atm); (te, te)
        case None => (P.startMs, P.endMs)
      }
      val lo = outerLo - offset - range
      val hi = outerHi - offset
      val k1 = math.ceil(lo.toDouble / istep).toLong
      val k2 = math.floor(hi.toDouble / istep).toLong
      if (k2 < k1)
        // no inner grid point falls in the window — empty range vector
        return RangeInput(
          samples.filter(lit(false))
            .select(col("labels"), col("t"), col("v"), col("h"), lit(false).as("dn"),
                    lit(0L).as("stt"), lit(0L).as("__sg")),
          range, offset, at)
      val innerParams = P.copy(startMs = k1 * istep, endMs = k2 * istep, stepMs = istep,
        isInstant = false)
      val innerPlanner = new Planner(spark, samples, innerParams)
      // subquery outputs neutralize explicit counter-reset hints: a high-res
      // subquery re-emits the same histogram sample at several inner steps, so
      // a CounterReset hint would be counted once per copy, and a NotCounterReset
      // hint could mask a reset in samples the subquery skipped
      // (ref: engine.go:2023-2045 evalSubquery hint rewrite)
      val hAdj = when(hNotNull &&
          (col("h.crh") === FHist.HintReset || col("h.crh") === FHist.HintNotReset),
          col("h").withField("crh", lit(FHist.HintUnknown)))
        .otherwise(col("h"))
      val inner2 = innerPlanner.eval(inner) match {
        // inner DropName flags ride through the subquery window
        // (ref: engine.go:2276 inputDropName from subquery series); start
        // timestamps do NOT propagate through subqueries (PROM-60 —
        // start_timestamps.test "Subqueries cut the propagation")
        case VectorVal(df) => df.select(col("labels"), col("t"), col("v"), hAdj.as("h"),
          col("dn"), lit(0L).as("stt"))
        case ScalarVal(df, _) =>
          df.select(emptyLabels.as("labels"), col("t"), col("v"),
            lit(null).cast(FHist.schemaType).as("h"), lit(false).as("dn"), lit(0L).as("stt"))
        case _ => throw PromQLError("subquery inner expression must be vector or scalar")
      }
      scanLog ++= innerPlanner.scanLog // inner selectors count toward the budget
      RangeInput(withSg(inner2), range, offset, at)
    case ParenExpr(inner) => rangeInput(inner)
    case _ => throw PromQLError(s"expected range vector, got $e")
  }

  /** Windowed points ready for per-(series,step) aggregation. Adds:
    * wt (offset-shifted ts), prev_v / prev_wt (previous point in series — for
    * counter-reset / changes logic), t_step, __sg. When the selector is pinned
    * with @, a single pseudo-step is used and the result is fanned out to the
    * grid after aggregation (step-invariant, ref: promql/engine.go:2564). */
  /** offset-shifted points with previous-FLOAT-point columns */
  private def basePoints(ri: RangeInput): DataFrame = {
    // __sg is an attribute (rangeInput invariant), so Spark collapses all
    // three lags into ONE Window operator sharing one exchange (an inline
    // hsig(labels) would defeat CollapseWindow — the lambda vars in the sort
    // comparator never canonicalize equal), and the coverage explode
    // downstream reuses the hash instead of recomputing it
    val w = Window.partitionBy(col("__sg")).orderBy(col("t"))
    // prev_* skip histogram samples (ignoreNulls): float functions see the
    // previous FLOAT point, mirroring the reference's separate Floats slice
    // start timestamps shift into the offset frame alongside wt (0 stays 0
    // = unknown); prev_wst is the previous FLOAT point's shifted ST.
    // ONE withColumns batch = one analysis pass; the three lags still share
    // one Window operator (same attribute-based partition spec).
    val prevT = lag(when(hIsNull, col("t")), 1, null, ignoreNulls = true).over(w)
    withSg(ri.points)
      .withColumns(Map(
        "wst" -> wstCol(ri.offsetMs),
        "prev_v" -> lag(when(hIsNull, col("v")), 1, null, ignoreNulls = true).over(w),
        "prev_t" -> prevT,
        "prev_wst" -> coalesce(
          lag(when(hIsNull, wstCol(ri.offsetMs)), 1, null, ignoreNulls = true).over(w), lit(0L)),
        "wt" -> (col("t") + ri.offsetMs),
        "prev_wt" -> (prevT + ri.offsetMs)))
  }

  /** windowed points with the float/histogram split applied BEFORE the
    * coverage explode — so consumers touching only one side never pay the
    * other side's amplification (predicate pushdown below a generate is not
    * guaranteed, so the split is explicit in the plan) */
  private final case class WPoints(floats: DataFrame, hists: DataFrame, fixed: Boolean) {
    lazy val all: DataFrame = floats.unionByName(hists)
  }

  private def windowedPoints(ri: RangeInput): WPoints = {
    val baseF = basePoints(ri).filter(hIsNull)
    // histogram rows never consume the prev-float columns, so their side
    // skips the lag window entirely (schema kept aligned with nulls)
    val baseH = withSg(ri.points).filter(hNotNull)
      .withColumns(Map(
        "wst" -> wstCol(ri.offsetMs),
        "prev_v" -> lit(null).cast("double"),
        "prev_t" -> lit(null).cast("long"),
        "prev_wst" -> lit(0L),
        "wt" -> (col("t") + ri.offsetMs),
        "prev_wt" -> lit(null).cast("long")))
      .select(baseF.columns.map(col): _*)
    ri.at match {
      case Some(atm) =>
        val te = resolveAt(atm)
        def pin(df: DataFrame): DataFrame = df
          .filter(col("wt") > te - ri.rangeMs && col("wt") <= te)
          .withColumn("t_step", lit(te))
        WPoints(pin(baseF), pin(baseH), fixed = true)
      case None =>
        // extended selectors widen the buffer by the lookback delta: one
        // boundary sample before the range (anchored/smoothed) and after it
        // (smoothed) — ref engine.go:2848
        val window = ri.rangeMs + (if (ri.ext != 0) P.lookbackMs else 0L)
        val future = if (ri.ext == 2) P.lookbackMs else 0L
        // labels dropped BEFORE the explode for plain selectors (a labels
        // dict is joined back after aggregation — see labelsDict): the
        // exploded rows stay all-primitive, so (a) the Generate does not
        // copy the labels map per covered step, and (b) purely-declarative
        // downstream aggs compile to codegen'd HashAggregate instead of a
        // SortAggregate over the amplified rows (first(map) has an immutable
        // buffer, which disqualifies hash aggregation)
        val narrow = ri.ext == 0 && ri.cheapRescan
        def cov(df: DataFrame): DataFrame =
          coverage(if (narrow) df.drop("labels") else df, col("wt"), window, future)
        WPoints(cov(baseF), cov(baseH), fixed = false)
    }
  }

  /** per-series (__sg → labels) dict for explode-regime range functions whose
    * amplified rows dropped the labels map (windowedPoints `narrow`); one
    * extra pass over the pruned selector scan, output = series cardinality.
    * AQE picks broadcast vs shuffle for the restore join. */
  private def labelsDict(ri: RangeInput): DataFrame =
    withSg(ri.points).select(col("__sg"), col("labels"))
      .dropDuplicates("__sg")

  /** Linear-time window statistics for LARGE window/step ratios, where the
    * coverage explode's ⌈window/step⌉× amplification becomes pathological
    * (rate(x[1d]) @10s step = 8640×; VERDICT regime switch / SURVEY §7.3
    * risk 2). Series-at-once: ONE hash aggregation collects each series'
    * (wt-sorted) float samples, then [[RangeUdfs.rateStatsAllSteps]] computes
    * every step's window stats from per-series prefix sums + two pointers —
    * O(samples + steps) per series, one shuffle keyed on the series hash,
    * no row amplification. (This replaced an earlier prefix-window +
    * step-marker as-of design: three window passes over a wide pay struct
    * plus a per-(series, step) pairing aggregation cost ~10× the UDF pass's
    * CPU on the bench replica.) Returns one row per (series, step) with
    * window stats: cnt, firstV/minWt/firstSt (first sample in window),
    * lastV/maxWt (last), corr (sum of reset predecessors), nResets,
    * nChanges, dn (OR over in-window samples).
    * Float samples only — histogram windows keep the explode path (they are
    * the minority column; their explode is gated on h IS NOT NULL which
    * Catalyst pushes below the generate). Per-series group size is bounded
    * by the pruned window span × scrape rate — the same per-series order the
    * reference holds as chunks in memory. */
  private def linearRangeStats(ri: RangeInput): DataFrame = {
    val fb = ri.points.filter(hIsNull)
      .withColumns(Map("wt" -> (col("t") + ri.offsetMs), "wst" -> wstCol(ri.offsetMs)))
      .filter(col("wt") > P.startMs - ri.rangeMs && col("wt") <= P.endMs)
    // four parallel primitive-array collect_lists (ONE accumulation order —
    // they ride the same aggregate buffer); the UDF argsorts by wt itself.
    // Primitive arrays cross the UDF boundary on the no-copy fast paths,
    // ~10× cheaper than a Seq[Row] of structs (see RangeUdfs.RangeStatsArr).
    val agged = withSg(fb).groupBy(col("__sg"))
      .agg(first(col("labels")).as("labels"),
        collect_list(col("wt")).as("wts"), collect_list(col("v")).as("vsx"),
        collect_list(col("wst")).as("wsts"),
        collect_list(coalesce(col("dn"), lit(false))).as("dns"))
    val statsC = StepFoldExprs.rateStatsSteps(P.startMs, P.stepMs, P.numSteps.toInt,
      ri.rangeMs)(col("wts"), col("vsx"), col("wsts"), col("dns"))
    agged
      .select(col("__sg"), col("labels"), explode(statsC).as("o"))
      .select(col("__sg"), col("o.t").as("t_step"), col("labels"), col("o.dn").as("dn"),
        col("o.cnt").as("cnt"), col("o.firstV").as("firstV"), col("o.minWt").as("minWt"),
        col("o.firstSt").as("firstSt"), col("o.lastV").as("lastV"), col("o.maxWt").as("maxWt"),
        col("o.corr").as("corr"), col("o.nResets").as("nResets"),
        col("o.nChanges").as("nChanges"))
  }

  /** After aggregating a pinned (@) range: fan the per-series constant back out
    * to every grid step. */
  private def fanOut(df: DataFrame, fixed: Boolean): DataFrame =
    if (!fixed) df
    else {
      val extra = (if (df.columns.contains("h")) Seq(col("h")) else Nil) ++
        (if (df.columns.contains("dn")) Seq(col("dn")) else Nil)
      grid.crossJoin(df.drop("t", "st"))
        .select(Seq(col("labels"), col("t"), col("v"), col("t").as("st")) ++ extra: _*)
    }

  // ---------- range-function evaluation ----------

  /** Functions that keep the metric name (ref: promql/functions.go DropName
    * flags / name_label_dropping.test). */
  private val keepNameFuncs = Set("last_over_time", "first_over_time",
    "sort", "sort_desc", "sort_by_label", "sort_by_label_desc")

  private def evalRangeFunc(name: String, arg: Expr, extra: List[Expr]): DataFrame =
    evalRangeFuncOn(name, arg, rangeInput(arg), extra)

  /** Series-at-once fast path for LARGE window/step ratios: the whole
    * `*_over_time` family (plus deriv/predict_linear/des) evaluates every
    * step's window in ONE sorted pass per series (seriesWindowAgg), instead
    * of the coverage explode's ⌈window/step⌉× row amplification. The
    * rate/changes family has its own prefix-decomposed linear path
    * (linearRangeStats); these folds don't decompose, but the two-pointer
    * pass has the reference's own per-step cost without the explode's rows.
    * Ops consuming histogram samples split per series: float-pure series
    * take the fast pass, histogram-carrying series take the explode
    * restricted to just them (same device as changes/resets). */
  private def seriesAtOnceFast(name: String, arg: Expr, ri: RangeInput,
      extra: List[Expr]): Option[DataFrame] = {
    // Crossover on window/step alone (NOT min(·, numSteps)): even at 1 step
    // the explode path pays a per-sample struct allocation in its
    // collect_list groups, while this pass folds the same sorted window from
    // primitive arrays — measured 3.8→1.3 s on des(a_hundred[1d]) @1 step.
    // Safe to widen: these folds re-fold each window in the same sorted
    // order as the explode path (no prefix decomposition), so results are
    // bit-identical in every regime — unlike the rate family's corr prefix
    // sums, whose gate keeps the min(·, numSteps) amplification form.
    if (ri.ext != 0 || ri.at.isDefined ||
        ri.rangeMs.toDouble / P.stepMs < P.linearPathRatio)
      return None
    // (op, p1, p2); None = not eligible (e.g. non-constant parameters)
    val spec: Option[(String, Double, Double)] = name match {
      case "count_over_time" => Some(("count", 0, 0))
      case "present_over_time" => Some(("present", 0, 0))
      case "sum_over_time" => Some(("sum", 0, 0))
      case "avg_over_time" => Some(("avg", 0, 0))
      case "min_over_time" => Some(("min", 0, 0))
      case "max_over_time" => Some(("max", 0, 0))
      case "stddev_over_time" => Some(("stddev", 0, 0))
      case "stdvar_over_time" => Some(("stdvar", 0, 0))
      case "mad_over_time" => Some(("mad", 0, 0))
      case "quantile_over_time" => constValue(extra.head).map(q => ("quantile", q, 0.0))
      case "deriv" => Some(("deriv", 0, 0))
      case "predict_linear" => constValue(extra.head).map(h => ("predict", h, 0.0))
      case "double_exponential_smoothing" =>
        (constValue(extra.head), constValue(extra(1))) match {
          case (Some(sf), Some(tf)) => Some(("des", sf, tf))
          case _ => None
        }
      case _ => None
    }
    spec.map { case (op, p1, p2) =>
      // count/present consume only TIMESTAMPS — both sample kinds ride the
      // fast pass directly (no hist decode, no split); sum/avg exclude mixed
      // windows and have a histogram branch, so hist-carrying series keep
      // the (minority-side) explode
      val timestampsOnly = op == "count" || op == "present"
      // histogram-free STORE ⇒ no histogram can exist anywhere in the query
      // (see noHist scaladoc), so the three-way kind split — whose census
      // aggregation cannot constant-fold (max(lit(false)) over a non-empty
      // scan still runs the scan) — is skipped at construction: measured 4
      // redundant passes over the pruned selector scan on the bench replica
      val histConsuming = !timestampsOnly && (op == "sum" || op == "avg") &&
        !storeHasNoHist
      def fast(src: DataFrame): DataFrame = {
        val fb = src.withColumn("wt", col("t") + ri.offsetMs)
          .filter(col("wt") > P.startMs - ri.rangeMs && col("wt") <= P.endMs)
        val agged = withSg(fb).groupBy(col("__sg"))
          .agg(first(col("labels")).as("labels"),
            collect_list(col("wt")).as("wts"), collect_list(col("v")).as("vsx"))
        val aggC = StepFoldExprs.windowAggSteps(op, P.startMs, P.stepMs,
          P.numSteps.toInt, ri.rangeMs, p1, p2)(col("wts"), col("vsx"))
        agged.select(col("labels"), explode(aggC).as("o"))
          .select(col("labels"), col("o._1").as("t"), col("o._2").as("v"),
            col("o._1").as("st"), lit(null).cast(FHist.schemaType).as("h"),
            // every op here drops the metric name (none are in keepNameFuncs)
            lit(true).as("dn"))
      }
      if (timestampsOnly)
        // count/present over BOTH kinds in one fast pass (ref: count_over_time
        // counts histogram samples too) — the v column rides along unread
        fast(ri.points)
      else if (!histConsuming)
        // histogram samples are IGNORED by these folds (ref: e.g.
        // engine min/max/stddev float-only slices) — float rows suffice
        fast(ri.points.filter(hIsNull))
      else {
        // sum/avg over a histogram-capable store: ONE grouped pass. The
        // mixed fold classifies each step window O(1) by a hist-count
        // prefix and dispatches internally — float-pure windows reuse the
        // float fold verbatim, hist-pure windows the SWAG fold, mixed
        // windows drop (the reference's exclusion). This replaced a
        // series-kind census + three-leg union that re-scanned the pruned
        // selector four times (r8 verdict: 2.4→3.3 s regression on
        // sum_over_time(h_hundred[1d]); single-pass measured 1.1 s clean).
        val rows = withSg(ri.points)
          .withColumn("wt", col("t") + ri.offsetMs)
          .filter(col("wt") > P.startMs - ri.rangeMs && col("wt") <= P.endMs)
        val agged = rows.groupBy(col("__sg"))
          .agg(first(col("labels")).as("labels"),
            collect_list(struct(col("wt"), col("v"), col("h"))).as("mp"))
        agged.select(col("labels"),
            explode(StepFoldExprs.mixedOverTimeSteps(op == "avg",
              ri.rangeMs, P.startMs, P.stepMs, P.numSteps.toInt)(col("mp"))).as("o"))
          .select(col("labels"), col("o._1").as("t"), col("o._2").as("v"),
            col("o._1").as("st"), col("o._3").as("h"), lit(true).as("dn"))
      }
    }
  }

  private def evalRangeFuncOn(name: String, arg: Expr, ri: RangeInput,
      extra: List[Expr]): DataFrame =
    seriesAtOnceFast(name, arg, ri, extra).getOrElse(evalRangeBody(name, arg, ri, extra))

  private def evalRangeBody(name: String, arg: Expr, ri: RangeInput, extra: List[Expr]): DataFrame = {
    val wp = windowedPoints(ri)
    val fixed = wp.fixed
    if (ri.ext != 0) return evalExtendedRange(name, ri, wp, fixed)
    val rangeStart = col("t_step") - ri.rangeMs  // window is (rangeStart, t_step]
    val rangeSec = ri.rangeMs / 1000.0
    val pairInWindow = col("prev_wt") > rangeStart
    // IEEE `<` — Spark orders NaN as the largest value, so `x < NaN` would be
    // true; a NaN neighbor must never register as a counter reset
    val resetPair = pairInWindow && !isnan(col("prev_v")) && (col("v") < col("prev_v"))
    // float / histogram split: float functions see only float samples
    // (mirrors the reference's separate Floats/Histograms slices); functions
    // that must not mix (rate/sum_over_time/…) exclude mixed windows entirely
    // (ref: promql/functions.go:452 MixedFloatsHistogramsWarning)
    val pts = wp.all
    val fpts = wp.floats
    val hpts = wp.hists
    val g = fpts.groupBy(col("__sg"), col("t_step"))
    val gAll = pts.groupBy(col("__sg"), col("t_step"))
    // labels restore for the narrow explode (windowedPoints dropped the map
    // from the amplified rows): aggregate label-free, then join the
    // per-series dict back on the 8-byte key at (series × steps) cardinality
    val hasLbl = fpts.columns.contains("labels")
    lazy val dictDf = labelsDict(ri)
    def aggL(grouped: org.apache.spark.sql.RelationalGroupedDataset,
        cols: Column*): DataFrame = {
      val all = (if (hasLbl) Seq(first(col("labels")).as("labels")) else Nil) ++ cols
      grouped.agg(all.head, all.tail: _*)
    }
    def withLbl(df: DataFrame): DataFrame =
      if (df.columns.contains("labels")) df else df.join(dictDf, Seq("__sg"))
    def hAggedOf(src: DataFrame) = {
      val base = Seq(max(col("dn")).as("dn"),
        count(lit(1)).as("hcnt"),
        sort_array(collect_list(struct(col("wt"), col("h"), col("wst").as("stt")))).as("hp"))
      val all = (if (src.columns.contains("labels"))
        Seq(first(col("labels")).as("labels")) else Nil) ++ base
      src.groupBy(col("__sg"), col("t_step")).agg(all.head, all.tail: _*)
    }
    def hAgged = hAggedOf(hpts)
    /** drop (series, step) groups that also appear in `other` */
    def exclMixed(df: DataFrame, other: DataFrame): DataFrame =
      df.join(other.select(col("__sg"), col("t_step")).distinct(),
        Seq("__sg", "t_step"), "left_anti")

    // deferred name drop: labels stay intact; the flag ORs the input series'
    // flag (subquery inner, ref engine.go:2282 seriesDropName) with whether
    // this function drops the name (all range funcs except last/first_over_time)
    val funcDrops = !keepNameFuncs.contains(name)
    def dnOut = col("dn") || lit(funcDrops)

    def finish(agged: DataFrame, v: Column, cond: Column = lit(true), st: Column = col("t_step"),
        h: Column = lit(null).cast(FHist.schemaType)): DataFrame = {
      val r = withLbl(agged)
        .withColumns(Map("v" -> v, "__h" -> h))
        .filter(cond && (!isnull(col("v")) || col("__h").isNotNull))
        .select(col("labels"), col("t_step").as("t"),
          coalesce(col("v"), lit(Double.NaN)).as("v"), st.as("st"), col("__h").as("h"),
          dnOut.as("dn"))
      fanOut(r, fixed)
    }

    /** union a histogram-only-window result computed by `udfCol` over the
      * sorted (wt, h) list */
    def histBranch(udfCol: Column, minPts: Int = 1, src: DataFrame = null): DataFrame = {
      val clean = withLbl(exclMixed(if (src == null) hAgged else hAggedOf(src), fpts))
      val r = clean
        .withColumn("__h", udfCol)
        .filter(col("hcnt") >= minPts && col("__h").isNotNull)
        .select(col("labels"), col("t_step").as("t"),
          lit(Double.NaN).as("v"), col("t_step").as("st"), col("__h").as("h"),
          dnOut.as("dn"))
      fanOut(r, fixed)
    }

    // large amplifications take the linear prefix+as-of path instead of the
    // coverage explode (regime switch; see linearRangeStats). Amplification
    // is min(window/step, numSteps) — a sample covers at most numSteps steps.
    val useLinear = !fixed && ri.at.isEmpty &&
      math.min(ri.rangeMs.toDouble / P.stepMs, P.numSteps.toDouble) >= P.rateLinearRatio
    // changes/resets consume only the INTEGER prefix counts (nChanges,
    // nResets, dn) of linearRangeStats — prefix differences of ints are
    // exact, so the wider window/step-only crossover is safe for them even
    // at few steps (where the rate family stays on the explode to keep its
    // float corr sums bit-identical to the reference's per-window fold).
    val useLinearExact = !fixed && ri.at.isEmpty &&
      ri.rangeMs.toDouble / P.stepMs >= P.rateLinearRatio

    def extrapolated(isCounter: Boolean, isRate: Boolean, isDelta: Boolean): DataFrame = {
      // counter resets: value decrease OR a start-timestamp reset (PROM-60)
      val resetOrSt =
        if (isCounter) pairInWindow &&
          ((!isnan(col("prev_v")) && (col("v") < col("prev_v"))) ||
           stResetCol(col("prev_wst"), col("prev_wt"), col("wst"), col("wt")))
        else resetPair
      // ref: promql/functions.go:452 extrapolatedRate — formulas reimplemented
      val resultValue0 =
        if (isCounter) col("lastV") - col("firstV") + col("corr")
        else col("lastV") - col("firstV")
      // first sample's ST inside the range ⇒ assume a zero sample at ST
      // instead of extrapolating left (functions.go:550); also enables a
      // single-sample rate
      val stBranch =
        if (isCounter) col("firstSt") =!= 0L &&
          col("firstSt") > (col("t_step") - ri.rangeMs) && col("firstSt") < col("minWt")
        else lit(false)
      val resultValue = when(stBranch, resultValue0 + col("firstV")).otherwise(resultValue0)
      val durToStart0 = (col("minWt") - (col("t_step") - ri.rangeMs)).cast("double") / 1000.0
      val durToEnd0 = (col("t_step") - col("maxWt")).cast("double") / 1000.0
      val sampled0 = (col("maxWt") - col("minWt")).cast("double") / 1000.0
      val avgDur = when(col("cnt") > 1, sampled0 / (col("cnt") - 1).cast("double"))
        .otherwise(lit(0.0))
      val thresh = avgDur * 1.1
      val durToStart1 = when(durToStart0 >= thresh, avgDur / 2).otherwise(durToStart0)
      val durToStart2 =
        if (isCounter)
          when(resultValue0 > 0 && col("firstV") >= 0,
               least(durToStart1, sampled0 * (col("firstV") / resultValue0)))
            .otherwise(durToStart1)
        else durToStart1
      val durToStart = when(stBranch, lit(0.0)).otherwise(durToStart2)
      val sampled = when(stBranch,
        (col("maxWt") - col("firstSt")).cast("double") / 1000.0).otherwise(sampled0)
      val durToEnd = when(durToEnd0 >= thresh, avgDur / 2).otherwise(durToEnd0)
      val extInterval = sampled + durToStart + durToEnd
      val factor0 = when(sampled =!= 0.0, extInterval / sampled).otherwise(lit(1.0))
      val factor = if (isRate) factor0 / rangeSec else factor0
      if (useLinear) {
        // Linear regime: ONE grouped pass over the pruned selector.
        // MixedRateStepsExpr splits each series' merged timeline into the
        // float and histogram subsequences internally and classifies every
        // step window O(1): float-pure windows compute extrapolatedRate in
        // place, hist-pure windows the SWAG fold, mixed windows drop. This
        // replaced a series-kind census + float/hist-pure/mixed legs
        // (4 passes over the selector scan + a 3-way union; r8 verdict:
        // histogram_quantile(0.9, rate(h_hundred[5m])) 1.98→2.6 s clean)
        // AND the former per-output-row Column formula chain, which ran
        // interpreted below the CodegenFallback Generate.
        val rows = withSg(ri.points)
          .withColumns(Map("wt" -> (col("t") + ri.offsetMs), "wst" -> wstCol(ri.offsetMs)))
          .filter(col("wt") > P.startMs - ri.rangeMs && col("wt") <= P.endMs)
        val op = if (isRate) "rate" else if (isCounter) "increase" else "delta"
        val agged = rows.groupBy(col("__sg"))
          .agg(first(col("labels")).as("labels"),
            collect_list(struct(col("wt"), col("v"), col("h"), col("wst").as("stt"),
              coalesce(col("dn"), lit(false)).as("dn"))).as("mp"))
        agged.select(col("labels"),
            explode(StepFoldExprs.mixedRateSteps(op, P.startMs, P.stepMs,
              P.numSteps.toInt, ri.rangeMs)(col("mp"))).as("o"))
          .select(col("labels"), col("o.t").as("t"), col("o.v").as("v"),
            col("o.t").as("st"), col("o.h").as("h"),
            (col("o.dn") || lit(funcDrops)).as("dn"))
      } else {
        val agged = exclMixed(
          aggL(g, max(col("dn")).as("dn"),
            count(col("v")).as("cnt"),
            min(col("wt")).as("minWt"), max(col("wt")).as("maxWt"),
            expr("min_by(v, wt)").as("firstV"), expr("max_by(v, wt)").as("lastV"),
            expr("min_by(wst, wt)").as("firstSt"),
            sum(when(resetOrSt, col("prev_v")).otherwise(0.0)).as("corr")),
          hpts)
        val floatRes = finish(agged, resultValue * factor, col("cnt") >= 2 || stBranch)
        // histogram-only windows (ref: functions.go:640 histogramRate)
        val histRes = histBranch(
          HistUdfs.histRate(isCounter, isRate, ri.rangeMs)(col("hp"), col("t_step")), minPts = 1)
        floatRes.unionByName(histRes)
      }
    }

    name match {
      case "rate" => extrapolated(isCounter = true, isRate = true, isDelta = false)
      case "increase" => extrapolated(isCounter = true, isRate = false, isDelta = false)
      case "delta" => extrapolated(isCounter = false, isRate = false, isDelta = true)

      case "irate" | "idelta" =>
        // ref: promql/functions.go:830 instantValue — last two points of the
        // merged float+histogram in-window timeline
        val agged = aggL(gAll, max(col("dn")).as("dn"),
          sort_array(collect_list(struct(col("wt"), col("v"), col("h"), col("wst").as("stt")))).as("mp"))
          .withColumn("__o", HistUdfs.mergedInstant(name == "irate")(col("mp")))
        finish(agged, col("__o.v"), col("__o").isNotNull, h = col("__o.h"))

      case "resets" | "changes" =>
        if (useLinearExact) {
          // SERIES-level split: float-only series take the prefix-diff linear
          // path; any series carrying histogram samples falls back to the
          // merged-timeline explode (few in practice — the explode input is
          // restricted to those series, so the amplification stays bounded).
          // No broadcast() hint on histSeries: its cardinality is the distinct
          // histogram-carrying series of the matched selector, which grows
          // with deployment size — AQE picks broadcast when actually small.
          val histSeries = ri.points.filter(hNotNull)
            .select(col("__sg")).distinct()
          val linPart = finish(
            linearRangeStats(ri).join(histSeries, Seq("__sg"), "left_anti"),
            if (name == "changes") col("nChanges") else col("nResets"))
          val mergedPart = {
            val agged = aggL(pts.join(histSeries, Seq("__sg"), "left_semi")
              .groupBy(col("__sg"), col("t_step")),
              max(col("dn")).as("dn"),
                sort_array(collect_list(struct(col("wt"), col("v"), col("h"), col("wst").as("stt")))).as("mp"))
            finish(agged,
              HistUdfs.extMixedCount(name == "changes", ri.rangeMs)(col("mp"), col("t_step")))
          }
          linPart.unionByName(mergedPart)
        } else {
          // ref: promql/functions.go:2359/:2431 — merged float+histogram
          // timeline; float↔histogram transitions always count
          val agged = aggL(gAll, max(col("dn")).as("dn"),
            sort_array(collect_list(struct(col("wt"), col("v"), col("h"), col("wst").as("stt")))).as("mp"))
          finish(agged,
            HistUdfs.extMixedCount(name == "changes", ri.rangeMs)(col("mp"), col("t_step")))
        }

      case "avg_over_time" | "sum_over_time" =>
        // time-ordered Kahan summation for float-exact parity with the
        // reference (plain distributed sum() reorders additions and fails on
        // catastrophic-cancellation inputs; ref functions.go:1218/:1572)
        val sorted = sort_array(collect_list(struct(col("wt"), col("v"))))
        val agged = exclMixed(aggL(g, max(col("dn")).as("dn"), sorted.as("pts")), hpts)
        val v = if (name == "avg_over_time") RangeUdfs.avgOT(col("pts"))
                else RangeUdfs.kahanSumOT(col("pts"))
        finish(agged, v)
          .unionByName(histBranch(HistUdfs.histOverTime(name == "avg_over_time")(col("hp"))))
      case "count_over_time" =>
        // counts float AND histogram samples (ref: functions.go:1371)
        finish(aggL(gAll, max(col("dn")).as("dn"), count(lit(1)).cast("double").as("a")), col("a"))
      case "min_over_time" =>
        finish(aggL(g, max(col("dn")).as("dn"),
          min(when(!isnan(col("v")), col("v"))).as("a"), count(lit(1)).as("n")),
          coalesce(col("a"), lit(Double.NaN)))
      case "max_over_time" =>
        finish(aggL(g, max(col("dn")).as("dn"),
          max(when(!isnan(col("v")), col("v"))).as("a"), count(lit(1)).as("n")),
          coalesce(col("a"), lit(Double.NaN)))
      case "first_over_time" =>
        val agged = aggL(gAll, max(col("dn")).as("dn"),
          expr("min_by(struct(v, t, h), wt)").as("p"))
        finish(agged, col("p.v"), h = col("p.h"))
      case "last_over_time" =>
        val agged = aggL(gAll, max(col("dn")).as("dn"),
          expr("max_by(struct(v, t, h), wt)").as("p"))
        finish(agged, col("p.v"), h = col("p.h"))
      case "ts_of_first_over_time" =>
        finish(aggL(gAll, max(col("dn")).as("dn"), min(col("wt")).as("a")),
               col("a").cast("double") / 1000.0)
      case "ts_of_last_over_time" =>
        finish(aggL(gAll, max(col("dn")).as("dn"), max(col("wt")).as("a")),
               col("a").cast("double") / 1000.0)
      case "ts_of_max_over_time" =>
        finish(aggL(g, max(col("dn")).as("dn"), expr("max_by(wt, struct(v, wt))").as("a")),
               col("a").cast("double") / 1000.0)
      case "ts_of_min_over_time" =>
        finish(aggL(g, max(col("dn")).as("dn"),
          expr("min_by(wt, struct(v, -wt))").as("a")), col("a").cast("double") / 1000.0)
      case "stddev_over_time" =>
        finish(aggL(g, max(col("dn")).as("dn"), stddev_pop(col("v")).as("a")), col("a"))
      case "stdvar_over_time" =>
        finish(aggL(g, max(col("dn")).as("dn"), var_pop(col("v")).as("a")), col("a"))
      case "present_over_time" =>
        finish(aggL(gAll, max(col("dn")).as("dn")), lit(1.0))
      case "quantile_over_time" =>
        // ref: promql/functions.go:1652 → quantile.go:717 — NaN sorts smallest
        // (Spark percentile sorts NaN largest, so the UDF path is used
        // unconditionally); φ may be a per-step scalar expression.
        val sorted = sort_array(collect_list(struct(col("wt"), col("v"))))
        val agged = withLbl(aggL(g, max(col("dn")).as("dn"), sorted.as("__pts")))
          .select(col("labels"), col("t_step").as("t"), col("__pts"), dnOut.as("dn"))
        val fanned = if (!fixed) agged else grid.crossJoin(agged.drop("t"))
        val (qdf, phiCol) = constValue(extra.head) match {
          case Some(c) => (fanned, lit(c))
          case None => eval(extra.head) match {
            case ScalarVal(s, _) =>
              (fanned.join(broadcast(s.withColumnRenamed("v", "__phi")), Seq("t")), col("__phi"))
            case other => throw PromQLError(s"quantile_over_time: φ must be scalar, got $other")
          }
        }
        qdf.select(col("labels"), col("t"),
            RangeUdfs.quantileUdf(phiCol, col("__pts")).as("v"), col("t").as("st"), col("dn"))
          .filter(!isnull(col("v")))
      case "deriv" | "predict_linear" =>
        // ref: promql/functions.go:1949 linearRegression (OLS)
        val agged = aggL(g, max(col("dn")).as("dn"),
          count(col("v")).as("cnt"),
          expr("regr_slope(v, wt / 1000.0)").as("slope"),
          expr("regr_intercept(v, wt / 1000.0)").as("icept"))
        if (name == "deriv") finish(agged, col("slope"), col("cnt") >= 2)
        else constValue(extra.head) match {
          case Some(sSec) if !fixed =>
            finish(agged,
              col("icept") + col("slope") * (col("t_step").cast("double") / 1000.0 + sSec),
              col("cnt") >= 2)
          case Some(sSec) =>
            // @-pinned window: slope/intercept are step-invariant but the
            // prediction anchors at each OUTPUT step (ref: functions.go:2020
            // linearRegression(samples, enh.Ts) — enh.Ts is the eval step).
            val base = agged.filter(col("cnt") >= 2)
              .select(col("labels"), dnOut.as("dn"), col("slope"), col("icept"))
            grid.crossJoin(base)
              .select(col("labels"), col("t"),
                (col("icept") + col("slope") * (col("t").cast("double") / 1000.0 + sSec)).as("v"),
                col("t").as("st"), col("dn"))
          case None =>
            // per-step horizon expression
            val base = withLbl(agged).filter(col("cnt") >= 2)
            val stepped =
              if (!fixed) base
              else grid.crossJoin(base.drop("t_step"))
                .withColumn("t_step", col("t")).drop("t")
            val (j, sC) = scalarParam(extra.head, stepped, "t_step", "__horiz", "predict_linear")
            j.select(col("labels"), col("t_step").as("t"),
              (col("icept") + col("slope") * (col("t_step").cast("double") / 1000.0 + sC)).as("v"),
              col("t_step").as("st"), lit(null).cast(FHist.schemaType).as("h"), dnOut.as("dn"))
        }
      case "mad_over_time" | "double_exponential_smoothing" =>
        // (large window/step ratios with constant parameters are intercepted
        // by seriesAtOnceFast before reaching this explode path)
        val sorted = sort_array(collect_list(struct(col("wt"), col("v"))))
        val agged = aggL(g, max(col("dn")).as("dn"), sorted.as("pts"))
        if (name == "mad_over_time") finish(agged, RangeUdfs.mad(col("pts")))
        else (constValue(extra.head), constValue(extra(1))) match {
          case (Some(sf), Some(tf)) =>
            finish(agged, RangeUdfs.doubleExpSmoothing(col("pts"), lit(sf), lit(tf)))
          case _ =>
            // per-step sf/tf expressions: fan a pinned window out first so
            // each output step sees its own parameter values
            val stepped =
              if (!fixed) withLbl(agged)
              else grid.crossJoin(agged.drop("t_step"))
                .withColumn("t_step", col("t")).drop("t")
            val (j1, sfC) = scalarParam(extra.head, stepped, "t_step", "__sf", "double_exponential_smoothing")
            val (j2, tfC) = scalarParam(extra(1), j1, "t_step", "__tf", "double_exponential_smoothing")
            j2.select(col("labels"), col("t_step").as("t"),
                RangeUdfs.doubleExpSmoothing(col("pts"), sfC, tfC).as("v"),
                col("t_step").as("st"), lit(null).cast(FHist.schemaType).as("h"), dnOut.as("dn"))
              .filter(!isnull(col("v")))
        }
      case "absent_over_time" =>
        // large ratios: float presence from the linear stats pass, histogram
        // presence from the minority-side coverage leg (linearRangeStats
        // filters `h IS NULL`, so a window holding only native-histogram
        // samples would otherwise read as absent — both sample kinds
        // suppress absence, ref: promql/functions.go absentOverTime)
        val present =
          if (useLinear)
            linearRangeStats(ri).select(col("t_step"))
              .unionByName(wp.hists.select(col("t_step")))
              .distinct()
          else pts.select(col("t_step")).distinct()
        val lbls = absentLabels(arg)
        fanOut(grid.join(present.withColumnRenamed("t_step", "t"), Seq("t"), "left_anti")
          .select(lbls.as("labels"), col("t"), lit(1.0).as("v"), col("t").as("st"),
            lit(true).as("dn")), fixed = false)
      case other => throw PromQLError(s"unsupported range function: $other")
    }
  }

  /** Linear-regime anchored/smoothed rate/increase/delta over FLOAT samples:
    * boundary as-of rows + per-series prefix reset sums instead of the
    * (range+2·lookback)/step coverage explode. Column twin of
    * [[RangeUdfs.extRateUdf]] (ref: promql/functions.go:309 extendedRate) —
    * the boundary sample before the range (both modifiers), edge
    * interpolation at both range bounds (smoothed), and the in-range
    * counter-reset correction are reconstructed from three as-of markers per
    * (series, step):
    *   e @ t        — last sample at/before the range end
    *   f @ t−range  — first sample strictly after the range start
    *   a @ t−1      — first sample at/after the range end (smoothed only)
    * Returns one row per surviving (series, step): (__sg, t_step, labels, v).
    * Cost: one shuffle on __sg + two in-partition sorted passes — identical
    * shape to [[linearRangeStats]], O(samples + series×steps). */
  private def linearExtRate(name: String, ri: RangeInput): DataFrame = {
    val isCounter = name != "delta"
    val isRate = name == "rate"
    val smoothed = ri.ext == 2
    val lb = P.lookbackMs
    // Go `<` semantics: NaN compares false on either side (Spark orders NaN
    // as the largest double, so `x < NaN` would be true — guard it)
    def ltG(a: Column, b: Column): Column = !isnan(b) && (a < b)
    // __sg is an attribute (rangeInput invariant) so every pass shares one
    // exchange (each fresh hsig(labels) instantiation would otherwise get its
    // own hashpartitioning column and force a reshuffle per window)
    val pts0 = ri.points.filter(hIsNull)
      .withColumn("wt", col("t") + ri.offsetMs)
    val wLag = Window.partitionBy(col("__sg")).orderBy(col("wt"), col("t"))
    val wOrdF = wLag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // all-float input (h filtered), so plain lag == the prev-FLOAT lag
    // pCorr stays a second op: its sum-over-window consumes the prev_v lag
    // column (a window expression cannot nest inside another window function)
    val fbase = pts0
      .withColumns(Map(
        "prev_v" -> lag(col("v"), 1).over(wLag),
        "prev_wt" -> lag(col("wt"), 1).over(wLag)))
      .withColumn("pCorr", sum(when(col("prev_v").isNotNull && ltG(col("v"), col("prev_v")),
          col("prev_v")).otherwise(0.0)).over(wOrdF))
    val samplesU = fbase.select(col("__sg"), col("wt"), lit(0).as("knd"), lit("").as("mk"),
      lit(null).cast("long").as("t_step"),
      struct(col("wt").as("mwt"), col("v"), col("labels"),
        col("prev_v"), col("prev_wt"), col("pCorr")).as("pay"))
    val payType = samplesU.schema("pay").dataType
    val seriesKeys = ri.points.filter(hIsNull)
      .select(col("__sg")).distinct()
    // ONE marker subtree: per (series, step) the 2-3 boundary kinds explode
    // from an inline array, instead of re-building (and re-scanning) the
    // series×grid cross join once per kind
    val kindArr =
      if (smoothed) array(
        struct(lit("e").as("mk"), col("__mt").as("wt")),
        struct(lit("f").as("mk"), (col("__mt") - ri.rangeMs).as("wt")),
        struct(lit("a").as("mk"), (col("__mt") - 1L).as("wt")))
      else array(
        struct(lit("e").as("mk"), col("__mt").as("wt")),
        struct(lit("f").as("mk"), (col("__mt") - ri.rangeMs).as("wt")))
    val allMarkers = seriesKeys.crossJoin(grid.select(col("t").as("__mt")))
      .select(col("__sg"), col("__mt"), explode(kindArr).as("k"))
      .select(col("__sg"), col("k.wt").as("wt"), lit(1).as("knd"), col("k.mk").as("mk"),
        col("__mt").as("t_step"), lit(null).cast(payType).as("pay"))
    val wA = Window.partitionBy(col("__sg")).orderBy(col("wt"), col("knd"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wB = Window.partitionBy(col("__sg")).orderBy(col("wt").desc, col("knd").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val combined = samplesU.unionByName(allMarkers)
      .withColumn("eP", last(col("pay"), ignoreNulls = true).over(wA))
      .withColumn("sP", last(col("pay"), ignoreNulls = true).over(wB))
      .filter(col("knd") === 1)
      .groupBy(col("__sg"), col("t_step"))
      .agg(
        first(when(col("mk") === "e", col("eP")), ignoreNulls = true).as("e0"),
        first(when(col("mk") === "f", col("sP")), ignoreNulls = true).as("f"),
        first(when(col("mk") === "a", col("sP")), ignoreNulls = true).as("a0"))
    val rs = col("t_step") - ri.rangeMs                    // range start
    val re = col("t_step")                                 // range end
    // boundary sample S (last at/before range start) reconstructed from F's
    // prev columns; buffer-constrained to (rs−lookback, rs]
    val sValid = col("f").isNotNull && col("f.prev_wt").isNotNull &&
      col("f.prev_wt") > rs - lb
    val sWt = col("f.prev_wt"); val sV = col("f.prev_v")
    val pCorrF = col("f.pCorr")
    val pCorrS = pCorrF - when(ltG(col("f.v"), sV), sV).otherwise(0.0)
    // A (first at/after range end) buffer-constrained to ≤ re+lookback
    val aDef = lit(smoothed) && col("a0").isNotNull && col("a0.mwt") <= re + lb
    val aPred = aDef && col("a0.prev_wt").isNotNull && col("a0.prev_wt") > rs - lb
    def interpAt(t1: Column, v1: Column, t2: Column, v2: Column, at: Column): Column = {
      val y1 = if (isCounter) when(ltG(v2, v1), lit(0.0)).otherwise(v1) else v1
      y1 + (v2 - y1) * (at - t1).cast("double") / (t2 - t1).cast("double")
    }
    val left =
      if (!smoothed) when(sValid, sV).otherwise(col("f.v"))
      else when(sValid && sWt < rs, interpAt(sWt, sV, col("f.mwt"), col("f.v"), rs))
        .otherwise(when(sValid, sV).otherwise(col("f.v")))
    val right =
      if (!smoothed) col("e0.v")
      else when(!aDef, col("e0.v"))
        .when(col("a0.mwt") === re, col("a0.v"))
        .when(aPred, interpAt(col("a0.prev_wt"), col("a0.prev_v"),
                              col("a0.mwt"), col("a0.v"), re))
        .otherwise(col("a0.v"))
    // prefix-sum base at the window's first sample / end at its last pair
    val pB =
      if (!smoothed) when(sValid, pCorrS).otherwise(pCorrF)
      else when(sValid && sWt < rs, pCorrF)
        .otherwise(when(sValid, pCorrS).otherwise(pCorrF))
    val bAdj =
      if (!smoothed) lit(0.0)
      else when(sValid && sWt < rs && ltG(col("f.v"), left), left).otherwise(0.0)
    val pEnd =
      if (!smoothed) col("e0.pCorr")
      else when(!aDef, col("e0.pCorr"))
        .when(col("a0.mwt") === re, col("a0.pCorr"))
        .when(aPred, col("a0.pCorr") -
          when(ltG(col("a0.v"), col("a0.prev_v")), col("a0.prev_v")).otherwise(0.0))
        .otherwise(pB)
    val rAdj =
      if (!smoothed) lit(0.0)
      else when(aDef && col("a0.mwt") > re && aPred && ltG(right, col("a0.prev_v")),
        col("a0.prev_v")).otherwise(0.0)
    val corr = if (isCounter) pEnd - pB + bAdj + rAdj else lit(0.0)
    val res0 = right - left + corr
    val res = if (isRate) res0 / (ri.rangeMs / 1000.0) else res0
    // validity (UDF: f(lastIdx).wt ≤ rangeStart → null; smoothed also
    // f(firstIdx).wt > rangeEnd → null)
    val lastWt = if (!smoothed) col("e0.mwt") else coalesce(when(aDef, col("a0.mwt")), col("e0.mwt"))
    val firstWt = when(sValid, sWt).otherwise(col("f.mwt"))
    val valid0 = col("e0").isNotNull && col("f").isNotNull && lastWt > rs
    val valid = if (!smoothed) valid0 else valid0 && firstWt <= re
    combined.filter(valid)
      .select(col("__sg"), col("t_step"), col("e0.labels").as("labels"), res.as("v"))
  }

  /** anchored/smoothed range-function evaluation: one UDF over the sorted
    * extended point window per (series, step) — only the reference's safe
    * function sets are allowed (ref: promql/functions.go:2769). */
  private def evalExtendedRange(name: String, ri: RangeInput,
      wp: WPoints, fixed: Boolean): DataFrame = {
    val anchoredSafe = Set("resets", "changes", "rate", "increase", "delta")
    val smoothedSafe = Set("rate", "increase", "delta")
    val safe = if (ri.ext == 1) anchoredSafe else smoothedSafe
    if (!safe.contains(name))
      throw PromQLError(
        s"${if (ri.ext == 1) "anchored" else "smoothed"} modifier can only be used with: " +
        s"${safe.toSeq.sorted.mkString(", ")} - not with $name")
    val pts = wp.all
    val fpts = wp.floats
    val hpts = wp.hists
    def excl(df: DataFrame, other: DataFrame): DataFrame =
      df.join(other.select(col("__sg"), col("t_step")).distinct(),
        Seq("__sg", "t_step"), "left_anti")
    if (name == "changes" || name == "resets") {
      // merged float+histogram timeline (anchored only)
      val agged = pts.groupBy(col("__sg"), col("t_step"))
        .agg(first(col("labels")).as("labels"), max(col("dn")).as("dn"),
          sort_array(collect_list(struct(col("wt"), col("v"), col("h"), col("wst").as("stt")))).as("mp"))
      val r = agged
        .withColumn("v", HistUdfs.extMixedCount(name == "changes", ri.rangeMs)(col("mp"), col("t_step")))
        .filter(!isnull(col("v")))
        .select(col("labels"), col("t_step").as("t"),
          col("v"), col("t_step").as("st"), lit(true).as("dn"))
      return fanOut(r, fixed)
    }
    // regime switch: above the amplification threshold the coverage explode
    // (range + one/two lookbacks per step) dominates — use the as-of/prefix
    // linear plan instead (same shape as the plain-rate linear regime)
    val extAmp = math.min(
      (ri.rangeMs + P.lookbackMs * (if (ri.ext == 2) 2 else 1)).toDouble / P.stepMs,
      P.numSteps.toDouble)
    val useLinearExt = !fixed && extAmp >= P.linearExtPathRatio
    val floatRes =
      if (useLinearExt)
        excl(linearExtRate(name, ri), hpts)
          .select(col("labels"), col("t_step").as("t"),
            col("v"), col("t_step").as("st"), lit(null).cast(FHist.schemaType).as("h"),
            lit(true).as("dn"))
      else {
        val agged = excl(fpts.groupBy(col("__sg"), col("t_step"))
          .agg(first(col("labels")).as("labels"), max(col("dn")).as("dn"),
            sort_array(collect_list(struct(col("wt"), col("v")))).as("pts")), hpts)
        val vOut =
          RangeUdfs.extRateUdf(name != "delta", name == "rate", ri.ext == 2, ri.rangeMs)(
            col("pts"), col("t_step"))
        agged.withColumn("v", vOut)
          .filter(!isnull(col("v")))
          .select(col("labels"), col("t_step").as("t"),
            col("v"), col("t_step").as("st"), lit(null).cast(FHist.schemaType).as("h"),
            lit(true).as("dn"))
      }
    val histRes = {
        val hAgged = excl(hpts.groupBy(col("__sg"), col("t_step"))
          .agg(first(col("labels")).as("labels"), max(col("dn")).as("dn"),
            sort_array(collect_list(struct(col("wt"), col("h"), col("wst").as("stt")))).as("hp")), fpts)
        hAgged.withColumn("__h",
            HistUdfs.extHistRate(name != "delta", name == "rate", ri.ext == 2, ri.rangeMs)(
              col("hp"), col("t_step")))
          .filter(col("__h").isNotNull)
          .select(col("labels"), col("t_step").as("t"),
            lit(Double.NaN).as("v"), col("t_step").as("st"), col("__h").as("h"),
            lit(true).as("dn"))
      }
    fanOut(floatRes.unionByName(histRes), fixed)
  }

  /** `metric smoothed` instant selection (ref: engine.go:1730 smoothSeries). */
  private def smoothedSelect(vs: VectorSelector): DataFrame = {
    val (sLo, sHi) = vs.at match {
      case Some(atm) => val te = resolveAt(atm); (te, te)
      case None => (P.startMs, P.endMs)
    }
    val base = selectorBase(vs).filter(!col("stale"))
      // smoothed interpolation touches (start−lookback, end+lookback] only
      .filter(col("t") >= sLo - P.lookbackMs - vs.offsetMs &&
              col("t") <= sHi + P.lookbackMs - vs.offsetMs)
      .withColumns(Map("wt" -> (col("t") + vs.offsetMs), "dn" -> lit(false)))
    def agg(pts0: DataFrame): DataFrame = {
      val pts = pts0 // arrives with __sg hashed pre-explode
      val f = pts.filter(hIsNull)
        .groupBy(col("__sg"), col("t_step"))
        .agg(first(col("labels")).as("labels"), max(col("dn")).as("dn"),
          sort_array(collect_list(struct(col("wt"), col("v")))).as("pts"))
        .withColumn("v", RangeUdfs.smoothedValUdf(col("pts"), col("t_step")))
        .filter(!isnull(col("v")))
        .select(col("__sg"), col("labels"), col("t_step").as("t"), col("v"),
          col("t_step").as("st"), lit(null).cast(FHist.schemaType).as("h"))
      val hh = pts.filter(hNotNull)
        .groupBy(col("__sg"), col("t_step"))
        .agg(first(col("labels")).as("labels"), max(col("dn")).as("dn"),
          sort_array(collect_list(struct(col("wt"), col("h"), lit(0L).as("stt")))).as("hp"))
        .withColumn("__h", HistUdfs.smoothedHistUdf(col("hp"), col("t_step")))
        .filter(col("__h").isNotNull)
        .select(col("__sg"), col("labels"), col("t_step").as("t"), lit(Double.NaN).as("v"),
          col("t_step").as("st"), col("__h").as("h"))
      // a mixed float/histogram lookback WINDOW drops the series with a
      // warning (ref: engine.go:1764) — keyed on the input points, since a
      // branch can be mixed even when only one side produces an output
      def key(df: DataFrame) =
        df.select(col("__sg").as("__k"), col("t_step").as("__kt")).distinct()
      val fk = key(pts.filter(hIsNull))
      val hk = key(pts.filter(hNotNull))
      f.join(hk, col("__sg") === col("__k") && col("t") === col("__kt"), "left_anti")
        .unionByName(
          hh.join(fk, col("__sg") === col("__k") && col("t") === col("__kt"), "left_anti"))
        .drop("__sg")
    }
    vs.at match {
      case Some(atm) =>
        // @-pinned: interpolate once at the pinned timestamp, fan out
        val te = resolveAt(atm) - vs.offsetMs
        val pts = withSg(base)
          .filter(col("wt") >= te - P.lookbackMs && col("wt") <= te + P.lookbackMs)
          .withColumn("t_step", lit(te))
        fanOut(agg(pts), fixed = true)
      case None =>
        agg(coverage(withSg(base), col("wt"), P.lookbackMs, P.lookbackMs))
    }
  }

  /** synthesize labels from equality matchers (ref: promql/functions.go:1717). */
  private def absentLabels(e: Expr): Column = e match {
    case MatrixSelector(vs, _, _) => absentLabelsOf(vs)
    case SubqueryExpr(inner, _, _, _, _) => emptyLabels
    case ParenExpr(inner) => absentLabels(inner)
    case vs: VectorSelector => absentLabelsOf(vs)
    case _ => emptyLabels
  }
  private def absentLabelsOf(vs: VectorSelector): Column = {
    val eqs = vs.matchers.filter(m => m.op == MatchOp.Eq && m.name != "__name__")
      .filter(_.value.nonEmpty)
    // drop labels that appear in multiple matchers of ANY kind
    val allCounts = vs.matchers.groupBy(_.name).view.mapValues(_.size).toMap
    val kept = eqs.filter(m => allCounts.getOrElse(m.name, 0) == 1)
    if (kept.isEmpty) emptyLabels
    else map(kept.sortBy(_.name).flatMap(m => Seq(lit(m.name), lit(m.value))): _*)
  }

  // ---------- constants ----------

  /** fold a scalar expression to a constant when possible */
  def constValue(e: Expr): Option[Double] = e match {
    case NumberLiteral(v) => Some(v)
    case ParenExpr(i) => constValue(i)
    case UnaryExpr("-", i) => constValue(i).map(-_)
    case UnaryExpr("+", i) => constValue(i)
    case BinaryExpr(op, l, r, _, _) =>
      for (a <- constValue(l); b <- constValue(r); c <- scalarConstOp(op, a, b)) yield c
    case Call("pi", Nil) => Some(math.Pi)
    case Call("max_of", args) =>
      val vs = args.map(constValue)
      if (vs.forall(_.isDefined)) Some(vs.flatten.foldLeft(Double.NegativeInfinity)(math.max)) else None
    case Call("min_of", args) =>
      val vs = args.map(constValue)
      if (vs.forall(_.isDefined)) Some(vs.flatten.foldLeft(Double.PositiveInfinity)(math.min)) else None
    case _ => None
  }

  /** Scalar function parameter: constant fast-path, else evaluate the
    * expression as a per-step scalar and broadcast-join it onto `df` keyed
    * on `tCol` (ref: promql/engine.go:2095 — parameters are full
    * expressions evaluated at every output step). */
  private[promql] def scalarParam(e: Expr, df: DataFrame, tCol: String,
      alias: String, what: String): (DataFrame, Column) =
    constValue(e) match {
      case Some(c) => (df, lit(c))
      case None => eval(e) match {
        case ScalarVal(s, _) =>
          (df.join(broadcast(s.select(col("t").as(tCol), col("v").as(alias))), Seq(tCol)),
            col(alias))
        case other => throw PromQLError(s"$what: parameter must be a scalar, got $other")
      }
    }

  private def scalarConstOp(op: String, a: Double, b: Double): Option[Double] = op match {
    case "+" => Some(a + b)
    case "-" => Some(a - b)
    case "*" => Some(a * b)
    case "/" => Some(a / b)
    case "%" => Some(a % b)
    case "^" => Some(math.pow(a, b))
    case "atan2" => Some(math.atan2(a, b))
    case _ => None
  }

  // ---------- main dispatch ----------

  def eval(e: Expr): PValue = eval0(e) match {
    // every vector/matrix result carries the nullable `h` and `dn` columns
    case VectorVal(df) => VectorVal(ensureDn(ensureH(df)))
    case MatrixVal(df) => MatrixVal(ensureDn(ensureH(df)))
    case other => other
  }

  private def eval0(e: Expr): PValue = e match {
    case NumberLiteral(v) =>
      ScalarVal(grid.select(col("t"), lit(v).as("v")), Some(v))
    case StringLiteral(s) => StringVal(s)
    case ParenExpr(i) => eval(i)
    case vs: VectorSelector => VectorVal(instantSelect(vs))
    case SmoothedVector(vs) => VectorVal(smoothedSelect(vs))
    case ms: MatrixSelector =>
      // top-level range selector (instant query): all points in window
      val ri = rangeInput(ms)
      val te = ri.at.map(resolveAt).getOrElse(P.endMs)
      MatrixVal(ri.points
        .withColumn("wt", col("t") + ri.offsetMs)
        .filter(col("wt") > te - ri.rangeMs && col("wt") <= te)
        .select(col("labels"), col("t"), col("v"), col("h"), col("dn")))
    case sq: SubqueryExpr =>
      val ri = rangeInput(sq)
      val te = ri.at.map(resolveAt).getOrElse(P.endMs)
      MatrixVal(ri.points
        .withColumn("wt", col("t") + ri.offsetMs)
        .filter(col("wt") > te - ri.rangeMs && col("wt") <= te)
        .select(col("labels"), col("wt").as("t"), col("v"), col("h"), col("dn")))
    case UnaryExpr(op, inner) =>
      eval(inner) match {
        case ScalarVal(df, c) =>
          val f: Double => Double = if (op == "-") (x => -x) else identity
          ScalarVal(df.select(col("t"), (if (op == "-") -col("v") else col("v")).as("v")), c.map(f))
        case VectorVal(df) =>
          // unary minus marks __name__ for dropping (ref: engine.go:2470
          // mat[i].DropName = true) and negates histograms
          val hOut =
            if (op == "-") HistUdfs.guarded(col("h"))(HistUdfs.scaleH(col("h"), lit(-1.0)))
            else col("h")
          VectorVal(df.select(col("labels"), col("t"),
            (if (op == "-") -col("v") else col("v")).as("v"), col("st"), hOut.as("h"),
            (if (op == "-") lit(true) else col("dn")).as("dn")))
        case other => throw PromQLError(s"unary $op on $other")
      }
    case agg: AggregateExpr => VectorVal(Aggregations.eval(this, agg))
    case be: BinaryExpr => BinOps.eval(this, be)
    case Call(name, args) => CallEval.eval(this, name, args)
  }

  // accessors for helper objects
  private[promql] def sparkSession: SparkSession = spark
  private[promql] def p: EvalParams = P
  private[promql] def gridDF: DataFrame = grid
  private[promql] def sigCol(m: Column): Column = sigOf(m)
  private[promql] def hashSigCol(m: Column): Column = hsig(m)
  private[promql] def dropNameCol(c: Column): Column = dropName(c)
  private[promql] def keepLabelsCol(c: Column, keep: Seq[String]): Column = keepLabels(c, keep)
  private[promql] def withoutLabelsCol(c: Column, drop: Seq[String]): Column = withoutLabels(c, drop)
  private[promql] def emptyLabelsCol: Column = emptyLabels
  private[promql] def lvalCol(labels: Column, name: String): Column = lval(labels, name)
  private[promql] def evalRange(name: String, arg: Expr, extra: List[Expr]): DataFrame =
    evalRangeFunc(name, arg, extra)
  private[promql] def absentLabelsFor(e: Expr): Column = absentLabels(e)
}

object Planner {
  /** one selector scan + the evaluation geometry needed to re-derive the
    * reference's two sample-accounting figures from it (ref:
    * util/stats/query_stats.go QuerySamples — TotalSamples counts the full
    * window per step, SamplesRead counts each stored point once):
    * `windowMs` > 0 = range selector window, 0 = instant selector
    * (selection window = `lookbackMs`); grid = [gridLo, gridHi] stepped by
    * `stepMs` (an @-pinned selector records a one-step grid). */
  final case class ScanRec(df: org.apache.spark.sql.DataFrame,
      windowMs: Long, lookbackMs: Long, offsetMs: Long,
      gridLo: Long, gridHi: Long, stepMs: Long)

  private val regexMeta = ".*+?()[]{}|^$\\".toSet

  /** Pure-literal alternation (`a|b|c`) → the exact value set — the
    * reference's FixedSetMatches fast path (model/labels/regexp.go). A
    * selector regex of this shape compiles to a pushable IN-list instead of
    * an rlike. Conservative: any metacharacter anywhere disables it. */
  private[promql] def literalAlternation(re: String): Option[Seq[String]] = {
    val parts = re.split("\\|", -1)
    if (parts.nonEmpty && parts.forall(p => p.nonEmpty && !p.exists(regexMeta)))
      Some(parts.toSeq.distinct)
    else None
  }

  /** Literal prefix of a regex (chars up to the first metacharacter; the char
    * before a quantifier is excluded since the quantifier may erase it) — the
    * reference's optimized prefix match (model/labels/regexp.go literal
    * prefix). Only valid when no top-level alternation exists, so any `|`
    * disables it. */
  private[promql] def literalPrefix(re: String): String = {
    if (re.exists(_ == '|')) return ""
    val sb = new StringBuilder
    var i = 0
    while (i < re.length) {
      val c = re.charAt(i)
      if (regexMeta(c)) {
        // a quantifier modifies the PREVIOUS char — drop it from the prefix
        if ((c == '*' || c == '+' || c == '?' || c == '{') && sb.nonEmpty)
          sb.deleteCharAt(sb.length - 1)
        return sb.toString
      }
      sb += c; i += 1
    }
    sb.toString
  }
}
