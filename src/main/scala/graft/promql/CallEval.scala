package graft.promql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PromQL function-call dispatch (ref: promql/engine.go:2108 case *parser.Call;
  * implementations promql/functions.go). Range-vector functions are fused with
  * their selector in [[Planner.evalRange]]; this file handles instant-vector
  * and scalar functions.
  */
object CallEval {

  import MathCols._

  private val rangeFuncs = Set(
    "rate", "increase", "delta", "irate", "idelta", "resets", "changes",
    "deriv", "predict_linear", "double_exponential_smoothing",
    "avg_over_time", "sum_over_time", "count_over_time", "min_over_time",
    "max_over_time", "first_over_time", "last_over_time", "quantile_over_time",
    "stddev_over_time", "stdvar_over_time", "mad_over_time",
    "present_over_time", "absent_over_time",
    "ts_of_first_over_time", "ts_of_last_over_time",
    "ts_of_max_over_time", "ts_of_min_over_time")

  /** name → elementwise double transform */
  private val simple: Map[String, Column => Column] = Map(
    "abs" -> absD, "ceil" -> ceilD, "floor" -> floorD, "exp" -> expD,
    "sqrt" -> sqrtD, "ln" -> lnD, "log2" -> log2D, "log10" -> log10D,
    "sgn" -> sgnD, "sin" -> sinD, "cos" -> cosD, "tan" -> tanD,
    "asin" -> asinD, "acos" -> acosD, "atan" -> atanD, "sinh" -> sinhD,
    "cosh" -> coshD, "tanh" -> tanhD, "asinh" -> asinhD, "acosh" -> acoshD,
    "atanh" -> atanhD,
    "deg" -> (c => degrees(c)), "rad" -> (c => radians(c)))

  /** date-part functions over epoch SECONDS, computed in UTC unconditionally
    * via codegen'd static calls — Spark's minute()/hour()/… honor
    * spark.sql.session.timeZone, the reference does not
    * (ref: promql/functions.go:2574 dateWrapper `time.Unix(int64(v),0).UTC()`) */
  private def goDate(fn: String)(v: Column): Column =
    org.apache.spark.sql.GraftBridge.staticInvoke(classOf[GoMath], fn, Seq(v))
  private val dateFns: Map[String, Column => Column] = Map(
    "minute" -> goDate("dateMinute"),
    "hour" -> goDate("dateHour"),
    "day_of_week" -> goDate("dateDayOfWeek"),
    "day_of_month" -> goDate("dateDayOfMonth"),
    "day_of_year" -> goDate("dateDayOfYear"),
    "days_in_month" -> goDate("dateDaysInMonth"),
    "month" -> goDate("dateMonth"),
    "year" -> goDate("dateYear"))

  def eval(pl: Planner, name: String, args: List[Expr]): PValue = {

    def vecArg(e: Expr): DataFrame = pl.eval(e) match {
      case VectorVal(df) => df
      case other => throw PromQLError(s"$name expects instant vector, got $other")
    }
    def scalarArg(e: Expr): (DataFrame, Option[Double]) = pl.eval(e) match {
      case ScalarVal(df, c) => (df, c)
      case other => throw PromQLError(s"$name expects scalar, got $other")
    }
    def strArg(e: Expr): String = pl.eval(e) match {
      case StringVal(s) => s
      case other => throw PromQLError(s"$name expects string literal, got $other")
    }
    /** float samples only — scalar-math functions skip histogram samples
      * (ref: promql/functions.go simpleFloatFunc + info annotations) */
    def floats(df: DataFrame): DataFrame = df.filter(pl.hIsNull)
    /** apply elementwise transform marking __name__ for deferred dropping
      * (ref: functions.go:1753 simpleFloatFunc DropName: true) */
    def mapV(df: DataFrame, f: Column => Column): PValue =
      VectorVal(floats(df).select(col("labels"), col("t"),
        f(col("v")).as("v"), col("t").as("st"), lit(true).as("dn")))
    /** bind a scalar argument as a Column usable inside a vector projection */
    def bindScalar(df: DataFrame, e: Expr): (DataFrame, Column) = {
      val (sdf, sc) = scalarArg(e)
      sc match {
        case Some(c) => (df, lit(c))
        case None =>
          val tag = s"__s${System.identityHashCode(e)}"
          (df.join(broadcast(sdf.withColumnRenamed("v", tag)), Seq("t")), col(tag))
      }
    }

    name match {
      case n if rangeFuncs.contains(n) =>
        val (rangeArg, extra) = n match {
          case "quantile_over_time" => (args(1), List(args.head))
          case "predict_linear" | "double_exponential_smoothing" => (args.head, args.tail)
          case _ => (args.head, Nil)
        }
        VectorVal(pl.evalRange(n, rangeArg, extra))

      case n if simple.contains(n) => mapV(vecArg(args.head), simple(n))

      case "clamp" =>
        val in = floats(vecArg(args.head))
        val (df1, lo) = bindScalar(in, args(1))
        val (df2, hi) = bindScalar(df1, args(2))
        // max < min drops everything (ref: functions.go:1116) — IEEE `<`:
        // NaN bounds must NOT trip this (Spark sorts NaN largest)
        VectorVal(df2.filter(!ieeeCmp("<", hi, lo))
          .select(col("labels"), col("t"),
            clampD(col("v"), lo, hi).as("v"), col("t").as("st"), lit(true).as("dn")))
      case "clamp_max" =>
        val (df, hi) = bindScalar(floats(vecArg(args.head)), args(1))
        VectorVal(df.select(col("labels"), col("t"),
          minD(col("v"), hi).as("v"), col("t").as("st"), lit(true).as("dn")))
      case "clamp_min" =>
        val (df, lo) = bindScalar(floats(vecArg(args.head)), args(1))
        VectorVal(df.select(col("labels"), col("t"),
          maxD(col("v"), lo).as("v"), col("t").as("st"), lit(true).as("dn")))
      case "round" =>
        val in = floats(vecArg(args.head))
        val (df, to) =
          if (args.length > 1) bindScalar(in, args(1)) else (in, lit(1.0))
        VectorVal(df.select(col("labels"), col("t"),
          roundTo(col("v"), to).as("v"), col("t").as("st"), lit(true).as("dn")))

      case "time" =>
        ScalarVal(pl.gridDF.select(col("t"), (col("t").cast("double") / 1000.0).as("v")), None)
      case "start" | "end" | "step" | "range" =>
        // per-query constants (ref: promql/engine.go:4472-4478; instant
        // queries have step = range = 0)
        val p = pl.p
        val v = name match {
          case "start" => p.startMs / 1000.0
          case "end" => p.endMs / 1000.0
          case "step" => if (p.isInstant) 0.0 else p.stepMs / 1000.0
          case _ => if (p.isInstant) 0.0 else (p.endMs - p.startMs) / 1000.0
        }
        ScalarVal(pl.gridDF.select(col("t"), lit(v).as("v")), Some(v))
      case "pi" =>
        ScalarVal(pl.gridDF.select(col("t"), lit(math.Pi).as("v")), Some(math.Pi))
      case "max_of" | "min_of" =>
        val bound = args.map(a => scalarArg(a))
        val consts = bound.map(_._2)
        if (consts.forall(_.isDefined)) {
          val v = if (name == "max_of") consts.flatten.foldLeft(Double.NegativeInfinity)(math.max)
                  else consts.flatten.foldLeft(Double.PositiveInfinity)(math.min)
          ScalarVal(pl.gridDF.select(col("t"), lit(v).as("v")), Some(v))
        } else {
          val joined = bound.map(_._1).zipWithIndex
            .map { case (df, i) => df.withColumnRenamed("v", s"__v$i") }
            .reduce((a, b) => a.join(b, Seq("t")))
          val cols = bound.indices.map(i => col(s"__v$i"))
          val v = cols.reduce((a, b) => if (name == "max_of") maxD(a, b) else minD(a, b))
          ScalarVal(joined.select(col("t"), v.as("v")), None)
        }

      case "timestamp" =>
        val in = vecArg(args.head)
        VectorVal(in.select(col("labels"), col("t"),
          (col("st").cast("double") / 1000.0).as("v"), col("t").as("st"), lit(true).as("dn")))

      case "start_timestamp" =>
        // ST propagates only when the argument is a direct vector selector
        // (ref: engine.go:2680 propagateSTs; functions.go:1919) — any other
        // expression loses the ST side channel and yields an empty vector
        args.head match {
          case vs: VectorSelector =>
            VectorVal(pl.instantSelect(vs, emitStt = true)
              .select(col("labels"), col("t"), col("v"), col("st"), col("h"),
                lit(true).as("dn")))
          case other => VectorVal(vecArg(other).filter(lit(false)))
        }

      case "scalar" =>
        val in = floats(vecArg(args.head))
        val agg = in.groupBy(col("t")).agg(count(lit(1)).as("n"), first(col("v")).as("fv"))
        val out = pl.gridDF.join(agg, Seq("t"), "left")
          .select(col("t"), when(col("n") === 1, col("fv")).otherwise(lit(Double.NaN)).as("v"))
        ScalarVal(out, None)

      case "vector" =>
        val (sdf, _) = scalarArg(args.head)
        VectorVal(sdf.select(pl.emptyLabelsCol.as("labels"), col("t"), col("v"), col("t").as("st")))

      case "absent" =>
        val in = vecArg(args.head)
        val present = in.select(col("t")).distinct()
        val lbls = pl.absentLabelsFor(args.head)
        VectorVal(pl.gridDF.join(present, Seq("t"), "left_anti")
          .select(lbls.as("labels"), col("t"), lit(1.0).as("v"), col("t").as("st")))

      case n if dateFns.contains(n) =>
        val in =
          if (args.isEmpty)
            pl.gridDF.select(pl.emptyLabelsCol.as("labels"), col("t"),
              (col("t").cast("double") / 1000.0).as("v"), col("t").as("st"))
          else floats(vecArg(args.head))
        VectorVal(in.select(col("labels"), col("t"),
          dateFns(n)(col("v")).as("v"), col("t").as("st"), lit(true).as("dn")))

      case "label_replace" =>
        // ref: promql/functions.go:2483 evalLabelReplace (RE2 fully anchored)
        val in = vecArg(args.head)
        val dst = strArg(args(1)); val repl = strArg(args(2))
        val src = strArg(args(3)); val regex = strArg(args(4))
        val anchored = "^(?:" + regex + ")$"
        // plan-time validation (the reference fails the query):
        // bad regex, invalid destination name, empty source name
        try java.util.regex.Pattern.compile(anchored)
        catch { case e: Exception =>
          throw PromQLError(s"invalid regular expression in label_replace(): $regex") }
        if (!validLabelName(dst))
          throw PromQLError(s"invalid destination label name in label_replace(): $dst")
        val srcV = pl.lvalCol(col("labels"), src)
        val matched = srcV.rlike(anchored)
        val newV = regexp_replace(srcV, anchored, repl)
        val newLabels = when(!matched, col("labels")).otherwise(
          when(length(newV) === 0, map_filter(col("labels"), (k, _) => k =!= dst))
            .otherwise(map_concat(map_filter(col("labels"), (k, _) => k =!= dst),
                                  map(lit(dst), newV))))
        // writing __name__ cancels a pending name drop for the matched rows
        // (ref: functions.go:2512 — dst == __name__ ⇒ DropName = false)
        val dnOut =
          if (dst == "__name__") when(matched, lit(false)).otherwise(col("dn"))
          else col("dn")
        VectorVal(in.select(newLabels.as("labels"), col("t"), col("v"), col("st"),
          col("h"), dnOut.as("dn")))

      case "label_join" =>
        val in = vecArg(args.head)
        val dst = strArg(args(1)); val sep = strArg(args(2))
        val srcs = args.drop(3).map(strArg)
        if (!validLabelName(dst))
          throw PromQLError(s"invalid destination label name in label_join(): $dst")
        srcs.filterNot(validLabelName).foreach(s =>
          throw PromQLError(s"invalid source label name in label_join(): $s"))
        val newV = concat_ws(sep, srcs.map(s => pl.lvalCol(col("labels"), s)): _*)
        val newLabels =
          when(length(newV) === 0, map_filter(col("labels"), (k, _) => k =!= dst))
            .otherwise(map_concat(map_filter(col("labels"), (k, _) => k =!= dst),
                                  map(lit(dst), newV)))
        // ref: functions.go:2564 — dst == __name__ ⇒ DropName = false
        val dnOut = if (dst == "__name__") lit(false) else col("dn")
        VectorVal(in.select(newLabels.as("labels"), col("t"), col("v"), col("st"),
          col("h"), dnOut.as("dn")))

      case "sort" | "sort_desc" =>
        // sort()/sort_desc() drop histogram samples (ref: functions.go:1046
        // filterFloats) and attach a presentation rank `__ord` (observable
        // for instant queries only — range results are label-sorted,
        // ref: promql/engine.go:907). NaN sorts to the bottom in both
        // directions (funcSort/funcSortDesc reverse-with-NaN-first trick).
        val in = floats(vecArg(args.head))
        if (!pl.p.isInstant) VectorVal(in)
        else {
          val dir: Seq[Column] =
            if (name == "sort_desc") Seq(isnan(col("v")).asc, col("v").desc)
            else Seq(isnan(col("v")).asc, col("v").asc)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("t")).orderBy(dir: _*)
          VectorVal(in.withColumn("__ord", row_number().over(w).cast("double")))
        }
      case "sort_by_label" | "sort_by_label_desc" =>
        // natural-order sort on the given label values, full-labelset
        // tiebreak (ref: functions.go:1064 funcSortByLabel, facette/natsort)
        val in = vecArg(args.head)
        if (!pl.p.isInstant) VectorVal(in)
        else {
          val desc = name == "sort_by_label_desc"
          val keys = args.tail.map(a =>
            MathCols.natSortKeyUdf(pl.lvalCol(col("labels"), strArg(a)))) :+
            array_join(transform(Engine.sortedLabels(col("labels")),
              e => concat(e.getField("key"), lit("\u0000"), e.getField("value"))), "\u0001")
          val dir = if (desc) keys.map(_.desc) else keys.map(_.asc)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("t")).orderBy(dir: _*)
          VectorVal(in.withColumn("__ord", row_number().over(w).cast("double")))
        }

      // native-histogram accessors (ref: promql/functions.go:2044
      // simpleHistogramFunc) — struct-field projections, codegen'd
      case "histogram_count" | "histogram_sum" | "histogram_avg"
         | "histogram_stddev" | "histogram_stdvar" =>
        val in = vecArg(args.head).filter(pl.hNotNull)
        val v = name match {
          case "histogram_count" => col("h.cnt")
          case "histogram_sum" => col("h.sum")
          case "histogram_avg" => divD(col("h.sum"), col("h.cnt"))
          case "histogram_stddev" => HistUdfs.guarded(col("h"))(HistUdfs.stddevH(col("h")))
          case _ => HistUdfs.guarded(col("h"))(HistUdfs.stdvarH(col("h")))
        }
        VectorVal(in.select(col("labels"), col("t"),
          v.as("v"), col("t").as("st"), lit(true).as("dn")))

      case "histogram_quantile" =>
        val fused = fusedHistInput(pl, vecArg(args(1)))
        // φ may be a per-step scalar expression (ref: engine.go:2095)
        val (j, phi) = pl.scalarParam(args.head, fused, "t", "__phi", "histogram_quantile")
        // native path (ref: quantile.go:172) vs classic le-bucket path picked
        // per row (CaseWhen is lazy, so only one UDF runs per row); both mark
        // the name for deferred dropping (functions.go:2204 DropName: true)
        VectorVal(j
          .select(col("labels"), col("t"),
            when(pl.hNotNull,
              HistUdfs.guarded(col("h"))(HistUdfs.quantileH(phi, col("h"))))
            .otherwise(RangeUdfs.bucketQuantile(phi, col("buckets"))).as("v"),
            col("t").as("st"), lit(true).as("dn"))
          .filter(!isnull(col("v"))))

      case "histogram_quantiles" =>
        // (ref: promql/functions.go:2243 funcHistogramQuantiles — one output
        // series per quantile with label `lbl`=OpenMetrics-formatted φ)
        val in = vecArg(args.head)
        val lbl = strArg(args(1))
        val qs = args.drop(2).map(a => pl.constValue(a).getOrElse(
          throw PromQLError("histogram_quantiles: quantiles must be constant")))
        def fmtQ(q: Double): String =
          if (q == math.rint(q) && math.abs(q) < 1e15) s"${q.toLong}.0"
          else RangeUdfs.goFormat(q)
        def addQ(labels: Column, q: Double): Column =
          map_concat(map_filter(labels, (k, _) => k =!= lbl), map(lit(lbl), lit(fmtQ(q))))
        val fused = fusedHistInput(pl, in)
        val parts = qs.map { q =>
          fused
            .select(addQ(col("labels"), q).as("labels"), col("t"),
              when(pl.hNotNull,
                HistUdfs.guarded(col("h"))(HistUdfs.quantileH(lit(q), col("h"))))
              .otherwise(RangeUdfs.bucketQuantile(lit(q), col("buckets"))).as("v"),
              col("t").as("st"), lit(true).as("dn"))
            .filter(!isnull(col("v")))
        }
        VectorVal(parts.reduce(_.unionByName(_)))

      case "histogram_fraction" =>
        val fused = fusedHistInput(pl, vecArg(args(2)))
        val (j1, lo) = pl.scalarParam(args.head, fused, "t", "__lo", "histogram_fraction")
        val (j2, hi) = pl.scalarParam(args(1), j1, "t", "__hi", "histogram_fraction")
        VectorVal(j2
          .select(col("labels"), col("t"),
            when(pl.hNotNull,
              HistUdfs.guarded(col("h"))(HistUdfs.fractionH(lo, hi, col("h"))))
            .otherwise(RangeUdfs.bucketFraction(lo, hi, col("buckets"))).as("v"),
            col("t").as("st"), lit(true).as("dn"))
          .filter(!isnull(col("v"))))

      case "info" =>
        VectorVal(evalInfo(pl, args))

      case other => throw PromQLError(s"unsupported function: $other")
    }
  }

  /** Label-name validity (ref: model label name validation). The lexer turns
    * the test corpus's raw `\xff`-style escapes into chars in U+0080..U+00FF,
    * which in the reference are invalid raw UTF-8 bytes — reject that range
    * (proper multi-byte UTF-8 names arrive as chars above U+00FF). */
  private[promql] def validLabelName(s: String): Boolean =
    s.nonEmpty && !s.exists(c => c >= 0x80 && c <= 0xFF)

  /** info() — enrich series with data labels from matching info metrics
    * (ref: promql/info.go:39 evalInfo; identifying labels are hard-coded
    * `instance`,`job`, default info metric `target_info`).
    *
    * Plan shape: the info side is an instant selection broadcast-joined onto
    * the base vector on (identifying labels, step) — at 100 TB the info
    * series set (one per target) is orders of magnitude smaller than the
    * sample stream, so the broadcast is the right physical join. */
  private def evalInfo(pl: Planner, args: List[Expr]): DataFrame = {
    val base = pl.eval(args.head) match {
      case VectorVal(df) => df
      case other => throw PromQLError(s"info expects instant vector, got $other")
    }
    val selMatchers: List[LabelMatcher] = args.drop(1) match {
      case Nil => Nil
      case (vs: VectorSelector) :: _ =>
        vs.metricName.map(n => LabelMatcher("__name__", MatchOp.Eq, n)).toList ++ vs.matchers
      case other => throw PromQLError(s"info: second argument must be a label selector, got $other")
    }
    val nameMs = selMatchers.filter(_.name == "__name__")
    val dataMs = selMatchers.filterNot(_.name == "__name__")
    // effective info-series __name__ matchers (ref: info.go:92)
    val effNameMs: List[LabelMatcher] =
      if (nameMs.exists(m => m.op == MatchOp.Eq || m.op == MatchOp.Re)) nameMs
      else if (nameMs.nonEmpty) LabelMatcher("__name__", MatchOp.Re, ".+_info") :: nameMs
      else List(LabelMatcher("__name__", MatchOp.Eq, "target_info"))

    // does an absent info match still satisfy every data matcher?
    val emptyOk = dataMs.forall(_.matches(""))

    val ids = Seq("instance", "job")
    def idCol(labels: Column, l: String): Column = coalesce(element_at(labels, l), lit(""))

    // base series that ARE info series pass through unchanged (info.go:61)
    val isInfoSeries = effNameMs.map(_.cond(col("labels"))).reduce(_ && _)
    val passThrough = base.filter(isInfoSeries)
    val toEnrich = base.filter(!isInfoSeries)

    // info side: instant selection, data matchers applied, deduped per
    // (identifying labels, step)
    val infoRaw = pl.instantSelect(VectorSelector(None, effNameMs))
    val infoOk = dataMs.foldLeft(infoRaw)((df, m) => df.filter(m.cond(col("labels"))))
    // info samples must be floats (ref: info.go:384) — lazy runtime error
    // embedded in the label dataflow so it fires iff the sample is selected
    val iLabelsChecked =
      when(pl.hNotNull, raise_error(lit("info sample should be float"))
        .cast(org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType)))
        .otherwise(col("labels"))
    val infoKeyed = infoOk
      .select(iLabelsChecked.as("ilabels"), col("t"),
        idCol(col("labels"), "instance").as("__ii"), idCol(col("labels"), "job").as("__ij"))
      .groupBy(col("__ii"), col("__ij"), col("t"))
      .agg(collect_list(col("ilabels")).as("imaps"))
      .select(col("__ii"), col("__ij"), col("t"), col("imaps"))

    // Per-base-row merge (ref: info.go:426-459): one contribution per info
    // metric name; a data label contributed twice with different values
    // errors ("conflicting label: x") UNLESS the base metric already carries
    // it (the reference's lb.Set is skipped for base labels, so its Get-based
    // conflict check can never fire for them).
    val dataNames = dataMs.map(_.name).distinct
    val mergeWithBase = udf { (base: Map[String, String], imaps: Seq[Map[String, String]]) =>
      val perName = Option(imaps).getOrElse(Seq.empty)
        .groupBy(_.getOrElse("__name__", ""))
        .map { case (_, ms) => ms.minBy(_.toSeq.sorted.mkString("\u0001")) }
        .toSeq.sortBy(_.toSeq.sorted.mkString("\u0001"))
      val acc = scala.collection.mutable.LinkedHashMap[String, String]()
      perName.foreach { m =>
        m.foreach { case (k, v) =>
          val considered = k != "__name__" && v != "" &&
            (if (dataNames.nonEmpty) dataNames.contains(k) else !ids.contains(k))
          if (considered) acc.get(k) match {
            case Some(x) if x != v =>
              throw new IllegalArgumentException(s"conflicting label: $k")
            case Some(_) => ()
            case None => if (!base.contains(k)) acc(k) = v
          }
        }
      }
      acc.toMap ++ base
    }

    val bb = toEnrich
      .withColumn("__bi", idCol(col("labels"), "instance"))
      .withColumn("__bj", idCol(col("labels"), "job"))
    // No broadcast() hint on infoKeyed: its cardinality is targets × steps
    // (one `target_info` series per target is the operator's normal regime),
    // so a fleet-wide info() range query would push millions of rows through
    // the driver. A plain equi-join shuffles both sides on the key; AQE still
    // promotes to broadcast when the info side is actually small.
    val joined = bb
      .join(infoKeyed,
        bb("__bi") === infoKeyed("__ii") && bb("__bj") === infoKeyed("__ij") &&
          bb("t") === infoKeyed("t"), "left")
      .drop(infoKeyed("t"))
    val enriched = joined
      .filter(col("imaps").isNotNull || lit(emptyOk))
      .select(
        when(col("imaps").isNotNull, mergeWithBase(col("labels"), col("imaps")))
          .otherwise(col("labels")).as("labels"),
        col("t"), col("v"), col("st"), col("h"), col("dn"))
    enriched.unionByName(passThrough)
  }

  /** Classify a histogram-function input vector into native samples and
    * classic le-bucket groups, mutually EXCLUDING conflicting groups — a
    * label group with both a native sample and classic bucket series at the
    * same timestamp is dropped from both (ref: promql/functions.go
    * enh.resetHistograms conflict handling).
    *
    * Returns ONE DataFrame (labels, t, h, buckets, dn) where each row is
    * EITHER native (`h` set, `buckets` null) or classic (`buckets` set, `h`
    * null). The whole classification is a single aggregation behind a single
    * exchange with a single downstream consumer — the caller computes
    * `when(h.isNotNull, nativeFn).otherwise(classicFn)` instead of a union
    * of two branches. (A two-sided split re-executed the input's
    * post-shuffle computation once per consumer: for
    * histogram_quantile(rate(classic[5m])) that re-ran the rate windows 3×.) */
  private[promql] def fusedHistInput(pl: Planner, in: DataFrame): DataFrame = {
    val leStr = pl.lvalCol(col("labels"), "le")
    // one keyed projection feeds the census and both sides
    val keyed = in
      // try_cast: an unparsable le label ("Hello World") drops the bucket,
      // never fails the query (empty/missing le casts to NULL too)
      .withColumn("__lestr", leStr)
      .withColumn("__le", when(col("__lestr") === "+Inf" || col("__lestr") === "Inf" ||
          col("__lestr") === "inf", lit(Double.PositiveInfinity))
        .otherwise(expr("try_cast(__lestr AS DOUBLE)")))
      .withColumn("__isN", pl.hNotNull)
      .withColumn("__isC", pl.hIsNull && col("__le").isNotNull)
      .filter(col("__isN") || col("__isC"))
      // grouping/output excludes only `le` (ref: quantile.go:51 excludedLabels);
      // the metric name stays and is dropped deferred via the DropName flag
      .withColumn("glabels", map_filter(col("labels"), (k, _) => k =!= "le"))
      .withColumn("__k", pl.hashSigCol(col("glabels")))
    val grouped = keyed.groupBy(col("__k"), col("t")).agg(
      max(col("__isN")).as("hasN"), max(col("__isC")).as("hasC"),
      first(col("glabels")).as("glabels"),
      max(when(col("__isC"), col("dn"))).as("cdn"),
      collect_list(when(col("__isC"), struct(col("__le"), col("v")))).as("buckets"),
      collect_list(when(col("__isN"),
        struct(col("labels"), col("h"), col("dn")))).as("nrows"))
    val nullH = lit(null).cast(in.schema("h").dataType)
    val nullB = lit(null).cast(org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__le",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.DoubleType)))))
    // conflict groups (hasN && hasC) explode an empty array — dropped from
    // both sides; native groups re-emit their individual samples with the
    // ORIGINAL labels (incl. a stray le); classic groups emit one bucket row
    grouped.select(col("t"), explode(
        when(col("hasN") && !col("hasC"),
          transform(col("nrows"), r => struct(
            r.getField("labels").as("labels"), r.getField("h").as("h"),
            nullB.as("buckets"), r.getField("dn").as("dn"))))
        .when(col("hasC") && !col("hasN"),
          array(struct(col("glabels").as("labels"), nullH.as("h"),
            col("buckets").as("buckets"), col("cdn").as("dn"))))
        .otherwise(array())).as("r"))
      .select(col("r.labels").as("labels"), col("t"), col("r.h").as("h"),
        col("r.buckets").as("buckets"), col("r.dn").as("dn"))
  }
}
