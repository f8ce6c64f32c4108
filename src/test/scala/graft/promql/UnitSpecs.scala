package graft.promql

import org.scalatest.funsuite.AnyFunSuite

/** Pure-function unit specs (no SparkSession). */
class QuantileSpec extends AnyFunSuite {
  import RangeUdfs._

  test("quantile interpolates linearly") {
    assert(quantile(0.5, Seq(1.0, 2.0, 3.0)) == 2.0)
    assert(quantile(0.25, Seq(1.0, 2.0, 3.0, 4.0)) == 1.75)
    assert(quantile(0.0, Seq(5.0, 1.0)) == 1.0)
    assert(quantile(1.0, Seq(5.0, 1.0)) == 5.0)
  }

  test("quantile bounds and NaN φ (ref promql/quantile.go:717)") {
    assert(quantile(-0.1, Seq(1.0)).isNegInfinity)
    assert(quantile(1.1, Seq(1.0)).isPosInfinity)
    assert(quantile(Double.NaN, Seq(1.0)).isNaN)
    assert(quantile(0.5, Nil).isNaN)
  }

  test("NaN observations sort smallest (ref vectorByValueHeap)") {
    // NaN at the low end: high quantiles untouched by NaN
    assert(quantile(1.0, Seq(Double.NaN, 1.0, 2.0)) == 2.0)
    assert(quantile(0.0, Seq(Double.NaN, 1.0, 2.0)).isNaN)
  }

  test("Kahan sum survives catastrophic cancellation") {
    assert(kahanSumSeq(Seq(1e100, 1.0, -1e100)) == 1.0)
    assert(kahanSumSeq(Seq(1.0, 1e100, 1.0, -1e100)) == 2.0)
  }

  test("avgSeq switches to incremental mean on overflow") {
    val big = Double.MaxValue
    assert(avgSeq(Seq(big, big)) == big)
    assert(avgSeq(Seq(1.0, 2.0, 3.0)) == 2.0)
  }

  test("goFormat renders like Go strconv") {
    assert(goFormat(1.0) == "1")
    assert(goFormat(0.5) == "0.5")
    assert(goFormat(Double.PositiveInfinity) == "+Inf")
    assert(goFormat(Double.NaN) == "NaN")
  }

  test("bucketQuantile classic histogram") {
    // buckets le=[1, 2, +Inf], cumulative counts [1, 3, 4]
    val les = Seq(1.0, 2.0, Double.PositiveInfinity)
    val ccs = Seq(1.0, 3.0, 4.0)
    assert(bucketQuantileImpl(0.5, les, ccs) == 1.5)
    assert(bucketQuantileImpl(1.0, les, ccs) == 2.0) // top bucket clamps to highest finite le
  }
}

class ParserSpec extends AnyFunSuite {

  private def p(s: String, stepMs: Long = 0L): Expr = Parser.parse(s, stepMs)

  test("unary minus binds at MUL precedence: -2^2 = -(2^2)") {
    val e = p("-2^2")
    assert(e == UnaryExpr("-", BinaryExpr("^", NumberLiteral(2), NumberLiteral(2))))
  }

  test("^ is right-associative") {
    p("2^3^2") match {
      case BinaryExpr("^", NumberLiteral(2), BinaryExpr("^", NumberLiteral(3), NumberLiteral(2), _, _), _, _) => ()
      case other => fail(other.toString)
    }
  }

  test("offset binds a signed duration primary only") {
    // metric offset 100 + 2  ==  (metric offset 100s) + 2
    p("m offset 100 + 2") match {
      case BinaryExpr("+", VectorSelector(Some("m"), _, off, _), NumberLiteral(2), _, _) =>
        assert(off == 100000L)
      case other => fail(other.toString)
    }
    // parenthesized: arithmetic inside the offset
    p("m offset (100 + 2)") match {
      case VectorSelector(Some("m"), _, off, _) => assert(off == 102000L)
      case other => fail(other.toString)
    }
  }

  test("duration expressions: step() and compound arithmetic") {
    p("m[1+(step()-5)*2]", stepMs = 10000L) match {
      case MatrixSelector(_, r, _) => assert(r == 11000L)
      case other => fail(other.toString)
    }
  }

  test("matchers parse with all four ops") {
    p("""m{a="x", b!="y", c=~"z.*", d!~"w"}""") match {
      case VectorSelector(Some("m"), ms, _, _) =>
        assert(ms.map(_.op) == List(MatchOp.Eq, MatchOp.Neq, MatchOp.Re, MatchOp.NotRe))
      case other => fail(other.toString)
    }
  }

  test("aggregation modifiers before and after") {
    val a = p("sum by (job) (m)")
    val b = p("sum(m) by (job)")
    assert(a == b)
    assert(a.asInstanceOf[AggregateExpr].grouping == List("job"))
  }

  test("vector matching modifiers") {
    p("a / on(job) group_left(extra) b") match {
      case BinaryExpr("/", _, _, m, false) =>
        assert(m.on && m.matchingLabels == List("job"))
        assert(m.card == MatchCard.ManyToOne && m.include == List("extra"))
      case other => fail(other.toString)
    }
  }

  test("@ modifier forms") {
    p("m @ 123") match {
      case VectorSelector(_, _, _, Some(AtModifier.AtTimestamp(ms))) => assert(ms == 123000L)
      case other => fail(other.toString)
    }
    assert(p("m @ start()").asInstanceOf[VectorSelector].at.contains(AtModifier.AtStart))
    assert(p("m @ end()").asInstanceOf[VectorSelector].at.contains(AtModifier.AtEnd))
  }

  test("subquery with default step") {
    p("rate(m[5m])[30m:]") match {
      case SubqueryExpr(Call("rate", _), r, s, _, _) =>
        assert(r == 1800000L && s == 0L)
      case other => fail(other.toString)
    }
  }
}

/** path-equivalence: the linear prefix+as-of regime must produce the same
  * results as the coverage-explode regime for the rate family and
  * changes/resets (same query, both thresholds). */
class LinearPathSpec extends AnyFunSuite {

  test("linear and explode range paths agree on rate/increase/delta/changes/resets") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      // two series with resets, gaps and NaN; 10s cadence over 2h
      val rows = (0 until 720).flatMap { i =>
        val t = i * 10000L
        val v1 = (i % 97).toDouble // frequent resets
        val v2 = if (i % 50 == 13) Double.NaN else i.toDouble + (if (i % 200 == 0) -i else 0)
        Seq(
          (Map("__name__" -> "m", "s" -> "a"), t, v1),
          (Map("__name__" -> "m", "s" -> "b"), t, v2)) ++
          (if (i % 7 == 0) Nil // gaps in series c
           else Seq((Map("__name__" -> "m", "s" -> "c"), t, (i * 3 % 41).toDouble)))
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(
          rows.map { case (l, t, v) => org.apache.spark.sql.Row(l, t, v, false, null, 0L) }, 4),
        Engine.samplesSchema)

      // window/step ratio 180, 120 steps → amplification 120
      def results(q: String, forceLinear: Boolean): Map[(Map[String, String], Long), Double] = {
        val pl = new Planner(spark, df.withColumn("h",
            org.apache.spark.sql.functions.lit(null).cast(FHist.schemaType)),
          EvalParams(3600000L, 4790000L, 10000L,
            linearPathRatio = if (forceLinear) 1.0 else 1e18,
            rateLinearRatio = if (forceLinear) 1.0 else 1e18))
        pl.eval(Engine.parse(q, 10000L)) match {
          case VectorVal(r) =>
            r.select("labels", "t", "v").collect()
              .map(x => (x.getMap[String, String](0).toMap, x.getLong(1)) -> x.getDouble(2)).toMap
          case other => fail(s"unexpected $other")
        }
      }
      for (q <- Seq("rate(m[30m])", "increase(m[30m])", "delta(m[30m])",
                    "changes(m[30m])", "resets(m[30m])",
                    // series-at-once regime (seriesWindowAgg)
                    "mad_over_time(m[30m])",
                    "double_exponential_smoothing(m[30m], 0.3, 0.3)",
                    "count_over_time(m[30m])", "present_over_time(m[30m])",
                    "sum_over_time(m[30m])", "avg_over_time(m[30m])",
                    "min_over_time(m[30m])", "max_over_time(m[30m])",
                    "stddev_over_time(m[30m])", "stdvar_over_time(m[30m])",
                    "quantile_over_time(0.9, m[30m])",
                    "deriv(m[30m])", "predict_linear(m[30m], 600)",
                    // subquery: the inner planner inherits the forced regime
                    "max_over_time(rate(m[10m])[30m:10s])")) {
        val a = results(q, forceLinear = false)
        val b = results(q, forceLinear = true)
        assert(a.keySet == b.keySet, s"$q: key sets differ (${a.size} vs ${b.size})")
        a.foreach { case (k, v) =>
          assert(Runner_almost(v, b(k)), s"$q at $k: explode=$v linear=${b(k)}")
        }
      }
      // the forced regime reaches the subquery's inner planner: its rate
      // takes a series-at-once pass only when the query forces linear
      def innerRateLinear(forceLinear: Boolean): Boolean = {
        val pl = new Planner(spark, df.withColumn("h",
            org.apache.spark.sql.functions.lit(null).cast(FHist.schemaType)),
          EvalParams(3600000L, 4790000L, 10000L,
            linearPathRatio = if (forceLinear) 1.0 else 1e18,
            rateLinearRatio = if (forceLinear) 1.0 else 1e18))
        pl.eval(Engine.parse("max_over_time(rate(m[10m])[30m:10s])", 10000L)) match {
          case VectorVal(r) =>
            "rate\\w*steps".r.findFirstIn(r.queryExecution.optimizedPlan.toString.toLowerCase).isDefined
          case other => fail(s"unexpected $other")
        }
      }
      assert(innerRateLinear(forceLinear = true), "forced linear did not reach the subquery")
      assert(!innerRateLinear(forceLinear = false), "forced explode did not reach the subquery")

      // histogram series: the series-at-once hist fold vs the coverage
      // explode (hist-pure series `hh` with a counter reset; mixed-type
      // series `mx` keeps the restricted explode)
      val histRows = (0 until 720).flatMap { i =>
        val t = i * 10000L
        val cnt = (if (i >= 400) i - 400 else i).toDouble // reset at i=400
        val hh = FHist(0, 0.0, 1.0, cnt + 2.0, cnt * 1.5,
          Seq(0, 1), Seq(1.0, cnt + 1.0), Nil, Nil, Nil, 0)
        Seq(org.apache.spark.sql.Row(
          Map("__name__" -> "hm", "s" -> "hh"), t, Double.NaN, false, FHist.toRow(hh), 0L)) ++
          (if (i % 2 == 0)
            Seq(org.apache.spark.sql.Row(
              Map("__name__" -> "hm", "s" -> "mx"), t, Double.NaN, false, FHist.toRow(hh), 0L))
          else
            Seq(org.apache.spark.sql.Row(
              Map("__name__" -> "hm", "s" -> "mx"), t, i.toDouble, false, null, 0L)))
      }
      val hdf = spark.createDataFrame(
        spark.sparkContext.parallelize(histRows, 4), Engine.samplesSchema)
      def histResults(q: String, forceLinear: Boolean): Map[(Map[String, String], Long), String] = {
        val pl = new Planner(spark, hdf, EvalParams(3600000L, 4790000L, 10000L,
          linearPathRatio = if (forceLinear) 1.0 else 1e18,
          rateLinearRatio = if (forceLinear) 1.0 else 1e18))
        pl.eval(Engine.parse(q, 10000L)) match {
          case VectorVal(r) =>
            r.select("labels", "t", "v", "h").collect()
              .map(x => (x.getMap[String, String](0).toMap, x.getLong(1)) ->
                (x.getDouble(2).toString + "|" + String.valueOf(x.get(3)))).toMap
          case other => fail(s"unexpected $other")
        }
      }
      // absent_over_time: a hist-ONLY series (`hh`) must register presence in
      // the linear regime too (the float stats pass alone would fabricate
      // absence); an unmatched selector must still emit absence in both
      for (q <- Seq("rate(hm[30m])", "increase(hm[30m])", "delta(hm[30m])",
                    "absent_over_time(hm{s=\"hh\"}[30m])",
                    "absent_over_time(hm{s=\"nope\"}[30m])",
                    // count/present fold both sample kinds in one fast pass;
                    // sum/avg route hist-carrying series to the explode
                    "count_over_time(hm[30m])", "present_over_time(hm[30m])",
                    "sum_over_time(hm[30m])", "avg_over_time(hm[30m])")) {
        val a = histResults(q, forceLinear = false)
        val b = histResults(q, forceLinear = true)
        assert(a.keySet == b.keySet, s"$q: hist key sets differ (${a.size} vs ${b.size})")
        a.foreach { case (k, v) => assert(v == b(k), s"$q at $k:\n  explode=$v\n  linear=${b(k)}") }
      }

      // instant selector: linear as-of vs coverage explode
      def selResults(forceLinear: Boolean) = {
        val pl = new Planner(spark, df.withColumn("h",
            org.apache.spark.sql.functions.lit(null).cast(FHist.schemaType)),
          EvalParams(3600000L, 4790000L, 10000L,
            linearSelectRatio = if (forceLinear) 1.0 else 1e18))
        pl.eval(Engine.parse("m")) match {
          case VectorVal(r) =>
            r.select("labels", "t", "v", "st").collect()
              .map(x => (x.getMap[String, String](0).toMap, x.getLong(1)) ->
                (x.getDouble(2), x.getLong(3))).toMap
          case other => fail(s"unexpected $other")
        }
      }
      val sa = selResults(false); val sb = selResults(true)
      assert(sa.keySet == sb.keySet, s"selector key sets differ: ${sa.size} vs ${sb.size}")
      sa.foreach { case (k, (v, st)) =>
        val (v2, st2) = sb(k)
        assert(st == st2 && Runner_almost(v, v2), s"selector at $k: ($v,$st) vs ($v2,$st2)")
      }

      // FLOAT-ONLY store (store-capability flag set by Engine.canonical on a
      // table with no h/stt columns): the linear regime takes the primitive-
      // array instantPickAllSteps path — must agree with the struct path and
      // the explode, including stale-marker shadowing
      val staleRows = rows.map { case (l, t, v) =>
        org.apache.spark.sql.Row(l, t, v, t % 170000L == 0L) // scattered markers
      }
      val floatDf = Engine.canonical(spark.createDataFrame(
        spark.sparkContext.parallelize(staleRows, 4),
        org.apache.spark.sql.types.StructType(Engine.samplesSchema.fields.take(4))))
      def floatSel(forceLinear: Boolean) = {
        val pl = new Planner(spark, floatDf, EvalParams(3600000L, 4790000L, 10000L,
          linearSelectRatio = if (forceLinear) 1.0 else 1e18))
        pl.eval(Engine.parse("m")) match {
          case VectorVal(r) =>
            r.select("labels", "t", "v", "st").collect()
              .map(x => (x.getMap[String, String](0).toMap, x.getLong(1)) ->
                (x.getDouble(2), x.getLong(3))).toMap
          case other => fail(s"unexpected $other")
        }
      }
      val fa = floatSel(false); val fb = floatSel(true)
      assert(fa.keySet == fb.keySet,
        s"float-store selector key sets differ: ${fa.size} vs ${fb.size} " +
        s"(onlyExplode=${(fa.keySet -- fb.keySet).take(3)} onlyLinear=${(fb.keySet -- fa.keySet).take(3)})")
      fa.foreach { case (k, (v, st)) =>
        val (v2, st2) = fb(k)
        assert(st == st2 && Runner_almost(v, v2), s"float selector at $k: ($v,$st) vs ($v2,$st2)")
      }
    } finally spark.stop()
  }

  private def Runner_almost(a: Double, b: Double): Boolean =
    graft.promqltest.Runner.almostEqual(a, b, 1e-9)
}

/** path-equivalence for the EXTENDED (anchored/smoothed) selectors: the
  * as-of/prefix linear regime must match the coverage-explode + UDF regime
  * across boundary pickup, edge interpolation and reset corrections. */
class ExtLinearPathSpec extends AnyFunSuite {

  test("ext linear and explode paths agree on anchored/smoothed rate family") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      // series with resets (a), NaN + a deep negative dip (b), gaps (c),
      // plus a series that stops mid-range (d) and one starting late (e)
      val rows = (0 until 720).flatMap { i =>
        val t = i * 10000L
        val v1 = (i % 97).toDouble
        val v2 = if (i % 50 == 13) Double.NaN else i.toDouble + (if (i % 200 == 0) -i else 0)
        Seq(
          (Map("__name__" -> "m", "s" -> "a"), t, v1),
          (Map("__name__" -> "m", "s" -> "b"), t, v2)) ++
          (if (i % 7 == 0) Nil
           else Seq((Map("__name__" -> "m", "s" -> "c"), t, (i * 3 % 41).toDouble))) ++
          (if (i > 360) Nil
           else Seq((Map("__name__" -> "m", "s" -> "d"), t, i.toDouble))) ++
          (if (i < 400) Nil
           else Seq((Map("__name__" -> "m", "s" -> "e"), t, (i % 13).toDouble)))
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(
          rows.map { case (l, t, v) => org.apache.spark.sql.Row(l, t, v, false, null, 0L) }, 4),
        Engine.samplesSchema)
      def results(q: String, forceLinear: Boolean): Map[(Map[String, String], Long), Double] = {
        val pl = new Planner(spark, df.withColumn("h",
            org.apache.spark.sql.functions.lit(null).cast(FHist.schemaType)),
          EvalParams(3600000L, 4790000L, 10000L,
            linearExtPathRatio = if (forceLinear) 1.0 else 1e18))
        pl.eval(Engine.parse(q, 10000L)) match {
          case VectorVal(r) =>
            r.select("labels", "t", "v").collect()
              .map(x => (x.getMap[String, String](0).toMap, x.getLong(1)) -> x.getDouble(2)).toMap
          case other => fail(s"unexpected $other")
        }
      }
      for (mod <- Seq("anchored", "smoothed");
           fn <- Seq("rate", "increase", "delta")) {
        val q = s"$fn(m[30m] $mod)"
        val a = results(q, forceLinear = false)
        val b = results(q, forceLinear = true)
        assert(a.keySet == b.keySet,
          s"$q: key sets differ (explode=${a.size} linear=${b.size}; " +
          s"onlyExplode=${(a.keySet -- b.keySet).take(3)} onlyLinear=${(b.keySet -- a.keySet).take(3)})")
        a.foreach { case (k, v) =>
          assert(graft.promqltest.Runner.almostEqual(v, b(k), 1e-9),
            s"$q at $k: explode=$v linear=${b(k)}")
        }
      }
    } finally spark.stop()
  }
}

class GoMathSpec extends AnyFunSuite {
  test("div/mod follow IEEE not SQL") {
    assert(GoMath.div(1.0, 0.0).isPosInfinity)
    assert(GoMath.div(0.0, 0.0).isNaN)
    assert(GoMath.mod(5.0, 3.0) == 2.0)
    assert(GoMath.mod(-5.0, 3.0) == -2.0) // sign of dividend (Go math.Mod)
    assert(GoMath.mod(5.0, 0.0).isNaN)
  }

  test("UTC date parts ignore local zone") {
    // 2024-01-01T00:00:00Z is a Monday
    val t = 1704067200.0
    assert(GoMath.dateYear(t) == 2024.0)
    assert(GoMath.dateMonth(t) == 1.0)
    assert(GoMath.dateDayOfMonth(t) == 1.0)
    assert(GoMath.dateDayOfWeek(t) == 1.0) // Go Weekday: Sunday=0, Monday=1
    assert(GoMath.dateHour(t) == 0.0)
    assert(GoMath.dateDaysInMonth(t) == 31.0)
  }
}

/** Non-constant (per-step scalar expression) function parameters must agree
  * with their constant counterparts (ref: promql/engine.go:2095 — parameters
  * are full expressions evaluated at every output step). */
class NonConstParamSpec extends AnyFunSuite {

  test("scalar(metric) parameters match constant parameters") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val rows = (0 until 60).flatMap { i =>
        val t = i * 10000L
        Seq(
          (Map("__name__" -> "hb", "le" -> "0.1"), t, (i / 3).toDouble),
          (Map("__name__" -> "hb", "le" -> "1"), t, i.toDouble),
          (Map("__name__" -> "hb", "le" -> "+Inf"), t, (i * 2).toDouble),
          (Map("__name__" -> "m"), t, i.toDouble + math.sin(i) * 3),
          (Map("__name__" -> "p_phi"), t, 0.9),
          (Map("__name__" -> "p_horiz"), t, 600.0),
          (Map("__name__" -> "p_sf"), t, 0.1),
          (Map("__name__" -> "p_tf"), t, 0.3))
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(
          rows.map { case (l, t, v) => org.apache.spark.sql.Row(l, t, v, false, null, 0L) }, 4),
        Engine.samplesSchema)

      def run(q: String): Map[(Map[String, String], Long), Double] =
        Engine.rangeQuery(spark, df, q, 300000L, 590000L, 10000L) match {
          case VectorVal(r) =>
            r.select("labels", "t", "v").collect()
              .map(x => (x.getMap[String, String](0).toMap, x.getLong(1)) -> x.getDouble(2)).toMap
          case other => fail(s"unexpected $other")
        }

      val pairs = Seq(
        "histogram_quantile(scalar(p_phi), hb)" -> "histogram_quantile(0.9, hb)",
        "histogram_fraction(0, scalar(p_phi), hb)" -> "histogram_fraction(0, 0.9, hb)",
        "predict_linear(m[2m], scalar(p_horiz))" -> "predict_linear(m[2m], 600)",
        "double_exponential_smoothing(m[2m], scalar(p_sf), scalar(p_tf))" ->
          "double_exponential_smoothing(m[2m], 0.1, 0.3)",
        "quantile_over_time(scalar(p_phi), m[2m])" -> "quantile_over_time(0.9, m[2m])")
      pairs.foreach { case (dynQ, constQ) =>
        val a = run(dynQ); val b = run(constQ)
        assert(a.keySet == b.keySet, s"$dynQ: key sets differ (${a.size} vs ${b.size})")
        a.foreach { case (k, v) =>
          assert(graft.promqltest.Runner.almostEqual(v, b(k), 1e-9), s"$dynQ at $k: $v vs ${b(k)}")
        }
      }
    } finally spark.stop()
  }
}

/** A store-materialized `__sg` series signature (Engine.withSeriesSig) must
  * be plan-transparent: identical results to the computed-hash path on every
  * selector regime (instant as-of + explode, rate linear + explode, aggs,
  * extended selectors). */
class RegexPushdownSpec extends AnyFunSuite {

  test("literal skeleton extraction from selector regexes") {
    assert(Planner.literalAlternation("a|b|c").contains(Seq("a", "b", "c")))
    assert(Planner.literalAlternation("api_req_total").contains(Seq("api_req_total")))
    assert(Planner.literalAlternation("a|b.*").isEmpty)
    assert(Planner.literalAlternation("a|").isEmpty)
    assert(Planner.literalPrefix("api_.*") == "api_")
    assert(Planner.literalPrefix("api_[0-9]+") == "api_")
    assert(Planner.literalPrefix("ab?c") == "a")   // ? may erase the b
    assert(Planner.literalPrefix("ab*") == "a")
    assert(Planner.literalPrefix("a|b") == "")      // alternation invalidates
    assert(Planner.literalPrefix("\\d+") == "")
    assert(Planner.literalPrefix("abc") == "abc")
  }

  test("name-regex selectors push In/StartsWith to the parquet scan on a flat metric store") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import org.apache.spark.sql.functions.{col, element_at}
      val rows = (0 until 120).flatMap { i =>
        Seq("api_req", "api_err", "db_conns", "up").map { n =>
          (Map("__name__" -> n, "job" -> "j"), i * 10000L, i.toDouble)
        }
      }
      val plain = spark.createDataFrame(
        spark.sparkContext.parallelize(
          rows.map { case (l, t, v) => org.apache.spark.sql.Row(l, t, v, false, null, 0L) }, 4),
        Engine.samplesSchema)
      val dir = java.nio.file.Files.createTempDirectory("graft_rx").toString
      plain.withColumn("metric", element_at(col("labels"), "__name__"))
        .write.mode("overwrite").parquet(dir)
      val flat = spark.read.parquet(dir)

      def run(df: org.apache.spark.sql.DataFrame, q: String) =
        Engine.instantQuery(spark, df, q, 600000L) match {
          case VectorVal(r) => r
          case other => fail(s"unexpected $other")
        }

      // pushed-filter shapes reach the scan
      val pfx = run(flat, """{__name__=~"api_.*"}""")
      val pfxPlan = pfx.queryExecution.executedPlan.toString
      assert(pfxPlan.contains("StringStartsWith(metric,api_"),
        s"no StartsWith pushed filter in:\n${pfxPlan.take(2000)}")
      val alt = run(flat, """{__name__=~"api_req|up"}""")
      val altPlan = alt.queryExecution.executedPlan.toString
      assert(altPlan.contains("In(metric, [api_req,up])") || altPlan.contains("In(metric,[api_req,up])"),
        s"no In pushed filter in:\n${altPlan.take(2000)}")

      // and results match the map-only path exactly
      for (q <- Seq("""{__name__=~"api_.*"}""", """{__name__=~"api_req|up"}""",
                    """{__name__=~"(api|db).*s"}""", """{__name__!~"api_.*"}""")) {
        def collectSet(df: org.apache.spark.sql.DataFrame) =
          df.select("labels", "t", "v").collect()
            .map(r => (r.getMap[String, String](0).toMap, r.getLong(1), r.getDouble(2))).toSet
        assert(collectSet(run(flat, q)) == collectSet(run(plain, q)), s"mismatch for $q")
      }
    } finally spark.stop()
  }
}

class StoredSigSpec extends AnyFunSuite {

  test("stored __sg column yields identical results to computed signatures") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val rows = (0 until 720).flatMap { i =>
        val t = i * 10000L
        Seq(
          (Map("__name__" -> "m", "s" -> "a"), t, (i % 97).toDouble),
          (Map("__name__" -> "m", "s" -> "b"), t, i.toDouble)) ++
          (if (i % 7 == 0) Nil
           else Seq((Map("__name__" -> "m", "s" -> "c"), t, (i * 3 % 41).toDouble)))
      }
      val plain = spark.createDataFrame(
        spark.sparkContext.parallelize(
          rows.map { case (l, t, v) => org.apache.spark.sql.Row(l, t, v, false, null, 0L) }, 4),
        Engine.samplesSchema)
      val stored = Engine.withSeriesSig(plain)

      def run(df: org.apache.spark.sql.DataFrame, q: String) =
        Engine.rangeQuery(spark, df, q, 3600000L, 4790000L, 10000L) match {
          case VectorVal(r) =>
            r.select("labels", "t", "v").collect()
              .map(x => (x.getMap[String, String](0).toMap, x.getLong(1)) -> x.getDouble(2)).toMap
          case ScalarVal(r, _) =>
            r.select("t", "v").collect()
              .map(x => (Map.empty[String, String], x.getLong(0)) -> x.getDouble(1)).toMap
          case other => fail(s"unexpected $other")
        }

      for (q <- Seq("m", "rate(m[1m])", "rate(m[30m])", "sum(m)",
                    "sum_over_time(m[30m])", "changes(m[30m])",
                    "rate(m[5m] smoothed)", "m smoothed", "count(m offset 1m)",
                    "max_over_time(m[10m:1m])", "scalar(sum(rate(m[5m])))")) {
        val a = run(plain, q)
        val b = run(stored, q)
        assert(a.keySet == b.keySet, s"$q: key sets differ (${a.size} vs ${b.size})")
        a.foreach { case (k, v) =>
          assert(java.lang.Double.compare(v, b(k)) == 0 ||
            graft.promqltest.Runner.almostEqual(v, b(k), 1e-12),
            s"$q at $k: plain=$v stored=${b(k)}")
        }
      }
    } finally spark.stop()
  }
}

/** [[Engine.seriesSig]] sorts with `sort_array`; stored `__sg` columns
  * (the block sink's parquet) were written with `array_sort`, so the two
  * must hash every label map to the same value. */
class SeriesSigSpec extends AnyFunSuite {

  test("seriesSig equals xxhash64(array_sort(map_entries(labels))) bit for bit") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{array_sort, col, map_entries, xxhash64}
    import org.apache.spark.sql.types.{MapType, StringType, StructField, StructType}
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rnd = new scala.util.Random(11)
    val alphabet = "abzAZ09_:.-é日本\u00ff \"\\"
    def word(n: Int) = Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
    val maps: Seq[Map[String, String]] =
      Seq(Map.empty[String, String], Map("" -> ""), Map("__name__" -> "m"),
        Map("ключ" -> "значение", "名前" -> "値", "emoji" -> "\ud83d\ude00"),
        (0 until 200).map(i => s"k$i" -> s"v${199 - i}").toMap,
        Map("b" -> null, "a" -> "x"), Map("only" -> null)) ++
      (0 until 500).map(_ => Seq.fill(rnd.nextInt(12))(word(1 + rnd.nextInt(6)) ->
        (if (rnd.nextInt(10) == 0) null else word(rnd.nextInt(8)))).toMap)
    val schema = StructType(Seq(StructField("labels",
      MapType(StringType, StringType, valueContainsNull = true), nullable = false)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(maps.map(Row(_)), 3), schema)
    val pairs = df.select(xxhash64(array_sort(map_entries(col("labels")))),
      Engine.seriesSig(col("labels"))).collect()
    assert(pairs.length == maps.size)
    pairs.foreach(r => assert(r.getLong(0) == r.getLong(1), r))
    // the same for the ordering form, and through the __sg column a store persists
    assert(df.select(array_sort(map_entries(col("labels"))) === Engine.sortedLabels(col("labels")))
      .collect().forall(_.getBoolean(0)))
    val canon = maps.filterNot(_.values.exists(_ == null)).map(Row(_, 0L, 0.0, false, null, 0L))
    val stored = Engine.withSeriesSig(spark.createDataFrame(
      spark.sparkContext.parallelize(canon, 2), Engine.samplesSchema))
    assert(stored.filter(col("__sg") =!= xxhash64(array_sort(map_entries(col("labels")))))
      .count() == 0)
  }
}

/** Eval-order parity of the k-variant aggregations above 2²⁰ series: the
  * reference's limitk keeps a deterministic subset and limit_ratio's
  * hash-sampled complements partition exactly (engine.go aggregationK
  * AddRatioSample) — neither may depend on Spark's partitioning or row
  * order, including at group sizes past the argsort index-packing limit
  * that bit the rate family in round 7. */
class BigGroupKVariantsSpec extends AnyFunSuite {

  test("limitk/limit_ratio above 2^20 series: order-independent, complements exact") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._
    try {
      val n = (1 << 20) + 50 // one aggregation group larger than the pack limit
      // build distributed — 1M+ one-sample series at t=0, no driver array
      val base = spark.range(0, n, 1, 8).select(
        map(lit("__name__"), lit("m"), lit("i"), col("id").cast("string")).as("labels"),
        lit(0L).as("t"),
        col("id").cast("double").as("v"),
        lit(false).as("stale"),
        lit(null).cast(Engine.samplesSchema("h").dataType).as("h"),
        lit(0L).cast("long").as("stt"))
      // an adversarially re-ordered, re-partitioned replica: descending ids,
      // different partition count — results must be bit-identical
      val shuffled = base.orderBy(col("v").desc).repartition(13)

      def ids(df: org.apache.spark.sql.DataFrame, q: String): Set[Long] =
        Engine.rangeQuery(spark, df, q, 60000L, 60000L, 10000L) match {
          case VectorVal(r) =>
            r.select(element_at(col("labels"), "i").cast("long")).collect()
              .map(_.getLong(0)).toSet
          case other => fail(s"unexpected $other")
        }

      // limit_ratio complements partition the full series set exactly
      // (ref: AddRatioSample keeps frac < r, the negative complement ≥ 1+r)
      val keep = ids(base, "limit_ratio(0.35, m)")
      val drop = ids(base, "limit_ratio(-0.65, m)")
      assert(keep.nonEmpty && drop.nonEmpty)
      assert((keep & drop).isEmpty, s"overlap ${(keep & drop).size}")
      assert(keep.size + drop.size == n, s"${keep.size}+${drop.size} != $n")
      // sampling is hash-based, so the kept fraction concentrates near r
      assert(math.abs(keep.size.toDouble / n - 0.35) < 0.01, keep.size.toString)
      // and is independent of row order / partitioning
      assert(ids(shuffled, "limit_ratio(0.35, m)") == keep)

      // limitk: deterministic k-subset, identical across orderings
      val k1 = ids(base, "limitk(10, m)")
      assert(k1.size == 10)
      assert(ids(shuffled, "limitk(10, m)") == k1)
    } finally spark.stop()
  }
}

/** Guard for the 2²⁰ argsort index-packing limit: a series with >1,048,576
  * samples in one query window must take the exact boxed-sort fallback and
  * return the same answers as the packed path does for small series —
  * previously the indices silently collided and paired values with wrong
  * timestamps (round-7 verdict item 2). */
class BigSeriesFoldSpec extends AnyFunSuite {

  test("argsortByWt: boxed fallback agrees with packed path semantics") {
    // deterministic shuffle of n > 2^20 timestamps
    val n = (1 << 20) + 7
    val wts = new Array[Long](n)
    var i = 0
    var x = 12345L
    while (i < n) {
      x = x * 6364136223846793005L + 1442695040888963407L
      wts(i) = 1700000000000L + (((x >>> 16) % n + n) % n) * 10L
      i += 1
    }
    val ord = RangeUdfs.argsortByWt(wts)
    assert(ord.length == n)
    // sorted, stable-by-index on ties, and a real permutation
    val seen = new Array[Boolean](n)
    i = 1
    while (i < n) {
      val a = ord(i - 1); val b = ord(i)
      assert(wts(a) < wts(b) || (wts(a) == wts(b) && a < b),
        s"order violated at $i")
      i += 1
    }
    ord.foreach { j => assert(!seen(j)); seen(j) = true }
  }

  test("windowAggFold sum/avg match explicit fold above 2^20 samples") {
    val n = (1 << 20) + 100
    val stepMs = 60000L
    val startMs = 1700000000000L + n.toLong // after all samples
    // reversed-order input so the argsort actually matters
    val wts = new Array[Long](n); val vs = new Array[Double](n)
    var i = 0
    while (i < n) {
      wts(i) = 1700000000000L + (n - 1 - i).toLong
      vs(i) = ((n - 1 - i) % 97).toDouble
      i += 1
    }
    val rangeMs = n.toLong + 10 // window covers every sample
    val out = RangeUdfs.windowAggFold("sum", startMs, stepMs, 1, rangeMs,
      0.0, 0.0, wts, vs)
    assert(out.size == 1)
    val row = out.get(0).asInstanceOf[
      org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
    val expected = (0 until n).map(k => (k % 97).toDouble).sum
    assert(math.abs(row.getDouble(1) - expected) <= 1e-6 * expected,
      s"got ${row.getDouble(1)} want $expected")

    // deriv depends on correct (wt -> value) PAIRING, not just the value
    // multiset: v = 2.0*(wt - base) per ms => slope 2000.0 per second; a
    // corrupted argsort permutes values against timestamps and the OLS
    // slope of a permuted linear series is provably != 2000.
    val vsLin = new Array[Double](n)
    i = 0
    while (i < n) { vsLin(i) = 2.0 * (wts(i) - 1700000000000L); i += 1 }
    val outD = RangeUdfs.windowAggFold("deriv", startMs, stepMs, 1, rangeMs,
      0.0, 0.0, wts, vsLin)
    val dRow = outD.get(0).asInstanceOf[
      org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
    assert(math.abs(dRow.getDouble(1) - 2000.0) < 1e-6,
      s"deriv got ${dRow.getDouble(1)} want 2000.0")
  }

  test("SWAG hist over-time fold matches the naive per-window refold") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    // irregular cadence with gaps; magnitude-interleaved counts exercise the
    // Kahan compensation surviving the two-block decomposition; a custom-
    // bounds histogram poisons the windows that contain it (incompatible
    // with the exponential layout -> those windows must DROP in both folds)
    val n = 700
    val wts = new Array[Long](n); val hs = new Array[FHist](n)
    var x = 987654321L
    def rnd(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x >>> 33 }
    var t = 0L
    var i = 0
    while (i < n) {
      t += 5000L + (rnd() % 9000L) // 5-14s cadence
      wts(i) = t
      if (i == 250 || i == 251) // custom-bounds island
        hs(i) = FHist(FHist.CustomSchema, 0.0, 0.0, 3.0, 4.5,
          Seq(0, 1), Seq(1.0, 2.0), Nil, Nil, Seq(1.0, 2.0), 0)
      else {
        val big = if (i % 3 == 0) 1e15 else 1.0
        hs(i) = FHist(0, 0.001, (rnd() % 5).toDouble, big + (rnd() % 7).toDouble,
          big * 0.5, Seq((rnd() % 4).toInt, 5), Seq(big, 2.0),
          Seq((rnd() % 3).toInt), Seq(1.0), Nil, 0)
      }
      i += 1
    }
    val startMs = wts(0); val stepMs = 10000L; val rangeMs = 120000L
    val numSteps = ((wts(n - 1) - wts(0)) / stepMs).toInt + 3
    def near(a: Double, b: Double): Boolean =
      (a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-9 * (math.abs(a) max math.abs(b) max 1.0)
    def same(a: FHist, b: FHist): Boolean =
      a.schema == b.schema && near(a.cnt, b.cnt) && near(a.sum, b.sum) &&
        near(a.zc, b.zc) && a.cv == b.cv && {
          val ab = a.allBuckets; val bb = b.allBuckets
          ab.size == bb.size && ab.zip(bb).forall { case ((l1, u1, c1), (l2, u2, c2)) =>
            l1 == l2 && u1 == u2 && near(c1, c2) }
        }
    for (isAvg <- Seq(false, true)) {
      val got = HistUdfs.histOverTimeFoldSteps(isAvg, startMs, stepMs, numSteps,
        rangeMs, wts, hs)
      // naive: full refold of every window (the pre-SWAG implementation)
      val want = scala.collection.mutable.LinkedHashMap[Long, FHist]()
      var k = 0
      while (k < numSteps) {
        val tt = startMs + k.toLong * stepMs
        val w = (0 until n).filter(j => wts(j) > tt - rangeMs && wts(j) <= tt).map(hs)
        if (w.nonEmpty) {
          try {
            val h = (if (isAvg) FHist.avgSeq(w) else FHist.sumSeq(w)).compact
            want(tt) = h
          } catch { case _: Exception => () } // incompatible mix: window drops
        }
        k += 1
      }
      val gotMap = (0 until got.size).map { j =>
        val r = got.get(j).asInstanceOf[GenericInternalRow]
        r.getLong(0) -> FHist.fromInternal(
          r.get(1, FHist.schemaType).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])
      }.toMap
      assert(gotMap.keySet == want.keySet,
        s"isAvg=$isAvg: step sets differ (missing=${(want.keySet -- gotMap.keySet).take(3)} " +
        s"extra=${(gotMap.keySet -- want.keySet).take(3)})")
      want.foreach { case (tt, h) =>
        assert(same(gotMap(tt), h), s"isAvg=$isAvg at $tt:\n  swag=${gotMap(tt)}\n  naive=$h")
      }
    }
  }

  test("mixed float+hist fold: per-window kind classification") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    // timeline: floats [0..29], hists [30..59], mixed interleave [60..89]
    // at 10s cadence; 60s window => float-pure, hist-pure and mixed windows
    val n = 90
    val wts = Array.tabulate(n)(i => i * 10000L)
    val vs = new Array[Double](n); val hs = new Array[FHist](n)
    var i = 0
    while (i < n) {
      val isHist = i >= 30 && (i < 60 || i % 2 == 0)
      if (isHist) { vs(i) = Double.NaN
        hs(i) = FHist(0, 0.001, 1.0, i + 2.0, i * 1.5, Seq(0, 1), Seq(1.0, i + 1.0), Nil, Nil, Nil, 0) }
      else { vs(i) = i.toDouble; hs(i) = null }
      i += 1
    }
    val out = HistUdfs.mixedOverTimeFoldSteps(false, 0L, 10000L, n, 60000L, wts, vs, hs)
    val rows = (0 until out.size).map(_.asInstanceOf[Int]).map(j =>
      out.get(j).asInstanceOf[GenericInternalRow])
    val byT = rows.map(r => r.getLong(0) -> r).toMap
    // float-pure window ending at t=290s: sum of 24..29 * 10s steps -> indices 24..29
    val f = byT(290000L)
    assert(f.isNullAt(2) && near9(f.getDouble(1), (24 to 29).map(_.toDouble).sum))
    // hist-pure window at t=590s: indices 54..59 all hist
    val h = byT(590000L)
    assert(!h.isNullAt(2))
    val hh = FHist.fromInternal(h.get(2, FHist.schemaType)
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])
    assert(near9(hh.cnt, (54 to 59).map(_ + 2.0).sum))
    // mixed window at t=890s (indices 84..89 alternate kinds): DROPPED
    assert(!byT.contains(890000L))
  }

  private def near9(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * (math.abs(a) max math.abs(b) max 1.0)
}
