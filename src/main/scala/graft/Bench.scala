package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def loadavg: Array[Double] =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(" ").take(3).map(_.toDouble)
      catch { case _: Exception => Array(0.0, 0.0, 0.0) }
    // Host-state settle: a bench captured while the host is still draining
    // the previous build/test runs measures contention, not the code (see
    // SCALE.md bench-host protocol). Wait — bounded — until the 1-min load
    // drops under a threshold before timing anything. Both loads (at JVM
    // entry and post-settle) go into the JSON so a contaminated capture is
    // self-describing. SPARK_GRAFT_SETTLE=0 disables; _SEC/_LOAD tune the
    // bound (defaults 120 s / 2.0).
    val loadStart = loadavg.mkString(",")
    if (!sys.env.get("SPARK_GRAFT_SETTLE").contains("0")) {
      val maxWaitSec = sys.env.get("SPARK_GRAFT_SETTLE_SEC")
        .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(120)
      val target = sys.env.get("SPARK_GRAFT_SETTLE_LOAD")
        .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(2.0)
      val deadline = System.nanoTime() + maxWaitSec * 1000000000L
      while (loadavg(0) >= target && System.nanoTime() < deadline)
        Thread.sleep(5000L)
    }
    val loadBefore = loadavg.mkString(",")
    val spark = GraftSession()
    val prof = if (sys.env.get("SPARK_GRAFT_PROF").contains("1")) {
      val p = new graft.bench.PromBench.StageProf
      spark.sparkContext.addSparkListener(p); Some(p)
    } else None
    // optional regex filter for perf iteration, e.g. SPARK_GRAFT_ONLY='lp.*'
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    def keep(name: String): Boolean = only.forall(_.findFirstIn(name).isDefined)
    // Steady-state timing: run each query once untimed (JVM warmup + the
    // per-plan Janino codegen compile, 1-4s per unique plan), then time the
    // second run. The reference's Go benchmarks loop b.N times and report
    // per-iteration steady state — this is the comparable number; cold
    // single-shot timing would mostly measure the JIT, not the plan.
    try {
      Seq("events", "documents", "embeddings", "lineitem")
        .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
    } catch { case _: Throwable => () }
    // best-of-2 timed runs after the warm pass: a single timed run is hostage
    // to whatever GC/compaction the previous query left behind; the minimum is
    // the steady-state number the Go harness's per-iteration average converges to
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    // a query that throws fails the run and names itself: timing it would
    // record a failure as a fast run
    def orFail[T](name: String)(body: => T): T =
      try body catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: $e")
        e.printStackTrace()
        spark.stop()
        sys.exit(1)
      }
    val results = SparkEntry.queries.filter(q => keep(q._1)).map { case (name, fn) =>
      orFail(name) {
        fn(spark, sfDir).count() // warm
        val secs = (1 to 2).map { i =>
          prof.foreach(_.stages.clear())
          val s = timed { fn(spark, sfDir).count() }
          if (i == 2) prof.foreach { p => System.err.println(s"== $name $s"); p.report() }
          s
        }
        name -> secs.min
      }
    }
    // PromQL engine headline set over the bench_test.go replica dataset
    // (hundred scale, 1000 steps @10s) — the BASELINE anchor
    val pbCases = graft.bench.PromBench.headline.filter(c => keep(s"pb:${c.expr}"))
    val pb: Map[String, Double] =
      if (pbCases.isEmpty) Map.empty
      else {
        val data = orFail("pb dataset") {
          val d = graft.bench.PromBench.dataset(spark,
            sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", "/tmp/graft_bench")).cache()
          d.count()
          d
        }
        pbCases.map { c =>
          val name = s"pb:${c.expr}"
          orFail(name) {
            // two untimed warm passes: the plan's Janino codegen compiles on
            // the first, and the series-at-once UDF loops need ~2k invocations
            // before C2 takes them (the Go reference harness's b.N loop
            // likewise reports post-warmup per-iteration steady state)
            graft.bench.PromBench.run(spark, data, c)
            graft.bench.PromBench.run(spark, data, c)
            name -> (1 to 2).map(_ => graft.bench.PromBench.run(spark, data, c)._1).min
          }
        }.toMap
      }
    val all = results ++ pb
    // millisecond-rounded values keep the ONE output line well inside the
    // driver's captured-stdout tail window (full-precision doubles once
    // pushed the line start out of the window and the totals parsed as null)
    def r3(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    // per-FAMILY subtotals (q / pq / lp / pb), ADDED to the queries map in
    // both outputs: the driver's stdout tail window is 2000 chars (measured
    // across BENCH_r{5..14} artifacts) and the full 90-query map is ~2.5 KB,
    // so the full map can never survive the tail capture (that is exactly
    // the r5-7 parsed:null failure) — four stable family entries give the
    // driver's PERF comparison and scaling block real per-family data while
    // keeping the line ~330 chars. Family membership is a stable prefix
    // rule, so the keys exist in every round (nothing is ever dropped).
    def famOf(n: String): String =
      if (n.startsWith("pb:")) "pb" else if (n.startsWith("pq")) "pq"
      else if (n.startsWith("lp")) "lp" else "q"
    val fams: Seq[(String, Double)] = all.toSeq.groupBy(t => famOf(t._1))
      .toSeq.sortBy(_._1).map { case (f, xs) => s"fam_$f" -> xs.map(_._2).sum }
    def toJson(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => s"\"" + k.replace("\"", "'") + "\":" + r3(v) }
        .mkString("{", ",", "}")
    val qs = toJson(all.toSeq ++ fams)
    val total = if (all.nonEmpty) all.values.sum else 0.0
    val loadAfter = loadavg.mkString(",")
    val fileJson = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,""" +
      s""""sf":"$sfDir","load_start":"$loadStart","load_before":"$loadBefore","load_after":"$loadAfter"}"""
    // the artifact of record: a FILE the driver (or a human) can read without
    // scraping a truncated stdout tail (round-5/6 verdict housekeeping)
    try java.nio.file.Files.write(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")),
      (fileJson + "\n").getBytes("UTF-8"))
    catch { case e: Exception => System.err.println(s"[bench] file write failed: $e") }
    // stdout line carries totals + family subtotals (fits the tail window
    // with ~1.6 KB to spare); the full per-query map lives in the file above
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":${toJson(fams)},""" +
      s""""sf":"$sfDir","load_start":"$loadStart","load_before":"$loadBefore","load_after":"$loadAfter"}""")
    spark.stop()
  }
}
