package graft.bench

/** one-off per-query timing split for gate queries: DataFrame BUILD time
  * (operator-fn call, incl. any eager collects inside iterative trainers) vs
  * the count() action, plus Catalyst phase timings of the counted plan.
  *
  * Usage: runMain graft.bench.LpProbe <queryName> [reps]
  * (SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in graft.Bench) */
object LpProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession()
    val fn = graft.SparkEntry.queries(name)
    (0 until reps).foreach { i =>
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      val n = df.count()
      val t2 = System.nanoTime()
      val phases = df.queryExecution.tracker.phases.toSeq.sortBy(_._2.startTimeMs)
        .map { case (k, s) => f"$k=${(s.endTimeMs - s.startTimeMs) / 1000.0}%.2f" }
      System.err.println(f"[$i] build=${(t1 - t0) / 1e9}%6.2fs count=${(t2 - t1) / 1e9}%6.2fs rows=$n%8d  ${phases.mkString(" ")}")
      // final (AQE-resolved) plan of the last rep: ReusedExchange visibility.
      // collect() executes df's OWN QueryExecution (count() builds a separate
      // one), so the subsequent explain prints the final AQE plan.
      if (i == reps - 1 && sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")) {
        df.collect()
        df.explain("formatted")
      }
    }
    spark.stop()
  }
}
