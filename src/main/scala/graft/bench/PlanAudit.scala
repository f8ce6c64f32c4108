package graft.bench

/** Print the formatted physical plan of gate queries — the review loop for
  * "is this the plan you'd want at 100 TB" (exchange count, pushdown,
  * codegen spans, WindowGroupLimit rewrites).
  *
  * Usage: runMain graft.bench.PlanAudit [queryName ...]
  * (SPARK_GRAFT_SF_DIR to point at a scale dir; defaults to sf0.01) */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession()
    val names = if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"===== $n =====")
      graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
