package graft.bench

/** Per-round soak over the FULL reference benchmark expansion — every
  * rangeQueryCases() template at one/hundred scale and 1/100/1000/10000
  * steps (ref: promql/bench_test.go:159-334) — recorded as a side artifact
  * (`PROMBENCH_FULL.json`) so step-shape regressions outside the headline
  * subset are visible round-over-round. One untimed warm pass per case
  * (Janino codegen + C2), then best-of-2 timed, same protocol as
  * [[graft.Bench]].
  */
object PromBenchFull {
  def main(args: Array[String]): Unit = {
    def loadavg: String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(",")
      catch { case _: Exception => "" }
    val loadBefore = loadavg
    val spark = graft.GraftSession()
    val data = PromBench.dataset(spark,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", "/tmp/graft_bench")).cache()
    data.count()
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    val cases = PromBench.cases(full = true)
      .filter(c => only.forall(_.findFirstIn(c.expr).isDefined))
    def r3(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val results = cases.map { c =>
      val key = s"${c.expr} steps=${c.steps}"
      val sec =
        try {
          PromBench.run(spark, data, c) // warm: codegen compile
          (1 to 2).map(_ => PromBench.run(spark, data, c)._1).min
        } catch { case e: Throwable =>
          System.err.println(s"[prombench-full] FAILED $key: ${e.getMessage}")
          -1.0
        }
      System.err.println(f"== ${r3(sec)}%8s  $key")
      key -> sec
    }
    val total = results.map(_._2).filter(_ >= 0).sum
    val failed = results.count(_._2 < 0)
    val qs = results.map { case (k, v) =>
      "\"" + k.replace("\\", "\\\\").replace("\"", "\\\"") + "\":" + r3(v)
    }.mkString("{", ",", "}")
    val json = s"""{"metric":"prombench_full","value":${r3(total)},"unit":"sec",""" +
      s""""cases":${results.size},"failed":$failed,"queries":$qs,""" +
      s""""load_before":"$loadBefore","load_after":"$loadavg"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PROMBENCH_OUT", "PROMBENCH_FULL.json")),
      (json + "\n").getBytes("UTF-8"))
    println(s"""{"metric":"prombench_full","value":${r3(total)},"cases":${results.size},"failed":$failed}""")
    spark.stop()
  }
}
