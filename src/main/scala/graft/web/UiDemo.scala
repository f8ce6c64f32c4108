package graft.web

import graft.promql.Engine
import org.apache.spark.sql.Row

/** Dev harness for the built-in UI: boots an [[HttpApi]] on a fixed port
  * with a few synthetic series so /graph, /targets, /rules and /status can
  * be driven in a browser without a full scrape stack.
  * `sbt "runMain graft.web.UiDemo 9090"` */
object UiDemo {
  def main(args: Array[String]): Unit = {
    val port = if (args.nonEmpty) args(0).toInt else 9090
    val spark = graft.GraftSession()
    val now = System.currentTimeMillis()
    val rows = for {
      (m, amp) <- Seq(("http_requests_total", 100.0), ("node_load1", 2.0),
        ("process_cpu_seconds_total", 10.0))
      inst <- Seq("a:9100", "b:9100", "c:9100")
      k <- 0 until 360
    } yield {
      val t = now - (360 - k) * 10000L
      val v = amp * (1.2 + math.sin(k / 20.0 + inst.hashCode % 7)) * (1 + k / 360.0)
      Row(Map("__name__" -> m, "instance" -> inst, "job" -> "demo"), t, v,
        false, null, 0L)
    }
    val store = new SampleStore(spark, spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), Engine.samplesSchema))
    val api = new HttpApi(spark, store, port, () => System.currentTimeMillis())
    api.start()
    System.err.println(s"[ui-demo] http://127.0.0.1:${api.boundPort}/graph")
    Thread.sleep(Long.MaxValue)
  }
}
