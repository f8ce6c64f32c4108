package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** The program's query log (`HttpApi.queryLogger`), one line per query:
  * queue, evaluation and total seconds. */
final class QueryLog(lines: Seq[(Double, Double, Double)]) {
  private def mean(f: ((Double, Double, Double)) => Double) =
    if (lines.isEmpty) 0.0 else lines.map(f).sum / lines.size
  def meanQueue: Double = mean(_._1)
  def meanEval: Double = mean(_._2)
  def meanTotal: Double = mean(_._3)
}

object QueryLog {
  def read(path: String): QueryLog = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return new QueryLog(Nil)
    val rows = new String(Files.readAllBytes(p), UTF_8).linesIterator.filter(_.nonEmpty).map { l =>
      val m = graft.web.JsonLite.parse(l).asInstanceOf[Map[String, Any]]
      val tm = m("timings").asInstanceOf[Map[String, Any]]
      def d(k: String): Double = tm(k) match { case d: Double => d; case s => s.toString.toDouble }
      (d("execQueueTime"), d("evalTotalTime"), d("execTotalTime"))
    }.toList
    new QueryLog(rows)
  }
}

object Layers {
  /** Spark's figures for the work one group of jobs did, per operation
    * (`n` operations over `wallS` seconds on `cpus` task slots). */
  def spark(acc: SparkTrace#Acc, n: Double, wallS: Double, cpus: Int): Map[String, Double] = Map(
    "spark.jobs" -> acc.jobs / n,
    "spark.stages" -> acc.stages / n,
    "spark.tasks" -> acc.tasks / n,
    "spark.exec_s" -> acc.jobMs / 1000.0 / n,
    "spark.task_run_s" -> acc.runMs / 1000.0 / n,
    "spark.task_cpu_s" -> acc.cpuNs / 1e9 / n,
    "spark.task_wait_s" -> acc.waitMs / 1000.0 / n,
    "spark.cpu_util" -> acc.cpuNs / 1e9 / math.max(1e-9, wallS * cpus),
    "spark.input_rows" -> acc.inputRows / n,
    "spark.shuffle_read_bytes" -> acc.shuffleRead / n,
    "spark.shuffle_write_bytes" -> acc.shuffleWrite / n,
    "spark.spill_bytes" -> acc.spill / n,
    "spark.gc_s" -> acc.gcMs / 1000.0 / n,
    "spark.failed_tasks" -> acc.failedTasks.toDouble)
}
