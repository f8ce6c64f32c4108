package perfbench

import graft.web.Json
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import scala.collection.concurrent.TrieMap

/** Numbers for the run's raw-results file (strings, objects and arrays use
  * the program's `graft.web.Json`). */
object J {
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def nums(vs: Iterable[Double]): String = Json.arr(vs.map(num))
  def numMap(m: Iterable[(String, Double)]): String = Json.obj(m.toSeq.map { case (k, v) => k -> num(v) }: _*)
}

/** One timed span at a layer boundary. Spans of one operation share `rid`. */
final case class Span(rid: String, layer: String, name: String, startNs: Long, endNs: Long,
    parent: String = "") {
  def seconds: Double = (endNs - startNs) / 1e9
  def json: String = Json.obj("rid" -> Json.str(rid), "layer" -> Json.str(layer), "name" -> Json.str(name),
    "start_ns" -> startNs.toString, "end_ns" -> endNs.toString, "parent" -> Json.str(parent))
}

/** Spans kept in memory and written out when the run ends. */
final class Spans {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  def add(s: Span): Span = { buf.add(s); s }
  def time[T](rid: String, layer: String, name: String, parent: String = "")(body: => T): (T, Span) = {
    val t0 = System.nanoTime()
    val r = body
    (r, add(Span(rid, layer, name, t0, System.nanoTime(), parent)))
  }
  def all: Seq[Span] = { import scala.jdk.CollectionConverters._; buf.asScala.toSeq }
}

/** Spark work counted per job group (`spark.jobGroup.id`; the program's
  * QueryGate names its groups `graft-query-N`, the benchmark names its own). */
final class SparkTrace extends SparkListener {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
    var jobMs = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var waitMs = 0L
    var inputRows = 0L; var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    def add(o: Acc): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
      jobMs += o.jobMs; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; waitMs += o.waitMs
      inputRows += o.inputRows; shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
      spill += o.spill
    }
  }

  val byGroup = TrieMap.empty[String, Acc]
  val jobs = TrieMap.empty[Int, Job]
  private val stageGroup = TrieMap.empty[Int, String]
  private val stageSubmitMs = TrieMap.empty[Int, Long]

  private def acc(g: String): Acc = byGroup.getOrElseUpdate(g, new Acc)
  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("none")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    val desc = Option(e.properties).flatMap(x => Option(x.getProperty("spark.job.description")))
      .getOrElse("")
    jobs(e.jobId) = new Job(g, desc, e.time)
    acc(g).jobs += 1
    e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.get(e.jobId).foreach { j =>
    j.endMs = e.time
    acc(j.group).jobMs += e.time - j.startMs
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = groupOf(e.properties)
    stageGroup(e.stageInfo.stageId) = g
    stageSubmitMs(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    acc(g).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageGroup.getOrElse(e.stageId, "none"))
    a.tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) a.failedTasks += 1
    stageSubmitMs.get(e.stageId).foreach(s => a.waitMs += math.max(0L, e.taskInfo.launchTime - s))
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
      a.inputRows += m.inputMetrics.recordsRead
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def total(groups: String => Boolean): Acc = {
    val t = new Acc
    byGroup.foreach { case (g, a) => if (groups(g)) t.add(a) }
    t
  }

  /** every job as a span of the `spark` layer, its group as the request id */
  def jobSpans: Seq[Span] = {
    val nsPerEpochMs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    jobs.values.filter(_.endMs >= 0).map(j => Span(j.group, "spark", j.description,
      j.startMs * 1000000L + nsPerEpochMs, j.endMs * 1000000L + nsPerEpochMs)).toSeq
  }
}

final class Job(val group: String, val description: String, val startMs: Long) {
  var endMs: Long = -1L
}

object Plans {
  /** Exchange operators of an executed plan, looking through adaptive
    * execution's wrappers and query stages. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case other => other.children.map(exchanges).sum +
      other.subqueries.map(exchanges).sum
  }

  /** phase → seconds from a QueryExecution's tracker */
  def phases(qe: org.apache.spark.sql.execution.QueryExecution): Map[String, Double] =
    qe.tracker.phases.map { case (k, s) => k -> (s.endTimeMs - s.startTimeMs) / 1000.0 }.toMap
}
