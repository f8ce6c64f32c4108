package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one way a `main` builds its SparkSession: a local master over
  * [[cpus]] threads, as many shuffle partitions, UTC session time, no UI,
  * a status store that keeps one finished job, stage, task and SQL
  * execution (nothing reads its history), and the engine's
  * [[graft.promql.Engine.tunedConf]]. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` when set, else the machine's core count */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  val localMaster: String = s"local[$cpus]"

  val logLevel: String = "WARN"

  /** the settings every session gets; `master` is a deployment's own
    * master string (e.g. the server's `--spark.master`) */
  def conf(master: String = localMaster): SparkConf =
    new SparkConf().setMaster(master).setAppName("graft")
      .set("spark.sql.shuffle.partitions", cpus.toString)
      .set("spark.sql.session.timeZone", "UTC")
      .set("spark.ui.enabled", "false")
      // the status listener keeps this history with the UI off
      .set("spark.ui.retainedJobs", "1")
      .set("spark.ui.retainedStages", "1")
      .set("spark.ui.retainedTasks", "1")
      .set("spark.sql.ui.retainedExecutions", "1")
      .setAll(graft.promql.Engine.tunedConf)

  def apply(master: String = localMaster, level: String = logLevel): SparkSession = {
    val spark = SparkSession.builder().config(conf(master)).getOrCreate()
    spark.sparkContext.setLogLevel(level)
    spark
  }
}
