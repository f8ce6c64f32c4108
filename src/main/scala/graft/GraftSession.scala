package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one way a `main` builds its SparkSession: a local master over
  * [[cpus]] threads, as many shuffle partitions, UTC session time, no UI,
  * and the engine's [[graft.promql.Engine.tunedConf]]. */
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
      .setAll(graft.promql.Engine.tunedConf)

  def apply(master: String = localMaster, level: String = logLevel): SparkSession = {
    val spark = SparkSession.builder().config(conf(master)).getOrCreate()
    spark.sparkContext.setLogLevel(level)
    spark
  }
}
