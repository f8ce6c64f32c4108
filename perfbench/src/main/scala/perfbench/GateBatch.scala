package perfbench

import graft.web.Json
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.util.Random

/** gate-batch: ten of the `SparkEntry.queries` gate (q, pq and lp families) over
  * parquet tables generated from the seed, read from parquet by every
  * query. Each query is timed from DataFrame build to a `noop` write of
  * every column, in a seed-shuffled order. An untimed first pass writes
  * every output to parquet for run.py's DuckDB oracle comparison. */
final class GateBatch(a: Args) extends Workload {
  // three or four cheap to mid-cost queries of each family, among them the
  // join q03 and the eager trainer lp38; more do not fit the run budget
  private val names = Set("q01_pricing_summary", "q03_revenue_by_nation", "q10_events_hourly",
    "pq04_count_over_time", "pq18_arith_filter", "pq21_clamp",
    "lp08_quality", "lp17_sample", "lp36_normalize", "lp38_quality_classifier")
  private val queries = graft.SparkEntry.queries.toSeq.sortBy(_._1).filter(q => names(q._1))
  private val fams = Seq("q", "pq", "lp")
  private def fam(n: String) = if (n.startsWith("pq")) "pq" else if (n.startsWith("lp")) "lp" else "q"
  // a fixed mix: whole passes in a seed-shuffled order, one per 7 s of
  // --seconds (a warm pass takes 7-11 s on 4 cores), at least three, so
  // that run.py can take each query at its best (the JVM still compiles
  // through the first passes, and interference only ever adds time)
  private val passes = math.max(3, a.seconds / 7)
  private var phaseNo = 0
  @volatile private var lastCommand: Option[QueryExecution] = None
  private val commands = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = lastCommand = Some(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  override def env: Seq[(String, String)] = Seq("queries" -> queries.size.toString)

  def setup(spark: SparkSession): Unit = ()
  def prep(spark: SparkSession): Unit = ()
  def teardown(): Unit = ()

  /** the checked pass: every output written to parquet, untimed */
  override def warmup(spark: SparkSession): Seq[String] = {
    val out = s"${a.out.stripSuffix(".json")}.gate"
    Files.createDirectories(Paths.get(out))
    Files.write(Paths.get(out, "oracle_sql.json"),
      Json.obj(graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
        .collect { case (k, v) if queries.exists(_._1 == k) => k -> Json.str(v) }: _*)
        .getBytes(UTF_8))
    queries.flatMap { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, a.data).write.mode("overwrite").parquet(s"$out/$name")
        Main.progress(f"${Main.seconds(t0) * 1000}%8.1f ms  $name (checked pass)")
        None
      }
      catch { case e: Exception => Some(s"$name: ${e.toString.take(300)}") }
    }
  }

  def phase(spark: SparkSession, tracing: Option[Tracing]): Phase = {
    phaseNo += 1
    val sc = spark.sparkContext
    val rnd = new Random(a.seed * 6151 + phaseNo)
    tracing.foreach(_ => spark.listenerManager.register(commands))
    val ops = Seq.newBuilder[Op]
    val failures = Seq.newBuilder[String]
    val famS = collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val t0 = System.nanoTime()
    val segments = Seq.newBuilder[Seg]
    (0 until passes).foreach { pass =>
      rnd.shuffle(queries).foreach { case (name, fn) =>
        val f = fam(name)
        val rid = s"p$phaseNo-$pass-$name"
        val cpu0 = Main.cpuNow()
        val q0 = System.nanoTime()
        try {
          tracing.foreach(_ => sc.setJobGroup(s"gate-build-$f", name, interruptOnCancel = false))
          val df = fn(spark, a.data)
          val q1 = System.nanoTime()
          tracing.foreach(_ => sc.setJobGroup(s"gate-exec-$f", name, interruptOnCancel = false))
          lastCommand = None
          df.write.format("noop").mode("overwrite").save()
          val q2 = System.nanoTime()
          val (cpu, jit) = Main.cpuSince(cpu0)
          segments += Seg(name, (q2 - q0) / 1e9, cpu, 1, 1, jit)
          sc.clearJobGroup()
          ops += Op(q0, q0, q2, ok = true)
          Main.progress(f"${(q2 - q0) / 1e6}%8.1f ms  $name")
          famS(f) += (q2 - q0) / 1e9
          tracing.foreach { tr =>
            tr.spans.add(Span(rid, "gate", "build", q0, q1, rid))
            tr.spans.add(Span(rid, "gate", "write", q1, q2, rid))
            famS(s"gate.$f.build_s") += (q1 - q0) / 1e9
            val catalyst = Plans.phases(df.queryExecution).values.sum +
              lastCommand.map(qe => Plans.phases(qe).values.sum).getOrElse(0.0)
            famS(s"gate.$f.catalyst_s") += catalyst
          }
        } catch {
          case e: Exception =>
            val q2 = System.nanoTime()
            val (cpu, jit) = Main.cpuSince(cpu0)
            segments += Seg(name, (q2 - q0) / 1e9, cpu, 1, 0, jit)
            sc.clearJobGroup()
            failures += s"$name: ${e.toString.take(300)}"
            ops += Op(q0, q0, q2, ok = false)
        }
      }
    }
    val wall = Main.seconds(t0)
    tracing.foreach(_ => spark.listenerManager.unregister(commands))
    val perPass = famS.toMap.map { case (k, v) => k -> v / passes }
    Phase(ops.result(), Nil, t0, wall, segments.result(), perPass ++ fams.map(f => s"gate_${f}_s" -> perPass.getOrElse(f, 0.0)) +
      ("passes" -> passes.toDouble), failures.result())
  }

  def layers(spark: SparkSession, traced: Phase, tr: Tracing): Map[String, Double] = {
    PerfbenchBridge.drainListeners(spark.sparkContext)
    val passes = traced.figures("passes")
    val n = math.max(1, traced.queries.size).toDouble
    val all = tr.spark.total(_.startsWith("gate-"))
    val perFam = fams.flatMap { f =>
      val build = tr.spark.total(_ == s"gate-build-$f")
      val exec = tr.spark.total(_ == s"gate-exec-$f")
      val both = tr.spark.total(g => g == s"gate-build-$f" || g == s"gate-exec-$f")
      Seq(
        s"gate.$f.build_s" -> traced.figures.getOrElse(s"gate.$f.build_s", 0.0),
        s"gate.$f.eager_jobs" -> build.jobs / passes,
        s"gate.$f.catalyst_s" -> traced.figures.getOrElse(s"gate.$f.catalyst_s", 0.0),
        s"gate.$f.exec_s" -> exec.jobMs / 1000.0 / passes,
        s"gate.$f.task_cpu_s" -> both.cpuNs / 1e9 / passes,
        s"gate.$f.shuffle_bytes" -> (both.shuffleRead + both.shuffleWrite) / passes,
        s"gate.$f.spill_bytes" -> both.spill / passes,
        s"gate.$f.gc_s" -> both.gcMs / 1000.0 / passes)
    }
    Layers.spark(all, n, traced.wallS, a.cpus) ++ perFam
  }

  def check(spark: SparkSession): Seq[String] = Nil
}
