package perfbench

import graft.web.Json
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

/** Command-line settings of one run (see run.py, which supplies them). */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    data: String, out: String, cpus: Int, localDir: String, rate: Double) {
  def spansPath: String = out.stripSuffix(".json") + ".spans.jsonl"
  def queryLogPath: String = out.stripSuffix(".json") + ".querylog.jsonl"
}

/** One operation of a timed phase: when it was due (a closed loop sends
  * when due), sent and done, in System.nanoTime, and whether it succeeded. */
final case class Op(dueNs: Long, sentNs: Long, doneNs: Long, ok: Boolean)

/** One timed stretch of a phase, named by the work it repeats (a gate
  * query, the whole remote-write schedule): wall seconds, CPU seconds of the
  * process without its JIT compilers, operations attempted and completed,
  * and the JIT compilers' CPU seconds. */
final case class Seg(key: String, wallS: Double, cpuS: Double, ops: Int, done: Int, jitS: Double)

/** Raw result of one timed phase; run.py derives the metrics from it.
  * Operations are written as [due, sent, done, ok] seconds from `startNs`. */
final case class Phase(queries: Seq[Op], writes: Seq[Op], startNs: Long, wallS: Double, segments: Seq[Seg],
    figures: Map[String, Double], failures: Seq[String]) {
  private def ops(os: Seq[Op]): String = Json.arr(os.sortBy(_.dueNs).map(o => J.nums(Seq(
    (o.dueNs - startNs) / 1e9, (o.sentNs - startNs) / 1e9, (o.doneNs - startNs) / 1e9,
    if (o.ok) 1.0 else 0.0))))
  def json(heapMb: Double): String = Json.obj(
    "queries" -> ops(queries),
    "writes" -> ops(writes),
    "wall_s" -> J.num(wallS),
    "segments" -> Json.obj(segments.groupBy(_.key).toSeq.sortBy(_._1).map { case (k, gs) =>
      k -> Json.arr(gs.map(g => J.nums(Seq(g.wallS, g.cpuS, g.ops, g.done, g.jitS))))
    }: _*),
    "heap_retained_mb" -> J.num(heapMb),
    "figures" -> J.numMap(figures),
    "failures" -> Json.arr(failures.take(20).map(Json.str)))
}

/** What the traced run adds: tracing hooks active during the phase. */
final class Tracing(val spark: SparkTrace, val spans: Spans, val queryLog: String)

/** A workload: inputs made from the seed, a set-up that makes the program
  * ready, a timed phase, and checks of the program's outputs that run
  * outside the timed region. */
trait Workload {
  /** load data, bind servers: everything between a fresh session and ready */
  def setup(spark: SparkSession): Unit
  /** generate this seed's inputs, after set-up and outside the timed phase */
  def prep(spark: SparkSession): Unit
  def teardown(): Unit
  /** untimed work before the first timed phase (e.g. the gate's checked pass) */
  def warmup(spark: SparkSession): Seq[String] = Nil
  def phase(spark: SparkSession, tracing: Option[Tracing]): Phase
  /** per-layer figures from the traced phase plus in-process decomposition */
  def layers(spark: SparkSession, traced: Phase, tr: Tracing): Map[String, Double]
  def check(spark: SparkSession): Seq[String]
  def env: Seq[(String, String)] = Nil
}

object Main {
  def loadavg: String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim.split(" ").take(3).mkString(",")
    catch { case _: Exception => "" }

  def session(a: Args): SparkSession = {
    val b = SparkSession.builder().master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.localDir)
    graft.promql.Engine.tunedConf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }

  /** heap in use after full collections, in MiB */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** CPU time of every thread of this process so far, in nanoseconds:
    * unlike wall time, it does not grow while the host runs other guests */
  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time of the JVM's JIT compiler threads so far, in nanoseconds
    * (from /proc, in clock ticks of 10 ms; run.py keeps the number of
    * compiler threads fixed, so none exits with its time) */
  def jitCpuNs(): Long = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.iterator.map { t =>
      try {
        val st = new String(Files.readAllBytes(t.toPath.resolve("stat")), UTF_8)
        val comm = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
        if (!comm.contains("CompilerThre")) 0L
        else {
          // fields after the name: state is the 3rd, utime the 14th, stime the 15th
          val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) * 10000000L
        }
      } catch { case _: Exception => 0L }
    }.sum
  }

  /** (process CPU seconds without the JIT compilers', JIT CPU seconds)
    * since `from`, a pair of (processCpuNs, jitCpuNs) */
  def cpuSince(from: (Long, Long)): (Double, Double) = {
    val jit = (jitCpuNs() - from._2) / 1e9
    ((processCpuNs() - from._1) / 1e9 - jit, jit)
  }
  def cpuNow(): (Long, Long) = (processCpuNs(), jitCpuNs())

  def progress(msg: String): Unit =
    System.err.println(f"[perfbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%7.1fs] $msg")

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("data"), need("out"), need("cpus").toInt, need("local-dir"),
      need("rate").toDouble)
  }

  def main(argv: Array[String]): Unit =
    try run(parse(argv))
    catch { case e: Throwable =>
      e.printStackTrace()
      // non-daemon Spark and HTTP threads would otherwise keep the JVM up
      System.exit(2)
    }

  def run(a: Args): Unit = {
    val loadBefore = loadavg
    val w: Workload = a.workload match {
      case "remote-write" => new RemoteWriteLoad(a)
      case "gate-batch" => new GateBatch(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up, from process start to ready (run.py times it from its side):
    // the session, the workload's data and server
    val spark = session(a)
    w.setup(spark)
    val readyEpochMs = System.currentTimeMillis()
    progress("ready")
    // preparation: this seed's inputs, timed and reported, never part of
    // set-up or of a timed phase
    val tp = System.nanoTime()
    w.prep(spark)
    val prepS = seconds(tp)
    progress(f"prepared in $prepS%.1f s")
    val warmFailures = w.warmup(spark)
    progress("warm-up done")
    val timed = w.phase(spark, None)
    progress(f"timed phase: ${timed.wallS}%.1f s, ${timed.queries.size} queries, ${timed.writes.size} writes")
    val heap = retainedHeapMb()
    var tracedJson = "null"
    var layersJson = "null"
    if (a.trace) {
      val tr = new Tracing(new SparkTrace, new Spans, a.queryLogPath)
      spark.sparkContext.addSparkListener(tr.spark)
      val traced = w.phase(spark, Some(tr))
      progress(f"traced phase: ${traced.wallS}%.1f s")
      PerfbenchBridge.drainListeners(spark.sparkContext)
      val heapT = retainedHeapMb()
      tracedJson = traced.json(heapT)
      val layers = w.layers(spark, traced, tr)
      PerfbenchBridge.drainListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tr.spark)
      layersJson = J.numMap(layers.toSeq.sortBy(_._1))
      Files.write(Paths.get(a.spansPath),
        (tr.spans.all ++ tr.spark.jobSpans).map(_.json + "\n").mkString.getBytes(UTF_8))
    }
    progress("checking")
    val checkFailures = warmFailures ++ w.check(spark)
    progress("checked")
    val sparkVersion = spark.version
    w.teardown()
    stop(spark)
    val env = Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString, "trace" -> a.trace.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "master" -> Json.str(s"local[${a.cpus}]"), "shuffle_partitions" -> a.cpus.toString,
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "jdk" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(sparkVersion),
      "load_before" -> Json.str(loadBefore), "load_after" -> Json.str(loadavg)) ++ w.env
    val out = Json.obj(
      "env" -> Json.obj(env: _*),
      "prep_s" -> J.num(prepS),
      "ready_epoch_ms" -> readyEpochMs.toString,
      "timed" -> timed.json(heap),
      "traced" -> tracedJson,
      "layers" -> layersJson,
      "check_failures" -> Json.arr(checkFailures.map(Json.str)))
    Files.write(Paths.get(a.out), out.getBytes(UTF_8))
    // JDK HttpClient selector threads and Spark's leftovers are non-daemon
    System.exit(0)
  }
}
