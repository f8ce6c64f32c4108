package perfbench

import graft.promql._
import graft.web.{HttpApi, RemoteWrite, SampleStore}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.locks.LockSupport
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._
import scala.util.Random

/** remote-write: an open loop posts pre-encoded, snappy-compressed PRW 1.0
  * batches (1000 series each, label values and values drawn from the seed)
  * at `rate` batches/s into an initially empty store, through at most
  * `cpus` connections. Each write is timed from its due time. With rate 0
  * the same batches go out in a closed loop over one connection instead,
  * which measures the store's capacity. One closed-loop reader meanwhile
  * makes a fixed number of reads, each no earlier than its place on a
  * fixed schedule, asking for the sample count of the newest five minutes;
  * each answer must cover every sample acknowledged before it asked and
  * no more than were sent.
  *
  * Batch j carries timestamp t0 + j·100 ms and the reader evaluates at the
  * last batch's timestamp, so inputs and answers depend only on the seed. */
final class RemoteWriteLoad(a: Args) extends Workload {
  private val batchSeries = 1000
  private val t0Ms = 1700000000000L
  private val stepMs = 100L
  // a fixed mix: at least 100 batches, so the p90 has ten beyond it and the
  // backlog of the checkpoint at the 64th append drains within the run, and
  // two reads, due 0 and 6 s into the schedule: a read takes 2-10 s here,
  // so both run beside appends and mostly end before the checkpoint, due at
  // 16 s at 4 batches/s (a read that overlaps it makes both take about
  // twice as long, by an amount that varies from run to run)
  private val nBatches = math.max(math.round(a.rate * a.seconds).toInt, 100)
  private val readDueS = Seq(0, 6)
  private val evalMs = t0Ms + (nBatches - 1) * stepMs
  private val readQuery = """sum(count_over_time({__name__=~"rw_metric_.*"}[5m]))"""
  private var payloads: IndexedSeq[Array[Byte]] = _
  private var store: SampleStore = _
  private var api: HttpApi = _
  private var phaseNo = 0

  override def env: Seq[(String, String)] = Seq(
    "rate_batches_per_s" -> a.rate.toString, "batch_series" -> batchSeries.toString,
    "batches" -> nBatches.toString, "reads" -> readDueS.size.toString,
    "max_connections" -> (if (a.rate > 0) a.cpus else 1).toString, "readers" -> "1")

  private def emptyStore(s: SparkSession): SampleStore =
    new SampleStore(s, s.createDataFrame(s.sparkContext.emptyRDD[Row], Engine.samplesSchema))

  def setup(s: SparkSession): Unit = {
    store = emptyStore(s)
    api = new HttpApi(s, store, port = 0)
    api.start()
  }

  def teardown(): Unit = { if (api != null) api.stop(); api = null }

  def prep(s: SparkSession): Unit = {
    val rnd = new Random(a.seed)
    val jobs = Seq("api", "db", "cache", "web", "queue")
    val series = (0 until batchSeries).map { i =>
      Map("__name__" -> s"rw_metric_${i % 10}", "instance" -> f"host-${rnd.nextInt(1 << 20)}%05x-$i",
        "job" -> jobs(rnd.nextInt(jobs.size)))
    }
    payloads = (0 until nBatches).map { j =>
      val t = t0Ms + j * stepMs
      RemoteWrite.encodeV1(series.map(l => RemoteWrite.Sample(l, t, rnd.nextInt(1000000) / 100.0)))
    }
  }

  /** (answer, response bytes) of one read */
  private def read(http: Http): Either[String, (Double, Int)] = {
    val (st, body) = http.get(http.url("/api/v1/query", Seq("query" -> readQuery,
      "time" -> Http.seconds(evalMs))))
    ApiJson.result(st, body).flatMap { case (rt, res) =>
      if (rt != "vector") Left(s"resultType $rt") else Right((ApiJson.vectorValue(res), body.length))
    }
  }

  def phase(s: SparkSession, tracing: Option[Tracing]): Phase = {
    phaseNo += 1
    // every phase starts from an empty store
    if (phaseNo > 1) { teardown(); setup(s) }
    tracing.foreach(t => api.queryLogger = Some(new QueryLogger(t.queryLog)))
    val http = new Http(api.boundPort)
    val senders = Executors.newFixedThreadPool(if (a.rate > 0) a.cpus else 1)
    val inflight = new AtomicInteger(); val inflightMax = new AtomicInteger()
    val acked = new AtomicLong(); val sent = new AtomicLong()
    val lastAckNs = new AtomicLong()
    val responseBytes = new AtomicLong()
    val writes = new ConcurrentLinkedQueue[Op](); val reads = new ConcurrentLinkedQueue[Op]()
    val failures = new ConcurrentLinkedQueue[String]()
    val start = System.nanoTime() + 100000000L
    val reader = new Thread(() => {
      readDueS.zipWithIndex.foreach { case (dueS, k) =>
        val due = start + dueS * 1000000000L
        var wait = due - System.nanoTime()
        while (wait > 0) { LockSupport.parkNanos(wait); wait = due - System.nanoTime() }
        val ackedBefore = acked.get
        val q0 = System.nanoTime()
        val r = try read(http) catch { case e: Exception => Left(e.toString) }
        val q1 = System.nanoTime()
        val sentAfter = sent.get * batchSeries
        tracing.foreach(_.spans.add(Span(s"read-$phaseNo-$k", "loadgen", "instant query", q0, q1)))
        r match {
          case Right((v, bytes)) if v >= ackedBefore && v <= sentAfter =>
            responseBytes.addAndGet(bytes); reads.add(Op(due, q0, q1, ok = true))
          case Right((v, _)) =>
            failures.add(s"read $k saw $v samples; acknowledged before $ackedBefore, sent $sentAfter")
            reads.add(Op(due, q0, q1, ok = false))
          case Left(why) =>
            failures.add(s"read $k: $why"); reads.add(Op(due, q0, q1, ok = false))
        }
      }
    }, "reader")
    def send(j: Int, due: Long): Unit = {
      val s0 = System.nanoTime()
      inflightMax.accumulateAndGet(inflight.incrementAndGet(), math.max)
      sent.incrementAndGet()
      val st = try http.postWrite(payloads(j)) catch { case e: Exception => failures.add(e.toString); -1 }
      val e = System.nanoTime()
      inflight.decrementAndGet()
      tracing.foreach(_.spans.add(Span(s"write-$phaseNo-$j", "loadgen", "remote write", s0, e)))
      val ok = st == 204
      if (ok) { acked.addAndGet(batchSeries); lastAckNs.accumulateAndGet(e, math.max) }
      else if (st != -1) failures.add(s"write $j: HTTP $st")
      writes.add(Op(due, s0, e, ok))
    }
    val cpu0 = Main.cpuNow()
    reader.start()
    if (a.rate > 0) {
      val periodNs = (1e9 / a.rate).toLong
      (0 until nBatches).foreach { j =>
        val due = start + j * periodNs
        var wait = due - System.nanoTime()
        while (wait > 0) { LockSupport.parkNanos(wait); wait = due - System.nanoTime() }
        senders.execute(() => send(j, due))
      }
    } else senders.execute { () =>
      // closed loop: each batch is due when the previous one is answered
      var wait = start - System.nanoTime()
      while (wait > 0) { LockSupport.parkNanos(wait); wait = start - System.nanoTime() }
      (0 until nBatches).foreach(j => send(j, System.nanoTime()))
    }
    senders.shutdown()
    senders.awaitTermination(10, TimeUnit.MINUTES)
    reader.join()
    val end = System.nanoTime()
    val (cpuS, jitS) = Main.cpuSince(cpu0)
    val writeS = (lastAckNs.get - start) / 1e9
    api.queryLogger.foreach(_.close()); api.queryLogger = None
    val ops = (reads.asScala ++ writes.asScala).toSeq
    Phase(reads.asScala.toSeq, writes.asScala.toSeq, start, (end - start) / 1e9,
      Seq(Seg("schedule", (end - start) / 1e9, cpuS, ops.size, ops.count(_.ok), jitS)),
      Map("inflight_max" -> inflightMax.get.toDouble,
        "write_samples_per_s" -> acked.get / math.max(1e-9, writeS),
        "response_bytes" -> responseBytes.get.toDouble,
        "store_plan_nodes" -> store.samples.queryExecution.logical.collect { case p => p }.size.toDouble),
      failures.asScala.toSeq)
  }

  private def storageBytes(s: SparkSession): Double =
    s.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble

  def layers(s: SparkSession, traced: Phase, tr: Tracing): Map[String, Double] = {
    val sc = s.sparkContext
    val nReads = math.max(1, traced.queries.size).toDouble
    val reads = tr.spark.total(_.startsWith("graft-query-"))
    val log = QueryLog.read(tr.queryLog)
    // decode and append in process, on a replica store fed the same batches
    val replica = emptyStore(s)
    val before = storageBytes(s)
    val decode = Seq.newBuilder[Double]; val append = Seq.newBuilder[Double]
    payloads.zipWithIndex.foreach { case (p, j) =>
      val rid = s"replay-$j"
      val ((samples, _), dSpan) = tr.spans.time(rid, "rw", "decode")(RemoteWrite.decodeFull(p, isV2 = false))
      val rows = samples.map(x => Row(x.labels, x.t, x.v, false, x.h.map(FHist.toRow).orNull, x.stt))
      val df = s.createDataFrame(sc.parallelize(rows, math.max(1, rows.length / 10000)), Engine.samplesSchema)
      append += tr.spans.time(rid, "store", "append")(replica.append(df))._2.seconds
      decode += dSpan.seconds
    }
    val cached = storageBytes(s) - before
    val appends = append.result().sorted
    // one in-process decomposition of the reader's query on the replica
    val parseS = tr.spans.time("decompose", "promql", "parse")(Engine.parse(readQuery))._2.seconds
    sc.setJobGroup("bench-plan", "build", interruptOnCancel = false)
    val (v, planSpan) = tr.spans.time("decompose", "promql", "plan")(
      Engine.instantQuery(s, replica.samples, readQuery, evalMs))
    val df = v match {
      case VectorVal(d) => d.select(col("labels"), col("t"), col("v"), col("h"))
      case other => throw new IllegalStateException(s"unexpected $other")
    }
    sc.setJobGroup("bench-collect", "collect", interruptOnCancel = false)
    val collectS = tr.spans.time("decompose", "driver", "collect")(df.collect())._2.seconds
    sc.clearJobGroup()
    PerfbenchBridge.drainListeners(sc)
    val ph = Plans.phases(df.queryExecution)
    // the cached blocks hold the batches appended up to the last checkpoint
    val checkpointed = (nBatches / 64 * 64).toLong * batchSeries
    Layers.spark(reads, nReads, traced.wallS, a.cpus) ++ Map(
      "loadgen.inflight_max" -> traced.figures("inflight_max"),
      "rw.decode_s" -> decode.result().sum / nBatches,
      "store.append_p50_s" -> appends(appends.size / 2),
      "store.append_max_s" -> appends.last,
      "store.plan_nodes" -> traced.figures("store_plan_nodes"),
      "store.cached_bytes" -> cached,
      "store.bytes_per_sample" -> cached / checkpointed,
      "promql.queue_s" -> log.meanQueue,
      "promql.parse_s" -> parseS,
      "promql.plan_s" -> planSpan.seconds,
      "promql.plan_jobs" -> tr.spark.total(_ == "bench-plan").jobs.toDouble,
      "catalyst.analysis_s" -> ph.getOrElse("analysis", 0.0),
      "catalyst.optimization_s" -> ph.getOrElse("optimization", 0.0),
      "catalyst.planning_s" -> ph.getOrElse("planning", 0.0),
      "catalyst.exchanges" -> Plans.exchanges(df.queryExecution.executedPlan).toDouble,
      "driver.collect_s" -> collectS,
      "driver.render_s" -> math.max(0.0, log.meanEval - planSpan.seconds - collectS),
      "web.response_bytes" -> traced.figures("response_bytes") / nReads,
      "web.self_s" -> math.max(0.0,
        traced.queries.map(o => (o.doneNs - o.sentNs) / 1e9).sum / nReads - log.meanTotal))
  }

  /** the reader checked every answer during the phase */
  def check(s: SparkSession): Seq[String] = Nil
}
