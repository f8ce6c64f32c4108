package graft.promql

import org.apache.spark.sql.SparkSession

/** Per-query resource protection for the serving layer (ref:
  * promql/engine.go:303-306 EngineOpts{MaxConcurrent via
  * ActiveQueryTracker, Timeout, MaxSamples}, :768 ActiveQueryTracker).
  *
  * Spark-native enforcement:
  *  - concurrency: a fair semaphore bounds in-flight queries; waiters time
  *    out against the same deadline as execution ("query timed out in query
  *    queue", ref util/stats + engine.go exec queue span)
  *  - timeout: each admitted query runs under its own Spark job group with
  *    `interruptOnCancel`; on deadline the WHOLE group is cancelled — every
  *    stage of the distributed plan stops, not just the driver-side wait
  *    (the analog of the reference's per-step ctx.Done() checks)
  *  - samples: the budget itself is enforced by
  *    [[Engine.rangeQueryWithStats]]/[[Engine.instantQueryWithStats]] from
  *    the planner's pruned selector scans; run those inside [[exec]] so the
  *    counting jobs are cancellable too.
  */
final case class QueryLimits(
    timeoutMs: Long = 120000L, // ref: cmd/prometheus --query.timeout default 2m
    maxSamples: Long = 0L, // 0 = unlimited; ref --query.max-samples default 5e7
    maxConcurrent: Int = 20) // ref --query.max-concurrency default 20

final class QueryGate(spark: SparkSession, limits: QueryLimits = QueryLimits(),
    tracker: () => Option[ActiveQueryTracker] = () => None,
    queryLog: () => Option[QueryLogger] = () => None) {

  private val sem = new java.util.concurrent.Semaphore(limits.maxConcurrent, true)
  private val seq = new java.util.concurrent.atomic.AtomicLong()

  def exec[T](desc: String)(body: => T): T = execTimed(desc)(_ => body)

  /** [[exec]] that hands the measured queue-wait seconds to the body (the
    * stats= surface; the body runs on a pool thread, so a value parameter —
    * not a ThreadLocal keyed to the submitting thread — is the only sound
    * carrier). `params` feed the query log line (query/start/end/step —
    * ref promql/engine.go exec's queryLogger fields). */
  def execTimed[T](desc: String, params: Map[String, String] = Map.empty)(
      body: Double => T): T = {
    val t0 = System.nanoTime()
    val deadlineNs = t0 + limits.timeoutMs * 1000000L
    if (!sem.tryAcquire(limits.timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS))
      throw QueryTimeoutError("query queue")
    val queueSeconds = (System.nanoTime() - t0) / 1e9
    val gid = s"graft-query-${seq.incrementAndGet()}"
    val sc = spark.sparkContext
    // crash-forensics slot: written on admission, zeroed on ANY exit —
    // whatever a restart reads back was in flight at the crash
    val slot = tracker().map(_.insert(desc))
    val t1 = System.nanoTime()
    var error: Option[String] = None
    try {
      val fut = java.util.concurrent.CompletableFuture.supplyAsync { () =>
        // job group is thread-local — set it on the thread that will run the
        // Spark actions, so cancelJobGroup reaches every spawned stage
        sc.setJobGroup(gid, desc.take(200), interruptOnCancel = true)
        try body(queueSeconds) finally sc.clearJobGroup()
      }
      try fut.get(math.max(1L, deadlineNs - System.nanoTime()),
        java.util.concurrent.TimeUnit.NANOSECONDS)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          fut.cancel(true)
          sc.cancelJobGroup(gid)
          error = Some("query timed out in expression evaluation")
          throw QueryTimeoutError("expression evaluation")
        case e: java.util.concurrent.ExecutionException =>
          val cause = Option(e.getCause).getOrElse(e)
          error = Some(Option(cause.getMessage).getOrElse(cause.getClass.getName))
          throw cause
      }
    } finally {
      sem.release()
      slot.foreach(s => tracker().foreach(_.delete(s)))
      queryLog().foreach(_.log(
        if (params.nonEmpty) params else Map("query" -> desc),
        (System.nanoTime() - t1) / 1e9, queueSeconds, error))
    }
  }
}
