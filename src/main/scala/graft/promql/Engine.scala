package graft.promql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Public API of the PromQL-on-Spark engine.
  *
  * Input: a canonical samples DataFrame —
  *   labels MAP<STRING,STRING> (including __name__),
  *   t LONG (epoch millis, ref model/timestamp/timestamp.go:22),
  *   v DOUBLE,
  *   stale BOOLEAN (explicit staleness marker; the reference encodes this as a
  *     NaN bit pattern, model/value/value.go:28 — Spark's UnsafeRow normalizes
  *     NaN payloads, so we carry an explicit column instead).
  *
  * At 100 TB the samples table should be parquet partitioned by a time bucket
  * (e.g. 2h/1d — mirroring the reference's 2h blocks, tsdb/db.go:56) and
  * sorted/bucketed by a series hash; every query here filters t to the minimal
  * window first, so partition pruning + parquet min/max stats bound the scan.
  */
object Engine {

  /** Session confs the engine's plan shapes assume. The critical one: AQE's
    * partition coalescing sizes post-shuffle stages by shuffle BYTES, but the
    * step-grid plans put a coverage `Generate` (up to numSteps× row
    * amplification) plus a hash aggregate downstream of a small shuffle — at
    * the default 1 MB minPartitionSize a 17 MB shuffle collapses to ~13
    * partitions carrying 30×+ that in generated rows (measured: the
    * histogram_quantile∘rate bench stage ran 20 s of CPU in 13 tasks on 32
    * cores). A small floor keeps amplifying stages at full parallelism;
    * correctness is unaffected.
    *
    * Spark keeps the classes it generates in one JVM-wide LRU cache of
    * `spark.sql.codegen.cache.maxEntries` classes (default 100). One pass
    * of the 79-query gate generates about 940 distinct classes, so at the
    * default every warm pass recompiled most of them (about 1450 Janino
    * compiles and 102-122 s of CPU per pass, sf0.01 on 4 cores); at 2000,
    * about twice that working set, a warm pass compiles 10-44 classes and
    * takes 70-89 s, for about 30 MiB more heap after the pass. Recording and
    * alerting rules re-run the same plans every tick, so the same holds for
    * serving. It is a STATIC conf: Spark reads it once per JVM, when code is
    * first generated, so it only takes effect if it is set before the first
    * session runs a query. */
  val tunedConf: Map[String, String] = Map(
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    "spark.sql.codegen.cache.maxEntries" -> "2000") ++
    // ad-hoc A/B overrides, e.g. SPARK_GRAFT_CONF='spark.sql.adaptive.enabled=false;k=v'
    sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(_.split(';')).flatMap { kv =>
      kv.split("=", 2) match { case Array(k, v) => Some(k.trim -> v.trim); case _ => None }
    }

  val samplesSchema: StructType = StructType(Seq(
    StructField("labels", MapType(StringType, StringType, valueContainsNull = false), nullable = false),
    StructField("t", LongType, nullable = false),
    StructField("v", DoubleType, nullable = false),
    StructField("stale", BooleanType, nullable = false),
    // nullable native-histogram sample (null ⇒ float sample); see FHist
    StructField("h", FHist.schemaType, nullable = true),
    // per-sample start timestamp, ms (0 = unknown; ref: PROM-60 start
    // timestamps — promql/functions.go:760 isStartTimestampReset). Consumed
    // by rate/increase/irate/resets and start_timestamp().
    StructField("stt", LongType, nullable = true)))

  /** public form of [[normalize]] for store/serving layers */
  def canonical(samples: DataFrame): DataFrame = normalize(samples)

  /** Materialize the 8-byte series signature at ingest/write time:
    * `__sg = xxhash64(array_sort(map_entries(labels)), 42)` — the engine's
    * series identity (the analog of the reference's TSDB series ref,
    * tsdb/index/postings.go). Stores that persist this column save the
    * planner one hash+sort pass per sample per selector, and the scan-side
    * projection stays inside whole-stage codegen (array_sort's lambda
    * comparator is a CodegenFallback expression). The column is OPTIONAL and
    * must be exactly this function of `labels` — the planner trusts it. */
  def withSeriesSig(samples: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{array_sort, col, map_entries, xxhash64}
    samples.withColumn("__sg", xxhash64(array_sort(map_entries(col("labels")))))
  }

  /** Column metadata marking an optional column that the STORE did not
    * provide (synthesized all-null/zero by [[normalize]]). The planner reads
    * this as a static capability bit: predicates on a store-absent column
    * constant-fold, so Catalyst's PruneFilters + PropagateEmptyRelation erase
    * every native-histogram / start-timestamp leg (mixed-series censuses,
    * anti-joins, histogram branches) from plans over float-only stores — the
    * common case at 100 TB, where those legs would each re-scan the input. */
  private[promql] val storeAbsentKey = "graft.store_absent"
  private[graft] val storeAbsent: Metadata =
    new MetadataBuilder().putBoolean(storeAbsentKey, true).build()

  /** accept samples tables without the optional columns */
  private def normalize(samples: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    var df = samples
    if (!df.columns.contains("stale")) df = df.withColumn("stale", lit(false))
    if (!df.columns.contains("h"))
      df = df.withColumn("h", lit(null).cast(FHist.schemaType))
        .withMetadata("h", storeAbsent)
    if (!df.columns.contains("stt"))
      df = df.withColumn("stt", lit(0L)).withMetadata("stt", storeAbsent)
    else df = df.withColumn("stt", coalesce(col("stt"), lit(0L)))
    df
  }

  /** Final output shaping (ref: promql/engine.go:4254 cleanupMetricLabels):
    * samples flagged `dn` (deferred name drop) shed the reserved labels
    * (__name__/__type__/__unit__, schema/labels.go IsMetadataLabel), THEN the
    * reference's duplicate-labelset check runs on the final labels — a
    * lazily-raised window count keyed the same as the plan's last shuffle. */
  private def finalShape(v: PValue): PValue = {
    import org.apache.spark.sql.functions._
    def strip(df: DataFrame): DataFrame =
      if (!df.columns.contains("dn")) df
      else df.select(df.columns.filterNot(_ == "dn").map {
        case "labels" =>
          when(col("dn"), map_filter(col("labels"), (k, _) =>
            k =!= "__name__" && k =!= "__type__" && k =!= "__unit__"))
            .otherwise(col("labels")).as("labels")
        case c => col(c)
      }: _*)
    def dupCheck(df: DataFrame): DataFrame = {
      // same-timestamp duplicate labelsets after the name drop are an error
      // (ref engine.go:4254); merging disjoint-timestamp series is implicit
      // in the flat (labels, t, v) representation
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(xxhash64(array_sort(map_entries(col("labels")))), col("t"))
      df.select(df.columns.map {
        case "v" => when(count(lit(1)).over(w) > 1,
            raise_error(lit("vector cannot contain metrics with the same labelset")).cast("double"))
          .otherwise(col("v")).as("v")
        case c => col(c)
      }: _*)
    }
    v match {
      case VectorVal(df0) => VectorVal(dupCheck(strip(df0)))
      case MatrixVal(df0) => MatrixVal(dupCheck(strip(df0)))
      case other => other
    }
  }

  def parse(q: String, stepMs: Long = 0L, rangeMs: Long = 0L): Expr =
    Parser.parse(q, stepMs, rangeMs)

  /** Resolve `@ start()` / `@ end()` to absolute timestamps of the TOP-LEVEL
    * query before evaluation (ref: promql/engine.go:4472-4478 — the
    * preprocessor rewrites them once; a selector inside a subquery pins to the
    * outer query's bounds, not the inner grid). */
  private def resolveAtModifiers(e: Expr, startMs: Long, endMs: Long): Expr = {
    def at(a: Option[AtModifier]): Option[AtModifier] = a.map {
      case AtModifier.AtStart => AtModifier.AtTimestamp(startMs)
      case AtModifier.AtEnd => AtModifier.AtTimestamp(endMs)
      case other => other
    }
    def go(x: Expr): Expr = x match {
      case vs: VectorSelector => vs.copy(at = at(vs.at))
      case ms: MatrixSelector => ms.copy(vs = go(ms.vs).asInstanceOf[VectorSelector])
      case sv: SmoothedVector => sv.copy(vs = go(sv.vs).asInstanceOf[VectorSelector])
      case sq: SubqueryExpr => sq.copy(expr = go(sq.expr), at = at(sq.at))
      case c: Call => c.copy(args = c.args.map(go))
      case a: AggregateExpr => a.copy(expr = go(a.expr), param = a.param.map(go))
      case b: BinaryExpr => b.copy(lhs = go(b.lhs), rhs = go(b.rhs))
      case u: UnaryExpr => u.copy(expr = go(u.expr))
      case p: ParenExpr => p.copy(expr = go(p.expr))
      case other => other
    }
    go(e)
  }

  private def instantParams(tsMs: Long, lookbackMs: Long, defaultSubqueryStepMs: Long) =
    EvalParams(tsMs, tsMs, 1000L, lookbackMs, defaultSubqueryStepMs, isInstant = true)

  /** The one evaluation step behind every entry point: parse, plan over the
    * normalized samples, shape the output. Lazy: it runs no Spark job. The
    * planner is returned for its scan log (sample budget and stats). */
  private def evaluate(spark: SparkSession, samples: DataFrame, q: String,
      p: EvalParams): (PValue, Planner) = {
    val e = if (p.isInstant) parse(q) else parse(q, p.stepMs, p.endMs - p.startMs)
    if (!p.isInstant) e.valueType match {
      case ValueType.InstantVector | ValueType.Scalar => ()
      case t => throw PromQLError(s"range query expression must be scalar or instant vector, got $t")
    }
    val pl = new Planner(spark, normalize(samples), p)
    (finalShape(pl.eval(resolveAtModifiers(e, p.startMs, p.endMs))), pl)
  }

  def instantQuery(spark: SparkSession, samples: DataFrame, q: String, tsMs: Long,
      lookbackMs: Long = 300000L, defaultSubqueryStepMs: Long = 60000L): PValue =
    evaluate(spark, samples, q, instantParams(tsMs, lookbackMs, defaultSubqueryStepMs))._1

  def rangeQuery(spark: SparkSession, samples: DataFrame, q: String,
      startMs: Long, endMs: Long, stepMs: Long, lookbackMs: Long = 300000L,
      defaultSubqueryStepMs: Long = 60000L): PValue =
    evaluate(spark, samples, q,
      EvalParams(startMs, endMs, stepMs, lookbackMs, defaultSubqueryStepMs))._1

  /** Sum of the planner's time-pruned selector scan counts — the engine's
    * sample accounting (ref: promql/engine.go MaxSamples; an upper bound on
    * the reference's currentSamples peak, see Planner.scanLog). Each count is
    * a pushed-down count aggregation over the pruned store scan — column-
    * pruned, partition-pruned, no wide rows collected. */
  private def countScans(pl: Planner): Long = pl.scanLog.map(_.df.count()).sum

  /** The reference's two sample-accounting figures (ref:
    * util/stats/query_stats.go QuerySamples, reference #18081):
    * `total` = totalQueryableSamples — range-selector windows count the FULL
    * window at every step, so overlapping windows in a range query count a
    * stored point many times; `read` = samplesRead — each stored point
    * counts once (storage I/O). Instant selectors count one per selected
    * (series, step) in both figures, like the reference's
    * IncrementSamplesAtStep(step, 1) + IncrementSamplesReadAtStep(step, 1)
    * pair. Per-step vectors ((tsMs, n); zero steps omitted) fill only under
    * the promql-per-step-stats feature flag. */
  final case class SampleStats(total: Long, read: Long,
      perStepTotal: Seq[(Long, Long)] = Nil, perStepRead: Seq[(Long, Long)] = Nil)

  /** process-lifetime samplesRead accumulator feeding the
    * prometheus_engine_query_samples_read_total self-metric (ref #18081's
    * engine counter). Increments on EVERY stats-capable query like the
    * reference, and by ONE semantic regardless of `stats=`: the per-scan
    * count (each stored row once per selector — the reference's "storage
    * I/O" reading, and the same figure the sample budget already computes,
    * so it is free whenever --query.max-samples is set). The exact
    * deduplicated samplesRead stays in the stats payload only. */
  val samplesReadTotal = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Compute [[SampleStats]] from the planner's scan log. Each scan is one
    * distributed aggregation over the pruned store scan: per row the covering
    * step range [kFirst, kLast] is closed-form long arithmetic, so the
    * range-selector figures need no fan-out at all (sum of kLast−kFirst+1 /
    * count of covered rows); instant selectors fan out to (series, step)
    * pairs and count distinct — the reference's one-selection-per-step
    * accounting. Known approximations vs the reference: a covered-but-
    * stale-topped instant step still counts, histogram samples count 1 (the
    * reference counts their bucket size), and @-pinned selectors count once
    * rather than once per outer step. */
  private def sampleStats(pl: Planner, wantPerStep: Boolean): SampleStats = {
    import org.apache.spark.sql.functions._
    var total = 0L; var read = 0L
    val perT = scala.collection.mutable.Map.empty[Long, Long]
    val perR = scala.collection.mutable.Map.empty[Long, Long]
    pl.scanLog.foreach { rec =>
      val step = math.max(1L, rec.stepMs)
      val numSteps = (rec.gridHi - rec.gridLo) / step + 1
      val win = if (rec.windowMs > 0) rec.windowMs else rec.lookbackMs
      val wt = col("t") + lit(rec.offsetMs)
      // covering steps: grid index k with gridLo + k·step ∈ [wt, wt + win);
      // floor() keeps the indices LongType (a bare long/long division is
      // double in Spark SQL) and the +step−1 turns floor into ceil for the
      // non-negative first-index case
      val kFirst = greatest(lit(0L),
        floor((wt - lit(rec.gridLo) + lit(step - 1)) / lit(step)))
      val kLast = least(lit(numSteps - 1),
        floor((wt + lit(win - 1 - rec.gridLo)) / lit(step)))
      val base0 = rec.df
      val base = if (base0.columns.contains("stale"))
        base0.filter(!coalesce(col("stale"), lit(false))) else base0
      val marked = base.select(col("labels"),
        kFirst.as("__kf"), kLast.as("__kl")).filter(col("__kl") >= col("__kf"))
      if (rec.windowMs > 0) {
        // range selector: total = Σ window sizes; read = each point once
        val r = marked.agg(
          coalesce(sum(col("__kl") - col("__kf") + 1), lit(0L)),
          count(lit(1))).head()
        total += r.getLong(0); read += r.getLong(1)
        if (wantPerStep) {
          marked.select(explode(sequence(col("__kf"), col("__kl"))).as("k"))
            .groupBy(col("k")).count().collect().foreach { row =>
              val ts = rec.gridLo + row.getLong(0) * step
              perT(ts) = perT.getOrElse(ts, 0L) + row.getLong(1)
            }
          marked.groupBy(col("__kf")).count().collect().foreach { row =>
            val ts = rec.gridLo + row.getLong(0) * step
            perR(ts) = perR.getOrElse(ts, 0L) + row.getLong(1)
          }
        }
      } else {
        // instant selector: one per selected (series, step) in BOTH figures
        val fan = marked
          .select(xxhash64(array_sort(map_entries(col("labels")))).as("__sg"),
            explode(sequence(col("__kf"), col("__kl"))).as("k"))
          .distinct()
        if (wantPerStep) {
          fan.groupBy(col("k")).count().collect().foreach { row =>
            val ts = rec.gridLo + row.getLong(0) * step
            perT(ts) = perT.getOrElse(ts, 0L) + row.getLong(1)
            perR(ts) = perR.getOrElse(ts, 0L) + row.getLong(1)
            total += row.getLong(1); read += row.getLong(1)
          }
        } else {
          val n = fan.count()
          total += n; read += n
        }
      }
    }
    SampleStats(total, read,
      perT.toSeq.sortBy(_._1), perR.toSeq.sortBy(_._1))
  }

  /** [[instantQuery]] with budget enforcement AND the full stats block for
    * `stats=` rendering; `wantPerStep` = promql-per-step-stats feature flag
    * AND stats=all (ref: api.go extractQueryOpts + #18081). */
  def instantQueryWithStats(spark: SparkSession, samples: DataFrame, q: String,
      tsMs: Long, lookbackMs: Long = 300000L, defaultSubqueryStepMs: Long = 60000L,
      maxSamples: Long = 0L, wantStats: Boolean = false,
      wantPerStep: Boolean = false): (PValue, Option[SampleStats]) =
    withStats(evaluate(spark, samples, q, instantParams(tsMs, lookbackMs, defaultSubqueryStepMs)),
      maxSamples, wantStats, wantPerStep)

  /** [[rangeQuery]] with budget enforcement and stats — see
    * [[instantQueryWithStats]]. */
  def rangeQueryWithStats(spark: SparkSession, samples: DataFrame, q: String,
      startMs: Long, endMs: Long, stepMs: Long, lookbackMs: Long = 300000L,
      defaultSubqueryStepMs: Long = 60000L, maxSamples: Long = 0L,
      wantStats: Boolean = false, wantPerStep: Boolean = false)
      : (PValue, Option[SampleStats]) =
    withStats(evaluate(spark, samples, q,
      EvalParams(startMs, endMs, stepMs, lookbackMs, defaultSubqueryStepMs)),
      maxSamples, wantStats, wantPerStep)

  /** The scan count is both the sample budget and the self-metric's
    * per-query samplesRead, on EVERY query, stats or not — one counter, one
    * semantic (ref #18081: the reference's counter moves on every query).
    * Cost note: with a sample budget configured (the server default,
    * --query.max-samples 5e7) the scan counts are computed anyway — the
    * metric rides along free; only an explicitly unlimited engine
    * (maxSamples=0) pays the extra count-aggregation jobs. Throws
    * [[TooManySamplesError]] when the budget is exceeded. */
  private def withStats(evaluated: (PValue, Planner), maxSamples: Long,
      wantStats: Boolean, wantPerStep: Boolean): (PValue, Option[SampleStats]) = {
    val (v, pl) = evaluated
    val n = countScans(pl)
    if (maxSamples > 0 && n > maxSamples) throw TooManySamplesError("query execution")
    samplesReadTotal.addAndGet(n)
    (v, if (wantStats) Some(sampleStats(pl, wantPerStep)) else None)
  }
}
