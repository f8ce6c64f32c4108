package graft.web

import graft.promql.{Engine, LabelMatcher}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BindReferences, BoundReference, Expression,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, Metadata, StructField, StructType}
import org.apache.spark.unsafe.Platform
import scala.collection.{immutable, mutable}
import scala.jdk.CollectionConverters._

/** Mutable sample store backing the serving layer (HTTP API, remote write,
  * federation).
  *
  * The store keeps each series' labels ONCE, in a series dictionary keyed
  * by the series signature `__sg` ([[Engine.seriesSig]]), and the samples
  * in narrow chunks of `(__sg, t, v, stale, h, stt)` rows (the analog of the
  * reference's head block: `memSeries` in `stripeSeries`, and the chunks
  * that refer to a series by its ref, tsdb/head.go:71). Appended data is
  * SEALED once: an append encodes its rows into `UnsafeRow` bytes exactly
  * once and keeps them as an immutable chunk. Every ingest path (scrape,
  * remote write, OTLP, rule output and staleness markers) holds its rows on
  * the driver, and [[appendRows]] encodes them without a Spark job, each
  * label set interned on the driver. A DataFrame ([[append]]) is evaluated
  * by one job at append time, which also returns the series the dictionary
  * lacks, so a failure throws from `append` and leaves the store as it was,
  * and no later read re-runs the batch's plan. A batch's new series and its
  * chunks are committed in one swap, so no read sees a chunk whose series
  * is missing. Exemplars are kept beside the samples, on the driver, in
  * per-series rings ([[appendExemplars]]).
  *
  * [[samples]] is the constructor's frame ∪ ONE scan over a snapshot of the
  * chunk vector joined to the series dictionary by broadcast, with
  * tombstone filters on top: its plan has a fixed size however many
  * batches were appended, and a selector's label matchers run on the
  * series side, once per series rather than once per sample.
  *
  * Deletions are recorded as TOMBSTONES — (matchers, interval) pairs applied
  * as filters at read time, exactly the reference's model
  * (ref: tsdb/tombstones/tombstones.go; delete API web/api/v1/api.go:498) —
  * and materialized by [[cleanTombstones]]. At 100 TB the store is a
  * parquet/Delta table: `append` maps to an appending write, tombstones to a
  * predicate table joined at scan, cleanTombstones to Delta DELETE/VACUUM
  * (SURVEY §1.4). This in-memory form is the single-process serving seam;
  * the query path is identical either way (a DataFrame in canonical schema).
  */
final class SampleStore(spark: SparkSession, initial: DataFrame) {
  import SampleStore._

  final case class Tombstone(matchers: List[LabelMatcher], minT: Long, maxT: Long)

  /** what a read sees: the constructor's frame (unless it is provably
    * empty, and until [[cleanTombstones]] seals it), the series dictionary,
    * the sealed chunks in append order, and the tombstones */
  private case class State(head: Option[DataFrame], series: Series, chunks: Vector[Chunk],
      tombs: List[Tombstone])

  /** the series dictionary: `__sg` → the series' ([[SeriesSchema]]) row.
    * It only grows: a deleted series keeps its entry, and no chunk refers
    * to it any more. The frame over it is built once per dictionary. */
  private final class Series(val rows: Map[Long, InternalRow]) {
    def ++(fresh: Iterable[InternalRow]): Series = {
      val add = fresh.filterNot(r => rows.contains(r.getLong(0)))
      if (add.isEmpty) this else new Series(rows ++ add.map(r => r.getLong(0) -> r))
    }

    lazy val frame: DataFrame = {
      val df = broadcast(GraftBridge.localFrame(spark, SeriesSchema, rows.values.toSeq))
      if (withMetric) df.withColumn("metric", element_at(col("labels"), "__name__")) else df
    }
  }

  // a base loaded from the block sink carries `metric` (Ingest.sink); the
  // series frame then derives it, once per series
  private val withMetric = initial.columns.contains("metric")
  // a provably empty constructor frame (the server's) is no head: its full
  // schema would count h/stt as present, and the planner would keep the
  // histogram and start-timestamp legs over a float-only store
  private val head = Some(initial).filterNot(provablyEmpty)
  private val headHas = head.fold(Set.empty[String])(h => Optional.filter(h.columns.contains))

  @volatile private var state = State(
    head.map { h =>
      val c = Engine.canonical(h)
      if (c.columns.contains("__sg")) c else Engine.withSeriesSig(c)
    },
    new Series(Map.empty), Vector.empty, Nil)

  /** labels → `__sg` of every label set [[appendRows]] has seen; bounded by
    * the dictionary, since the signature is a function of the labels */
  private val sigs = new ConcurrentHashMap[AnyRef, java.lang.Long]()

  /** the chunk scan joined to the series: the canonical columns, `__sg`
    * and, over a block-sink base, `metric`. A column is nullable if it was
    * in any chunk's source; `h`/`stt` stay marked store-absent while
    * neither the constructor's frame nor any chunk has one (the union below
    * keeps its first child's metadata, so the head drops the mark once a
    * chunk brings the column) */
  private def scan(s: State, absent: Set[String]): DataFrame = {
    val schema = StructType(ChunkSchema.fields.map { f =>
      f.copy(nullable = f.nullable || s.chunks.exists(_.nullable(f.name)),
        metadata = if (absent(f.name)) Engine.storeAbsent else Metadata.empty)
    })
    GraftBridge.internalCreateDataFrame(spark, new ChunkRDD(spark.sparkContext, s.chunks), schema)
      .join(s.series.frame, "__sg")
      .select((Engine.samplesSchema.fieldNames.toSeq ++ Seq("__sg") ++
        (if (withMetric) Seq("metric") else Nil)).map(col): _*)
  }

  /** canonical samples view, with `__sg`, tombstones applied */
  def samples: DataFrame = {
    val s = state
    val absent = Optional.filterNot(c => headHas(c) || s.chunks.exists(_.has(c)))
    val all = s.head match {
      case Some(h) if s.chunks.isEmpty => h
      case Some(h) =>
        (Optional -- headHas -- absent)
          .foldLeft(h)((d, c) => d.withMetadata(c, Metadata.empty))
          .unionByName(scan(s, absent))
      case None => scan(s, absent)
    }
    s.tombs.foldLeft(all) { (df, ts) =>
      val hit = ts.matchers.map(_.cond(col("labels"))).reduce(_ && _) &&
        col("t") >= ts.minT && col("t") <= ts.maxT
      df.filter(!hit)
    }
  }

  /** the number of series in the dictionary: every series appended since
    * the store was made (the constructor's frame is not counted until
    * [[cleanTombstones]] seals it) */
  def numSeries: Int = state.series.rows.size

  /** bytes the sealed chunks hold: rows and row ends */
  private[web] def chunkBytes: Long =
    state.chunks.iterator.map(c => c.bytes.length + 4L * c.rows).sum

  private def commit(batch: Sealed): Unit =
    if (batch.chunks.nonEmpty) synchronized {
      state = state.copy(series = state.series ++ batch.series,
        chunks = state.chunks ++ batch.chunks)
    }

  /** append a batch in canonical schema: one job evaluates it and seals its
    * rows; if that job fails, the exception propagates and the store is
    * unchanged. No ingest path of the server calls it (they all append
    * driver-side rows through [[appendRows]]); it serves frames built
    * elsewhere, such as a replayed trace. */
  def append(batch: DataFrame): Unit = commit(seal(batch, state.series.rows.keySet))

  /** append driver-side rows in [[Engine.samplesSchema]] (e.g. a decoded
    * remote-write request): encoded on the driver, no Spark job. A label
    * set seen before costs one hash-map lookup. */
  def appendRows(rows: Iterable[Row]): Unit = {
    val toRow = rowSerializer.get()
    val known = state.series.rows
    val fresh = mutable.LongMap.empty[InternalRow]
    val w = new ChunkWriter(ChunkSchema.size, Set.empty)
    rows.foreach { r =>
      val labels = r.getAs[AnyRef](0)
      val sg: Long = sigs.computeIfAbsent(labels, l => seriesRow(l).getLong(0))
      if (!known.contains(sg) && !fresh.contains(sg)) fresh(sg) = seriesRow(labels)
      w.addSample(toRow(Row(sg, r.get(1), r.get(2), r.get(3), r.get(4), r.get(5)))
        .asInstanceOf[UnsafeRow])
    }
    commit(Sealed(fresh.values.toSeq, w.result().toSeq))
  }

  /** /api/v1/admin/tsdb/delete_series (ref: web/api/v1/api.go:498) */
  def deleteSeries(matchers: List[LabelMatcher], minT: Long, maxT: Long): Unit =
    synchronized { state = state.copy(tombs = Tombstone(matchers, minT, maxT) :: state.tombs) }

  // ---------- metric metadata (ref: schema/labels.go, api.go /metadata) ----

  /** family → (type, unit, help); family-cardinality, driver-resident */
  @volatile private var meta: Map[String, (String, String, String)] = Map.empty

  def mergeMetadata(rows: Map[String, (String, String, String)]): Unit =
    synchronized { meta = meta ++ rows }

  /** merge from an [[graft.streaming.OpenMetrics.metadataOf]]-shaped frame */
  def mergeMetadata(df: DataFrame): Unit =
    mergeMetadata(df.collect().map { r =>
      def s(i: Int) = if (r.isNullAt(i)) "" else r.getString(i)
      r.getString(0) -> ((s(1), s(2), s(3)))
    }.toMap)

  def metadata: Map[String, (String, String, String)] = meta

  // ---------- exemplars (ref: model/exemplar/exemplar.go:25) --------------

  /** bounded exemplar storage (ref: tsdb/exemplar.go:38
    * CircularExemplarStorage; config storage.exemplars.max_exemplars,
    * default config.go DefaultExemplarsConfig = 100000): appending past the
    * cap evicts oldest-by-arrival, EXCEPT that each series' newest exemplar
    * is protected while the series count fits the cap — the reference keeps
    * a per-series index into its circular buffer, so one high-frequency
    * series bursting must not erase every other series' last exemplar.
    * ≤ 0 disables the storage entirely (appends are dropped), like the
    * reference's runtime-reloadable disable. */
  @volatile var maxExemplars: Long = 100000L

  /** number of appendExemplars calls — observability for the per-cycle
    * batching contract (one append per scrape pool cycle, not per target) */
  @volatile private[graft] var exemplarAppendCalls: Long = 0L

  /** the stored exemplars, on the driver: each series' ring of keys in
    * arrival order, and the rows in arrival order across series. An
    * eviction takes an exemplar from the front of its series' ring. */
  private val exemplarRings = mutable.HashMap.empty[AnyRef, ExemplarRing]
  private val exemplarOrder = mutable.ArrayDeque.empty[StoredExemplar]

  /** append (series labels, exemplar) rows in
    * [[graft.streaming.OpenMetrics.exemplarBatchSchema]], on the driver. A
    * row is admitted only if its exemplar orders STRICTLY after its series'
    * newest stored one by (t, v, exemplar-label hash) (ref:
    * tsdb/exemplar.go:231 validateExemplar): re-appending the same exemplar
    * every scrape cycle is a no-op, and older arrivals are out-of-order
    * drops. Every row of a batch is checked against what was stored before
    * it. */
  def appendExemplars(batch: Iterable[Row]): Unit = synchronized {
    exemplarAppendCalls += 1
    if (maxExemplars <= 0L) { exemplarRings.clear(); exemplarOrder.clear(); return }
    val before = mutable.HashMap.empty[AnyRef, Option[ExemplarKey]]
    val admitted = batch.iterator.filter(!_.isNullAt(1)).flatMap { r =>
      val series = r.getAs[AnyRef](0)
      val key = exemplarKey(r.getStruct(1))
      val newest = before.getOrElseUpdate(series, exemplarRings.get(series).map(_.newest))
      if (newest.exists(ExemplarOrdering.lteq(key, _))) None
      else Some(StoredExemplar(r, key, exemplarRings.getOrElseUpdate(series, new ExemplarRing)))
    }.toSeq
    admitted.foreach { e => e.ring.add(e.key); exemplarOrder += e }
    evictExemplars()
  }

  /** past the cap: evict the oldest exemplars that are not their series'
    * newest, then, while still past it, the oldest of the rest */
  private def evictExemplars(): Unit = {
    var excess = exemplarOrder.size - maxExemplars
    if (excess <= 0) return
    val protectedFront = mutable.ArrayBuffer.empty[StoredExemplar]
    while (excess > 0 && exemplarOrder.nonEmpty) {
      val e = exemplarOrder.removeHead()
      if (e.ring.size > 1) { e.ring.evictOldest(); excess -= 1 }
      else protectedFront += e
    }
    exemplarOrder.prependAll(protectedFront)
    while (excess > 0) {
      val e = exemplarOrder.removeHead()
      e.ring.evictOldest()
      exemplarRings.remove(e.row.getAs[AnyRef](0))
      excess -= 1
    }
  }

  /** the stored exemplars as a local frame in
    * [[graft.streaming.OpenMetrics.exemplarBatchSchema]]; None when there
    * are none */
  def exemplars: Option[DataFrame] = synchronized {
    if (exemplarOrder.isEmpty) None
    else Some(spark.createDataFrame(exemplarOrder.map(_.row).asJava,
      graft.streaming.OpenMetrics.exemplarBatchSchema))
  }

  /** /api/v1/admin/tsdb/clean_tombstones — materialize deletions: the
    * tombstone-applied view is sealed into chunks that replace the store's
    * contents */
  def cleanTombstones(): Unit = synchronized {
    val all = seal(samples, state.series.rows.keySet)
    state = State(None, state.series ++ all.series, all.chunks.toVector, Nil)
  }

  /** /api/v1/admin/tsdb/snapshot — persist the current (tombstone-applied)
    * view as parquet (ref: web/api/v1/api.go snapshot → tsdb Snapshot), in
    * the constructor frame's columns; returns the snapshot name */
  def snapshot(baseDir: String): String = {
    val name = s"${System.currentTimeMillis()}-${java.util.UUID.randomUUID.toString.take(8)}"
    val view = if (initial.columns.contains("__sg")) samples else samples.drop("__sg")
    view.write.mode("overwrite").parquet(s"$baseDir/$name")
    name
  }
}

object SampleStore {

  /** a chunk row: the series signature in place of the labels */
  private val ChunkSchema = StructType(
    StructField("__sg", LongType, nullable = false) +: Engine.samplesSchema.fields.tail)
  /** a dictionary row */
  private val SeriesSchema = StructType(Seq(
    StructField("__sg", LongType, nullable = false), Engine.samplesSchema("labels")))
  private val LabelsType = Engine.samplesSchema("labels").dataType
  /** the canonical columns a store may lack (see `Engine.canonical`) */
  private val Optional = Set("h", "stt")
  private val H = ChunkSchema.fieldIndex("h")
  private val Stt = ChunkSchema.fieldIndex("stt")

  private lazy val chunkEncoder = ExpressionEncoder(ChunkSchema)
  // one per thread: a serializer is not thread-safe, and making one
  // generates code (about 6 ms, ten times the encoding of 1000 rows)
  private val rowSerializer = ThreadLocal.withInitial(() => chunkEncoder.createSerializer())
  private val toCatalystLabels = CatalystTypeConverters.createToCatalystConverter(LabelsType)
  /** [[Engine.seriesSig]] over a row of one column, `labels` */
  private lazy val sigOfLabels: Expression = {
    val labels = StructType(Seq(SeriesSchema("labels")))
    val plan = SparkSession.active.createDataFrame(java.util.Collections.emptyList[Row], labels)
      .select(Engine.seriesSig(col("labels"))).queryExecution.analyzed
    BindReferences.bindReference(plan.expressions.head.children.head, plan.children.head.output)
  }

  /** a label set's dictionary row, its signature computed without
    * generated code (a new series is rare next to its samples) */
  private def seriesRow(labels: Any): InternalRow = {
    val m = toCatalystLabels(labels)
    InternalRow(sigOfLabels.eval(InternalRow(m)), m)
  }

  /** whether a frame has no rows, read off its plan without running a job:
    * projections and filters over an empty local relation or over an RDD
    * with no partitions */
  private def provablyEmpty(df: DataFrame): Boolean = {
    def empty(p: LogicalPlan): Boolean = p match {
      case l: LocalRelation => l.data.isEmpty
      case r: LogicalRDD => r.rdd.partitions.isEmpty
      case _: Project | _: Filter => empty(p.children.head)
      case _ => false
    }
    empty(df.queryExecution.analyzed)
  }

  /** what an append commits: the series the dictionary lacked, and the
    * chunks */
  private final case class Sealed(series: Seq[InternalRow], chunks: Seq[Chunk])

  /** one job: each of the batch's partitions sealed into one chunk, with
    * the series in it that are not `known` */
  private def seal(batch: DataFrame, known: collection.Set[Long]): Sealed = {
    val canon = Engine.canonical(batch)
    val sg = if (canon.columns.contains("__sg")) col("__sg") else Engine.seriesSig(col("labels"))
    // a column already of the canonical type (nullability aside) has the
    // canonical row layout; a cast could not narrow its nullability anyway
    val df = canon.select(sg.as("__sg") +: (ChunkSchema.fields.tail :+ SeriesSchema("labels"))
      .toIndexedSeq.map { f =>
        if (canon.schema(f.name).dataType.catalogString == f.dataType.catalogString) col(f.name)
        else col(f.name).cast(f.dataType)
      }: _*)
    val nullable = df.schema.filter(_.nullable).map(_.name).toSet
    val schema = df.schema
    val labels = schema.size - 1
    val chunkCols = ChunkSchema.fields.indices
      .map(i => BoundReference(i, schema(i).dataType, schema(i).nullable))
    val seriesCols = Seq(BoundReference(0, LongType, nullable = false),
      BoundReference(labels, schema(labels).dataType, nullable = false))
    val known0 = immutable.HashSet.from(known)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val toChunk = UnsafeProjection.create(chunkCols)
      val toSeries = UnsafeProjection.create(seriesCols)
      val w = new ChunkWriter(ChunkSchema.size, nullable)
      val fresh = mutable.LongMap.empty[InternalRow]
      it.foreach { r =>
        val sg = r.getLong(0)
        if (!known0(sg) && !fresh.contains(sg)) fresh(sg) = toSeries(r).copy()
        w.addSample(toChunk(r))
      }
      Iterator((fresh.values.toSeq, w.result()))
    }.collect()
    Sealed(parts.flatMap(_._1).toSeq, parts.flatMap(_._2).toSeq)
  }

  /** an exemplar's admission order: (t, v, exemplar-label hash), doubles
    * compared as Spark SQL compares them (NaN largest, -0.0 = 0.0) */
  private type ExemplarKey = (Long, Double, Long)
  private val ExemplarOrdering: Ordering[ExemplarKey] = Ordering.Tuple3(Ordering.Long,
    (x: Double, y: Double) => if (x == y) 0 else java.lang.Double.compare(x, y), Ordering.Long)

  /** the key of an exemplar row (labels, v, t); the hash is
    * [[Engine.seriesSig]] of the exemplar's labels */
  private def exemplarKey(ex: Row): ExemplarKey =
    (ex.getLong(2), ex.getDouble(1), seriesRow(ex.get(0)).getLong(0))

  /** one stored exemplar row and its series' ring */
  private final case class StoredExemplar(row: Row, key: ExemplarKey, ring: ExemplarRing)

  /** one series' exemplar keys in arrival order, and the largest of them */
  private final class ExemplarRing {
    private val keys = mutable.ArrayDeque.empty[ExemplarKey]
    private var max: ExemplarKey = _

    def size: Int = keys.size

    def newest: ExemplarKey = max

    def add(k: ExemplarKey): Unit = {
      if (keys.isEmpty || ExemplarOrdering.gt(k, max)) max = k
      keys += k
    }

    def evictOldest(): Unit = {
      val k = keys.removeHead()
      if (keys.nonEmpty && ExemplarOrdering.equiv(k, max)) max = keys.max(ExemplarOrdering)
    }
  }

  /** sealed rows of one schema in `UnsafeRow` layout, packed back to back
    * in one array; `ends(i)` is where row i ends. Also kept: the columns
    * that were nullable in the rows' source, and whether any sample row
    * has a native histogram or a start timestamp. */
  private final class Chunk(val bytes: Array[Byte], val ends: Array[Int], numFields: Int,
      val nullable: Set[String], hasH: Boolean, hasStt: Boolean) extends Serializable {
    def rows: Int = ends.length

    def has(column: String): Boolean = column match {
      case "h" => hasH
      case "stt" => hasStt
    }

    /** the rows through one reused `UnsafeRow` */
    def iterator: Iterator[InternalRow] = new Iterator[InternalRow] {
      private val row = new UnsafeRow(numFields)
      private var i = 0
      def hasNext: Boolean = i < ends.length
      def next(): InternalRow = {
        val start = if (i == 0) 0 else ends(i - 1)
        row.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + start, ends(i) - start)
        i += 1
        row
      }
    }
  }

  private final class ChunkWriter(numFields: Int, nullable: Set[String]) {
    private var buf = new Array[Byte](1 << 12)
    private var n = 0
    private val ends = Array.newBuilder[Int]
    private var hasH = false
    private var hasStt = false

    def add(r: UnsafeRow): Unit = {
      val len = r.getSizeInBytes
      if (n + len > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, n + len))
      Platform.copyMemory(r.getBaseObject, r.getBaseOffset, buf, Platform.BYTE_ARRAY_OFFSET + n, len)
      n += len
      ends += n
    }

    /** a row in [[ChunkSchema]] */
    def addSample(r: UnsafeRow): Unit = {
      // the canonical form of an absent start timestamp is 0
      if (r.isNullAt(Stt)) r.setLong(Stt, 0L)
      add(r)
      hasH ||= !r.isNullAt(H)
      hasStt ||= r.getLong(Stt) != 0L
    }

    /** the chunk, or nothing when no row was added */
    def result(): Option[Chunk] = {
      val e = ends.result()
      if (e.isEmpty) None
      else Some(new Chunk(java.util.Arrays.copyOf(buf, n), e, numFields, nullable, hasH, hasStt))
    }
  }

  private final class ChunkPartition(val index: Int, val chunks: Seq[Chunk]) extends Partition

  /** a scan over sealed chunks. The chunk vector stays on the driver
    * (`@transient`); each partition carries its own contiguous run of
    * chunks, so a chunk ships once per scan. The partition count follows
    * `defaultParallelism`, with runs balanced by row count. */
  private final class ChunkRDD(sc: SparkContext, @transient private val chunks: Vector[Chunk])
      extends RDD[InternalRow](sc, Nil) {

    override protected def getPartitions: Array[Partition] = {
      val total = chunks.iterator.map(_.rows.toLong).sum
      val p = math.min(sparkContext.defaultParallelism, chunks.size).toLong
      var before = 0L
      val owner = chunks.map { c => val o = before * p / total; before += c.rows; o }
      chunks.zip(owner).groupBy(_._2).toSeq.sortBy(_._1).zipWithIndex.map {
        case ((_, run), i) => new ChunkPartition(i, run.map(_._1)): Partition
      }.toArray
    }

    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
      split.asInstanceOf[ChunkPartition].chunks.iterator.flatMap(_.iterator)
  }
}
