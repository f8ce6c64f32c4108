package graft.web

import graft.promql.{Engine, FHist, LabelMatcher}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
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
  * in immutable chunks (the analog of the reference's head block:
  * `memSeries` in `stripeSeries`, and the chunks that refer to a series by
  * its ref, tsdb/head.go:71). Appended data is SEALED once into one chunk
  * layout, column by column: the `__sg` column as an array of longs, `t` as
  * one long when every row shares it, `v` as an array of doubles, and
  * `stale`, `stt` and `h` only when some row uses them (`h` only for the
  * rows that carry a histogram). The `__sg` column is interned per store by
  * content, so every batch with the same series in the same order (each
  * scrape of a target, each remote-write batch of a sender) shares one
  * array, and a float sample of such a batch costs its 8-byte value. Every
  * ingest path (scrape, remote write, OTLP, rule output and staleness
  * markers) holds its rows on the driver, and [[appendRows]] writes their
  * columns without a Spark job, each label set interned on the driver. Every
  * write goes through one chunk writer: a DataFrame ([[append]]) is
  * collected once and written like driver rows, so a failure throws from
  * `append` and leaves the store as it was, and no later read re-runs the
  * batch's plan; [[cleanTombstones]] writes chunks again without their
  * deleted rows. A batch's new series and its chunk are committed in one
  * swap, so no read sees a chunk whose series is missing. Exemplars are kept
  * beside the samples, on the driver, in per-series rings
  * ([[appendExemplars]]).
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
    * empty, and until [[cleanTombstones]] writes it), the series dictionary,
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
    * and, over a block-sink base, `metric`. A column is nullable if any
    * chunk holds a null in it; `h`/`stt` stay marked store-absent while
    * neither the constructor's frame nor any chunk has one (the union below
    * keeps its first child's metadata, so the head drops the mark once a
    * chunk brings the column) */
  private def scan(s: State, absent: Set[String]): DataFrame = {
    val schema = StructType(ChunkSchema.fields.zipWithIndex.map { case (f, i) =>
      f.copy(nullable = f.nullable || s.chunks.exists(_.nulls.contains(i)),
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
    * [[cleanTombstones]] writes it) */
  def numSeries: Int = state.series.rows.size

  /** bytes the sealed chunks hold, a series column shared by several
    * chunks counted once */
  private[web] def chunkBytes: Long = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Array[Long], java.lang.Boolean])
    state.chunks.iterator.map(c => c.bytes + (if (seen.add(c.sg)) 8L * c.rows else 0L)).sum
  }

  /** the chunks' series columns by content; guarded by the store's lock */
  private val seriesColumns = mutable.HashMap.empty[immutable.ArraySeq[Long], Array[Long]]

  /** the chunk with the stored series column of the same content, if any */
  private def interned(c: Chunk): Chunk =
    c.withSeries(seriesColumns.getOrElseUpdate(immutable.ArraySeq.unsafeWrapArray(c.sg), c.sg))

  private def commit(batch: Batch): Unit =
    batch.chunk.foreach(c => synchronized {
      state = state.copy(series = state.series ++ batch.series, chunks = state.chunks :+ interned(c))
    })

  /** append a batch in canonical schema: collected once and written like
    * [[appendRows]]; if the collect fails, the exception propagates and the
    * store is unchanged. No ingest path of the server calls it (they all
    * append driver-side rows through [[appendRows]]); it serves frames built
    * elsewhere, such as a replayed trace. */
  def append(batch: DataFrame): Unit = commit(written(collectCanonical(batch)))

  /** append driver-side rows in [[Engine.samplesSchema]] (e.g. a decoded
    * remote-write request): their columns written on the driver, no Spark
    * job. A label set seen before costs one hash-map lookup. */
  def appendRows(rows: Iterable[Row]): Unit = commit(written(rows))

  /** rows in [[Engine.samplesSchema]] order as one chunk, with the series
    * the dictionary lacks */
  private def written(rows: Iterable[Row]): Batch = {
    val known = state.series.rows
    val fresh = mutable.LongMap.empty[InternalRow]
    val w = new ChunkWriter
    rows.foreach { r =>
      val labels = r.getAs[AnyRef](0)
      val sg: Long = sigs.computeIfAbsent(labels, l => seriesRow(l).getLong(0))
      if (!known.contains(sg) && !fresh.contains(sg)) fresh(sg) = seriesRow(labels)
      w.add(sg, r)
    }
    Batch(fresh.values, w.result())
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
    * are none. `/api/v1/query_exemplars` reads [[exemplarsOf]] instead. */
  def exemplars: Option[DataFrame] = synchronized {
    if (exemplarOrder.isEmpty) None
    else Some(spark.createDataFrame(exemplarOrder.map(_.row).asJava,
      graft.streaming.OpenMetrics.exemplarBatchSchema))
  }

  /** the stored exemplars of the series whose labels `keep` accepts, with a
    * timestamp in [start, end], on the driver: each such series' labels and
    * its exemplar structs (labels, v, t) in arrival order */
  def exemplarsOf(keep: Map[String, String] => Boolean, start: Long,
      end: Long): Seq[(Map[String, String], Seq[Row])] = synchronized {
    def labels(series: AnyRef) = series.asInstanceOf[collection.Map[String, String]].toMap
    val matched = exemplarRings.keysIterator.filter(s => keep(labels(s))).toSet
    exemplarOrder.iterator.map(_.row)
      .filter(r => matched(r.getAs[AnyRef](0)) && {
        val t = r.getStruct(1).getLong(2)
        t >= start && t <= end
      })
      .toSeq.groupBy(_.getAs[AnyRef](0)).toSeq
      .map { case (series, rows) => labels(series) -> rows.map(_.getStruct(1)) }
  }

  /** /api/v1/admin/tsdb/clean_tombstones — materialize deletions on the
    * driver: each chunk with a deleted row is written again without it (a
    * chunk left empty is dropped), and the constructor's frame, if any, is
    * collected and written as one chunk without its deleted rows. A
    * tombstone's matchers are tested once per series. */
  def cleanTombstones(): Unit = synchronized {
    val s = state
    // per label set: the tombstones whose matchers it matches
    def hitting(labels: collection.Map[String, String]) =
      s.tombs.filter(_.matchers.forall(m => m.matches(labels.getOrElse(m.name, ""))))
    // a null `t` is deleted too: the read-time filter's `!hit` is null there
    def deleted(hits: List[Tombstone], r: Row) = hits.exists(ts =>
      r.isNullAt(T) || r.getLong(T) >= ts.minT && r.getLong(T) <= ts.maxT)
    val toLabels = CatalystTypeConverters.createToScalaConverter(LabelsType)
    val seriesHits = s.series.rows.iterator.map { case (sg, r) =>
      sg -> hitting(toLabels(r.getMap(1)).asInstanceOf[collection.Map[String, String]])
    }.filter(_._2.nonEmpty).toMap
    val toRow = CatalystTypeConverters.createToScalaConverter(ChunkSchema)
    val chunks = s.chunks.flatMap { c =>
      if (!c.sg.exists(seriesHits.contains)) Some(c)
      else {
        val w = new ChunkWriter
        c.iterator.map(toRow(_).asInstanceOf[Row])
          .filterNot(r => seriesHits.get(r.getLong(0)).exists(deleted(_, r)))
          .foreach(r => w.add(r.getLong(0), r))
        w.result()
      }
    }
    val head = s.head.map { h =>
      val hits = mutable.HashMap.empty[AnyRef, List[Tombstone]]
      written(collectCanonical(h).filterNot(r => deleted(hits.getOrElseUpdate(r.getAs[AnyRef](0),
        hitting(r.getMap[String, String](0))), r)))
    }
    seriesColumns.clear()
    state = State(None, s.series ++ head.toList.flatMap(_.series),
      (chunks ++ head.flatMap(_.chunk)).map(interned), Nil)
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
  private val T = ChunkSchema.fieldIndex("t")
  private val V = ChunkSchema.fieldIndex("v")
  private val Stale = ChunkSchema.fieldIndex("stale")
  private val H = ChunkSchema.fieldIndex("h")
  private val Stt = ChunkSchema.fieldIndex("stt")
  private val HistFields = FHist.schemaType.size

  /** encodes a native histogram, the one column kept in `UnsafeRow` layout */
  private lazy val histEncoder =
    ExpressionEncoder(StructType(Seq(ChunkSchema("h").copy(nullable = false))))
  // one per thread: a serializer is not thread-safe, and making one
  // generates code
  private val histSerializer = ThreadLocal.withInitial(() => histEncoder.createSerializer())
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
    * chunk, none when there were no rows */
  private final case class Batch(series: Iterable[InternalRow], chunk: Option[Chunk])

  /** a frame's rows in [[Engine.samplesSchema]] order, by one collect */
  private def collectCanonical(df: DataFrame): Array[Row] = {
    val canon = Engine.canonical(df)
    // a column already of the canonical type (nullability aside) is read as
    // it is; a cast could not narrow its nullability anyway
    canon.select(Engine.samplesSchema.fields.toIndexedSeq.map { f =>
      if (canon.schema(f.name).dataType.catalogString == f.dataType.catalogString) col(f.name)
      else col(f.name).cast(f.dataType)
    }: _*).collect()
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

  /** one batch's samples, column by column in [[ChunkSchema]]'s order:
    *  - `sg`: the series column, shared by every chunk of the store with
    *    the same series in the same order;
    *  - `ts`: one timestamp when every row has it, else one per row;
    *  - `vs`: the values;
    *  - `stale`: the rows that are staleness markers, null when none is;
    *  - `stt`: the start timestamps, null when every one is 0;
    *  - `hRows`: the rows that carry a native histogram, ascending, whose
    *    structs lie back to back in `hBytes` in `UnsafeRow` layout, the
    *    k-th ending at `hEnds(k)`;
    *  - `nulls`: for `t`, `v` or `stale`, the rows where it is null, when
    *    it holds a null. */
  private final class Chunk(val sg: Array[Long], ts: Array[Long], vs: Array[Double],
      stale: java.util.BitSet, stt: Array[Long], hRows: Array[Int], hBytes: Array[Byte],
      hEnds: Array[Int], val nulls: Map[Int, java.util.BitSet])
      extends Serializable {
    def rows: Int = sg.length

    def has(column: String): Boolean = column match {
      case "h" => hRows.nonEmpty
      case "stt" => stt != null
    }

    /** the bytes of every column but the series column */
    def bytes: Long = 8L * (ts.length + vs.length) + hBytes.length + 4L * (hRows.length +
      hEnds.length) + (if (stale == null) 0 else stale.size / 8) +
      (if (stt == null) 0 else 8L * stt.length) + nulls.valuesIterator.map(_.size / 8).sum

    def withSeries(shared: Array[Long]): Chunk =
      if (shared eq sg) this
      else new Chunk(shared, ts, vs, stale, stt, hRows, hBytes, hEnds, nulls)

    /** the rows as [[ChunkSchema]] `UnsafeRow`s, through one reused row */
    def iterator: Iterator[InternalRow] = new Iterator[InternalRow] {
      private val w = new UnsafeRowWriter(ChunkSchema.size)
      private val hist = new UnsafeRow(HistFields)
      private var i = 0
      private var k = 0
      private def isNull(f: Int) = nulls.nonEmpty && nulls.get(f).exists(_.get(i))
      def hasNext: Boolean = i < sg.length
      def next(): InternalRow = {
        w.reset()
        w.zeroOutNullBytes()
        w.write(0, sg(i))
        if (isNull(T)) w.setNullAt(T) else w.write(T, if (ts.length == 1) ts(0) else ts(i))
        if (isNull(V)) w.setNullAt(V) else w.write(V, vs(i))
        if (isNull(Stale)) w.setNullAt(Stale) else w.write(Stale, stale != null && stale.get(i))
        if (k < hRows.length && hRows(k) == i) {
          val start = if (k == 0) 0 else hEnds(k - 1)
          hist.pointTo(hBytes, Platform.BYTE_ARRAY_OFFSET + start, hEnds(k) - start)
          w.write(H, hist)
          k += 1
        } else w.setNullAt(H)
        w.write(Stt, if (stt == null) 0L else stt(i))
        i += 1
        w.getRow
      }
    }
  }

  /** builds one [[Chunk]] row by row: every write of the store goes
    * through one */
  private final class ChunkWriter {
    private val toHist = histSerializer.get()
    private var n = 0
    private val sg = new mutable.ArrayBuilder.ofLong
    private val ts = new mutable.ArrayBuilder.ofLong
    private val vs = new mutable.ArrayBuilder.ofDouble
    private val stale = new java.util.BitSet
    private val stt = new mutable.ArrayBuilder.ofLong
    private var hasStt = false
    private val hRows = new mutable.ArrayBuilder.ofInt
    private var hBytes = Array.emptyByteArray
    private var hLen = 0
    private val hEnds = new mutable.ArrayBuilder.ofInt
    private val nulls = mutable.HashMap.empty[Int, java.util.BitSet]

    /** a row whose `t` to `stt` are in [[Engine.samplesSchema]]'s places
      * (the first column is not read), of the series `series`. A null `t`,
      * `v` or `stale` is kept as a null; the canonical form of an absent
      * start timestamp is 0. */
    def add(series: Long, r: Row): Unit = {
      def isNull(f: Int) =
        r.isNullAt(f) && { nulls.getOrElseUpdate(f, new java.util.BitSet).set(n); true }
      val st = if (r.isNullAt(Stt)) 0L else r.getLong(Stt)
      sg += series; stt += st
      ts += (if (isNull(T)) 0L else r.getLong(T))
      vs += (if (isNull(V)) 0.0 else r.getDouble(V))
      if (!isNull(Stale) && r.getBoolean(Stale)) stale.set(n)
      hasStt ||= st != 0L
      if (!r.isNullAt(H)) {
        val h = toHist(Row(r.get(H))).getStruct(0, HistFields).asInstanceOf[UnsafeRow]
        val len = h.getSizeInBytes
        if (hLen + len > hBytes.length)
          hBytes = java.util.Arrays.copyOf(hBytes, math.max(hBytes.length * 2, hLen + len))
        Platform.copyMemory(h.getBaseObject, h.getBaseOffset, hBytes,
          Platform.BYTE_ARRAY_OFFSET + hLen, len)
        hLen += len
        hRows += n
        hEnds += hLen
      }
      n += 1
    }

    /** the chunk, or nothing when no row was added */
    def result(): Option[Chunk] = if (n == 0) None else {
      val t = ts.result()
      Some(new Chunk(sg.result(), if (t.forall(_ == t(0))) Array(t(0)) else t, vs.result(),
        if (stale.isEmpty) null else stale, if (hasStt) stt.result() else null, hRows.result(),
        java.util.Arrays.copyOf(hBytes, hLen), hEnds.result(), nulls.toMap))
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
