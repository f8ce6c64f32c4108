package graft.web

import graft.promql.{Engine, LabelMatcher, MatchOp}
import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Metadata, StructType}
import org.apache.spark.unsafe.Platform

/** Mutable sample store backing the serving layer (HTTP API, remote write,
  * federation).
  *
  * Appended data is SEALED once: an append encodes its rows into `UnsafeRow`
  * bytes exactly once and keeps them as an immutable chunk (the analog of
  * the reference's head-block chunks, tsdb/head.go:71). Rows that originate
  * on the driver ([[appendRows]]: remote-write/OTLP decode, scrape reports
  * and staleness markers) are encoded without a Spark job; a DataFrame
  * ([[append]]: rule output, scraped frames) is evaluated by one job at
  * append time, so a failure throws from `append` and leaves the store as
  * it was, and no later read re-runs the batch's plan. [[samples]] is the
  * constructor's frame ∪ ONE scan over a snapshot of the chunk vector, with
  * tombstone filters on top: its plan has a fixed size however many batches
  * were appended.
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
    * empty, and until [[cleanTombstones]] seals it), the sealed chunks in
    * append order, and the tombstones */
  private case class State(head: Option[DataFrame], chunks: Vector[Chunk],
      tombs: List[Tombstone])

  // a base loaded from the block sink carries __sg/metric (Ingest.sink);
  // the chunks hold the six canonical columns, so samples derives the same
  // columns over the chunk scan once
  private val sinkCols = Seq("__sg", "metric").filter(initial.columns.contains)
  // a provably empty constructor frame (the server's) is no head: its full
  // schema would count h/stt as present, and the planner would keep the
  // histogram and start-timestamp legs over a float-only store
  private val head = Some(initial).filterNot(provablyEmpty)
  private val headHas = head.fold(Set.empty[String])(h => Optional.filter(h.columns.contains))

  @volatile private var state = State(head.map(Engine.canonical), Vector.empty, Nil)

  private def matcherCond(m: LabelMatcher): org.apache.spark.sql.Column = {
    val c = coalesce(element_at(col("labels"), m.name), lit(""))
    m.op match {
      case MatchOp.Eq => c === m.value
      case MatchOp.Neq => c =!= m.value
      case MatchOp.Re => c.rlike("^(?:" + m.value + ")$")
      case MatchOp.NotRe => !c.rlike("^(?:" + m.value + ")$")
    }
  }

  /** the scan over `chunks`, in canonical schema plus the sink columns. A
    * column is nullable if it was in any chunk's source; `h`/`stt` stay
    * marked store-absent while neither the constructor's frame nor any
    * chunk has one (the union below keeps its first child's metadata, so
    * the head drops the mark once a chunk brings the column) */
  private def scan(chunks: Vector[Chunk], absent: Set[String]): DataFrame = {
    val schema = StructType(Engine.samplesSchema.fields.map { f =>
      f.copy(nullable = f.nullable || chunks.exists(_.nullable(f.name)),
        metadata = if (absent(f.name)) Engine.storeAbsent else Metadata.empty)
    })
    val df = GraftBridge.internalCreateDataFrame(spark,
      new ChunkRDD(spark.sparkContext, chunks), schema)
    sinkCols.foldLeft(df) {
      case (d, "__sg") => Engine.withSeriesSig(d)
      case (d, _) => d.withColumn("metric", element_at(col("labels"), "__name__"))
    }
  }

  /** canonical samples view with tombstones applied */
  def samples: DataFrame = {
    val s = state
    val absent = Optional.filterNot(c => headHas(c) || s.chunks.exists(_.has(c)))
    val all = s.head match {
      case Some(h) if s.chunks.isEmpty => h
      case Some(h) =>
        (Optional -- headHas -- absent)
          .foldLeft(h)((d, c) => d.withMetadata(c, Metadata.empty))
          .unionByName(scan(s.chunks, absent))
      case None => scan(s.chunks, absent)
    }
    s.tombs.foldLeft(all) { (df, ts) =>
      val hit = ts.matchers.map(matcherCond).reduce(_ && _) &&
        col("t") >= ts.minT && col("t") <= ts.maxT
      df.filter(!hit)
    }
  }

  private def commit(chunks: Seq[Chunk]): Unit =
    if (chunks.nonEmpty) synchronized { state = state.copy(chunks = state.chunks ++ chunks) }

  /** append a batch in canonical schema (e.g. rule output or a scraped
    * frame): one job evaluates it and seals its rows; if that job fails,
    * the exception propagates and the store is unchanged */
  def append(batch: DataFrame): Unit = commit(seal(batch))

  /** append driver-side rows in [[Engine.samplesSchema]] (e.g. a decoded
    * remote-write request): encoded on the driver, no Spark job */
  def appendRows(rows: Iterable[Row]): Unit = {
    val toRow = rowSerializer.get()
    val w = new ChunkWriter(Set.empty)
    rows.foreach(r => w.add(toRow(r).asInstanceOf[UnsafeRow]))
    commit(w.result().toSeq)
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

  /** exemplar rows: (labels MAP — the parent series, exemplar STRUCT
    * (labels, v, t)); sample-path volume stays untouched — exemplars ride a
    * side table exactly like the reference's exemplar storage */
  @volatile private var exemplarDf: Option[DataFrame] = None
  // driver-side running count + insertion sequence: the circular-buffer
  // bound (below) needs arrival order, which a DataFrame doesn't carry
  private var exemplarCount: Long = 0L
  private var exemplarSeqBase: Long = 0L

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

  def appendExemplars(batch: DataFrame): Unit = synchronized {
    exemplarAppendCalls += 1
    if (maxExemplars <= 0L) { exemplarDf = None; exemplarCount = 0L; return }
    import org.apache.spark.sql.functions.{array_sort, desc, lit, map_entries,
      monotonically_increasing_id, struct, xxhash64, max => smax}
    val cleaned0 = batch.filter(col("exemplar").isNotNull)
      .select(col("labels"), col("exemplar"))
    // per-series OOO/duplicate rejection (ref: tsdb/exemplar.go:231
    // validateExemplar): an exemplar is admitted only if it orders STRICTLY
    // after the series' newest stored one by (ts, value, exemplar-label
    // hash) — re-appending the same exemplar every scrape cycle is a no-op
    // (the exporter exposes it unchanged until new events), older arrivals
    // are out-of-order drops. Spark struct comparison is lexicographic, so
    // the reference's three-way ordering is one column comparison.
    def sKey(c: org.apache.spark.sql.Column) = xxhash64(array_sort(map_entries(c)))
    def ordKey(ex: org.apache.spark.sql.Column) = struct(ex.getField("t"), ex.getField("v"),
      xxhash64(array_sort(map_entries(ex.getField("labels")))))
    val cleaned = exemplarDf match {
      case Some(df) =>
        val newest = df
          .select(sKey(col("labels")).as("__sk"), ordKey(col("exemplar")).as("__n"))
          .groupBy(col("__sk")).agg(smax(col("__n")).as("__n"))
        cleaned0.withColumn("__sk", sKey(col("labels")))
          .withColumn("__c", ordKey(col("exemplar")))
          .join(newest, Seq("__sk"), "left")
          .filter(col("__n").isNull || col("__c") > col("__n"))
          .select(col("labels"), col("exemplar"))
      case None => cleaned0
    }
    val stamped = cleaned
      // per-batch arrival stamp: batches are driver-origin single-partition,
      // so monotonically_increasing_id orders within the batch and the
      // stepped base orders across batches
      .withColumn("__seq", monotonically_increasing_id() + lit(exemplarSeqBase))
    exemplarSeqBase += (1L << 33) // > any single batch's id range
    val n = stamped.count()
    if (n == 0L) return
    val merged = exemplarDf match {
      case Some(df) => df.unionByName(stamped)
      case None => stamped
    }
    exemplarCount += n
    val bounded =
      if (exemplarCount <= maxExemplars) merged
      else { // evict past the cap: protect each series' newest exemplar
        // first (per-series fairness), then newest-by-arrival — a burst on
        // one series evicts its OWN older exemplars before touching another
        // series' last one (ref exemplar.go per-series circular index)
        import org.apache.spark.sql.functions.{array_sort, map_entries,
          row_number, when, xxhash64}
        import org.apache.spark.sql.expressions.Window
        exemplarCount = maxExemplars
        val w = Window
          .partitionBy(xxhash64(array_sort(map_entries(col("labels")))))
          .orderBy(desc("__seq"))
        merged.withColumn("__rk", row_number().over(w))
          .orderBy(when(col("__rk") === 1, 1).otherwise(0).desc, col("__seq").desc)
          .limit(math.min(maxExemplars, Int.MaxValue).toInt)
          .drop("__rk")
      }
    exemplarDf = Some(bounded.localCheckpoint(true))
  }

  def exemplars: Option[DataFrame] = exemplarDf.map(_.drop("__seq"))

  /** /api/v1/admin/tsdb/clean_tombstones — materialize deletions: the
    * tombstone-applied view is sealed into chunks that replace the store's
    * contents */
  def cleanTombstones(): Unit = synchronized {
    state = State(None, seal(samples).toVector, Nil)
  }

  /** /api/v1/admin/tsdb/snapshot — persist the current (tombstone-applied)
    * view as parquet (ref: web/api/v1/api.go snapshot → tsdb Snapshot);
    * returns the snapshot name */
  def snapshot(baseDir: String): String = {
    val name = s"${System.currentTimeMillis()}-${java.util.UUID.randomUUID.toString.take(8)}"
    samples.write.mode("overwrite").parquet(s"$baseDir/$name")
    name
  }
}

object SampleStore {

  private lazy val rowEncoder = ExpressionEncoder(Engine.samplesSchema)
  // one per thread: a serializer is not thread-safe, and making one
  // generates code (about 6 ms, ten times the encoding of 1000 rows)
  private val rowSerializer = ThreadLocal.withInitial(() => rowEncoder.createSerializer())
  /** the canonical columns a store may lack (see `Engine.canonical`) */
  private val Optional = Set("h", "stt")
  private val NumFields = Engine.samplesSchema.size
  private val H = Engine.samplesSchema.fieldIndex("h")
  private val Stt = Engine.samplesSchema.fieldIndex("stt")

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

  /** one job: the batch's partitions, each sealed into one chunk */
  private def seal(batch: DataFrame): Seq[Chunk] = {
    val canon = Engine.canonical(batch)
    // a column already of the canonical type (nullability aside) has the
    // canonical row layout; a cast could not narrow its nullability anyway
    val df = canon.select(Engine.samplesSchema.fields.toIndexedSeq.map { f =>
      if (canon.schema(f.name).dataType.catalogString == f.dataType.catalogString) col(f.name)
      else col(f.name).cast(f.dataType)
    }: _*)
    val nullable = df.schema.filter(_.nullable).map(_.name).toSet
    df.queryExecution.toRdd.mapPartitions { it =>
      lazy val toUnsafe = UnsafeProjection.create(Engine.samplesSchema)
      val w = new ChunkWriter(nullable)
      it.foreach {
        case u: UnsafeRow => w.add(u)
        case r => w.add(toUnsafe(r))
      }
      w.result().iterator
    }.collect().toSeq
  }

  /** sealed rows in [[Engine.samplesSchema]]'s `UnsafeRow` layout, packed
    * back to back in one array; `ends(i)` is where row i ends. Also kept:
    * the columns that were nullable in the rows' source, and whether any
    * row has a native histogram or a start timestamp. */
  private final class Chunk(val bytes: Array[Byte], val ends: Array[Int],
      val nullable: Set[String], hasH: Boolean, hasStt: Boolean) extends Serializable {
    def rows: Int = ends.length

    def has(column: String): Boolean = column match {
      case "h" => hasH
      case "stt" => hasStt
    }

    /** the rows through one reused `UnsafeRow` */
    def iterator: Iterator[InternalRow] = new Iterator[InternalRow] {
      private val row = new UnsafeRow(NumFields)
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

  private final class ChunkWriter(nullable: Set[String]) {
    private var buf = new Array[Byte](1 << 12)
    private var n = 0
    private val ends = Array.newBuilder[Int]
    private var hasH = false
    private var hasStt = false

    def add(r: UnsafeRow): Unit = {
      // the canonical form of an absent start timestamp is 0
      if (r.isNullAt(Stt)) r.setLong(Stt, 0L)
      val len = r.getSizeInBytes
      if (n + len > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, n + len))
      Platform.copyMemory(r.getBaseObject, r.getBaseOffset, buf, Platform.BYTE_ARRAY_OFFSET + n, len)
      n += len
      ends += n
      hasH ||= !r.isNullAt(H)
      hasStt ||= r.getLong(Stt) != 0L
    }

    /** the chunk, or nothing when no row was added */
    def result(): Option[Chunk] = {
      val e = ends.result()
      if (e.isEmpty) None
      else Some(new Chunk(java.util.Arrays.copyOf(buf, n), e, nullable, hasH, hasStt))
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
