package graft.web

import graft.promql._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.functions.{col, element_at, lit, raise_error}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The sealed-chunk store's invariants: a fixed plan size under appends,
  * answers identical to one DataFrame of the same rows (block-sink-shaped
  * base, tombstones, cleanTombstones, snapshot), and a failing append that
  * leaves the store as it was. */
class SampleStoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), Engine.samplesSchema)

  private def emptyStore = new SampleStore(spark, frame(Nil))

  /** m{job, inst} every 15 s over 20 minutes, with a counter reset */
  private val rows: Seq[Row] = for {
    job <- Seq("a", "b"); inst <- 0 until 3; k <- 0 until 80
  } yield Row(Map("__name__" -> "m", "job" -> job, "inst" -> inst.toString),
    k * 15000L, (if (k < 50) k else k - 50) * (inst + 1.5), false, null, 0L)

  private val queries = Seq("m", "sum by (job) (rate(m[5m]))", "count_over_time(m[10m])",
    "max_over_time(m[20m])", """count({__name__="m", inst!="1"})""")
  private val evalMs = 79 * 15000L

  private def answer(samples: DataFrame, q: String): Seq[String] =
    (Engine.instantQuery(spark, samples, q, evalMs) match {
      case VectorVal(df) => df.select("labels", "t", "v").collect().toSeq
      case other => fail(s"unexpected $other")
    }).map(r => (r.getMap[String, String](0).toMap.toSeq.sorted, r.getLong(1), r.getDouble(2)).toString)
      .sorted

  private def sameAnswers(store: SampleStore, all: Seq[Row]): Unit =
    queries.foreach(q => assert(answer(store.samples, q) == answer(frame(all), q), q))

  private def planNodes(df: DataFrame): Int = df.queryExecution.logical.collect { case p => p }.size

  test("the plan's size after 200 appends equals its size after one") {
    val store = emptyStore
    store.appendRows(rows.take(10))
    val after1 = planNodes(store.samples)
    (1 until 200).foreach { i =>
      val batch = rows.slice(i * 2 % rows.size, i * 2 % rows.size + 2)
      if (i % 20 == 0) store.append(frame(batch)) else store.appendRows(batch)
    }
    assert(planNodes(store.samples) == after1)
    assert(store.samples.count() == 10 + 199 * 2)
    // the scan's partitions follow the default parallelism, not the chunk count
    assert(store.samples.rdd.getNumPartitions <=
      frame(Nil).rdd.getNumPartitions + spark.sparkContext.defaultParallelism)
  }

  test("block-sink-shaped base plus appended chunks answers like one frame of all rows") {
    val (r1, rest) = rows.splitAt(rows.size / 3)
    val (r2, r3) = rest.splitAt(rest.size / 2)
    val sink = Engine.withSeriesSig(frame(r1))
      .withColumn("metric", element_at(col("labels"), "__name__"))
    val store = new SampleStore(spark, sink)
    store.appendRows(r2)
    store.append(frame(r3))
    assert(store.samples.columns.toSet == sink.columns.toSet)
    // the derived columns are the same function of labels over every row
    val expect = Engine.withSeriesSig(frame(rows))
      .withColumn("metric", element_at(col("labels"), "__name__"))
      .select("__sg", "metric").collect().map(_.toString).sorted.toSeq
    assert(store.samples.select("__sg", "metric").collect().map(_.toString).sorted.toSeq == expect)
    sameAnswers(store, rows)
  }

  test("deleteSeries, cleanTombstones, further appends: same as the surviving rows") {
    val (r1, r2) = rows.splitAt(rows.size / 2)
    // series with a label the others lack
    def zoned(zone: String, ks: Range) = ks.map(k => Row(Map("__name__" -> "m", "job" -> "b",
      "inst" -> "1", "zone" -> zone), k * 15000L, k.toDouble, false, null, 0L))
    val z = zoned("z1", 0 until 80) ++ zoned("z2", 0 until 80)
    val store = new SampleStore(spark, frame(r1.take(130) ++ z))
    store.appendRows(r1.drop(130) ++ r2.take(200))
    val gone = (r: Row) => {
      val l = r.getMap[String, String](0)
      val t = r.getLong(1)
      l("job") == "a" && l("inst") == "1" && t >= 300000L && t <= 600000L ||
        l("job") != "a" && l("inst") != "0" && l("inst") != "2" &&
          l.getOrElse("zone", "") != "z1" && t >= 600000L && t <= 900000L
    }
    store.deleteSeries(List(LabelMatcher("job", MatchOp.Eq, "a"),
      LabelMatcher("inst", MatchOp.Re, "1|7")), 300000L, 600000L)
    store.deleteSeries(List(LabelMatcher("job", MatchOp.Neq, "a"),
      LabelMatcher("inst", MatchOp.NotRe, "0|2"), LabelMatcher("zone", MatchOp.Neq, "z1")),
      600000L, 900000L)
    val kept = (r1 ++ z ++ r2.take(200)).filterNot(gone)
    sameAnswers(store, kept)
    store.cleanTombstones()
    sameAnswers(store, kept)
    store.appendRows(r2.slice(200, 220) ++ zoned("z3", 40 until 80))
    store.append(frame(r2.drop(220)))
    // the cleaned tombstones no longer hide rows appended after the clean
    sameAnswers(store, kept ++ r2.drop(200) ++ zoned("z3", 40 until 80))
  }

  test("cleanTombstones and remote-write forwarding start no Spark job") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val store = new SampleStore(spark,
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Engine.samplesSchema))
    store.appendRows(rows)
    store.deleteSeries(List(LabelMatcher("inst", MatchOp.Eq, "2")), 0L, 450000L)
    val received = new java.util.concurrent.atomic.AtomicInteger()
    val receiver = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    receiver.createContext("/", (ex: HttpExchange) => {
      received.addAndGet(RemoteWrite.decode(ex.getRequestBody.readAllBytes(), isV2 = false).size)
      ex.sendResponseHeaders(200, -1)
      ex.close()
    })
    receiver.start()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(String.valueOf(js.properties.getProperty("spark.job.description")))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      store.cleanTombstones()
      val fwd = new RemoteWriteForwarder(s"http://127.0.0.1:${receiver.getAddress.getPort}/w",
        maxBatch = 100, maxShards = 2)
      assert(fwd.forward(rows) == rows.size)
      assert(received.get == rows.size)
      // the listener bus delivers in order: once this job's start is seen,
      // every earlier one has been
      spark.sparkContext.setJobDescription("marker")
      spark.sparkContext.parallelize(Seq(1), 1).count()
      spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 10000000000L
      while (!jobs.contains("marker") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.asScala.toSeq == Seq("marker"))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      receiver.stop(0)
    }
    sameAnswers(store, rows.filterNot(r =>
      r.getMap[String, String](0)("inst") == "2" && r.getLong(1) <= 450000L))
  }

  test("snapshot writes exactly the tombstone-applied rows") {
    val store = new SampleStore(spark, frame(rows.take(200)))
    store.appendRows(rows.drop(200))
    store.deleteSeries(List(LabelMatcher("inst", MatchOp.Eq, "2")), 0L, 450000L)
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val name = store.snapshot(dir)
    def key(r: Row) = (r.getMap[String, String](0).toMap.toSeq.sorted, r.getLong(1), r.getDouble(2),
      r.getBoolean(3)).toString
    val written = spark.read.parquet(s"$dir/$name").select("labels", "t", "v", "stale")
      .collect().map(key).sorted.toSeq
    val expect = rows.filterNot(r => r.getMap[String, String](0)("inst") == "2" &&
      r.getLong(1) <= 450000L).map(key).sorted
    assert(written == expect)
  }

  test("a failing DataFrame append throws from append and changes no answer") {
    val store = new SampleStore(spark, frame(rows.take(100)))
    store.appendRows(rows.drop(100))
    val before = queries.map(answer(store.samples, _))
    val bad = frame(rows.take(5)).withColumn("v",
      raise_error(lit("sealed batch failed")).cast("double"))
    val e = intercept[Exception](store.append(bad))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("sealed batch failed")))
    assert(queries.map(answer(store.samples, _)) == before)
    store.appendRows(Seq(
      Row(Map("__name__" -> "m", "job" -> "c", "inst" -> "0"), evalMs, 1.0, false, null, 0L)))
    assert(answer(store.samples, "count(m)") == Seq((Nil, evalMs, 7.0).toString))
  }

  test("over a provably empty frame, float appends leave h and stt store-absent") {
    def absent(store: SampleStore, c: String) = store.samples.schema(c).metadata == Engine.storeAbsent
    def unions(store: SampleStore) =
      store.samples.queryExecution.logical.collect { case u: Union => u }.size
    val h = FHist(0, 0.0, 0.0, 4.0, 10.0, Seq(0, 1), Seq(1.0, 3.0), Nil, Nil, Nil, 0)
    val nh = RemoteWrite.Sample(Map("__name__" -> "nh"), evalMs, 0.0, h = Some(h)).toRow
    // the server's empty frame (an RDD without partitions) and a local one
    Seq(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Engine.samplesSchema),
        spark.createDataFrame(java.util.Collections.emptyList[Row], Engine.samplesSchema))
      .foreach { empty =>
        val store = new SampleStore(spark, empty)
        store.appendRows(rows.take(200))
        store.append(frame(rows.drop(200)))
        assert(absent(store, "h") && absent(store, "stt"))
        assert(unions(store) == 0)
        sameAnswers(store, rows)
        store.appendRows(Seq(nh))
        assert(!absent(store, "h") && absent(store, "stt"))
        assert(answer(store.samples, "histogram_count(nh)") == Seq((Nil, evalMs, 4.0).toString))
      }
  }

  test("re-evaluating a query at the same time compiles no class") {
    val store = new SampleStore(spark, frame(rows.take(100)))
    store.appendRows(rows.drop(100))
    def compiles(body: => Unit): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      body
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val counts = (1 to 3).map(_ => compiles(answer(store.samples, "sum(count_over_time(m[5m]))")))
    assert(counts.tail == Seq(0L, 0L), counts)
  }

  test("native histograms appended to a float-only base are visible") {
    val floats = spark.createDataFrame(Seq(
      (Map("__name__" -> "f"), 1000L, 1.0))).toDF("labels", "t", "v")
    val h = FHist(0, 0.0, 0.0, 4.0, 10.0, Seq(0, 1), Seq(1.0, 3.0), Nil, Nil, Nil, 0)
    val nh = RemoteWrite.Sample(Map("__name__" -> "nh"), 1000L, 0.0, h = Some(h)).toRow
    // once through the driver path, once through a sealing job
    Seq[SampleStore => Unit](_.appendRows(Seq(nh)), _.append(frame(Seq(nh)))).foreach { add =>
      val store = new SampleStore(spark, floats)
      add(store)
      def one(q: String) = Engine.instantQuery(spark, store.samples, q, 1000L) match {
        case VectorVal(df) => df.select("v").collect().map(_.getDouble(0)).toSeq
        case other => fail(s"unexpected $other")
      }
      assert(one("histogram_count(nh)") == Seq(4.0))
      assert(one("f") == Seq(1.0))
    }
  }

  // ---------- the series dictionary ----------

  /** the i-th of ten label sets */
  private def labelSet(i: Int) = Map("__name__" -> s"d_${i % 3}", "k" -> i.toString)

  test("200 mixed batches over the same 10 label sets leave exactly 10 series") {
    val store = emptyStore
    (0 until 200).foreach { b =>
      val batch = (0 until 5).map(j => Row(labelSet((b + j) % 10), b * 1000L + j, j.toDouble,
        false, null, 0L))
      if (b % 3 == 0) store.append(frame(batch)) else store.appendRows(batch)
    }
    assert(store.numSeries == 10)
    assert(store.samples.count() == 1000)
    assert(store.samples.select(Engine.sortedLabels(col("labels"))).distinct().count() == 10)
  }

  test("every chunk row's __sg is Engine.withSeriesSig of its labels") {
    val store = emptyStore
    store.appendRows(rows.take(200))
    store.append(frame(rows.drop(200)))
    val withSg = store.samples
    assert(withSg.count() == rows.size)
    val recomputed = Engine.withSeriesSig(withSg.drop("__sg"))
      .select("__sg", "labels", "t").collect().map(_.toString).sorted.toSeq
    assert(withSg.select("__sg", "labels", "t").collect().map(_.toString).sorted.toSeq ==
      recomputed)
  }

  test("a sealed float sample takes at most 10 B, 20 B if new") {
    val store = emptyStore
    val series = (0 until 500).map(i => Map("__name__" -> "w", "i" -> i.toString))
    def batch(k: Int) = series.map(l => Row(l, k * 15000L, k * 0.5, false, null, 0L))
    store.appendRows(batch(0))
    val first = store.chunkBytes
    assert(first.toDouble / series.size <= 20.0, first)
    // later batches of the same series in the same order, through both paths
    (1 until 40).foreach(k =>
      if (k % 4 == 0) store.append(frame(batch(k))) else store.appendRows(batch(k)))
    assert((store.chunkBytes - first).toDouble / (39 * series.size) <= 10.0, store.chunkBytes)
    assert(store.samples.count() == 40 * series.size)
  }

  private val nh1 = FHist(0, 0.0, 0.0, 4.0, 10.0, Seq(0, 1), Seq(1.0, 3.0), Nil, Nil, Nil, 0)
  private val nh2 = FHist(3, 0.001, 1.0, 7.0, -2.5, Seq(-2, 4), Seq(2.0, 1.0), Seq(1), Seq(3.0),
    Nil, FHist.HintGauge)
  private val staleNaN = java.lang.Double.longBitsToDouble(0x7ff0000000000002L)

  /** batch b: twelve rows over five series, floats, stale markers, start
    * timestamps and native histograms, all at one timestamp when `sameT` */
  private def mixedBatch(b: Int, sameT: Boolean): Seq[Row] = (0 until 12).map { j =>
    val labels = Map("__name__" -> "mix", "s" -> (j % 5).toString)
    val t = b * 60000L + (if (sameT) 0L else j)
    j % 4 match {
      case 0 => Row(labels, t, j * 1.5, false, null, 0L)
      case 1 => Row(labels, t, staleNaN, true, null, 0L)
      case 2 => Row(labels, t, -j.toDouble, false, null, t - 5000L)
      case _ => Row(labels, t, 0.0, false, FHist.toRow(if (j == 3) nh1 else nh2),
        if (j == 11) t - 1L else 0L)
    }
  }

  test("appendRows and append(DataFrame) give back exactly the rows appended") {
    val nullableV = org.apache.spark.sql.types.StructType(Engine.samplesSchema.map(f =>
      if (f.name == "v") f.copy(nullable = true) else f))
    val store = emptyStore
    val appended = (0 until 6).flatMap { b =>
      val batch = mixedBatch(b, sameT = b % 2 == 0)
      b % 3 match {
        case 0 => store.appendRows(batch); batch
        case 1 => store.append(frame(batch)); batch
        case _ =>
          // a nullable source column, with a null in it
          val withNull = batch :+ Row(Map("__name__" -> "mix", "s" -> "n"), b * 60000L, null,
            false, null, 0L)
          store.append(spark.createDataFrame(spark.sparkContext.parallelize(withNull, 2), nullableV))
          withNull
      }
    }
    // a batch stored twice shares its series column and still reads back twice
    store.appendRows(mixedBatch(0, sameT = true))
    val expect = appended ++ mixedBatch(0, sameT = true)
    def key(r: Row) = (r.getMap[String, String](0).toSeq.sorted.toString, r.getLong(1),
      r.getBoolean(3), r.getLong(5), String.valueOf(r.get(2)), r.isNullAt(4))
    val got = store.samples.select("labels", "t", "v", "stale", "h", "stt").collect().toSeq
    assert(got.sortBy(key) == expect.sortBy(key))
    assert(store.samples.schema("v").nullable)
    assert(got.filter(_.getBoolean(3)).forall(_.getDouble(2).isNaN))
    assert(got.filter(!_.isNullAt(4)).map(r => FHist.fromRow(r.getStruct(4))).toSet == Set(nh1, nh2))
  }

  test("store writes and remote-write forwarding have no Spark-job twin") {
    def source(f: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"src/main/scala/graft/$f")), "UTF-8")
    val store = source("web/SampleStore.scala")
    Seq("def seal", "mapPartitions", "toRdd", "UnsafeProjection")
      .foreach(w => assert(!store.contains(w), w))
    val forwarder = source("web/Forwarder.scala")
    Seq("foreachPartition", "DataFrame").foreach(w => assert(!forwarder.contains(w), w))
    assert(!forwarder.toLowerCase.contains("accumulator"))
    assert("""forward\([^)]*createDataFrame""".r.findFirstIn(source("streaming/Server.scala")).isEmpty)
  }

  test("SampleStore.scala has one chunk class") {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/web/SampleStore.scala")), "UTF-8")
    assert("""class\s+\w*Chunk\b""".r.findAllIn(src).size == 1)
  }

  test("a reader between appends never sees fewer rows than were committed before it began") {
    val store = emptyStore
    val committed = new java.util.concurrent.atomic.AtomicLong()
    val done = new java.util.concurrent.atomic.AtomicBoolean()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => {
      while (!done.get) {
        val before = committed.get
        val n = store.samples.count()
        if (n < before) seen.add(s"saw $n after $before were committed")
      }
    })
    reader.start()
    try (0 until 60).foreach { b =>
      // every batch brings a new series, so each commit grows the dictionary too
      val batch = (0 until 5).map(j => Row(Map("__name__" -> "r", "b" -> b.toString),
        b * 1000L + j, j.toDouble, false, null, 0L))
      if (b % 4 == 0) store.append(frame(batch)) else store.appendRows(batch)
      committed.addAndGet(batch.size)
    } finally { done.set(true); reader.join() }
    assert(seen.isEmpty, seen)
    assert(store.samples.count() == 300 && store.numSeries == 60)
  }

  test("a selector's label matchers run on the series, not on every sample") {
    val store = new SampleStore(spark,
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Engine.samplesSchema))
    def plan() = Engine.instantQuery(spark, store.samples,
      """sum(count_over_time({__name__=~"m.*", job!="c"}[5m]))""", evalMs) match {
      case VectorVal(df) => df.queryExecution
      case other => fail(s"unexpected $other")
    }
    import org.apache.spark.sql.catalyst.expressions.{ArraySort, Expression, RLike, SortArray,
      XxHash64}
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.execution.LogicalRDD
    def perSample(e: Expression) = e.exists {
      case _: RLike | _: XxHash64 | _: ArraySort | _: SortArray => true
      case _ => false
    }
    def chunkSide(p: LogicalPlan) = p.exists(_.isInstanceOf[LogicalRDD]) &&
      !p.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    store.appendRows(rows.take(100))
    val first = plan()
    (1 until 20).foreach(i => store.appendRows(rows.slice(100 + i * 10, 110 + i * 10)))
    val qe = plan()
    val opt = qe.optimizedPlan
    // below the join, the chunk scan's side has no matcher and no hash
    val joins = opt.collect { case j: Join => j }
    assert(joins.nonEmpty, opt)
    opt.foreach { p =>
      if (chunkSide(p)) assert(!p.expressions.exists(perSample), p)
    }
    // above the join, no label matcher runs per sample
    opt.foreach { p =>
      if (p.exists(_.isInstanceOf[Join]))
        assert(!p.expressions.exists(_.exists(_.isInstanceOf[RLike])), p)
    }
    assert(qe.executedPlan.toString.contains("BroadcastHashJoin"))
    def nodes(q: org.apache.spark.sql.execution.QueryExecution) =
      q.optimizedPlan.collect { case p => p }.size
    assert(nodes(qe) == nodes(first))
    assert(answer(store.samples, "count(m)") == answer(frame(rows.take(100) ++
      (1 until 20).flatMap(i => rows.slice(100 + i * 10, 110 + i * 10))), "count(m)"))
  }
}
