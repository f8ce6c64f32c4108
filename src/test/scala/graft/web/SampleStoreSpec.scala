package graft.web

import graft.promql._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.functions.{col, element_at, lit, raise_error}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

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
    val store = new SampleStore(spark, frame(r1.take(100)))
    store.appendRows(r1.drop(100))
    val gone = (r: Row) => {
      val l = r.getMap[String, String](0)
      l("job") == "a" && l("inst") == "1" && r.getLong(1) >= 300000L && r.getLong(1) <= 600000L
    }
    store.deleteSeries(List(LabelMatcher("job", MatchOp.Eq, "a"),
      LabelMatcher("inst", MatchOp.Re, "1|7")), 300000L, 600000L)
    sameAnswers(store, r1.filterNot(gone))
    store.cleanTombstones()
    sameAnswers(store, r1.filterNot(gone))
    store.appendRows(r2.take(50))
    store.append(frame(r2.drop(50)))
    // the cleaned tombstone no longer hides rows appended after the clean
    sameAnswers(store, r1.filterNot(gone) ++ r2)
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
}
