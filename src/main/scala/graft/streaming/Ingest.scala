package graft.streaming

import graft.promql.{Engine, FHist}
import graft.web.RemoteWrite.Sample
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** Streaming ingest path (SURVEY §2.1 / M6): exposition text stream →
  * relabel pipeline → watermarked append to the time-partitioned samples
  * store; classic→NHCB conversion and block retention. Staleness markers
  * are written where the server appends: `ScrapeManager.staleDiff` for a
  * series gone from a scrape and `Rules.step` for rule output (ref:
  * scrape/scrape.go:1575 staleness append; model/value/value.go:28).
  *
  * 100 TB notes:
  *  - the sink partitions by a 2h time bucket (mirroring the reference's
  *    block duration, tsdb/db.go:56) so query-time partition pruning bounds
  *    every scan;
  *  - the watermark IS the out-of-order window (tsdb/db.go:192
  *    OutOfOrderTimeWindow) — late rows beyond it are dropped exactly like
  *    the reference's OOO cutoff.
  */
object Ingest {

  /** 2h time bucket, the reference's block duration */
  val blockMs: Long = 2 * 3600 * 1000L

  /** exposition text file stream → relabeled samples stream */
  def source(spark: SparkSession, dir: String, rules: Seq[Relabel.Rule] = Nil): DataFrame = {
    val lines = spark.readStream.text(dir)
    Relabel(Exposition.parse(lines, defaultTsMs = 0L), rules)
  }

  /** append the stream to the partitioned samples store; materializes the
    * flat `metric` column (selector fast path / partition pruning) and the
    * 8-byte `__sg` series signature ([[Engine.withSeriesSig]]) so queries
    * never re-derive either from the labels map */
  def sink(samples: DataFrame, outDir: String, checkpointDir: String,
      oooWindowMs: Long = 10 * 60 * 1000L): StreamingQuery =
    Engine.withSeriesSig(samples)
      .withColumn("metric", element_at(col("labels"), "__name__"))
      .withColumn("ts", timestamp_millis(col("t")))
      .withWatermark("ts", s"$oooWindowMs milliseconds")
      .withColumn("block", (col("t") / blockMs).cast("long") * blockMs)
      .drop("ts")
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("block")
      .outputMode(OutputMode.Append)
      .start()

  /** Convert classic-histogram series (`x_bucket{le=…}`/`x_count`/`x_sum`)
    * into native custom-bounds histograms `x` (NHCB), keeping the classic
    * series alongside — the scrape option convert_classic_histograms_to_nhcb
    * (ref: util/convertnhcb/convertnhcb.go TempHistogram.Convert): one
    * native sample per (base series, t) that has buckets. */
  def classicToNhcb(samples: Seq[Sample]): Seq[Sample] = {
    def base(s: Sample, suffix: String) = {
      val name = s.labels("__name__")
      (s.labels - "le").updated("__name__", name.substring(0, name.length - suffix.length))
    }
    val floats = samples.filter(s => s.h.isEmpty && s.labels.contains("__name__"))
    def of(suffix: String) = floats.filter(_.labels("__name__").endsWith(suffix))
    def byKey(suffix: String) = of(suffix).map(s => (base(s, suffix), s.t) -> s.v).toMap
    val counts = byKey("_count")
    val sums = byKey("_sum")
    val buckets = of("_bucket").flatMap { s =>
      s.labels.get("le").flatMap(parseLe).map(le => (base(s, "_bucket"), s.t) -> ((le, s.v)))
    }
    val native = buckets.groupMap(_._1)(_._2).toSeq.map { case (key @ (labels, t), bs) =>
      var pts = bs.sorted(Ordering.Tuple2(Ordering.Double.TotalOrdering,
        Ordering.Double.TotalOrdering))
      val count = counts.getOrElse(key, pts.last._2)
      if (!pts.last._1.isPosInfinity) pts = pts :+ ((Double.PositiveInfinity, count))
      val cum = pts.map(_._2)
      val diffs = cum.zip(0.0 +: cum.init).map { case (x, p) => x - p }
      Sample(labels, t, Double.NaN, 0L, Some(FHist(FHist.CustomSchema, 0.0, 0.0, count,
        sums.getOrElse(key, 0.0), diffs.indices, diffs, Nil, Nil, pts.init.map(_._1),
        FHist.HintUnknown).compact))
    }
    samples ++ native
  }

  /** an `le` label value as a bound; None when it is not a number */
  private def parseLe(le: String): Option[Double] = le match {
    case "+Inf" | "Inf" => Some(Double.PositiveInfinity)
    case "-Inf" => Some(Double.NegativeInfinity)
    case _ => le.trim.toDoubleOption
  }

  /** retention maintenance: drop 2h block partitions older than the cutoff
    * (the reference's time-retention partition drop) */
  def applyRetention(spark: SparkSession, dir: String, keepMs: Long, nowMs: Long): Seq[String] = {
    val cutoff = (nowMs - keepMs) / blockMs * blockMs
    val root = new java.io.File(dir)
    val dropped = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("block="))
      .filter(f => f.getName.stripPrefix("block=").toLong < cutoff)
    dropped.foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(d))
    dropped.map(_.getName).toSeq
  }
}
