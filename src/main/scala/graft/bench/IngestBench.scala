package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `promtool tsdb bench write` analog (ref: cmd/promtool/tsdb.go
  * benchmarkWrite: synthesize scrapes of N series, measure append
  * throughput): generates `numMetrics` series × `numScrapes` scrapes at
  * 15s cadence ENTIRELY on the executors (`spark.range` cross the series
  * dimension — no driver-side row materialization), stamps the series
  * signature, and writes the engine's block-partitioned parquet layout.
  * Reported samples/sec is the end-to-end ingest number the WAL/head path
  * of the reference measures.
  */
object IngestBench {

  /** synthetic label sets shaped like the reference's 20kseries corpus:
    * a metric name plus instance/pod/namespace dimension labels */
  def syntheticSeries(spark: SparkSession, numMetrics: Int): DataFrame =
    spark.range(numMetrics.toLong).select(
      map(
        lit("__name__"), concat(lit("bench_metric_"), col("id") % 100),
        lit("instance"), concat(lit("node-"), col("id") % 1000),
        lit("pod"), concat(lit("pod-"), col("id")),
        lit("namespace"), concat(lit("ns-"), col("id") % 20)).as("labels"),
      col("id").as("series_id"))

  /** run the benchmark; returns (totalSamples, planSec, ingestSec).
    * planSec is DataFrame construction only — generation executes lazily
    * inside the write, so ingestSec (and the derived samples/sec) is the
    * end-to-end synthesize+encode+write number; synthesis itself is integer
    * arithmetic, a few % of the parquet encode cost. */
  def run(spark: SparkSession, numMetrics: Int, numScrapes: Int,
      outDir: String): (Long, Double, Double) = {
    val t0 = System.nanoTime()
    val series = syntheticSeries(spark, numMetrics)
    // scrape grid: 15s cadence like a default scrape_interval; value walks
    // like the reference's random-walk counter (deterministic here)
    val samples = series
      .crossJoin(spark.range(numScrapes.toLong).select(col("id").as("scrape")))
      .select(
        col("labels"),
        (col("scrape") * 15000L).as("t"),
        (col("scrape").cast("double") + col("series_id").cast("double") / 1e6).as("v"),
        lit(false).as("stale"),
        lit(null).cast(graft.promql.FHist.schemaType).as("h"),
        lit(0L).as("stt"))
    val planSec = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    graft.promql.Engine.withSeriesSig(samples)
      .withColumn("metric", element_at(col("labels"), "__name__"))
      .withColumn("block",
        (col("t") / graft.streaming.Ingest.blockMs).cast("long") *
          graft.streaming.Ingest.blockMs)
      .write.mode("overwrite").partitionBy("block").parquet(outDir)
    val ingestSec = (System.nanoTime() - t1) / 1e9
    (numMetrics.toLong * numScrapes, planSec, ingestSec)
  }

  /** CLI: `runMain graft.bench.IngestBench [numMetrics] [numScrapes] [out]` */
  def main(args: Array[String]): Unit = {
    val numMetrics = if (args.length > 0) args(0).toInt else 10000
    val numScrapes = if (args.length > 1) args(1).toInt else 100
    val out = if (args.length > 2) args(2) else "/tmp/graft_ingest_bench"
    val spark = graft.GraftSession()
    val (total, planSec, ingestSec) = run(spark, numMetrics, numScrapes, out)
    println(f" > total samples: $total")
    println(f" > ingestion time: $ingestSec%.3fs")
    println(f" > samples/sec: ${total / ingestSec}%.0f")
    println(s"""{"metric":"ingest_bench","samples":$total,""" +
      s""""plan_sec":${math.round(planSec * 1000) / 1000.0},""" +
      s""""ingest_sec":${math.round(ingestSec * 1000) / 1000.0},""" +
      s""""samples_per_sec":${math.round(total / ingestSec)}}""")
    spark.stop()
  }
}
