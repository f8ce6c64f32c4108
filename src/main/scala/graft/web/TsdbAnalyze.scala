package graft.web

import graft.promql.Engine
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Full `promtool tsdb analyze` analog (ref: cmd/promtool/tsdb.go
  * analyzeBlock): block header counts, churn rankings, most common label
  * pairs, cumulative-value-length and cardinality rankings — re-expressed
  * as Spark aggregations over the canonical samples table.
  *
  * Everything derives from ONE series-level aggregate (series = distinct
  * sorted label entries, with its [min(t), max(t)] coverage) followed by
  * one explode to (label, value) pairs — both shuffles are
  * series-cardinality, never sample-cardinality, so the plan holds at
  * 100 TB. The top-k rankings are TakeOrdered heaps, not full sorts.
  */
object TsdbAnalyze {

  final case class Ranked(key: String, metric: Long)

  final case class Analysis(
      minT: Long, maxT: Long,
      totalSeries: Long, labelNames: Long,
      uniquePairs: Long, totalPairs: Long,
      churnPairs: Seq[Ranked], churnNames: Seq[Ranked],
      commonPairs: Seq[Ranked],
      cumValueLength: Seq[Ranked],
      cardinalityLabels: Seq[Ranked],
      cardinalityMetrics: Seq[Ranked])

  /** run the analysis; `limit` bounds each ranking (ref default 20) */
  def analyze(samples: DataFrame, limit: Int = 20): Analysis = {
    val spark = samples.sparkSession

    // series-level pass: one row per series with its time coverage
    val series = samples
      .groupBy(Engine.sortedLabels(col("labels")).as("sl"))
      .agg(min(col("t")).as("t0"), max(col("t")).as("t1"))
      .cache()
    try {
      val Row(minT: Long, maxT: Long, nSeries: Long) = series
        .agg(min(col("t0")), max(col("t1")), count(lit(1))).head()
      val span = math.max(maxT - minT, 1L)

      // pair-level pass: per (name,value) — series count + uncovered time
      // (ref: uncovered = block span − series chunk span, summed per pair)
      val pairs = series
        .select(explode(col("sl")).as("e"),
          (lit(maxT - minT) - (col("t1") - col("t0"))).as("uncovered"))
        .groupBy(col("e.key").as("name"), col("e.value").as("value"))
        .agg(count(lit(1)).as("n_series"),
          sum(col("uncovered")).as("uncov"))
        .cache()
      try {
        val Row(uniquePairs: Long, totalPairs: Long) =
          pairs.agg(count(lit(1)), sum(col("n_series"))).head()

        def top(df: DataFrame): Seq[Ranked] = df
          .orderBy(col("m").desc)
          .limit(limit)
          .collect()
          .map(r => Ranked(r.getString(0), r.getLong(1)))
          .toSeq

        // churn: uncovered time averaged over the block span (ref:
        // uint64(float64(m) / float64(meta.MaxTime-meta.MinTime)))
        val churnPairs = top(pairs.select(
          concat(col("name"), lit("="), col("value")).as("k"),
          floor(col("uncov") / span.toDouble).cast("long").as("m")))
        val churnNames = top(pairs.groupBy(col("name"))
          .agg(sum(col("uncov")).as("u"))
          .select(col("name").as("k"),
            floor(col("u") / span.toDouble).cast("long").as("m")))
        val commonPairs = top(pairs.select(
          concat(col("name"), lit("="), col("value")).as("k"),
          col("n_series").as("m")))
        // distinct values per name: pairs are already (name,value)-unique
        val cumLen = top(pairs.groupBy(col("name"))
          .agg(sum(length(col("value"))).cast("long").as("m"))
          .select(col("name").as("k"), col("m")))
        val cardLabels = top(pairs.groupBy(col("name"))
          .agg(count(lit(1)).as("m"))
          .select(col("name").as("k"), col("m")))
        val cardMetrics = top(pairs
          .filter(col("name") === "__name__")
          .select(col("value").as("k"), col("n_series").as("m")))
        val nNames = pairs.select(col("name")).distinct().count()

        Analysis(minT, maxT, nSeries, nNames, uniquePairs, totalPairs,
          churnPairs, churnNames, commonPairs, cumLen, cardLabels,
          cardMetrics)
      } finally pairs.unpersist()
    } finally series.unpersist()
  }

  /** reference-format text report (ref: analyzeBlock's Printf sequence) */
  def render(a: Analysis, blockId: String = "all"): String = {
    val sb = new StringBuilder
    sb.append(s"Block ID: $blockId\n")
    sb.append(s"Duration: ${CheckSdDuration.render(a.maxT - a.minT)}\n")
    sb.append(s"Total Series: ${a.totalSeries}\n")
    sb.append(s"Label names: ${a.labelNames}\n")
    sb.append(s"Postings (unique label pairs): ${a.uniquePairs}\n")
    sb.append(s"Postings entries (total label pairs): ${a.totalPairs}\n")
    def section(title: String, rs: Seq[Ranked]): Unit = {
      sb.append(s"\n$title:\n")
      rs.foreach(r => sb.append(s"${r.metric} ${r.key}\n"))
    }
    section("Label pairs most involved in churning", a.churnPairs)
    section("Label names most involved in churning", a.churnNames)
    section("Most common label pairs", a.commonPairs)
    section("Label names with highest cumulative label value length",
      a.cumValueLength)
    section("Highest cardinality labels", a.cardinalityLabels)
    section("Highest cardinality metric names", a.cardinalityMetrics)
    sb.toString
  }

  /** CLI: `runMain graft.web.TsdbAnalyze <samples.parquet> [limit]` */
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: TsdbAnalyze <samples.parquet> [limit]")
      sys.exit(2)
    }
    val spark = graft.GraftSession(sys.env.getOrElse("SPARK_MASTER", graft.GraftSession.localMaster))
    val limit = if (args.length > 1) args(1).toInt else 20
    print(render(analyze(spark.read.parquet(args(0)), limit),
      blockId = args(0)))
    spark.stop()
  }
}

/** Go time.Duration rendering for the analyze header (ref: analyzeBlock
  * prints `(time.Duration(...) * 1e6).String()` — e.g. "2h0m0s");
  * delegates to the template engine's exact Go implementation */
private[web] object CheckSdDuration {
  def render(ms: Long): String =
    graft.template.GoTimeFmt.durationString(ms * 1000000L)
}
