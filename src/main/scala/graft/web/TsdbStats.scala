package graft.web

import graft.promql.Engine
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cardinality analysis over a canonical samples table — the promtool
  * `tsdb analyze` / `/api/v1/status/tsdb` statistics (ref:
  * cmd/promtool/tsdb.go analyzeBlock, web/api/v1/api.go TSDBStatus),
  * re-expressed as two hash aggregations:
  *   series-dedup (distinct on the sorted label entries — maps aren't
  *   groupable, sorted entry arrays are) → explode to (label, value) pairs →
  *   per-label-name aggregation. At 100 TB both shuffles are
  *   series-cardinality, not sample-cardinality.
  */
object TsdbStats {

  /** one row per label name: distinct value count + series carrying it */
  def labelStats(samples: DataFrame): DataFrame =
    samples
      .select(Engine.sortedLabels(col("labels")).as("sl"))
      .distinct()
      .select(explode(col("sl")).as("e"))
      .groupBy(col("e.key").as("label"))
      .agg(
        countDistinct(col("e.value")).as("n_values"),
        count(lit(1)).as("n_series"))

  /** series count per metric name (seriesCountByMetricName) */
  def metricStats(samples: DataFrame): DataFrame =
    samples
      .select(Engine.sortedLabels(col("labels")).as("sl"))
      .distinct()
      .select(explode(col("sl")).as("e"))
      .filter(col("e.key") === "__name__")
      .groupBy(col("e.value").as("metric"))
      .agg(count(lit(1)).as("n_series"))
}
