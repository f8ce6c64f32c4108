package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.promql.Engine

/** `promtool tsdb create-blocks-from rules` analog — evaluate recording
  * rules over a historical range and write the results as block-partitioned
  * parquet the query engine reads like any ingested data
  * (ref: cmd/promtool/rules.go:57 importRule).
  *
  * Spark-first shape: the reference loops per 2h block and issues one
  * `QueryRange` HTTP call per block (its block writer can only hold one
  * block's appends in memory, maxSamplesInMemory=5000). Here the engine's
  * range query already evaluates EVERY step in one distributed plan, and the
  * 2h block chunking is the parquet writer's `partitionBy("block")` — so a
  * rule backfill is ONE query + ONE partitioned write regardless of span,
  * with no driver-side materialization of results.
  *
  * Reference semantics mirrored:
  *  - eval timestamps are the group's slotted schedule: aligned to the
  *    interval grid plus a per-group hash offset
  *    (ref: rules/group.go:422 EvalTimestamp);
  *  - output labels: query-result labels, overridden by the rule's static
  *    labels, then `__name__` = the rule's record name
  *    (ref: cmd/promtool/rules.go:162-170);
  *  - rules in the same run all read the PRE-EXISTING store only — a rule
  *    depending on another backfilled rule's output needs a second run, the
  *    reference's documented create-blocks-from limitation.
  */
object RulesBackfill {

  /** FNV-1a over the group name — stand-in for the reference's group hash
    * (rules/group.go:412 hashes file+";"+name; backfill groups here carry no
    * file path, so the name alone seeds the slot offset). */
  private[streaming] def groupHash(name: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < name.length) { h ^= name.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** first slotted evaluation timestamp ≥ `startMs`
    * (ref: rules/group.go:422 EvalTimestamp + rules.go:109 align-up loop) */
  private[streaming] def firstEvalTs(g: Rules.Group, startMs: Long): Long = {
    val offset = java.lang.Long.remainderUnsigned(groupHash(g.name), g.intervalMs)
    val adj = startMs - offset
    val base = adj - math.floorMod(adj, g.intervalMs)
    var next = base + offset
    while (next < startMs) next += g.intervalMs
    next
  }

  /** evaluate one recording rule over [startMs, endMs] at the group's
    * slotted timestamps; returns rows in the store's sample schema
    * (labels, t, v, stale, h, stt) — float results only, like the
    * reference's model.Matrix decode (cmd/promtool/rules.go:150) */
  def evalRule(spark: SparkSession, samples: DataFrame, rule: Rules.RecordingRule,
      g: Rules.Group, startMs: Long, endMs: Long): DataFrame = {
    val t0 = firstEvalTs(g, startMs)
    if (t0 > endMs)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Engine.samplesSchema)
    Rules.asVector(Engine.rangeQuery(spark, samples, rule.expr, t0, endMs, g.intervalMs),
      rule.record)
      .filter(col("h").isNull)
      .select(Rules.recordedLabels(rule).as("labels"), col("t"), col("v"),
        lit(false).as("stale"), col("h"), lit(0L).as("stt"))
  }

  /** backfill every recording rule of every group into `outDir` as
    * block-partitioned parquet ([[Ingest.sink]]'s layout: materialized
    * `metric`, `__sg`, 2h `block` partition column). Returns per-rule error
    * messages (a failing rule doesn't abort the others — ref rules.go:90
    * importAll collects errs). */
  def importAll(spark: SparkSession, samples: DataFrame, groups: Seq[Rules.Group],
      startMs: Long, endMs: Long, outDir: String,
      blockMs: Long = Ingest.blockMs): Seq[String] = {
    val errs = Seq.newBuilder[String]
    groups.foreach { g =>
      g.recording.foreach { r =>
        try {
          val out = evalRule(spark, samples, r, g, startMs, endMs)
          Engine.withSeriesSig(out)
            .withColumn("metric", element_at(col("labels"), "__name__"))
            .withColumn("block", (col("t") / blockMs).cast("long") * blockMs)
            .write.mode("append").partitionBy("block").parquet(outDir)
        } catch {
          case e: Exception => errs += s"${g.name}/${r.record}: ${e.getMessage}"
        }
      }
    }
    errs.result()
  }
}
