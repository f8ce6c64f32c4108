package graft.promql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** PromQL aggregation operators (ref: promql/engine.go:3616 aggregation,
  * :3986 aggregationK, :4208 count_values).
  *
  * All 15 operators compile to one hash aggregation (or one window for the
  * k-variants) keyed on (grouping-signature, step) — map-side partial
  * aggregation applies, no driver involvement.
  */
object Aggregations {

  def eval(pl: Planner, ae: AggregateExpr): DataFrame = {
    val in = pl.eval(ae.expr) match {
      case VectorVal(df) => df
      case other => throw PromQLError(s"aggregation over non-vector: $other")
    }
    val glabelsCol =
      if (ae.without) pl.withoutLabelsCol(col("labels"), ae.grouping)
      else pl.keepLabelsCol(col("labels"), ae.grouping)
    val pre = in
      .withColumn("glabels", glabelsCol)
      .withColumn("gsig", pl.hashSigCol(col("glabels")))

    // a group's DropName flag is the OR of its members' flags
    // (ref: engine.go:3609 "True if any sample in this group has DropName set")
    def grouped(v: Column): DataFrame =
      pre.groupBy(col("gsig"), col("t"))
        .agg(first(col("glabels")).as("labels"), max(col("dn")).as("dn"), v.as("v"))
        .select(col("labels"), col("t"), col("v"), col("t").as("st"), col("dn"))

    // parameter (k / φ / ratio): constant fast-path, else per-step scalar join
    lazy val paramConst: Option[Double] = ae.param.flatMap(pl.constValue)
    def paramCol(df: DataFrame): (DataFrame, Column) = paramConst match {
      case Some(c) => (df, lit(c))
      case None =>
        val sdf = pl.eval(ae.param.get) match {
          case ScalarVal(s, _) => s.withColumnRenamed("v", "__param")
          case _ => throw PromQLError(s"${ae.op} parameter must be a scalar")
        }
        (df.join(broadcast(sdf), Seq("t")), col("__param"))
    }

    // deterministic series order for the Kahan paths — keyed by the 8-byte
    // xxhash64 signature, not the wide sorted-entries array: the collected
    // struct stays 16 bytes/member through the aggregate buffer and shuffle,
    // and sort_array compares longs instead of array-of-struct lexicographic.
    // Fold order differs from the reference's label-lexicographic series
    // order only in rounding (Kahan compensation bounds it to ~1 ulp; corpus
    // compare tolerance 1e-6). Struct field 1 is the value, matching the
    // (wt, v) shape the UDFs expect.
    def sortedVals = sort_array(collect_list(struct(pl.hashSigCol(col("labels")).as("s"), col("v").as("v"))))
    // float-only view: most aggregators skip histogram samples with a warning
    // (ref: engine.go:3680 min/max, :3654 stddev, aggregationK)
    lazy val preF = pre.filter(pl.hIsNull)
    def groupedF(v: Column): DataFrame =
      preF.groupBy(col("gsig"), col("t"))
        .agg(first(col("glabels")).as("labels"), max(col("dn")).as("dn"), v.as("v"))
        .select(col("labels"), col("t"), col("v"), col("t").as("st"), col("dn"))

    /** sum/avg: float groups via ordered Kahan, histogram groups via
      * histogram addition; MIXED groups are dropped (ref: engine.go:3619). */
    def sumAvg(isAvg: Boolean): DataFrame = {
      val hin = pre.filter(pl.hNotNull)
      val fAgg = preF.groupBy(col("gsig"), col("t"))
        .agg(first(col("glabels")).as("labels"), max(col("dn")).as("dn"),
          (if (isAvg) RangeUdfs.avgOT(sortedVals) else RangeUdfs.kahanSumOT(sortedVals)).as("v"))
      // histogram-free store: the hist legs (hAgg + two anti-joins) would be
      // erased by Catalyst anyway — skipping them here keeps the logical tree
      // a third the size, which matters for per-query planning latency on
      // composite plans (binops over aggregations re-analyze the whole tree
      // per Dataset op)
      if (pl.storeHasNoHist)
        return fAgg.select(col("labels"), col("t"), col("v"), col("t").as("st"), col("dn"))
          .withColumn("h", lit(null).cast(FHist.schemaType))
      val hAgg = hin.groupBy(col("gsig"), col("t"))
        .agg(first(col("glabels")).as("labels"), max(col("dn")).as("dn"),
          (if (isAvg) HistUdfs.avgHists(collect_list(col("h")))
           else HistUdfs.sumHists(collect_list(col("h")))).as("hv"))
      val fClean = fAgg.join(hAgg.select(col("gsig"), col("t")), Seq("gsig", "t"), "left_anti")
        .select(col("labels"), col("t"), col("v"), col("t").as("st"), col("dn"))
      val hClean = hAgg.join(fAgg.select(col("gsig"), col("t")), Seq("gsig", "t"), "left_anti")
        .filter(col("hv").isNotNull) // incompatible-layout groups are dropped
        .select(col("labels"), col("t"), lit(Double.NaN).as("v"), col("t").as("st"), col("dn"),
          col("hv").as("h"))
      fClean.withColumn("h", lit(null).cast(FHist.schemaType)).unionByName(hClean)
    }

    ae.op match {
      // Kahan-compensated sum/avg in canonical series order — plain distributed
      // sum() reorders additions and fails catastrophic-cancellation corpus
      // inputs (ref: promql/engine.go:3642 group accumulation uses Kahan)
      case "sum" => sumAvg(isAvg = false)
      case "avg" => sumAvg(isAvg = true)
      case "count" => grouped(count(lit(1)).cast("double"))
      case "group" => grouped(first(lit(1.0)))
      // min/max skip NaN unless the group is all-NaN (ref: engine.go:3680)
      case "min" => groupedF(coalesce(min(when(!isnan(col("v")), col("v"))), lit(Double.NaN)))
      case "max" => groupedF(coalesce(max(when(!isnan(col("v")), col("v"))), lit(Double.NaN)))
      case "stddev" => groupedF(stddev_pop(col("v")))
      case "stdvar" => groupedF(var_pop(col("v")))

      case "quantile" =>
        // UDF path unconditionally: reference sorts NaN smallest
        // (quantile.go:717) where Spark percentile sorts NaN largest; φ may be
        // a per-step scalar expression (engine.go:2095 fParams)
        val (qdf, phi) = paramCol(preF)
        qdf.groupBy(col("gsig"), col("t"))
          .agg(first(col("glabels")).as("labels"), max(col("dn")).as("dn"),
            first(phi).as("__phi"), sortedVals.as("__pts"))
          .select(col("labels"), col("t"),
            RangeUdfs.quantileUdf(col("__phi"), col("__pts")).as("v"), col("t").as("st"), col("dn"))

      case "topk" | "bottomk" =>
        val (df, k) = paramCol(preF)
        val ord: Seq[Column] =
          if (ae.op == "topk") Seq(isnan(col("v")).asc, col("v").desc, pl.sigCol(col("labels")).asc)
          else Seq(isnan(col("v")).asc, col("v").asc, pl.sigCol(col("labels")).asc)
        val w = Window.partitionBy(col("gsig"), col("t")).orderBy(ord: _*)
        // __rk doubles as the presentation order (`expect ordered` — the
        // reference's heap pops topk descending / bottomk ascending)
        df.withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= k.cast("long"))
          .select(col("labels"), col("t"), col("v"), col("st"), col("dn"),
            col("__rk").cast("double").as("__ord"))

      case "limitk" =>
        val (df, k) = paramCol(pre)
        val w = Window.partitionBy(col("gsig"), col("t"))
          .orderBy(pl.sigCol(col("labels")).asc)
        df.withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= k.cast("long"))
          .select(col("labels"), col("t"), col("v"), col("st"), col("h"), col("dn"))

      case "limit_ratio" =>
        // EXACT port of the reference's sampling hash: xxhash64 (seed 0) over
        // the labels.Hash byte encoding `name 0xff value 0xff ...` of the
        // sorted label set, mapped to [0,1) as unsigned/2^64; keep when
        // offset < r (or ≥ 1+r for negative r) — so complements partition
        // identically to the reference (ref: model/labels hashing +
        // engine.go aggregationK AddRatioSample)
        if (paramConst.exists(_.isNaN))
          throw PromQLError("ratio value should be a number, got NaN")
        val (df, r) = paramCol(pre)
        val ff = lit(Array(0xFF.toByte))
        val enc = aggregate(Engine.sortedLabels(col("labels")), lit(Array.emptyByteArray),
          (acc, e) => concat(acc, encode(e.getField("key"), "UTF-8"), ff,
            encode(e.getField("value"), "UTF-8"), ff))
        val hh = org.apache.spark.sql.GraftBridge.xxhash64WithSeed(enc, 0L)
        val frac = (shiftrightunsigned(hh, 1).cast("double") * 2.0 +
          hh.bitwiseAND(lit(1L)).cast("double")) / lit(1.8446744073709552E19)
        df.filter(when(r >= 0, frac < r).otherwise(frac >= (lit(1.0) + r)))
          .select(col("labels"), col("t"), col("v"), col("st"), col("h"), col("dn"))

      case "count_values" =>
        def unwrapStr(e: Expr): String = e match {
          case StringLiteral(s) => s
          case ParenExpr(i) => unwrapStr(i)
          case _ => throw PromQLError("count_values: label name must be a string literal")
        }
        val lbl = unwrapStr(ae.param.get)
        if (!CallEval.validLabelName(lbl))
          throw PromQLError(s"invalid label name in count_values(): $lbl")
        // histogram samples group by their Go String() rendering
        // (ref: engine.go:4208 count_values)
        // group on the FINAL label set — the value label may overwrite a
        // grouping label, merging groups (engine.go:4208)
        pre.withColumn("__fv",
            coalesce(HistUdfs.guarded(col("h"))(HistUdfs.histStringH(col("h"))),
                     RangeUdfs.goFormatUdf(col("v"))))
          .withColumn("__flabels",
            map_concat(map_filter(col("glabels"), (k, _) => k =!= lbl),
                       map(lit(lbl), col("__fv"))))
          .groupBy(pl.hashSigCol(col("__flabels")).as("__fsig"), col("t"))
          .agg(first(col("__flabels")).as("labels"), max(col("dn")).as("dn"),
            count(lit(1)).cast("double").as("v"))
          .select(col("labels"), col("t"), col("v"), col("t").as("st"), col("dn"))

      case other => throw PromQLError(s"unknown aggregator: $other")
    }
  }
}
