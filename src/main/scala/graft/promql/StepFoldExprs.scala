package graft.promql

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{toCol, toExpr}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Catalyst expressions for the series-at-once fold family.
  *
  * These replace ScalaUDF boundaries on the hottest per-step fold paths. A
  * ScalaUDF pays a reflection-derived encoder round-trip on BOTH sides: its
  * output Seq[CaseClass] is re-serialized element-by-element (measured ~20µs
  * per (series, step) output on the bench replica — the dominant CPU of the
  * whole rate plan at 1M outputs), and parallel-array outputs are not an
  * option because CollapseProject inlines the UDF once per field extraction.
  * An Expression evaluates ONCE, reads its input off the ArrayData primitive
  * fast paths, and emits GenericInternalRows that the downstream Generate
  * consumes with no conversion at all.
  *
  * CodegenFallback is deliberate: the expression is invoked once per SERIES
  * (after a collect_list), not once per sample, so interpreted dispatch is
  * noise while the fold body stays plain JIT-compiled Scala. */
object StepFoldExprs {

  val rangeStatType: StructType = StructType(Seq(
    StructField("t", LongType, nullable = false),
    StructField("cnt", LongType, nullable = false),
    StructField("firstV", DoubleType, nullable = false),
    StructField("minWt", LongType, nullable = false),
    StructField("firstSt", LongType, nullable = false),
    StructField("lastV", DoubleType, nullable = false),
    StructField("maxWt", LongType, nullable = false),
    StructField("corr", DoubleType, nullable = false),
    StructField("nResets", DoubleType, nullable = false),
    StructField("nChanges", DoubleType, nullable = false),
    StructField("dn", BooleanType, nullable = false)))

  /** builder: rateStats(wts, vs, wsts, dns) as a Column */
  def rateStatsSteps(startMs: Long, stepMs: Long, numSteps: Int, rangeMs: Long)(
      wts: Column, vs: Column, sts: Column, dns: Column): Column =
    toCol(RateStatsStepsExpr(toExpr(wts), toExpr(vs), toExpr(sts), toExpr(dns),
      startMs, stepMs, numSteps, rangeMs))

  val mixedRateType: StructType = StructType(Seq(
    StructField("t", LongType, nullable = false),
    StructField("v", DoubleType, nullable = false),
    StructField("dn", BooleanType, nullable = false),
    StructField("h", FHist.schemaType, nullable = true)))

  /** builder: single-pass mixed float+histogram rate/increase/delta;
    * `pts` = UNSORTED collect_list of struct(wt, v, h, stt, dn) */
  def mixedRateSteps(op: String, startMs: Long, stepMs: Long,
      numSteps: Int, rangeMs: Long)(pts: Column): Column =
    toCol(MixedRateStepsExpr(toExpr(pts), op, startMs, stepMs, numSteps, rangeMs))

  val stepValueType: StructType = StructType(Seq(
    StructField("_1", LongType, nullable = false),
    StructField("_2", DoubleType, nullable = false)))

  /** builder: the `*_over_time` family fold (RangeUdfs.windowAggFold) */
  def windowAggSteps(op: String, startMs: Long, stepMs: Long, numSteps: Int,
      rangeMs: Long, p1: Double, p2: Double)(wts: Column, vs: Column): Column =
    toCol(WindowAggStepsExpr(toExpr(wts), toExpr(vs), op,
      startMs, stepMs, numSteps, rangeMs, p1, p2))

  /** builder: histogram-series fold; op ∈ rate|increase|delta|sum|avg.
    * `pts` = UNSORTED collect_list of struct(wt, h, stt) — argsorted inside */
  def histFoldSteps(op: String, rangeMs: Long, startMs: Long, stepMs: Long,
      numSteps: Int)(pts: Column): Column =
    toCol(HistFoldStepsExpr(toExpr(pts), op, rangeMs, startMs, stepMs, numSteps))

  /** builder: MIXED float+hist sum/avg_over_time fold;
    * `pts` = UNSORTED collect_list of struct(wt, v, h) — argsorted inside */
  def mixedOverTimeSteps(isAvg: Boolean, rangeMs: Long, startMs: Long,
      stepMs: Long, numSteps: Int)(pts: Column): Column =
    toCol(MixedOverTimeStepsExpr(toExpr(pts), isAvg, rangeMs, startMs, stepMs, numSteps))

  /** builder: float-only instant as-of pick over five parallel arrays */
  def instantPickSteps(startMs: Long, stepMs: Long, numSteps: Int,
      lookbackMs: Long)(wts: Column, stales: Column, sts: Column, vs: Column,
      stts: Column): Column =
    toCol(InstantPickStepsExpr(toExpr(wts), toExpr(stales), toExpr(sts),
      toExpr(vs), toExpr(stts), startMs, stepMs, numSteps, lookbackMs))

  /** builder: mixed float/histogram instant as-of pick;
    * `pts` = UNSORTED collect_list of struct(wt, st, v, stale, stt, h) */
  def instantMixedSteps(startMs: Long, stepMs: Long, numSteps: Int,
      lookbackMs: Long)(pts: Column): Column =
    toCol(InstantMixedStepsExpr(toExpr(pts), startMs, stepMs, numSteps, lookbackMs))
}

/** Series-at-once histogram rate/increase/delta/sum_over_time/avg_over_time
  * fold (the Expression form of the former histRateAllSteps /
  * histOverTimeAllSteps UDFs — the fold bodies live in
  * [[HistUdfs.histRateFoldSteps]] / [[HistUdfs.histOverTimeFoldSteps]]).
  * The FHist codec is [[FHist.fromInternal]]/[[FHist.toInternal]] — direct
  * primitive reads, replacing the encoder round-trip that dominated the
  * histogram plans. Input: UNSORTED array<struct<wt, h, stt>>; argsorted by
  * wt here (replacing a sort_array over wide structs in the plan). */
final case class HistFoldStepsExpr(child: Expression, op: String,
    rangeMs: Long, startMs: Long, stepMs: Long, numSteps: Int)
  extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("_1", LongType, nullable = false),
    StructField("_2", FHist.schemaType, nullable = true))), containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null || arr.numElements() == 0)
      return new GenericArrayData(Array.empty[Any])
    val n0 = arr.numElements()
    val wtsT = new Array[Long](n0); val sttsT = new Array[Long](n0)
    val hsT = new Array[FHist](n0)
    var m = 0; var i = 0
    while (i < n0) {
      val r = arr.getStruct(i, 3)
      if (r != null && !r.isNullAt(1)) {
        wtsT(m) = r.getLong(0)
        hsT(m) = FHist.fromInternal(r.getStruct(1, 11))
        sttsT(m) = if (r.isNullAt(2)) 0L else r.getLong(2)
        m += 1
      }
      i += 1
    }
    val ord = RangeUdfs.argsortByWt(java.util.Arrays.copyOf(wtsT, m))
    val wts = new Array[Long](m); val stts = new Array[Long](m)
    val hs = new Array[FHist](m)
    i = 0
    while (i < m) {
      val j = ord(i)
      wts(i) = wtsT(j); stts(i) = sttsT(j); hs(i) = hsT(j)
      i += 1
    }
    val rows = op match {
      case "sum" | "avg" =>
        HistUdfs.histOverTimeFoldSteps(op == "avg", startMs, stepMs, numSteps,
          rangeMs, wts, hs)
      case _ =>
        HistUdfs.histRateFoldSteps(op != "delta", op == "rate", rangeMs,
          startMs, stepMs, numSteps, wts, stts, hs)
    }
    new GenericArrayData(rows.toArray)
  }
}

/** Series-at-once sum/avg_over_time over a MIXED float+histogram series —
  * the Expression form of [[HistUdfs.mixedOverTimeFoldSteps]] (see its
  * scaladoc: float windows reuse the prefix-decomposed float fold, hist
  * windows the SWAG fold, mixed windows drop). Input: UNSORTED
  * array<struct<wt, v, h>>; argsorted by wt here. */
final case class MixedOverTimeStepsExpr(child: Expression, isAvg: Boolean,
    rangeMs: Long, startMs: Long, stepMs: Long, numSteps: Int)
  extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("_1", LongType, nullable = false),
    StructField("_2", DoubleType, nullable = false),
    StructField("_3", FHist.schemaType, nullable = true))), containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null || arr.numElements() == 0)
      return new GenericArrayData(Array.empty[Any])
    val n = arr.numElements()
    val wts0 = new Array[Long](n); val vs0 = new Array[Double](n)
    val hs0 = new Array[FHist](n)
    var i = 0
    while (i < n) {
      val r = arr.getStruct(i, 3)
      wts0(i) = r.getLong(0)
      vs0(i) = if (r.isNullAt(1)) Double.NaN else r.getDouble(1)
      hs0(i) = if (r.isNullAt(2)) null else FHist.fromInternal(r.getStruct(2, 11))
      i += 1
    }
    val ord = RangeUdfs.argsortByWt(wts0)
    val wts = new Array[Long](n); val vs = new Array[Double](n)
    val hs = new Array[FHist](n)
    i = 0
    while (i < n) {
      val j = ord(i)
      wts(i) = wts0(j); vs(i) = vs0(j); hs(i) = hs0(j)
      i += 1
    }
    new GenericArrayData(HistUdfs.mixedOverTimeFoldSteps(isAvg, startMs,
      stepMs, numSteps, rangeMs, wts, vs, hs).toArray)
  }
}

/** Float-only instant as-of pick over five parallel primitive arrays — the
  * Expression form of the former instantPickAllSteps UDF (ref:
  * promql/engine.go:2730 vectorSelectorSingle). */
final case class InstantPickStepsExpr(wtsE: Expression, stalesE: Expression,
    stsE: Expression, vsE: Expression, sttsE: Expression,
    startMs: Long, stepMs: Long, numSteps: Int, lookbackMs: Long)
  extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(wtsE, stalesE, stsE, vsE, sttsE)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(wtsE = newChildren(0), stalesE = newChildren(1), stsE = newChildren(2),
      vsE = newChildren(3), sttsE = newChildren(4))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("t", LongType, nullable = false),
    StructField("st", LongType, nullable = false),
    StructField("v", DoubleType, nullable = false),
    StructField("stt", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val wtsD = wtsE.eval(input).asInstanceOf[ArrayData]
    if (wtsD == null || wtsD.numElements() == 0)
      return new GenericArrayData(Array.empty[Any])
    val wts0 = wtsD.toLongArray()
    val stales0 = stalesE.eval(input).asInstanceOf[ArrayData].toBooleanArray()
    val sts0 = stsE.eval(input).asInstanceOf[ArrayData].toLongArray()
    val vs0 = vsE.eval(input).asInstanceOf[ArrayData].toDoubleArray()
    val stts0 = sttsE.eval(input).asInstanceOf[ArrayData].toLongArray()
    val n = wts0.length
    val ord = RangeUdfs.argsortByWt(wts0)
    val swts = new Array[Long](n)
    var s0 = 0
    while (s0 < n) { swts(s0) = wts0(ord(s0)); s0 += 1 }
    val out = new java.util.ArrayList[Any](numSteps min 4096)
    var hi = 0; var k = 0
    while (k < numSteps) {
      val t = startMs + k.toLong * stepMs
      while (hi < n && swts(hi) <= t) hi += 1
      if (hi > 0) {
        val wt = swts(hi - 1)
        val j = ord(hi - 1)
        if (wt > t - lookbackMs && !stales0(j)) {
          val r = new GenericInternalRow(4)
          r.setLong(0, t); r.setLong(1, sts0(j))
          r.setDouble(2, vs0(j)); r.setLong(3, stts0(j))
          out.add(r)
        }
      }
      k += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** Mixed float/histogram instant as-of pick — the Expression form of the
  * former instantAllSteps UDF. Histogram payloads PASS THROUGH as raw
  * Catalyst structs (copied, never decoded): the pick only reads wt/stale.
  * Input: UNSORTED array<struct<wt, st, v, stale, stt, h>> (argsorted by wt
  * here, replacing the plan-side sort_array over wide structs). */
final case class InstantMixedStepsExpr(child: Expression,
    startMs: Long, stepMs: Long, numSteps: Int, lookbackMs: Long)
  extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("t", LongType, nullable = false),
    StructField("st", LongType, nullable = false),
    StructField("v", DoubleType, nullable = false),
    StructField("stt", LongType, nullable = false),
    StructField("h", FHist.schemaType, nullable = true))), containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null || arr.numElements() == 0)
      return new GenericArrayData(Array.empty[Any])
    val n = arr.numElements()
    val wts0 = new Array[Long](n)
    var i = 0
    while (i < n) { wts0(i) = arr.getStruct(i, 6).getLong(0); i += 1 }
    val ord = RangeUdfs.argsortByWt(wts0)
    val swts = new Array[Long](n)
    var s0 = 0
    while (s0 < n) { swts(s0) = wts0(ord(s0)); s0 += 1 }
    val out = new java.util.ArrayList[Any](numSteps min 4096)
    var hi = 0; var k = 0
    while (k < numSteps) {
      val t = startMs + k.toLong * stepMs
      while (hi < n && swts(hi) <= t) hi += 1
      if (hi > 0) {
        val wt = swts(hi - 1)
        if (wt > t - lookbackMs) {
          val j = ord(hi - 1)
          val e = arr.getStruct(j, 6)
          val stale = !e.isNullAt(3) && e.getBoolean(3)
          if (!stale) {
            val r = new GenericInternalRow(5)
            r.setLong(0, t)
            r.setLong(1, e.getLong(1))
            if (e.isNullAt(2)) r.setDouble(2, Double.NaN) else r.setDouble(2, e.getDouble(2))
            r.setLong(3, if (e.isNullAt(4)) 0L else e.getLong(4))
            r.update(4, if (e.isNullAt(5)) null else e.getStruct(5, 11).copy())
            out.add(r)
          }
        }
      }
      k += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** Series-at-once `*_over_time`/deriv/predict_linear/des fold — Expression
  * form of the former seriesWindowAgg UDF; the fold body lives in
  * [[RangeUdfs.windowAggFold]] (see its scaladoc for per-op reference
  * citations). Output: array<struct<_1: step ms, _2: value>> (the former
  * tuple field names, so downstream selects are unchanged). */
final case class WindowAggStepsExpr(wtsE: Expression, vsE: Expression,
    op: String, startMs: Long, stepMs: Long, numSteps: Int, rangeMs: Long,
    p1: Double, p2: Double)
  extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(wtsE, vsE)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(wtsE = newChildren(0), vsE = newChildren(1))
  override def dataType: DataType =
    ArrayType(StepFoldExprs.stepValueType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val wtsD = wtsE.eval(input).asInstanceOf[ArrayData]
    val vsD = vsE.eval(input).asInstanceOf[ArrayData]
    val wts0 = if (wtsD == null) null else wtsD.toLongArray()
    val vs0 = if (vsD == null) null else vsD.toDoubleArray()
    new GenericArrayData(RangeUdfs.windowAggFold(op, startMs, stepMs, numSteps,
      rangeMs, p1, p2, wts0, vs0).toArray)
  }
}

/** Series-at-once rate-family window statistics (the Expression form of the
  * former RangeUdfs.rateStatsAllSteps UDF — semantics identical; see that
  * scaladoc for the algorithm and reference citations:
  * promql/functions.go:452 extrapolatedRate reset scan, :760
  * isStartTimestampReset). Inputs: four parallel arrays sharing one
  * accumulation order (argsorted by wt here). Output:
  * array<struct rangeStatType> — one element per step whose window holds ≥1
  * sample. */
final case class RateStatsStepsExpr(wtsE: Expression, vsE: Expression,
    stsE: Expression, dnsE: Expression,
    startMs: Long, stepMs: Long, numSteps: Int, rangeMs: Long)
  extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(wtsE, vsE, stsE, dnsE)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(wtsE = newChildren(0), vsE = newChildren(1),
      stsE = newChildren(2), dnsE = newChildren(3))
  override def dataType: DataType =
    ArrayType(StepFoldExprs.rangeStatType, containsNull = false)
  override def nullable: Boolean = false

  private val emptyOut = new GenericArrayData(Array.empty[Any])

  override def eval(input: InternalRow): Any = {
    val wtsD = wtsE.eval(input).asInstanceOf[ArrayData]
    if (wtsD == null || wtsD.numElements() == 0) return emptyOut
    val vsD = vsE.eval(input).asInstanceOf[ArrayData]
    val stsD = stsE.eval(input).asInstanceOf[ArrayData]
    val dnsD = dnsE.eval(input).asInstanceOf[ArrayData]
    val wts0 = wtsD.toLongArray(); val vs0 = vsD.toDoubleArray()
    val sts0 = stsD.toLongArray(); val dns0 = dnsD.toBooleanArray()
    val n = wts0.length
    // the four collect_lists share one accumulation order; argsort by wt
    val ord = RangeUdfs.argsortByWt(wts0)
    val wts = new Array[Long](n); val vs = new Array[Double](n)
    val sts = new Array[Long](n); val dns = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      val j = ord(i)
      wts(i) = wts0(j)
      vs(i) = vs0(j); sts(i) = sts0(j); dns(i) = dns0(j)
      i += 1
    }
    // prefix pair properties: index i describes the pair (i−1, i)
    val pCorr = new Array[Double](n); val pRst = new Array[Int](n)
    val pChg = new Array[Int](n); val pDn = new Array[Int](n)
    pDn(0) = if (dns(0)) 1 else 0
    i = 1
    while (i < n) {
      val pv = vs(i - 1); val v = vs(i)
      val stReset = sts(i) != 0L && sts(i) < wts(i) && sts(i) >= wts(i - 1) &&
        (sts(i) > wts(i - 1) ||
         (sts(i - 1) <= wts(i - 1) && sts(i - 1) != 0L && sts(i - 1) != wts(i - 1)))
      val reset = (!pv.isNaN && v < pv) || stReset
      val changed = (v != pv && !(v.isNaN && pv.isNaN)) || (v.isNaN != pv.isNaN)
      pCorr(i) = pCorr(i - 1) + (if (reset) pv else 0.0)
      pRst(i) = pRst(i - 1) + (if (reset) 1 else 0)
      pChg(i) = pChg(i - 1) + (if (changed) 1 else 0)
      pDn(i) = pDn(i - 1) + (if (dns(i)) 1 else 0)
      i += 1
    }
    val out = new java.util.ArrayList[Any](numSteps min 4096)
    var lo = 0; var hi = 0 // window (t−range, t] == indices [lo, hi)
    var k = 0
    while (k < numSteps) {
      val t = startMs + k.toLong * stepMs
      while (lo < n && wts(lo) <= t - rangeMs) lo += 1
      while (hi < n && wts(hi) <= t) hi += 1
      if (hi > lo) {
        val e = hi - 1
        val r = new GenericInternalRow(11)
        r.setLong(0, t); r.setLong(1, (hi - lo).toLong)
        r.setDouble(2, vs(lo)); r.setLong(3, wts(lo)); r.setLong(4, sts(lo))
        r.setDouble(5, vs(e)); r.setLong(6, wts(e))
        r.setDouble(7, pCorr(e) - pCorr(lo))
        r.setDouble(8, (pRst(e) - pRst(lo)).toDouble)
        r.setDouble(9, (pChg(e) - pChg(lo)).toDouble)
        r.setBoolean(10, pDn(e) - pDn(lo) + (if (dns(lo)) 1 else 0) > 0)
        out.add(r)
      }
      k += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** Single-pass mixed float+histogram rate/increase/delta — the fusion of
  * [[RateStatsStepsExpr]] (float prefix-decomposed stats), the reference's
  * extrapolation formula, and [[HistFoldStepsExpr]]'s rate fold, replacing
  * the former series-kind census + three-leg union plan (which re-scanned
  * the pruned selector four times even for kind-pure stores). One argsorted
  * pass splits the merged timeline into the float and histogram
  * subsequences; a per-window histogram COUNT from a prefix array
  * classifies each step O(1):
  *   - float-pure windows compute extrapolatedRate in place
  *     (ref: promql/functions.go:452 — same double-op order as the former
  *     Column formula chain, which evaluated interpreted on every exploded
  *     row below the CodegenFallback Generate and dominated the rate plan's
  *     CPU at 1M outputs);
  *   - hist-pure windows emit the SWAG-folded histogram result
  *     ([[HistUdfs.histRateFoldSteps]] over the hist subsequence);
  *   - windows containing BOTH kinds drop (the reference's mixed-window
  *     exclusion, functions.go extrapolatedRate warning path).
  * `dn` is the OR over in-window samples from a merged prefix — exact for
  * both pure-window kinds. Input: UNSORTED array<struct<wt, v, h, stt, dn>>.
  * Output rows: [[StepFoldExprs.mixedRateType]] (t, v, dn, h). */
final case class MixedRateStepsExpr(child: Expression, op: String,
    startMs: Long, stepMs: Long, numSteps: Int, rangeMs: Long)
  extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
  override def dataType: DataType =
    ArrayType(StepFoldExprs.mixedRateType, containsNull = false)
  override def nullable: Boolean = false

  private val isCounter = op != "delta"
  private val isRate = op == "rate"
  private val rangeSec = rangeMs / 1000.0

  override def eval(input: InternalRow): Any = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null || arr.numElements() == 0)
      return new GenericArrayData(Array.empty[Any])
    val n = arr.numElements()
    val wts0 = new Array[Long](n)
    var i = 0
    while (i < n) { wts0(i) = arr.getStruct(i, 5).getLong(0); i += 1 }
    val ord = RangeUdfs.argsortByWt(wts0)
    // merged sorted timeline + kind split (float arrays keep stt for the
    // ST-reset pair test; hist arrays keep stt for histogramRate's ST branch)
    val wts = new Array[Long](n)
    var nh = 0
    i = 0
    while (i < n) {
      val r = arr.getStruct(ord(i), 5)
      wts(i) = r.getLong(0)
      if (!r.isNullAt(2)) nh += 1
      i += 1
    }
    val nf = n - nh
    val histPre = new Array[Int](n + 1)
    val dnPre = new Array[Int](n + 1)
    val fwts = new Array[Long](nf); val fvs = new Array[Double](nf)
    val fsts = new Array[Long](nf)
    val hwts = new Array[Long](nh); val hstts = new Array[Long](nh)
    val hhs = new Array[FHist](nh)
    var fi = 0; var hj = 0
    i = 0
    while (i < n) {
      val r = arr.getStruct(ord(i), 5)
      val dn = !r.isNullAt(4) && r.getBoolean(4)
      if (!r.isNullAt(2)) {
        hwts(hj) = wts(i)
        hstts(hj) = if (r.isNullAt(3)) 0L else r.getLong(3)
        hhs(hj) = FHist.fromInternal(r.getStruct(2, 11))
        hj += 1
      } else {
        fwts(fi) = wts(i)
        fvs(fi) = if (r.isNullAt(1)) Double.NaN else r.getDouble(1)
        fsts(fi) = if (r.isNullAt(3)) 0L else r.getLong(3)
        fi += 1
      }
      histPre(i + 1) = hj
      dnPre(i + 1) = dnPre(i) + (if (dn) 1 else 0)
      i += 1
    }
    // float prefix pair properties — identical math to RateStatsStepsExpr
    val pCorr = new Array[Double](if (nf == 0) 1 else nf)
    i = 1
    while (i < nf) {
      val pv = fvs(i - 1); val v = fvs(i)
      val stReset = fsts(i) != 0L && fsts(i) < fwts(i) && fsts(i) >= fwts(i - 1) &&
        (fsts(i) > fwts(i - 1) ||
         (fsts(i - 1) <= fwts(i - 1) && fsts(i - 1) != 0L && fsts(i - 1) != fwts(i - 1)))
      val reset = (!pv.isNaN && v < pv) || stReset
      pCorr(i) = pCorr(i - 1) + (if (reset) pv else 0.0)
      i += 1
    }
    val histRows =
      if (nh == 0) new java.util.ArrayList[Any](0)
      else HistUdfs.histRateFoldSteps(isCounter, isRate, rangeMs,
        startMs, stepMs, numSteps, hwts, hstts, hhs)
    val out = new java.util.ArrayList[Any](numSteps min 4096)
    var lo = 0; var hi = 0 // merged window (t−range, t] == [lo, hi)
    var hp = 0
    var k = 0
    while (k < numSteps) {
      val t = startMs + k.toLong * stepMs
      while (lo < n && wts(lo) <= t - rangeMs) lo += 1
      while (hi < n && wts(hi) <= t) hi += 1
      while (hp < histRows.size &&
        histRows.get(hp).asInstanceOf[GenericInternalRow].getLong(0) < t) hp += 1
      val len = hi - lo
      if (len > 0) {
        val nHist = histPre(hi) - histPre(lo)
        val dnW = dnPre(hi) - dnPre(lo) > 0
        if (nHist == 0) {
          val flo = lo - histPre(lo); val fhi = hi - histPre(hi)
          val e = fhi - 1
          val cnt = fhi - flo
          val firstV = fvs(flo); val minWt = fwts(flo); val firstSt = fsts(flo)
          val lastV = fvs(e); val maxWt = fwts(e)
          val corr = pCorr(e) - pCorr(flo)
          // ref: promql/functions.go:452 extrapolatedRate — identical double
          // op order to the former Column chain (bit-stable vs the old plan)
          val resultValue0 =
            if (isCounter) lastV - firstV + corr else lastV - firstV
          val stBranch = isCounter && firstSt != 0L &&
            firstSt > t - rangeMs && firstSt < minWt
          if (cnt >= 2 || stBranch) {
            val resultValue = if (stBranch) resultValue0 + firstV else resultValue0
            val durToStart0 = (minWt - (t - rangeMs)).toDouble / 1000.0
            val durToEnd0 = (t - maxWt).toDouble / 1000.0
            val sampled0 = (maxWt - minWt).toDouble / 1000.0
            val avgDur = if (cnt > 1) sampled0 / (cnt - 1).toDouble else 0.0
            val thresh = avgDur * 1.1
            val durToStart1 = if (durToStart0 >= thresh) avgDur / 2 else durToStart0
            val durToStart2 =
              if (isCounter && resultValue0 > 0 && firstV >= 0)
                math.min(durToStart1, sampled0 * (firstV / resultValue0))
              else durToStart1
            val durToStart = if (stBranch) 0.0 else durToStart2
            val sampled =
              if (stBranch) (maxWt - firstSt).toDouble / 1000.0 else sampled0
            val durToEnd = if (durToEnd0 >= thresh) avgDur / 2 else durToEnd0
            val extInterval = sampled + durToStart + durToEnd
            val factor0 = if (sampled != 0.0) extInterval / sampled else 1.0
            val factor = if (isRate) factor0 / rangeSec else factor0
            val r = new GenericInternalRow(4)
            r.setLong(0, t); r.setDouble(1, resultValue * factor)
            r.setBoolean(2, dnW); r.update(3, null)
            out.add(r)
          }
        } else if (nHist == len && hp < histRows.size) {
          val hr = histRows.get(hp).asInstanceOf[GenericInternalRow]
          if (hr.getLong(0) == t) {
            val r = new GenericInternalRow(4)
            r.setLong(0, t); r.setDouble(1, Double.NaN)
            r.setBoolean(2, dnW); r.update(3, hr.get(1, FHist.schemaType))
            out.add(r)
          }
        } // both kinds present: drop the window (reference warns + skips)
      }
      k += 1
    }
    new GenericArrayData(out.toArray)
  }
}
