package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{AbstractDataType, DoubleType, StructType}

/** The one bridge into Spark's private[sql] API. The Column↔Expression
  * converters (Spark 4 moved them behind `classic.ExpressionUtils`) let the
  * engine use its own Catalyst expressions (`StepFoldExprs`) as Columns and
  * build codegen'd `StaticInvoke` columns for exact Go-math semantics without
  * the UDF serialization penalty. Lives in the org.apache.spark.sql package
  * solely for access; no Spark internals are modified. */
object GraftBridge {
  def toExpr(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def toCol(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** a DataFrame whose one leaf (a LogicalRDD) scans `rows`, which are
    * already in `schema`'s internal row layout */
  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** a DataFrame over a local relation of `rows`, which are already in
    * `schema`'s internal row layout: a scan of it, or a broadcast of it,
    * runs no Spark job */
  def localFrame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      catalyst.plans.logical.LocalRelation(catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** java.lang.Math static call on double args, whole-stage-codegen friendly */
  def mathInvoke(fn: String, args: Seq[Column]): Column =
    staticInvoke(classOf[java.lang.Math], fn, args)

  /** xxHash64 with an explicit seed (the `xxhash64` SQL function pins
    * seed=42; Go's labels.Hash uses seed 0) */
  def xxhash64WithSeed(c: Column, seed: Long): Column =
    toCol(catalyst.expressions.XxHash64(Seq(toExpr(c)), seed))

  def staticInvoke(cls: Class[_], fn: String, args: Seq[Column]): Column = {
    val exprs = args.map(a => toExpr(a.cast("double")))
    toCol(StaticInvoke(
      cls, DoubleType, fn, exprs,
      exprs.map(_ => DoubleType: AbstractDataType), propagateNull = true,
      returnNullable = false))
  }
}
