package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{AbstractDataType, DoubleType, StructType}

/** Bridge into Spark's private[sql] Column↔Expression converters (Spark 4
  * moved them behind `classic.ExpressionUtils`). Lets the engine build
  * codegen'd `StaticInvoke` columns for exact Go-math semantics without the
  * UDF serialization penalty. */
object GraftBridge {
  def toExpr(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def toCol(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** a DataFrame whose one leaf (a LogicalRDD) scans `rows`, which are
    * already in `schema`'s internal row layout */
  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

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
