package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Minimal bridge into `private[sql]` Spark internals (Spark 4 moved
  * Column construction behind ColumnNodes). This is the only place the
  * engine reaches past the public API: to attach its own Catalyst
  * expressions (graft.functions.VectorExprs) to DataFrame columns, and
  * to expose a trainer's model RDD as a DataFrame without a copy.
  */
object GraftColumnBridge {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** A DataFrame whose plan is one LogicalRDD over `rows` itself, so
    * unpersisting that RDD frees the frame's data. */
  def dataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
