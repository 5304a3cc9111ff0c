package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** The one bridge into Spark's `private[sql]` API. Lives under
  * `org.apache.spark.sql` for visibility only — the standard pattern
  * for out-of-tree Spark extension libraries; no Spark behavior is
  * modified.
  */
object bridge {
  /** Column ⇄ Expression, for the custom Catalyst expressions. */
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap an RDD of already-internal rows as a DataFrame
    * (`SparkSession.internalCreateDataFrame`). The rows must match
    * `schema` exactly (UTF8String for strings, GenericArrayData for
    * arrays, InternalRow for structs) — the caller's contract, as for
    * Spark's own operators. A parser that already knows its output
    * shape skips the ExpressionEncoder serializer, which re-walks every
    * nested object per row (MapObjects loops).
    */
  def toDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)
}
