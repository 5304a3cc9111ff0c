package org.apache.spark.sql.graft

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
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

  /** The most rows of `schema` the driver may hold: the most a
    * `LocalRelation` can have while Spark's own size estimate for it
    * (its `computeStats`: rows × per-row size) stays under the session's
    * `spark.sql.autoBroadcastJoinThreshold`, the size below which Spark
    * ships a relation to every task anyway. A threshold ≤ 0 means
    * never (-1).
    */
  def broadcastRows(spark: SparkSession, schema: StructType): Long = {
    val limit = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold
    if (limit <= 0) -1L
    else (BigInt(limit) / EstimationUtils.getSizePerRow(DataTypeUtils.toAttributes(schema))).toLong
  }

  /** Write `rows`, internal rows of `schema`, as ONE parquet file in the
    * directory `dir`, on the calling thread and with no Spark job. It
    * opens the writer a Spark write task opens (`ParquetUtils.prepareWrite`,
    * then the factory's `newInstance` on a task attempt context), so
    * codec, footer and row-schema metadata match a `df.write.parquet`
    * file. There is no commit protocol and no `_SUCCESS` marker: the
    * caller publishes the directory itself.
    */
  def writeParquetFile(spark: SparkSession, dir: String, schema: StructType,
      rows: Iterator[InternalRow]): Unit = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val job = Job.getInstance(state.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(state.conf, job, schema,
      new ParquetOptions(Map.empty[String, String], state.conf))
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID("", 0, TaskType.MAP, 0, 0))
    val file = new Path(dir, s"part-00000-${UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}")
    val writer = factory.newInstance(file.toString, schema, ctx)
    try rows.foreach(writer.write) finally writer.close()
  }
}
