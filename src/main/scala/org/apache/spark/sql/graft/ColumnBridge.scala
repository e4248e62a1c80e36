package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge for custom Catalyst expressions.
  *
  * Spark 4 wraps Columns around ColumnNodes and keeps the Expression
  * conversion (`classic.ExpressionUtils`) private[sql]; third-party
  * expression libraries conventionally expose it through a shim in the
  * org.apache.spark.sql namespace (the same access pattern Spark connector
  * and extension projects use). This is the ONLY file that reaches into
  * Spark internals; everything else goes through these calls.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A sort column's key and ordering: (key, ascending, nulls first). A
    * plain column sorts ASC NULLS FIRST, Spark's default. */
  def sortKey(c: Column): (Column, Boolean, Boolean) = {
    import org.apache.spark.sql.internal.SortOrder
    c.node match {
      case s: SortOrder => (new Column(s.child), s.sortDirection == SortOrder.Ascending,
        s.nullOrdering == SortOrder.NullsFirst)
      case _ => (c, true, true)
    }
  }
  /** A DataFrame over an analyzed logical plan — the SQL-DML dispatch
    * needs the MERGE source (an arbitrary resolved query) back as a
    * frame to hand to the TxnTable op (`Dataset.ofRows`, the same
    * private[sql] door every Spark extension project uses). */
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Re-tag a BATCH DataFrame as a STREAMING one (executed plan, RDD
    * boundary): the V1 streaming `Source.getBatch` contract requires an
    * isStreaming plan, while a table-format CDC window is naturally a
    * batch read of committed files — the same wrap every V1 file/Kafka
    * source performs via `internalCreateDataFrame(isStreaming = true)`. */
  def asStreaming(spark: SparkSession, df: DataFrame): DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The inverse boundary for a streaming SINK's `addBatch` frame: the
    * handle Spark passes is bound to the stream's IncrementalExecution;
    * re-wrapping its executed RDD as a plain batch frame (what
    * ForeachBatchSink does via `LogicalRDD.fromDataset`) lets the batch
    * write path consume it without re-planning the micro-batch. */
  def asBatch(spark: SparkSession, df: DataFrame): DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }
}
