package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4's `Column` wraps a ColumnNode rather than a Catalyst Expression,
  * and the conversion helpers are `private[sql]`. This shim lives inside the
  * `org.apache.spark.sql` package purely to re-export those two conversions
  * for graft's kernel bindings and Catalyst nodes.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Drain the async listener bus (`listenerBus` is private[spark]) so
    * metrics accumulated by a SparkListener are complete before reading —
    * used by the Bench, MemSweep and Inspect listeners.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Materialize a DataFrame over a logical plan (Dataset.ofRows is
    * private[sql]).
    */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** DataFrame over an InternalRow RDD (internalCreateDataFrame is
    * private[sql]) — the reconstruction half of an RDD-level cache.
    */
  def internalCreateDataFrame(
      spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)
}
