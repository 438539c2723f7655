package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal accessor for the `private[sql]` Column <-> Expression bridge —
  * the standard technique for third-party Catalyst expressions on Spark 4
  * (Column wraps a ColumnNode; `classic.ExpressionUtils` converts).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  def analyzed(df: DataFrame):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** A fresh directory `<prefix>-<uuid>` under the JVM temp directory,
    * deleted by Spark's shutdown hook when the JVM exits: for a store
    * that the DataFrame a call returns still reads. */
  def tempDir(prefix: String): String =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix).getPath

  /** Drop the stored blocks of a locally checkpointed `df` that nothing
    * reads any more: `RDD.unpersist` without its per-call warning that a
    * truncated lineage cannot be recomputed, which the caller knows. */
  def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: execution.LogicalRDD =>
        r.rdd.sparkContext.unpersistRDD(r.rdd.id, blocking = false)
      case _ =>
    }

  /** Block until the listener bus has delivered every event posted so
    * far to every listener: how a profile reads its counters complete
    * without running a marker job of its own. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The query a SQL execution ran, if it succeeded: attached to its end
    * event by `SQLExecution.withNewExecutionId` (absent on replayed
    * events). */
  def queryExecution(e: execution.ui.SparkListenerSQLExecutionEnd)
      : Option[execution.QueryExecution] =
    Option(e.qe).filter(_ => e.executionFailure.isEmpty)
}
