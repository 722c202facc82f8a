package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Column↔Expression / plan↔Dataset conversion
  * (Spark 4 moved these behind `org.apache.spark.sql.classic`). Lives under
  * `org.apache.spark.sql` solely to satisfy the access modifier — the same
  * pattern open-source Spark extension libraries use.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a logical plan as a DataFrame (triggers analysis). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}

/** Bridge into `private[spark]` job and block management, for the RDD-level
  * jobs the engine runs outside any SQL execution. */
object RddBridge {
  /** Run `action` (an RDD job) under `spark`'s session artifacts, as SQL
    * executions run. Generated classes are cached per class loader, and a
    * session's query tasks load them through the session's executor class
    * loader; an RDD job outside it runs under the executor's default one,
    * so every class its plan shares with the session's queries would be
    * compiled and cached a second time. */
  def inSession[T](spark: SparkSession)(action: => T): T =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].artifactManager
      .withResources(action)

  /** Free a persisted RDD's blocks without blocking, as `RDD.unpersist`
    * does, minus its per-call WARN for a locally checkpointed RDD (whose
    * truncated lineage is the very reason its owner frees it). The RDD
    * object keeps its storage level; a locally checkpointed one cannot be
    * recomputed after either call. */
  def unpersistQuietly(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
