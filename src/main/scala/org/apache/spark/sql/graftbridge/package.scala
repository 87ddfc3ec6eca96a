package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition,
  UnknownPartitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.internal.SQLConf

/** Bridge into Spark 4's `private[sql]` Column↔Expression converters,
  * needed to expose a custom Catalyst `Expression` as a user-facing
  * `Column` (the pre-4.0 `new Column(expr)` constructor is gone), into
  * the `private[spark]` listener bus and into the CacheManager's
  * session clone. Lives in the spark.sql namespace solely for access. */
package object graftbridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame over a hand-built logical plan (perfbench's trace runs
    * each join side of an optimized plan as a frame of its own). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Wait until `sc`'s listener bus has delivered every posted event
    * (the bus is `private[spark]`). */
  def awaitListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** `checkpoint` applied to `df` planned the way the CacheManager
    * plans a persisted frame: in a session clone with the final-stage
    * shuffle optimizations off, so the last stage is not coalesced and
    * the checkpoint can report the final plan's `HashPartitioning`
    * (beside the frame's statistics and constraints). It comes back
    * in `df`'s session. */
  def plannedForCache(df: DataFrame)(checkpoint: DataFrame => DataFrame): DataFrame = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val planning = classic.SparkSession.getOrCloneSessionWithConfigsOff(session,
      Seq(SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS))
    val planned = classic.Dataset.ofRows(planning, df.queryExecution.analyzed)
    val done = checkpoint(planned).queryExecution.analyzed.asInstanceOf[LogicalRDD]
    val n = done.rdd.getNumPartitions
    val partitioning = (planned.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).outputPartitioning match {
      case h: HashPartitioning if h.numPartitions == n &&
        h.references.subsetOf(done.outputSet) => h
      case SinglePartition if n == 1 => SinglePartition
      case _ => UnknownPartitioning(0)
    }
    classic.Dataset.ofRows(session, done.copy(outputPartitioning = partitioning)(
      session, Some(done.computeStats()), Some(done.constraints)))
  }
}
