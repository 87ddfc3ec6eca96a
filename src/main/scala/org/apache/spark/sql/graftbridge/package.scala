package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark 4's `private[sql]` Column↔Expression converters,
  * needed to expose a custom Catalyst `Expression` as a user-facing
  * `Column` (the pre-4.0 `new Column(expr)` constructor is gone), and
  * into the `private[spark]` listener bus. Lives in the spark.sql
  * package namespace solely for access. */
package object graftbridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame over a hand-built logical plan (for testing optimizer
    * rules in isolation). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Wait until `sc`'s listener bus has delivered every posted event
    * (the bus is `private[spark]`). */
  def awaitListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
