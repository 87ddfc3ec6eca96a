package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** A finished SQL execution's id, action name (`localCheckpoint` for
  * a cut) and QueryExecution: the end event carries the last two as
  * `private[sql]` fields. Plan guards pair them with the execution's
  * job description from its start event. */
object ExecutionEnd {
  def unapply(e: SparkListenerSQLExecutionEnd): Option[(Long, String, QueryExecution)] =
    for (name <- e.executionName; qe <- Option(e.qe)) yield (e.executionId, name, qe)
}
