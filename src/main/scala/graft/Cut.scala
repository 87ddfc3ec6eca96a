package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.graftbridge

/** The one way to materialize an intermediate:
  * `df.cut("Dedup.incrementalDedup: verified pairs")` checkpoints `df`
  * eagerly and node-locally — computed once, lineage truncated — and
  * its jobs carry the label (`<Object>.<function>: <intermediate>`) as
  * their job description. The caller's description is restored even
  * when the cut throws, so a label never names the caller's later
  * jobs.
  * A frame rooted in a keyed repartition is planned like a persisted
  * one (`graftbridge.plannedForCache`): the cut keeps its
  * `HashPartitioning`, so joins or aggregates on the key add no
  * Exchange. Other cuts keep AQE's coalesced last stage (uncoalesced,
  * small cuts spread every later stage over all shuffle partitions).
  * Plan guards read a cut's plan from the `localCheckpoint` action it
  * reports to `QueryExecutionListener`s (PlanShapeSpec `shipped`). */
object Cut {
  private[graft] val Description = "spark.job.description"

  implicit final class CutOps(private val df: DataFrame) extends AnyVal {
    def cut(label: String): DataFrame = {
      val sc = df.sparkSession.sparkContext
      val previous = sc.getLocalProperty(Description)
      sc.setJobDescription(label)
      try df.queryExecution.analyzed match {
        case _: RepartitionByExpression =>
          graftbridge.plannedForCache(df)(_.localCheckpoint(true))
        case _ => df.localCheckpoint(true)
      } finally sc.setLocalProperty(Description, previous)
    }
  }
}
