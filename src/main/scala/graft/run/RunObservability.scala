package graft.run

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

/** Run-time observability + row-validity accounting — the behavioral
  * requirements the reference bakes into its executor loop
  * (SURVEY.md §4, "physical-execution notes"):
  *
  *  - per-chunk progress must be observable
  *    (/root/reference/src/cosmap/analysis/analysis.py:156-159,
  *    task.py:150-151) → a SparkListener logging task/stage
  *    completions (Spark tasks ARE the chunks);
  *  - bad samples are skipped with a warning, not failures
  *    (task.py:152-157) → declarative valid/rejected split with
  *    counted side output;
  *  - processed-vs-expected mismatches warn, not fail
  *    (task.py:159-164).
  */
object RunObservability {

  /** One completed stage: `query` is its job group (set per query by
    * [[graft.SparkEntry.sweep]]), `label` its job description (where
    * `Cut` and `Tables.inParallel` write theirs); either is "" when
    * unset. Times are in ms; `taskMs` sums the tasks' run time. Records
    * read/written count scan input plus shuffle reads, and shuffle
    * writes plus sink output. */
  final case class StageRecord(query: String, label: String, stageId: Int,
      wallMs: Long, taskMs: Long, tasks: Int,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
      recordsRead: Long, recordsWritten: Long)

  /** The one profiler: counts finished tasks and logs each completed
    * stage like the reference's per-chunk driver log, and keeps one
    * [[StageRecord]] per completed stage until [[drain]]ed. */
  final class ChunkProgressListener(log: String => Unit = m => Console.err.println(m))
      extends SparkListener {
    val tasksCompleted = new AtomicLong(0)
    private val submitted = new ConcurrentHashMap[Int, (String, String)]()
    private val records = new ConcurrentLinkedQueue[StageRecord]()

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val n = tasksCompleted.incrementAndGet()
      if (n % 100 == 0) log(s"[graft.progress] $n tasks completed")
    }
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
      def prop(k: String) =
        Option(s.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
      submitted.put(s.stageInfo.stageId,
        (prop("spark.jobGroup.id"), prop(graft.Cut.Description)))
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      log(s"[graft.progress] stage ${i.stageId} done: ${i.numTasks} tasks")
      val (query, label) = Option(submitted.remove(i.stageId)).getOrElse(("", ""))
      val m = i.taskMetrics
      records.add(StageRecord(query, label, i.stageId,
        (for (a <- i.submissionTime; b <- i.completionTime) yield b - a).getOrElse(0L),
        m.executorRunTime, i.numTasks,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
        m.shuffleWriteMetrics.recordsWritten + m.outputMetrics.recordsWritten))
    }

    /** The records of every stage completed since the last drain, in
      * completion order, once `sc`'s listener bus has delivered what
      * it holds. */
    def drain(sc: SparkContext): Seq[StageRecord] = {
      org.apache.spark.sql.graftbridge.awaitListeners(sc)
      Iterator.continually(records.poll()).takeWhile(_ != null).toSeq
    }
  }

  def attachProgress(spark: SparkSession,
                     log: String => Unit = m => Console.err.println(m)): ChunkProgressListener = {
    val l = new ChunkProgressListener(log)
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Declarative row-validity guard: one pass splits rows into
    * (valid, rejected) by a predicate (null-safe: a null predicate is
    * invalid). The rejected side is a real DataFrame — route it to a
    * quarantine sink or just count it; nothing throws, processing
    * continues, matching CosmapBadSampleError semantics. */
  def validSplit(df: DataFrame, valid: Column): (DataFrame, DataFrame) = {
    val v = coalesce(valid, lit(false))
    (df.filter(v), df.filter(!v))
  }

  /** Processed-vs-expected accounting: count `df`, then [[checkCount]]
    * — returns the processed count. */
  def expectCount(df: DataFrame, expected: Long,
                  warn: String => Unit = m => Console.err.println(m)): Long =
    checkCount(df.count(), expected, warn)

  /** Warn (never fail) when a processed count `n` — from a count job,
    * or observed while the rows were written — disagrees with the
    * expected one; returns `n`. */
  def checkCount(n: Long, expected: Long,
                 warn: String => Unit = m => Console.err.println(m)): Long = {
    if (n != expected)
      warn(s"[graft.progress] WARNING: processed $n rows, expected $expected " +
        "(continuing — bad samples are skipped, not fatal)")
    n
  }
}
