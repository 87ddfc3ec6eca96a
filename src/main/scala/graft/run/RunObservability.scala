package graft.run

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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

  /** Progress listener: counts finished tasks; logs each completed
    * stage like the reference's per-chunk driver log. */
  final class ChunkProgressListener(log: String => Unit = m => Console.err.println(m))
      extends SparkListener {
    val tasksCompleted = new AtomicLong(0)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val n = tasksCompleted.incrementAndGet()
      if (n % 100 == 0) log(s"[graft.progress] $n tasks completed")
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      log(s"[graft.progress] stage ${s.stageInfo.stageId} done: " +
        s"${s.stageInfo.numTasks} tasks")
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
