package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative counters since the probe was attached. */
final case class Counters(jobs: Long, stages: Long, tasks: Long, failedTasks: Long,
    taskBusyMs: Long, shuffleBytes: Long, spillBytes: Long, bytesRead: Long,
    bytesWritten: Long, sqlExecutions: Long, gcMs: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, failedTasks - o.failedTasks, taskBusyMs - o.taskBusyMs,
    shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes,
    bytesRead - o.bytesRead, bytesWritten - o.bytesWritten,
    sqlExecutions - o.sqlExecutions, gcMs - o.gcMs)
  def toMap: Map[String, Long] = Map("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "failed_tasks" -> failedTasks, "task_busy_ms" -> taskBusyMs,
    "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
    "bytes_read" -> bytesRead, "bytes_written" -> bytesWritten,
    "sql_executions" -> sqlExecutions, "gc_ms" -> gcMs)
}

/** One traced interval: a call into one layer's public function. */
final case class Span(id: Int, name: String, parent: Int, run: String,
    startNs: Long, endNs: Long, counters: Counters, maxJobsInFlight: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark-side counters (a SparkListener and a QueryExecutionListener)
  * plus an in-memory span log; spans are written out when the run ends. */
final class Probe(spark: SparkSession, run: String)
    extends SparkListener with QueryExecutionListener {
  private val jobs, stages, tasks, failedTasks, busyMs, shuffle, spill, read,
    written, sqlExecs = new AtomicLong
  private val inFlight, maxInFlight = new AtomicLong
  private val executions = new ConcurrentLinkedQueue[QueryExecution]
  private val log = ArrayBuffer.empty[Span]
  private var open = List(-1)
  private var nextId = 0

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val n = inFlight.incrementAndGet()
    maxInFlight.accumulateAndGet(n, math.max)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = inFlight.decrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (!e.taskInfo.successful) failedTasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      busyMs.addAndGet(m.executorRunTime)
      shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      read.addAndGet(m.inputMetrics.bytesRead)
      written.addAndGet(m.outputMetrics.bytesWritten)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    sqlExecs.incrementAndGet()
    executions.add(qe)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    sqlExecs.incrementAndGet()

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def snapshot(): Counters = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    Counters(jobs.get, stages.get, tasks.get, failedTasks.get, busyMs.get,
      shuffle.get, spill.get, read.get, written.get, sqlExecs.get, gcMs)
  }

  /** Run `body` as a span named `name`, nested in the innermost open span. */
  def span[A](name: String)(body: => A): (A, Span) = {
    val before = snapshot()
    executions.clear()
    val enclosingMax = maxInFlight.getAndSet(inFlight.get)
    val parent = open.head
    val id = nextId
    nextId += 1
    open = id :: open
    val t0 = System.nanoTime()
    val out = try body finally open = open.tail
    val t1 = System.nanoTime()
    val s = Span(id, name, parent, run, t0, t1, snapshot() - before, maxInFlight.get)
    maxInFlight.accumulateAndGet(enclosingMax, math.max)
    log += s
    (out, s)
  }

  /** Closed spans, in closing order. */
  def spans: Seq[Span] = log.toSeq

  /** SQL executions that completed inside the most recent span. */
  def lastExecutions: Seq[QueryExecution] = executions.asScala.toSeq

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def spansJson: String = log.map { s =>
    Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "max_jobs_in_flight" -> s.maxJobsInFlight, "counters" -> s.counters.toMap)
  }.mkString("[\n", ",\n", "\n]\n")
}
