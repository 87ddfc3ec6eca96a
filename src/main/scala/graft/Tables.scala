package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated test corpus (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. At 100 TB each of these
  * would be a partitioned parquet directory; `spark.read.parquet`
  * handles both shapes identically, so nothing here is small-scale
  * specific. Filters/projections applied by callers push down into
  * the scan (Catalyst `PushDownPredicates` + column pruning).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The one way to fork: run `label`'s named branches concurrently
    * and return their results in input order. Spark runs several jobs
    * at once inside one application; driver code that calls actions
    * one after another is what makes them sequential. A frontier that
    * measures K independent configs builds K chains of small stages
    * (candidate pass → cut → census); run side by side, one chain's
    * stage tail back-fills the cores the others leave idle.
    *
    * Contract:
    *  - every branch is deterministic and independent of the others,
    *    so results are unchanged by scheduling; only wall-clock moves.
    *    A shared input is cut before the fork, never inside a branch;
    *  - each call starts one thread per branch and ends them all before
    *    it returns or rethrows. A nested call starts its own threads,
    *    so it never waits on a thread its parent holds, and the thread
    *    count is bounded by the grid sizes (at most 4 branches today);
    *  - a branch thread inherits the caller's Spark local properties
    *    (job group included) and its jobs carry
    *    `<label>: <branch>` as their job description — `label` is
    *    `<Object>.<function>`, the `Cut` label convention;
    *  - if branches fail, the first failed branch in input order
    *    rethrows its own exception, after every branch has ended. */
  def inParallel[A](label: String, branches: Seq[(String, () => A)]): Seq[A] = {
    val sc = SparkSession.active.sparkContext
    val outcomes = new Array[Either[Throwable, A]](branches.size)
    val threads = branches.zipWithIndex.map { case ((branch, f), i) =>
      val t = new Thread(() => {
        sc.setJobDescription(s"$label: $branch")
        outcomes(i) = try Right(f()) catch { case e: Throwable => Left(e) }
      }, s"$label: $branch")
      t.setDaemon(true)
      t.start()
      t
    }
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive)
        try t.join() catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread.interrupt()
    outcomes.toSeq.map(_.fold(e => throw e, identity))
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, sfDir)
    else spark.read.parquet(s"$sfDir/$name.parquet")

  /** The one widening rule: spread a frame across the session's
    * cores when its scan under-parallelizes. The test corpora are ONE
    * parquet file with ONE row group, so every scan is a single input
    * split, and a per-row CPU-heavy stage planned directly over it
    * (shingling, fingerprints, media synthesis + decode) runs on one
    * core of local[N] while the other N−1 idle. The repartition is
    * keyed on `key` (a deterministic hash — never derived from rand(),
    * SPARK-38388) with an explicit count, which AQE does not coalesce.
    * It fires only when the frame reads fewer files than the session's
    * default parallelism, so at 100 TB, where a corpus scan is
    * thousands of splits, it is a no-op rather than an added
    * full-corpus shuffle. The file count is the planner's own lower
    * bound on scan parallelism, and reading it never turns the plan
    * into an RDD (`df.rdd.getNumPartitions` would). A frame with no
    * input files (in memory, or read from a cut) has a parallelism
    * that cannot be read cheaply; it is left alone. Results are
    * partition-independent; only wall-clock changes. */
  def spread(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val files = df.inputFiles.length
    if (files == 0 || files >= target) df
    else df.repartition(target, key)
  }

  /** Normalize `events.ts` to a microsecond TimestampType regardless
    * of how the driver generated the file. Two generations exist:
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it, so it
    *    arrives as raw long (legacy nanosAsLong) — convert with
    *    integral division (`div`, not double `/`: an int64 epoch-nanos
    *    value overflows a double's 53-bit mantissa).
    *  - timestamp[us] (isAdjustedToUTC=false): arrives as
    *    TIMESTAMP_NTZ — cast to TimestampType (session tz is pinned
    *    UTC everywhere, so the instant is unchanged and DuckDB reads
    *    the identical value).
    * Dispatch on the observed dtype so the same engine code runs on
    * either generation of the corpus. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df // already the canonical micro-second dtype
      case other =>
        // a new corpus generation must surface HERE at load time, not
        // downstream as oracle hash mismatches
        throw new IllegalArgumentException(
          s"events.ts arrived as unsupported dtype $other — known generations: " +
            "TIMESTAMP(NANOS) (read as long via nanosAsLong), timestamp[us] " +
            "(read as TIMESTAMP_NTZ), or TIMESTAMP; handle the new dtype in " +
            "Tables.normalizeEventTs")
    }
  }

  def loadEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(spark.read.parquet(s"$sfDir/events.parquet"))
  }

  /** Register every corpus table as a temp view so query authors can
    * use `spark.sql(...)` with the same table names the DuckDB oracle
    * sees. Idempotent. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
