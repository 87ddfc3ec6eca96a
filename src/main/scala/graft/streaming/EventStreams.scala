package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference's "stream" is a bounded as-completed iterator with
  * incremental flush (/root/reference/src/cosmap/analysis/analysis.py:150-162)
  * — batch writes reproduce that (SURVEY.md §1.3). This module is the
  * north-star extension to true unbounded streams: watermarked
  * tumbling/sliding/session windows and custom state, all on Spark's
  * incremental execution engine. Each builder takes/returns DataFrames
  * so the same transforms compose into foreachBatch pipelines.
  *
  * Scale: state is keyed by (window × type) or user — partitioned
  * across executors by key; the watermark bounds state size, which is
  * what makes these run indefinitely on a real cluster.
  */
object EventStreams {

  /** Raw events schema with the `ts` dtype the on-disk generation
    * dictates: the timestamp[us] (isAdjustedToUTC=false) generation
    * arrives as TIMESTAMP_NTZ; the legacy TIMESTAMP(NANOS) generation
    * arrives as raw long (nanosAsLong). `Tables.normalizeEventTs`
    * converts either to a session-UTC TimestampType downstream. */
  def rawSchemaFor(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Schema of the current driver corpus generation (timestamp[us]). */
  val rawSchema: StructType = rawSchemaFor(TimestampNTZType)

  /** File-based streaming source over a directory containing
    * events.parquet (each new file = one micro-batch of the stream).
    * Streaming reads can't infer schemas, so probe the on-disk `ts`
    * dtype with a footer-only batch read first — the corpus has shipped
    * with two different physical timestamp types across generations,
    * and hard-pinning one would break the reader on the other. */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val observedTs = spark.read.parquet(s"$dir/events.parquet")
      .schema("ts").dataType
    graft.Tables.normalizeEventTs(
      spark.readStream
        .schema(rawSchemaFor(observedTs))
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** Tumbling-window counts/sums per event type with a watermark
    * bounding late data (and state). */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("total_value"))

  /** Sliding windows (overlapping aggregation). */
  def slidingCounts(events: DataFrame, window_ : String = "1 hour",
                    slide: String = "30 minutes",
                    watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"), col("n"))

  /** Session windows: per-user activity bursts separated by > gap. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("session_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("session_value"))

  /** Stream-stream interval join: each click-like event joined to the
    * same user's view-like events in the preceding `window`. Both
    * sides carry watermarks, so Spark bounds the join state on BOTH
    * streams (the state-cleanup condition is the time-interval
    * predicate + watermarks — without them a stream-stream join
    * buffers forever; with them state is dropped once the watermark
    * passes the interval bound). At scale the join is keyed by
    * user_id: state and matching are partitioned across executors
    * like any keyed shuffle. */
  def intervalJoin(clicks: DataFrame, views: DataFrame,
      window_ : String = "30 minutes",
      watermark: String = "1 hour"): DataFrame = {
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val v = views
      .select(col("event_id").as("view_id"), col("user_id").as("v_user_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    c.join(v,
      col("user_id") === col("v_user_id") &&
        col("view_ts") >= col("click_ts") - expr(s"INTERVAL $window_") &&
        col("view_ts") < col("click_ts"))
      .select(col("user_id"), col("click_id"), col("view_id"),
        col("click_ts"), col("view_ts"))
  }

  // ---- custom state: running per-user aggregate with timeout ------

  final case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class UserRunning(user_id: Long, n: Long, total: Double)

  /** flatMapGroupsWithState: running per-user totals — the
    * mapGroupsWithState/flatMapGroupsWithState surface of the engine
    * (emits an updated row per user per micro-batch). */
  def runningUserTotals(events: DataFrame): Dataset[UserRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("ts"), col("value")).as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(user, 0L, 0.0))
          var n = prev.n
          var total = prev.total
          rows.foreach { e => n += 1; total += e.value }
          val next = UserRunning(user, n, total)
          state.update(next)
          Iterator(next)
      }
  }

  /** Incremental sink: per-micro-batch append with progress logging —
    * the streaming analog of the reference's per-chunk flush + log
    * (analysis.py:150-162). */
  def writeIncremental(df: DataFrame, outDir: String,
                       checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // the write counts its own rows: one pass, nothing cached
        val written = Observation()
        batch.observe(written, count(lit(1)).as("rows"))
          .write.mode("append").parquet(outDir)
        // per-chunk progress observability (analysis.py:156-159)
        Console.err.println(
          s"[graft.streaming] batch $batchId flushed ${written.get("rows")} rows")
      }
      .start()
}
