package graft.operators

import graft.Cut._
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sessionization of the events table, both ways:
  *
  *  - q51: explicit lag/cumsum session assignment (window functions) —
  *    the portable SQL formulation, DuckDB-oracle-checked.
  *  - q52: Spark's native `session_window` in batch mode — checked
  *    against the SAME gap-based DuckDB formulation, proving the
  *    built-in operator's semantics (merge when gap < 30 min, new
  *    session when ≥) equal the windowed reformulation. The streaming
  *    module (graft.streaming.EventStreams) reuses the identical
  *    operator with a watermark.
  */
object Sessionize {
  type Q = (SparkSession, String) => DataFrame

  private val gapMinutes = 30

  val queries: Map[String, Q] = Map(
    "q51_sessionize_lag" -> { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val withGap = ev.withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("is_new",
          when(col("prev_ts").isNull ||
            col("ts") >= col("prev_ts") + expr(s"INTERVAL $gapMinutes MINUTE"), 1L)
            .otherwise(0L))
        .withColumn("session_id",
          sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      withGap.groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("session_value"))
    },

    "q52_session_window" -> { (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("session_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"), col("session_value"))
    },

    // -- q135: ordered funnel analysis (signup → click → purchase):
    //    the sequential-conversion census every event-analytics
    //    engine ships. Step k's timestamp is the user's EARLIEST
    //    event of step k's type STRICTLY after step k-1's timestamp
    //    (the standard unordered-log funnel semantics); output is the
    //    one-row per-step reach census + the summed signup→purchase
    //    conversion time in exact microseconds. --
    "q135_funnel_steps" -> { (s, dir) =>
      funnel(Tables.load(s, dir, "events"))
    },

    // -- q150: retention cohort triangle (round 8) — users grouped by
    //    FIRST-ACTIVITY day, then per (cohort_day, day_offset) the
    //    distinct users still active: THE standard product-analytics
    //    retention matrix, and the event-side sibling of q135's
    //    funnel. All integers and date arithmetic; retention is a
    //    flooring ppm against the cohort's day-0 size (day 0 is
    //    1000000 by construction — every cohort member is active on
    //    their first day). --
    "q150_retention_cohorts" -> { (s, dir) =>
      retentionCohorts(Tables.load(s, dir, "events"))
    },

    // -- q186 (round 12): the session-GAP frontier — per inactivity
    //    gap ∈ {5,15,30,60,120} min, session count / in-session dwell
    //    / events per session, all from ONE window pass + one
    //    conditional aggregate. The q51/q52 convention's 30-minute
    //    row sits mid-table; nesting makes the sweep's monotonicity
    //    structural. --
    "q186_session_gap_frontier" -> { (s, dir) =>
      sessionGapFrontier(Tables.load(s, dir, "events"))
    },
  )

  /** Retention matrix over any events frame (needs `user_id`, `ts`).
    * Scale shape: first-day and active-day tables are user-keyed
    * groupBys (the (user, day) distinct collapses activity before
    * anything joins); the one corpus-scale join is user-keyed with
    * both sides hinted off broadcast; the (cohort, offset) census is
    * a map-side-combined groupBy to a ≤days² table, and the day-0
    * size attach is a broadcast of that tiny census. Dates ride as
    * 'yyyy-MM-dd' strings in the output (the cross-engine-stable
    * form). */
  /** q186's gap grid in minutes — nested thresholds, shared with the
    * generated oracle. 30 is the q51/q52 gate configuration. */
  private[graft] val GapGrid = Seq(5L, 15L, 30L, 60L, 120L)

  /** q186: the SESSION-GAP frontier — the event-analytics knob swept.
    * q51/q52 fix the inactivity gap at 30 minutes by convention; the
    * gap IS the sessionization decision, and this is the table it is
    * made from: per gap G ∈ {5, 15, 30, 60, 120} min — session count,
    * in-session dwell time (Σ of inter-event gaps short enough to stay
    * inside a session), and events per session. Thresholds are NESTED
    * (a split at gap G is a split at every smaller G), so n_sessions
    * is provably non-increasing and dwell non-decreasing in G — the
    * spec asserts both, and that the G = 30 row reproduces the q51
    * gate's session count. Exactness: timestamps as exact integer
    * microseconds (unix_micros / epoch_us — the house DATE→TIMESTAMP
    * rule), everything downstream integer. Scale shape: ONE user-keyed
    * window pass computes the inter-event gap column; all rows then
    * come from a single conditional aggregate (map-side combined) —
    * the sweep never re-sorts the event stream per config. */
  private[graft] def sessionGapFrontier(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val d = ev.select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("us", expr("unix_micros(ts)"))
      .withColumn("diff", col("us") - lag(col("us"), 1).over(w))
    val aggs = count(lit(1)).as("n_events") +: GapGrid.flatMap { g =>
      val gUs = g * 60L * 1000000L
      Seq(
        count(when(col("diff").isNull || col("diff") >= gUs, lit(1)))
          .as(s"ns$g"),
        sum(when(col("diff") < gUs, col("diff")).otherwise(lit(0L)))
          .as(s"dwell$g"))
    }
    val one = d.agg(aggs.head, aggs.tail: _*).cut("Sessionize.sessionGapFrontier: gap census")
    GapGrid.map { g =>
      one.select(lit(g).as("gap_minutes"), col("n_events"),
        col(s"ns$g").as("n_sessions"),
        col(s"dwell$g").as("intra_session_us"),
        expr(s"(1000000L * n_events) div ns$g").as("events_per_session_ppm"))
    }.reduce(_.unionByName(_))
  }

  private[graft] def retentionCohorts(ev: DataFrame): DataFrame = {
    val first = ev.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("cohort_day"))
    val active = ev.select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val m = active
      .join(first.hint("shuffle_merge"), "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("d"), col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_active"))
    val size0 = m.filter(col("day_offset") === 0)
      .select(col("cohort_day"), col("n_active").as("cohort_size"))
    m.join(broadcast(size0), "cohort_day")
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("day_offset").cast("long").as("day_offset"),
        col("n_active"), col("cohort_size"),
        expr("n_active * 1000000 div cohort_size").as("retention_ppm"))
  }

  /** One-row funnel census. Scale shape: the three step minima are
    * conditional-min WINDOWS over the SAME user partition (each
    * step's predicate references the previous step's column — a
    * sequential window stack, not three join-backs), and the per-user
    * collapse is a groupBy on the window's own partitioning key — so
    * the whole funnel rides ONE user-keyed exchange, then a 1-row
    * global aggregate (PlanShapeSpec pins it). Timestamps compare and
    * subtract as exact microseconds on both engines. */
  private[graft] def funnel(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    ev.select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("t1",
        min(when(col("event_type") === "signup", col("ts"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "click" && col("ts") > col("t1"),
          col("ts"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && col("ts") > col("t2"),
          col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg(first(col("t1")).as("t1"), first(col("t2")).as("t2"),
        first(col("t3")).as("t3"))
      .agg(
        count(lit(1)).as("n_users"),
        count(col("t1")).as("n_signup"),
        count(col("t2")).as("n_signup_click"),
        count(col("t3")).as("n_converted"),
        sum(unix_micros(col("t3")) - unix_micros(col("t1")))
          .as("conv_micros"))
  }

  /** q186: the lag-diff column once, then per-gap FILTER aggregates
    * generated from the shared [[GapGrid]] — the engine's one-pass
    * shape replayed (timestamps as integer microseconds throughout). */
  private def oracle186: String = {
    val condCols = GapGrid.flatMap { g =>
      val gUs = g * 60L * 1000000L
      Seq(
        s"count(*) FILTER (WHERE diff IS NULL OR diff >= $gUs) AS ns$g",
        s"coalesce(sum(diff) FILTER (WHERE diff < $gUs), 0) AS dwell$g")
    }.mkString(",\n    ")
    val rows = GapGrid.map { g =>
      s"""SELECT CAST($g AS BIGINT) AS gap_minutes,
         |  CAST(n_events AS BIGINT) AS n_events,
         |  CAST(ns$g AS BIGINT) AS n_sessions,
         |  CAST(dwell$g AS BIGINT) AS intra_session_us,
         |  CAST((1000000 * n_events) // ns$g AS BIGINT)
         |    AS events_per_session_ppm
         |FROM agg""".stripMargin
    }
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |  FROM events),
       |d AS (
       |  SELECT us - lag(us)
       |    OVER (PARTITION BY user_id ORDER BY us, event_id) AS diff
       |  FROM e),
       |agg AS (
       |  SELECT count(*) AS n_events,
       |    $condCols
       |  FROM d)
       |${rows.mkString("\nUNION ALL\n")}""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q186_session_gap_frontier" -> oracle186,

    // the cumulative-sum window carries the SAME (ts, event_id)
    // tie-break as the Spark window — ORDER BY ts alone made session
    // assignment nondeterministic on duplicate timestamps (round-1
    // advice)
    "q51_sessionize_lag" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
         |    lag(CAST(ts AS TIMESTAMP)) OVER
         |      (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
         |      AS prev_ts
         |  FROM events),
         |m AS (
         |  SELECT user_id, event_id, ts, value,
         |    CASE WHEN prev_ts IS NULL
         |           OR ts >= prev_ts + INTERVAL $gapMinutes MINUTE
         |         THEN 1 ELSE 0 END AS is_new
         |  FROM e),
         |sess AS (
         |  SELECT user_id, ts, value,
         |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS session_id
         |  FROM m)
         |SELECT user_id, session_id, count(*) AS n_events,
         |  min(ts) AS session_start, max(ts) AS session_end,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
         |FROM sess
         |GROUP BY user_id, session_id""".stripMargin,

    "q52_session_window" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
         |    lag(CAST(ts AS TIMESTAMP)) OVER
         |      (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
         |      AS prev_ts
         |  FROM events),
         |m AS (
         |  SELECT user_id, event_id, ts, value,
         |    CASE WHEN prev_ts IS NULL
         |           OR ts >= prev_ts + INTERVAL $gapMinutes MINUTE
         |         THEN 1 ELSE 0 END AS is_new
         |  FROM e),
         |sess AS (
         |  SELECT user_id, ts, value,
         |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         |  FROM m)
         |SELECT user_id, min(ts) AS session_start,
         |  max(ts) + INTERVAL $gapMinutes MINUTE AS session_end,
         |  count(*) AS n_events,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
         |FROM sess
         |GROUP BY user_id, session_id""".stripMargin,

    // per-user step minima as three chained conditional-min
    // aggregates (each joins the previous step table once —
    // group-constant, so min(t_k) is deterministic); the timestamps
    // compare and subtract as exact microseconds
    "q135_funnel_steps" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |u1 AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN ts END) AS t1
        |  FROM ev GROUP BY user_id),
        |u2 AS (
        |  SELECT e.user_id, min(t1) AS t1,
        |    min(CASE WHEN event_type = 'click' AND e.ts > t1 THEN e.ts END) AS t2
        |  FROM ev e JOIN u1 USING (user_id) GROUP BY e.user_id),
        |u3 AS (
        |  SELECT e.user_id, min(t1) AS t1, min(t2) AS t2,
        |    min(CASE WHEN event_type = 'purchase' AND e.ts > t2 THEN e.ts END) AS t3
        |  FROM ev e JOIN u2 USING (user_id) GROUP BY e.user_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(count(t1) AS BIGINT) AS n_signup,
        |  CAST(count(t2) AS BIGINT) AS n_signup_click,
        |  CAST(count(t3) AS BIGINT) AS n_converted,
        |  CAST(sum(CASE WHEN t3 IS NOT NULL
        |    THEN epoch_us(t3) - epoch_us(t1) END) AS BIGINT) AS conv_micros
        |FROM u3""".stripMargin,

    // cohort day = per-user min event DATE; the (user, day) distinct
    // collapses activity first; date arithmetic and counts are
    // integers, retention a flooring ppm
    "q150_retention_cohorts" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events),
        |fst AS (SELECT user_id, min(d) AS cohort_day FROM ev GROUP BY user_id),
        |act AS (SELECT DISTINCT user_id, d FROM ev),
        |m AS (
        |  SELECT cohort_day, d - cohort_day AS day_offset,
        |    count(*) AS n_active
        |  FROM act JOIN fst USING (user_id)
        |  GROUP BY cohort_day, d - cohort_day),
        |s0 AS (
        |  SELECT cohort_day, n_active AS cohort_size FROM m
        |  WHERE day_offset = 0)
        |SELECT strftime(m.cohort_day, '%Y-%m-%d') AS cohort_day,
        |  CAST(day_offset AS BIGINT) AS day_offset,
        |  CAST(n_active AS BIGINT) AS n_active,
        |  CAST(cohort_size AS BIGINT) AS cohort_size,
        |  CAST(n_active * 1000000 // cohort_size AS BIGINT) AS retention_ppm
        |FROM m JOIN s0 USING (cohort_day)""".stripMargin,
  )
}
