package graft

import java.sql.Timestamp
import graft.Cut._
import graft.operators.Sessionize

/** Semantic pins for the q135 ordered funnel: strict-after ordering,
  * same-timestamp exclusion, out-of-order immunity, and the exact
  * microsecond conversion sum. */
class FunnelSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Int): Timestamp = new Timestamp(sec * 1000L)

  private def run(rows: Seq[(Long, String, Timestamp)]): (Long, Long, Long, Long, Option[Long]) = {
    val r = Sessionize.funnel(rows.toDF("user_id", "event_type", "ts"))
      .collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      if (r.isNullAt(4)) None else Some(r.getLong(4)))
  }

  test("q186: session-gap frontier — planted replay, nested monotonicity, q51 gate datum at G=30") {
    // one user, events at 0/10/30/60/120 min: diffs 10/20/30/60 min
    val min = 60
    val ev = Seq(0, 10 * min, 30 * min, 60 * min, 120 * min).zipWithIndex
      .map { case (sec, i) => (i.toLong, 1L, ts(sec)) }
      .toDF("event_id", "user_id", "ts")
    val out = Sessionize.sessionGapFrontier(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1)
    def us(m: Int): Long = m * 60L * 1000000L
    // splits at diffs >= G (the q51 boundary rule: >= splits)
    assert(out.toSeq === Seq(
      (5L, 5L, 5L, 0L, 1000000L),
      (15L, 5L, 4L, us(10), 1250000L),
      (30L, 5L, 3L, us(30), 1666666L),
      (60L, 5L, 2L, us(60), 2500000L),
      (120L, 5L, 1L, us(120), 5000000L)))
    // real log: thresholds nest, so sessions non-increasing and dwell
    // non-decreasing in G; the G=30 row IS the q51 gate's count
    val real = Tables.load(spark, sf0001, "events")
    val fr = Sessionize.sessionGapFrontier(real).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(fr.length === 5)
    fr.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 >= b._3, s"sessions monotone: $a vs $b")
      assert(a._4 <= b._4, s"dwell monotone: $a vs $b")
    }
    val q51n = Sessionize.queries("q51_sessionize_lag")(spark, sf0001).count()
    assert(fr.find(_._1 == 30L).get._3 === q51n,
      "the G=30 row reproduces the q51 session count")
  }

  test("q135: strict ordering — a click AT the signup timestamp does not advance the funnel") {
    // user 1: click exactly at signup time, nothing after → stuck
    // user 2: full ordered funnel, converts in 20 s
    // user 3: click BEFORE signup only → reaches signup, not click
    // user 4: no signup at all → counted as a user only
    val rows = Seq(
      (1L, "signup", ts(100)), (1L, "click", ts(100)),
      (2L, "signup", ts(10)), (2L, "click", ts(15)), (2L, "purchase", ts(30)),
      (3L, "click", ts(5)), (3L, "signup", ts(50)),
      (4L, "view", ts(1)))
    assert(run(rows) === ((4L, 3L, 1L, 1L, Some(20000000L))))
  }

  test("q135: step k scans only events after step k-1 — early purchases are ignored") {
    // purchase at t=12 precedes the first valid click (t=15): the
    // conversion must land on the t=40 purchase, not the t=12 one
    val rows = Seq(
      (1L, "signup", ts(10)), (1L, "purchase", ts(12)),
      (1L, "click", ts(15)), (1L, "purchase", ts(40)))
    assert(run(rows) === ((1L, 1L, 1L, 1L, Some(30000000L))))
    // and with no post-click purchase the user stalls at step 2
    val stalled = rows.filterNot(_._3 == ts(40))
    assert(run(stalled) === ((1L, 1L, 1L, 0L, None)))
  }

  test("q135: earliest qualifying event wins each step") {
    val rows = Seq(
      (1L, "signup", ts(100)), (1L, "signup", ts(10)),
      (1L, "click", ts(20)), (1L, "click", ts(12)),
      (1L, "purchase", ts(13)), (1L, "purchase", ts(25)))
    // t1=10 (earliest signup), t2=12 (earliest later click),
    // t3=13 (earliest purchase after t2) → conv = 3 s
    assert(run(rows) === ((1L, 1L, 1L, 1L, Some(3000000L))))
  }

  test("q150: retention triangle on a planted cohort log is exact") {
    def day(d: Int, hour: Int = 3): Timestamp =
      Timestamp.valueOf(f"2024-01-${d}%02d $hour%02d:00:00")
    // cohort Jan-01: users 1,2 — u1 returns day 1 and 2 (twice on
    //   day 2: the (user, day) distinct must collapse it), u2 never
    // cohort Jan-02: user 3 — returns day 1
    val rows = Seq(
      (1L, day(1)), (1L, day(2)), (1L, day(2, 9)), (1L, day(3)),
      (2L, day(1, 22)),
      (3L, day(2)), (3L, day(3)))
    val got = Sessionize.retentionCohorts(rows.toDF("user_id", "ts"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(x => (x._1, x._2)).toSeq
    assert(got === Seq(
      ("2024-01-01", 0L, 2L, 2L, 1000000L),
      ("2024-01-01", 1L, 1L, 2L, 500000L),
      ("2024-01-01", 2L, 1L, 2L, 500000L),
      ("2024-01-02", 0L, 1L, 1L, 1000000L),
      ("2024-01-02", 1L, 1L, 1L, 1000000L)))
  }

  test("q150: every cohort's day-0 retention is exactly 1000000 ppm on the real log") {
    import org.apache.spark.sql.functions._
    val m = Sessionize.retentionCohorts(
      Tables.load(spark, sf0001, "events")).cut("FunnelSpec: q150 matrix")
    assert(m.filter(col("day_offset") === 0)
      .filter(col("retention_ppm") =!= 1000000L).count() === 0)
    // retention never exceeds day 0 and the matrix is non-trivial
    assert(m.filter(col("n_active") > col("cohort_size")).count() === 0)
    assert(m.filter(col("day_offset") > 0).count() > 0)
  }
}
