package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Spherical-geometry column algebra.
  *
  * The one domain scalar the reference engine owns is the angular
  * separation between a sample center and each catalog object
  * (delegated to astropy's `SkyCoord.separation` at
  * /root/reference/README.md:62-66; the engine passes the region into
  * every transformation at /root/reference/src/cosmap/analysis/task.py:185).
  *
  * Design decision (SURVEY.md §7): these are *compositions of built-in
  * Catalyst expressions*, not UDFs and not a custom Expression — every
  * function here stays inside WholeStageCodegen and is visible to the
  * optimizer (constant folding, CSE). A custom `Expression` would buy
  * nothing: the built-ins already express the math.
  */
object Sphere {

  /** Deterministic uniform draw in [0,1) keyed by (id, salt).
    *
    * Replaces the reference's `np.random.default_rng` draw
    * (/root/reference/src/cosmap/analysis/sampler.py:87-104) with a
    * *partitioning-independent* construction: `rand(seed)` changes
    * value when Spark re-partitions the source, a hash of the row id
    * does not — so a 1000-executor run and a local[32] run produce the
    * identical sample set. The mixer is splitmix64 rather than
    * xxhash64 so the DuckDB oracle can replay the identical draw in
    * pure 64-bit SQL arithmetic (see [[SplitMix64]]) — this made the
    * sampler-driven gate queries (q32/q33) EXACT instead of rows-only.
    */
  def hashUniform(id: Column, salt: Long): Column =
    SplitMix64.uniform(id, salt)

  /** Great-circle separation in degrees between (ra1,dec1) and
    * (ra2,dec2), all in degrees — haversine form, numerically stable
    * at small separations (the arccos form loses precision exactly in
    * the reference's regime of arcminute-scale radii). `least(1.0, …)`
    * guards asin domain error from rounding at antipodes. */
  def angularSepDeg(ra1: Column, dec1: Column, ra2: Column, dec2: Column): Column = {
    val sinDLat = sin(radians(dec2 - dec1) / 2)
    val sinDLon = sin(radians(ra2 - ra1) / 2)
    val h = sinDLat * sinDLat +
      cos(radians(dec1)) * cos(radians(dec2)) * sinDLon * sinDLon
    degrees(asin(least(lit(1.0), sqrt(h))) * 2)
  }

  /** SQL for [[angularSepDeg]] with the same operands in the same
    * order, so DuckDB evaluates the kernel's IEEE expression tree. The
    * arguments are column references. */
  def angularSepSql(ra1: String, dec1: String, ra2: String, dec2: String): String = {
    val sinDLat = s"sin(radians($dec2 - $dec1) / 2)"
    val sinDLon = s"sin(radians($ra2 - $ra1) / 2)"
    s"""degrees(asin(least(1.0, sqrt(
       |      $sinDLat * $sinDLat
       |      + cos(radians($dec1)) * cos(radians($dec2))
       |        * $sinDLon * $sinDLon))) * 2)""".stripMargin
  }

  /** Minimal absolute RA difference in degrees, wraparound-safe:
    * |Δra| mapped into [0, 180]. */
  def raDelta(ra1: Column, ra2: Column): Column =
    abs(pmod(ra1 - ra2 + lit(180.0), lit(360.0)) - lit(180.0))

  /** Safe half-width of the RA interval covered by a cone of
    * `radiusDeg` centered at declination `decDeg`: the linear bound
    * r / cos(|dec|+r), clamped to 180°. A cone that reaches a pole
    * (|dec| + r ≥ 90°) contains every RA, so its pad is 180° outright.
    * Always ≥ the true extent asin(sin r / cos dec) — soundness is
    * property-tested (the reference's version at
    * /root/reference/src/cosmap/dataset/opencosmo.py:42-50 is both
    * unwidened and sign-buggy at line 48; fixed here, not replicated). */
  def raPad(decDeg: Column, radiusDeg: Column): Column = {
    val edge = abs(decDeg) + radiusDeg
    when(edge >= 90.0, lit(180.0))
      .otherwise(least(lit(180.0), radiusDeg / cos(radians(edge))))
  }
}
