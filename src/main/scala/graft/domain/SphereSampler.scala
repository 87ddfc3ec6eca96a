package graft.domain

import graft.functions.Sphere
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Rectangular sky region in degrees (ra ∈ [raMin, raMax],
  * dec ∈ [decMin, decMax]) — the `region_bounds` 4-vector of the
  * reference (/root/reference/src/cosmap/config/analysis.py:67). */
final case class SkyBounds(raMin: Double, raMax: Double,
                           decMin: Double, decMax: Double) {
  require(raMax > raMin && decMax > decMin, s"degenerate bounds $this")
}

/** The Monte-Carlo sample source: N circles drawn uniformly (by area)
  * on the sphere inside a rectangular region — the left input of the
  * reference's whole query
  * (/root/reference/src/cosmap/analysis/sampler.py:127-144).
  *
  * Area-correct sampling follows the reference's math ("dA = dθ
  * d(cosθ)", sampler.py:96-104): ra uniform, sin(dec) uniform.
  * The frame is shrunk so no circle crosses the region boundary
  * (sampler.py:48-85), with the RA shrink properly widened by
  * 1/cos(dec) — the reference shrinks RA by the raw diameter, which
  * under-shrinks off the equator.
  *
  * Scale: this is a `spark.range(n)` source — no data read, no
  * shuffle, embarrassingly parallel, and (via [[Sphere.hashUniform]])
  * identical output for any partitioning or cluster size.
  */
object SphereSampler {

  /** Shrink `bounds` so a sample footprint with the given half-extents
    * (RA half-width measured as physical angle, Dec half-height)
    * centered anywhere in the result lies fully inside `bounds`. The
    * RA pad follows [[Sphere.raPad]] at the region's most polar edge:
    * a footprint that can reach a pole spans every RA, so no frame
    * exists and the region is rejected. */
  def frameRect(bounds: SkyBounds, halfWidthDeg: Double,
                halfHeightDeg: Double): SkyBounds = {
    val maxAbsDec = math.max(math.abs(bounds.decMin), math.abs(bounds.decMax))
    val edge = maxAbsDec + halfHeightDeg
    val reachesPole = edge >= 90.0
    val raPad =
      if (reachesPole) 180.0
      else math.min(180.0, halfWidthDeg / math.cos(math.toRadians(edge)))
    if (bounds.raMax - bounds.raMin <= 2 * raPad ||
        bounds.decMax - bounds.decMin <= 2 * halfHeightDeg)
      throw new IllegalArgumentException(
        s"sampling region $bounds is too small for sample half-extents " +
          s"($halfWidthDeg°, $halfHeightDeg°) (needs > ${2 * raPad}° of RA " +
          s"and ${2 * halfHeightDeg}° of Dec" +
          (if (reachesPole) "; a sample at its Dec edge reaches the pole" else "") +
          "); the reference would silently produce an inverted frame here")
    SkyBounds(bounds.raMin + raPad, bounds.raMax - raPad,
      bounds.decMin + halfHeightDeg, bounds.decMax - halfHeightDeg)
  }

  /** Shrink `bounds` so a circle of `radiusDeg` centered anywhere in
    * the result lies fully inside `bounds`. */
  def frame(bounds: SkyBounds, radiusDeg: Double): SkyBounds =
    frameRect(bounds, radiusDeg, radiusDeg)

  /** Area-uniform sample centers: (sample_id, ra, dec). */
  private def uniformCenters(spark: SparkSession, n: Long, f: SkyBounds,
                             seed: Long): DataFrame = {
    val zLo = math.sin(math.toRadians(f.decMin))
    val zHi = math.sin(math.toRadians(f.decMax))
    spark.range(n).toDF("sample_id").select(
      col("sample_id"),
      (lit(f.raMin) +
        Sphere.hashUniform(col("sample_id"), seed) * lit(f.raMax - f.raMin))
        .as("ra"),
      degrees(asin(lit(zLo) +
        Sphere.hashUniform(col("sample_id"), seed + 1) * lit(zHi - zLo)))
        .as("dec"))
  }

  /** N sample circles: (sample_id, ra, dec, radius_deg). */
  def uniformCircles(spark: SparkSession, n: Long, bounds: SkyBounds,
                     radiusDeg: Double, seed: Long = 42L): DataFrame =
    uniformCenters(spark, n, frame(bounds, radiusDeg), seed)
      .withColumn("radius_deg", lit(radiusDeg))

  /** N sample rectangles (beyond the reference, which hard-errors on
    * non-Circle shapes): (sample_id, ra, dec, width_deg, height_deg).
    * A rectangle is the set of points with |Δdec| ≤ height/2 and
    * RA-distance·cos(dec_center) ≤ width/2 (physical width measured
    * at the sample's declination) — see graft.plans.SkyJoin. */
  def uniformRects(spark: SparkSession, n: Long, bounds: SkyBounds,
                   widthDeg: Double, heightDeg: Double,
                   seed: Long = 42L): DataFrame =
    uniformCenters(spark, n,
      frameRect(bounds, widthDeg / 2.0, heightDeg / 2.0), seed)
      .withColumn("width_deg", lit(widthDeg))
      .withColumn("height_deg", lit(heightDeg))
}
