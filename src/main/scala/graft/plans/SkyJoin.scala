package graft.plans

import graft.functions.Sphere
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The spatial sample join: every (sample, object) pair whose object
  * lies inside the sample's footprint, for cone and rectangle samples.
  *
  * This is the reference's single join — a theta-join executed there
  * as a per-sample spatial-index probe loop
  * (cosmap's src/cosmap/dataset/opencosmo.py:38-54 driven by
  * src/cosmap/analysis/task.py:149-154). Re-expressed
  * here as one declarative Spark plan (SURVEY.md §2.3), [[bandJoin]]:
  * the theta-join rewritten into an *equi-join* on a declination-band key
  * (the generalization of the reference's bbox prefilter,
  * opencosmo.py:42-50, with its RA-shrink sign bug at line 48 fixed).
  * Samples are exploded to every band their footprint overlaps, the
  * catalog is banded by floor(dec/band), and the join runs as a
  * hash/sort-merge equi-join with the exact membership test as the
  * residual. Only pairs that share a band are ever examined — never
  * the |catalog| × |samples| cross product a nested-loop plan
  * evaluates — and the plan shape does not change when the sample
  * table outgrows a broadcast.
  *
  * The footprint is read from the sample columns; each shape supplies
  * only its declination reach and its exact membership residual:
  *  - cone (`radius_deg`): reach r; residual dec box, then the
  *    wraparound-safe RA box, then the exact separation ≤ r.
  *  - rectangle (`width_deg`, `height_deg`; beyond the reference,
  *    which hard-errors on non-Circle shapes, task.py:76-77): reach
  *    h/2; residual |dec − s_dec| ≤ h/2 and
  *    raDelta(ra, s_ra) · cos(s_dec) ≤ w/2 — the height is a
  *    declination extent, the width a PHYSICAL angular extent at the
  *    sample's declination.
  *
  * Contract: `catalog` has columns `ra`, `dec` (degrees) and none of
  * the join's output names; `samples` has `sample_id`, `ra`, `dec` and
  * one footprint. Output: catalog columns + `sample_id`, `s_ra`,
  * `s_dec`, the footprint columns, `sep_deg` (angular separation to
  * the sample center — for rectangles too, so per-sample transforms
  * written for cone pipelines run unchanged).
  */
object SkyJoin {

  /** The band key, named so no catalog column is shadowed by it. */
  private val BandKey = "_skyjoin_band"

  private val sep: Column =
    Sphere.angularSepDeg(col("ra"), col("dec"), col("s_ra"), col("s_dec"))

  private final case class Footprint(columns: Seq[String], reach: Column,
                                     inside: Column)

  private val Cone = Footprint(Seq("radius_deg"), col("radius_deg"),
    // cheap conjuncts first (dec band already equi-matched; dec range
    // and wraparound-safe ra box), exact separation last
    col("dec") >= col("s_dec") - col("radius_deg") &&
      col("dec") <= col("s_dec") + col("radius_deg") &&
      Sphere.raDelta(col("ra"), col("s_ra")) <=
        Sphere.raPad(col("s_dec"), col("radius_deg")) &&
      sep <= col("radius_deg"))

  private val Rect = Footprint(Seq("width_deg", "height_deg"),
    col("height_deg") / 2,
    abs(col("dec") - col("s_dec")) <= col("height_deg") / 2 &&
      Sphere.raDelta(col("ra"), col("s_ra")) * cos(radians(col("s_dec"))) <=
        col("width_deg") / 2)

  private val OutputNames = Seq("sample_id", "s_ra", "s_dec") ++
    Cone.columns ++ Rect.columns ++ Seq("sep_deg", BandKey)

  private def footprint(samples: DataFrame): Footprint = {
    val present = Seq("radius_deg", "width_deg", "height_deg")
      .filter(c => samples.columns.contains(c))
    if (present == Cone.columns) Cone
    else if (present == Rect.columns) Rect
    else throw new IllegalArgumentException(
      "samples need radius_deg (cone) or width_deg and height_deg " +
        s"(rectangle); got columns ${samples.columns.mkString(", ")}")
  }

  def bandJoin(catalog: DataFrame, samples: DataFrame,
               bandDeg: Double = 1.0): DataFrame = {
    require(bandDeg > 0, "bandDeg must be positive")
    val clash = catalog.columns.filter(c => OutputNames.contains(c.toLowerCase))
    if (clash.nonEmpty) throw new IllegalArgumentException(
      s"catalog columns ${clash.mkString(", ")} collide with the sky " +
        s"join's output names (${OutputNames.mkString(", ")})")
    val fp = footprint(samples)
    val s = samples.select(Seq(col("sample_id"), col("ra").as("s_ra"),
        col("dec").as("s_dec")) ++ fp.columns.map(col): _*)
      .withColumn(BandKey, explode(sequence(
        floor((col("s_dec") - fp.reach) / bandDeg).cast("long"),
        floor((col("s_dec") + fp.reach) / bandDeg).cast("long"))))
    catalog.withColumn(BandKey, floor(col("dec") / bandDeg).cast("long"))
      .join(s, BandKey)
      .filter(fp.inside)
      .drop(BandKey)
      .withColumn("sep_deg", sep)
  }
}
