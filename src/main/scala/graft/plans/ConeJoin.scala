package graft.plans

import graft.functions.Sphere
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The spatial cone join: every (sample, object) pair with
  * angularSep(sample center, object) ≤ sample radius.
  *
  * This is the reference's single join — a theta-join executed there
  * as a per-sample spatial-index probe loop
  * (/root/reference/src/cosmap/dataset/opencosmo.py:38-54 driven by
  * /root/reference/src/cosmap/analysis/task.py:149-154). Re-expressed
  * here as one declarative Spark plan (SURVEY.md §2.3), [[bandJoin]]:
  * the theta-join rewritten into an *equi-join* on a declination-band key
  * (the generalization of the reference's bbox prefilter,
  * opencosmo.py:42-50, with its RA-shrink sign bug at line 48 fixed).
  * Samples are exploded to every band their circle overlaps, the
  * catalog is banded by floor(dec/band), and the join runs as a
  * hash/sort-merge equi-join with the cheap bbox conjuncts first and
  * the exact separation as residual. Only pairs that share a band are
  * ever examined — never the |catalog| × |samples| cross product a
  * nested-loop plan evaluates — and the plan shape does not change
  * when the sample table outgrows a broadcast.
  *
  * Contract: `catalog` has columns `ra`, `dec` (degrees); `samples`
  * has `sample_id`, `ra`, `dec`, `radius_deg`. Output: catalog columns
  * + `sample_id`, `s_ra`, `s_dec`, `radius_deg`, `sep_deg`.
  */
object ConeJoin {

  private def prepSamples(samples: DataFrame): DataFrame =
    samples.select(col("sample_id"), col("ra").as("s_ra"),
      col("dec").as("s_dec"), col("radius_deg"))

  private val sep: Column =
    Sphere.angularSepDeg(col("ra"), col("dec"), col("s_ra"), col("s_dec"))

  def bandJoin(catalog: DataFrame, samples: DataFrame,
               bandDeg: Double = 1.0): DataFrame = {
    require(bandDeg > 0, "bandDeg must be positive")
    val s = prepSamples(samples).withColumn("band",
      explode(sequence(
        floor((col("s_dec") - col("radius_deg")) / bandDeg).cast("long"),
        floor((col("s_dec") + col("radius_deg")) / bandDeg).cast("long"))))
    val c = catalog.withColumn("band", floor(col("dec") / bandDeg).cast("long"))
    // cheap conjuncts first (dec band already equi-matched; dec range
    // and wraparound-safe ra box), exact separation last
    c.join(s, "band")
      .filter(col("dec") >= col("s_dec") - col("radius_deg") &&
        col("dec") <= col("s_dec") + col("radius_deg") &&
        Sphere.raDelta(col("ra"), col("s_ra")) <=
          Sphere.raPad(col("s_dec"), col("radius_deg")) &&
        sep <= col("radius_deg"))
      .drop("band")
      .withColumn("sep_deg", sep)
  }

  /** The reference quickstart's per-sample reduction
    * (/root/reference/README.md:55-174): drop objects closer than
    * `minSepArcsec`, then per sample emit (ra, dec, n, inv) where n is
    * the surviving-object count and inv the summed separations in
    * arcsec. Samples whose cone is empty still emit a row (n=0) —
    * matching the reference, where every sample returns a result dict.
    * Sum is decimal-accumulated: exact and partition-order-free.
    * `samples` needs only `sample_id`, `ra`, `dec`, so rectangle
    * samples aggregate the same way. */
  def quickstartAggregate(joined: DataFrame, samples: DataFrame,
                          minSepArcsec: Double): DataFrame = {
    val agg = joined
      .filter(col("sep_deg") * 3600.0 > minSepArcsec)
      .groupBy(col("sample_id"))
      .agg(count(lit(1)).as("n"),
        // summand quantized to milli-arcsec before the exact decimal
        // sum: each per-pair separation is transcendental, so Java vs
        // libm divergence is ~1e-13 absolute — against a 1e-6 decimal
        // quantum a sum over 1e4+ pairs hits a rounding boundary with
        // near-certainty (observed at sf0.01), against 1e-3 the rate
        // is ~1e-10/pair; milli-arcsec is far below physical meaning
        // in the reference's regime
        sum(round(col("sep_deg") * 3600.0, 3).cast("decimal(28,3)"))
          .cast("double").as("inv"))
    samples.select(col("sample_id"), col("ra"), col("dec"))
      .join(agg, Seq("sample_id"), "left")
      .select(col("sample_id"), col("ra"), col("dec"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("inv"), lit(0.0)).as("inv"))
  }
}
