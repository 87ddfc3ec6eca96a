package graft

import graft.domain.{SkyBounds, SphereSampler}
import graft.functions.Sphere
import graft.operators.CosmapDomain
import graft.plans.SkyJoin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The nested-loop forms of the cone and rectangle joins: the raw
  * theta predicate over catalog × broadcast(samples), no band key.
  * They examine every pair, so they are the reference the band
  * equi-join is checked against; the program itself only plans the
  * band join. Output columns match [[SkyJoin.bandJoin]] for each
  * shape. */
object NestedLoopJoins {
  private val sep: Column =
    Sphere.angularSepDeg(col("ra"), col("dec"), col("s_ra"), col("s_dec"))

  def cone(catalog: DataFrame, samples: DataFrame): DataFrame =
    catalog.join(broadcast(samples.select(col("sample_id"), col("ra").as("s_ra"),
        col("dec").as("s_dec"), col("radius_deg"))),
      sep <= col("radius_deg"))
      .withColumn("sep_deg", sep)

  def rect(catalog: DataFrame, samples: DataFrame): DataFrame =
    catalog.join(broadcast(samples.select(col("sample_id"), col("ra").as("s_ra"),
        col("dec").as("s_dec"), col("width_deg"), col("height_deg"))),
      abs(col("dec") - col("s_dec")) <= col("height_deg") / 2 &&
        Sphere.raDelta(col("ra"), col("s_ra")) * cos(radians(col("s_dec"))) <=
          col("width_deg") / 2)
      .withColumn("sep_deg", sep)
}

class ConeJoinSpec extends SparkSpec {

  /** Deterministic pseudo-catalog across the whole sphere: a lattice
    * up to ±85°, plus rows at both poles for samples 5 and 6. */
  private lazy val catalog: DataFrame = {
    import spark.implicits._
    val polar = Seq(
      (20001L, 10.0, 89.9),    // same RA as sample 5, 0.05° away
      (20002L, 190.0, 89.96),  // across the pole: 0.05° + 0.04°
      (20003L, 100.0, 89.99),  // a quarter turn round the pole
      (20004L, 190.0, 89.8),   // across the pole, 0.25° away: outside
      (20005L, 10.0, 89.8),    // same RA, 0.15° away: outside
      (20006L, 300.0, -89.98), // across the south pole from sample 6
      (20007L, 30.0, -89.99),
      (20008L, 300.0, -89.7))  // outside
      .toDF("object_id", "ra", "dec")
    spark.range(20000).select(
      col("id").as("object_id"),
      ((col("id") * 7919) % 36000).cast("double").divide(100.0).as("ra"),
      (((col("id") * 104729) % 17000).cast("double") / 100.0 - 85.0).as("dec"))
      .unionByName(polar)
  }

  private lazy val samples: DataFrame = {
    // centers spread over the sphere incl. high-dec and RA-wraparound
    val rows = Seq(
      (0L, 1.0, 0.0, 3.0),      // RA wraparound at 0/360
      (1L, 359.5, 10.0, 2.0),   // wraparound other side
      (2L, 180.0, -80.0, 5.0),  // near south pole
      (3L, 90.0, 45.0, 1.0),
      (4L, 270.0, 80.0, 4.0),   // near north pole
      (5L, 10.0, 89.95, 0.1),   // |dec| + r > 90: contains the north pole
      (6L, 120.0, -89.98, 0.05)) // contains the south pole
    import spark.implicits._
    rows.toDF("sample_id", "ra", "dec", "radius_deg")
  }

  private def key(df: DataFrame): Set[(Long, Long)] =
    df.select(col("sample_id").cast("long"), col("object_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("band-join rewrite ≡ broadcast theta-join (several band widths)") {
    val reference = key(NestedLoopJoins.cone(catalog, samples))
    assert(reference.nonEmpty)
    // the cones that contain a pole reach across it
    assert(reference.filter(_._1 >= 5L) ===
      Set((5L, 20001L), (5L, 20002L), (5L, 20003L), (6L, 20006L), (6L, 20007L)))
    for (band <- Seq(0.5, 1.0, 2.0, 7.0)) {
      val banded = key(SkyJoin.bandJoin(catalog, samples, band))
      assert(banded === reference, s"bandDeg=$band")
    }
  }

  test("band join matches per-pair brute force") {
    val got = key(SkyJoin.bandJoin(catalog, samples, 1.0))
    // brute force on the driver (20k × 5 pairs)
    val cat = catalog.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val smp = samples.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    def sepDeg(ra1: Double, dec1: Double, ra2: Double, dec2: Double): Double = {
      val h = math.pow(math.sin(math.toRadians(dec2 - dec1) / 2), 2) +
        math.cos(math.toRadians(dec1)) * math.cos(math.toRadians(dec2)) *
          math.pow(math.sin(math.toRadians(ra2 - ra1) / 2), 2)
      math.toDegrees(2 * math.asin(math.min(1.0, math.sqrt(h))))
    }
    val want = (for {
      (oid, cra, cdec) <- cat
      (sid, sra, sdec, rad) <- smp
      if sepDeg(cra, cdec, sra, sdec) <= rad
    } yield (sid, oid)).toSet
    assert(got === want)
  }

  /** A photometric catalog: survey catalogs often carry a `band`. */
  private lazy val photo: DataFrame = {
    import spark.implicits._
    Seq((1L, 90.0, 45.0, "g"), (2L, 90.2, 45.1, "r"), (3L, 0.0, 0.0, "i"))
      .toDF("object_id", "ra", "dec", "band")
  }

  test("a catalog band column passes through the join") {
    import spark.implicits._
    val joined = SkyJoin.bandJoin(photo, samples)
    assert(joined.columns.toSeq === Seq("object_id", "ra", "dec", "band",
      "sample_id", "s_ra", "s_dec", "radius_deg", "sep_deg"))
    assert(joined.select("object_id", "band").as[(Long, String)].collect().toSet ===
      Set((1L, "g"), (2L, "r"), (3L, "i")))
  }

  test("a catalog column with one of the join's output names is rejected") {
    for (name <- Seq("sep_deg", "sample_id", "s_dec", "width_deg", "SEP_DEG")) {
      val e = intercept[IllegalArgumentException](
        SkyJoin.bandJoin(photo.withColumn(name, lit(99.0)), samples))
      assert(e.getMessage.contains(name), e.getMessage)
    }
  }

  test("the footprint is read from the sample columns; no footprint or two is an error") {
    val both = samples.withColumn("width_deg", lit(1.0)).withColumn("height_deg", lit(1.0))
    val half = samples.drop("radius_deg").withColumn("width_deg", lit(1.0))
    for (bad <- Seq(both, half, samples.drop("radius_deg"))) {
      val e = intercept[IllegalArgumentException](SkyJoin.bandJoin(catalog, bad))
      assert(e.getMessage.contains("radius_deg") &&
        e.getMessage.contains(bad.columns.mkString(", ")), e.getMessage)
    }
  }

  test("quickstart aggregate preserves empty samples with n=0") {
    val bounds = SkyBounds(31, 38, -11, -4)
    val smp = SphereSampler.uniformCircles(spark, 50, bounds, 0.001, seed = 3)
    // catalog far away from the region → every cone is empty
    val far = spark.range(100).select(col("id").as("object_id"),
      lit(200.0).as("ra"), lit(50.0).as("dec"))
    val out = CosmapDomain.quickstartAggregate(
      SkyJoin.bandJoin(far, smp), smp, minSepArcsec = 5.0)
    assert(out.count() === 50)
    assert(out.filter(col("n") === 0 && col("inv") === 0.0).count() === 50)
  }

  test("quickstart pipeline end-to-end is reproducible (golden invariants)") {
    val q = CosmapDomain.queries("q33_quickstart_pipeline")
    val out1 = q(spark, sf0001).orderBy("sample_id").collect()
    val out2 = q(spark, sf0001).orderBy("sample_id").collect()
    assert(out1.sameElements(out2))
    assert(out1.length === 1000)
  }

  /** Round-4 advice #1: the cone gates (q31/q33/q68) compare raw
    * transcendental separations against their boundaries in BOTH
    * engines (`sep <= radius` in the join, `sep*3600 > 5` in the
    * quickstart filter); Java-vs-libm trig divergence is ~1e-13
    * absolute, so a pair that close to a boundary could flip
    * membership in one engine only and change n, not just inv.
    * Quantizing the comparison would merely move the exposure to the
    * rounding boundary, so instead this probe PROVES the shipped data
    * keeps every pair orders of magnitude away from every boundary, at
    * all three gate scales — a data refresh that lands near a boundary
    * fails here loudly instead of failing the gate mysteriously. */
  test("cone gate boundary margins far above float noise (tri-scale)") {
    val scales = Seq(sf0001, "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    for (dir <- scales) {
      // q33: pad the radius 2× so candidates on BOTH sides of the true
      // boundary are captured, then measure distance to each boundary
      val r = CosmapDomain.QuickstartRadiusDeg
      val smp = SphereSampler.uniformCircles(
          spark, 1000, CosmapDomain.QuickstartBounds, r, seed = 42L)
        .withColumn("radius_deg", col("radius_deg") * 2)
      val cand = SkyJoin.bandJoin(
        CosmapDomain.quickstartCatalog(spark, dir), smp, bandDeg = 0.25)
      val m33 = cand.agg(
        min(abs(col("sep_deg") - lit(r))).as("mJoin"),
        min(abs(col("sep_deg") * 3600.0 - 5.0)).as("mSep")).head
      assert(m33.getDouble(0) > 1e-9,
        s"$dir q33 join-boundary margin ${m33.getDouble(0)} too thin")
      assert(m33.getDouble(1) > 1e-7,
        s"$dir q33 min-sep filter margin ${m33.getDouble(1)} too thin (arcsec)")

      // q31/q68: same probe on the derived lattice geometry
      val padded = CosmapDomain.derivedSamples(spark, dir)
        .withColumn("radius_deg", col("radius_deg") * 1.5)
      val m31 = SkyJoin.bandJoin(
          CosmapDomain.derivedCatalog(spark, dir), padded, bandDeg = 5.0)
        .agg(min(abs(col("sep_deg") - lit(19.97)))).head.getDouble(0)
      assert(m31 > 1e-9, s"$dir q31 join-boundary margin $m31 too thin")
    }
  }

  // ---- Rectangle samples (beyond the reference) --------------------

  private lazy val rectSamples: DataFrame = {
    import spark.implicits._
    Seq(
      (0L, 1.0, 0.0, 6.0, 3.0),      // RA wraparound at 0/360
      (1L, 359.5, 10.0, 4.0, 2.0),   // wraparound other side
      (2L, 180.0, -80.0, 10.0, 5.0), // near south pole
      (3L, 90.0, 45.0, 2.0, 1.0),
      (4L, 270.0, 80.0, 8.0, 4.0))   // near north pole
      .toDF("sample_id", "ra", "dec", "width_deg", "height_deg")
  }

  test("rect band-join rewrite ≡ broadcast join ≡ per-row brute force") {
    val reference = key(NestedLoopJoins.rect(catalog, rectSamples))
    assert(reference.nonEmpty)
    for (band <- Seq(0.5, 1.0, 2.0, 7.0)) {
      val banded = key(SkyJoin.bandJoin(catalog, rectSamples, band))
      assert(banded === reference, s"bandDeg=$band")
    }
    // brute-force check of the membership definition
    val cat = catalog.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val smp = rectSamples.collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    def raDelta(a: Double, b: Double): Double = {
      val d = math.abs(a - b) % 360.0
      math.min(d, 360.0 - d)
    }
    val want = (for {
      (oid, cra, cdec) <- cat
      (sid, sra, sdec, w, h) <- smp
      if math.abs(cdec - sdec) <= h / 2 &&
        raDelta(cra, sra) * math.cos(math.toRadians(sdec)) <= w / 2
    } yield (sid, oid)).toSet
    assert(reference === want)
  }

  test("rect sampler: every rectangle lies inside the region bounds") {
    val bounds = SkyBounds(31, 38, -11, -4)
    val w = 0.4; val h = 0.2
    val smp = SphereSampler.uniformRects(spark, 500, bounds, w, h, seed = 5)
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    assert(smp.length === 500)
    smp.foreach { case (ra, dec) =>
      assert(dec - h / 2 >= bounds.decMin && dec + h / 2 <= bounds.decMax, (ra, dec))
      // RA extent in coordinate degrees at the sample's dec
      val raExt = (w / 2) / math.cos(math.toRadians(dec))
      assert(ra - raExt >= bounds.raMin && ra + raExt <= bounds.raMax, (ra, dec))
    }
  }
}
