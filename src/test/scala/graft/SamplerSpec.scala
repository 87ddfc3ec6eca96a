package graft

import graft.domain.{SkyBounds, SphereSampler}
import graft.functions.Sphere
import org.apache.spark.sql.functions._

class SamplerSpec extends SparkSpec {

  val bounds = SkyBounds(31, 38, -11, -4)
  val r = 2.0 / 60.0

  test("no sample circle crosses the region boundary (frame invariant)") {
    // spec: /root/reference/src/cosmap/analysis/sampler.py:48-85
    // near the pole: a centre at the frame's top needs raPad 38.2° in
    // the first region (Dec to 89.95°); circles in the second can
    // reach the pole; the third is wide enough to keep a frame
    val nearPole = SkyBounds(0, 100, 80, 89.95)
    val polar = SkyBounds(0, 100, 80, 90)
    val wideNearPole = SkyBounds(0, 360, 80, 89.95)
    def raPadAt(dec: Double): Double =
      spark.range(1).select(Sphere.raPad(lit(dec), lit(r))).head.getDouble(0)
    for (b <- Seq(bounds, nearPole, polar, wideNearPole)) {
      val framed = scala.util.Try(SphereSampler.frame(b, r))
      assert(framed.isSuccess || framed.failed.get
        .isInstanceOf[IllegalArgumentException], framed)
      framed.foreach { f =>
        // the frame itself: a circle centred on its most polar edge
        // still fits in RA
        val pad = raPadAt(math.max(math.abs(f.decMin), math.abs(f.decMax)))
        assert(f.raMin - pad >= b.raMin && f.raMax + pad <= b.raMax,
          s"$b: frame $f, pad $pad")
        val s = SphereSampler.uniformCircles(spark, 2000, b, r, seed = 1)
        val viol = s.filter(
          col("dec") - col("radius_deg") < b.decMin ||
            col("dec") + col("radius_deg") > b.decMax ||
            col("ra") - Sphere.raPad(col("dec"), col("radius_deg")) < b.raMin ||
            col("ra") + Sphere.raPad(col("dec"), col("radius_deg")) > b.raMax)
          .count()
        assert(viol === 0, b)
      }
    }
    assert(SphereSampler.frame(wideNearPole, r).raMin > 100)
    val e = intercept[IllegalArgumentException](SphereSampler.frame(polar, r))
    assert(e.getMessage.contains("pole"), e.getMessage)
  }

  test("sampling is deterministic and partitioning-independent") {
    val a = SphereSampler.uniformCircles(spark, 500, bounds, r)
      .orderBy("sample_id").collect()
    val b = SphereSampler.uniformCircles(spark, 500, bounds, r)
      .repartition(13).orderBy("sample_id").collect()
    assert(a.sameElements(b))
  }

  test("area-uniform: sin(dec) is uniform over the shrunk frame") {
    // spec: dA = dφ d(sinδ), /root/reference/src/cosmap/analysis/sampler.py:96-104
    val f = SphereSampler.frame(bounds, r)
    val n = 5000
    val zs = SphereSampler.uniformCircles(spark, n, bounds, r, seed = 9)
      .select(sin(radians(col("dec"))).as("z")).collect().map(_.getDouble(0))
    val (zLo, zHi) = (math.sin(math.toRadians(f.decMin)), math.sin(math.toRadians(f.decMax)))
    assert(zs.forall(z => z >= zLo && z <= zHi))
    val mean = zs.sum / n
    val sigma = (zHi - zLo) / math.sqrt(12.0 * n)
    assert(math.abs(mean - (zLo + zHi) / 2) < 4 * sigma,
      s"mean=$mean expected=${(zLo + zHi) / 2} sigma=$sigma")
  }

  test("frame shrink is symmetric and sign-correct") {
    // the reference SUBTRACTS the pad from max_ra where it should be
    // symmetric (opencosmo.py:48 analog); here both sides shrink inward
    val f = SphereSampler.frame(SkyBounds(0, 10, 40, 50), 1.0)
    assert(f.decMin === 41.0 && f.decMax === 49.0)
    assert(f.raMin > 0 && f.raMax < 10)
    assert(math.abs((f.raMin - 0) - (10 - f.raMax)) < 1e-12)
    // RA pad grows toward the pole
    val fEq = SphereSampler.frame(SkyBounds(0, 10, -5, 5), 1.0)
    assert((f.raMin - 0) > (fEq.raMin - 0))
  }
}

class SamplerChiSquareSpec extends SparkSpec {
  test("chi-square: samples uniform across equal-area dec bands (sampler.py:96-104 spec)") {
    import graft.domain.{SkyBounds, SphereSampler}
    val bounds = SkyBounds(31, 38, -11, -4)
    val r = 2.0 / 60.0
    val n = 20000
    val f = SphereSampler.frame(bounds, r)
    val (zLo, zHi) = (math.sin(math.toRadians(f.decMin)), math.sin(math.toRadians(f.decMax)))
    val k = 20 // equal-area bands = equal-z bands
    val zs = SphereSampler.uniformCircles(spark, n, bounds, r, seed = 11)
      .select(org.apache.spark.sql.functions.sin(
        org.apache.spark.sql.functions.radians(
          org.apache.spark.sql.functions.col("dec"))))
      .collect().map(_.getDouble(0))
    val counts = new Array[Int](k)
    zs.foreach { z =>
      val b = math.min(k - 1, ((z - zLo) / (zHi - zLo) * k).toInt)
      counts(b) += 1
    }
    val expected = n.toDouble / k
    val chi2 = counts.map(c => (c - expected) * (c - expected) / expected).sum
    // df = 19; P(chi2 > 43.8) ≈ 0.001 — generous bound for a fixed seed
    assert(chi2 < 43.8, s"chi2=$chi2 counts=${counts.mkString(",")}")
  }
}
