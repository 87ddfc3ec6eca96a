package graft

import graft.functions.Sphere
import org.apache.spark.sql.functions._

class SphereSpec extends SparkSpec {
  import spark.implicits._

  private def sep(ra1: Double, dec1: Double, ra2: Double, dec2: Double): Double =
    Seq((ra1, dec1, ra2, dec2)).toDF("ra1", "dec1", "ra2", "dec2")
      .select(Sphere.angularSepDeg(col("ra1"), col("dec1"), col("ra2"), col("dec2")))
      .head().getDouble(0)

  test("angular separation: known fixed points") {
    assert(math.abs(sep(0, 0, 90, 0) - 90.0) < 1e-9)
    assert(math.abs(sep(0, 0, 180, 0) - 180.0) < 1e-9)
    assert(math.abs(sep(10, 10, 10, 10)) < 1e-12)
    assert(math.abs(sep(0, 90, 123, -90) - 180.0) < 1e-9)
    assert(math.abs(sep(0, 0, 0, 60) - 60.0) < 1e-9)
    // wraparound: 359° to 1° at equator is 2°
    assert(math.abs(sep(359, 0, 1, 0) - 2.0) < 1e-9)
  }

  test("angular separation: matches independent Vincenty formula on random points") {
    def vincenty(ra1: Double, dec1: Double, ra2: Double, dec2: Double): Double = {
      val (l1, p1, l2, p2) = (math.toRadians(ra1), math.toRadians(dec1),
        math.toRadians(ra2), math.toRadians(dec2))
      val dl = l2 - l1
      val num = math.hypot(
        math.cos(p2) * math.sin(dl),
        math.cos(p1) * math.sin(p2) - math.sin(p1) * math.cos(p2) * math.cos(dl))
      val den = math.sin(p1) * math.sin(p2) + math.cos(p1) * math.cos(p2) * math.cos(dl)
      math.toDegrees(math.atan2(num, den))
    }
    val rng = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val (ra1, dec1) = (rng.nextDouble() * 360, rng.nextDouble() * 178 - 89)
      val (ra2, dec2) = (rng.nextDouble() * 360, rng.nextDouble() * 178 - 89)
      val got = sep(ra1, dec1, ra2, dec2)
      val want = vincenty(ra1, dec1, ra2, dec2)
      assert(math.abs(got - want) < 1e-8, s"($ra1,$dec1)-($ra2,$dec2)")
    }
  }

  test("raPad bound is sound: covers the true RA extent of the cone") {
    // true max RA deviation of a circle radius r centered at dec d:
    // asin(sin r / cos d) while the cone avoids the pole, 180° once
    // it contains one (the last cases: |d| + r > 90)
    val cases = (for {
      d <- Seq(-80.0, -60.0, -30.0, 0.0, 30.0, 60.0, 80.0)
      r <- Seq(0.05, 1.0, 5.0, 9.0)
    } yield (d, r)) ++ Seq((89.95, 0.1), (-89.98, 0.05), (85.0, 5.5), (-80.0, 10.5))
    val df = cases.toDF("dec", "r")
      .select(col("dec"), col("r"),
        Sphere.raPad(col("dec"), col("r")).as("pad"))
    df.collect().foreach { row =>
      val (d, r, pad) = (row.getDouble(0), row.getDouble(1), row.getDouble(2))
      val sinR = math.sin(math.toRadians(r))
      val cosD = math.cos(math.toRadians(d))
      val trueExtent =
        if (sinR >= cosD) 180.0 else math.toDegrees(math.asin(sinR / cosD))
      assert(pad >= trueExtent, s"dec=$d r=$r pad=$pad true=$trueExtent")
    }
  }

  test("hashUniform is partitioning-independent and in [0,1)") {
    val a = spark.range(1000).select(
      Sphere.hashUniform(col("id"), 42).as("u")).collect().map(_.getDouble(0))
    val b = spark.range(1000).repartition(7).select(
      Sphere.hashUniform(col("id"), 42).as("u")).collect().map(_.getDouble(0)).sorted
    assert(a.sorted.sameElements(b))
    assert(a.forall(u => u >= 0.0 && u < 1.0))
    // crude uniformity: mean within 3 sigma of 0.5
    val mean = a.sum / a.length
    assert(math.abs(mean - 0.5) < 3 * 0.2887 / math.sqrt(a.length.toDouble))
  }
}

class CentroidAggSpec extends SparkSpec {
  import graft.functions.CentroidAgg
  import org.apache.spark.sql.functions._

  test("angular centroid handles RA wraparound (naive mean would give 180)") {
    import spark.implicits._
    val df = Seq((1L, 359.0, 0.0), (1L, 1.0, 0.0)).toDF("g", "ra", "dec")
    val c = df.groupBy("g").agg(CentroidAgg.udafColumn(col("ra"), col("dec")).as("c"))
      .select("c.ra", "c.dec").head()
    assert(math.abs(c.getDouble(0) - 0.0) < 1e-9 ||
      math.abs(c.getDouble(0) - 360.0) < 1e-9)
    assert(math.abs(c.getDouble(1)) < 1e-9)
  }

  test("angular centroid of symmetric points about a pole-ward center") {
    import spark.implicits._
    val df = Seq((1L, 100.0, 50.0), (1L, 100.0, 70.0)).toDF("g", "ra", "dec")
    val c = df.groupBy("g").agg(CentroidAgg.udafColumn(col("ra"), col("dec")).as("c"))
      .select("c.ra", "c.dec").head()
    assert(math.abs(c.getDouble(0) - 100.0) < 1e-9)
    assert(math.abs(c.getDouble(1) - 60.0) < 1e-9)
  }
}
