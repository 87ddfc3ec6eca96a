package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector column algebra over `array<float|double>` embedding
  * columns (north-star similarity surface).
  *
  * Determinism: every reduction is an ordered left fold
  * (`aggregate`) over the array — accumulation order is the array
  * order on any engine and any partitioning, so cosine scores are
  * bit-reproducible (unlike summing exploded elements, whose shuffle
  * order is free).
  */
object Vectors {

  /** Ordered-fold dot product, elementwise in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in [-1, 1]. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Sign-bit LSH bucket: for each hyperplane (a deterministic
    * constant vector), one bit = (v · plane ≥ 0). Buckets collide for
    * nearby directions — the scale path for ANN over 10⁹+ vectors:
    * bucket once (narrow shuffle key), then search within buckets.
    */
  def lshBucket(v: Column, planes: Seq[Seq[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      when(dot(v, typedlit(p)) >= 0, lit(1 << i)).otherwise(lit(0))
    }
    bits.reduce(_ + _)
  }

  /** All bucket ids within Hamming distance 1 of `bucket` (multi-probe
    * LSH: probing neighbor buckets trades a little compute for much
    * higher recall at the same bucket granularity). */
  def probeBuckets(bucket: Column, nPlanes: Int): Column =
    array(bucket +: (0 until nPlanes).map(i => bucket.bitwiseXOR(lit(1 << i))): _*)

  /** Deterministic driver-side k-means (Lloyd's, cosine assignment,
    * init = first k samples, fixed iteration count) for IVF coarse
    * quantization. Runs on a bounded SAMPLE on the driver — the
    * standard IVF practice (FAISS trains centroids on a sample, then
    * assigns the corpus distributed) and the engine's Setup-block
    * pattern: compute small constants once, broadcast into the
    * distributed plan. Pure sequential arithmetic in a fixed order —
    * bit-deterministic on any machine. */
  def kmeansCentroids(samples: Seq[Array[Double]], k: Int,
      iters: Int): Seq[Seq[Double]] = {
    require(samples.nonEmpty, "kmeans needs a non-empty sample")
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val xs = samples.map(normalize).toArray
    val kk = math.min(k, xs.length)
    var cents = Array.tabulate(kk)(i => xs(i).clone())
    for (_ <- 0 until iters) {
      val cn = cents.map(normalize)
      val sums = Array.fill(kk)(new Array[Double](xs(0).length))
      val counts = new Array[Int](kk)
      xs.foreach { v =>
        var best = 0; var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < kk) {
          var d = 0.0; var i = 0
          while (i < v.length) { d += v(i) * cn(c)(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        var i = 0
        while (i < v.length) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(kk) { c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(_ / counts(c))
      }
    }
    cents.map(normalize(_).toSeq).toSeq
  }

  /** Deterministic hyperplanes with entries quantized to the 0.001
    * grid (k/1000 for integer k). Quantization does not change the
    * LSH family (signs of dots with any centrally-symmetric random
    * planes work), and it lets the DuckDB oracle replay the EXACT
    * same planes from 3-decimal literals: both engines parse k/1000
    * to the identical nearest double. */
  def quantizedPlanes(nPlanes: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(math.rint(rng.nextGaussian() * 1000) / 1000))
  }
}
