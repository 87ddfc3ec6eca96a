package graft

import graft.Cut._
import graft.functions.VectorExprs
import graft.operators.{Centroids94, Similarity, VectorQuality}
import org.apache.spark.sql.functions._

/** q196 vector-family quality: the gate-corpus recovery pins, the
  * threshold-gap measurement that justifies 0.70, and the variant-
  * corpus stability margins that make the sign-LSH and cell families
  * oracle-replayable (a zeroed tail changes every dot, so the base
  * corpus's margin assertions do not transfer — these are the
  * variant corpus's own). */
class VectorQualitySpec extends SparkSpec {

  private def variants(dir: String) =
    VectorQuality.plantedVecVariants(Tables.load(spark, dir, "embeddings"))
      .cut("VectorQualitySpec: planted variants")

  test("q196: brute and sign-LSH recover perfectly; the cell restriction measurably loses") {
    val m = VectorQuality.vectorQualityTable(
        Tables.load(spark, sf0001, "embeddings")).collect()
      .map(r => r.getString(0) -> (r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap // family -> (correct, prec, rec)
    // brute: structural on THIS corpus — the 0.70 threshold sits in
    // the measured [0.562, 0.743] planted/organic gap
    assert(m("brute") === ((600L, 1000000L, 1000000L)))
    // the adaptive sign-LSH scale path is lossless here too: at
    // cos ≥ 0.70 the Hamming-1 probe covers every planted pair
    assert(m("signlsh") === ((600L, 1000000L, 1000000L)))
    // SemDeDup's same-cell restriction pays its documented price:
    // planted pairs straddling a cell boundary are unreachable
    assert(m("cell")._3 < 1000000L)
    assert(m("cell")._2 === 1000000L) // but it never invents pairs
  }

  test("q199: the top-2 probe lifts same-cell recall at a bounded candidate increase") {
    val t = SparkEntry.queries("q199_semdedup_probe2")(spark, sf0001)
      .collect().map(r => r.getAs[String]("family") ->
        (r.getAs[Long]("candidates"), r.getAs[Long]("recall_ppm"),
          r.getAs[Long]("precision_ppm"))).toMap
    // measured (tri-scale, oracle-gated): cell 762k/767k/651k ppm →
    // cell_p2 977k/10⁶/974k at 3.67–3.76× the candidates — the q196
    // deficit mostly recovered, strictly under the ×4 structural
    // bound (per-vector fan-out ×2)
    assert(t("cell_p2")._2 > t("cell")._2)
    assert(t("cell")._2 < 1000000L)
    assert(t("cell_p2")._2 < 1000000L) // sf0.001: strictly between
    assert(t("cell_p2")._1 <= 4L * t("cell")._1)
    assert(t("cell")._3 === 1000000L)   // exact verify: no invented
    assert(t("cell_p2")._3 === 1000000L) // pairs in either family
    // the q199 'cell' row IS q196's cell family (same assignment,
    // derived through assignTop2's c1 instead of the array argmax)
    val q196cell = VectorQuality.vectorQualityTable(
        Tables.load(spark, sf0001, "embeddings")).collect()
      .find(_.getString(0) == "cell").get
    assert(t("cell")._2 === q196cell.getAs[Long]("recall_ppm"))
  }

  test("q196: the 0.70 threshold sits in an empty gap between planted and organic cosines") {
    val v = variants(sf0001)
    val ea = v.select(col("vec_id").as("a"), col("embedding").as("emb_a"))
    val eb = v.select(col("vec_id").as("b"), col("embedding").as("emb_b"))
    val pairs = ea.join(eb, col("a") < col("b"))
      .select(expr("a div 4").as("pa"),
        expr("b div 4").as("pb"),
        round(VectorExprs.cosineFast(col("emb_a"), col("emb_b")), 6).as("c"))
    val pMin = pairs.filter(col("pa") === col("pb"))
      .agg(min(col("c"))).head.getDouble(0)
    val oMax = pairs.filter(col("pa") =!= col("pb"))
      .agg(max(col("c"))).head.getDouble(0)
    assert(pMin > 0.74)  // measured 0.7679
    assert(oMax < 0.60)  // measured 0.4747
  }

  test("q196: variant-corpus sign and argmax margins dwarf cross-engine float noise") {
    // cross-engine double-accumulation noise is ~1e-13; the probed
    // margins (measured in round 13) are 2.0e-6 / 6.1e-6 / 8.4e-8 for
    // planes and ≥ 8.9e-5 for the cell argmax across the three
    // scales — the sf0.1 plane margin is the tightest in the repo
    // (vs the base corpus's 1e-6 bar) and still five orders above
    // noise; pinned here at both ends of the scale range
    for (dir <- Seq(sf0001, "/root/testdata/sf0.1")) {
      val v = variants(dir)
      val dots = Similarity.PlanesA.map(p =>
        abs(VectorExprs.cosineFast(col("embedding"), typedlit(p))))
      val minDot = v.select(explode(array(dots: _*)).as("d"))
        .agg(min(col("d"))).head.getDouble(0)
      assert(minDot > 5e-8, s"$dir plane margin $minDot")
      val cents = Centroids94.table.take(
        Similarity.adaptiveCells(v.count()))
      val sims = array(cents.map(c =>
        VectorExprs.cosineFast(col("embedding"), typedlit(c))): _*)
      val minGap = v.select(sims.as("s"))
        .select((element_at(array_sort(col("s")), cents.length)
          - element_at(array_sort(col("s")), cents.length - 1)).as("g"))
        .agg(min(col("g"))).head.getDouble(0)
      assert(minGap > 5e-5, s"$dir cell gap $minGap")
    }
  }

  test("q196: the nested-zero-tail cosine closed form holds") {
    // cos(v_a, v_b) = sqrt(S_b / S_a) for nested zero tails — checked
    // against the engine's own cosine kernel on one real base vector
    val e = Tables.load(spark, sf0001, "embeddings")
    val emb = e.filter(col("vec_id") === 0).head
      .getSeq[Float](e.columns.indexOf("embedding")).toArray
    def s(m: Int) = emb.take(64 - m).map(x => x.toDouble * x).sum
    val v = variants(sf0001)
    val got = v.filter(col("vec_id").isin(0L, 3L))
      .orderBy(col("vec_id")).collect().map(_.getSeq[Float](1).toArray)
    val cos = {
      val dot = got(0).zip(got(1)).map { case (a, b) => a.toDouble * b }.sum
      dot / (math.sqrt(got(0).map(x => x.toDouble * x).sum) *
        math.sqrt(got(1).map(x => x.toDouble * x).sum))
    }
    assert(math.abs(cos - math.sqrt(s(12) / s(0))) < 1e-12)
  }
}
