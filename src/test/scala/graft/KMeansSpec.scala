package graft

import graft.functions.SignProjectKernel
import graft.operators.KMeansTrain
import org.apache.spark.sql.catalyst.util.GenericArrayData

/** Proofs for q118 distributed k-means training: an exact
  * driver-side Lloyd replay (same quantization, same integer
  * distances and tie-breaks, same shifted floor-division means, same
  * empty-cluster carry) on the real sf0.001 corpus, plus structural
  * properties on synthetic corpora. */
class KMeansSpec extends SparkSpec {
  import spark.implicits._

  private val K = 8
  private val T = 3
  private val Shift = 1000000L

  /** Reference Lloyd implementation over quantized vectors, the
    * engine's exact integer semantics. Returns
    * (cluster, pos) -> (c, n). */
  private def replay(vecs: Seq[(Long, Seq[Float])]): Map[(Int, Int), (Long, Long)] = {
    val qv = vecs.sortBy(_._1).map { case (id, v) =>
      id -> SignProjectKernel.normQuant(new GenericArrayData(v.toArray))
    }
    val dim = qv.head._2.length
    var cent: Array[Array[Long]] = qv.take(K).map(_._2.clone()).toArray
    var ns: Array[Long] = Array.fill(K)(0L)
    for (_ <- 1 to T) {
      val asg = qv.map { case (id, q) =>
        val dists = cent.map(c =>
          (0 until dim).map { p => val d = q(p) - c(p); d * d }.sum)
        id -> dists.zipWithIndex.minBy { case (d, i) => (d, i) }._2
      }
      val next = Array.tabulate(K) { k =>
        val members = asg.collect { case (id, `k`) => id }.toSet
        val qs = qv.collect { case (id, q) if members(id) => q }
        if (qs.isEmpty) (cent(k), 0L)
        else (Array.tabulate(dim) { p =>
          qs.map(q => q(p) + Shift).sum / qs.length - Shift
        }, qs.length.toLong)
      }
      cent = next.map(_._1)
      ns = next.map(_._2)
    }
    (for (k <- 0 until K; p <- 0 until dim)
      yield (k, p) -> (cent(k)(p), ns(k))).toMap
  }

  private def engine(vecs: Seq[(Long, Seq[Float])]): Map[(Int, Int), (Long, Long)] =
    KMeansTrain.train(vecs.toDF("vec_id", "embedding")).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap

  test("q118: codebook equals the driver-side Lloyd replay on the real corpus") {
    val vecs = Tables.load(spark, sf0001, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    assert(engine(vecs) === replay(vecs))
  }

  test("q118: well-separated axis groups recover their members and means") {
    // 8 orthogonal direction groups, 4 vectors each; init ids 0..7
    // are one vector from each group, so Lloyd must keep each group
    // intact (orthogonal axes: cross-group distance always larger)
    val vecs = (for (g <- 0 until 8; j <- 0 until 4) yield {
      val v = Array.fill(16)(0.01f * (j + 1))
      v(g) = 1.0f
      // ids 0..7 = the j=0 representative of each group
      ((j * 8 + g).toLong, v.toSeq)
    }).sortBy(_._1)
    val got = engine(vecs)
    assert(got === replay(vecs))
    // every cluster kept exactly its 4 group members
    (0 until 8).foreach { k => assert(got((k, 0))._2 === 4L, s"cluster $k") }
  }

  // ---- q129 product quantization ------------------------------------

  private val M = 4
  private val Sub = 16
  private val PT = 2

  private def pqSlice(q: Array[Long], m: Int) = q.slice(m * Sub, (m + 1) * Sub)

  /** The shared q129/q132 training replay: PT joint Lloyd rounds over
    * the subvector slices. Returns the final codebook and the final
    * per-(vector, subspace) (dist, code) assignment. */
  private def pqTrainReplay(qv: Seq[(Long, Array[Long])])
      : (Array[Array[Array[Long]]], Seq[(Long, Array[(Long, Int)])]) = {
    var cent: Array[Array[Array[Long]]] =
      Array.tabulate(M)(m => qv.take(K).map(x => pqSlice(x._2, m)).toArray)
    def assign(): Seq[(Long, Array[(Long, Int)])] = qv.map { case (id, q) =>
      id -> Array.tabulate(M) { m =>
        val s = pqSlice(q, m)
        val dists = cent(m).map(c =>
          (0 until Sub).map { p => val d = s(p) - c(p); d * d }.sum)
        dists.zipWithIndex.minBy { case (d, i) => (d, i) }
      }
    }
    for (_ <- 1 to PT) {
      val asg = assign()
      cent = Array.tabulate(M) { m =>
        Array.tabulate(K) { k =>
          val members = asg.collect {
            case (id, arr) if arr(m)._2 == k => id
          }.toSet
          val qs = qv.collect { case (id, q) if members(id) => pqSlice(q, m) }
          if (qs.isEmpty) cent(m)(k)
          else Array.tabulate(Sub)(p =>
            qs.map(s => s(p) + Shift).sum / qs.length - Shift)
        }
      }
    }
    (cent, assign())
  }

  /** Reference PQ implementation: M independent Lloyd trainings over
    * the subvector slices, then the final (sub, code) cell census.
    * Returns (sub, code) -> (n, mean_dist); empty cells absent. */
  private def replayPq(vecs: Seq[(Long, Seq[Float])]): Map[(Int, Int), (Long, Long)] = {
    val qv = vecs.sortBy(_._1).map { case (id, v) =>
      id -> SignProjectKernel.normQuant(new GenericArrayData(v.toArray))
    }
    val (_, fin) = pqTrainReplay(qv)
    (for (m <- 0 until M; k <- 0 until K) yield {
      val cell = fin.collect { case (_, arr) if arr(m)._2 == k => arr(m)._1 }
      if (cell.isEmpty) None
      else Some((m, k) ->
        (cell.length.toLong, (cell.map(BigInt(_)).sum / cell.length).toLong))
    }).flatten.toMap
  }

  private def enginePq(vecs: Seq[(Long, Seq[Float])]): Map[(Int, Int), (Long, Long)] =
    KMeansTrain.pq(vecs.toDF("vec_id", "embedding")).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap

  test("q129: cell census equals the driver-side PQ replay on the real corpus") {
    val vecs = Tables.load(spark, sf0001, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val got = enginePq(vecs)
    assert(got === replayPq(vecs))
    // every subspace assigned every vector to exactly one cell
    (0 until M).foreach { m =>
      assert(got.collect { case ((`m`, _), (n, _)) => n }.sum === vecs.length.toLong, s"sub $m")
    }
  }

  test("q129: subspace codebooks are independent — a vector duplicated in one subspace only still splits per-subspace") {
    // 24 vectors: subspace 0 has three well-separated direction
    // groups, the OTHER subspaces are identical constants across all
    // vectors — so sub 0's census splits while subs 1..3 collapse
    // onto the init-seeded cells deterministically
    val vecs = (0 until 24).map { i =>
      val v = Array.fill(64)(0.05f)
      v(i % 3) = 1.0f // subspace 0: group by i % 3
      (i.toLong, v.toSeq)
    }
    val got = enginePq(vecs)
    assert(got === replayPq(vecs))
    val sub0 = got.collect { case ((0, _), (n, _)) => n }.toSeq.sorted
    assert(sub0.sum === 24L)
    assert(sub0.count(_ > 0) >= 3, s"sub0 cells: $sub0") // the 3 groups stay split
  }

  // ---- q132 asymmetric-distance retrieval ---------------------------

  /** Reference ADC: train PQ, encode every vector, build the exact
    * per-query lookup tables, rank by the M-term LUT sum. Returns the
    * (q_id, rk, vec_id, adist) rows the gate emits. */
  private def replayAdc(vecs: Seq[(Long, Seq[Float])]): Set[(Long, Int, Long, Long)] = {
    val qv = vecs.sortBy(_._1).map { case (id, v) =>
      id -> SignProjectKernel.normQuant(new GenericArrayData(v.toArray))
    }
    val (cent, fin) = pqTrainReplay(qv)
    val codes = fin.map { case (id, arr) => id -> arr.map(_._2) }.toMap
    val present = qv.map(_._1).toSet
    Seq(0L, 5L, 11L, 17L).filter(present).flatMap { qid =>
      val q = qv.find(_._1 == qid).get._2
      val lut = Array.tabulate(M, K) { (m, k) =>
        val s = pqSlice(q, m)
        (0 until Sub).map { p => val d = s(p) - cent(m)(k)(p); d * d }.sum
      }
      qv.filter(_._1 != qid)
        .map { case (id, _) =>
          (id, (0 until M).map(m => lut(m)(codes(id)(m))).sum) }
        .sortBy { case (id, d) => (d, id) }
        .take(10).zipWithIndex
        .map { case ((id, d), i) => (qid, i + 1, id, d) }
    }.toSet
  }

  private def engineAdc(vecs: Seq[(Long, Seq[Float])]): Set[(Long, Int, Long, Long)] =
    KMeansTrain.adc(vecs.toDF("vec_id", "embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet

  test("q132: ADC top-10 equals the driver-side replay on the real corpus") {
    val vecs = Tables.load(spark, sf0001, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val got = engineAdc(vecs)
    assert(got === replayAdc(vecs))
    // 4 panel queries, 10 dense ranks each, self never returned
    assert(got.size === 40)
    assert(got.forall { case (q, _, v, _) => q != v })
  }

  test("q132: exact duplicates of a query vector rank first with ADC distance zero") {
    // 32 vectors, direction i % 8 — the 8 seed ids are one vector per
    // direction, so every centroid reproduces its members exactly and
    // the ADC distance IS the exact quantized distance; each panel
    // query's three other copies must rank 1..3 with adist = 0
    val vecs = (0 until 32).map { i =>
      val v = Array.fill(64)(0.0f)
      v(i % 8) = 1.0f
      (i.toLong, v.toSeq)
    }
    val got = engineAdc(vecs)
    assert(got === replayAdc(vecs))
    Seq(0L, 5L, 11L, 17L).foreach { qid =>
      val copies = (0 until 32).map(_.toLong)
        .filter(i => i != qid && i % 8 == qid % 8)
      val tops = got.collect { case (`qid`, rk, v, d) if rk <= 3 => (rk, v, d) }
      assert(tops.toSeq.sortBy(_._1).map(_._2) === copies, s"query $qid")
      assert(tops.forall(_._3 === 0L), s"query $qid")
    }
  }

  test("q187: PQ frontier — distortion falls with code bits, truth replays brute force, m=4 reproduces q132") {
    val real = Tables.load(spark, sf0001, "embeddings")
    val out = KMeansTrain.pqFrontier(real).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).sortBy(_._2)
    assert(out.map(_._2).toSeq === Seq(2L, 4L, 8L))
    assert(out.forall(r => r._3 === 3 * r._2))
    assert(out.forall(r => r._5 === 40L && r._6 <= r._5))
    assert(out.forall(r => r._7 === 1000000L * r._6 / 40L))
    // finer subspaces quantize better: mean distortion strictly falls
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 > b._4, s"distortion must fall with m: $a vs $b") }

    // the shared exact truth IS the brute-force integer-L2 top-10
    // (driver replay over normQuant'd vectors, the q132 tie rule)
    val (parts, truth) = KMeansTrain.pqFrontierDetail(real)
    val vecs = real.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), SignProjectKernel.normQuant(
        new GenericArrayData(r.getSeq[Float](1).toArray)))).toSeq
    val expect = Seq(0L, 5L, 11L, 17L).flatMap { q =>
      val qq = vecs.find(_._1 == q).get._2
      vecs.filter(_._1 != q)
        .map { case (id, v) =>
          (id, (0 until qq.length).map { p =>
            val d = qq(p) - v(p); d * d }.sum) }
        .sortBy { case (id, d) => (d, id) }.take(10)
        .map { case (id, _) => (q, id) }
    }.toSet
    assert(truth.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === expect)
    // the m = 4 ADC ranking is exactly the q132 gate's
    val m4top = parts.find(_._1 == 4).get._3.collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val q132 = KMeansTrain.queries("q132_pq_adc_topk")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(m4top === q132)
  }

  test("q118: clusters that lose every member carry their previous centroid") {
    // ids 6 and 7 duplicate id 0's vector: the argmin tie-break
    // (dist, cluster) sends all three to cluster 0, so clusters 6
    // and 7 go empty and must keep their init centroid with n=0
    val base = (0 until 6).map { i =>
      val v = Array.fill(16)(0.05f); v(i) = 1.0f; v.toSeq
    }
    val vecs = base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      Seq((6L, base(0)), (7L, base(0))) ++
      (8 until 20).map { i => (i.toLong, base(i % 6)) }
    val got = engine(vecs)
    assert(got === replay(vecs))
    assert(got((6, 0))._2 === 0L)
    assert(got((7, 0))._2 === 0L)
    // carried centroid = the quantized init vector (same as cluster 0's init)
    val q0 = SignProjectKernel.normQuant(
      new GenericArrayData(base(0).toArray))
    (0 until 16).foreach { p => assert(got((6, p))._1 === q0(p)) }
  }
}
