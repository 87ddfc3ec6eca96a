package graft

import graft.Cut._
import graft.functions.SplitMix64Kernel
import graft.operators.Winnow
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprint proofs (q117): the engine's window-frame
  * selection must equal the textbook algorithm — slide every w-gram
  * window, pick the rightmost minimal hash, dedup (pos, hash) — on
  * arbitrary corpora, plus the paper's coverage/guarantee
  * properties. */
class WinnowSpec extends SparkSpec {
  import spark.implicits._

  private val K = 8
  private val W = 4

  /** Reference implementation, straight from Schleimer et al. 2003
    * §4 (winnowing, rightmost-min tie rule), over the same
    * normalization and splitmix64 k-gram hash as the engine. */
  private def brute(text: String): Seq[(Int, Long)] = {
    val nm = text.toLowerCase.filter(c =>
      (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9'))
    val n = nm.length - K + 1
    if (n < W) return Seq.empty
    val fp = (0 until n).map(p =>
      SplitMix64Kernel.strHash(
        UTF8String.fromString(nm.substring(p, p + K))) >>> 11)
    val sel = scala.collection.mutable.LinkedHashSet[(Int, Long)]()
    for (i <- 0 to n - W) {
      val m = (i until i + W).map(fp).min
      val pSel = (i until i + W).filter(j => fp(j) == m).max
      sel += ((pSel + 1, fp(pSel)))
    }
    sel.toSeq
  }

  private def engineSelected(docs: Seq[(Long, String)]): Map[Long, Seq[(Int, Long)]] = {
    val d = docs.toDF("doc_id", "text")
    Winnow.selected(d).collect()
      .map(r => (r.getLong(0), (r.getInt(2), r.getLong(3))))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq.sorted }
  }

  test("selection equals the textbook algorithm on a varied corpus") {
    // deterministic pseudo-random corpus: repeated motifs force hash
    // ties and adjacent-window re-selections
    val rnd = new scala.util.Random(117)
    val motifs = Seq("the quick brown fox", "aaaabbbb", "lorem ipsum dolor")
    val docs = (1L to 20L).map { id =>
      val parts = (0 until rnd.nextInt(8) + 1).map(_ =>
        if (rnd.nextBoolean()) motifs(rnd.nextInt(motifs.size))
        else rnd.alphanumeric.take(rnd.nextInt(30)).mkString)
      (id, parts.mkString(" "))
    }
    val got = engineSelected(docs)
    docs.foreach { case (id, text) =>
      val exp = brute(text).sorted
      assert(got.getOrElse(id, Seq.empty) === exp, s"doc $id: '$text'")
    }
  }

  test("guarantee: docs sharing a >= K+W-1 char substring share a fingerprint") {
    // 11 normalized chars is the winnowing guarantee threshold t
    val common = "xyzzyplugh42" // 12 normalized chars
    val docs = Seq(
      (1L, s"first document containing $common inside it"),
      (2L, s"totally different text but also $common appears"),
      (3L, "nothing in common with the others at all qqq"))
    val fps = engineSelected(docs).map { case (k, v) => k -> v.map(_._2).toSet }
    assert((fps(1L) & fps(2L)).nonEmpty)
    // and the profile's shared counter sees it
    val prof = Winnow.fingerprintProfile(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(prof(1L) > 0 && prof(2L) > 0)
  }

  test("uniform-hash run: every window selects its rightmost gram") {
    // all k-grams of an all-'a' doc are identical => ties everywhere;
    // the rightmost-min rule selects each window's last position
    val n = 20 // chars
    val ng = n - K + 1 // 13 grams, 10 windows
    val got = engineSelected(Seq((1L, "a" * n)))(1L)
    assert(got.map(_._1) === (W to ng))
    assert(got.map(_._2).distinct.size === 1)
  }

  test("profile: short docs get an all-zero row, not a missing row") {
    // doc 1: 4 chars -> 0 grams; doc 2: 11 chars -> 4 grams = exactly
    // one window -> exactly one fingerprint
    val rows = Winnow.fingerprintProfile(
      Seq((1L, "tiny"), (2L, "exactly11ch")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows(1L) === ((0L, 0L, 0L)))
    assert(rows(2L)._1 === 4L)
    assert(rows(2L)._2 === 1L)
  }

  test("q122: clone pairs equal a brute-force set-intersection replay") {
    val rnd = new scala.util.Random(122)
    val sharedBlock = rnd.alphanumeric.take(300).mkString
    val docs = (1L to 12L).map { id =>
      // docs 1-4 are near-clones (same big block + tiny unique tail);
      // 5-12 are unrelated random text
      if (id <= 4) (id, s"$sharedBlock tail$id ${rnd.alphanumeric.take(20).mkString}")
      else (id, rnd.alphanumeric.take(320).mkString)
    }
    val got = Winnow.clonePairs(docs.toSeq.toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // brute replay with the same cap + threshold
    val sets = docs.map { case (id, t) => id -> brute(t).map(_._2).toSet }.toMap
    val dfc = sets.values.toSeq.flatMap(_.toSeq).groupBy(identity)
      .map { case (f, o) => f -> o.size }
    val kept = sets.map { case (id, s) =>
      id -> s.filter(f => dfc(f) <= Winnow.DfCap) }
    val want = (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a < b
      sh = (kept(a) & kept(b)).size if sh >= Winnow.MinShared
    } yield (a, b) -> (sh.toLong, sets(a).size.toLong, sets(b).size.toLong,
      sh.toLong * 1000000L / math.min(sets(a).size, sets(b).size))).toMap
    assert(got === want)
    // the clone cluster is fully detected, nothing else
    assert(got.keySet === (for (a <- 1L to 4L; b <- 1L to 4L if a < b)
      yield (a, b)).toSet)
    got.values.foreach { case (_, _, _, cont) => assert(cont > 500000L) }
  }

  test("q122: fingerprints hotter than DfCap never create pairs") {
    val rnd = new scala.util.Random(1222)
    val boiler = rnd.alphanumeric.take(40).mkString
    // DfCap+4 docs share ONE boilerplate chunk; each body is unique
    // noise, so the only shared fingerprints are boilerplate-hot and
    // must be dropped before the pair join
    val docs = (1L to (Winnow.DfCap + 4).toLong).map(id =>
      (id, s"${rnd.alphanumeric.take(200).mkString} $boiler"))
    val got = Winnow.clonePairs(docs.toSeq.toDF("doc_id", "text")).collect()
    assert(got.isEmpty, got.mkString(","))
  }

  test("q189: window frontier — coverage at every w, nested monotonicity, q117 datum at w=4") {
    val d = Tables.load(spark, sf0001, "documents")
    val out = graft.operators.Winnow.winnowFrontier(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq(2L, 4L, 8L))
    assert(out.forall(r => r._2 === r._1 + K - 1))
    assert(out.map(_._3).distinct.length === 1, "n_grams w-independent")
    // a (w+1)-window minimum is a minimum of a contained w-window:
    // selections NEST, so counts are monotone non-increasing in w
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 >= b._4 && a._5 >= b._5, s"nested: $a vs $b") }
    // density replay + the 2/(w+1) expectation within 2% on this
    // corpus (the hash stream is effectively uniform)
    out.foreach { r =>
      assert(r._6 === 1000000L * r._4 / math.max(r._3, 1L))
      assert(math.abs(r._6 - r._7) < r._7 / 50, s"density vs expected: $r")
    }
    // the w=4 row IS the q117 gate's total fingerprint count
    val q117 = graft.operators.Winnow
      .queries("q117_winnow_fingerprints")(spark, sf0001).collect()
      .map(_.getLong(2)).sum
    assert(out.find(_._1 == 4L).get._4 === q117)
    // SIGMOD'03 coverage at EVERY w: each w-window of gram positions
    // contains a selected position (brute-checked per document)
    val grams = graft.operators.Winnow.gramFps(d).cut("WinnowSpec: gram fingerprints")
    Seq(2, 4, 8).foreach { ww =>
      val selByDoc = graft.operators.Winnow.selectedOver(grams, ww)
        .collect().map(r => (r.getLong(0), r.getInt(2)))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      val ngByDoc = grams.select("doc_id", "ng").distinct().collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      ngByDoc.foreach { case (id, ng) =>
        if (ng >= ww) {
          val sel = selByDoc.getOrElse(id, Set.empty)
          (1 to ng - ww + 1).foreach { i =>
            assert((i until i + ww).exists(sel.contains),
              s"doc $id w=$ww window at $i uncovered")
          }
        }
      }
    }
  }

  test("corpus invariants: selections per doc bounded by window count") {
    val prof = Winnow.fingerprintProfile(
      Tables.load(spark, sf0001, "documents"))
      .collect()
    assert(prof.nonEmpty)
    prof.foreach { r =>
      val (ng, nFp, nDist, nShared) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val nWin = math.max(ng - W + 1, 0L)
      // every full window selects a position; a position covers at
      // most W windows
      assert(nFp <= nWin)
      assert(nFp * W >= nWin)
      assert(nDist <= nFp && nShared <= nDist)
    }
  }
}
