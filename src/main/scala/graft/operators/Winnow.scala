package graft.operators

import graft.Cut._
import graft.Tables
import graft.functions.SplitMix64
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
  * SIGMOD 2003 — the MOSS local fingerprinting algorithm): hash every
  * normalized character k-gram, slide a w-gram window, and keep the
  * rightmost minimal hash of each window. The selected (position,
  * hash) set is the document's fingerprint — any substring match of
  * at least k + w - 1 normalized characters between two documents is
  * guaranteed to share a fingerprint, at ~2/(w+1) the density of the
  * full k-gram set. The brief's "document fingerprinting (rolling
  * hash)" operator; the reference corpus layer
  * (/root/reference/src/cosmap/analysis/runner.py) has no text
  * fingerprinting at all.
  *
  * Relational formulation: a position p is the rightmost minimum of
  * SOME length-w window iff for some offset o in [0, w):
  *   - the window [p-o, p-o+w-1] lies inside the gram range, and
  *   - fp[p] <= every hash in the o rows left of p, and
  *   - fp[p] <  every hash in the w-1-o rows right of p.
  * All 2(w-1) frame minima share one (doc, pos) sort, so the whole
  * selection runs after a SINGLE doc-keyed exchange — no self-join,
  * no per-window explode. The per-gram hash is the poly-31/splitmix64
  * kernel recomputed per k-gram (O(k)=8 per position instead of a
  * stateful O(1) rolling update — the price of staying inside
  * whole-stage codegen, and k is a constant).
  *
  * Cross-engine exactness: hashes are compared and emitted as the
  * top-53-bit value (`>>> 11`), the domain both engines state
  * identically (signed long here, HUGEINT in [0, 2^64) there — the
  * q96/q101 pattern); everything downstream is integer counting.
  *
  * Scale shape (100 TB posture): one map-side explode to gram
  * positions; ONE doc-keyed window exchange for the selection; the
  * (doc, fp) distinct, the fp-keyed document-frequency window and the
  * per-doc aggregations are all linear keyed shuffles. The cross-doc
  * signal is per-FINGERPRINT document frequency joined back per doc
  * (inverted-index family) — never a doc-pair join, so a boilerplate
  * fingerprint shared by 10M documents costs 10M rows, not 10M².
  */
object Winnow {
  type Q = (SparkSession, String) => DataFrame

  /** k-gram length in normalized characters. */
  private[graft] val K = 8

  /** Winnow window: k-grams per window. Guarantee threshold t = K +
    * WinnowW - 1 = 11 normalized chars. */
  private[graft] val WinnowW = 4

  val queries: Map[String, Q] = Map(
    // -- per-document winnowed fingerprint profile + cross-corpus
    //    sharing counts (n_shared_fp > 0 flags likely clones /
    //    boilerplate carriers; fp_xor is the order-independent
    //    fingerprint-set checksum two engines can compare) --
    "q117_winnow_fingerprints" -> { (s, dir) =>
      fingerprintProfile(Tables.load(s, dir, "documents"))
    },

    // -- q122 clone-pair extraction, the MOSS match step: document
    //    pairs sharing >= MinShared winnowed fingerprints, scored by
    //    fingerprint containment. Fingerprints hotter than DfCap
    //    documents are dropped BEFORE the pair join (they are
    //    boilerplate, not clone evidence — and q97/q99 already handle
    //    boilerplate as spans), which bounds the per-key fan-out so
    //    candidate pairs stay <= DfCap x corpus — linear, never the
    //    10M^2 a shared header would otherwise pay. --
    // -- q189 (round 12): the winnowing WINDOW frontier — per
    //    w ∈ {2,4,8}, fingerprints stored vs the detection guarantee
    //    (min match length w+K−1) vs the measured density beside the
    //    2/(w+1) expectation. One gram-hash pass feeds every window
    //    size. --
    "q189_winnow_frontier" -> { (s, dir) =>
      winnowFrontier(Tables.load(s, dir, "documents"))
    },

    "q122_winnow_clones" -> { (s, dir) =>
      clonePairs(Tables.load(s, dir, "documents"))
    },
  )

  /** q122: document-frequency cap for pair-join fingerprints and the
    * minimum shared-fingerprint evidence, shared with the oracle. */
  private[graft] val DfCap = 32

  /** Minimum shared fingerprints to call a pair clone evidence.
    * Calibrated on the corpus's measured sharing distribution: at
    * sf0.1 the n_shared quantiles are p50=2, p99=4, p99.9=19 — the
    * cliff between incidental 11-char phrase sharing and true
    * near-duplication sits well below 8. */
  private[graft] val MinShared = 8

  /** Clone pairs over any documents-shaped frame: (doc_a, doc_b,
    * n_shared, n_a, n_b, containment_ppm). */
  private[graft] def clonePairs(d: DataFrame): DataFrame = {
    // distinct fingerprint sets with document frequency, materialized
    // once (referenced by the per-doc sizes and BOTH pair-join sides)
    val sdw = selected(d).select(col("doc_id"), col("fp")).distinct()
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .cut("Winnow.clonePairs: fingerprint sets")
    val perDoc = sdw.groupBy(col("doc_id")).agg(count(lit(1)).as("nd"))
    val keep = sdw.where(col("df") <= DfCap)
    val pairs = keep.select(col("fp"), col("doc_id").as("doc_a"))
      .join(keep.select(col("fp"), col("doc_id").as("doc_b"))
        .hint("shuffle_merge"), Seq("fp"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= MinShared)
    pairs
      .join(perDoc.select(col("doc_id").as("doc_a"), col("nd").as("n_a"))
        .hint("shuffle_merge"), "doc_a")
      .join(perDoc.select(col("doc_id").as("doc_b"), col("nd").as("n_b"))
        .hint("shuffle_merge"), "doc_b")
      .selectExpr("doc_a", "doc_b", "n_shared", "n_a", "n_b",
        "n_shared * 1000000 div least(n_a, n_b) AS containment_ppm")
  }

  /** MOSS-style normalization: case-folded alphanumerics only. */
  private def normText(c: Column): Column =
    regexp_replace(lower(c), "[^a-z0-9]", "")

  /** The (doc_id, ng, p, fp) gram-fingerprint stream — window-size
    * INDEPENDENT, so the q189 frontier derives it once and applies
    * every window size to the same frame. */
  private[graft] def gramFps(d: DataFrame): DataFrame =
    d.select(col("doc_id"), normText(col("text")).as("nm"))
      .select(col("doc_id"), col("nm"),
        (length(col("nm")) - lit(K - 1)).as("ng"))
      .select(col("doc_id"), col("ng"), col("nm"),
        explode(when(col("ng") >= 1, sequence(lit(1), col("ng")))
          .otherwise(array().cast("array<int>"))).as("p"))
      .select(col("doc_id"), col("ng"), col("p"),
        shiftrightunsigned(
          SplitMix64.strHash(col("nm").substr(col("p"), lit(K))), 11)
          .as("fp"))

  /** Winnow selection over a gram-fingerprint frame at window size
    * `ww` — the leftmost-minimum rule as window minima (robust
    * winnowing, Schleimer/Wilkerson/Aiken SIGMOD'03). */
  private[graft] def selectedOver(grams: DataFrame, ww: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    def lmin(o: Int): Column = min(col("fp")).over(w.rowsBetween(-o, -1))
    def rmin(j: Int): Column = min(col("fp")).over(w.rowsBetween(1, j))
    val sel = (0 until ww).map { o =>
      val rightN = ww - 1 - o
      val leftOk =
        if (o == 0) lit(true) else col("p") > o && col("fp") <= lmin(o)
      val rightOk =
        if (rightN == 0) lit(true) else col("fp") < rmin(rightN)
      leftOk && col("p") <= col("ng") - rightN && rightOk
    }.reduce(_ || _)
    grams.withColumn("sel", sel).where(col("sel"))
      .select(col("doc_id"), col("ng"), col("p"), col("fp"))
  }

  /** Selected fingerprints, one row per winnow-selected gram position:
    * (doc_id, ng, p, fp). Exposed for the spec's brute-force replay. */
  private[graft] def selected(d: DataFrame): DataFrame =
    selectedOver(gramFps(d), WinnowW)

  /** q189's window grid (4 is the q117/q122 gate config). The
    * guarantee trade a MOSS deployment tunes: window w detects any
    * match of length ≥ w + K − 1 while storing an expected 2/(w+1)
    * of the grams. */
  private[graft] val WinnowGrid = Seq(2, 4, 8)

  /** q189: the winnowing WINDOW frontier — the fingerprint-storage
    * decision table. Per w ∈ {2, 4, 8}: fingerprints selected,
    * distinct hashes, the measured density (selected per gram, ppm)
    * beside the theoretic expectation 2/(w+1), and the detection
    * guarantee each w buys (min match length w + K − 1). Structural
    * invariants the spec pins: selected counts are monotone
    * NON-INCREASING in w (a window-(w+1) minimum is a window-w
    * minimum... the reverse — every w'-selection with w' > w is NOT
    * nested, but every w-window must contain a selection, so density
    * can only fall as w grows on the same hash stream), and every
    * w-length window of every document contains ≥ 1 selected position
    * (the SIGMOD'03 correctness property, brute-checked). Scale
    * shape: the gram-fingerprint stream derives ONCE (checkpointed);
    * each w adds only its window pass over the SAME doc-keyed
    * exchange; every frontier row reads a 1-row aggregate. */
  private[graft] def winnowFrontier(d: DataFrame): DataFrame = {
    val grams = gramFps(d).cut("Winnow.winnowFrontier: grams")
    val tot = grams.agg(count(lit(1)).as("n_grams")).cut("Winnow.winnowFrontier: gram total")
    val rows = WinnowGrid.map { ww =>
      val sel = selectedOver(grams, ww).cut("Winnow.winnowFrontier: selected fingerprints")
      val agg = sel.agg(count(lit(1)).as("n_selected"),
        countDistinct(col("fp")).as("n_distinct_fp"))
      agg.crossJoin(tot)
        .select(lit(ww.toLong).as("window"),
          lit((ww + K - 1).toLong).as("min_match_detected"),
          col("n_grams"), col("n_selected"), col("n_distinct_fp"),
          expr("(1000000L * n_selected) div greatest(n_grams, 1L)")
            .as("density_ppm"),
          lit(2000000L / (ww + 1)).as("expected_density_ppm"))
    }
    rows.reduce(_.unionByName(_))
  }

  /** Per-document profile: gram/fingerprint counts, distinct hashes,
    * fingerprints shared with at least one other document, and the
    * xor checksum of the distinct fingerprint set. */
  private[graft] def fingerprintProfile(d: DataFrame): DataFrame = {
    // the winnow selection feeds two aggregations — materialize once
    // (the house rule for inputs referenced more than once)
    val sel = selected(d).cut("Winnow.fingerprintProfile: selected fingerprints")
    val perDoc = sel.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"))
    // distinct fingerprint set per doc; document frequency rides an
    // fp-keyed window on the SAME table (no self-join, one exchange)
    val distStats = sel.select(col("doc_id"), col("fp")).distinct()
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct_fp"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared_fp"),
        expr("bit_xor(fp)").as("fp_xor"))
    d.select(col("doc_id"),
        greatest(length(normText(col("text"))) - lit(K - 1), lit(0))
          .cast("long").as("n_grams"))
      // both per-doc aggregates scale with the corpus — never broadcast
      .join(perDoc.hint("shuffle_merge"), Seq("doc_id"), "left")
      .join(distStats.hint("shuffle_merge"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        coalesce(col("n_distinct_fp"), lit(0L)).as("n_distinct_fp"),
        coalesce(col("n_shared_fp"), lit(0L)).as("n_shared_fp"),
        coalesce(col("fp_xor"), lit(0L)).as("fp_xor"))
  }

  // ---- generated oracle (code-built from the same K/W constants —
  //      the q83/q105 playbook) --------------------------------------

  /** The window-size-independent fingerprint chain (normalize →
    * grams → hashes), ending at `fps(doc_id, ng, p, fp)` MATERIALIZED
    * — shared by all three oracles (q189 references it once per
    * window size plus the totals row). */
  private def fpCtes: String =
    s"""WITH nm AS (
       |  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS nm
       |  FROM documents),
       |bs AS (SELECT doc_id, nm, length(nm) - ${K - 1} AS ng FROM nm),
       |ps AS (
       |  SELECT doc_id, nm, ng,
       |    unnest(generate_series(1, greatest(ng, 0))) AS p
       |  FROM bs),
       |gr AS (SELECT doc_id, ng, p, nm[p : p + ${K - 1}] AS g FROM ps),
       |h0 AS (SELECT doc_id, ng, p, ${SplitMix64.polyHashSql("g")} AS h FROM gr),
       |fps AS MATERIALIZED (SELECT doc_id, ng, p, CAST((${SplitMix64.mixSql("h")}) >> 11 AS BIGINT) AS fp FROM h0)"""
      .stripMargin

  /** Name-prefixed winnow-selection chain over `fps` at window size
    * `ww` — the leftmost-minimum rule as per-offset window minima,
    * ending at `<p>sel(doc_id, p, fp)`. */
  private def selFromFps(p: String, ww: Int): String = {
    val lcols = (1 until ww).map(o =>
      s"    min(fp) OVER (PARTITION BY doc_id ORDER BY p ROWS BETWEEN " +
        s"$o PRECEDING AND 1 PRECEDING) AS l$o").mkString(",\n")
    val rcols = (1 until ww).map(j =>
      s"    min(fp) OVER (PARTITION BY doc_id ORDER BY p ROWS BETWEEN " +
        s"1 FOLLOWING AND $j FOLLOWING) AS r$j").mkString(",\n")
    val minCols = Seq(lcols, rcols).filter(_.nonEmpty).mkString(",\n")
    val conds = (0 until ww).map { o =>
      val rightN = ww - 1 - o
      val left = if (o == 0) "" else s"p > $o AND fp <= l$o AND "
      val right = if (rightN == 0) "" else s" AND fp < r$rightN"
      s"(${left}p <= ng - $rightN$right)"
    }.mkString("\n     OR ")
    s"""${p}wn AS (
       |  SELECT doc_id, ng, p, fp,
       |$minCols
       |  FROM fps),
       |${p}sel AS (
       |  SELECT doc_id, p, fp FROM ${p}wn
       |  WHERE $conds)""".stripMargin
  }

  /** The shared selection CTE chain at the gate window size, reused
    * by the q117/q122 oracles (prefix "" keeps their original CTE
    * names). */
  private def selCtes: String =
    s"""$fpCtes,
       |${selFromFps("", WinnowW)}""".stripMargin

  /** q189: the shared fingerprint chain once, per-window prefixed
    * selection chains generated from the same grid, per-w scalar
    * rows. */
  private def oracle189: String = {
    val chains = WinnowGrid.zipWithIndex
      .map { case (ww, i) => selFromFps(s"g$i", ww) }
    val rows = WinnowGrid.zipWithIndex.map { case (ww, i) =>
      s"""SELECT CAST($ww AS BIGINT) AS window,
         |  CAST(${ww + K - 1} AS BIGINT) AS min_match_detected,
         |  (SELECT n_grams FROM tot) AS n_grams,
         |  (SELECT CAST(count(*) AS BIGINT) FROM g${i}sel) AS n_selected,
         |  (SELECT CAST(count(DISTINCT fp) AS BIGINT) FROM g${i}sel)
         |    AS n_distinct_fp,
         |  CAST((1000000 * (SELECT count(*) FROM g${i}sel))
         |    // greatest((SELECT n_grams FROM tot), 1) AS BIGINT)
         |    AS density_ppm,
         |  CAST(${2000000L / (ww + 1)} AS BIGINT) AS expected_density_ppm"""
        .stripMargin
    }
    s"""$fpCtes,
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_grams FROM fps),
       |${chains.mkString(",\n")}
       |${rows.mkString("\nUNION ALL\n")}""".stripMargin
  }

  private def oracle117: String =
    s"""$selCtes,
       |sd AS (SELECT DISTINCT doc_id, fp FROM sel),
       |dfq AS (SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM sd),
       |per AS (SELECT doc_id, count(*) AS n_fp FROM sel GROUP BY doc_id),
       |ds AS (
       |  SELECT doc_id, count(*) AS n_distinct_fp,
       |    sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS n_shared_fp,
       |    bit_xor(fp) AS fp_xor
       |  FROM dfq GROUP BY doc_id)
       |SELECT b.doc_id,
       |  CAST(greatest(b.ng, 0) AS BIGINT) AS n_grams,
       |  CAST(coalesce(n_fp, 0) AS BIGINT) AS n_fp,
       |  CAST(coalesce(n_distinct_fp, 0) AS BIGINT) AS n_distinct_fp,
       |  CAST(coalesce(n_shared_fp, 0) AS BIGINT) AS n_shared_fp,
       |  CAST(coalesce(fp_xor, 0) AS BIGINT) AS fp_xor
       |FROM bs b
       |LEFT JOIN per USING (doc_id)
       |LEFT JOIN ds USING (doc_id)""".stripMargin

  private def oracle122: String =
    s"""$selCtes,
       |sd AS (SELECT DISTINCT doc_id, fp FROM sel),
       |dfq AS (SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM sd),
       |perd AS (SELECT doc_id, count(*) AS nd FROM sd GROUP BY doc_id),
       |keep AS (SELECT doc_id, fp FROM dfq WHERE df <= $DfCap),
       |pr AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
       |  FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |fl AS (SELECT * FROM pr WHERE n_shared >= $MinShared)
       |SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
       |  CAST(na.nd AS BIGINT) AS n_a, CAST(nb.nd AS BIGINT) AS n_b,
       |  CAST(n_shared * 1000000 // least(na.nd, nb.nd) AS BIGINT) AS containment_ppm
       |FROM fl
       |JOIN perd na ON na.doc_id = fl.doc_a
       |JOIN perd nb ON nb.doc_id = fl.doc_b""".stripMargin

  val oracles: Map[String, String] = Map(
    "q117_winnow_fingerprints" -> oracle117,
    "q122_winnow_clones" -> oracle122,
    "q189_winnow_frontier" -> oracle189,
  )
}
