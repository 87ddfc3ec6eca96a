package graft.operators

import graft.Cut._
import graft.Tables
import graft.functions.NormQuant
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding domain-shift audit — the per-domain centroid drift
  * matrix a curation pipeline watches when mixing sources: how far
  * apart the domains sit in embedding space, which pair is closest
  * (mix candidates), which dimension separates them most (probe for
  * a collapsed/rogue feature). The reference's analysis layer
  * (/root/reference/src/cosmap/analysis/runner.py) has no
  * cross-domain statistics — this extends the engine per the brief's
  * training-data mandate.
  *
  *  - q108 pairwise label-centroid distances: embeddings are
  *    unit-normalized and micro-quantized (the q106 fused kernel, so
  *    drift measures direction, not magnitude), per-label integer
  *    centroids are floor-divided means, and each label pair gets
  *    the squared L2 distance and the max per-dimension gap.
  *
  * Cross-engine exactness: quantization is the shared kernel/round()
  * contract; centroid sums are integer; the floor division is made
  * engine-agnostic by SHIFTING each coordinate by +1e6 before the
  * mean — sums become non-negative, where truncating (Spark `div`)
  * and flooring (DuckDB `//`) division agree, and the constant shift
  * cancels in every centroid DIFFERENCE (floor(S/n + 1e6) =
  * floor(S/n) + 1e6). Distances are then pure integer arithmetic.
  *
  * Scale shape: one map-side explode (×64) + ONE keyed shuffle for
  * the (label, pos) aggregation (map-side partials — 64·|labels|
  * groups); the centroid table is dimension-sized, so the pair join
  * is a broadcast of a tiny frame; nothing downstream touches the
  * corpus again.
  */
object DriftAudit {
  type Q = (SparkSession, String) => DataFrame

  private[graft] val Shift = 1000000L

  val queries: Map[String, Q] = Map(
    "q108_label_drift" -> { (s, dir) =>
      driftMatrix(Tables.load(s, dir, "embeddings"))
    },

    // -- q121 lexical divergence matrix: pairwise Jensen-Shannon
    //    divergence between the sources' unigram distributions plus
    //    each source's token entropy — the LEXICAL analog of q108's
    //    embedding drift matrix, and the standard domain-similarity
    //    measure for transfer/mixing decisions (Ruder & Plank 2017
    //    used exactly JS over term distributions). --
    "q121_source_divergence" -> { (s, dir) =>
      divergenceMatrix(Tables.load(s, dir, "documents"))
    },
  )

  /** The dimension-sized (label, pos, c, n) centroid table — the one
    * corpus-touching job, exposed un-checkpointed so the plan guard
    * can pin its shape. */
  private[graft] def centroids(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(NormQuant(col("embedding"))))
      .select(col("label"), col("pos"),
        (col("col") + lit(Shift)).as("vs"))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("vs")).as("sv"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"), expr("sv div n").as("c"), col("n"))

  /** The pairwise centroid-drift matrix over any (label, embedding)
    * frame — exposed for the spec's synthetic-corpus proofs. */
  private[graft] def driftMatrix(e: DataFrame): DataFrame = {
      // materialize the tiny centroid table once: a self-join of the
      // un-cut frame would re-run the corpus aggregation per side
      val ct = centroids(e).cut("DriftAudit.driftMatrix: centroids")
      val a = ct.select(col("label").as("label_a"), col("pos"),
        col("c").as("ca"), col("n").as("n_a"))
      val b = ct.select(col("label").as("label_b"), col("pos"),
        col("c").as("cb"), col("n").as("n_b"))
      val d = col("ca") - col("cb")
      a.join(b, a("pos") === b("pos") && col("label_a") < col("label_b"))
        .groupBy(col("label_a"), col("label_b"), col("n_a"), col("n_b"))
        .agg(sum(d * d).as("l2sq"), max(abs(d)).as("max_dim_gap"))
  }

  /** q121: pairwise JS divergence + per-source entropy over any
    * (source, text) frame, in integer micro-nats.
    *
    * Cross-engine exactness: every per-token term (the JS integrand
    * and the entropy integrand) is quantized to micro-nats BEFORE the
    * integer summation (the q100/q103 rule), from the identical IEEE
    * op sequence on both engines. The mass of tokens present in only
    * ONE source of a pair is handled without a second join: shared
    * counts sum as INTEGERS (cab = Σ shared c_a), so the correction
    * (1 - cab/t_a)·ln 2 is a single exact-division + one quantized
    * transcendental — never an order-dependent double sum.
    *
    * Scale shape: the per-(source, token) count table is one keyed
    * groupBy, cut (three plan references, each an aggregate or a
    * broadcast join that re-shuffles anyway); the pair join is
    * token-keyed with per-key fan-out ≤ |sources| by construction
    * (the q98 argument); the |sources|-row totals and entropy dims
    * broadcast. Output is the |sources|² matrix. */
  private[graft] def divergenceMatrix(d: DataFrame): DataFrame = {
    import graft.functions.Text
    val cs = d.select(col("source"), explode(Text.tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .cut("DriftAudit.divergenceMatrix: source token counts")
    val ts = cs.groupBy(col("source")).agg(sum(col("c")).as("t"))
    val hs = cs.join(broadcast(ts), "source")
      .selectExpr("source",
        "CAST(round((CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) * " +
          "ln(CAST(t AS DOUBLE) / CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS hh")
      .groupBy(col("source")).agg(sum(col("hh")).as("h_unats"))
    def side(n: String): DataFrame = cs.join(broadcast(ts), "source")
      .select(col("source").as(s"source_$n"), col("w"),
        col("c").as(s"c$n"), col("t").as(s"t$n"))
    val pairs = side("a").join(side("b").hint("shuffle_merge"), Seq("w"))
      .where(col("source_a") < col("source_b"))
      .selectExpr("source_a", "source_b", "ca", "cb", "ta", "tb",
        "CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE) AS pa",
        "CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE) AS pb")
      .selectExpr("source_a", "source_b", "ca", "cb", "ta", "tb",
        "CAST(round((pa * ln(2 * pa / (pa + pb)) + " +
          "pb * ln(2 * pb / (pa + pb))) * 1000000) AS BIGINT) AS tw")
    pairs
      .groupBy(col("source_a"), col("source_b"), col("ta"), col("tb"))
      .agg(count(lit(1)).as("shared_types"), sum(col("tw")).as("tsum"),
        sum(col("ca")).as("cab"), sum(col("cb")).as("cba"))
      .selectExpr("source_a", "source_b", "shared_types",
        "(tsum + CAST(round((1.0 - CAST(cab AS DOUBLE) / CAST(ta AS DOUBLE))" +
          " * ln(2.0) * 1000000) AS BIGINT)" +
          " + CAST(round((1.0 - CAST(cba AS DOUBLE) / CAST(tb AS DOUBLE))" +
          " * ln(2.0) * 1000000) AS BIGINT)) div 2 AS js_unats")
      .join(broadcast(hs.select(col("source").as("source_a"),
        col("h_unats").as("h_a_unats"))), "source_a")
      .join(broadcast(hs.select(col("source").as("source_b"),
        col("h_unats").as("h_b_unats"))), "source_b")
      .select(col("source_a"), col("source_b"), col("shared_types"),
        col("js_unats"), col("h_a_unats"), col("h_b_unats"))
  }

  val oracles: Map[String, String] = Map(
    "q108_label_drift" -> {
      val nrm = "sqrt(" + (1 to 64).map(i =>
        s"CAST(embedding[$i] AS DOUBLE) * CAST(embedding[$i] AS DOUBLE)")
        .mkString(" + ") + ")"
      s"""WITH nn AS (SELECT label, embedding, $nrm AS nrm FROM embeddings),
         |qv AS (
         |  SELECT label, CAST(i - 1 AS INTEGER) AS pos,
         |    CAST(round(CAST(embedding[i] AS DOUBLE) / nrm * 1000000.0) AS BIGINT)
         |      + $Shift AS vs
         |  FROM nn, (SELECT unnest(generate_series(1, 64)) AS i) ii),
         |ct AS (
         |  SELECT label, pos, CAST(sum(vs) // count(*) AS BIGINT) AS c,
         |    count(*) AS n
         |  FROM qv GROUP BY label, pos)
         |SELECT a.label AS label_a, b.label AS label_b, a.n AS n_a, b.n AS n_b,
         |  CAST(sum((a.c - b.c) * (a.c - b.c)) AS BIGINT) AS l2sq,
         |  CAST(max(abs(a.c - b.c)) AS BIGINT) AS max_dim_gap
         |FROM ct a JOIN ct b ON a.pos = b.pos AND a.label < b.label
         |GROUP BY 1, 2, 3, 4""".stripMargin
    },

    "q121_source_divergence" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split_regex(text, '\s+')) AS w
        |  FROM documents),
        |cs AS (SELECT source, w, count(*) AS c FROM tok GROUP BY source, w),
        |ts AS (SELECT source, sum(c) AS t FROM cs GROUP BY source),
        |hs AS (
        |  SELECT source,
        |    sum(CAST(round((CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) *
        |      ln(CAST(t AS DOUBLE) / CAST(c AS DOUBLE)) * 1000000) AS BIGINT)) AS h
        |  FROM cs JOIN ts USING (source) GROUP BY source),
        |pr AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    a.c AS ca, b.c AS cb, ta.t AS ta, tb.t AS tb,
        |    CAST(a.c AS DOUBLE) / CAST(ta.t AS DOUBLE) AS pa,
        |    CAST(b.c AS DOUBLE) / CAST(tb.t AS DOUBLE) AS pb
        |  FROM cs a JOIN cs b ON a.w = b.w AND a.source < b.source
        |  JOIN ts ta ON ta.source = a.source
        |  JOIN ts tb ON tb.source = b.source),
        |tw AS (
        |  SELECT source_a, source_b, ta, tb, ca, cb,
        |    CAST(round((pa * ln(2 * pa / (pa + pb)) +
        |      pb * ln(2 * pb / (pa + pb))) * 1000000) AS BIGINT) AS tw
        |  FROM pr),
        |ag AS (
        |  SELECT source_a, source_b, ta, tb, count(*) AS shared_types,
        |    sum(tw) AS tsum, sum(ca) AS cab, sum(cb) AS cba
        |  FROM tw GROUP BY source_a, source_b, ta, tb)
        |SELECT source_a, source_b,
        |  CAST(shared_types AS BIGINT) AS shared_types,
        |  CAST((tsum
        |    + CAST(round((1.0 - CAST(cab AS DOUBLE) / CAST(ta AS DOUBLE))
        |        * ln(2.0) * 1000000) AS BIGINT)
        |    + CAST(round((1.0 - CAST(cba AS DOUBLE) / CAST(tb AS DOUBLE))
        |        * ln(2.0) * 1000000) AS BIGINT)) // 2 AS BIGINT) AS js_unats,
        |  CAST(ha.h AS BIGINT) AS h_a_unats, CAST(hb.h AS BIGINT) AS h_b_unats
        |FROM ag
        |JOIN hs ha ON ha.source = ag.source_a
        |JOIN hs hb ON hb.source = ag.source_b""".stripMargin,
  )
}
