package graft.operators

import graft.Cut._
import graft.Tables
import graft.functions.{SplitMix64, Text}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** q146/q147 — the text→vector bridge: a DERIVED document embedding
  * built by signed feature hashing (Weinberger et al. ICML 2009,
  * "Feature Hashing for Large Scale Multitask Learning" — the
  * HashingVectorizer of scikit-learn/Vowpal Wabbit) with integer
  * tf·idf weights, and brute-force cosine retrieval OVER those
  * derived vectors. Until now every vector operator (q47–q49, q82–
  * q87, q94 family, q102, q113, q116, q118, q129, q132) consumed the
  * pre-made synthetic `embeddings` table; this pair closes the loop
  * the brief's training-data mandate implies: documents → vectors →
  * similarity, all inside the engine, no external encoder.
  *
  *  - q146: sparse vectors as (doc_id, dim, v) rows — dim =
  *    (splitmix64(token) >>> 11) % 64, sign = bit 10 of the same
  *    hash (the signed-hashing trick that makes collisions cancel in
  *    expectation instead of biasing upward), v = Σ sign·tf·idf with
  *    idf = round(ln(N/df)·1000) integer MILLI-nats. Milli (not the
  *    house micro) is load-bearing: it caps |v| ≤ ~5·10⁵ so every
  *    norm/dot partial stays under 2⁵³ — exactly representable in
  *    DOUBLE, which is what makes q147's cosine IEEE-exact
  *    cross-engine (sqrt + division are exact; the inputs must be
  *    too).
  *  - q147: top-5 cosine neighbors for a fixed 4-doc query panel,
  *    computed SPARSELY — dot products are a dim-keyed join + sum
  *    (absent dims contribute 0), never a dense-array zip. The shape
  *    every sparse IR system uses, and the q82-style brute-force
  *    baseline for the derived space.
  *
  * Scale shape: q146 is two vocabulary-scale map-side-combined
  * groupBys + ONE token-keyed merge join (idf attach — the side
  * grows with the corpus, hinted off broadcast) + a (doc, dim)
  * groupBy. q147 rides the checkpointed q146 output: the panel side
  * (≤ 4·64 rows) broadcasts into the dim-keyed dot join, norms are
  * one doc-keyed groupBy, the top-5 window ships ≤ 5 rows per
  * partition (WindowGroupLimit). Integer sums throughout; the only
  * doubles are the final exact sqrt/division. */
object HashedVectors {
  type Q = (SparkSession, String) => DataFrame

  /** Vector dimensionality (the hash space). */
  private[operators] val Dims = 64

  /** q147's fixed query panel (the q94/q106 fixed-panel trade — a
    * growing query set takes the q94b route). */
  private[graft] val Panel = Seq(0L, 100L, 200L, 300L)

  /** Sparse signed-hashing tf·idf vectors: (doc_id, dim, v), zero
    * entries dropped. Exposed for q147 and the spec. */
  private[graft] def hashedVectors(d: DataFrame): DataFrame = {
    val occ = d.select(col("doc_id"),
      explode(Text.tokens(col("text"))).as("t"))
    // checkpointed: referenced by BOTH the df/idf chain and the
    // scoring join (the CLAUDE.md reused-input rule)
    val tf = occ.groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("tf")).cut("HashedVectors.hashedVectors: term frequencies")
    val dfTab = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val nd = d.agg(count(lit(1)).as("n"))
    val idf = dfTab.crossJoin(broadcast(nd))
      .select(col("t"),
        round(log(col("n").cast("double") / col("df").cast("double"))
          * 1000).cast("long").as("idf"))
    val h = SplitMix64.strHash(col("t"))
    tf.join(idf.hint("shuffle_merge"), "t")
      .select(col("doc_id"),
        (shiftrightunsigned(h, 11) % Dims).as("dim"),
        (when(shiftrightunsigned(h, 10).bitwiseAND(1) === 0, 1L)
          .otherwise(-1L) * col("tf") * col("idf")).as("c"))
      .groupBy(col("doc_id"), col("dim"))
      .agg(sum(col("c")).as("v"))
      .filter(col("v") =!= 0)
  }

  /** Sparse cosine top-k for the fixed panel over [[hashedVectors]]
    * output (or any (doc_id, dim, v) frame). All dot/norm sums are
    * integers < 2⁵³; the cosine is one exact sqrt+division tree,
    * round-6 per the q47 contract. */
  private[graft] def panelTopK(vecs: DataFrame, k: Int): DataFrame = {
    val panel = vecs.filter(col("doc_id").isin(Panel: _*))
      .select(col("doc_id").as("q_id"), col("dim"), col("v").as("qv"))
    val norms = vecs.groupBy(col("doc_id")).agg(sum(col("v") * col("v")).as("n2"))
    val qnorms = norms.filter(col("doc_id").isin(Panel: _*))
      .select(col("doc_id").as("q_id"), col("n2").as("qn2"))
    val dots = vecs.join(broadcast(panel), "dim")
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("v") * col("qv")).as("dot"))
    val cos = dots
      .join(norms.hint("shuffle_merge"), "doc_id")
      .join(broadcast(qnorms), "q_id")
      .select(col("q_id"), col("doc_id"),
        round(col("dot").cast("double") /
          (sqrt(col("n2").cast("double")) * sqrt(col("qn2").cast("double"))), 6)
          .as("cos_sim"))
    cos.withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Dense (vec_id, label, embedding) form of [[hashedVectors]] —
    * the EXACT shape the q94/q102 ANN ladder consumes, so the
    * engine's own derived vectors ride the existing retrieval
    * operators unchanged. Order-independent by construction (the
    * sparse rows fold through a MAP, not a collected list), and
    * every value is an integer < 2²⁴ — exactly representable in
    * FLOAT, so the ladder's cosine math sees bit-identical inputs on
    * both engines. */
  /** FLOAT-exactness bound for [[denseVectors]]: integers with
    * |v| < 2²⁴ are exactly representable in FLOAT. */
  private[graft] val FloatExactBound = 1L << 24

  /** Runtime guard for the FLOAT cast: v = Σ sign·tf·idf is
    * corpus-dependent (a doc repeating one rare token enough times at
    * a high idf could exceed 2²⁴), so the bound is ASSERTED per sparse
    * row rather than assumed — a violation fails the query loudly
    * instead of silently diverging from the DOUBLE-typed oracle
    * (round-8 advice #1). One branch per sparse row, map-side. */
  private[graft] def floatExactGuard(v: Column): Column =
    when(abs(v) < FloatExactBound, v).otherwise(
      expr(s"raise_error('denseVectors: |v| >= 2^24 breaks the " +
        s"FLOAT-exact contract; cast to DOUBLE on both sides')")
        .cast("long"))

  private[graft] def denseVectors(d: DataFrame): DataFrame =
    hashedVectors(d)
      .select(col("doc_id"), col("dim"), floatExactGuard(col("v")).as("v"))
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("dim"), col("v"))))
        .as("m"))
      .select(col("doc_id").as("vec_id"), lit(0).as("label"),
        expr(s"""transform(sequence(0, ${Dims - 1}),
                |  i -> CAST(coalesce(element_at(m, CAST(i AS BIGINT)), 0L)
                |    AS FLOAT))""".stripMargin).as("embedding"))

  val queries: Map[String, Q] = Map(
    "q146_hashed_doc_vectors" -> { (s, dir) =>
      hashedVectors(Tables.load(s, dir, "documents"))
    },
    "q147_hashed_vector_topk" -> { (s, dir) =>
      panelTopK(
        hashedVectors(Tables.load(s, dir, "documents"))
          .cut("HashedVectors.q147_hashed_vector_topk: doc vectors"),
        k = 5)
    },

    // -- the derived vectors through the EXISTING ANN ladder (round
    //    8): q146's hashed embeddings densified and fed to the q94b
    //    adaptive-IVF kNN join UNCHANGED — documents → vectors → IVF
    //    retrieval end-to-end inside the engine, no synthetic
    //    embedding table anywhere in the chain. Cell model and probe
    //    rule are q94b's verbatim (Centroids94 prefix, argmax-cosine
    //    assignment, top-6 probe cells, round-6 re-rank). --
    "q151_hashed_vector_ivf" -> { (s, dir) =>
      // spread before the cut: AQE coalesces the tiny dense-vector
      // aggregate to very few partitions and the cut would freeze
      // that, so the per-row 64-cosine assignment + candidate join
      // would run nearly serial. The spread's explicit partition count
      // is not coalesced, so the cut carries one partition per core.
      val e = Tables.spread(denseVectors(Tables.load(s, dir, "documents")),
          col("vec_id"))
        .cut("HashedVectors.q151_hashed_vector_ivf: dense vectors")
      Similarity.knnJoinQuery(e,
        Centroids94.table.take(Similarity.adaptiveCells(e.count())))
    },
  )

  // ---- generated DuckDB oracles (same hash constants) --------------

  private def vectorCtes(src: String): String = {
    val ph = SplitMix64.polyHashSql("t")
    val mx = SplitMix64.mixSql("p")
    s"""tok AS (
       |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS t
       |  FROM $src),
       |tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY doc_id, t),
       |dfx AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
       |nd AS (SELECT count(*) AS n FROM $src),
       |idf AS (
       |  SELECT t, CAST(round(ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE))
       |    * 1000) AS BIGINT) AS idf
       |  FROM dfx, nd),
       |hx AS (SELECT t, $ph AS p FROM (SELECT DISTINCT t FROM tf)),
       |hm AS (
       |  SELECT t, CAST((($mx) >> 11) % $Dims AS BIGINT) AS dim,
       |    CASE WHEN (($mx) >> 10) % 2 = 0 THEN 1 ELSE -1 END AS sg
       |  FROM hx),
       |vecs AS MATERIALIZED (
       |  SELECT doc_id, dim, CAST(sum(sg * tf * idf) AS BIGINT) AS v
       |  FROM tf JOIN idf USING (t) JOIN hm USING (t)
       |  GROUP BY doc_id, dim
       |  HAVING sum(sg * tf * idf) <> 0)""".stripMargin
  }

  private def oracle146: String =
    s"""WITH ${vectorCtes("documents")}
       |SELECT doc_id, dim, v FROM vecs""".stripMargin

  private def oracle147: String = {
    val panel = Panel.mkString(", ")
    s"""WITH ${vectorCtes("documents")},
       |pv AS (SELECT doc_id AS q_id, dim, v AS qv FROM vecs
       |  WHERE doc_id IN ($panel)),
       |norms AS (SELECT doc_id, CAST(sum(v * v) AS BIGINT) AS n2
       |  FROM vecs GROUP BY doc_id),
       |dots AS (
       |  SELECT q_id, doc_id, CAST(sum(v * qv) AS BIGINT) AS dot
       |  FROM vecs JOIN pv USING (dim)
       |  WHERE doc_id <> q_id
       |  GROUP BY q_id, doc_id),
       |cosx AS (
       |  SELECT q_id, d.doc_id,
       |    round(CAST(dot AS DOUBLE) /
       |      (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(qn.n2 AS DOUBLE))), 6)
       |      AS cos_sim
       |  FROM dots d
       |  JOIN norms n ON d.doc_id = n.doc_id
       |  JOIN norms qn ON d.q_id = qn.doc_id)
       |SELECT q_id, doc_id, cos_sim, CAST(rank AS BIGINT) AS rank
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos_sim DESC, doc_id) AS rank
       |  FROM cosx)
       |WHERE rank <= 5""".stripMargin
  }

  /** q151's oracle: the q146 vector chain densified (sparse rows
    * fold through a MAP — order-independent), then the q94b adaptive
    * oracle body VERBATIM over the derived table (same Centroids94
    * literals, count ladder, probe rule and round-6 re-rank). */
  private def oracle151: String = {
    val dense =
      s"""${vectorCtes("documents")},
         |dm AS (
         |  SELECT doc_id, map(list(dim ORDER BY dim), list(v ORDER BY dim)) AS m
         |  FROM vecs GROUP BY doc_id),
         |dense AS MATERIALIZED (
         |  SELECT doc_id AS vec_id, 0 AS label,
         |    list_transform(generate_series(0, ${Dims - 1}),
         |      i -> CAST(coalesce(map_extract(m, CAST(i AS BIGINT))[1], 0)
         |        AS DOUBLE)) AS embedding
         |  FROM dm),
         |""".stripMargin
    Similarity.oracle94Adaptive("6", src = "dense", pre = dense)
  }

  val oracles: Map[String, String] = Map(
    "q146_hashed_doc_vectors" -> oracle146,
    "q147_hashed_vector_topk" -> oracle147,
    "q151_hashed_vector_ivf" -> oracle151,
  )
}
