package graft.operators

import graft.Cut._
import graft.Tables
import graft.functions.Text
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q193 — the end-to-end dedup QUALITY benchmark (round-12 verdict
  * #2): every similarity family is priced against recall of a pair
  * truth set, and the pipelines are gated on exactness of their own
  * semantics — but a user comparing engines asks first "how well does
  * the whole dedup stack RECOVER duplicate clusters?". q193 answers
  * with a planted-cluster benchmark:
  *
  *  1. A planted corpus is derived deterministically from the
  *     documents table (the splitmix-style replay contract — both
  *     engines build the IDENTICAL corpus from the same rows): every
  *     5th doc with ≥ 24 tokens becomes a 4-variant cluster. Variant
  *     j ∈ 0..3 keeps the first n − k_j tokens and replaces the tail
  *     with junk tokens unique per (variant, position)
  *     ("x<vid>_<i>" — uniqueness by construction, no hashing
  *     needed), k_j = (n·j) div 12 — so intra-cluster shingle Jaccard
  *     sits ≈ 0.57–1.0 (above the 0.5 operating threshold) and junk
  *     tails never collide across clusters.
  *  2. Each family runs its FULL production stack over the planted
  *     corpus: candidate generation → exact verify (where the family
  *     has one) → connected-components clustering — the composed
  *     q44/q45/q79 + q69 machinery unchanged.
  *  3. Quality census from size tables only (never pair
  *     enumeration): planted pairs = Σ C(m,2) over planted clusters,
  *     recovered pairs = Σ C(m,2) over recovered clusters, correct
  *     pairs = Σ C(m,2) over (recovered × planted) groups — pair
  *     precision/recall in exact integer ppm.
  *
  * The families tell the story the frontier tables predict: exact
  * and MinHash-LSH recover the planted clusters perfectly (the q180
  * knee is lossless at this J), while simhash128's Hamming ≤ 3 ball
  * under-covers J ≈ 0.6 pairs (the q182 recall column) — yet cluster
  * recovery can exceed pair recall because clusters connect through
  * their easiest pairs (adjacent variants at J ≈ 0.85): transitivity
  * is the quality argument FOR CC clustering, measured.
  *
  * Scale shape: variant construction is one map pass (explode ×4) —
  * no shuffle; each family is its audited gate machinery; censuses
  * are cluster-keyed aggregates over label tables. Organic near-dups
  * between base docs legitimately MERGE planted clusters (recovered
  * pairs gain cross-cluster members → precision < 10⁶); both engines
  * replay the identical merge, and DedupQualitySpec isolates it on a
  * disjoint-vocabulary toy corpus (perfect recovery) plus a
  * separation sweep (recovery degrades monotonically as the junk
  * fraction grows — the documented failure mode). */
object DedupQuality {
  type Q = (SparkSession, String) => DataFrame

  /** Planted-cluster knobs, shared with the generated oracle: every
    * `BaseMod`-th doc with at least `MinTokens` tokens spawns
    * `VariantsPerBase` variants; variant j replaces its last
    * (n·j) div `SepDen` tokens. SepDen is the SEPARATION knob: larger
    * keeps variants closer (12 → ≤ 25% replaced, J ≥ ~0.57);
    * DedupQualitySpec sweeps it down to show recovery degrade. */
  private[graft] val BaseMod = 5L
  private[graft] val MinTokens = 24L
  private[graft] val VariantsPerBase = 4
  private[graft] val SepDen = 12

  /** The planted corpus: (doc_id = base·4 + j, text) — deterministic,
    * engine-replayable variant construction (see object doc). */
  private[graft] def plantedVariants(d: DataFrame,
      sepDen: Int = SepDen): DataFrame = {
    val base = d.filter(col("doc_id") % BaseMod === 0)
      .select(col("doc_id"), Text.tokens(col("text")).as("t"))
      .withColumn("n", size(col("t")).cast("long"))
      .filter(col("n") >= MinTokens)
    val v = base.select(col("doc_id"), col("t"), col("n"),
        explode(sequence(lit(0L), lit(VariantsPerBase - 1L))).as("j"))
      .withColumn("vid", col("doc_id") * VariantsPerBase + col("j"))
      .withColumn("k", expr(s"(n * j) div $sepDen"))
    // j = 0 is the unmodified base text; j > 0 keeps the first n − k
    // tokens and appends k junk tokens (k ≥ 2 whenever j > 0 at the
    // MinTokens floor, so the sequence() below never descends)
    val junk = transform(sequence(lit(1L), col("k")),
      i => concat(lit("x"), col("vid").cast("string"), lit("_"),
        i.cast("string")))
    // spread: the construction is map-side over the single-split
    // documents scan, so the frame (and the cuts consumers take of
    // it) would otherwise carry ONE partition — serializing every
    // family's shingle/signature/fingerprint pass in q193/q197/q201
    // on one core. A no-op at real scale and on the spec's in-memory
    // frames.
    Tables.spread(v.select(col("vid").as("doc_id"),
      when(col("j") === 0, concat_ws(" ", col("t")))
        .otherwise(concat_ws(" ",
          concat(slice(col("t"), lit(1), (col("n") - col("k")).cast("int")),
            junk))).as("text")), col("doc_id"))
  }

  /** One family's quality row from its pair set: CC-cluster the
    * pairs, complete singletons (their own cluster — the q149
    * convention), then the three size-table censuses. The pair frame
    * must be (doc_a, doc_b) over the planted corpus. */
  private[operators] def familyRow(family: String, corpus: DataFrame,
      pairs: DataFrame): DataFrame = {
    val labels = graft.dedup.ConnectedComponents.clusterLabels(pairs)
    val lab = corpus.select(col("doc_id"))
      .join(labels.hint("shuffle_merge"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cid"),
        // integer floor division, mirroring the oracle's `//` exactly
        // (double-divide-then-cast drifts above 2^53)
        expr(s"doc_id div $VariantsPerBase").as("pid"))
    def pairSum(g: DataFrame): DataFrame =
      g.agg(coalesce(sum(expr("m * (m - 1) div 2")), lit(0L)).as("p"))
    // r15 census fusion (guide §1.2): ONE corpus-scale pass — the
    // (cid, pid) cell census — from which all four statistics derive
    // by tiny aggregates over the checkpointed cells (was 4
    // independent joins+aggregates over the uncheckpointed `lab`
    // subtree, each re-planning the corpus⋈labels join). Identical
    // integers: n_docs = Σm; per-pid and per-cid group sizes are sums
    // of their cells' m; correct pairs read the cells directly.
    val cells = lab.groupBy(col("cid"), col("pid"))
      .agg(count(lit(1)).as("m"))
      .cut("DedupQuality.familyRow: cells")
    val nd = cells.agg(coalesce(sum(col("m")), lit(0L)).as("n_docs"))
    val planted = pairSum(cells.groupBy(col("pid"))
      .agg(sum(col("m")).as("m")))
    val recovered = pairSum(cells.groupBy(col("cid"))
      .agg(sum(col("m")).as("m")))
    val correct = pairSum(cells)
    nd.crossJoin(planted.select(col("p").as("planted_pairs")))
      .crossJoin(recovered.select(col("p").as("recovered_pairs")))
      .crossJoin(correct.select(col("p").as("correct_pairs")))
      .select(lit(family).as("family"), col("n_docs"),
        col("planted_pairs"), col("recovered_pairs"), col("correct_pairs"),
        expr("(1000000L * correct_pairs) div greatest(recovered_pairs, 1L)")
          .as("precision_ppm"),
        expr("(1000000L * correct_pairs) div greatest(planted_pairs, 1L)")
          .as("recall_ppm"))
  }

  /** The three-family quality table over any documents-shaped frame —
    * exposed (with the separation knob) for DedupQualitySpec. */
  private[graft] def qualityTable(d: DataFrame,
      sepDen: Int = SepDen): DataFrame = {
    // one corpus build shared by all families (checkpointed: three
    // candidate stages + three census joins read it)
    val corpus = plantedVariants(d, sepDen).cut("DedupQuality.qualityTable: corpus")
    val exact = Dedup.jaccardPairs(corpus)
      .select(col("doc_a"), col("doc_b"))
    val minhash = graft.dedup.MinHashLSH
      .nearDupPairs(corpus, numHashes = 64, bands = 16, shingleN = 3,
        threshold = 0.5)
      .select(col("doc_a"), col("doc_b"))
    val simhash = Dedup.simhashPairsWide(corpus)
      .filter(col("hamming") <= 3).select(col("doc_a"), col("doc_b"))
    // the three family stacks (candidates → verify → CC walk →
    // census) fork over the shared cut corpus
    Tables.inParallel("DedupQuality.qualityTable", Seq(
      "exact" -> { () => familyRow("exact", corpus, exact) },
      "minhash" -> { () => familyRow("minhash", corpus, minhash) },
      "simhash128" -> { () => familyRow("simhash128", corpus, simhash) }))
      .reduce(_.unionByName(_))
  }

  val queries: Map[String, Q] = Map(
    // -- q193 (round 13): the end-to-end dedup quality benchmark —
    //    planted 4-variant clusters recovered by each family's full
    //    candidate → verify → CC stack; pair precision/recall vs the
    //    planted truth in exact integer ppm. EXACT-gated: the oracle
    //    rebuilds the identical corpus and replays all three family
    //    chains + the CC walk + the size-table censuses. --
    "q193_dedup_quality" -> { (s, dir) =>
      qualityTable(Tables.load(s, dir, "documents"))
    },
  )

  // ---- generated oracle ---------------------------------------------

  /** The planted-corpus CTEs ending at `variants(doc_id, text)` —
    * the same construction as [[plantedVariants]], replayed from the
    * raw table (list slice + generated junk tokens; DuckDB
    * generate_series(1, 0) is empty, matching the guarded engine
    * sequence). */
  private[operators] def variantCtes(sepDen: Int,
      src: String = "documents"): String =
    s"""vbase AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS t
       |  FROM $src WHERE doc_id % $BaseMod = 0),
       |vbase2 AS (
       |  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n
       |  FROM vbase WHERE len(t) >= $MinTokens),
       |vdef AS (
       |  SELECT doc_id, t, n, j,
       |    doc_id * $VariantsPerBase + j AS vid,
       |    (n * j) // $sepDen AS k
       |  FROM vbase2, (SELECT unnest(range($VariantsPerBase)) AS j) js),
       |variants AS MATERIALIZED (
       |  SELECT vid AS doc_id,
       |    CASE WHEN j = 0 THEN array_to_string(t, ' ')
       |    ELSE array_to_string(
       |      list_concat(list_slice(t, 1, CAST(n - k AS INT)),
       |        list_transform(generate_series(1, k),
       |          i -> concat('x', CAST(vid AS VARCHAR), '_',
       |            CAST(i AS VARCHAR)))), ' ')
       |    END AS text
       |  FROM vdef)""".stripMargin

  /** A prefixed CC walk (edges → recursive reachability → min-label)
    * over a pair CTE `pairsCte(doc_a, doc_b)` — ends at
    * `<p>labels(doc_id, cluster_id)`. The q69 chain's walk stage,
    * parameterized so three family chains coexist in one statement. */
  private[operators] def ccWalkCtes(p: String, pairsCte: String): String =
    s"""${p}edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM $pairsCte
       |  UNION SELECT doc_b, doc_a FROM $pairsCte),
       |${p}walk AS (
       |  SELECT src AS doc_id, src AS reach FROM ${p}edges
       |  UNION
       |  SELECT w.doc_id, e.dst
       |  FROM ${p}walk w JOIN ${p}edges e ON w.reach = e.src),
       |${p}labels AS (
       |  SELECT doc_id, min(reach) AS cluster_id
       |  FROM ${p}walk GROUP BY doc_id)""".stripMargin

  /** One family's census SQL from its `<p>labels` CTE — the size-table
    * pair counts, mirroring [[familyRow]]. */
  private[operators] def censusSql(p: String, family: String): String =
    s"""SELECT '$family' AS family,
       |  (SELECT CAST(count(*) AS BIGINT) FROM ${p}lab) AS n_docs,
       |  (SELECT CAST(coalesce(sum(m * (m - 1) // 2), 0) AS BIGINT)
       |   FROM (SELECT count(*) AS m FROM ${p}lab GROUP BY pid) x)
       |    AS planted_pairs,
       |  (SELECT CAST(coalesce(sum(m * (m - 1) // 2), 0) AS BIGINT)
       |   FROM (SELECT count(*) AS m FROM ${p}lab GROUP BY cid) x)
       |    AS recovered_pairs,
       |  (SELECT CAST(coalesce(sum(m * (m - 1) // 2), 0) AS BIGINT)
       |   FROM (SELECT count(*) AS m FROM ${p}lab GROUP BY cid, pid) x)
       |    AS correct_pairs""".stripMargin

  /** oracle193: the variant corpus, then per family its OWN audited
    * pair chain (exact = the J ≥ 0.5 truth; minhash = the q45 band →
    * bucket → verify chain; simhash128 = the q79 wide chain) over the
    * SAME token-hash stream, a prefixed CC walk each, label
    * completion (singletons = own cluster), and the shared census.
    * The family pair chains are nested as scoped subqueries (their
    * internal tok/sig names would clash across families). */
  private def oracle193: String = {
    def labCte(p: String): String = labCteSql(p)
    val rows = Seq("ex" -> "exact", "mh" -> "minhash", "sh" -> "simhash128")
      .map { case (p, f) => censusSql(p, f) }
    s"""WITH RECURSIVE ${variantCtes(SepDen)},
       |expairs AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM (
       |  ${nestSql(exactPairsSqlOver("variants"))})),
       |mhpairs AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM (
       |  ${nestSql(minhashPairsSqlOver("variants"))})),
       |shpairs AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM (
       |  ${nestSql(simhashWidePairsSqlOver("variants"))})),
       |${ccWalkCtes("ex", "expairs")},
       |${ccWalkCtes("mh", "mhpairs")},
       |${ccWalkCtes("sh", "shpairs")},
       |${labCte("ex")},
       |${labCte("mh")},
       |${labCte("sh")},
       |rows AS (
       |${rows.mkString("\nUNION ALL\n")})
       |SELECT family, n_docs, planted_pairs, recovered_pairs,
       |  correct_pairs,
       |  (1000000 * correct_pairs) // greatest(recovered_pairs, 1)
       |    AS precision_ppm,
       |  (1000000 * correct_pairs) // greatest(planted_pairs, 1)
       |    AS recall_ppm
       |FROM rows""".stripMargin
  }

  /** Label-completion CTE (singletons = own cluster + planted id)
    * from a `<p>labels` walk — shared with the q197 oracle. */
  private[operators] def labCteSql(p: String): String =
    s"""${p}lab AS MATERIALIZED (
       |  SELECT v.doc_id, coalesce(l.cluster_id, v.doc_id) AS cid,
       |    v.doc_id // $VariantsPerBase AS pid
       |  FROM variants v LEFT JOIN ${p}labels l ON v.doc_id = l.doc_id)"""
      .stripMargin

  /** The exact J ≥ 0.5 pair set over `src` (the q44 truth chain — the
    * ccLabelCtesOver pair stage as a self-contained SELECT). */
  private[operators] def exactPairsSqlOver(src: String): String =
    s"""WITH tok AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM $src),
       |g0 AS (
       |  SELECT doc_id, t,
       |    unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
       |  FROM tok),
       |grams AS (
       |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
       |  FROM g0),
       |sz AS (SELECT doc_id, count(*) AS ng FROM grams GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
       |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b FROM inter
       |JOIN sz sa ON doc_a = sa.doc_id
       |JOIN sz sb ON doc_b = sb.doc_id
       |WHERE CAST(i AS BIGINT) * 1000000 // (sa.ng + sb.ng - i) >= 500000"""
      .stripMargin

  private def minhashPairsSqlOver(src: String): String =
    Dedup.minhashPairsSqlOver(src)

  private def simhashWidePairsSqlOver(src: String): String =
    Dedup.simhashWidePairsSqlOver(src)

  val oracles: Map[String, String] = Map(
    "q193_dedup_quality" -> oracle193,
  )
}
