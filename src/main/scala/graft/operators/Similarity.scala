package graft.operators

import graft.Cut._
import graft.Tables
import graft.functions.{SignBands, VectorExprs, Vectors}
import graft.functions.VectorExprs.{cosineSql, dotSql, listSql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (array<float>):
  * brute-force cosine top-k as the exactness baseline, all-pairs
  * near-dup detection, and sign-LSH bucketed ANN as the scale path.
  *
  * Scale posture: brute force is one broadcast of the query vector +
  * a map pass + TakeOrderedAndProject — linear and shuffle-free, the
  * right baseline even at 10⁹ rows. The LSH variant buckets vectors
  * by hyperplane sign bits so queries probe ~1/2^H of the corpus
  * (with Hamming-1 multi-probe for recall); bucketing is one narrow
  * shuffle, amortized over all queries.
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  /** q49's bucketing planes — QUANTIZED to the 0.001 grid (like
    * Planes83/PlanesA) so the DuckDB oracle replays the identical
    * bucket bits from 3-decimal literals; SimilaritySpec asserts the
    * sign margins that make cross-engine float noise harmless. */
  private[graft] val Planes =
    Vectors.quantizedPlanes(nPlanes = 4, dim = 64, seed = 7L)

  /** q83 parameters: 16 bands x 8 sign bits (128 quantized planes).
    * At this corpus's deliberately weak threshold (planted pairs sit
    * at cosine 0.40-0.5, where the sign-LSH family has ρ≈0.67) the
    * candidate set is a large fraction of all pairs — that is the
    * information-theoretic price of t=0.4, not a design defect; at
    * realistic semantic-dedup thresholds (t≥0.9, ρ≈0.22) the SAME
    * operator is sublinear with recall 1, which SemanticClusterSpec
    * demonstrates on a planted high-similarity corpus. Under corpus
    * replication this configuration's candidates grow with α = 2.00;
    * ScalePostureSpec runs it as the quadratic control of its
    * candidate-growth guard. */
  val Bits83 = 8
  val Bands83 = 16
  val Planes83: Seq[Seq[Double]] =
    Vectors.quantizedPlanes(Bands83 * Bits83, dim = 64, seed = 83L)

  /** q87 parameters: the ADAPTIVE configuration of the same composed
    * SignBands→verify→CC operator, promoted to a gate query (round-3
    * verdict #2). Band width grows as ⌈log₂ n⌉ + 4 bits — the
    * standard LSH scaling that keeps per-band bucket occupancy (and
    * so per-vector candidates) ~constant as the corpus grows — at the
    * realistic semantic-dedup threshold t = 0.9 (SemDeDup regime,
    * ρ≈0.22). 8 bands × up to 24 bits of quantized planes are STATIC
    * constants; the runtime width just masks the low `bits` of each
    * band key, so the DuckDB oracle can replay the identical
    * computation by guarding plane j with `j < b` where b is derived
    * from count(*) by an integer-exact power-of-two ladder (no
    * cross-engine log2 float risk). */
  val BandsA = 8
  val MaxBitsA = 24
  val PlanesA: Seq[Seq[Double]] =
    Vectors.quantizedPlanes(BandsA * MaxBitsA, dim = 64, seed = 87L)

  /** ⌈log₂ n⌉ + 4, clamped to [8, MaxBitsA] — in pure integer
    * arithmetic so the oracle's CASE ladder reproduces it exactly. */
  def adaptiveBits(n: Long): Int = {
    val ceilLog2 =
      if (n <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
    math.min(MaxBitsA, math.max(8, ceilLog2 + 4))
  }

  /** Adaptive-width sign-LSH candidates: the full MaxBitsA-bit keys
    * masked to the low `bits` bits (≡ using only planes j < bits),
    * Hamming-1 multi-probe over the active bits only. Candidate growth
    * under corpus replication: α = 1.04 at 1–10× sf0.1 (round 4);
    * ScalePostureSpec guards it. */
  def adaptiveCandidates(e: DataFrame, bits: Int): DataFrame = {
    val mask = (1 << bits) - 1
    val banded = e.select(col("vec_id"),
      posexplode(SignBands.signBands(col("embedding"), PlanesA, BandsA, MaxBitsA)))
      .withColumnRenamed("pos", "band_id")
      .withColumn("band_key", col("col").bitwiseAND(lit(mask)))
      .drop("col")
    val probes = banded.select(col("vec_id"), col("band_id"),
      explode(Vectors.probeBuckets(col("band_key"), bits)).as("probe"))
    probes.as("a").join(banded.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.probe") === col("b.band_key") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
  }

  /** Composed adaptive edge list: adaptive candidates verified by
    * exact cosine ≥ threshold, candidates only. The one count() is a
    * scalar — the corpus size that fixes the band width. */
  def adaptiveEdges(e: DataFrame, threshold: Double): DataFrame = {
    val bits = adaptiveBits(e.count())
    val cand = adaptiveCandidates(e, bits)
    val ea = e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val eb = e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    cand.join(ea, "vec_a").join(eb, "vec_b")
      .filter(round(VectorExprs.cosineFast(col("emb_a"), col("emb_b")), 6)
        >= threshold)
      .select(col("vec_a"), col("vec_b"))
  }

  /** Sign-LSH candidate pairs (vec_a < vec_b): band-key equi-join
    * with Hamming-1 multi-probe on the probe side. Exposed for
    * SemanticClusterSpec and ScalePostureSpec. */
  def lshCandidates(e: DataFrame, planes: Seq[Seq[Double]],
      bands: Int, bits: Int): DataFrame = {
    val banded = e.select(col("vec_id"),
      posexplode(SignBands.signBands(col("embedding"), planes, bands, bits)))
      .withColumnRenamed("pos", "band_id").withColumnRenamed("col", "band_key")
    val probes = banded.select(col("vec_id"), col("band_id"),
      explode(Vectors.probeBuckets(col("band_key"), bits)).as("probe"))
    probes.as("a").join(banded.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.probe") === col("b.band_key") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
  }

  /** Composed semantic-dedup edge list: LSH candidates verified by
    * exact cosine ≥ threshold (round-6, the house cross-engine rule).
    * Verification joins touch only candidates — never all pairs. */
  def lshEdges(e: DataFrame, planes: Seq[Seq[Double]], bands: Int,
      bits: Int, threshold: Double): DataFrame = {
    val cand = lshCandidates(e, planes, bands, bits)
    val ea = e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val eb = e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    cand.join(ea, "vec_a").join(eb, "vec_b")
      .filter(round(VectorExprs.cosineFast(col("emb_a"), col("emb_b")), 6)
        >= threshold)
      .select(col("vec_a"), col("vec_b"))
  }

  val queries: Map[String, Q] = Map(
    // -- brute-force cosine top-10 for query vector vec_id = 0 --
    "q47_cosine_topk" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("label"),
          round(VectorExprs.cosineFast(col("embedding"), col("q_emb")), 6)
            .as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },

    // -- all-pairs near-duplicate vectors (cosine ≥ 0.4) --
    "q48_embedding_neardup" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
      val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
      a.join(b, col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          round(VectorExprs.cosineFast(col("emb_a"), col("emb_b")), 6).as("cos_sim"))
        .filter(col("cos_sim") >= 0.4)
    },

    // -- semantic-dedup clustering: connected components over the
    //    cosine near-dup graph (the embedding analog of q69) — every
    //    vector labeled with its component's min vec_id. Composes the
    //    oracle-checked q48 pair generation with the pointer-doubling
    //    CC operator; oracle = recursive-CTE closure. Like q48, the
    //    all-pairs edge generation is the ORACLE BASELINE shape; at
    //    100 TB the same clusterLabels call composes over the
    //    LSH-bucketed candidates (q49 path) instead — the CC operator
    //    is agnostic to how the pair list was produced. --
    "q82_embedding_clusters" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
      val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
      val pairs = a.join(b, col("vec_a") < col("vec_b"))
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"),
          round(VectorExprs.cosineFast(col("emb_a"), col("emb_b")), 6).as("cos_sim"))
        .filter(col("cos_sim") >= 0.4)
        .select("doc_a", "doc_b")
      graft.dedup.ConnectedComponents.clusterLabels(pairs)
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
    },

    // -- LSH-fed semantic clustering: the 100 TB composition q82
    //    only asserted. Candidates from a deterministic sign-LSH
    //    band-key equi-join (never all pairs), exact-cosine verify on
    //    candidates only, then the same pointer-doubling
    //    ConnectedComponents. The oracle replays the identical
    //    deterministic planes in SQL, so the gate checks the composed
    //    path end-to-end (vs q82, whose oracle checks the all-pairs
    //    baseline). --
    "q83_embedding_clusters_lsh" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val edges = lshEdges(e, Planes83, Bands83, Bits83, threshold = 0.4)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      graft.dedup.ConnectedComponents.clusterLabels(edges)
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
    },

    // -- the ADAPTIVE composed semantic dedup (q83's scale-safe twin,
    //    now oracle-gated): ⌈log₂ n⌉+4-bit bands at t = 0.9, exact
    //    cosine verify on candidates only, pointer-doubling CC, and
    //    every vector labeled (singletons keep their own id — so the
    //    gate exercises the full assignment even when the corpus has
    //    few/no pairs at 0.9). Oracle code-generated from the same
    //    quantized plane constants with an integer-exact bit ladder. --
    "q87_semantic_dedup_adaptive" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val edges = adaptiveEdges(e, threshold = 0.9)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      val labels = graft.dedup.ConnectedComponents.clusterLabels(edges)
        .withColumnRenamed("doc_id", "vec_id")
      e.select(col("vec_id"))
        .join(labels, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
    },

    // -- ANN via IVF coarse quantization (the OTHER scale path the
    //    brief names alongside LSH): the codebook is the CHECKED-IN
    //    Centroids86 table — deterministic k-means trained once on a
    //    bounded sf0.001 sample and quantized to the 0.001 grid, the
    //    FAISS practice (train offline on a sample, index any corpus)
    //    and the engine's Setup-block pattern. Corpus assigned to its
    //    argmax-cosine centroid distributed; the query probes its
    //    nprobe=4 nearest cells; exact cosine re-ranks candidates
    //    only. EXACT-gated: the oracle replays assignment, probe
    //    ranking and re-rank from the same 3-decimal literals
    //    (SimilaritySpec asserts the argmax/probe margins that make
    //    cross-engine float noise harmless, plus recall vs brute
    //    force and codebook drift armor). The one collect() is the
    //    single query vector. --
    "q86_ann_ivf" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val cents = Centroids86.table
      def cell(v: org.apache.spark.sql.Column) = {
        val sims = array(cents.map(c =>
          VectorExprs.cosineFast(v, typedlit(c))): _*)
        (array_position(sims, array_max(sims)) - 1).cast("int")
      }
      val assigned = e.select(col("vec_id"), col("label"),
        col("embedding"), cell(col("embedding")).as("cell"))
      val qRow = e.filter(col("vec_id") === 0)
        .select(col("embedding")).collect()(0).getSeq[Float](0)
        .map(_.toDouble).toArray
      // probe ranking mirrors the oracle's cosine shape exactly:
      // dot/(|q|*|c|), left-to-right sums, index-order tie-break
      def cosTo(c: Seq[Double]): Double = {
        var d = 0.0; var nq = 0.0; var nc = 0.0; var i = 0
        while (i < qRow.length) {
          d += qRow(i) * c(i); nq += qRow(i) * qRow(i); nc += c(i) * c(i)
          i += 1
        }
        d / (math.sqrt(nq) * math.sqrt(nc))
      }
      val probes = cents.indices
        .sortBy(i => (-cosTo(cents(i)), i)).take(4)
      assigned.filter(col("vec_id") =!= 0 && col("cell").isin(probes: _*))
        .select(col("vec_id"), col("label"),
          round(VectorExprs.cosineFast(col("embedding"), typedlit(qRow.toSeq)), 6)
            .as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },

    // -- batch kNN JOIN over the IVF index (the semdedup / retrieval-
    //    prep shape: EVERY query vector gets its top-k neighbors, not
    //    one query like q47/q86). Corpus assigned to argmax-cosine
    //    cells map-side; each query probes its 6 nearest cells
    //    (nprobe=6/16: ~0.6 recall@5 on this near-uniform synthetic
    //    corpus at 2.7x pruning — SimilaritySpec measures it; a real
    //    clustered corpus at scale runs k=2^16 cells at the same
    //    nprobe/k ratio with far better recall)
    //    (per-row struct-sort over the 16-cell cosine array — stays in
    //    codegen); candidates come from ONE equi-join on the cell key;
    //    exact cosine re-ranks per query through a window keyed by
    //    q_id. Scale shape: no broadcast of either side, candidates
    //    per query ≈ corpus·(nprobe/ncells), the per-query top-k sort
    //    is bounded by its candidate set — the same plan serves
    //    millions of queries. EXACT-gated: the oracle replays
    //    assignment, per-query probe ranking (independent window
    //    derivation vs the engine's struct-sort) and the round-6
    //    re-rank from the same Centroids86 literals. --
    "q94_knn_join" -> { (s, dir) =>
      knnJoinQuery(Tables.load(s, dir, "embeddings"), Centroids86.table)
    },

    // -- q94's ADAPTIVE-codebook twin (the q87 pattern applied to
    //    IVF): the cell count grows with the corpus — ~32 vectors per
    //    cell through a power-of-two ladder, taking a PREFIX of the
    //    checked-in 64-cell Centroids94 codebook — so per-query
    //    candidates stay ~constant and total candidate volume stays
    //    linear in the query count as the corpus scales (the fixed
    //    16-cell q94 config is the declared baseline; at production
    //    scale the ladder continues up the trained codebook size,
    //    exactly how IVF deployments grow nlist with n). The one
    //    count() is a scalar, like q87's band-width probe. EXACT-
    //    gated: the oracle derives the cell count from count(*) via
    //    the same integer ladder and slices the 64-cosine list. --
    "q94b_knn_join_adaptive" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      // spread (r15): the embeddings corpus is ONE parquet file — the
      // per-row 64-cosine assignment and the candidate join otherwise
      // run on a single core (the r14 media single-split lesson, found
      // on the vector family by round 15's stage-by-stage q94b timing)
      knnJoinQuery(Tables.spread(e, col("vec_id")),
        Centroids94.table.take(adaptiveCells(e.count())))
    },

    // -- q94b with the √-scaled PROBE budget (round-5 verdict #3):
    //    same adaptive cell ladder, but nprobe grows as √cells
    //    (6/16 → 8/32 → 12/64) instead of staying fixed. q94b holds
    //    per-query candidates exactly constant by shrinking the
    //    probed-cell FRACTION, and its recall drop (0.62 → 0.30 on
    //    this clusterless corpus) tracks that fraction; this variant
    //    pays √-growing candidates to keep the fraction decaying only
    //    as 1/√cells — SimilaritySpec's frontier table separates the
    //    probe-budget effect from the data effect at both ladder ends.
    //    EXACT-gated: the oracle derives ncells AND nprobe from
    //    count(*) through the same integer ladders. --
    "q94c_knn_join_nprobe" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val c = adaptiveCells(e.count())
      // spread (r15): see q94b
      knnJoinQuery(Tables.spread(e, col("vec_id")),
        Centroids94.table.take(c), adaptiveNProbe(c))
    },

    // -- q175 ANN RECALL-VS-COST FRONTIER (round-11 verdict #1): the
    //    operator decision q169's single datum cannot make — per index
    //    CONFIG (the q94 fixed-16-cell codebook and the q94b/q94c
    //    adaptive codebook, each swept over nprobe ∈ {1,2,4,6} plus
    //    the q94c √-ladder point), the recall@5 AND the candidate
    //    volume the config pays for it. This is the table an ANN
    //    deployment reads to pick its operating point: recall is
    //    monotone non-decreasing in nprobe, candidates grow ~linearly
    //    with it, and the knee of the curve is the config to ship.
    //    Scale shape: the brute-force truth is ONE broadcast(|Q|) ×
    //    corpus pass shared by every config; per codebook the
    //    assignment scan and the per-query probe ranking are computed
    //    ONCE and shared by its nprobe sweep (checkpointed — the
    //    frontier never rescans the corpus per config); each config
    //    adds only its own cell-keyed candidate join, sized by its
    //    nprobe budget. Output: 9 rows. EXACT-gated: the oracle
    //    replays every config from the same codebook literals with
    //    prefixed CTE chains (shared bf/assignment/ranking CTEs
    //    MATERIALIZED), integer hit counts, integer-div recall ppm. --
    "q175_ann_frontier" -> { (s, dir) =>
      recallFrontier(Tables.load(s, dir, "embeddings"))
    },

    // -- q177 LSH PROBE-DEPTH FRONTIER (round 12): the LSH side of
    //    the q175 decision table — per (plane family, Hamming probe
    //    depth) config, candidates scanned and recall@5 against the
    //    SAME brute-force truth and query sample, so the deployment
    //    decision spans index FAMILIES: the IVF nprobe ladder (q175)
    //    and the LSH probe-depth ladder (this) share one
    //    recall-vs-cost axis pair. Families: the shipped 4-plane q49
    //    buckets and an 8-plane family (256 buckets — the pruning
    //    regime 16 buckets cannot reach), depths 0/1/2. EXACT-gated:
    //    the oracle replays bucket bits from the same 3-decimal
    //    plane literals, the mask-enumerated probe neighborhoods,
    //    and the round-6 re-rank, per-config prefixed CTE chains
    //    over shared MATERIALIZED bf/bucket stages. --
    "q177_lsh_frontier" -> { (s, dir) =>
      lshFrontier(Tables.load(s, dir, "embeddings"))
    },

    // -- q169 ANN RECALL AUDIT (round 10): the evaluation harness for
    //    the similarity family — the q152/q158 pattern asked of the
    //    index: per query, recall@5 of the q94 IVF batch-kNN against
    //    the exact brute-force top-5. This is exactly how ANN
    //    deployments validate an index configuration: a deterministic
    //    thin query sample (the q94 vec_id % 50 set), ground truth by
    //    brute force ON THE SAMPLE ONLY (queries broadcast, ONE
    //    linear corpus pass — never all-pairs), and the production
    //    index path unchanged. The measured numbers become the
    //    recall-vs-cost datum the q94b/q94c frontier table cites.
    //    Scale shape: broadcast(|Q| queries) × corpus scan → per-query
    //    window top-5; the IVF side is the audited q94 plan verbatim;
    //    the recall join is (|Q|·5)-sized. EXACT-gated: both sides
    //    round-6 cosine with (cos desc, vec_id) tie-break, integer
    //    intersection counts. --
    "q169_ann_recall" -> { (s, dir) =>
      annRecallAudit(Tables.load(s, dir, "embeddings"))
    },

    // -- SemDeDup (Abbas et al. 2023): cluster-scoped near-dup
    //    pruning — assign every vector to its adaptive IVF cell
    //    (the q94b Centroids94 ladder), compare pairs WITHIN a cell
    //    only, and drop the higher vec_id of any pair with cosine
    //    ≥ 0.4. The decisive scale property vs q82's all-pairs: the
    //    ladder holds cell occupancy ~constant (≈32), so total
    //    compared pairs ≈ n·occupancy/2 — LINEAR in the corpus where
    //    all-pairs is quadratic; the price is misses across cell
    //    boundaries (the published SemDeDup trade). One cell-keyed
    //    self-join, one distinct, one left join for the kept flag.
    //    EXACT-gated: the oracle replays cell assignment from the
    //    same 3-decimal codebook literals and the round-6 cosine. --
    "q102_semdedup" -> { (s, dir) =>
      semDedup(Tables.load(s, dir, "embeddings"), threshold = 0.4)
    },

    // -- Semantic decontamination (round 7): the embedding-space
    //    analog of q78/q96's n-gram benchmark decontamination — flag
    //    every TRAIN-split vector that is near (cosine ≥ 0.4) a
    //    TEST-split vector, so evaluation-contaminated training docs
    //    can be dropped before training (the cross-split variant of
    //    SemDeDup's within-corpus prune; modern model reports run
    //    exactly this audit). Splits = the deterministic q70 md5 rule
    //    on vec_id (engine/partitioning-independent). Scale shape:
    //    cell-scoped like q102 — ONE cell-keyed train×test equi-join
    //    (both sides corpus-scale, hinted off broadcast; the ladder
    //    bounds occupancy so compared pairs stay ~linear), one
    //    train-keyed agg, one left join for the flag. EXACT-gated:
    //    the oracle replays the cell ladder from the same 3-decimal
    //    codebook literals, the md5 split and the round-6 cosine. --
    "q113_embedding_decontam" -> { (s, dir) =>
      embeddingDecontam(Tables.load(s, dir, "embeddings"), threshold = 0.4)
    },

    // -- In-batch negative sampling (round 7): the contrastive-
    //    training data-prep step (DPR/CLIP-style in-batch negatives,
    //    made deterministic): assign every vector to a pseudo-random
    //    "batch" (splitmix64 shard), order the batch by its draw, and
    //    pair each anchor with its next K batch neighbors — EXCLUDING
    //    neighbors in the anchor's IVF cell (semantic false-negative
    //    guard, the SemDeDup ladder reused). ONE shard-keyed shuffle;
    //    all K leads ride the same window; no joins at all. At 100 TB
    //    the shard count is the parallelism knob (q90's argument) and
    //    state per shard is the batch, exactly as in training. --
    "q116_inbatch_negatives" -> { (s, dir) =>
      inBatchNegatives(Tables.load(s, dir, "embeddings"))
    },

    // -- ANN via sign-LSH buckets + Hamming-1 multi-probe
    //    (EXACT-gated: the oracle replays the quantized planes'
    //    bucket bits, the probe set and the round-6 re-rank;
    //    SimilaritySpec pins recall vs the brute-force baseline) --
    "q49_ann_lsh" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val bucketed = e.select(col("vec_id"), col("label"), col("embedding"),
        Vectors.lshBucket(col("embedding"), Planes).as("bucket"))
      val q = bucketed.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"),
          explode(Vectors.probeBuckets(col("bucket"), Planes.length))
            .as("probe"))
      bucketed.filter(col("vec_id") =!= 0)
        .join(broadcast(q), col("bucket") === col("probe"))
        .select(col("vec_id"), col("label"),
          round(VectorExprs.cosineFast(col("embedding"), col("q_emb")), 6)
            .as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },
  )

  /** Adaptive IVF cell count: ~32 vectors per cell through a
    * power-of-two ladder, clamped to the checked-in 64-cell codebook.
    * Integer-exact so the oracle's CASE ladder reproduces it. */
  def adaptiveCells(n: Long): Int =
    if (n <= 512) 16 else if (n <= 1024) 32 else 64

  /** Adaptive-cell assignment over any embeddings-shaped frame: every
    * vector with its argmax-cosine cell from the [[adaptiveCells]]
    * prefix of Centroids94 — the map-side stage shared by q94b/q94c
    * and q102. */
  private[graft] def assignCells(e: DataFrame): DataFrame = {
    val cents = Centroids94.table.take(adaptiveCells(e.count()))
    val sims = array(cents.map(c =>
      VectorExprs.cosineFast(col("embedding"), typedlit(c))): _*)
    // spread (r15): the embeddings corpus is one parquet file — the
    // per-row ncells-cosine argmax otherwise runs on one core (the
    // r14 media single-split lesson; no-op for derived/in-memory
    // frames and at real scale, where inputs carry >= cores splits).
    // Checkpointed (r15): every consumer joins or self-joins on the
    // derived `cell`, and the join's inferred IsNotNull(cell) pushes
    // below the projection and re-evaluates the ncells-cosine array
    // per row (guide §4.4); the cut evaluates it exactly once.
    Tables.spread(e, col("vec_id")).select(col("vec_id"), col("embedding"),
      (array_position(sims, array_max(sims)) - 1).cast("int").as("cell"))
      .cut("Similarity.assignCells: cell assignments")
  }

  /** Within-cell candidate pairs (vec_a < vec_b, embeddings aboard)
    * over an [[assignCells]] frame. Both self-join sides are
    * corpus-sized: hinted away from broadcast (the q97-q99 lesson). */
  private[graft] def cellPairs(assigned: DataFrame): DataFrame = {
    val a = assigned.select(col("cell"), col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"))
    val b = assigned.select(col("cell"), col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"))
    a.hint("shuffle_merge").join(b.hint("shuffle_merge"), Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
  }

  /** SemDeDup over any embeddings-shaped frame (needs `vec_id`,
    * `embedding`): adaptive-cell assignment, within-cell pair scan,
    * higher vec_id of any ≥-threshold pair dropped. Exposed for the
    * hand-corpus spec; q102 is this at t = 0.4. */
  private[graft] def semDedup(e: DataFrame, threshold: Double): DataFrame = {
    val assigned = assignCells(e)
    val removed = cellPairs(assigned)
      .filter(round(VectorExprs.cosineFast(col("emb_a"), col("emb_b")), 6)
        >= threshold)
      .select(col("vec_b").as("vec_id")).distinct()
    assigned.select(col("vec_id"), col("cell").cast("long").as("cell"))
      .join(removed.withColumn("rm", lit(1L)).hint("shuffle_merge"),
        Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("rm").isNotNull, 0L).otherwise(1L).as("kept"))
  }

  /** The removal set of [[semDedup]] alone — DISTINCT higher vec_ids
    * of ≥-threshold within-cell pairs. Recomputes the cell assignment
    * (one extra count action on `e`); used by the q143 pipeline stage,
    * which never needs the per-vector kept flags. */
  private[graft] def semDedupRemoved(e: DataFrame, threshold: Double): DataFrame =
    cellPairs(assignCells(e))
      .filter(round(VectorExprs.cosineFast(col("emb_a"), col("emb_b")), 6)
        >= threshold)
      .select(col("vec_b").as("vec_id")).distinct()

  /** SemDeDup as a DOCUMENT-pipeline stage (the q143 chain): restrict
    * the embedding table to the surviving docs (vec_id = doc_id), run
    * the q102 within-cell prune on the survivors' corpus (the
    * adaptive cell ladder counts the RESTRICTED frame — the model
    * follows the pipeline, identically in the oracle), and drop the
    * higher doc of each ≥-threshold pair. Docs with no embedding row
    * pass through — they cannot be semantically deduplicated (at
    * sf0.1 three in five docs have no vector). Both joins are
    * corpus-scale on both sides: hinted off broadcast (the q97-q99
    * estimate lesson). */
  private[graft] def semDedupKeepDocs(d: DataFrame, emb: DataFrame,
      threshold: Double): DataFrame = {
    val sub = emb.select(col("vec_id"), col("embedding"))
      .join(d.select(col("doc_id").as("vec_id")).hint("shuffle_merge"),
        Seq("vec_id"), "left_semi")
    d.join(semDedupRemoved(sub, threshold)
        .select(col("vec_id").as("doc_id")).hint("shuffle_merge"),
      Seq("doc_id"), "left_anti")
  }

  /** Semantic decontamination over any embeddings-shaped frame (needs
    * `vec_id`, `embedding`): every q70-'train' vector with its cell,
    * the number of q70-'test' vectors in the SAME cell at cosine ≥
    * threshold, the max such (round-6) cosine (−1.0 when clean), and
    * the contaminated flag. Cross-cell near-test pairs are missed by
    * design — the same published trade q102 documents, and the reason
    * compared pairs stay linear in the corpus. */
  private[graft] def embeddingDecontam(e: DataFrame,
      threshold: Double): DataFrame = {
    val h = substring(md5(col("vec_id").cast("string")), 1, 8)
    val assigned = assignCells(e).withColumn("grp",
      when(h < "cccccccc", "train").when(h < "e6666666", "val")
        .otherwise("test"))
    val tr = assigned.filter(col("grp") === "train")
      .select(col("cell"), col("vec_id"), col("embedding").as("emb_t"))
    val te = assigned.filter(col("grp") === "test")
      .select(col("cell"), col("vec_id").as("test_id"),
        col("embedding").as("emb_b"))
    // both join sides are corpus-sized: hinted off broadcast (the
    // q97-q99 estimate lesson)
    val hits = tr.hint("shuffle_merge")
      .join(te.hint("shuffle_merge"), Seq("cell"))
      .select(col("vec_id"),
        round(VectorExprs.cosineFast(col("emb_t"), col("emb_b")), 6).as("cs"))
      .filter(col("cs") >= threshold)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_test_hits"), max(col("cs")).as("mx"))
    tr.select(col("vec_id"), col("cell").cast("long").as("cell"))
      .join(hits.hint("shuffle_merge"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_test_hits"), lit(0L)).as("n_test_hits"),
        coalesce(col("mx"), lit(-1.0)).as("max_cos"),
        when(col("n_test_hits").isNotNull, 1L).otherwise(0L)
          .as("contaminated"))
  }

  // ---- q116 in-batch negatives constants (shared with the oracle) --
  private[operators] val NegSalt = 116L
  private[operators] val NegShards = 16
  private[operators] val NegK = 4

  /** Deterministic in-batch negatives over any embeddings-shaped
    * frame: (vec_id, shard, slot, neg_id). Each anchor's negatives
    * are the next [[NegK]] vectors in its shard's draw order whose
    * IVF cell differs from the anchor's; tail anchors and same-cell
    * neighbors yield fewer slots — identically on both engines. */
  private[graft] def inBatchNegatives(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = graft.functions.SplitMix64.uniform(col("vec_id"), NegSalt)
    val sh = assignCells(e)
      .select(col("vec_id"), col("cell"), u.as("u"))
      .withColumn("shard", floor(col("u") * NegShards).cast("long"))
    val w = Window.partitionBy(col("shard")).orderBy(col("u"), col("vec_id"))
    val led = sh.select(
      (Seq(col("vec_id"), col("cell"), col("shard")) ++
        (1 to NegK).flatMap(j => Seq(
          lead(col("vec_id"), j).over(w).as(s"n$j"),
          lead(col("cell"), j).over(w).as(s"c$j")))): _*)
    val stackArgs = (1 to NegK)
      .map(j => s"${j}L, n$j, c$j").mkString(", ")
    led.selectExpr("vec_id", "shard",
        s"stack($NegK, $stackArgs) AS (slot, neg_id, neg_cell)", "cell")
      .filter(col("neg_id").isNotNull && col("neg_cell") =!= col("cell"))
      .select(col("vec_id"), col("shard"), col("slot"), col("neg_id"))
  }

  /** √-scaled probe budget for the adaptive ladder (round-5 verdict
    * #3): nprobe = round(6·√(cells/16)) — 16→6, 32→8, 64→12. Holding
    * nprobe FIXED while cells grow (q94b) shrinks the probed-cell
    * fraction (6/16 → 6/64) and recall falls with it; scaling nprobe
    * with √cells keeps per-query candidates growing only √-slowly
    * (cells grow ∝ n, so candidates/query ≈ n·nprobe/cells ∝ √⁻¹ of
    * the fixed-nprobe shrink) while the probed fraction decays only as
    * 1/√cells — the standard IVF accuracy/cost compromise.
    * Integer-exact ladder so the oracle's CASE reproduces it. */
  def adaptiveNProbe(cells: Int): Int =
    if (cells <= 16) 6 else if (cells <= 32) 8 else 12

  /** The shared batch-kNN body (q94 fixed 16 cells / q94b adaptive
    * prefix of 64 / q94c adaptive cells AND √-scaled nprobe): map-side
    * argmax cell assignment, per-query top-nprobe probe cells via a
    * codegen struct-sort, ONE cell-keyed equi-join, per-query top-5
    * through a q_id-keyed window. */
  private[graft] def knnJoinQuery(e: DataFrame, cents: Seq[Seq[Double]],
      nprobe: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sims = array(cents.map(c =>
      VectorExprs.cosineFast(col("embedding"), typedlit(c))): _*)
    // r15: BOTH join sides are checkpointed. The join's inferred
    // IsNotNull(cell)/IsNotNull(qcell) null-filters push below these
    // projections and RE-EVALUATE the whole ncells-cosine array per
    // row beneath the filter AND again in the projection (the guide
    // §4.4 duplicated-evaluation problem, Scala flavor — round 15
    // measured the composed q94b join at 2.3 s vs 0.67 s for the
    // materialized sum of its parts at sf0.1/64 cells). The cut also
    // stops the planner broadcasting the expensive assignment subtree.
    val assigned = e.select(col("vec_id"), col("label"), col("embedding"),
      (array_position(sims, array_max(sims)) - 1).cast("int").as("cell"))
      .cut("Similarity.knnJoinQuery: cell assignments")
    val qc = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        sims.as("sims"))
      // top-nprobe probe cells: sort (−cos, cid) structs — descending
      // cosine with index tie-break, the exact oracle ordering
      .select(col("q_id"), col("q_emb"), explode(expr(
        s"""transform(slice(array_sort(transform(sequence(0, ${cents.length - 1}),
           |  i -> struct(-element_at(sims, i + 1) AS s, i AS i))), 1, $nprobe),
           |  x -> x.i)""".stripMargin)).as("qcell"))
      .cut("Similarity.knnJoinQuery: probe cells")
    val cand = assigned.as("a")
      .join(qc.as("q"),
        col("a.cell") === col("q.qcell") && col("a.vec_id") =!= col("q.q_id"))
      .select(col("q.q_id"), col("a.vec_id"), col("a.label"),
        round(VectorExprs.cosineFast(col("a.embedding"), col("q.q_emb")), 6)
          .as("cos_sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
  }

  /** q169: per-query recall@5 of the q94 IVF batch-kNN vs exact
    * brute force over the same query sample. (q_id, n_hits,
    * recall_ppm) — |Q| rows. */
  private[graft] def annRecallAudit(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ivf = knnJoinQuery(e, Centroids86.table)
      .select(col("q_id"), col("vec_id"))
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val bf = e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(VectorExprs.cosineFast(col("embedding"), col("q_emb")), 6)
          .as("cos_sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val bfTop = bf.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5).select(col("q_id"), col("vec_id"))
    val hits = bfTop.join(ivf, Seq("q_id", "vec_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
    q.select(col("q_id")).join(hits, Seq("q_id"), "left")
      .selectExpr("q_id", "coalesce(n_hits, 0L) AS n_hits",
        "(1000000L * coalesce(n_hits, 0L)) div 5 AS recall_ppm")
  }

  /** q175's config grid, shared with the generated oracle: the fixed
    * 16-cell q94 codebook and the adaptive q94b/q94c codebook, each
    * at nprobe ∈ {1, 2, 4, 6}, plus the q94c √-ladder point. */
  private[graft] val FrontierProbes = Seq(1, 2, 4, 6)

  /** Shared frontier plumbing (q175 IVF / q177 LSH): the
    * deterministic query sample, its size, and the checkpointed
    * brute-force top-5 truth — ONE broadcast(|Q|) × corpus pass,
    * never recomputed per config. */
  private def frontierBase(e: DataFrame)
      : (DataFrame, Long, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val nq = q.count() // scalar: |Q| (1-in-50 sample, bounded)
    val bfW = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    // spread (r15): |Q| cosines per corpus row on a single-split scan
    // otherwise run on one core (see assignCells)
    val bf = Tables.spread(e, col("vec_id"))
      .select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(VectorExprs.cosineFast(col("embedding"), col("q_emb")), 6)
          .as("cos_sim"))
      .withColumn("rank", row_number().over(bfW))
      .filter(col("rank") <= 5).select(col("q_id"), col("vec_id"))
      .cut("Similarity.frontierBase: brute-force top-5")
    (q, nq, bf)
  }

  /** One frontier row from a checkpointed candidate frame
    * (q_id, vec_id, cos_sim): candidate count, top-5 ∩ truth hits,
    * integer-div recall ppm, with config-identifying extras. */
  private def frontierRow(cand: DataFrame, bf: DataFrame, nq: Long,
      label: String, extras: Seq[(String, Long)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val ivf = cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5).select(col("q_id"), col("vec_id"))
    val candN = cand.agg(count(lit(1)).as("candidates"))
    val hits = bf.join(ivf, Seq("q_id", "vec_id"), "left_semi")
      .agg(count(lit(1)).as("sum_hits"))
    candN.crossJoin(hits)
      .select(lit(label).as("config") +:
        extras.map { case (n, v) => lit(v).as(n) } ++:
        Seq(col("candidates"), col("sum_hits"),
          expr(s"(1000000L * sum_hits) div ${5L * nq}L")
            .as("recall_ppm")): _*)
  }

  /** q175: the recall-vs-cost frontier — per (codebook, nprobe)
    * config, the candidate volume scanned and the recall@5 against
    * the shared brute-force truth. The per-query probe ranking here
    * is an independent window derivation (vs the gate path's per-row
    * struct-sort) with the identical (cos desc, cid) order — the
    * oracle replays the same window. */
  private[graft] def recallFrontier(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cellsA = adaptiveCells(e.count())
    val (q, nq, bf) = frontierBase(e)
    // per CODEBOOK (not per config): assignment scan + per-query
    // probe ranking, computed once and shared by the nprobe sweep
    def ranked(cents: Seq[Seq[Double]]): (DataFrame, DataFrame) = {
      val sims = array(cents.map(c =>
        VectorExprs.cosineFast(col("embedding"), typedlit(c))): _*)
      // spread (r15): single-split scan, per-row ncells cosines
      val assigned = Tables.spread(e, col("vec_id"))
        .select(col("vec_id"), col("embedding"),
          (array_position(sims, array_max(sims)) - 1).cast("int").as("cell"))
        .cut("Similarity.recallFrontier: cell assignments")
      val qsims = array(cents.map(c =>
        VectorExprs.cosineFast(col("q_emb"), typedlit(c))): _*)
      val prW = Window.partitionBy(col("q_id"))
        .orderBy(col("qc").desc, col("cid"))
      val qrank = q.select(col("q_id"), col("q_emb"), posexplode(qsims))
        .withColumnRenamed("pos", "cid").withColumnRenamed("col", "qc")
        .withColumn("pr", row_number().over(prW))
        .select(col("q_id"), col("q_emb"), col("cid"), col("pr"))
        .cut("Similarity.recallFrontier: probe ranks")
      (assigned, qrank)
    }
    // r15 (guide §1.2 fewer passes): the nprobe ladder is NESTED —
    // cand(np) ≡ the pr ≤ np slice of cand(np_max) — so each CODEBOOK
    // pays ONE candidate join at its largest probed depth,
    // checkpointed WITH the probe rank, and every config's candidate
    // set is a row-identical filter over that one frame (was one
    // join + checkpoint per config: 9 corpus-scale joins → 2).
    def candAll(assigned: DataFrame, qrank: DataFrame,
        npMax: Int): DataFrame =
      assigned.as("a")
        .join(qrank.filter(col("pr") <= npMax).as("p"),
          col("a.cell") === col("p.cid") && col("a.vec_id") =!= col("p.q_id"))
        .select(col("p.q_id"), col("a.vec_id"), col("p.pr"),
          round(VectorExprs.cosineFast(col("a.embedding"), col("p.q_emb")), 6)
            .as("cos_sim"))
        // read by every config's count + top-5
        .cut("Similarity.recallFrontier: candidates")
    def cfgRow(label: String, all: DataFrame, ncells: Int,
        np: Int): DataFrame =
      frontierRow(all.filter(col("pr") <= np).drop("pr"), bf, nq, label,
        Seq("ncells" -> ncells.toLong, "nprobe" -> np.toLong))
    val npA = adaptiveNProbe(cellsA)
    // the two codebooks' assignment + candidate chains fork
    val Seq(fAll, aAll) = Tables.inParallel("Similarity.recallFrontier", Seq(
      "ivf16" -> { () => val (a, q2) = ranked(Centroids86.table)
        candAll(a, q2, FrontierProbes.max) },
      "ivfA" -> { () => val (a, q2) = ranked(Centroids94.table.take(cellsA))
        candAll(a, q2, math.max(FrontierProbes.max, npA)) }))
    val rows =
      FrontierProbes.map(p => cfgRow(s"ivf16_p$p", fAll, 16, p)) ++
        FrontierProbes.map(p => cfgRow(s"ivfA_p$p", aAll, cellsA, p)) :+
        cfgRow("ivfA_sqrt", aAll, cellsA, npA)
    rows.reduce(_.unionByName(_))
  }

  /** q177's second bucket family: 8 quantized planes (256 buckets) —
    * the pruning regime the 4-plane q49 family can't reach (16
    * buckets prune at most 16×). Same 0.001-grid quantization as
    * every shipped plane family; SimilaritySpec asserts the sign
    * margins tri-scale. */
  private[graft] val Planes177: Seq[Seq[Double]] =
    Vectors.quantizedPlanes(nPlanes = 8, dim = 64, seed = 177L)

  /** All XOR masks of ≤ depth bits over `bits` planes — the
    * Hamming-≤-depth multi-probe neighborhood (depth 0 = the bucket
    * itself, 1 = the q49 probe set, 2 = the next ring). */
  private[graft] def hammingMasks(bits: Int, depth: Int): Seq[Int] =
    (0 until (1 << bits)).filter(m => Integer.bitCount(m) <= depth)

  /** q177: the LSH side of the ANN decision table — per (plane
    * family, probe depth) config, candidates scanned and recall@5
    * against the same brute-force truth as q175, so a deployment
    * compares operating points ACROSS index families (IVF nprobe
    * ladder vs LSH probe-depth ladder) on one axis pair. Scale
    * shape: bucket assignment is map-side per family (computed once,
    * checkpointed, shared by its depth sweep); each config adds one
    * bucket-keyed equi-join sized by its probe neighborhood —
    * |probes| = Σ C(P, k≤d) buckets of ~n/2^P vectors each. */
  private[graft] def lshFrontier(e: DataFrame): DataFrame = {
    val (q, nq, bf) = frontierBase(e)
    def family(label: String, planes: Seq[Seq[Double]]): Seq[DataFrame] = {
      // spread (r15): single-split scan, per-row plane dots
      val bucketed = Tables.spread(e, col("vec_id"))
        .select(col("vec_id"), col("embedding"),
          Vectors.lshBucket(col("embedding"), planes).as("bucket"))
        .cut("Similarity.lshFrontier: buckets")
      val qb = q.withColumn("bucket",
        Vectors.lshBucket(col("q_emb"), planes)).cut("Similarity.lshFrontier: query buckets")
      // r15 (guide §1.2): probe rings NEST — depth d's probe set is
      // the bitcount ≤ d slice of depth 2's (XOR with distinct masks
      // hits distinct buckets, so no (q, probe) duplicates) — so the
      // family pays ONE candidate join at the deepest ring,
      // checkpointed WITH each probe's mask bitcount, and every
      // depth's candidate set is a row-identical filter over it
      // (was one join + checkpoint per depth: 6 joins → 2).
      val masks2 = hammingMasks(planes.length, 2)
      val probes = qb.select(col("q_id"), col("q_emb"), explode(
        array(masks2.map(m => struct(
          lit(Integer.bitCount(m).toLong).as("bc"),
          col("bucket").bitwiseXOR(lit(m)).as("probe"))): _*)).as("pp"))
        .select(col("q_id"), col("q_emb"), col("pp.bc").as("bc"),
          col("pp.probe").as("probe"))
      val all = bucketed.as("a").join(probes.as("p"),
          col("a.bucket") === col("p.probe") &&
            col("a.vec_id") =!= col("p.q_id"))
        .select(col("p.q_id"), col("a.vec_id"), col("bc"),
          round(VectorExprs.cosineFast(col("a.embedding"), col("p.q_emb")), 6)
            .as("cos_sim"))
        .cut("Similarity.lshFrontier: candidates") // read by every depth's count + top-5
      Seq(0, 1, 2).map { d =>
        frontierRow(all.filter(col("bc") <= d).drop("bc"), bf, nq,
          s"${label}_h$d",
          Seq("nplanes" -> planes.length.toLong, "probe_depth" -> d.toLong))
      }
    }
    // the two plane families' bucket + candidate chains fork
    Tables.inParallel("Similarity.lshFrontier", Seq(
      "lsh4" -> { () => family("lsh4", Planes) },
      "lsh8" -> { () => family("lsh8", Planes177) }))
      .flatten.reduce(_.unionByName(_))
  }

  /** The sign-LSH bucket of vector `v` over `planes`: bit i set iff
    * the dot product with plane i is ≥ 0 (the [[SignBands]] bit). */
  private def bucketBitsSql(v: String, planes: Seq[Seq[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${dotSql(v, listSql(p))} >= 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")

  /** A codebook as `UNNEST`-able `struct_pack(cid, <field>)` rows. */
  private def codebookStructsSql(cents: Seq[Seq[Double]], field: String): String =
    cents.zipWithIndex
      .map { case (c, i) => s"struct_pack(cid := $i, $field := ${listSql(c)})" }
      .mkString(",\n    ")

  /** The list of `embedding`'s cosines with every codeword, in codebook
    * order — argmax'd, or sliced to the adaptive prefix, at use sites. */
  private[operators] def codebookCosinesSql(cents: Seq[Seq[Double]]): String =
    cents.map(c => cosineSql("embedding", listSql(c)))
      .mkString("[\n      ", ",\n      ", "]")

  /** q83's DuckDB oracle is CODE-GENERATED from the same quantized
    * plane constants the Spark expression uses (the oracle replays
    * the full composed algorithm: band keys → Hamming-1 probe
    * equi-join → exact-cosine verify → recursive-CTE closure). Sign
    * bits are cross-engine stable because every |dot| in the corpus
    * is ≥ ~1e-6 (asserted by SemanticClusterSpec) while any summation
    * -order float noise is ~1e-13. */
  private def oracle83: String = {
    val keyCols = (0 until Bands83).map { l =>
      val bits = bucketBitsSql("embedding", Planes83.slice(l * Bits83, (l + 1) * Bits83))
      s"($bits) AS k$l"
    }.mkString(",\n    ")
    val bandStructs = (0 until Bands83)
      .map(l => s"struct_pack(i := $l, k := k$l)").mkString(", ")
    val probeList = ("band_key" +: (0 until Bits83)
      .map(j => s"xor(band_key, ${1 << j})")).mkString(", ")
    s"""WITH RECURSIVE keys AS (
       |  SELECT vec_id,
       |    $keyCols
       |  FROM embeddings),
       |bands AS (
       |  SELECT vec_id, u.i AS band_id, u.k AS band_key
       |  FROM keys, UNNEST([$bandStructs]) AS t(u)),
       |probes AS (
       |  SELECT vec_id, band_id,
       |    unnest([$probeList]) AS probe
       |  FROM bands),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM probes a JOIN bands b
       |    ON a.band_id = b.band_id AND a.probe = b.band_key
       |    AND a.vec_id < b.vec_id),
       |pairs AS (
       |  SELECT vec_a, vec_b FROM cand
       |  JOIN embeddings ea ON ea.vec_id = cand.vec_a
       |  JOIN embeddings eb ON eb.vec_id = cand.vec_b
       |  WHERE round(${cosineSql("ea.embedding", "eb.embedding")}, 6) >= 0.4),
       |edges AS (
       |  SELECT vec_a AS src, vec_b AS dst FROM pairs
       |  UNION SELECT vec_b, vec_a FROM pairs),
       |walk AS (
       |  SELECT src AS vec_id, src AS reach FROM edges
       |  UNION
       |  SELECT w.vec_id, e.dst
       |  FROM walk w JOIN edges e ON w.reach = e.src)
       |SELECT vec_id, min(reach) AS cluster_id
       |FROM walk GROUP BY vec_id""".stripMargin
  }

  /** q87's oracle replays the adaptive algorithm end-to-end: the band
    * width b comes from count(*) via the same integer-exact
    * power-of-two ladder as [[adaptiveBits]]; plane j contributes to
    * its band key only when j < b (≡ the Spark side's key mask);
    * probes flip only the b active bits; then exact-cosine verify at
    * 0.9, recursive-CTE closure, and a LEFT JOIN assigning singleton
    * vectors their own id. Sign-bit stability is the q83 argument
    * (SemanticClusterSpec asserts the PlanesA margin tri-scale). */
  private def oracle87: String = {
    s"""WITH RECURSIVE pairs AS MATERIALIZED (
       |  ${nestSql(adaptivePairsSqlOver("embeddings", "0.9"))}
       |),
       |edges AS (
       |  SELECT vec_a AS src, vec_b AS dst FROM pairs
       |  UNION SELECT vec_b, vec_a FROM pairs),
       |walk AS (
       |  SELECT src AS vec_id, src AS reach FROM edges
       |  UNION
       |  SELECT w.vec_id, e.dst
       |  FROM walk w JOIN edges e ON w.reach = e.src),
       |cl AS (
       |  SELECT vec_id, min(reach) AS cluster_id
       |  FROM walk GROUP BY vec_id)
       |SELECT e.vec_id, coalesce(cl.cluster_id, e.vec_id) AS cluster_id
       |FROM embeddings e LEFT JOIN cl ON e.vec_id = cl.vec_id""".stripMargin
  }

  /** The q87 adaptive sign-LSH verified pair set over `src` at the
    * given threshold, as a self-contained SELECT (vec_a, vec_b) —
    * factored from oracle87 so the q196 vector-quality benchmark can
    * replay the scale path over its planted variant corpus. */
  private[operators] def adaptivePairsSqlOver(src: String,
      thresholdSql: String): String = {
    // ceil(log2(c)) + 4 clamped to [8, 24], as integer comparisons
    val ladder = (5 to 19).map(k => s"WHEN c <= ${1L << k} THEN ${k + 4}")
      .mkString(" ")
    val keyCols = (0 until BandsA).map { l =>
      val bits = (0 until MaxBitsA).map { j =>
        val dot = dotSql("embedding", listSql(PlanesA(l * MaxBitsA + j)))
        s"(CASE WHEN $j < b AND $dot >= 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"CAST($bits AS BIGINT) AS k$l"
    }.mkString(",\n    ")
    val bandStructs = (0 until BandsA)
      .map(l => s"struct_pack(i := $l, k := k$l)").mkString(", ")
    s"""WITH nb AS (
       |  SELECT CASE WHEN c <= 16 THEN 8 $ladder ELSE 24 END AS b
       |  FROM (SELECT count(*) AS c FROM $src)),
       |keys AS (
       |  SELECT vec_id,
       |    $keyCols
       |  FROM $src, nb),
       |bands AS (
       |  SELECT vec_id, u.i AS band_id, u.k AS band_key
       |  FROM keys, UNNEST([$bandStructs]) AS t(u)),
       |probes AS (
       |  SELECT vec_id, band_id,
       |    unnest([band_key] || list_transform(range(b),
       |      j -> xor(band_key, CAST(1 << j AS BIGINT)))) AS probe
       |  FROM bands, nb),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM probes a JOIN bands b
       |    ON a.band_id = b.band_id AND a.probe = b.band_key
       |    AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b FROM cand
       |JOIN $src ea ON ea.vec_id = cand.vec_a
       |JOIN $src eb ON eb.vec_id = cand.vec_b
       |WHERE round(${cosineSql("ea.embedding", "eb.embedding")}, 6) >= $thresholdSql""".stripMargin
  }

  /** q86's oracle replays the whole IVF path from the same 3-decimal
    * codebook literals (Centroids86): per-vector argmax-cosine
    * assignment, the query's top-4 probe cells (same dot/(|a||b|)
    * operation shape, index tie-break), and the round-6 exact
    * re-rank. Cross-engine float noise (~1e-13) is harmless because
    * SimilaritySpec asserts the argmax and probe-rank margins are
    * orders of magnitude wider. */
  private def oracle86: String = {
    s"""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
       |cents AS (
       |  SELECT u.cid AS cid, u.c AS c
       |  FROM UNNEST([${codebookStructsSql(Centroids86.table, "c")}]) AS t(u)),
       |probes AS (
       |  SELECT cid FROM cents, q
       |  ORDER BY ${cosineSql("q_emb", "c")} DESC, cid
       |  LIMIT 4),
       |assigned AS (
       |  SELECT vec_id, label, embedding,
       |    CAST(list_position(l, list_max(l)) - 1 AS INTEGER) AS cell
       |  FROM (SELECT vec_id, label, embedding, ${codebookCosinesSql(Centroids86.table)} AS l
       |        FROM embeddings))
       |SELECT a.vec_id, a.label,
       |  round(${cosineSql("a.embedding", "q_emb")}, 6) AS cos_sim
       |FROM assigned a, q
       |WHERE a.vec_id <> 0 AND a.cell IN (SELECT cid FROM probes)
       |ORDER BY cos_sim DESC, a.vec_id
       |LIMIT 10""".stripMargin
  }

  /** q94's oracle: the oracle86 machinery in batch form — per-vector
    * argmax assignment, PER-QUERY probe ranking via a window (an
    * independent derivation of the engine's per-row struct-sort), and
    * the round-6 re-rank + per-query top-5 window. */
  private def oracle94: String = {
    s"""WITH cents AS (
       |  SELECT u.cid AS cid, u.c AS c
       |  FROM UNNEST([${codebookStructsSql(Centroids86.table, "c")}]) AS t(u)),
       |assigned AS (
       |  SELECT vec_id, label, embedding,
       |    CAST(list_position(l, list_max(l)) - 1 AS INTEGER) AS cell
       |  FROM (SELECT vec_id, label, embedding, ${codebookCosinesSql(Centroids86.table)} AS l
       |        FROM embeddings)),
       |queries AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
       |  WHERE vec_id % 50 = 0),
       |qsims AS (
       |  SELECT q_id, q_emb, cid, ${cosineSql("q_emb", "c")} AS qc
       |  FROM queries, cents),
       |qcells AS (
       |  SELECT q_id, q_emb, cid FROM (
       |    SELECT q_id, q_emb, cid,
       |      row_number() OVER (PARTITION BY q_id ORDER BY qc DESC, cid) AS pr
       |    FROM qsims)
       |  WHERE pr <= 6),
       |cand AS (
       |  SELECT p.q_id, a.vec_id, a.label,
       |    round(${cosineSql("a.embedding", "p.q_emb")}, 6) AS cos_sim
       |  FROM qcells p JOIN assigned a
       |    ON a.cell = p.cid AND a.vec_id <> p.q_id)
       |SELECT q_id, vec_id, label, cos_sim, CAST(rank AS BIGINT) AS rank
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos_sim DESC, vec_id) AS rank
       |  FROM cand)
       |WHERE rank <= 5""".stripMargin
  }

  /** q169: the q94 oracle nested verbatim as the IVF side (the q93
    * nested-WITH scoping), the brute-force side one query-sample ×
    * corpus window, integer intersection. */
  private def oracle169: String = {
    s"""WITH ivf AS MATERIALIZED (
       |  ${nestSql(oracle94)}
       |),
       |queries AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
       |  WHERE vec_id % 50 = 0),
       |bf AS MATERIALIZED (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q.q_id, e.vec_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY round(${cosineSql("e.embedding", "q.q_emb")}, 6) DESC,
       |                 e.vec_id) AS rank
       |    FROM queries q JOIN embeddings e ON e.vec_id <> q.q_id)
       |  WHERE rank <= 5),
       |hits AS (
       |  SELECT q_id, count(*) AS n_hits
       |  FROM bf JOIN ivf USING (q_id, vec_id) GROUP BY q_id)
       |SELECT q.q_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
       |  CAST((1000000 * coalesce(n_hits, 0)) // 5 AS BIGINT) AS recall_ppm
       |FROM queries q LEFT JOIN hits USING (q_id)""".stripMargin
  }

  /** q175: every config replayed from the same codebook literals in
    * ONE flat WITH — shared bf / assignment / probe-ranking CTEs
    * MATERIALIZED (each is read by 4–9 downstream legs; DuckDB's
    * default CTE inlining would re-evaluate them per reference — the
    * CLAUDE.md q144 lesson), per-config chains name-prefixed. */
  private def oracle175: String = {
    val (body, sel) = ivfFrontierSqlParts
    s"""WITH $body
       |$sel""".stripMargin
  }

  /** The q175 derivation factored as (WITH-body, final-SELECT): the
    * shared scaffold (queries/bf/cc/codebooks/assignments/probe
    * ranks, all MATERIALIZED) plus the 9 per-config chains — each
    * config's candidate set survives as `<p>cand` (prefixes f0..f3 /
    * a0..a3 / asq in [[FrontierProbes]] order) so the q195 auto-tuned
    * kNN oracle can reuse the WHOLE derivation: the frontier table
    * for its selection AND the candidate sets for the selected
    * config's top-5. */
  private[operators] def ivfFrontierSqlParts: (String, String) =
    ivfFrontierSqlPartsOver("embeddings")

  /** The q175 frontier as ONE self-contained SELECT over any
    * embeddings-shaped relation `src` — for nesting as a scoped
    * subquery (the oracle197 convention), so two instantiations (a
    * full-corpus one and a slice one) can coexist in one oracle
    * without CTE-name collisions (q204). */
  private[operators] def ivfFrontierSqlOver(src: String): String = {
    val (body, sel) = ivfFrontierSqlPartsOver(src)
    s"""WITH $body
       |$sel""".stripMargin
  }

  private def ivfFrontierSqlPartsOver(src: String): (String, String) = {
    // per-config chain: candidates from the codebook's shared ranked
    // CTEs at this config's probe budget, then the count + top-5-hit
    // scalar row (cand MATERIALIZED: two scalar-subquery reads)
    def cfg(p: String, label: String, rankCte: String, assignCte: String,
        ncellsSql: String, npSql: String): String =
      s"""${p}cand AS MATERIALIZED (
         |  SELECT r.q_id, a.vec_id,
         |    round(${cosineSql("a.embedding", "r.q_emb")}, 6) AS cos_sim
         |  FROM $rankCte r JOIN $assignCte a
         |    ON a.cell = r.cid AND a.vec_id <> r.q_id
         |  WHERE r.pr <= ($npSql)),
         |${p}row AS (
         |  SELECT '$label' AS config, CAST(($ncellsSql) AS BIGINT) AS ncells,
         |    CAST(($npSql) AS BIGINT) AS nprobe,
         |    (SELECT CAST(count(*) AS BIGINT) FROM ${p}cand) AS candidates,
         |    (SELECT CAST(count(*) AS BIGINT) FROM bf JOIN (
         |       SELECT q_id, vec_id FROM (
         |         SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |           ORDER BY cos_sim DESC, vec_id) AS rank FROM ${p}cand)
         |       WHERE rank <= 5) i USING (q_id, vec_id)) AS sum_hits)"""
        .stripMargin
    val fixedCfgs = FrontierProbes.zipWithIndex.map { case (np, i) =>
      cfg(s"f$i", s"ivf16_p$np", "fqrank", "fassigned", "16", np.toString)
    }
    val adaptCfgs = FrontierProbes.zipWithIndex.map { case (np, i) =>
      cfg(s"a$i", s"ivfA_p$np", "aqrank", "aassigned",
        "SELECT ncells FROM cc", np.toString)
    } :+ cfg("asq", "ivfA_sqrt", "aqrank", "aassigned",
      "SELECT ncells FROM cc",
      "SELECT CASE WHEN ncells <= 16 THEN 6 WHEN ncells <= 32 THEN 8 ELSE 12 END FROM cc")
    val rowUnion = (FrontierProbes.indices.map(i => s"f${i}row") ++
      FrontierProbes.indices.map(i => s"a${i}row") :+ "asqrow")
      .map(r => s"SELECT * FROM $r").mkString("\n  UNION ALL ")
    s"""queries AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb FROM $src
       |  WHERE vec_id % 50 = 0),
       |nq AS (SELECT count(*) AS n FROM queries),
       |bf AS MATERIALIZED (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q.q_id, e.vec_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY round(${cosineSql("e.embedding", "q.q_emb")}, 6) DESC,
       |                 e.vec_id) AS rank
       |    FROM queries q JOIN $src e ON e.vec_id <> q.q_id)
       |  WHERE rank <= 5),
       |cc AS (
       |  SELECT CASE WHEN count(*) <= 512 THEN 16
       |              WHEN count(*) <= 1024 THEN 32
       |              ELSE 64 END AS ncells
       |  FROM $src),
       |fcents AS (
       |  SELECT u.cid AS cid, u.ce AS ce
       |  FROM UNNEST([${codebookStructsSql(Centroids86.table, "ce")}]) AS t(u)),
       |acents AS (
       |  SELECT u.cid AS cid, u.ce AS ce
       |  FROM UNNEST([${codebookStructsSql(Centroids94.table, "ce")}]) AS t(u)),
       |fassigned AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    CAST(list_position(l, list_max(l)) - 1 AS INTEGER) AS cell
       |  FROM (SELECT vec_id, embedding, ${codebookCosinesSql(Centroids86.table)} AS l
       |        FROM $src)),
       |aassigned AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    CAST(list_position(lc, list_max(lc)) - 1 AS INTEGER) AS cell
       |  FROM (SELECT vec_id, embedding,
       |          (${codebookCosinesSql(Centroids94.table)})[1:ncells] AS lc
       |        FROM $src, cc)),
       |fqrank AS MATERIALIZED (
       |  SELECT q_id, q_emb, cid,
       |    row_number() OVER (PARTITION BY q_id ORDER BY qc DESC, cid) AS pr
       |  FROM (SELECT q_id, q_emb, cid, ${cosineSql("q_emb", "ce")} AS qc
       |        FROM queries, fcents)),
       |aqrank AS MATERIALIZED (
       |  SELECT q_id, q_emb, cid,
       |    row_number() OVER (PARTITION BY q_id ORDER BY qc DESC, cid) AS pr
       |  FROM (SELECT q_id, q_emb, cid, ${cosineSql("q_emb", "ce")} AS qc
       |        FROM queries, acents, cc WHERE cid < ncells)),
       |${(fixedCfgs ++ adaptCfgs).mkString(",\n")}""".stripMargin ->
      s"""SELECT config, ncells, nprobe, candidates, sum_hits,
       |  CAST((1000000 * sum_hits) // (5 * n) AS BIGINT) AS recall_ppm
       |FROM ($rowUnion), nq""".stripMargin
  }

  /** q177: the LSH frontier replayed — bucket bits from the same
    * 3-decimal plane literals (per family, over corpus AND queries,
    * each MATERIALIZED: read by 3 depth configs), probe
    * neighborhoods as literal XOR-mask lists, shared bf truth, and
    * the same per-config row shape as oracle175. */
  private def oracle177: String = {
    def cfg(p: String, label: String, bCte: String, qCte: String,
        nplanes: Int, depth: Int): String = {
      val probeList = hammingMasks(nplanes, depth)
        .map(m => s"xor(bucket, $m)").mkString(", ")
      s"""${p}cand AS MATERIALIZED (
         |  SELECT r.q_id, a.vec_id,
         |    round(${cosineSql("a.embedding", "r.q_emb")}, 6) AS cos_sim
         |  FROM (SELECT q_id, q_emb, unnest([$probeList]) AS probe
         |        FROM $qCte) r
         |  JOIN $bCte a ON a.bucket = r.probe AND a.vec_id <> r.q_id),
         |${p}row AS (
         |  SELECT '$label' AS config, CAST($nplanes AS BIGINT) AS nplanes,
         |    CAST($depth AS BIGINT) AS probe_depth,
         |    (SELECT CAST(count(*) AS BIGINT) FROM ${p}cand) AS candidates,
         |    (SELECT CAST(count(*) AS BIGINT) FROM bf JOIN (
         |       SELECT q_id, vec_id FROM (
         |         SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |           ORDER BY cos_sim DESC, vec_id) AS rank FROM ${p}cand)
         |       WHERE rank <= 5) i USING (q_id, vec_id)) AS sum_hits)"""
        .stripMargin
    }
    val cfgs =
      Seq(0, 1, 2).map(d => cfg(s"l4d$d", s"lsh4_h$d", "b4", "q4", 4, d)) ++
        Seq(0, 1, 2).map(d => cfg(s"l8d$d", s"lsh8_h$d", "b8", "q8", 8, d))
    val rowUnion = (Seq(0, 1, 2).map(d => s"l4d${d}row") ++
      Seq(0, 1, 2).map(d => s"l8d${d}row"))
      .map(r => s"SELECT * FROM $r").mkString("\n  UNION ALL ")
    s"""WITH queries AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
       |  WHERE vec_id % 50 = 0),
       |nq AS (SELECT count(*) AS n FROM queries),
       |bf AS MATERIALIZED (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q.q_id, e.vec_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY round(${cosineSql("e.embedding", "q.q_emb")}, 6) DESC,
       |                 e.vec_id) AS rank
       |    FROM queries q JOIN embeddings e ON e.vec_id <> q.q_id)
       |  WHERE rank <= 5),
       |b4 AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    (${bucketBitsSql("embedding", Planes)}) AS bucket
       |  FROM embeddings),
       |q4 AS MATERIALIZED (
       |  SELECT q_id, q_emb, (${bucketBitsSql("q_emb", Planes)}) AS bucket
       |  FROM queries),
       |b8 AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    (${bucketBitsSql("embedding", Planes177)}) AS bucket
       |  FROM embeddings),
       |q8 AS MATERIALIZED (
       |  SELECT q_id, q_emb, (${bucketBitsSql("q_emb", Planes177)}) AS bucket
       |  FROM queries),
       |${cfgs.mkString(",\n")}
       |SELECT config, nplanes, probe_depth, candidates, sum_hits,
       |  CAST((1000000 * sum_hits) // (5 * n) AS BIGINT) AS recall_ppm
       |FROM ($rowUnion), nq""".stripMargin
  }

  /** Shared adaptive-codebook oracle (q94b / q94c): oracle94 with the
    * ADAPTIVE prefix — the cell count comes from count(*) through the
    * same integer ladder as [[adaptiveCells]], the per-vector argmax
    * slices the full 64-cosine list to the active prefix, and probe
    * ranking only considers cells below the count. `nprobeSql` is the
    * probe-budget expression (may reference `ncells` from the `cc`
    * CTE): a literal 6 for q94b, the [[adaptiveNProbe]] CASE ladder
    * for q94c. */
  private[operators] def oracle94Adaptive(nprobeSql: String,
      src: String = "embeddings", pre: String = ""): String = {
    s"""WITH ${pre}cc AS (
       |  SELECT CASE WHEN count(*) <= 512 THEN 16
       |              WHEN count(*) <= 1024 THEN 32
       |              ELSE 64 END AS ncells
       |  FROM $src),
       |cents AS (
       |  SELECT u.cid AS cid, u.ce AS ce
       |  FROM UNNEST([${codebookStructsSql(Centroids94.table, "ce")}]) AS t(u)),
       |assigned AS (
       |  SELECT vec_id, label, embedding,
       |    CAST(list_position(lc, list_max(lc)) - 1 AS INTEGER) AS cell
       |  FROM (SELECT vec_id, label, embedding, (${codebookCosinesSql(Centroids94.table)})[1:ncells] AS lc
       |        FROM $src, cc)),
       |queries AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb FROM $src
       |  WHERE vec_id % 50 = 0),
       |qsims AS (
       |  SELECT q_id, q_emb, cid, ${cosineSql("q_emb", "ce")} AS qc
       |  FROM queries, cents, cc WHERE cid < ncells),
       |qcells AS (
       |  SELECT q_id, q_emb, cid FROM (
       |    SELECT q_id, q_emb, cid,
       |      row_number() OVER (PARTITION BY q_id ORDER BY qc DESC, cid) AS pr
       |    FROM qsims), cc
       |  WHERE pr <= ($nprobeSql)),
       |cand AS (
       |  SELECT p.q_id, a.vec_id, a.label,
       |    round(${cosineSql("a.embedding", "p.q_emb")}, 6) AS cos_sim
       |  FROM qcells p JOIN assigned a
       |    ON a.cell = p.cid AND a.vec_id <> p.q_id)
       |SELECT q_id, vec_id, label, cos_sim, CAST(rank AS BIGINT) AS rank
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos_sim DESC, vec_id) AS rank
       |  FROM cand)
       |WHERE rank <= 5""".stripMargin
  }

  /** The [[adaptiveNProbe]] ladder in SQL — references `ncells` from
    * the shared adaptive oracle's `cc` CTE. */
  private val nprobeLadderSql =
    "CASE WHEN ncells <= 16 THEN 6 WHEN ncells <= 32 THEN 8 ELSE 12 END"

  /** q102's oracle: the adaptive cell assignment (same Centroids94
    * literals + count(*) ladder as oracle94Adaptive), then the
    * within-cell pair scan and the kept flag — pure relational
    * algebra over the round-6 cosine, so removals replay exactly. */
  /** The q102 SemDeDup CTE bodies (`cc` cell-count ladder, `assigned`
    * cell assignment, `removed` higher-id ≥-threshold pairs) over
    * relation `src` — shared by oracle102 and the composed-pipeline
    * fragment, so cell model and removals replay identically wherever
    * the stage runs. */
  private def semDedupCtesSql(src: String, threshold: String): String = {
    s"""cc AS (
       |  SELECT CASE WHEN count(*) <= 512 THEN 16
       |              WHEN count(*) <= 1024 THEN 32
       |              ELSE 64 END AS ncells
       |  FROM $src),
       |assigned AS (
       |  SELECT vec_id, embedding,
       |    CAST(list_position(lc, list_max(lc)) - 1 AS BIGINT) AS cell
       |  FROM (SELECT vec_id, embedding, (${codebookCosinesSql(Centroids94.table)})[1:ncells] AS lc
       |        FROM $src, cc)),
       |removed AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM assigned a JOIN assigned b
       |    ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE round(${cosineSql("a.embedding", "b.embedding")}, 6) >= $threshold)""".stripMargin
  }

  /** [[semDedupRemoved]]'s oracle over relation `src` — the q143
    * composed oracle chains the SemDeDup drop set from it. */
  private[operators] def semDedupRemovedSql(src: String, threshold: String): String =
    s"""WITH ${semDedupCtesSql(src, threshold)}
       |SELECT vec_id FROM removed""".stripMargin

  private def oracle102: String =
    s"""WITH ${semDedupCtesSql("embeddings", "0.4")}
       |SELECT a.vec_id, a.cell,
       |  CAST(CASE WHEN r.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM assigned a LEFT JOIN removed r ON a.vec_id = r.vec_id""".stripMargin

  /** q113's oracle: the q102 cell machinery (same Centroids94
    * literals + count(*) ladder) with the q70 md5 split rule, the
    * within-cell train×test containment scan and the per-train-vector
    * hit stats — pure relational algebra over the round-6 cosine. */
  private def oracle113: String = {
    s"""WITH cc AS (
       |  SELECT CASE WHEN count(*) <= 512 THEN 16
       |              WHEN count(*) <= 1024 THEN 32
       |              ELSE 64 END AS ncells
       |  FROM embeddings),
       |assigned AS (
       |  SELECT vec_id, embedding,
       |    CAST(list_position(lc, list_max(lc)) - 1 AS BIGINT) AS cell,
       |    CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) < 'cccccccc'
       |           THEN 'train'
       |         WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) < 'e6666666'
       |           THEN 'val'
       |         ELSE 'test' END AS grp
       |  FROM (SELECT vec_id, embedding, (${codebookCosinesSql(Centroids94.table)})[1:ncells] AS lc
       |        FROM embeddings, cc)),
       |hits AS (
       |  SELECT t.vec_id, count(*) AS n_test_hits,
       |    max(round(${cosineSql("t.embedding", "b.embedding")}, 6)) AS mx
       |  FROM assigned t JOIN assigned b
       |    ON t.cell = b.cell AND t.grp = 'train' AND b.grp = 'test'
       |  WHERE round(${cosineSql("t.embedding", "b.embedding")}, 6) >= 0.4
       |  GROUP BY t.vec_id)
       |SELECT t.vec_id, t.cell,
       |  CAST(coalesce(n_test_hits, 0) AS BIGINT) AS n_test_hits,
       |  coalesce(mx, -1.0) AS max_cos,
       |  CAST(CASE WHEN h.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
       |    AS contaminated
       |FROM assigned t LEFT JOIN hits h ON t.vec_id = h.vec_id
       |WHERE t.grp = 'train'""".stripMargin
  }

  /** q116's oracle: the shared cell-assignment CTEs, the splitmix64
    * draw replayed bit-exactly, one shard window with K leads, and
    * the per-slot UNION — pure relational algebra. */
  private def oracle116: String = {
    val uSql = graft.functions.SplitMix64.uniformSql("vec_id", NegSalt)
    val leads = (1 to NegK).map(j =>
      s"lead(vec_id, $j) OVER w AS n$j, lead(cell, $j) OVER w AS c$j")
      .mkString(",\n    ")
    val slots = (1 to NegK).map(j =>
      s"""SELECT vec_id, shard, CAST($j AS BIGINT) AS slot, n$j AS neg_id
         |FROM led WHERE n$j IS NOT NULL AND c$j <> cell""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH cc AS (
       |  SELECT CASE WHEN count(*) <= 512 THEN 16
       |              WHEN count(*) <= 1024 THEN 32
       |              ELSE 64 END AS ncells
       |  FROM embeddings),
       |assigned AS (
       |  SELECT vec_id, embedding,
       |    CAST(list_position(lc, list_max(lc)) - 1 AS BIGINT) AS cell
       |  FROM (SELECT vec_id, embedding, (${codebookCosinesSql(Centroids94.table)})[1:ncells] AS lc
       |        FROM embeddings, cc)),
       |sh AS (
       |  SELECT vec_id, cell, u,
       |    CAST(floor(u * $NegShards) AS BIGINT) AS shard
       |  FROM (SELECT vec_id, cell, $uSql AS u FROM assigned)),
       |led AS (
       |  SELECT vec_id, cell, shard,
       |    $leads
       |  FROM sh WINDOW w AS (PARTITION BY shard ORDER BY u, vec_id))
       |$slots""".stripMargin
  }

  /** q49's oracle: bucket bits from the same quantized planes, the
    * query's Hamming-1 probe set, exact-cosine re-rank — the oracle83
    * bucket machinery composed with the q47 top-10 select. */
  private def oracle49: String = {
    val probeList = ("qbucket" +: Planes.indices
      .map(i => s"xor(qbucket, ${1 << i})")).mkString(", ")
    s"""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
       |keys AS (
       |  SELECT vec_id, label, embedding, (${bucketBitsSql("embedding", Planes)}) AS bucket
       |  FROM embeddings),
       |qb AS (SELECT bucket AS qbucket FROM keys WHERE vec_id = 0),
       |probes AS (SELECT unnest([$probeList]) AS probe FROM qb)
       |SELECT k.vec_id, k.label, round(${cosineSql("k.embedding", "q_emb")}, 6) AS cos_sim
       |FROM keys k, q
       |WHERE k.vec_id <> 0 AND k.bucket IN (SELECT probe FROM probes)
       |ORDER BY cos_sim DESC, k.vec_id
       |LIMIT 10""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q83_embedding_clusters_lsh" -> oracle83,
    "q87_semantic_dedup_adaptive" -> oracle87,
    "q86_ann_ivf" -> oracle86,
    "q94_knn_join" -> oracle94,
    "q169_ann_recall" -> oracle169,
    "q175_ann_frontier" -> oracle175,
    "q177_lsh_frontier" -> oracle177,
    "q94b_knn_join_adaptive" -> oracle94Adaptive("6"),
    "q94c_knn_join_nprobe" -> oracle94Adaptive(nprobeLadderSql),
    "q102_semdedup" -> oracle102,
    "q113_embedding_decontam" -> oracle113,
    "q116_inbatch_negatives" -> oracle116,
    "q49_ann_lsh" -> oracle49,
    "q47_cosine_topk" ->
      s"""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, label,
        |  round(${cosineSql("embedding", "q_emb")}, 6) AS cos_sim
        |FROM embeddings, q
        |WHERE vec_id <> 0
        |ORDER BY cos_sim DESC, vec_id
        |LIMIT 10""".stripMargin,

    "q82_embedding_clusters" ->
      s"""WITH RECURSIVE p AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    round(${cosineSql("a.embedding", "b.embedding")}, 6) AS cos_sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
        |pairs AS (SELECT vec_a, vec_b FROM p WHERE cos_sim >= 0.4),
        |edges AS (
        |  SELECT vec_a AS src, vec_b AS dst FROM pairs
        |  UNION SELECT vec_b, vec_a FROM pairs),
        |walk AS (
        |  SELECT src AS vec_id, src AS reach FROM edges
        |  UNION
        |  SELECT w.vec_id, e.dst
        |  FROM walk w JOIN edges e ON w.reach = e.src)
        |SELECT vec_id, min(reach) AS cluster_id
        |FROM walk GROUP BY vec_id""".stripMargin,

    "q48_embedding_neardup" ->
      s"""WITH p AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    round(${cosineSql("a.embedding", "b.embedding")}, 6) AS cos_sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, cos_sim FROM p WHERE cos_sim >= 0.4""".stripMargin,
  )
}
