package graft.operators

import graft.Cut._
import graft.functions.SplitMix64Kernel
import graft.multimodal.{ImageGen, Media, Multimodal}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q156 — the multimodal→dedup bridge: image NEAR-DUP pairs via the
  * engine's existing fingerprint family. q151 closed
  * documents → vectors → ANN; this closes the binary column the same
  * way: decode → quantized integer feature vector
  * ([[graft.multimodal.Multimodal.imageIntFeatures]]: channel means
  * + luminance histogram, all integer div) → 64-plane sign-LSH
  * fingerprint → 4×16-bit chunk-collision candidates (the q79
  * pigeonhole machinery: complete for Hamming ≤ 3) → exact integer
  * L1 verify on candidates only.
  *
  * The honest seam (the q50 precedent, round-8 verdict #4): DuckDB
  * cannot decode PNG, so the gate splits where determinism allows —
  * the engine decodes `fixtures/images.parquet` live and the oracle
  * replays features → pairs from the spec-pinned
  * `fixtures/image_features.parquet` (generated by one tool run of
  * the SAME feature code: graft.tools.GenImageFixture);
  * MultimodalSpec pins decode → features bit-exact on drawn images
  * and fixture ≡ live recompute row-for-row. Inputs are
  * scale-independent fixtures, so the gate checks the identical
  * operator at every sf.
  *
  * Exactness: features are integers; plane coefficients and centering
  * constants are SHARED LITERALS (the q83 quantized-hyperplane
  * playbook) embedded in both engines; dots/bits/chunks/Hamming/L1
  * are pure integer arithmetic — bit-exact replay by construction.
  *
  * Scale shape (the 100 TB posture): the 1216-literal plane table and
  * 19-row center table only ever broadcast; the dot products are one
  * keyed groupBy (map-side combined: 19 products per (image, plane)
  * partial); chunk candidates are an equi-join on the collision key
  * (never all-pairs — the q46/q79 shape); Hamming + L1 verify joins
  * are candidate-sized.
  */
object ImageDedup {
  type Q = (SparkSession, String) => DataFrame

  /** Fixture location (checked into the repo; regenerate with
    * `Test/runMain graft.tools.GenImageFixture`). Resolved at runtime
    * — `graft.fixtures.dir` property, then `GRAFT_FIXTURES_DIR`, then
    * `<cwd>/fixtures` — so the gate queries and their generated oracle
    * SQL (which interpolates this path) survive a repo relocation
    * (round-9 advice #1). */
  private[graft] val FixturesDir: String =
    sys.props.get("graft.fixtures.dir")
      .orElse(sys.env.get("GRAFT_FIXTURES_DIR"))
      .getOrElse(new java.io.File(
        sys.props.getOrElse("user.dir", "."), "fixtures").getAbsolutePath)
  private[graft] val ImagesPath = s"$FixturesDir/images.parquet"
  private[graft] val FeaturesPath = s"$FixturesDir/image_features.parquet"

  private[graft] val Planes = 64
  private[graft] val FeatDims = 19
  private[graft] val HammingMax = 3

  /** Exact-verify bound: candidates (fingerprint Hamming ≤ 3) are
    * NEAR-dups only if their integer feature L1 distance is within
    * this — a one-pixel-scale edit on a 32×24 image moves the
    * features by a few thousand; genuinely different compositions
    * measure ≥ ~240k on this corpus (measured) — orders of magnitude
    * of separation. */
  private[graft] val L1Max = 60000L

  /** Centering constants per dim — sign-LSH needs spread directions,
    * and raw mean/histogram vectors all live in the positive orthant
    * (every pair would collide). Fixed literals, NOT data-dependent:
    * half the level range for the mean dims, the uniform-histogram
    * share for the 16 ppm dims. */
  private[graft] val Center: IndexedSeq[Long] =
    IndexedSeq(127500L, 127500L, 127500L) ++ IndexedSeq.fill(16)(62500L)

  /** Integer hyperplane coefficients in [−1000, 1000], derived once
    * from the splitmix64 stream (pure Scala constants shared with the
    * generated oracle — both engines see identical literals). */
  private[graft] val PlaneCoef: IndexedSeq[(Int, Int, Long)] =
    for { j <- 0 until Planes; d <- 0 until FeatDims } yield {
      val m = SplitMix64Kernel.mix(0x156A5EEDL + j * 32L + d)
      (j, d, ((m % 2001) + 2001) % 2001 - 1000)
    }

  /** (id, d, v) → near-dup pairs (id_a, id_b, hamming, l1_dist),
    * Hamming ≤ [[HammingMax]]. Composable over ANY integer feature
    * frame — the spec feeds it planted vectors, and the audio family
    * (q161/q162, graft.operators.AudioDedup) rides it with its own
    * plane/center literals. */
  private[graft] def featurePairs(f: DataFrame): DataFrame =
    signLshPairs(f, PlaneCoef, Center, L1Max)

  /** (id, d, v) → (id, vec) with vec the d-ordered integer feature
    * array — the gather feeding the codegen kernels. collect_list is
    * order-nondeterministic; array_sort on the (d, v) structs (d
    * unique per id) restores the canonical order. */
  private[graft] def vecOf(f: DataFrame): DataFrame =
    f.groupBy(col("id"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("v")))),
        x => x.getField("v")).as("vec"))

  /** Per-id fingerprint frame (id, vec, arr) over an exploded integer
    * feature frame — the array-form carrier of the r14 kernels: `vec`
    * feeds the exact-L1 verify ([[graft.functions.ArrL1]]), `arr` the
    * chunk-collision join + row-local Hamming
    * ([[graft.functions.ChunkHamming]]). ONE kernel pass per corpus;
    * callers cut. */
  private[graft] def fpOf(f: DataFrame, planeCoef: Seq[(Int, Int, Long)],
      center: Seq[Long]): DataFrame =
    vecOf(f).select(col("id"), col("vec"),
      graft.functions.MediaChunks(col("vec"), planeCoef, center).as("arr"))

  /** The shared centered-sign-LSH near-dup kernel over an exploded
    * integer feature frame (id, d, v): per-id fingerprint arrays →
    * chunk-collision candidates → Hamming + exact L1 verify. */
  private[graft] def signLshPairs(f0: DataFrame,
      planeCoef: Seq[(Int, Int, Long)], center: Seq[Long],
      l1Max: Long): DataFrame = {
    // r14 optimization (guide §2.4/§5): the feature frame feeds the
    // chunk stage AND both sides of the exact-L1 verify; the chunk
    // frame feeds both sides of the candidate self-join AND both
    // sides of the Hamming re-join. Unmaterialized, Catalyst plans
    // the decode+chunk pipeline once PER REFERENCE (q164 before-plan:
    // a 177-node tree with six copies of the subtree, zero
    // ReusedExchange) — for the synthesized-media corpora that is up
    // to six draw+decode passes per query. One eager cut each makes
    // the decode run exactly once; the candidate set is cut too (it
    // is read by the Hamming AND the L1 legs).
    // the per-id fingerprint frame: feature array + chunk array in
    // one row — computed ONCE (decode runs inside this cut), read by
    // both sides of the collision join and both sides of the L1
    // verify
    val fp = fpOf(f0, planeCoef, center).cut("ImageDedup.signLshPairs: fingerprints")
    val ex = fp.select(col("id"), col("arr"), posexplode(col("arr")))
      .select(col("id"), col("arr"),
        col("pos").cast("long").as("chunk_id"), col("col").as("chunk"))
    // r14 optimization (guide §2.3 / §3.2): the collision join carries
    // BOTH fingerprints, so Hamming is computed row-locally by the
    // ChunkHamming codegen kernel and the old per-chunk re-join +
    // 8-rows-per-pair aggregation (plus the candidate distinct) is one
    // groupBy (collisions on several chunks yield the same value —
    // min dedups). The CHEAP Hamming accept then runs BEFORE the
    // exact-L1 verify: conjunctive filters commute, so the result is
    // identical, but the verify shrinks from |candidates| (measured
    // 900,693 at sf0.1 — the 16-bit chunk keyspace saturates on
    // structured features, the documented q46 birthday floor) to
    // |Hamming ≤ 3| pairs (~n/8 planted + ~0 organic).
    val hamOk = ex.as("a").join(ex.as("b"),
        col("a.chunk_id") === col("b.chunk_id") &&
          col("a.chunk") === col("b.chunk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        graft.functions.ChunkHamming(col("a.arr"), col("b.arr"))
          .as("hamming"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("hamming")).as("hamming"))
      .filter(col("hamming") <= HammingMax)
      .cut("ImageDedup.signLshPairs: Hamming candidates")
    hamOk
      .join(fp.select(col("id").as("id_a"), col("vec").as("va")), Seq("id_a"))
      .join(fp.select(col("id").as("id_b"), col("vec").as("vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("hamming"),
        graft.functions.ArrL1(col("va"), col("vb")).as("l1_dist"))
      .filter(col("l1_dist") <= l1Max)
      .select(col("id_a"), col("id_b"), col("hamming"), col("l1_dist"))
  }

  /** The live engine path: decode the PNG fixture corpus, extract the
    * integer features, fingerprint, pair. */
  private[graft] def imageNearDups(s: SparkSession): DataFrame = {
    import s.implicits._
    // spread: the one-file fixture scan is a single split — decode
    // would otherwise run on one core (no-op at real scale)
    val media = graft.Tables.spread(s.read.parquet(ImagesPath), col("id"))
      .select(col("id"), lit("image/png").as("media_type"),
        col("payload"), map().cast("map<string,string>").as("meta"))
      .as[Media]
    featurePairs(Multimodal.imageIntFeatures(media).toDF())
  }

  /** q164 — the SCALE-TIED image corpus (round-9 verdict #2): one
    * drawn PNG per `documents` row ([[graft.multimodal.ImageGen]]
    * .drawScaled, composition seeded by doc_id, near-dup pairs
    * planted for 1-in-[[graft.multimodal.ImageGen.PairMod]] id
    * groups), so the corpus is 500/500/5000 images at
    * sf0.001/0.01/0.1 and the candidate equi-join sees real data
    * growth. The engine path is FULLY real — draw → PNG encode →
    * javax.imageio decode → integer features → the shared kernel —
    * while the oracle replays the features in closed form (region
    * arithmetic over the same splitmix64 parameter stream,
    * ImageGen.featureSql): a stronger seam than the pinned-fixture
    * q156 gate, because the feature values are now derived
    * independently by both engines rather than written once and read
    * twice. Scale shape: the draw+decode is map-side over the
    * documents scan (one row per doc, no shuffle added); everything
    * downstream is the audited q156 kernel. Takes any
    * documents-shaped frame (needs `doc_id`): the q176 compiled
    * pipeline's `image_neardups` node binds the DAG's loaded table
    * here instead of re-reading the directory. */
  private[graft] def scaledImagesFrom(docs: DataFrame)
      : org.apache.spark.sql.Dataset[Media] = {
    val s = docs.sparkSession
    import s.implicits._
    // spread: the single-split corpus scan would otherwise run the
    // whole draw+PNG-encode pass on one core (no-op at real scale)
    graft.Tables.spread(docs.select(col("doc_id")), col("doc_id"))
      .as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false) // once per partition
        it.map(id =>
          Media(id, "image/png", ImageGen.drawScaled(id), Map.empty))
      }
  }

  private[graft] def scaledImageNearDups(s: SparkSession,
      dir: String): DataFrame =
    scaledNearDupsFrom(graft.Tables.load(s, dir, "documents"))

  private[graft] def scaledNearDupsFrom(docs: DataFrame): DataFrame =
    featurePairs(Multimodal.imageIntFeatures(scaledImagesFrom(docs)).toDF())

  /** q178 — incremental MEDIA ingest (round 12): the q145/q154
    * production pattern applied to the multimodal kernel — new media
    * arrives and is deduplicated against the standing library
    * WITHOUT re-pairing the library against itself. The scaled image
    * corpus splits by the deterministic md5 rule (standing ≈ 80% /
    * increment ≈ 20%); the standing side's fingerprint chunks are
    * the INDEX; each increment's chunks probe it through ONE
    * (chunk_id, chunk)-keyed equi-join (never increment × library);
    * Hamming + exact-L1 verify on candidates only; per increment:
    * match count, best standing match (min L1, ties → lowest id —
    * the q145 two-step relational argmax), and the duplicate flag.
    * Scale shape: index probe cost is increment-sized × bucket
    * occupancy; both join sides corpus-scale → hinted off broadcast
    * (the q145 lesson); decode runs ONCE (features checkpointed —
    * they feed the chunk stage AND the L1 verify). The kernel is
    * modality-generic (the audio/video literals drop in unchanged);
    * the gate runs the image instantiation. */
  private[graft] def imageIncremental(s: SparkSession,
      dir: String): DataFrame = {
    val docs = graft.Tables.load(s, dir, "documents")
    incrementalIngest(
      Multimodal.imageIntFeatures(scaledImagesFrom(docs)).toDF(),
      docs.select(col("doc_id").as("id")), PlaneCoef, Center, L1Max)
  }

  /** The modality-GENERIC incremental ingest (q178 image / q179
    * audio): features + id universe + the modality's kernel literals
    * → the per-increment report, with the standing/increment split by
    * the deterministic md5 rule. See [[imageIncremental]]'s gate
    * comment for the shape. */
  private[graft] def incrementalIngest(features: DataFrame,
      ids: DataFrame, planeCoef: Seq[(Int, Int, Long)],
      center: Seq[Long], l1Max: Long): DataFrame = {
    // r14 optimization (array form — the signLshPairs batch-4 shape
    // applied to the ingest side): ONE fingerprint pass builds the
    // per-id (vec, arr) frame, cut where the old form cut TWO
    // exploded frames (features + chunks) and re-joined them
    // per-chunk / per-dim in the verify legs. Decode still runs
    // exactly once (inside this cut).
    val fp = fpOf(features, planeCoef, center).cut("ImageDedup.incrementalIngest: fingerprints")
    def h(c: org.apache.spark.sql.Column) =
      substring(md5(c.cast("string")), 1, 8)
    val std = h(col("id")) < "cccccccc"
    ingestFlags(ids.filter(h(col("id")) >= "cccccccc"),
      fp.filter(!std), fp.filter(std), l1Max)
  }

  /** The two-sided ingest core shared by the batch gates (q178/q179)
    * and the streaming form (graft.streaming.MediaStreams): increment
    * fingerprints probe a STANDING index's fingerprints through one
    * (chunk_id, chunk)-keyed equi-join, Hamming + exact-L1 verify on
    * candidates, per-increment census + two-step argmax report over
    * `incIds` (1-col `id`). Both sides are [[fpOf]] frames (id, vec,
    * arr). Per-increment flags depend only on the increment row and
    * the standing side — so micro-batched unions ≡ the batch report
    * BY CONSTRUCTION (MediaStreamsSpec proves it row-for-row).
    *
    * r14 optimization (array form): the collision join carries BOTH
    * fingerprint arrays, so Hamming runs row-locally (ChunkHamming)
    * and the old candidate `distinct()` + two per-chunk re-joins
    * collapse into one groupBy-min; the exact-L1 verify joins the two
    * per-id vec frames (ArrL1, row-local) instead of re-joining the
    * 19-rows-per-side exploded features. Identical integers — the
    * oracle SQL is untouched. */
  private[graft] def ingestFlags(incIds: DataFrame,
      fpInc: DataFrame, fpStd: DataFrame, l1Max: Long): DataFrame = {
    // both join sides corpus-scale → hinted off broadcast (q145 lesson)
    val hamOk = fpInc.select(col("id").as("inc_id"), col("arr").as("aa"),
        posexplode(col("arr")))
      .select(col("inc_id"), col("aa"),
        col("pos").cast("long").as("chunk_id"), col("col").as("chunk"))
      .hint("shuffle_merge")
      .join(fpStd.select(col("id").as("std_id"), col("arr").as("ab"),
          posexplode(col("arr")))
        .select(col("std_id"), col("ab"),
          col("pos").cast("long").as("chunk_id"), col("col").as("chunk"))
        .hint("shuffle_merge"), Seq("chunk_id", "chunk"))
      .select(col("inc_id"), col("std_id"),
        graft.functions.ChunkHamming(col("aa"), col("ab")).as("hamming"))
      .groupBy(col("inc_id"), col("std_id"))
      .agg(min(col("hamming")).as("hamming"))
      .filter(col("hamming") <= HammingMax)
    // cut: read by the count agg AND the argmax resolve
    val verified = hamOk
      .join(fpInc.select(col("id").as("inc_id"), col("vec").as("va")),
        Seq("inc_id"))
      .join(fpStd.select(col("id").as("std_id"), col("vec").as("vb")),
        Seq("std_id"))
      .select(col("inc_id"), col("std_id"),
        graft.functions.ArrL1(col("va"), col("vb")).as("l1_dist"))
      .filter(col("l1_dist") <= l1Max)
      .cut("ImageDedup.ingestFlags: verified pairs")
    val agg = verified.groupBy(col("inc_id"))
      .agg(count(lit(1)).as("n_matches"), min(col("l1_dist")).as("best_l1"))
    val bestId = verified
      .join(agg.select(col("inc_id"), col("best_l1")), Seq("inc_id"))
      .filter(col("l1_dist") === col("best_l1"))
      .groupBy(col("inc_id")).agg(min(col("std_id")).as("best_match_id"))
    incIds.select(col("id").as("inc_id"))
      .join(agg.join(bestId, Seq("inc_id")).hint("shuffle_merge"),
        Seq("inc_id"), "left")
      .select(col("inc_id").as("doc_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("best_match_id"), lit(-1L)).as("best_match_id"),
        coalesce(col("best_l1"), lit(-1L)).as("best_l1"),
        when(col("n_matches").isNotNull, 1L).otherwise(0L).as("is_dup"))
  }

  val queries: Map[String, Q] = Map(
    // -- image near-dup pairs over the checked-in PNG corpus; the
    //    engine decodes live, the oracle replays from the spec-pinned
    //    feature fixture (scale-independent inputs by design). --
    "q156_image_neardup" -> { (s, _) => imageNearDups(s) },

    // -- q178: incremental media ingest — the ~20% md5 increment of
    //    the scaled corpus deduplicated against the ~80% standing
    //    index through one chunk-keyed probe join; per increment the
    //    match census and best standing match. Oracle replays the
    //    closed-form features, the md5 split, and the probe. --
    "q178_image_incremental" -> { (s, dir) => imageIncremental(s, dir) },

    // -- the image DEDUP MANIFEST (round 9): q156's pairs composed
    //    through the SAME pointer-doubling CC + canonical-upweight
    //    machinery the text corpus uses (q69/q149) — one canonical
    //    image per near-dup cluster carrying the cluster size,
    //    singletons at 1, Σ multiplicity = |images|. The image family
    //    now runs end-to-end: decode → features → LSH → pairs →
    //    clusters → training manifest, exactly like text. --
    "q160_image_dedup_manifest" -> { (s, _) => imageManifest(s) },

    // -- q164: the scale-tied image corpus — one PNG per documents
    //    row, drawn + decoded live; oracle replays the features in
    //    closed form (no fixture). Output rows GROW with sf. --
    "q164_image_neardup_scaled" -> { (s, dir) =>
      scaledImageNearDups(s, dir)
    },
  )

  /** q160: q156 pairs → q69-style CC labels → q149-style canonical +
    * multiplicity manifest over the image ids. Scale shape: rides
    * [[featurePairs]] (candidate-bounded) + the established
    * pointer-doubling CC (per-round cut); the additions
    * are one cluster-keyed groupBy, one cluster-keyed join, one
    * id-keyed anti-join — linear keyed work. */
  private[graft] def imageManifest(s: SparkSession): DataFrame =
    manifestFrom(s.read.parquet(ImagesPath).select(col("id")),
      imageNearDups(s))

  /** pairs(id_a, id_b, …) + id universe → the canonical-upweight
    * manifest (shared by the image q160 and audio q162 gates). */
  private[graft] def manifestFrom(ids: DataFrame,
      nearDups: DataFrame): DataFrame = {
    val pairs = nearDups
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val labels = graft.dedup.ConnectedComponents.clusterLabels(pairs)
      .cut("ImageDedup.manifestFrom: cluster labels")
    val csize = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("m"))
    val reps = labels.filter(col("doc_id") === col("cluster_id"))
      .join(csize, "cluster_id")
      .select(col("doc_id").as("id"), col("m"))
    val singles = ids
      .join(labels.select(col("doc_id").as("id")), Seq("id"), "left_anti")
      .select(col("id"), lit(1L).as("m"))
    reps.unionByName(singles)
      .select(col("id"), col("m").as("multiplicity"))
  }

  // ---- generated DuckDB oracle (same literals, same integer math) --

  /** CTE chain ending at `pairs(id_a, id_b, hamming, l1_dist)` —
    * shared by the q156/q160 oracles, and (parameterized) by the
    * audio family's q161/q162. */
  private def pairCtes: String =
    signLshPairSql(FeaturesPath, PlaneCoef, Center, L1Max)

  private[operators] def signLshPairSql(featPath: String,
      planeCoef: Seq[(Int, Int, Long)], center: Seq[Long],
      l1Max: Long): String =
    s"""f AS (
       |  SELECT id, d, v FROM read_parquet('$featPath/*.parquet')),
       |${signLshChainSql(planeCoef, center, l1Max)}""".stripMargin

  /** The chunk stage's CTEs alone (`planes`/`ctr`/`dot`/`chunks`
    * from `f(id, d, v)`) — the SQL mirror of the `arr` chunk array
    * [[fpOf]] computes, shared by the full pair chain and the q178
    * incremental oracle. */
  private[operators] def chunkCtesSql(
      planeCoef: Seq[(Int, Int, Long)], center: Seq[Long]): String = {
    val planeVals = planeCoef
      .map { case (j, d, c) => s"($j,$d,$c)" }.mkString(",")
    val ctrVals = center.zipWithIndex
      .map { case (v, d) => s"($d,$v)" }.mkString(",")
    s"""planes(j, d, c) AS (VALUES $planeVals),
       |ctr(d, ctr) AS (VALUES $ctrVals),
       |dot AS (
       |  SELECT f.id, p.j, sum(p.c * (f.v - ctr.ctr)) AS s
       |  FROM f JOIN ctr ON ctr.d = f.d JOIN planes p ON p.d = f.d
       |  GROUP BY f.id, p.j),
       |chunks AS MATERIALIZED (
       |  SELECT id, j // 16 AS chunk_id,
       |    CAST(sum(CASE WHEN s > 0 THEN 1 << (j % 16) ELSE 0 END) AS BIGINT)
       |      AS chunk
       |  FROM dot GROUP BY 1, 2)""".stripMargin
  }

  /** The kernel chain from `f(id, d, v)` (assumed in an enclosing
    * scope — a fixture read for q156/q161, the closed-form ImageGen
    * CTEs for q164) to `pairs(id_a, id_b, hamming, l1_dist)`. */
  private[operators] def signLshChainSql(
      planeCoef: Seq[(Int, Int, Long)], center: Seq[Long],
      l1Max: Long): String = {
    s"""${chunkCtesSql(planeCoef, center)},
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM chunks a JOIN chunks b
       |    ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.id < b.id),
       |ham AS (
       |  SELECT c.id_a, c.id_b,
       |    sum(bit_count(xor(ca.chunk, cb.chunk))) AS hamming
       |  FROM cand c
       |  JOIN chunks ca ON ca.id = c.id_a
       |  JOIN chunks cb ON cb.id = c.id_b AND cb.chunk_id = ca.chunk_id
       |  GROUP BY 1, 2),
       |l1 AS (
       |  SELECT c.id_a, c.id_b, sum(abs(fa.v - fb.v)) AS l1_dist
       |  FROM cand c
       |  JOIN f fa ON fa.id = c.id_a
       |  JOIN f fb ON fb.id = c.id_b AND fb.d = fa.d
       |  GROUP BY 1, 2),
       |pairs AS MATERIALIZED (
       |  SELECT h.id_a, h.id_b, CAST(h.hamming AS BIGINT) AS hamming,
       |    CAST(l.l1_dist AS BIGINT) AS l1_dist
       |  FROM ham h JOIN l1 l ON h.id_a = l.id_a AND h.id_b = l.id_b
       |  WHERE h.hamming <= $HammingMax AND l.l1_dist <= $l1Max)""".stripMargin
  }

  /** The recursive CC + canonical-upweight manifest replay over
    * `pairs` and an id universe — shared by q160/q162/q166 (parquet
    * id universes) and q167 (an arbitrary ids SELECT). */
  private[operators] def manifestSql(idsPath: String): String =
    manifestSqlOver(
      s"SELECT id FROM read_parquet('$idsPath/*.parquet')")

  private[operators] def manifestSqlOver(idsSql: String): String =
    s"""edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |walk AS (
       |  SELECT src AS id, src AS reach FROM edges
       |  UNION
       |  SELECT w.id, e.dst FROM walk w JOIN edges e ON w.reach = e.src),
       |labels AS (SELECT id, min(reach) AS cluster_id FROM walk GROUP BY id),
       |ids AS ($idsSql)
       |SELECT l.id, CAST(m AS BIGINT) AS multiplicity FROM labels l
       |JOIN (SELECT cluster_id, count(*) AS m FROM labels
       |      GROUP BY cluster_id) cs ON l.cluster_id = cs.cluster_id
       |WHERE l.id = l.cluster_id
       |UNION ALL
       |SELECT id, 1 AS multiplicity FROM ids
       |WHERE id NOT IN (SELECT id FROM labels)""".stripMargin

  private def oracle156: String =
    s"""WITH $pairCtes
       |SELECT id_a, id_b, hamming, l1_dist FROM pairs""".stripMargin

  /** q160: the shared pair chain + the q69/q149 recursive CC +
    * canonical-upweight replay over the fixture ids. */
  private def oracle160: String =
    s"""WITH RECURSIVE $pairCtes,
       |${manifestSql(ImagesPath)}""".stripMargin

  /** q164: the closed-form feature CTEs (the oracle derives the
    * features from doc_id by region arithmetic — no fixture read)
    * feeding the shared kernel chain. */
  private def oracle164: String =
    s"""WITH ${ImageGen.featureSql},
       |${signLshChainSql(PlaneCoef, Center, L1Max)}
       |SELECT id_a, id_b, hamming, l1_dist FROM pairs""".stripMargin

  /** q178: the closed-form features + the shared chunk CTEs, the md5
    * split replayed, the chunk-keyed probe join, Hamming + L1 verify,
    * and the two-step argmax report. `verified` MATERIALIZED (read by
    * the census AND the argmax resolve). */
  private def oracle178: String =
    s"""WITH ${ImageGen.featureSql},
       |${chunkCtesSql(PlaneCoef, Center)},
       |${incrementalChainSql(L1Max)}""".stripMargin

  /** The generic incremental-ingest replay from `f(id, d, v)` +
    * `chunks` CTEs (assumed upstream) to the per-increment report —
    * the SQL mirror of [[incrementalIngest]], shared by the image
    * (q178) and audio (q179) oracles. */
  private[operators] def incrementalChainSql(l1Max: Long): String =
    s"""stdc AS (
       |  SELECT id AS std_id, chunk_id, chunk FROM chunks
       |  WHERE substr(md5(CAST(id AS VARCHAR)), 1, 8) < 'cccccccc'),
       |incc AS (
       |  SELECT id AS inc_id, chunk_id, chunk FROM chunks
       |  WHERE substr(md5(CAST(id AS VARCHAR)), 1, 8) >= 'cccccccc'),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT i.inc_id, s.std_id
       |  FROM incc i JOIN stdc s
       |    ON i.chunk_id = s.chunk_id AND i.chunk = s.chunk),
       |ham AS (
       |  SELECT c.inc_id, c.std_id,
       |    sum(bit_count(xor(ca.chunk, cb.chunk))) AS hamming
       |  FROM cand c
       |  JOIN chunks ca ON ca.id = c.inc_id
       |  JOIN chunks cb ON cb.id = c.std_id AND cb.chunk_id = ca.chunk_id
       |  GROUP BY 1, 2),
       |l1 AS (
       |  SELECT c.inc_id, c.std_id, sum(abs(fa.v - fb.v)) AS l1_dist
       |  FROM cand c
       |  JOIN f fa ON fa.id = c.inc_id
       |  JOIN f fb ON fb.id = c.std_id AND fb.d = fa.d
       |  GROUP BY 1, 2),
       |verified AS MATERIALIZED (
       |  SELECT h.inc_id, h.std_id, CAST(l.l1_dist AS BIGINT) AS l1_dist
       |  FROM ham h JOIN l1 l
       |    ON h.inc_id = l.inc_id AND h.std_id = l.std_id
       |  WHERE h.hamming <= $HammingMax AND l.l1_dist <= $l1Max),
       |ag AS (
       |  SELECT inc_id, CAST(count(*) AS BIGINT) AS n_matches,
       |    min(l1_dist) AS best_l1
       |  FROM verified GROUP BY inc_id),
       |bi AS (
       |  SELECT v.inc_id, min(v.std_id) AS best_match_id
       |  FROM verified v JOIN ag
       |    ON v.inc_id = ag.inc_id AND v.l1_dist = ag.best_l1
       |  GROUP BY v.inc_id)
       |SELECT d.doc_id,
       |  coalesce(n_matches, 0) AS n_matches,
       |  coalesce(best_match_id, -1) AS best_match_id,
       |  coalesce(best_l1, -1) AS best_l1,
       |  CAST(CASE WHEN ag.inc_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
       |    AS is_dup
       |FROM (SELECT doc_id FROM documents
       |      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
       |        >= 'cccccccc') d
       |LEFT JOIN ag ON ag.inc_id = d.doc_id
       |LEFT JOIN bi ON bi.inc_id = d.doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q156_image_neardup" -> oracle156,
    "q160_image_dedup_manifest" -> oracle160,
    "q164_image_neardup_scaled" -> oracle164,
    "q178_image_incremental" -> oracle178,
  )
}
