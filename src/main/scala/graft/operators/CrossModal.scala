package graft.operators

import graft.Cut._
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q167 — the CROSS-MODAL training manifest (round-9 verdict #4): the
  * single table a multimodal data mix is planned against. q140
  * fingerprints text sources, q149/q159 budget text dedup, and
  * q160/q162/q166 manifest images/audio/video separately; this
  * composes them — per (source, modality): raw items, canonical
  * items after near-dup dedup, and the multiplicity-weighted
  * EFFECTIVE item count (a cluster's whole weight lands on its
  * canonical's source — the q159 budget-transfer semantics, now
  * cross-modal).
  *
  * Modality inputs are the families' OWN gate machinery, composed —
  * not re-derived: text = q149's `Dedup.dedupUpweight`; image = the
  * q164 SCALE-TIED corpus (one drawn PNG per documents row, so image
  * ids ARE doc_ids and inherit the real `source` column — the image
  * modality budget is per-source and grows with sf); audio/video =
  * the fixture corpora (q161/q165) under the constant source
  * 'fixtures' (they carry no source column — the honest label, not
  * an invented mapping).
  *
  * Scale shape: each modality's manifest is its audited gate shape
  * unchanged; the additions are one id-keyed merge join and one
  * source-keyed map-side-combined census per modality, then a
  * unionByName of ≤(|sources|+1)-row frames — nothing new shuffles
  * at corpus scale. Conservation (spec-pinned): per modality,
  * Σ n_effective = Σ n_items. */
object CrossModal {
  type Q = (SparkSession, String) => DataFrame

  /** Per-(source) census of a manifest: raw items from the id
    * universe, canonicals + multiplicity-weighted effective items
    * from the manifest (attributed to the CANONICAL's source). */
  private def census(ids: DataFrame, man: DataFrame,
      modality: String): DataFrame = {
    val raw = ids.groupBy(col("source")).agg(count(lit(1)).as("n_items"))
    val eff = man.join(ids.hint("shuffle_merge"), "id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_canonical"),
        sum(col("multiplicity")).as("n_effective"))
    raw.join(eff, Seq("source"), "left")
      .select(col("source"), lit(modality).as("modality"),
        col("n_items"),
        coalesce(col("n_canonical"), lit(0L)).as("n_canonical"),
        coalesce(col("n_effective"), lit(0L)).as("n_effective"))
  }

  private[graft] def crossModalManifest(s: SparkSession,
      dir: String): DataFrame = {
    // text + image share the documents id universe (and its sources);
    // checkpoint it once — four censuses and two manifest pipelines
    // read it
    val docs = Tables.load(s, dir, "documents")
    val srcIds = docs.select(col("doc_id").as("id"), col("source"))
      .cut("CrossModal.crossModalManifest: source ids")
    val textMan = Dedup.dedupUpweight(docs)
      .select(col("doc_id").as("id"), col("multiplicity"))
    val imgMan = ImageDedup.manifestFrom(srcIds.select(col("id")),
      ImageDedup.scaledImageNearDups(s, dir))
    val audIds = s.read.parquet(AudioDedup.AudioPath)
      .select(col("id"), lit("fixtures").as("source"))
    val audMan = ImageDedup.manifestFrom(audIds.select(col("id")),
      AudioDedup.audioNearDups(s))
    val vidIds = s.read.parquet(VideoDedup.VideoPath)
      .select(col("id"), lit("fixtures").as("source"))
    val vidMan = ImageDedup.manifestFrom(vidIds.select(col("id")),
      VideoDedup.videoNearDups(s))
    census(srcIds, textMan, "text")
      .unionByName(census(srcIds, imgMan, "image"))
      .unionByName(census(audIds, audMan, "audio"))
      .unionByName(census(vidIds, vidMan, "video"))
  }

  /** q167b — the manifest with ALL FOUR modalities per REAL source
    * (round-11 verdict #2): the q171/q173 scale-tied corpora make
    * audio/video ids doc_ids too, so every modality inherits
    * `documents.source` and the planner's table shows real
    * cross-source weight transfer in each row. q167 keeps the fixture
    * audio/video corpora under the honest 'fixtures' label (those
    * clips genuinely carry no source); this variant is the
    * fully-scaled sibling. Scale shape: each modality's manifest is
    * its audited scaled gate shape (q149/q164/q171/q173) unchanged;
    * the censuses are the same id-keyed merges as q167. */
  private[graft] def crossModalManifestScaled(s: SparkSession,
      dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val srcIds = docs.select(col("doc_id").as("id"), col("source"))
      .cut("CrossModal.crossModalManifestScaled: source ids")
    val ids = srcIds.select(col("id"))
    val textMan = Dedup.dedupUpweight(docs)
      .select(col("doc_id").as("id"), col("multiplicity"))
    val imgMan = ImageDedup.manifestFrom(ids,
      ImageDedup.scaledImageNearDups(s, dir))
    val audMan = ImageDedup.manifestFrom(ids,
      AudioDedup.scaledAudioNearDups(s, dir))
    val vidMan = ImageDedup.manifestFrom(ids,
      VideoDedup.scaledVideoNearDups(s, dir))
    census(srcIds, textMan, "text")
      .unionByName(census(srcIds, imgMan, "image"))
      .unionByName(census(srcIds, audMan, "audio"))
      .unionByName(census(srcIds, vidMan, "video"))
  }

  /** Two-modality census merge for the q176 compiled pipeline's
    * `manifest_merge` node: per (source, modality) raw/canonical/
    * effective over the text + image manifests. Checkpointed — the
    * downstream `effective_mix` node reads it twice (the per-modality
    * min dim and the main join), and without the cut both reads would
    * re-execute the whole text-dedup + image-decode chain. */
  private[graft] def mergeCensus(docs: DataFrame, textMan: DataFrame,
      imgMan: DataFrame): DataFrame = {
    val srcIds = docs.select(col("doc_id").as("id"), col("source"))
      .cut("CrossModal.mergeCensus: source ids")
    census(srcIds, textMan, "text")
      .unionByName(census(srcIds, imgMan, "image"))
      .cut("CrossModal.mergeCensus: census")
  }

  /** Four-modality census merge for the q183 QUAD-modal compiled
    * pipeline's `manifest_merge_quad` node — the q176 two-modality
    * merge generalized to every manifest the DAG hands it. Same
    * checkpoint contract: the downstream `effective_mix` node reads
    * the census twice. */
  private[graft] def mergeCensusQuad(docs: DataFrame, textMan: DataFrame,
      imgMan: DataFrame, audMan: DataFrame, vidMan: DataFrame): DataFrame = {
    val srcIds = docs.select(col("doc_id").as("id"), col("source"))
      .cut("CrossModal.mergeCensusQuad: source ids")
    census(srcIds, textMan, "text")
      .unionByName(census(srcIds, imgMan, "image"))
      .unionByName(census(srcIds, audMan, "audio"))
      .unionByName(census(srcIds, vidMan, "video"))
      .cut("CrossModal.mergeCensusQuad: census")
  }

  /** The q170 temperature rule cross-modally, for the q176 pipeline's
    * `effective_mix` node: per (source, modality), rate =
    * floor(sqrt(min/size)·10⁶) over RAW items and over dedup-EFFECTIVE
    * items, mins taken WITHIN each modality (a mix planner balances
    * sources inside a modality; budgets across modalities are a
    * policy choice, not a temperature rule). rate_eff_ppm clamps to 0
    * when a source has no effective items (the q170 round-11 fix,
    * applied here from the start). sqrt/division/×10⁶/floor are
    * IEEE-exact cross-engine (the q89 convention). Runs on a
    * ≤(|sources|·2)-row table. */
  private[graft] def mixRatesFrom(census: DataFrame): DataFrame = {
    val mins = census.groupBy(col("modality"))
      .agg(min(col("n_items")).as("m_min"),
        coalesce(min(when(col("n_effective") > 0, col("n_effective"))),
          lit(0L)).as("e_min"))
    census.join(broadcast(mins), Seq("modality"))
      .select(col("source"), col("modality"), col("n_items"),
        col("n_canonical"), col("n_effective"),
        floor(sqrt(col("m_min").cast("double") /
          col("n_items").cast("double")) * 1000000.0)
          .cast("long").as("rate_raw_ppm"),
        when(col("n_effective") === 0, lit(0L)).otherwise(
          floor(sqrt(col("e_min").cast("double") /
            col("n_effective").cast("double")) * 1000000.0)
            .cast("long")).as("rate_eff_ppm"))
      .withColumn("rate_shift_ppm",
        col("rate_eff_ppm") - col("rate_raw_ppm"))
  }

  val queries: Map[String, Q] = Map(
    // -- the unified multimodal mixture-budget table: per (source,
    //    modality) raw/canonical/effective items across all four
    //    modality families' own dedup machinery (audio/video from the
    //    fixture corpora under the honest constant source 'fixtures';
    //    q167b beside it carries the fully per-real-source form). --
    "q167_crossmodal_manifest" -> { (s, dir) => crossModalManifest(s, dir) },

    // -- q167b: every modality scale-tied and per REAL source — the
    //    table a multimodal mix planner would actually read. --
    "q167b_crossmodal_scaled" -> { (s, dir) =>
      crossModalManifestScaled(s, dir)
    },
  )

  /** Oracle: each modality's OWN manifest oracle nested as a scoped
    * subquery (the q93 nested-WITH playbook — inner CTE names are
    * locally scoped, so the four recursive chains coexist without
    * prefixing), then the same per-source censuses and union. */
  private def oracle167: String = {
    s"""WITH text_up AS MATERIALIZED (
       |  ${nestSql(Dedup.oracles("q149_dedup_upweight"))}
       |),
       |img_man AS MATERIALIZED (
       |  WITH RECURSIVE ${nestSql(graft.multimodal.ImageGen.featureSql)},
       |  ${nestSql(ImageDedup.signLshChainSql(ImageDedup.PlaneCoef,
                ImageDedup.Center, ImageDedup.L1Max))},
       |  ${nestSql(ImageDedup.manifestSqlOver(
                "SELECT doc_id AS id FROM documents"))}
       |),
       |aud_man AS MATERIALIZED (
       |  ${nestSql(AudioDedup.oracles("q162_audio_dedup_manifest"))}
       |),
       |vid_man AS MATERIALIZED (
       |  ${nestSql(VideoDedup.oracles("q166_video_dedup_manifest"))}
       |),
       |src AS (SELECT doc_id AS id, source FROM documents),
       |tcen AS (
       |  SELECT r.source, 'text' AS modality, r.n_items,
       |    coalesce(e.n_canonical, 0) AS n_canonical,
       |    coalesce(e.n_effective, 0) AS n_effective
       |  FROM (SELECT source, CAST(count(*) AS BIGINT) AS n_items
       |        FROM src GROUP BY source) r
       |  LEFT JOIN (
       |    SELECT source, CAST(count(*) AS BIGINT) AS n_canonical,
       |      CAST(sum(multiplicity) AS BIGINT) AS n_effective
       |    FROM text_up u JOIN src s ON u.doc_id = s.id
       |    GROUP BY source) e ON r.source = e.source),
       |icen AS (
       |  SELECT r.source, 'image' AS modality, r.n_items,
       |    coalesce(e.n_canonical, 0) AS n_canonical,
       |    coalesce(e.n_effective, 0) AS n_effective
       |  FROM (SELECT source, CAST(count(*) AS BIGINT) AS n_items
       |        FROM src GROUP BY source) r
       |  LEFT JOIN (
       |    SELECT source, CAST(count(*) AS BIGINT) AS n_canonical,
       |      CAST(sum(multiplicity) AS BIGINT) AS n_effective
       |    FROM img_man m JOIN src s ON m.id = s.id
       |    GROUP BY source) e ON r.source = e.source),
       |acen AS (
       |  SELECT 'fixtures' AS source, 'audio' AS modality,
       |    (SELECT CAST(count(*) AS BIGINT)
       |     FROM read_parquet('${AudioDedup.AudioPath}/*.parquet'))
       |      AS n_items,
       |    (SELECT CAST(count(*) AS BIGINT) FROM aud_man) AS n_canonical,
       |    (SELECT CAST(sum(multiplicity) AS BIGINT) FROM aud_man)
       |      AS n_effective),
       |vcen AS (
       |  SELECT 'fixtures' AS source, 'video' AS modality,
       |    (SELECT CAST(count(*) AS BIGINT)
       |     FROM read_parquet('${VideoDedup.VideoPath}/*.parquet'))
       |      AS n_items,
       |    (SELECT CAST(count(*) AS BIGINT) FROM vid_man) AS n_canonical,
       |    (SELECT CAST(sum(multiplicity) AS BIGINT) FROM vid_man)
       |      AS n_effective)
       |SELECT * FROM tcen UNION ALL SELECT * FROM icen
       |UNION ALL SELECT * FROM acen UNION ALL SELECT * FROM vcen""".stripMargin
  }

  /** Per-source census fragment over `src(id, source)` and a manifest
    * CTE `man(idCol, multiplicity)` — the icen shape of oracle167,
    * shared by all four q167b censuses. */
  private[operators] def censusSql(man: String, modality: String,
      idCol: String): String =
    s"""SELECT r.source, '$modality' AS modality, r.n_items,
       |    coalesce(e.n_canonical, 0) AS n_canonical,
       |    coalesce(e.n_effective, 0) AS n_effective
       |  FROM (SELECT source, CAST(count(*) AS BIGINT) AS n_items
       |        FROM src GROUP BY source) r
       |  LEFT JOIN (
       |    SELECT source, CAST(count(*) AS BIGINT) AS n_canonical,
       |      CAST(sum(multiplicity) AS BIGINT) AS n_effective
       |    FROM $man m JOIN src s ON m.$idCol = s.id
       |    GROUP BY source) e ON r.source = e.source""".stripMargin

  /** q167b: all four manifests from the SCALED corpora — image/audio/
    * video derive their features in closed form (no fixture read),
    * each nested as a scoped subquery, then four per-source censuses. */
  private def oracle167b: String = {
    val idsSel = "SELECT doc_id AS id FROM documents"
    s"""WITH text_up AS MATERIALIZED (
       |  ${nestSql(Dedup.oracles("q149_dedup_upweight"))}
       |),
       |img_man AS MATERIALIZED (
       |  WITH RECURSIVE ${nestSql(graft.multimodal.ImageGen.featureSql)},
       |  ${nestSql(ImageDedup.signLshChainSql(ImageDedup.PlaneCoef,
                ImageDedup.Center, ImageDedup.L1Max))},
       |  ${nestSql(ImageDedup.manifestSqlOver(idsSel))}
       |),
       |aud_man AS MATERIALIZED (
       |  WITH RECURSIVE ${nestSql(graft.multimodal.AudioGen.featureSql)},
       |  ${nestSql(ImageDedup.signLshChainSql(AudioDedup.PlaneCoef,
                AudioDedup.Center, AudioDedup.ScaledL1Max))},
       |  ${nestSql(ImageDedup.manifestSqlOver(idsSel))}
       |),
       |vid_man AS MATERIALIZED (
       |  WITH RECURSIVE ${nestSql(graft.multimodal.VideoGen.featureSql)},
       |  ${nestSql(ImageDedup.signLshChainSql(VideoDedup.PlaneCoef,
                VideoDedup.Center, VideoDedup.ScaledL1Max))},
       |  ${nestSql(ImageDedup.manifestSqlOver(idsSel))}
       |),
       |src AS (SELECT doc_id AS id, source FROM documents),
       |tcen AS (
       |  ${nestSql(censusSql("text_up", "text", "doc_id"))}),
       |icen AS (
       |  ${nestSql(censusSql("img_man", "image", "id"))}),
       |acen AS (
       |  ${nestSql(censusSql("aud_man", "audio", "id"))}),
       |vcen AS (
       |  ${nestSql(censusSql("vid_man", "video", "id"))})
       |SELECT * FROM tcen UNION ALL SELECT * FROM icen
       |UNION ALL SELECT * FROM acen UNION ALL SELECT * FROM vcen""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q167_crossmodal_manifest" -> oracle167,
    "q167b_crossmodal_scaled" -> oracle167b,
  )
}
