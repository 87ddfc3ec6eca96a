package graft.operators

import graft.Cut._
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Plan-time auto-configuration from the frontier decision tables —
  * the selection family: q192 (config within a family: banding/IVF),
  * q195 (the selection consumed by batch kNN), q197 (the FAMILY
  * itself, from unified cost + quality), q198 (sketch MEMORY from
  * measured statistics), q200 (the accept THRESHOLD: SimHash radius)
  * — every knob TYPE a pipeline tunes, selected by a measured argmin.
  * And every selection has a CONSUMER that reads it in one plan-time
  * collect and runs the production pass at the selected config only:
  * volume → q194 (pipeline banding) / q195 (batch kNN), family →
  * q201 (auto-dispatched dedup), memory → q202 (the three sketches
  * at their auto-selected sizes), threshold → q203 (dedup at the
  * auto-selected Hamming radius).
  *
  * q192 is the pattern: the argmin a knee-reading human performs over
  * the q180 MinHash-banding and q175 IVF tables, as a relational
  * operator.
  *
  * The engine MEASURES every knob a dedup/ANN deployment tunes
  * (q175/q177/q180/q182, the round-12 frontier family); this closes
  * the loop — given a recall floor and a candidate budget (the two
  * numbers a deployment actually states up front), select the
  * CHEAPEST satisfying config from a frontier table. Selection is a
  * single deterministic total order, identical on both engines:
  *
  *   ORDER BY meets-constraints DESC,              -- feasible first
  *     (feasible ? candidates : 0) ASC,            -- cheapest feasible
  *     recall_ppm DESC,                            -- infeasible: max recall
  *     candidates ASC, pref ASC, config ASC        -- deterministic ties
  *
  * so when no config meets the floor the operator degrades to the
  * max-recall fallback rather than returning nothing (a planner must
  * always emit a config). `pref` is the per-family margin tie-break,
  * supplied WITH the frontier because only the family knows its own
  * safety direction:
  *   - bandings: rows_per_band ASC — at equal cost and measured
  *     recall, fewer rows per band means a higher collision
  *     probability at the operating threshold J = 0.5 (b16r4's
  *     per-pair candidate probability at the threshold is 0.645 vs
  *     b8r8's 0.031 — a 20× recall-margin difference the gate corpus
  *     cannot see because its planted pairs sit well above 0.5);
  *   - IVF: the adaptive √-ladder config first — it is the rule that
  *     scales (nprobe grows as √ncells), so at a measurement tie with
  *     a fixed-nprobe row the LADDER is the config a deployment ships.
  *
  * At the gate corpus (sf0.01) the selection IS the documented knee:
  * b16r4 (25 candidates, 100% recall; b8r8 ties on both measurements
  * and loses on margin) and ivfA_sqrt (the ≥0.60-recall argmin; it
  * ties ivfA_p6 at 16 cells where the ladder IS p6, and wins as the
  * ladder). At sf0.1 the ANN floor forces ivf16_p6 — the adaptive
  * codebook tops out at 0.48 recall there — which is exactly the
  * corpus-dependence the operator exists to automate (AutoConfigSpec
  * pins both selections).
  *
  * Scale shape: the frontier inputs are the audited q180/q175 plans
  * unchanged (one signature + one truth pass shared across bandings;
  * ~3 corpus scans for 9 IVF configs); the selection itself is an
  * unpartitioned window over 4 to 9 rows — plan-time state, never
  * data-scale.
  * Reference for the surveyed semantics: the reference engine's
  * parameter blocks fix these knobs statically in config
  * (/root/reference/README.md:82-103); the frontier tables + argmin
  * replace that static choice with a measured one.
  */
object AutoConfig {
  type Q = (SparkSession, String) => DataFrame

  /** Text-dedup recall floor: lossless at the operating threshold —
    * a banding may not miss any J ≥ 0.5 pair the exact verify would
    * keep. (The measured tables show losslessness is purchasable: the
    * knee config achieves it at 1/17th of b32r2's candidate volume.) */
  private[graft] val TextRecallFloorPpm = 1000000L

  /** ANN recall floor: recall@5 ≥ 0.60 — the q169 operating datum the
    * frontier family reproduces (ivf16_p6's 0.62). */
  private[graft] val AnnRecallFloorPpm = 600000L

  /** Candidate budget: a deployment-wide cap on pairs/probes scanned
    * per frontier measurement. Non-binding on the gate corpora (the
    * recall floor dominates); it exists so the operator's contract
    * states BOTH constraints a deployment does. */
  private[graft] val CandidateBudgetMax = 1000000L

  /** The relational argmin over any frontier frame carrying
    * (config, candidates, recall_ppm, pref): the one row whose
    * [[selectedFlag]] is set. Total order documented in the object
    * Scaladoc and written once, in [[selectedFlag]].
    *
    * FRESHNESS CONTRACT (round-13 verdict #4): the frontier MUST be
    * measured on (a deterministic sample of) the corpus the selection
    * will serve, in the same plan — every caller here derives it that
    * way ([[bandingChoice]]/[[ivfChoice]]/[[sampledBandingChoice]]
    * take the corpus frame itself). The selection is only as current
    * as its frontier input: the SAME rule selects ivfA_sqrt at sf0.01
    * and ivf16_p6 at sf0.1, so replaying a PERSISTED frontier from
    * another corpus (the Centroids86/94 checked-in-constant pattern,
    * applied where it must not be) silently inverts the very
    * corpus-dependence this operator exists to automate — a future
    * persisted-frontier variant needs a staleness check (corpus
    * fingerprint or re-measure-on-read), not a cached table.
    * AutoConfigSpec's freshness test demonstrates the inversion. */
  private[graft] def selectConfig(frontier: DataFrame, floorPpm: Long,
      budget: Long): DataFrame =
    // the flag is a column first: a window cannot sit inside a filter
    frontier.withColumn("selected", selectedFlag(floorPpm, budget))
      .filter(col("selected") === 1L)
      .select(col("config"), col("candidates"), col("recall_ppm"),
        lit(floorPpm).as("floor_ppm"), lit(budget).as("budget_max"),
        qualifies(floorPpm, budget).cast("long").as("meets_floor"))

  /** The q180 frontier with its margin tie-break attached. */
  private[graft] def bandingChoice(docs: DataFrame): DataFrame =
    selectConfig(
      Dedup.minhashFrontier(docs).withColumn("pref", col("rows_per_band")),
      TextRecallFloorPpm, CandidateBudgetMax)

  /** Calibration-sample modulus for the v8 pipeline's auto_banding
    * node: the frontier (including its exact-truth pass) runs on a
    * deterministic 1-in-2 id slice of the stage input, never the
    * full corpus — at 100 TB you measure the knee on a sample and
    * apply the selected banding to everything (computing the exact
    * truth corpus-wide to tune the approximation would defeat it).
    * PAIR statistics sample as p² (both endpoints must survive the
    * slice), so the modulus is set where the sampled truth stays
    * O(10) at the gate corpora (measured: 12/6/67 truth pairs across
    * the three scales at mod 2; mod 4 already starves sf0.01 down to
    * 1) — at 100 TB, with millions of true pairs, the same rule picks
    * a much harder sample. */
  private[graft] val CalibSampleMod = 2L

  /** The v8 auto_banding node: [[bandingChoice]] over the calibration
    * sample of the stage input (v8 runs it on the RAW corpus — its
    * dedup stage is the pipeline's FIRST transform; see
    * CorpusPipeline.specJsonV8 for why order matters on this corpus).
    * If the sample carried zero truth pairs every recall would be
    * 0 ppm and the fallback order (recall DESC, candidates ASC, pref
    * ASC) would degrade to the cheapest maximum-margin banding — the
    * conservative choice under no evidence, by construction
    * (AutoConfigSpec pins the regime); at the gate corpora the mod-2
    * sample MEASURES, and selects the knee with meets_floor = 1. */
  private[graft] def sampledBandingChoice(d: DataFrame): DataFrame =
    bandingChoice(d.filter(col("doc_id") % CalibSampleMod === 0))

  /** Bands encoded in a selection row's config name ("b16r4" → 16) —
    * how the v8 dedup stage decodes its plan-time collect. */
  private[graft] def bandsOf(config: String): Int =
    config.stripPrefix("b").takeWhile(_.isDigit).toInt

  /** The sampled-frontier + selection replay over relation `src`
    * (already the calibration sample) — a self-contained SELECT for
    * nesting as the v8 oracle's `sel` CTE. The frontier subquery is
    * MATERIALIZED (read by the pref projection and the ORDER BY). */
  private[operators] def bandingChoiceSqlOver(src: String): String =
    s"""WITH fr AS MATERIALIZED (
       |${Dedup.bandingFrontierSqlOver(src)}
       |),
       |frp AS (
       |  SELECT config, candidates, recall_ppm, rows_per_band AS pref
       |  FROM fr)
       |${selectSql("frp", "minhash_banding", TextRecallFloorPpm, CandidateBudgetMax)}""".stripMargin

  /** The q175 frontier with its margin tie-break attached. */
  private[graft] def ivfChoice(emb: DataFrame): DataFrame =
    selectConfig(
      Similarity.recallFrontier(emb)
        .withColumn("pref",
          when(col("config") === "ivfA_sqrt", lit(0L)).otherwise(lit(1L))),
      AnnRecallFloorPpm, CandidateBudgetMax)

  /** The q195 dispatch: instantiate the q94-family batch kNN at a
    * selection row's config — the ANN side of what q194's
    * dedup_keep_lsh does for bandings. Config names are engine-owned
    * (the q175 grid), so the parse is total over the grid. */
  private[graft] def knnAt(e: DataFrame, config: String): DataFrame = {
    // lazy: only the adaptive-codebook branches need the corpus count
    // (a full scan); the fixed-codebook ivf16_p* dispatch must not pay it
    lazy val cells = Similarity.adaptiveCells(e.count())
    // spread (r15): parallelize the single-split per-row assignment
    // + candidate join (the q94b finding; no-op at real scale)
    val es = Tables.spread(e, col("vec_id"))
    config match {
      case c if c.startsWith("ivf16_p") =>
        Similarity.knnJoinQuery(es, Centroids86.table,
          c.stripPrefix("ivf16_p").toInt)
      case "ivfA_sqrt" =>
        Similarity.knnJoinQuery(es, Centroids94.table.take(cells),
          Similarity.adaptiveNProbe(cells))
      case c =>
        Similarity.knnJoinQuery(es, Centroids94.table.take(cells),
          c.stripPrefix("ivfA_p").toInt)
    }
  }

  // ---- q197: CROSS-FAMILY dedup selection --------------------------

  /** Cross-family quality floor: ≥ 90% of the planted benchmark's
    * duplicate pairs must be recovered at cluster level. Deliberately
    * below [[TextRecallFloorPpm]]'s pair-level losslessness: cluster
    * recovery tolerates individual pair misses (clusters connect
    * through their easiest pairs — the q193 transitivity finding), so
    * the family floor states the end-to-end guarantee a deployment
    * actually needs. Measured censuses at the gate corpora: exact
    * 10⁶ ppm, minhash-b16r4 961k–984k, simhash128 2.0k–3.7k — the
    * floor separates the exact-verify families from the Hamming-proxy
    * one by two orders of magnitude. */
  private[graft] val FamilyRecallFloorPpm = 900000L

  /** A frontier row meets the recall floor within the budget. */
  private def qualifies(floorPpm: Long, budget: Long): Column =
    col("recall_ppm") >= floorPpm && col("candidates") <= budget

  /** The q192 total order as a SELECTED flag over an already-built
    * frontier frame (config, candidates, recall_ppm, pref): 1 on the
    * rank-1 row. [[selectConfig]] keeps that row; q197 gates the
    * WHOLE frontier plus both selection scenarios in one output. The
    * window is unpartitioned BY DESIGN: the frontier is ≤ 9 rows
    * (plan-time state, never data-scale). */
  private[graft] def selectedFlag(floorPpm: Long, budget: Long): Column = {
    val qual = qualifies(floorPpm, budget).cast("int")
    val w = Window.orderBy(qual.desc,
      when(qual === 1, col("candidates")).otherwise(lit(0L)).asc,
      col("recall_ppm").desc, col("candidates").asc,
      col("pref").asc, col("config").asc)
    (row_number().over(w) === 1).cast("long")
  }

  /** q197's unified frontier: per dedup FAMILY (exact / MinHash-LSH
    * b16r4 / SimHash-128 h≤3), the candidate-scan COST and the
    * cluster-recovery QUALITY census, both measured on the SAME q193
    * planted benchmark corpus — the q180/q182 cost columns and the
    * q193 quality censuses unified into one decision table, so the
    * q192 argmin can select the family itself ("which dedup do you
    * ship", automated end-to-end).
    *
    * Cost = candidate pairs SCANNED by the family's candidate
    * generator (the unit q180/q182 share): exact = the prefix-filtered
    * AllPairs candidates, minhash = b16r4 bucket collisions, simhash =
    * 128-bit chunk collisions. Each family's candidate set is built
    * ONCE (checkpointed) and read twice — the cost count and the
    * verify → CC → census chain — so the frontier pays exactly one
    * candidate pass per family. Measured at the gate corpora the
    * table says something real: simhash128 is the CHEAPEST scanner
    * (58–66 candidates vs b16r4's ~500 vs exact's ~2.2k on the
    * planted corpus) but recovers only 2–3.7k ppm of planted pairs,
    * while minhash recovers 96–98% at a fifth of exact's scan volume
    * — so the strict scenario ships b16r4 and the relaxed scenario
    * flips to the cheap family, which is precisely the trade the
    * selection operator exists to automate.
    *
    * `pref` (the per-family margin tie-break, q192 convention): the
    * strength of the family's ACCEPT criterion — exact verify on all
    * pairs (0) over exact verify on sketch candidates (1) over a
    * Hamming proxy with no verify (2); at a measured tie, ship the
    * family whose accepts cannot be wrong. */
  private[graft] def dedupFamilyFrontier(d: DataFrame): DataFrame = {
    import graft.dedup.MinHashLSH
    val corpus = DedupQuality.plantedVariants(d).cut("AutoConfig.dedupFamilyFrontier: corpus")
    def row(family: String, config: String, pref: Int, cand: DataFrame,
        pairs: DataFrame): DataFrame =
      DedupQuality.familyRow(family, corpus, pairs)
        .crossJoin(cand.agg(count(lit(1)).as("candidates")))
        .withColumn("config", lit(config))
        .withColumn("pref", lit(pref.toLong))
    // the three family chains (candidate pass → cut → verify → CC
    // walk → census) fork over the shared cut corpus
    Tables.inParallel("AutoConfig.dedupFamilyFrontier", Seq(
      "exact" -> { () =>
        val exCand = Dedup.jaccardCandidates(corpus)
          .cut("AutoConfig.dedupFamilyFrontier: exact candidates")
        row("exact", "exact", 0, exCand,
          MinHashLSH.verify(corpus, exCand, "doc_id", "text", 3, 0.5)
            .select(col("doc_a"), col("doc_b")))
      },
      "minhash" -> { () =>
        val mhCand = MinHashLSH.candidatePairs(
          MinHashLSH.bandBuckets(corpus, "doc_id", "text", 64, 16, 3))
          .cut("AutoConfig.dedupFamilyFrontier: minhash candidates")
        row("minhash", "b16r4", 1, mhCand,
          MinHashLSH.verify(corpus, mhCand, "doc_id", "text", 3, 0.5)
            .select(col("doc_a"), col("doc_b")))
      },
      "simhash128" -> { () =>
        val shCand = Dedup.simhashPairsWide(corpus)
          .cut("AutoConfig.dedupFamilyFrontier: simhash candidates")
        row("simhash128", "sim128_h3", 2, shCand,
          shCand.filter(col("hamming") <= 3)
            .select(col("doc_a"), col("doc_b")))
      })).reduce(_.unionByName(_))
  }

  // ---- q201: the family selection CONSUMED ---------------------------

  /** The q194 calibration convention applied to the FAMILY selection:
    * the cross-family frontier (planted variants, candidate costs,
    * quality censuses) is measured on the deterministic 1-in-2 id
    * slice — at 100 TB the benchmark corpus derives from a sample of
    * YOUR corpus, never the whole of it — and the q192 total order
    * picks the family at the house cluster-recall floor. Measured at
    * the gate corpora: b16r4 at every sf, meets_floor = 1 with
    * 37k–84k ppm of margin (measured in round 14). */
  private[graft] def sampledFamilyChoice(d: DataFrame): DataFrame =
    selectConfig(
      dedupFamilyFrontier(d.filter(col("doc_id") % CalibSampleMod === 0)),
      FamilyRecallFloorPpm, CandidateBudgetMax)

  /** q201 — dedup with the FAMILY auto-selected: the q197 selection
    * CONSUMED, the way q194 consumes the banding selection and q195
    * the (codebook, nprobe). One 1-row plan-time collect reads the
    * sampled selection, then the FULL corpus pays exactly one dedup
    * pass in the selected family's production shape: exact →
    * [[Dedup.dedupKeep]] (prefix-filtered verify), minhash →
    * [[Dedup.dedupKeepLsh]] at the shipped banding, simhash128 →
    * the chunk-collision Hamming ≤ 3 drop (no verify — the family's
    * accept contract). Unselected families' plans are never built. */
  private[graft] def dedupKeepAuto(d: DataFrame): DataFrame = {
    val cfg = sampledFamilyChoice(d).head.getString(0)
    val kept = cfg match {
      case "exact" => Dedup.dedupKeep(d)
      case "b16r4" => Dedup.dedupKeepLsh(d, 16)
      case _ =>
        // the other two branches spread inside their dedupKeep
        // bodies; the fingerprint pass here needs it too
        val drop = Dedup.simhashPairsWide(Tables.spread(d, col("doc_id")))
          .filter(col("hamming") <= 3)
          .select(col("doc_b").as("doc_id")).distinct()
        d.join(drop, Seq("doc_id"), "left_anti")
    }
    kept.select(lit(cfg).as("config"), col("doc_id"), col("source"),
      col("lang"))
  }

  // ---- q200: the THRESHOLD selection (SimHash radius) ---------------

  /** Radius-selection precision floor: ≥ 90% of accepted pairs must
    * be true J ≥ 0.5 near-dups. SimHash accepts on the Hamming proxy
    * WITHOUT an exact verify, so precision is the guarantee a
    * deployment states — the knob's OTHER side (recall) is then
    * maximized, not floored: the selection is "the largest Hamming
    * ball whose precision still holds", which is how a threshold is
    * actually chosen. */
  private[graft] val RadiusPrecisionFloorPpm = 900000L

  /** The relaxed scenario's floor (gated beside the strict one): at
    * 50% precision the 16-bit family's bigger balls become admissible
    * where their measured precision survives — which they do at the
    * small corpora (sim64_h3: 53–60% precision, 71–72% recall) and do
    * NOT at sf0.1 (12% — the q46 birthday floor eating the 16-bit
    * chunk keyspace). The relaxed selection is therefore
    * corpus-DEPENDENT (sim64_h3 → sim128_h3 across sf), the q192
    * switching property for the threshold knob. */
  private[graft] val RadiusPrecisionRelaxedPpm = 500000L

  /** The threshold argmin over the q182 radius frontier: among rows
    * meeting (precision floor, candidate budget), take MAX recall;
    * ties fall to the smaller accept set (the tighter ball), then the
    * cheaper scan, then config. No feasible row degrades to the
    * max-recall row with meets_floors = 0 (the q192 fallback
    * convention — a planner always emits a config). LIMIT 1 over the
    * 8-row frontier: plan-time state. */
  private[graft] def radiusChoice(fr: DataFrame, pFloor: Long,
      budget: Long): DataFrame = {
    val feas = (col("precision_ppm") >= pFloor &&
      col("candidates") <= budget).cast("int")
    fr.orderBy(feas.desc, col("recall_ppm").desc, col("accepted").asc,
        col("candidates").asc, col("config").asc)
      .limit(1)
      .select(col("config"), col("family"), col("radius"),
        col("candidates"), col("accepted"), col("truth_pairs"),
        col("hits"), col("precision_ppm"), col("recall_ppm"),
        lit(pFloor).as("precision_floor"), lit(budget).as("budget_max"),
        feas.cast("long").as("meets_floors"))
  }

  // ---- q203: the THRESHOLD selection CONSUMED ------------------------

  /** The q194/q201 calibration convention applied to the RADIUS
    * selection: the q182 frontier (both fingerprint families × all
    * four radii, precision/recall against the slice's own exact
    * truth) is measured on the deterministic 1-in-2 id slice, and
    * the q200 strict scenario (90% precision floor, max recall, the
    * largest admissible Hamming ball) picks the (family, radius) the
    * full corpus will run. */
  private[graft] def sampledRadiusChoice(d: DataFrame): DataFrame =
    radiusChoice(Dedup.simhashFrontier(
        d.filter(col("doc_id") % CalibSampleMod === 0)),
      RadiusPrecisionFloorPpm, CandidateBudgetMax)

  /** q203 — dedup at the AUTO-selected SimHash radius: the q200
    * threshold selection CONSUMED, completing the consume family
    * (volume → q194/q195, family → q201, memory → q202, threshold →
    * here). One 1-row plan-time collect reads the sampled selection,
    * then the FULL corpus pays exactly one chunk-collision pass in
    * the selected FAMILY at the selected RADIUS — the SimHash accept
    * contract (Hamming proxy, no verify), with both the fingerprint
    * width and the ball size derived from the measured frontier
    * rather than convention. The unselected family's plan is never
    * built. */
  private[graft] def dedupKeepAutoRadius(d: DataFrame): DataFrame = {
    val sel = sampledRadiusChoice(d).head
    val cfg = sel.getString(0)
    val fam = sel.getString(1)
    val radius = sel.getLong(2)
    // spread: parallelize the full-corpus fingerprint pass
    val wd = Tables.spread(d, col("doc_id"))
    val pairs =
      if (fam == "sim64") Dedup.simhashPairs(wd) else Dedup.simhashPairsWide(wd)
    val drop = pairs.filter(col("hamming") <= radius)
      .select(col("doc_b").as("doc_id")).distinct()
    d.join(drop, Seq("doc_id"), "left_anti")
      .select(lit(cfg).as("config"), col("doc_id"), col("source"),
        col("lang"))
  }

  // ---- q204: PERSISTED frontier + freshness check --------------------

  /** Corpus membership fingerprint for frontier artifacts: row count
    * plus an order-independent XOR fold of the per-id splitmix64
    * hashes (the q140 manifest's fp_xor, keyed on vec_id) — one
    * aggregate scan, 64-bit-integer exact on both engines,
    * partitioning-independent by XOR commutativity. Contract: ids are
    * immutable handles (the corpus's own convention), so the stamp
    * invalidates on any membership change — append, delete,
    * resample — which is exactly the event that moves a frontier
    * (the q192 inversion is corpus-size- and content-driven through
    * membership). In-place mutation of an id's vector without an id
    * change is outside the contract, as it is for the q140 manifest's
    * per-source fingerprints over doc ids + bytes. */
  private[graft] def corpusFingerprint(e: DataFrame): DataFrame =
    e.select(shiftrightunsigned(graft.functions.SplitMix64.strHash(
        col("vec_id").cast("string")), 11).as("hu"))
      .agg(count(lit(1)).as("fp_n"), expr("bit_xor(hu)").as("fp_x"))

  /** A PERSISTED-frontier artifact: the q175 frontier rows stamped
    * with the fingerprint of the corpus they were measured on. This
    * is the production shape the q192 freshness contract calls for —
    * at 100 TB the frontier is measured once and SAVED, not re-run
    * per query, and the stamp is what makes that safe. */
  private[graft] def stampedIvfFrontier(e: DataFrame): DataFrame =
    Similarity.recallFrontier(e)
      .crossJoin(broadcast(corpusFingerprint(e)))

  /** q204 — the freshness check as an OPERATOR (round-13 verdict #4
    * beyond documentation): validate a persisted artifact's stamp
    * against the SERVING corpus's fingerprint; on match, select from
    * the persisted rows (no corpus-scale measurement — the artifact
    * pays for itself); on mismatch, RE-MEASURE the frontier on the
    * serving corpus and select from the fresh table — the stale
    * artifact is never allowed to pick the config. Both the
    * comparison and the dispatch are plan-time (two 1-row collects);
    * the re-measure branch is the audited q175 plan unchanged. */
  private[graft] def selectIvfChecked(artifact: DataFrame,
      e: DataFrame, fpServing: Option[org.apache.spark.sql.Row] = None,
      measured: Option[DataFrame] = None): DataFrame = {
    val st = artifact.select(col("fp_n"), col("fp_x")).head
    // r15 (guide §5 shared intermediates): a caller validating several
    // artifacts against ONE serving corpus passes its fingerprint row
    // once instead of re-running the aggregate scan per artifact, and
    // may supply an already-measured frontier OF THAT CORPUS for the
    // mismatch branch (recallFrontier is deterministic, so the rows
    // are identical to a re-measure — q204 shares its checkpointed
    // fresh frontier instead of paying the full measurement twice).
    // Production callers without either still get the re-measure.
    val fp = fpServing.getOrElse(corpusFingerprint(e).head)
    val ok = st.getLong(0) == fp.getLong(0) && st.getLong(1) == fp.getLong(1)
    val frontier =
      if (ok) artifact.drop("fp_n", "fp_x")
      else measured.getOrElse(Similarity.recallFrontier(e))
    selectConfig(frontier.withColumn("pref",
        when(col("config") === "ivfA_sqrt", lit(0L)).otherwise(lit(1L))),
      AnnRecallFloorPpm, CandidateBudgetMax)
      .select(lit("ivf").as("family"), col("*"),
        lit(if (ok) 1L else 0L).as("fp_match"),
        lit(if (ok) "persisted" else "remeasured").as("source"))
  }

  /** The stale artifact's own selection, had it been trusted blindly
    * — the inversion evidence the freshness check exists to prevent,
    * emitted beside the checked selections so the gate shows WHAT
    * the check saved (at the sf0.01 gate corpus: the 1-in-8 slice's
    * frontier selects ivf16_p6 where the fresh measurement selects
    * ivfA_sqrt — the AutoConfigSpec inversion, now in the gated
    * output). Selection over the ≤9 persisted rows only — no corpus
    * scan. */
  private[graft] def trustedSelection(artifact: DataFrame): DataFrame =
    selectConfig(artifact.drop("fp_n", "fp_x").withColumn("pref",
        when(col("config") === "ivfA_sqrt", lit(0L)).otherwise(lit(1L))),
      AnnRecallFloorPpm, CandidateBudgetMax)
      .select(lit("ivf").as("family"), col("*"),
        lit(0L).as("fp_match"), lit("stale_trusted").as("source"))

  // ---- q198: auto-SIZED sketches -----------------------------------

  /** ⌈e·10⁶⌉ — the Count-Min error constant as a conservative integer
    * (slightly over-approximating e only WIDENS the guaranteed bound,
    * never narrows it), so the expected-overestimate ceiling
    * ⌈e·N / w⌉ is exact integer arithmetic on both engines. At real
    * scale the product EMicro·N stays inside a BIGINT through
    * N ≈ 3.4·10¹² token occurrences — beyond a 100 TB text corpus. */
  private[graft] val EMicro = 2718282L

  /** CMS sizing target: guaranteed expected overestimate ≤ 100
    * occurrences — an ABSOLUTE accuracy target (what a heavy-hitter
    * threshold stated in counts needs), which is exactly why the
    * selected width is corpus-DEPENDENT: e·N/w scales with the token
    * stream, so 10× the corpus forces the next width up (the q192
    * switching test applied to memory). */
  private[graft] val CmsOverestimateTarget = 100L

  /** Bloom sizing target: ≥ 10 bits per inserted gram — the classic
    * load-factor rule (≈1% FPR at optimal k; Bloom 1970's analysis),
    * kept INTEGER (bits div n_grams) so the feasibility comparison
    * has no float seam. */
  private[graft] val BloomBitsPerGramTarget = 10L

  /** Histogram sizing: the sketch must COVER the measured value span
    * within this many buckets (the state budget); among widths that
    * fit, the argmin takes the FINEST (width = the one-bucket
    * quantile-error bound). */
  private[graft] val HistBucketBudget = 4096L

  /** The CMS sizing grid extends the q188 measurement grid upward:
    * q188's {8, 32, 1024} brackets the gate VOCABULARY (the
    * measurement table); sizing must bracket the achievable εN across
    * corpus sizes, so the grid carries the next power step the gate
    * corpora force (1024 suffices at sf0.01's 27k token occurrences,
    * sf0.1's 271k needs 32768). */
  private[graft] val SizingCmGrid = Seq(32L, 1024L, 32768L)

  /** q198: the three owned-sketch sizes selected from MEASURED corpus
    * statistics + stated targets — the q192 argmin applied to MEMORY.
    * The round-12 sizing tables (q188/q190/q191) measured what each
    * width costs; their widths were still human-chosen. q198 closes
    * the loop: per sketch, one 1-row statistic (total token
    * occurrences / distinct benchmark 5-grams / max ingested cents —
    * each the exact statistic its sketch's guarantee is stated in),
    * a tiny literal grid, the derived guarantee per grid row, and a
    * deterministic total order:
    *
    *   - cms_width:  feasible = ⌈e·N/w⌉ ≤ target; cheapest feasible
    *     state (counters = depth·w); infeasible fallback = tightest
    *     bound (the most accurate width available);
    *   - bloom_bits: feasible = bits div n ≥ target; cheapest
    *     feasible bits; fallback = the largest filter (bits-per-gram
    *     is monotone in bits, and the integer bound collapses to a
    *     0-tie when the grid is far too small);
    *   - hist_width: feasible = buckets(span/w) ≤ budget; FINEST
    *     feasible width (bound = width, the one-bucket quantile
    *     guarantee); fallback = fewest buckets.
    *
    * Selected at the gate corpora: CMS 1024 at sf0.001/0.01 (N≈27k)
    * but 32768 at sf0.1 (N≈271k) and Bloom 8192 → 131072 (258–351 vs
    * 2,419 benchmark grams) — the selection SWITCHES with the corpus,
    * which is the q192 corpus-dependence property applied to sketch
    * memory; hist derives the shipped 8192-cent width at every sf
    * from the measured ~$105k span (the span is corpus-stable HERE —
    * the rule, not the answer, is the operator). The q153/q188
    * bracketing lesson is structural now: a grid that fails to
    * bracket the statistic selects its max-accuracy fallback with
    * meets_target = 0 — visible, never a silent no-op
    * (AutoConfigSpec pins the regime). */
  /** One selected row per sketch: grid × 1-row statistic, derived
    * (state, bound, feasible), rank-1 under the documented order —
    * exposed so AutoConfigSpec can drive the fallback regime with a
    * synthetic statistic the grid cannot bracket. */
  private[graft] def sizingPick(sketch: String, stat: String,
      statDf: DataFrame, target: Long, grid: Seq[Long], state: Column,
      bound: Column, feasible: Column, objective: Column,
      fallback: Column): DataFrame = {
    val rows = statDf.select(col("sv"),
        explode(typedlit(grid)).as("selected"))
      .withColumn("state", state).withColumn("bound", bound)
      .withColumn("ok", feasible.cast("int"))
    val w = Window.orderBy(col("ok").desc,
      when(col("ok") === 1, objective).otherwise(lit(0L)).asc,
      fallback, col("selected").asc)
    rows.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(lit(sketch).as("sketch"), lit(stat).as("stat"),
        col("sv").as("stat_value"), lit(target).as("target"),
        col("selected"), col("state"), col("bound"),
        col("ok").cast("long").as("meets_target"))
  }

  private[graft] def sketchSizing(docs: DataFrame,
      li: DataFrame): DataFrame = {
    import graft.functions.Text
    val nTok = docs.agg(coalesce(sum(
      size(Text.tokens(col("text"))).cast("long")), lit(0L)).as("sv"))
    val nGram = docs.filter(col("doc_id") % 97 === 0)
      .select(explode(Text.wordNGrams(col("text"), 5)).as("g"))
      .agg(countDistinct(col("g")).as("sv"))
    val maxC = li.agg(max(expr(ApproxAggs.CentsSql)).as("sv"))
    cmsPick(nTok).unionByName(bloomPick(nGram)).unionByName(histPick(maxC))
  }

  /** The three per-sketch parameterizations of [[sizingPick]] — each
    * takes a 1-row (sv) statistic frame, so the spec can feed
    * synthetic statistics (the bracketing-fallback regime). */
  private[graft] def cmsPick(nTok: DataFrame): DataFrame =
    sizingPick("cms_width", "token_occurrences", nTok,
      CmsOverestimateTarget, SizingCmGrid,
      state = lit(ApproxAggs.CmDepth.toLong) * col("selected"),
      bound = expr(s"(${EMicro}L * sv + selected * 1000000L - 1L)" +
        " div (selected * 1000000L)"),
      feasible = col("bound") <= CmsOverestimateTarget,
      objective = col("state"), fallback = col("bound").asc)

  private[graft] def bloomPick(nGram: DataFrame): DataFrame =
    sizingPick("bloom_bits", "bench_grams", nGram,
      BloomBitsPerGramTarget, TextAnalysis.BloomBitsGrid.map(_.toLong),
      state = col("selected"),
      bound = expr("selected div greatest(sv, 1L)"),
      feasible = col("bound") >= BloomBitsPerGramTarget,
      // fallback on the filter SIZE, not the integer bits-per-gram:
      // a far-too-small grid rounds every bound to the same 0, and
      // the accuracy direction is monotone in bits anyway
      objective = col("state"), fallback = col("selected").desc)

  private[graft] def histPick(maxC: DataFrame): DataFrame =
    sizingPick("hist_width", "max_cents", maxC,
      HistBucketBudget, ApproxAggs.HistWidthGrid,
      state = expr("sv div selected + 1L"),
      bound = col("selected"),
      feasible = col("state") <= HistBucketBudget,
      objective = col("bound"), fallback = col("state").asc)

  // ---- q202: the MEMORY selections CONSUMED --------------------------

  /** q202 — the three owned sketches RUN at their auto-selected sizes:
    * the q198 memory selection consumed, the way q194/q195 consume
    * the volume selection and q201 the family selection. One 3-row
    * plan-time collect reads the sizing table, then each sketch pays
    * exactly one production pass at its SELECTED size — the q95
    * heavy-hitter probe estimates at the selected CMS width, the
    * q96-shape decontamination flag census at the selected Bloom
    * bits, and the q55b-family quantiles at the selected histogram
    * width with the bucket count the selection itself derived
    * (state = ⌈span/width⌉ — the sketch is sized BY the measured
    * span, the q153 corpus-adaptive lesson as a consumer). Unselected
    * sizes' sketches are never built. Output is one long-format row
    * per produced statistic: (sketch, selected, item, value), every
    * value a 64-bit integer from the owned-sketch kernels, so the
    * gate stays EXACT. Scale shape: three audited fixed-memory
    * sketch passes (CMS/histogram one map-pass each with mergeable
    * state; the Bloom build is the bounded ≤ bits/8-byte Setup-block
    * collect documented at q96) plus the q198 statistic passes —
    * nothing new shuffles; the consumer adds only the 3-row
    * plan-time selection read. */
  private[graft] def autoSizedSketchEval(docs: DataFrame,
      li: DataFrame): DataFrame = {
    import graft.functions.{Sketches, Text}
    val sel = sketchSizing(docs, li)
      .select(col("sketch"), col("selected"), col("state")).collect()
    val bySketch = sel.map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val (cmsW, _) = bySketch("cms_width")
    val (bloomBits, _) = bySketch("bloom_bits")
    val (histW, histBuckets) = bySketch("hist_width")

    // CMS heavy-hitter probes at the selected width (the q95 eval
    // shape, global): 1-row digest, read once per probe row.
    val cms = docs.select(Text.tokens(col("text")).as("t"))
      .agg(Sketches.countMin(col("t"), ApproxAggs.CmSalt,
        ApproxAggs.CmDepth, cmsW.toInt, ApproxAggs.CmProbes).as("s"))
      .cut("AutoConfig.autoSizedSketchEval: count-min sketch")
    val cmsRows = ApproxAggs.CmProbes.zipWithIndex.map { case (t, i) =>
      cms.select(lit("cms_width").as("sketch"), lit(cmsW).as("selected"),
        lit(s"est_$t").as("item"),
        element_at(col("s.est"), i + 1).cast("long").as("value"))
    }.reduce(_.unionByName(_))

    // Bloom decontamination at the selected bits (the q96/q190 eval
    // shape): benchmark slice builds the filter (bounded collect —
    // the documented Setup-block exception), corpus probes map-side.
    val grams = docs.select(col("doc_id"),
        Text.wordNGrams(col("text"), 5).as("g5"))
      .cut("AutoConfig.autoSizedSketchEval: grams") // build + probe read it
    val words = grams.filter(col("doc_id") % 97 === 0)
      .agg(Sketches.bloom(col("g5"), TextAnalysis.BloomSalt,
        bloomBits.toInt, TextAnalysis.BloomK).as("w"))
      .head.getSeq[Long](0).toArray
    val bloomRow = grams.filter(col("doc_id") % 97 =!= 0)
      .select(Sketches.bloomCountHits(col("g5"), words,
        TextAnalysis.BloomSalt, TextAnalysis.BloomK, bloomBits.toInt)
        .as("h"))
      .agg(count(when(col("h") > 0, lit(1))).as("value"))
      .select(lit("bloom_bits").as("sketch"), lit(bloomBits).as("selected"),
        lit("flagged_docs").as("item"), col("value").cast("long"))

    // Histogram quantiles at the selected width, bucket count = the
    // selection's own derived state (⌈span/width⌉ — auto-coverage).
    val hist = li.select(expr(ApproxAggs.CentsSql).as("cents"))
      .agg(Sketches.histQuantiles(col("cents"), histW,
        histBuckets.toInt).as("q"))
      .cut("AutoConfig.autoSizedSketchEval: histogram") // read by the three item rows
    val histRows = Seq("n_rows" -> col("q.n"),
        "p50_cents" -> col("q.p50_cents"),
        "p90_cents" -> col("q.p90_cents"))
      .map { case (item, v) =>
        hist.select(lit("hist_width").as("sketch"),
          lit(histW).as("selected"), lit(item).as("item"),
          v.cast("long").as("value"))
      }.reduce(_.unionByName(_))

    cmsRows.unionByName(bloomRow).unionByName(histRows)
  }

  val queries: Map[String, Q] = Map(
    // -- q192 (round 13): plan-time auto-configuration — the cheapest
    //    frontier config meeting the stated recall floor, per family,
    //    from the measured q180/q175 tables. EXACT-gated: the oracle
    //    replays both frontier derivations and the same total order. --
    "q192_autoconfig" -> { (s, dir) =>
      // the two family frontiers read disjoint tables
      val Seq(mh, ivf) = Tables.inParallel("AutoConfig.q192_autoconfig", Seq(
        "minhash_banding" -> { () => bandingChoice(Tables.load(s, dir, "documents"))
          .select(lit("minhash_banding").as("family"), col("*")) },
        "ivf" -> { () => ivfChoice(Tables.load(s, dir, "embeddings"))
          .select(lit("ivf").as("family"), col("*")) }))
      mh.unionByName(ivf)
    },

    // -- q195 (round 13): the AUTO-TUNED batch kNN — the q194 pattern
    //    for the ANN family: measure the q175 frontier, select by the
    //    q192 total order (a 1-row plan-time collect), then run the
    //    q94-family kNN at the SELECTED (codebook, nprobe). The
    //    selection genuinely switches plans per corpus: ivf16_p6 at
    //    sf0.001/sf0.1, ivfA_sqrt at sf0.01 (see AutoConfigSpec).
    //    EXACT-gated: the oracle reuses the whole q175 derivation —
    //    frontier for the selection, per-config candidate sets for
    //    the top-5 — gated by the selection scalar. --
    "q195_autotuned_knn" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val cfg = ivfChoice(e).head.getString(0)
      knnAt(e, cfg).select(lit(cfg).as("config"), col("q_id"),
        col("vec_id"), col("cos_sim"), col("rank"))
    },

    // -- q197 (round 14): CROSS-family dedup selection — the q180/
    //    q182 candidate-cost unit and the q193 cluster-quality census
    //    unified into one frontier (all five columns measured on the
    //    same planted benchmark corpus), with the q192 total order
    //    replayed as rank-1 flags for TWO stated constraints: the
    //    house 90% cluster-recall floor (ships b16r4 — exact is 4×
    //    the scan, simhash128 misses 99.6% of planted pairs) and an
    //    artificially relaxed floor (flips to simhash128, the
    //    cheapest scanner) — the flip IS the operator's value, gated.
    //    EXACT-gated: the oracle rebuilds the corpus, replays each
    //    family's candidate chain (incl. the AllPairs prefix filter,
    //    SQL-replayed for the first time), the verify → CC → census
    //    stacks, and both selection windows. --
    "q197_family_select" -> { (s, dir) =>
      dedupFamilyFrontier(Tables.load(s, dir, "documents"))
        .select(col("family"), col("config"), col("candidates"),
          col("n_docs"), col("planted_pairs"), col("recovered_pairs"),
          col("correct_pairs"), col("precision_ppm"), col("recall_ppm"),
          selectedFlag(FamilyRecallFloorPpm, CandidateBudgetMax)
            .as("sel_strict"),
          selectedFlag(0L, CandidateBudgetMax).as("sel_relaxed"))
    },

    // -- q198 (round 14): auto-SIZED sketches — CMS width, Bloom bits
    //    and histogram width selected from measured corpus statistics
    //    + stated accuracy/memory targets (the q192 argmin applied to
    //    sketch MEMORY; the q188/q190/q191 sizing tables' widths were
    //    still human-chosen). The selected width SWITCHES across sf
    //    (CMS 1024→32768, Bloom 8192→131072) — corpus-dependence for
    //    memory, gated. EXACT-gated: the oracle re-measures all three
    //    statistics and replays the grids, integer bounds and rank-1
    //    windows. --
    "q198_sketch_sizing" -> { (s, dir) =>
      sketchSizing(Tables.load(s, dir, "documents"),
        Tables.load(s, dir, "lineitem"))
    },

    // -- q200 (round 14): the THRESHOLD knob selected — the last
    //    measured-but-unselected knob TYPE (volume q192, family q197,
    //    memory q198): the SimHash accept radius from the q182
    //    frontier, as "the largest Hamming ball whose precision holds
    //    the floor". Strict (90%) derives the shipped sim128_h3 at
    //    every sf; relaxed (50%) flips to sim64_h3 at the small
    //    corpora but NOT at sf0.1, where the 16-bit family's
    //    precision collapses (12%) — the scale-dependence of the
    //    cheap-looking family, oracle-gated. The frontier computes
    //    ONCE (checkpointed) and feeds both scenario selections. --
    "q200_radius_select" -> { (s, dir) =>
      val fr = Dedup.simhashFrontier(Tables.load(s, dir, "documents"))
        .cut("AutoConfig.q200_radius_select: frontier")
      radiusChoice(fr, RadiusPrecisionFloorPpm, CandidateBudgetMax)
        .select(lit("strict").as("scenario"), col("*"))
        .unionByName(
          radiusChoice(fr, RadiusPrecisionRelaxedPpm, CandidateBudgetMax)
            .select(lit("relaxed").as("scenario"), col("*")))
    },

    // -- q202 (round 14 cont.): the MEMORY selections CONSUMED — the
    //    three owned sketches run at their q198 auto-selected sizes
    //    (CMS probe estimates, Bloom decontamination flags, histogram
    //    quantiles at the auto-derived bucket count). One 3-row
    //    plan-time collect; unselected sizes' sketches never built.
    //    EXACT-gated: the oracle replays the sizing selections, then
    //    per sketch one gated eval leg per grid size — only the
    //    selected leg survives the scalar gate. --
    "q202_auto_sized_eval" -> { (s, dir) =>
      autoSizedSketchEval(Tables.load(s, dir, "documents"),
        Tables.load(s, dir, "lineitem"))
    },

    // -- q204 (round 14 cont.): PERSISTED frontier + freshness check
    //    — the q192 freshness contract as an operator: the q175
    //    frontier saved as a fingerprint-stamped artifact, the
    //    selection validating the stamp against the serving corpus
    //    and RE-MEASURING on mismatch. Three gated scenarios: a
    //    valid artifact is used as-is (persisted), a stale one (the
    //    1-in-8 slice's frontier, stamped with the slice's
    //    fingerprint) is detected and re-measured, and the stale
    //    artifact's own would-be selection is emitted beside them —
    //    the inversion the check prevents, in the gated output.
    //    EXACT-gated: the oracle replays both frontier derivations
    //    (the parameterized q175 chain, full + slice), both
    //    fingerprint folds, the comparison, and the match-gated
    //    selection legs. --
    "q204_persisted_frontier" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      // the full and the slice frontier are measured side by side
      val Seq(fresh, stale) = Tables.inParallel("AutoConfig.q204_persisted_frontier", Seq(
        "full frontier" -> { () => stampedIvfFrontier(e)
          .cut("AutoConfig.q204_persisted_frontier: full frontier") },
        "slice frontier" -> { () => stampedIvfFrontier(e.filter(col("vec_id") % 8 === 0))
          .cut("AutoConfig.q204_persisted_frontier: slice frontier") }))
      // r15: ONE serving-corpus fingerprint scan shared by both
      // checks (was one per check), and the stale scenario's
      // re-measure branch reads the already-checkpointed fresh
      // frontier of the SAME corpus instead of re-executing the full
      // q175 measurement — identical rows (deterministic frontier),
      // one full frontier pass saved (guide §5).
      val fpServing = Some(corpusFingerprint(e).head)
      val measured = Some(fresh.drop("fp_n", "fp_x"))
      selectIvfChecked(fresh, e, fpServing)
        .select(lit("valid").as("scenario"), col("*"))
        .unionByName(selectIvfChecked(stale, e, fpServing, measured)
          .select(lit("stale").as("scenario"), col("*")))
        .unionByName(trustedSelection(stale)
          .select(lit("stale_trusted").as("scenario"), col("*")))
    },

    // -- q203 (round 14 cont.): the THRESHOLD selection CONSUMED —
    //    dedup at the SimHash (family, radius) the q200 strict
    //    scenario selects from the q182 frontier measured on the
    //    mod-2 calibration slice. One 1-row plan-time collect; the
    //    full corpus pays one chunk-collision pass in the selected
    //    family at the selected radius; the other family's plan is
    //    never built. EXACT-gated: the oracle replays the sampled
    //    frontier + the threshold total order, then gates both
    //    families' full-corpus drop legs on the selection scalars
    //    (radius applied as a scalar, so all four balls share one
    //    leg per family). --
    "q203_auto_radius_dedup" -> { (s, dir) =>
      dedupKeepAutoRadius(Tables.load(s, dir, "documents"))
    },

    // -- q201 (round 14): the family selection CONSUMED — dedup whose
    //    FAMILY is auto-selected from the q197 frontier measured on
    //    the mod-2 calibration slice (the q194 sampling convention),
    //    then ONE full-corpus dedup pass in the selected family's
    //    production shape. The q192→q194/q195 consume pattern applied
    //    to the cross-family selection: "which dedup do you ship",
    //    measured, selected AND executed in one operator. EXACT-gated:
    //    the oracle replays the sampled frontier + selection and all
    //    three families' drop sets gated by the selection scalar. --
    "q201_auto_dedup" -> { (s, dir) =>
      dedupKeepAuto(Tables.load(s, dir, "documents"))
    },
  )

  /** The selection SQL over a frontier CTE `<src>(config, candidates,
    * recall_ppm, pref)` — the same total order as [[selectConfig]],
    * shared by oracle192 and the composed v8 pipeline oracle. */
  private[operators] def selectSql(src: String, family: String,
      floorPpm: Long, budget: Long): String =
    s"""SELECT '$family' AS family, config,
       |  CAST(candidates AS BIGINT) AS candidates,
       |  CAST(recall_ppm AS BIGINT) AS recall_ppm,
       |  CAST($floorPpm AS BIGINT) AS floor_ppm,
       |  CAST($budget AS BIGINT) AS budget_max,
       |  CAST(CASE WHEN recall_ppm >= $floorPpm AND candidates <= $budget
       |       THEN 1 ELSE 0 END AS BIGINT) AS meets_floor
       |FROM $src
       |ORDER BY (CASE WHEN recall_ppm >= $floorPpm AND candidates <= $budget
       |          THEN 1 ELSE 0 END) DESC,
       |  (CASE WHEN recall_ppm >= $floorPpm AND candidates <= $budget
       |   THEN candidates ELSE 0 END) ASC,
       |  recall_ppm DESC, candidates ASC, pref ASC, config ASC
       |LIMIT 1""".stripMargin

  /** oracle192: both frontier oracles nested as MATERIALIZED scoped
    * subqueries (each is read once by its pref-projection, which is
    * read by the selection — the q144 CTE-inlining rule), then the
    * shared total order per family. */
  private def oracle192: String =
    s"""WITH mh AS MATERIALIZED (
       |${Dedup.oracles("q180_minhash_frontier")}
       |),
       |ivf AS MATERIALIZED (
       |${Similarity.oracles("q175_ann_frontier")}
       |),
       |mhp AS (
       |  SELECT config, candidates, recall_ppm, rows_per_band AS pref
       |  FROM mh),
       |ivfp AS (
       |  SELECT config, candidates, recall_ppm,
       |    CASE WHEN config = 'ivfA_sqrt' THEN 0 ELSE 1 END AS pref
       |  FROM ivf),
       |sel_mh AS (
       |${selectSql("mhp", "minhash_banding", TextRecallFloorPpm, CandidateBudgetMax)}
       |),
       |sel_ivf AS (
       |${selectSql("ivfp", "ivf", AnnRecallFloorPpm, CandidateBudgetMax)}
       |)
       |SELECT * FROM sel_mh
       |UNION ALL
       |SELECT * FROM sel_ivf""".stripMargin

  /** oracle195: the full q175 derivation (scaffold + 9 config chains,
    * each ending at its MATERIALIZED `<p>cand`), the frontier table
    * as a CTE feeding the q192 selection, then one gated top-5 leg
    * per config — only the selected config's leg survives the scalar
    * gate; every leg reads its config's existing candidate set, so
    * the kNN ranking replays the engine's (cos DESC, vec_id) window
    * exactly. */
  private def oracle195: String = {
    val (body, frontierSelect) = Similarity.ivfFrontierSqlParts
    val cfgPrefixes =
      Similarity.FrontierProbes.zipWithIndex.map { case (np, i) =>
        s"f$i" -> s"ivf16_p$np"
      } ++ Similarity.FrontierProbes.zipWithIndex.map { case (np, i) =>
        s"a$i" -> s"ivfA_p$np"
      } :+ ("asq" -> "ivfA_sqrt")
    val legs = cfgPrefixes.map { case (p, label) =>
      s"""${p}top AS (
         |  SELECT (SELECT config FROM sel) AS config, q_id, vec_id,
         |    cos_sim, CAST(rank AS BIGINT) AS rank
         |  FROM (
         |    SELECT q_id, vec_id, cos_sim,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY cos_sim DESC, vec_id) AS rank
         |    FROM ${p}cand)
         |  WHERE rank <= 5 AND (SELECT config FROM sel) = '$label')"""
        .stripMargin
    }
    val union = cfgPrefixes.map { case (p, _) => s"SELECT * FROM ${p}top" }
      .mkString("\nUNION ALL\n")
    s"""WITH $body,
       |fr AS MATERIALIZED (
       |${frontierSelect}),
       |frp AS (
       |  SELECT config, candidates, recall_ppm,
       |    CASE WHEN config = 'ivfA_sqrt' THEN 0 ELSE 1 END AS pref
       |  FROM fr),
       |sel AS MATERIALIZED (
       |${selectSql("frp", "ivf", AnnRecallFloorPpm, CandidateBudgetMax)}
       |),
       |${legs.mkString(",\n")}
       |$union""".stripMargin
  }

  /** oracle197: the q193 oracle's skeleton (variant corpus, per-family
    * pair chain + CC walk + label completion + size-table census)
    * extended with each family's CANDIDATE chain (exact = the AllPairs
    * prefix filter replayed relationally — hot-gram sample, (df, gram)
    * rarest-prefix window, collision join; minhash = the q45 cand
    * stage; simhash = the q79 chain radius-unfiltered, whose accepted
    * subset also feeds the quality chain), then the two selection
    * windows over the 3-row frontier — the same total order as
    * [[selectedFlag]]. */
  private def oracle197: String = {
    def selFlag(label: String, floorPpm: Long): String = {
      val feas = s"recall_ppm >= $floorPpm AND candidates <= $CandidateBudgetMax"
      s"""CAST(CASE WHEN row_number() OVER (ORDER BY
         |    (CASE WHEN $feas THEN 1 ELSE 0 END) DESC,
         |    (CASE WHEN $feas THEN candidates ELSE 0 END) ASC,
         |    recall_ppm DESC, candidates ASC, pref ASC, config ASC) = 1
         |  THEN 1 ELSE 0 END AS BIGINT) AS sel_$label""".stripMargin
    }
    s"""WITH RECURSIVE ${familyFrontierCtes("documents")}
       |SELECT family, config, candidates, n_docs, planted_pairs,
       |  recovered_pairs, correct_pairs, precision_ppm, recall_ppm,
       |  ${nestSql(selFlag("strict", FamilyRecallFloorPpm))},
       |  ${nestSql(selFlag("relaxed", 0L))}
       |FROM scored""".stripMargin
  }

  /** The q197 frontier chain over any documents-shaped relation
    * `src`, as CTEs ending at `scored(family, config, pref,
    * candidates, n_docs, planted_pairs, recovered_pairs,
    * correct_pairs, precision_ppm, recall_ppm)` — shared by
    * oracle197 (over `documents`) and oracle201 (over the mod-2
    * calibration slice). Splice directly after WITH RECURSIVE. */
  private def familyFrontierCtes(src: String): String = {
    val rows = Seq(("ex", "exact", "exact", 0, "excand"),
        ("mh", "minhash", "b16r4", 1, "mhcand"),
        ("sh", "simhash128", "sim128_h3", 2, "shcand"))
      .map { case (p, fam, config, pref, cand) =>
        s"""SELECT '$config' AS config, CAST($pref AS BIGINT) AS pref,
           |  (SELECT CAST(count(*) AS BIGINT) FROM $cand) AS candidates, c.*
           |FROM (
           |${DedupQuality.censusSql(p, fam)}) c""".stripMargin
      }
    s"""${DedupQuality.variantCtes(DedupQuality.SepDen, src)},
       |excand AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM (
       |  ${nestSql(Dedup.prefixCandSqlOver("variants"))})),
       |mhcand AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM (
       |  ${nestSql(Dedup.minhashCandSqlOver("variants"))})),
       |shcand AS MATERIALIZED (
       |  SELECT doc_a, doc_b, hamming FROM (
       |  ${nestSql(Dedup.simhashWideCandSqlOver("variants"))})),
       |expairs AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM (
       |  ${nestSql(DedupQuality.exactPairsSqlOver("variants"))})),
       |mhpairs AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM (
       |  ${nestSql(Dedup.minhashPairsSqlOver("variants"))})),
       |shpairs AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM shcand WHERE hamming <= 3),
       |${DedupQuality.ccWalkCtes("ex", "expairs")},
       |${DedupQuality.ccWalkCtes("mh", "mhpairs")},
       |${DedupQuality.ccWalkCtes("sh", "shpairs")},
       |${DedupQuality.labCteSql("ex")},
       |${DedupQuality.labCteSql("mh")},
       |${DedupQuality.labCteSql("sh")},
       |rows AS (
       |${rows.mkString("\nUNION ALL\n")}),
       |scored AS (
       |  SELECT family, config, pref, candidates, n_docs, planted_pairs,
       |    recovered_pairs, correct_pairs,
       |    (1000000 * correct_pairs) // greatest(recovered_pairs, 1)
       |      AS precision_ppm,
       |    (1000000 * correct_pairs) // greatest(planted_pairs, 1)
       |      AS recall_ppm
       |  FROM rows)""".stripMargin
  }

  /** oracle201: the calibration slice, the q197 frontier chain over
    * it, the strict selection as a 1-row `sel` CTE (the shared
    * selectSql total order), then per family its FULL-corpus drop set
    * (the audited q44/q45/q79 chains, each nested self-contained)
    * gated by the selection scalar — only the SELECTED family's drops
    * reach the anti-join, the lshDropCtesOver gating pattern applied
    * across families. */
  private def oracle201: String = {
    val gated = Seq(("exdrop", "exact"), ("mhdrop", "b16r4"),
      ("shdrop", "sim128_h3")).map { case (leg, cfg) =>
      s"""  SELECT doc_id FROM $leg
         |  WHERE (SELECT config FROM sel) = '$cfg'""".stripMargin
    }
    s"""WITH RECURSIVE calib AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id % ${CalibSampleMod} = 0),
       |${familyFrontierCtes("calib")},
       |frp AS (
       |  SELECT config, candidates, recall_ppm, pref FROM scored),
       |sel AS MATERIALIZED (
       |${selectSql("frp", "dedup_family", FamilyRecallFloorPpm, CandidateBudgetMax)}
       |),
       |exdrop AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM (
       |  ${nestSql(DedupQuality.exactPairsSqlOver("documents"))})),
       |mhdrop AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM (
       |  ${nestSql(Dedup.minhashPairsSqlOver("documents"))})),
       |shdrop AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM (
       |  ${nestSql(Dedup.simhashWidePairsSqlOver("documents"))})),
       |dropset AS MATERIALIZED (
       |${gated.mkString("\n  UNION ALL\n")}
       |)
       |SELECT (SELECT config FROM sel) AS config,
       |  d.doc_id, d.source, d.lang
       |FROM documents d
       |ANTI JOIN dropset USING (doc_id)""".stripMargin
  }

  private def gridCte(name: String, grid: Seq[Long]): String =
    s"$name AS (SELECT CAST(unnest([${grid.mkString(", ")}]) AS BIGINT)" +
      " AS selected)"

  private def selRow(sketch: String, stat: String, statCte: String,
      target: Long, gridCteName: String, stateSql: String,
      boundSql: String, feasSql: String, objSql: String,
      fallbackSql: String): String =
    s"""SELECT sketch, stat, stat_value, target, selected, state, bound,
       |  CAST(ok AS BIGINT) AS meets_target
       |FROM (
       |  SELECT *, row_number() OVER (ORDER BY ok DESC,
       |      CASE WHEN ok = 1 THEN $objSql ELSE 0 END ASC,
       |      $fallbackSql, selected ASC) AS rn
       |  FROM (
       |    SELECT '$sketch' AS sketch, '$stat' AS stat,
       |      CAST(sv AS BIGINT) AS stat_value,
       |      CAST($target AS BIGINT) AS target,
       |      CAST(selected AS BIGINT) AS selected,
       |      CAST($stateSql AS BIGINT) AS state,
       |      CAST($boundSql AS BIGINT) AS bound,
       |      CASE WHEN $feasSql THEN 1 ELSE 0 END AS ok
       |    FROM $statCte, $gridCteName))
       |WHERE rn = 1""".stripMargin

  /** The q198 statistic + grid + selection CTE block: the three
    * re-measured statistics, the literal grids, and one MATERIALIZED
    * 1-row selection per sketch (full q198 row schema) — shared by
    * oracle198 (which unions the selections) and oracle202 (which
    * gates per-size eval legs on their `selected` scalars). */
  private def sizingSelCtes: String =
    s"""st_tok AS (
       |  SELECT CAST(coalesce(sum(len(string_split_regex(text, '\\s+'))), 0)
       |    AS BIGINT) AS sv
       |  FROM documents),
       |st_gram AS (
       |  SELECT CAST(count(*) AS BIGINT) AS sv FROM (
       |    SELECT DISTINCT
       |      t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] ||
       |        ' ' || t[i+4] AS g
       |    FROM (
       |      SELECT t, unnest(generate_series(1, greatest(len(t) - 4, 0))) AS i
       |      FROM (SELECT string_split_regex(text, '\\s+') AS t
       |            FROM documents WHERE doc_id % 97 = 0)))),
       |st_cents AS (
       |  SELECT CAST(max(${ApproxAggs.CentsSql}) AS BIGINT) AS sv
       |  FROM lineitem),
       |${gridCte("g_cms", SizingCmGrid)},
       |${gridCte("g_bloom", TextAnalysis.BloomBitsGrid.map(_.toLong))},
       |${gridCte("g_hist", ApproxAggs.HistWidthGrid)},
       |sel_cms AS MATERIALIZED (
       |${selRow("cms_width", "token_occurrences", "st_tok",
          CmsOverestimateTarget, "g_cms",
          s"${ApproxAggs.CmDepth} * selected",
          s"($EMicro * sv + selected * 1000000 - 1) // (selected * 1000000)",
          s"($EMicro * sv + selected * 1000000 - 1) // (selected * 1000000)" +
            s" <= $CmsOverestimateTarget",
          "state", "bound ASC")}),
       |sel_bloom AS MATERIALIZED (
       |${selRow("bloom_bits", "bench_grams", "st_gram",
          BloomBitsPerGramTarget, "g_bloom", "selected",
          "selected // greatest(sv, 1)",
          s"selected // greatest(sv, 1) >= $BloomBitsPerGramTarget",
          "state", "selected DESC")}),
       |sel_hist AS MATERIALIZED (
       |${selRow("hist_width", "max_cents", "st_cents",
          HistBucketBudget, "g_hist", "sv // selected + 1", "selected",
          s"sv // selected + 1 <= $HistBucketBudget",
          "bound", "state ASC")})""".stripMargin

  /** oracle198: the three statistics re-measured (token occurrences
    * as a length sum over the split stream; distinct benchmark
    * 5-grams via the oracle78/96 gram chain; max cents through the
    * shared DECIMAL projection), literal grids, the same integer
    * bound arithmetic, one rank-1 window per sketch. */
  private def oracle198: String =
    s"""WITH $sizingSelCtes
       |SELECT * FROM sel_cms
       |UNION ALL
       |SELECT * FROM sel_bloom
       |UNION ALL
       |SELECT * FROM sel_hist""".stripMargin

  /** oracle202: the q198 selection CTEs unchanged, then per sketch
    * one gated eval leg per grid size — the CMS probe estimates
    * (oracle188's census + kernel-constant probe buckets), the Bloom
    * flagged-docs census (oracle190's position/hit chain) and the
    * histogram quantiles (oracle191's bucket cumsum at the
    * auto-derived bucket count) — each leg alive ONLY where the
    * selection scalar picks its size (the q195/q201 gating pattern),
    * so the oracle evaluates one size per sketch like the engine. */
  private def oracle202: String = {
    val (cmsCtes, cmsRows) = ApproxAggs.cmsGatedEvalSql(SizingCmGrid,
      "(SELECT selected FROM sel_cms)", "ac")
    val (blCtes, blRows) = TextAnalysis.bloomGatedEvalSql(
      TextAnalysis.BloomBitsGrid.map(_.toLong),
      "(SELECT selected FROM sel_bloom)", "ab")
    val histCtes = ApproxAggs.HistWidthGrid.zipWithIndex.map { case (w, i) =>
      s"""ah${i}q AS (
         |  SELECT least(greatest(cents // $w, 0),
         |    (SELECT state FROM sel_hist) - 1) AS idx
         |  FROM ahcents WHERE (SELECT selected FROM sel_hist) = $w),
         |ah${i}c AS (SELECT idx, count(*) AS c FROM ah${i}q GROUP BY idx),
         |ah${i}n AS MATERIALIZED (
         |  SELECT idx, sum(c) OVER (ORDER BY idx) AS cs,
         |    sum(c) OVER () AS n FROM ah${i}c)""".stripMargin
    }.mkString(",\n")
    val histRows = ApproxAggs.HistWidthGrid.zipWithIndex.flatMap {
      case (w, i) => Seq(
        "n_rows" ->
          s"(SELECT CAST(min(n) AS BIGINT) FROM ah${i}n WHERE cs >= (n + 1) // 2)",
        "p50_cents" ->
          s"(SELECT CAST(min(idx) * $w AS BIGINT) FROM ah${i}n WHERE cs >= (n + 1) // 2)",
        "p90_cents" ->
          s"(SELECT CAST(min(idx) * $w AS BIGINT) FROM ah${i}n WHERE cs >= (9 * n + 9) // 10)"
      ).map { case (item, vSql) =>
        s"""SELECT 'hist_width' AS sketch, CAST($w AS BIGINT) AS selected,
           |  '$item' AS item, $vSql AS value
           |FROM (SELECT 1) one
           |WHERE (SELECT selected FROM sel_hist) = $w""".stripMargin
      }
    }.mkString("\nUNION ALL\n")
    s"""WITH $sizingSelCtes,
       |${ApproxAggs.cmsHashCtes("ac")},
       |${TextAnalysis.bloomHashCtes("ab")},
       |$cmsCtes,
       |$blCtes,
       |ahcents AS MATERIALIZED (
       |  SELECT ${ApproxAggs.CentsSql} AS cents FROM lineitem),
       |$histCtes
       |$cmsRows
       |UNION ALL
       |$blRows
       |UNION ALL
       |$histRows""".stripMargin
  }

  /** oracle203: the calibration slice, the full q182 frontier chain
    * over it (simhashFrontierSqlOver — the oracle201 convention for
    * the radius knob), the strict threshold selection as a 1-row
    * `sel` CTE, then per fingerprint family ONE full-corpus drop leg
    * gated by the selection's family scalar with the radius applied
    * as a scalar accept — only the SELECTED family's chunk join
    * reaches the anti-join. */
  private def oracle203: String = {
    val feas = s"precision_ppm >= $RadiusPrecisionFloorPpm" +
      s" AND candidates <= $CandidateBudgetMax"
    val gated = Seq(("d64", "sim64"), ("d128", "sim128")).map {
      case (leg, fam) =>
        s"""  SELECT doc_id FROM $leg
           |  WHERE (SELECT family FROM sel) = '$fam'""".stripMargin
    }
    s"""WITH calib AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id % ${CalibSampleMod} = 0),
       |fr AS MATERIALIZED (
       |  ${nestSql(Dedup.simhashFrontierSqlOver("calib"))}),
       |sel AS MATERIALIZED (
       |  SELECT config, family, radius FROM fr
       |  ORDER BY (CASE WHEN $feas THEN 1 ELSE 0 END) DESC,
       |    recall_ppm DESC, accepted ASC, candidates ASC, config ASC
       |  LIMIT 1),
       |d64 AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM (
       |  ${nestSql(Dedup.simhash64CandSqlOver("documents"))}) c
       |  WHERE hamming <= (SELECT radius FROM sel)),
       |d128 AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM (
       |  ${nestSql(Dedup.simhashWideCandSqlOver("documents"))}) c
       |  WHERE hamming <= (SELECT radius FROM sel)),
       |dropset AS MATERIALIZED (
       |${gated.mkString("\n  UNION ALL\n")}
       |)
       |SELECT (SELECT config FROM sel) AS config,
       |  d.doc_id, d.source, d.lang
       |FROM documents d
       |ANTI JOIN dropset USING (doc_id)""".stripMargin
  }

  /** oracle204: both frontier derivations as scoped subqueries (the
    * parameterized q175 chain over `embeddings` and over the
    * MATERIALIZED slice), both fingerprint folds (the oracle140
    * poly-31 + splitmix64 chain over the ids, top-53-bit XOR), the
    * comparison as a 1-row `mt` CTE, then the scenario legs — the
    * stale scenario's two legs are gated on the match scalar, so the
    * persisted-vs-remeasured dispatch is replayed, not assumed. */
  private def oracle204: String = {
    import graft.functions.SplitMix64
    def fpCtes(p: String, src: String): String =
      s"""${p}k AS (SELECT CAST(vec_id AS VARCHAR) AS key FROM $src),
         |${p}p AS (SELECT ${SplitMix64.polyHashSql("key")} AS p FROM ${p}k),
         |${p}h AS (SELECT CAST((${SplitMix64.mixSql("p")}) >> 11 AS BIGINT)
         |  AS hu FROM ${p}p),
         |${p}fp AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(bit_xor(hu) AS BIGINT) AS x FROM ${p}h)""".stripMargin
    def frp(src: String): String =
      s"""SELECT config, candidates, recall_ppm,
         |  CASE WHEN config = 'ivfA_sqrt' THEN 0 ELSE 1 END AS pref
         |FROM $src""".stripMargin
    s"""WITH eslice AS MATERIALIZED (
       |  SELECT * FROM embeddings WHERE vec_id % 8 = 0),
       |fr_full AS MATERIALIZED (SELECT * FROM (
       |  ${nestSql(Similarity.ivfFrontierSqlOver("embeddings"))})),
       |fr_slice AS MATERIALIZED (SELECT * FROM (
       |  ${nestSql(Similarity.ivfFrontierSqlOver("eslice"))})),
       |${fpCtes("ff", "embeddings")},
       |${fpCtes("fs", "eslice")},
       |mt AS (SELECT CASE WHEN f.n = s.n AND f.x = s.x THEN 1 ELSE 0 END
       |  AS m FROM fffp f, fsfp s),
       |frp_full AS (${frp("fr_full")}),
       |frp_slice AS (${frp("fr_slice")}),
       |sel_full AS MATERIALIZED (
       |${selectSql("frp_full", "ivf", AnnRecallFloorPpm, CandidateBudgetMax)}
       |),
       |sel_slice AS MATERIALIZED (
       |${selectSql("frp_slice", "ivf", AnnRecallFloorPpm, CandidateBudgetMax)}
       |)
       |SELECT 'valid' AS scenario, sel_full.*,
       |  CAST(1 AS BIGINT) AS fp_match, 'persisted' AS source
       |FROM sel_full
       |UNION ALL
       |SELECT 'stale', sel_slice.*, CAST(m AS BIGINT), 'persisted'
       |FROM sel_slice, mt WHERE m = 1
       |UNION ALL
       |SELECT 'stale', sel_full.*, CAST(m AS BIGINT), 'remeasured'
       |FROM sel_full, mt WHERE m = 0
       |UNION ALL
       |SELECT 'stale_trusted', sel_slice.*,
       |  CAST(0 AS BIGINT), 'stale_trusted'
       |FROM sel_slice""".stripMargin
  }

  /** oracle200: the full q182 derivation as a MATERIALIZED frontier
    * CTE (read by both scenario selections), then per scenario the
    * same threshold total order, LIMIT 1. */
  private def oracle200: String = {
    def sel(scenario: String, pFloor: Long): String = {
      val feas = s"precision_ppm >= $pFloor AND candidates <= $CandidateBudgetMax"
      s"""SELECT '$scenario' AS scenario, config, family,
         |  radius, candidates, accepted, truth_pairs, hits,
         |  precision_ppm, recall_ppm,
         |  CAST($pFloor AS BIGINT) AS precision_floor,
         |  CAST($CandidateBudgetMax AS BIGINT) AS budget_max,
         |  CAST(CASE WHEN $feas THEN 1 ELSE 0 END AS BIGINT)
         |    AS meets_floors
         |FROM fr
         |ORDER BY (CASE WHEN $feas THEN 1 ELSE 0 END) DESC,
         |  recall_ppm DESC, accepted ASC, candidates ASC, config ASC
         |LIMIT 1""".stripMargin
    }
    s"""WITH fr AS MATERIALIZED (
       |${Dedup.oracle182}
       |)
       |SELECT * FROM (
       |${sel("strict", RadiusPrecisionFloorPpm)})
       |UNION ALL
       |SELECT * FROM (
       |${sel("relaxed", RadiusPrecisionRelaxedPpm)})""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q192_autoconfig" -> oracle192,
    "q195_autotuned_knn" -> oracle195,
    "q197_family_select" -> oracle197,
    "q198_sketch_sizing" -> oracle198,
    "q200_radius_select" -> oracle200,
    "q201_auto_dedup" -> oracle201,
    "q202_auto_sized_eval" -> oracle202,
    "q203_auto_radius_dedup" -> oracle203,
    "q204_persisted_frontier" -> oracle204,
  )
}
