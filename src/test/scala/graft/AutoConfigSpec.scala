package graft

import graft.operators.AutoConfig
import org.apache.spark.sql.functions._

/** q192 plan-time auto-configuration: the selection total order on
  * synthetic frontiers (cheapest-feasible, margin tie-break, budget
  * binding, max-recall fallback) and the verdict pin — at the gate
  * corpus the selection IS the documented knee (b16r4 / ivfA_sqrt). */
class AutoConfigSpec extends SparkSpec {
  import spark.implicits._

  private def frontier(rows: (String, Long, Long, Long)*) =
    rows.toSeq.toDF("config", "candidates", "recall_ppm", "pref")

  private def sel(f: org.apache.spark.sql.DataFrame, floor: Long,
      budget: Long): (String, Long) = {
    val r = AutoConfig.selectConfig(f, floor, budget).head()
    (r.getString(0), r.getLong(5))
  }

  test("q192 selection: cheapest feasible config wins") {
    val f = frontier(("cheap_low", 10L, 800000L, 1L),
      ("mid", 100L, 950000L, 1L), ("dear", 1000L, 990000L, 1L))
    assert(sel(f, 900000L, 100000L) === ("mid", 1L))
  }

  test("q192 selection: measurement tie falls to the margin pref") {
    // b16r4 vs b8r8 at the gate corpus: equal candidates, equal
    // recall — the lower pref (fewer rows per band) must win
    val f = frontier(("b8r8", 25L, 1000000L, 8L),
      ("b16r4", 25L, 1000000L, 4L), ("b32r2", 58L, 1000000L, 2L))
    assert(sel(f, 1000000L, 1000000L) === ("b16r4", 1L))
  }

  test("q192 selection: budget excludes an otherwise-cheapest config") {
    val f = frontier(("huge", 5L, 1000000L, 1L),
      ("fits", 50L, 1000000L, 1L))
    // 'huge' is cheapest by candidates but over budget 10 → 'fits'
    assert(sel(f.withColumn("candidates",
      when(col("config") === "huge", 500000L).otherwise(col("candidates"))),
      900000L, 1000L) === ("fits", 1L))
  }

  test("q192 selection: no feasible config degrades to max recall") {
    val f = frontier(("a", 10L, 400000L, 1L), ("b", 99L, 550000L, 1L),
      ("c", 50L, 550000L, 2L))
    // nothing reaches 0.9: fall back to recall DESC, candidates ASC
    // (c beats b at equal recall), and meets_floor reports 0
    assert(sel(f, 900000L, 1000000L) === ("c", 0L))
  }

  test("q192 gate-corpus pin: the selection IS the documented knee") {
    // sf0.01 — the driver's gate corpus: b16r4 (the q180 knee; b8r8
    // ties both measurements and loses on S-curve margin) and
    // ivfA_sqrt (the adaptive √-ladder, tying ivfA_p6 where the
    // ladder IS p6 and winning as the ladder)
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val mh = AutoConfig.bandingChoice(docs).head()
    assert(mh.getString(0) === "b16r4")
    assert(mh.getLong(5) === 1L) // meets the lossless floor
    val ivf = AutoConfig.ivfChoice(emb).head()
    assert(ivf.getString(0) === "ivfA_sqrt")
    assert(ivf.getLong(5) === 1L)
  }

  test("q194 calibration: the mod-2 raw-corpus sample MEASURES and selects the knee") {
    // the v8 auto_banding seam at both gate corpora: the 1-in-2 id
    // slice of the RAW documents carries real truth pairs (pair
    // statistics sample as p² — the CalibSampleMod doc), so the
    // selection is the measured argmin (meets_floor = 1), not the
    // zero-evidence fallback — and it is the same knee the
    // full-corpus q192 table selects
    for (dir <- Seq(sf0001, "/root/testdata/sf0.01")) {
      val docs = Tables.load(spark, dir, "documents")
      val r = AutoConfig.sampledBandingChoice(docs).head()
      assert(r.getString(0) === "b16r4", dir)
      assert(r.getLong(5) === 1L, dir) // measured, not fallback
      assert(r.getLong(2) === 1000000L, dir) // lossless on the sample
    }
  }

  test("q195: the auto-tuned kNN IS the audited q94 plan where the selection is ivf16_p6") {
    // at sf0.001 the q192 ANN argmin lands on the fixed 16-cell
    // codebook at nprobe 6 — exactly the q94 gate config — so the
    // auto-tuned query must reproduce the audited q94 rows verbatim
    val e = Tables.load(spark, sf0001, "embeddings")
    assert(AutoConfig.ivfChoice(e).head.getString(0) === "ivf16_p6")
    val auto = graft.SparkEntry.queries("q195_autotuned_knn")(spark, sf0001)
      .select(col("q_id"), col("vec_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val q94 = graft.operators.Similarity.queries("q94_knn_join")(spark, sf0001)
      .select(col("q_id"), col("vec_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(auto === q94)
    assert(auto.nonEmpty)
  }

  test("q197: strict floor ships b16r4; a relaxed floor flips to the cheaper family") {
    // the cross-family frontier at the spec corpus (measured, probe
    // r14): simhash128 is the CHEAPEST scanner (58 candidates vs
    // b16r4's 509 vs exact's 2067 on the planted corpus) but recovers
    // only 2008 ppm of planted pairs — so the 90% cluster-recall
    // floor selects minhash (exact is 4× the scan for the last 1.8%),
    // and relaxing the floor to zero flips the selection to the
    // cheap family: the trade the operator automates, pinned
    val fr = SparkEntry.queries("q197_family_select")(spark, sf0001)
      .collect().map(r => r.getAs[String]("family") ->
        (r.getAs[Long]("candidates"), r.getAs[Long]("recall_ppm"),
          r.getAs[Long]("sel_strict"), r.getAs[Long]("sel_relaxed"))).toMap
    assert(fr.keySet === Set("exact", "minhash", "simhash128"))
    // exactly one selection per scenario
    assert(fr.values.map(_._3).sum === 1L)
    assert(fr.values.map(_._4).sum === 1L)
    // strict: minhash feasible (≥ 90% cluster recall) and cheaper
    // than exact; simhash128 infeasible by two orders of magnitude
    assert(fr("minhash")._3 === 1L)
    assert(fr("minhash")._2 >= AutoConfig.FamilyRecallFloorPpm)
    assert(fr("exact")._2 === 1000000L)
    assert(fr("simhash128")._2 < 10000L)
    assert(fr("minhash")._1 < fr("exact")._1)
    // relaxed: the cheapest scanner wins — and it is the simhash
    // family, which the strict floor had excluded on quality
    assert(fr("simhash128")._4 === 1L)
    assert(fr("simhash128")._1 < fr("minhash")._1)
  }

  test("q192 freshness contract: a frontier measured elsewhere inverts the selection") {
    // the selectConfig doc's contract, demonstrated (round-13 verdict
    // #4): the IVF frontier measured on sf0.001's embeddings selects
    // ivf16_p6, the one measured on sf0.01's own selects ivfA_sqrt —
    // so serving sf0.01 from a PERSISTED sf0.001 frontier would hand
    // q195's kNN a config the fresh measurement rejects. Frontier
    // inputs must derive from the corpus the selection serves, in the
    // same plan (all AutoConfig entry points do, by construction).
    val stale = AutoConfig.ivfChoice(
      Tables.load(spark, sf0001, "embeddings")).head().getString(0)
    val fresh = AutoConfig.ivfChoice(
      Tables.load(spark, "/root/testdata/sf0.01", "embeddings"))
      .head().getString(0)
    assert(stale === "ivf16_p6")
    assert(fresh === "ivfA_sqrt")
    assert(stale !== fresh) // the inversion a staleness check prevents
  }

  test("q198: selected sketch sizes derive from the measured statistics (and switch with them)") {
    // sf0.001 (N≈27.9k tokens, 351 bench grams, span≈$105k): CMS
    // selects 1024 (⌈e·N/1024⌉ = 75 ≤ 100; 32 would guarantee only
    // 2374), Bloom selects 8192 (23 bits/gram; 1024 gives 2), hist
    // derives the shipped 8192-cent width (512 needs 20509 buckets,
    // over the 4096 budget; 8192 is the finest that fits). The same
    // rules at sf0.1 (N≈271k, 2419 grams) select 32768/131072 — the
    // switch itself is oracle-gated tri-scale; here we pin the spec
    // corpus's selections and that every target is met
    val m = SparkEntry.queries("q198_sketch_sizing")(spark, sf0001)
      .collect().map(r => r.getAs[String]("sketch") ->
        (r.getAs[Long]("selected"), r.getAs[Long]("meets_target"))).toMap
    assert(m("cms_width") === (1024L, 1L))
    assert(m("bloom_bits") === (8192L, 1L))
    assert(m("hist_width") === (8192L, 1L))
  }

  test("q198: a grid that cannot bracket the statistic falls back to max accuracy, visibly") {
    // the q153/q188 lesson as a structural property: feed the CMS rule
    // a token stream far beyond the grid's reach (10^10 occurrences —
    // every width's guaranteed bound exceeds the target) and the
    // selection must degrade to the TIGHTEST bound available (the
    // largest width) with meets_target = 0 — a visible shortfall,
    // never a silent no-op. Same regime for Bloom with a gram
    // inventory the largest filter cannot cover at 10 bits/gram.
    val bigTok = Seq(10000000000L).toDF("sv")
    val c = AutoConfig.cmsPick(bigTok).head()
    assert(c.getAs[Long]("selected") === 32768L) // max-accuracy fallback
    assert(c.getAs[Long]("meets_target") === 0L)
    val bigGram = Seq(1000000L).toDF("sv")
    val b = AutoConfig.bloomPick(bigGram).head()
    assert(b.getAs[Long]("selected") === 131072L)
    assert(b.getAs[Long]("meets_target") === 0L)
    // and a span no width fits within the bucket budget → fewest
    // buckets (the only way to fit closest) with the flag down
    val bigSpan = Seq(131072L * 4096L * 2L).toDF("sv")
    val h = AutoConfig.histPick(bigSpan).head()
    assert(h.getAs[Long]("selected") === 131072L)
    assert(h.getAs[Long]("meets_target") === 0L)
  }

  test("q200: the strict floor derives the shipped radius; the relaxed floor's flip is scale-dependent") {
    // measured (tri-scale, oracle-gated): at 90% precision the
    // largest feasible Hamming ball is sim128_h3 at EVERY sf — the
    // shipped q79 config derived from the data, like q198's hist row.
    // At 50% the 16-bit family's h3 ball becomes admissible at the
    // small corpora (53–60% precision, 71–72% recall) — but at sf0.1
    // its precision is 12% (the q46 birthday floor), so the relaxed
    // selection is corpus-dependent where the strict one is stable
    val rows = SparkEntry.queries("q200_radius_select")(spark, sf0001)
      .collect().map(r => r.getAs[String]("scenario") ->
        (r.getAs[String]("config"), r.getAs[Long]("meets_floors"))).toMap
    assert(rows("strict") === (("sim128_h3", 1L)))
    assert(rows("relaxed") === (("sim64_h3", 1L)))
    // synthetic fallback regime: floors nothing can meet degrade to
    // the max-recall row with the flag down, never an empty result
    val fr = Seq(
      ("a_h1", "a", 1L, 10L, 5L, 20L, 4L, 800000L, 200000L),
      ("a_h2", "a", 2L, 10L, 9L, 20L, 6L, 666666L, 300000L))
      .toDF("config", "family", "radius", "candidates", "accepted",
        "truth_pairs", "hits", "precision_ppm", "recall_ppm")
    val fb = AutoConfig.radiusChoice(fr, 900000L, 1000000L).head()
    assert(fb.getAs[String]("config") === "a_h2") // max recall
    assert(fb.getAs[Long]("meets_floors") === 0L)
  }

  test("q201: the consumed family selection dispatches to the selected family's dedup") {
    // at the spec corpus the mod-2 sampled frontier selects b16r4
    // with meets_floor = 1 (measured in round 14: recall 975000 vs the
    // 900000 floor), so the kept set must BE dedupKeepLsh(16)'s, the
    // config column carrying the decision — the q195 verbatim-rows
    // property applied to the family selection
    val sel = AutoConfig.sampledFamilyChoice(
      Tables.load(spark, sf0001, "documents")).head()
    assert(sel.getString(0) === "b16r4")
    assert(sel.getLong(5) === 1L) // measured, not fallback
    val auto = SparkEntry.queries("q201_auto_dedup")(spark, sf0001)
      .collect()
    assert(auto.map(_.getString(0)).toSet === Set("b16r4"))
    val keptAuto = auto.map(_.getLong(1)).toSet
    val keptLsh = graft.operators.Dedup.dedupKeepLsh(
        Tables.load(spark, sf0001, "documents"), 16)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(keptAuto === keptLsh)
    assert(keptAuto.nonEmpty)
  }

  test("q202: the consumed sizing runs each sketch at the selected size — and reproduces the frontier tables' audited cells") {
    // the q195 verbatim-rows property applied to the MEMORY knob: the
    // auto-sized eval must (a) run at exactly the sizes q198 selects
    // at the spec corpus (CMS 1024 / Bloom 8192 / hist 8192), and
    // (b) produce the SAME integers the round-12 measurement tables
    // (q188/q190/q191) measured for those sizes — the consumer is the
    // frontier's audited cell, executed as production
    val rows = SparkEntry.queries("q202_auto_sized_eval")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3)))
    val bySketch = rows.groupBy(_._1)
    assert(bySketch("cms_width").head._2 === 1024L)
    assert(bySketch("bloom_bits").head._2 === 8192L)
    assert(bySketch("hist_width").head._2 === 8192L)
    // CMS: the probe estimates ARE the q188 frontier's width-1024 row
    val est202 = bySketch("cms_width")
      .map(r => r._3.stripPrefix("est_") -> r._4).toMap
    val est188 = graft.operators.ApproxAggs.cmsWidthFrontier(
        Tables.load(spark, sf0001, "documents"))
      .filter(col("width") === 1024L)
      .collect().map(r => r.getAs[String]("token") -> r.getAs[Long]("est"))
      .toMap
    assert(est202 === est188)
    assert(est202.nonEmpty)
    // Bloom: the flagged census IS the q190 frontier's 8192-bit cell
    val fl190 = graft.operators.TextAnalysis.bloomFrontier(spark, sf0001)
      .filter(col("bits") === 8192L).head().getAs[Long]("flagged")
    assert(bySketch("bloom_bits").head._4 === fl190)
    // hist: the quantiles ARE the q191 frontier's 8192-cent row (the
    // auto-derived bucket count covers the span, so no cell clamps
    // and the two bucket budgets agree on every populated index)
    val h202 = bySketch("hist_width").map(r => r._3 -> r._4).toMap
    val h191 = graft.operators.ApproxAggs.histWidthFrontier(
        Tables.load(spark, sf0001, "lineitem"))
      .filter(col("width_cents") === 8192L).head()
    assert(h202("n_rows") === h191.getAs[Long]("n_rows"))
    assert(h202("p50_cents") === h191.getAs[Long]("p50_cents"))
    assert(h202("p90_cents") === h191.getAs[Long]("p90_cents"))
  }

  test("q203: the consumed radius selection dispatches the full corpus at the sampled (family, radius)") {
    // the threshold knob's consumer at the spec corpus: the mod-2
    // slice's q182 frontier admits the 16-bit family (the slice is
    // below the birthday floor) and its h2 ball tops measured recall
    // — so the selection is sim64_h2, and the kept set must BE the
    // full-corpus sim64 Hamming ≤ 2 drop, the config column carrying
    // the decision. (At sf0.01 the slice selects sim128_h2 — recall
    // ties fall to the tighter ball; the per-sf selections are
    // oracle-gated tri-scale.)
    val d = Tables.load(spark, sf0001, "documents")
    val sel = AutoConfig.sampledRadiusChoice(d).head()
    assert(sel.getString(0) === "sim64_h2")
    assert(sel.getAs[Long]("meets_floors") === 1L) // measured, not fallback
    val auto = SparkEntry.queries("q203_auto_radius_dedup")(spark, sf0001)
      .collect()
    assert(auto.map(_.getString(0)).toSet === Set("sim64_h2"))
    val keptAuto = auto.map(_.getLong(1)).toSet
    val drop = graft.operators.Dedup.simhashPairs(d)
      .filter(col("hamming") <= 2)
      .select(col("doc_b")).collect().map(_.getLong(0)).toSet
    val expected = d.select(col("doc_id")).collect().map(_.getLong(0))
      .toSet -- drop
    assert(keptAuto === expected)
    assert(keptAuto.nonEmpty)
  }

  test("q204: the freshness check uses a valid artifact, detects a stale one, and the trusted row shows the prevented inversion") {
    // spec corpus: the valid artifact is used as-is (persisted), the
    // 1-in-8-slice artifact is detected (fp_match = 0) and
    // re-measured to the SAME config the fresh measurement selects —
    // while the stale artifact, trusted blindly, would have shipped
    // ivf16_p4 (measured on 63 vectors). At sf0.1 the trusted row is
    // ivfA_sqrt vs the required ivf16_p6 — the exact verdict-#4
    // inversion, now in the gated output (oracle-gated tri-scale).
    val rows = SparkEntry.queries("q204_persisted_frontier")(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getAs[String]("config"), r.getAs[Long]("fp_match"),
          r.getAs[String]("source"))).toMap
    assert(rows("valid") === (("ivf16_p6", 1L, "persisted")))
    assert(rows("stale") === (("ivf16_p6", 0L, "remeasured")))
    assert(rows("stale_trusted")._1 === "ivf16_p4") // the prevented pick
  }

  test("q204: the persisted path really reads the artifact; the mismatch path really re-measures") {
    // a DOCTORED artifact — fake frontier rows carrying the CORRECT
    // corpus stamp — must drive the selection (proof the valid path
    // never silently re-measures: the fake config comes back); the
    // same rows with a wrong stamp must be rejected and re-measured
    // (the real corpus answer comes back)
    val e = Tables.load(spark, sf0001, "embeddings")
    val fp = AutoConfig.corpusFingerprint(e).head()
    def doctored(n: Long, x: Long) =
      Seq(("fake_cfg", 1L, 1000000L)).toDF("config", "candidates",
        "recall_ppm").withColumn("fp_n", lit(n)).withColumn("fp_x", lit(x))
    val trusted = AutoConfig.selectIvfChecked(
      doctored(fp.getLong(0), fp.getLong(1)), e).head()
    assert(trusted.getAs[String]("config") === "fake_cfg")
    assert(trusted.getAs[String]("source") === "persisted")
    val rejected = AutoConfig.selectIvfChecked(
      doctored(fp.getLong(0) + 1, fp.getLong(1)), e).head()
    assert(rejected.getAs[String]("config") === "ivf16_p6")
    assert(rejected.getAs[String]("source") === "remeasured")
  }

  test("q192 sf0.001: ANN selection is corpus-dependent by design") {
    // at sf0.001 all three ≥-floor IVF configs tie on recall and the
    // 16-cell fixed codebook is strictly cheapest — the operator
    // picks it; b16r4 still wins the text side (the three-way
    // candidate tie falls to margin)
    val docs = Tables.load(spark, sf0001, "documents")
    val emb = Tables.load(spark, sf0001, "embeddings")
    assert(AutoConfig.bandingChoice(docs).head().getString(0) === "b16r4")
    assert(AutoConfig.ivfChoice(emb).head().getString(0) === "ivf16_p6")
  }
}
