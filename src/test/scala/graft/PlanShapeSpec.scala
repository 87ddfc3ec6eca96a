package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExplainUtils, FormattedMode,
  QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.{ExecutionEnd, awaitListeners}
import graft.Cut._

/** Physical-plan regression guards: the shapes PLANS.md documents
  * must survive refactors — pushdown reaching the scan, dimension
  * broadcasts, top-k without a global sort, band join staying an
  * equi-join. A correctness-preserving change that regresses one of
  * these is a performance bug at 100 TB. */
class PlanShapeSpec extends SparkSpec {

  private def executedPlan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  /** `body`'s value and every action it ran, in start order: the
    * action's name (`localCheckpoint` for a cut), its job description
    * (a cut's label) and its QueryExecution. */
  private def actions[A](body: => A): (A, Seq[(String, String, QueryExecution)]) = {
    val labels = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val ended = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, QueryExecution)]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => labels.put(s.executionId, s.description)
        case ExecutionEnd(id, name, qe) => ended.add((id, name, qe))
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val value = try { val v = body; awaitListeners(sc); v }
      finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    (value, ended.asScala.toSeq.sortBy(_._1).map { case (id, name, qe) =>
      (name, labels.get(id), qe) })
  }

  /** The plan `explain` prints before `plan` runs. An executed
    * adaptive plan prints its final stages too; a fresh copy of the
    * adaptive root holds only the initial plan. */
  private def initialPlan(plan: SparkPlan): String = {
    val sb = new StringBuilder("== Physical Plan ==\n")
    ExplainUtils.processPlan[SparkPlan](plan match {
      case a: AdaptiveSparkPlanExec => a.copy()
      case p => p
    }, s => sb.append(s))
    sb.append("\n").toString
  }

  /** The plans a shipped builder runs: every cut's segment (its label
    * and initial physical plan, in run order) and the returned
    * frame's. A cut reports its segment as a `localCheckpoint` action. */
  private case class Shipped(cuts: Seq[(String, String)], result: String) {
    def all: String = (cuts.map(_._2) :+ result).mkString("\n")
    /** The segment of the one cut labelled `label`. */
    def cut(label: String): String = cuts.filter(_._1 == label) match {
      case Seq((_, p)) => p
      case found => fail(s"${found.size} cuts labelled $label among ${cuts.map(_._1)}")
    }
  }
  private def shipped(build: => DataFrame): Shipped = {
    val (out, run) = actions(build)
    Shipped(run.collect {
      case ("localCheckpoint", label, qe) => label -> initialPlan(qe.executedPlan)
    }, out.queryExecution.explainString(FormattedMode))
  }

  /** FormattedMode prints the operator tree, a blank line, then a
    * per-node details section that REPEATS every operator name — a
    * substring count over the full string counts each node twice
    * (round-6 lesson: three guards shipped with thresholds calibrated
    * against PlanDump's deduplicated tree and failed at 2×). All
    * operator counts must run on the tree section only — of each
    * plan, when several are joined. */
  private def tree(p: String): String =
    p.split("(?m)^(?=== Physical Plan ==)").map(
      _.linesIterator.takeWhile(_.nonEmpty).mkString("\n")).mkString("\n")

  private def count(p: String, pattern: String): Int =
    pattern.r.findAllIn(tree(p)).length

  /** Number of shuffle Exchanges keyed by a column prefix. The tree
    * prints bare `Exchange (n)` with no partitioning, so the old
    * `"Exchange hashpartitioning"` substring guards matched NOTHING
    * (vacuously ≤ k). The details section lists each Exchange node
    * exactly once with its partitioning on its own `Arguments:` line
    * — count those. */
  private def keyedExchanges(p: String, keyPrefix: String): Int =
    ("Arguments: hashpartitioning\\(" + keyPrefix).r.findAllIn(p).length

  test("q01: date filter is pushed into the parquet scan") {
    val p = executedPlan("q01_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("q02: all conjuncts pushed; scan schema pruned") {
    val p = executedPlan("q02_filter_project")
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
    assert(p.contains("GreaterThanOrEqual(l_quantity,30.0)"), p)
    // pruned: the scan must not read l_shipdate or l_tax
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_tax"), readSchema)
  }

  test("q04: every dimension join is a broadcast hash join") {
    val p = executedPlan("q04_join_multi_broadcast")
    assert(count(p, "BroadcastHashJoin Inner BuildRight") === 3, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q13: top-k compiles to TakeOrderedAndProject (no global sort)") {
    val p = executedPlan("q13_sort_limit_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  // every SkyJoin gate: the cones (q31, q68) and the rectangles (q75)
  test("q31: cone join is an equi-join on the band key, not a nested loop") {
    for (q <- Seq("q31_cone_join_agg", "q68_cone_centroid", "q75_rect_join_agg")) {
      val p = executedPlan(q)
      assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("SortMergeJoin"), s"$q\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q\n$p")
    }
  }

  test("cosmap run: the quickstart cone join is the band equi-join; the run caches nothing") {
    val quickstart = new QuickstartRun(spark, sf0001)
    val p = graft.pipeline.AnalysisRunner.run(spark,
        QuickstartRun.runConfig(200, None), QuickstartRun.parameters,
        QuickstartRun.transformations, graft.cli.StandardTransforms.registry,
        spark.read.parquet(quickstart.catalogPath))
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)

    // RunAnalysis.execute writes straight from the plan: no action
    // reads a cached relation, and the cache is empty afterwards
    spark.catalog.clearCache()
    val plans = actions {
      quickstart.execute(quickstart.config(200, Some(quickstart.outPath())))
    }._2.map(_._3.executedPlan.toString)
    assert(plans.exists(_.contains("InsertIntoHadoopFsRelation")), plans)
    plans.foreach(plan => assert(!plan.contains("InMemoryTableScan") &&
      !plan.contains("TableCacheQueryStage"), plan))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("q44: shingles via the codegen'd kernel; candidate join is an equi-join") {
    // every segment: the shingles run in the gram table's cut
    val p = shipped(SparkEntry.queries("q44_ngram_jaccard")(spark, sf0001)).all
    // the custom WordNGrams expression, not interpreted HOF lambdas
    assert(p.toLowerCase.contains("wordngrams"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // no interpreted transform(sequence(...)) shingle construction
    assert(!p.contains("transform(sequence"), p)
  }

  test("q83: composed LSH clustering never plans a cartesian; sketch is the codegen kernel") {
    // audit the edge-generation plan (the full q83 runs an iterative
    // CC loop whose per-round plans are separate executions)
    val e = Tables.load(spark, sf0001, "embeddings")
    val p = operators.Similarity.lshEdges(e, operators.Similarity.Planes83,
        operators.Similarity.Bands83, operators.Similarity.Bits83, 0.4)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    // candidates come from a (band_id, band_key) equi-join
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // the sign-band sketch is the single fused codegen expression,
    // and verification is the codegen'd cosine kernel
    assert(p.toLowerCase.contains("signbands"), p)
    assert(p.toLowerCase.contains("cosinesimilarity"), p)
  }

  test("q87: adaptive LSH edge generation matches q83's shape (equi-join, codegen sketch + cosine)") {
    // same audit as q83 but through the adaptive-width path: the
    // runtime band width must stay a mask over the static sketch, so
    // the plan shape is identical — a (band_id, key) equi-join feeding
    // the codegen cosine verify, never a cartesian
    val e = Tables.load(spark, sf0001, "embeddings")
    val p = operators.Similarity.adaptiveEdges(e, threshold = 0.9)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.toLowerCase.contains("signbands"), p)
    assert(p.toLowerCase.contains("cosinesimilarity"), p)
  }

  test("q84: PassJoin candidate join is an equi-join on segment signatures") {
    val p = executedPlan("q84_passjoin_edit2")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // verification is threshold levenshtein (banded DP), on candidates only
    assert(p.contains("levenshtein"), p)
  }

  test("q65: banded join stays an equi-join with no distinct re-shuffle") {
    val p = executedPlan("q65_edit_distance")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // the pair-dedup distinct was replaced by the canonical-band join
    // predicate: no aggregate keyed by doc_a/doc_b may reappear (the
    // details section prints aggregate keys as `Keys [n]: [doc_a…]`;
    // the tree prints bare `HashAggregate (n)`)
    assert(!"Keys \\[\\d+\\]: \\[doc_a".r.findAllIn(p).hasNext, p)
  }

  test("q85: surprisal is keyed joins + a scalar broadcast, nothing all-pairs") {
    val p = executedPlan("q85_unigram_surprisal")
    assert(!p.contains("CartesianProduct"), p)
    // the token inverted-index join is a real equi-join...
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
    // ...and the only nested-loop is the broadcast of the 1-row total
    assert(count(p, "BroadcastNestedLoopJoin") <= 1, p)
    // per-doc aggregation is two-phase (map-side partial before the
    // exchange) — the sum is integer, so partials are exact
    assert(count(p, "HashAggregate") >= 2, p)
  }

  test("q86: IVF is a joinless scan with isin-cell pruning and top-k, cosine in codegen") {
    val p = executedPlan("q86_ann_ivf")
    // no join of any kind: centroids are plan constants, the query
    // vector a literal — the whole query is scan → project → filter
    // (cell IN probes) → TakeOrderedAndProject
    assert(!p.contains("Join"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.toLowerCase.contains("cosinesimilarity"), p)
    assert(p.contains(" IN ") || p.contains(" INSET "), p)
  }

  test("q88: stratified sample is map-only (no shuffle, no join)") {
    val p = executedPlan("q88_stratified_sample")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("q89: temperature mix never shuffle-joins — the 5-row rate dim broadcasts") {
    val p = executedPlan("q89_temperature_mix")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q90: packing shuffles ONCE, keyed by shard") {
    val p = executedPlan("q90_shard_pack")
    assert(p.contains("hashpartitioning(shard"), p)
    assert(p.contains("Window"), p)
    // exactly ONE shuffle exchange in the whole plan, keyed by shard
    assert(count(p, "(?<!Broadcast)Exchange \\(") === 1, p)
    assert(keyedExchanges(p, "shard") === 1, p)
  }

  test("q107: the boundary audit rides q90's single shard shuffle — the (shard, bin) groupBy adds NO exchange") {
    val p = executedPlan("q107_pack_audit")
    assert(p.contains("hashpartitioning(shard"), p)
    assert(p.contains("Window"), p)
    // {shard} ⊆ {shard, bin} satisfies the aggregation's clustered
    // distribution: same ONE exchange as q90, nothing added
    assert(count(p, "(?<!Broadcast)Exchange \\(") === 1, p)
    assert(keyedExchanges(p, "shard") === 1, p)
  }

  test("q91: per-group sample is two-phase — bucketed pre-prune, never one partition per language") {
    val p = executedPlan("q91_per_group_sample")
    // two ranking stages: (lang, bucket) then lang-over-survivors
    assert(count(p, "Window \\(") >= 2, p)
    // both exchanges are keyed; nothing collapses to a single partition
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("hashpartitioning(lang"), p)
  }

  test("q92: chunking is a map-side explode (no shuffle, no join)") {
    val p = executedPlan("q92_doc_chunks")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("Generate"), p) // the explode
  }

  /** A compiled pipeline as its query function ships it: the node
    * cuts (`CorpusPipeline.registry: <node>`), the operators' own cuts
    * and the final `pipeline output` cut, which holds the mix → pack →
    * chunk tail. */
  private def pipeline(q: String): Shipped =
    shipped(SparkEntry.queries(q)(spark, sf0001))

  /** Chunking stays a map-side explode ABOVE the pack window in the
    * `pipeline output` cut: the formatted tree prints root-first, so
    * the chunk Generate must appear before the Window with no Exchange
    * between them (the map-only stage acquired no shuffle by being
    * composed). */
  private def assertChunkMapSide(s: Shipped): Unit = {
    val out = s.cut("CorpusPipeline.materialized: pipeline output")
    val gi = out.indexOf("Generate")
    val wi = out.indexOf("Window")
    assert(gi >= 0 && wi > gi, out)
    assert(!out.substring(gi, wi).contains("Exchange"), out)
  }

  test("q93: composed corpus-prep pipeline keeps each stage's shape") {
    val s = pipeline("q93_corpus_prep_pipeline")
    val p = s.all
    // nothing in the composition may degrade to an all-pairs plan
    assert(!p.contains("CartesianProduct"), p)
    // the temperature rate dim still broadcasts (no shuffle join of a
    // per-language 5-row table against the corpus)
    assert(p.contains("BroadcastHashJoin"), p)
    // shard/pack remains the single Window in the chain, keyed by shard
    assert(p.contains("hashpartitioning(shard"), p)
    assertChunkMapSide(s)
  }

  test("q97: repeated-span marking is join-light — semi-join on the gram key, no pair join, no broadcast of the window table") {
    val p = executedPlan("q97_repeated_spans")
    // the whole point vs the q44 family: no candidate PAIR join exists
    assert(!p.contains("CartesianProduct"), p)
    // marking is a LEFT SEMI equi-join on the gram key, shuffled (a
    // size misestimate must not broadcast the deserialized gram table)
    assert(p.contains("SortMergeJoin LeftSemi"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
    // occurrence counting partial-aggregates map-side: HashAggregate
    // below the exchange (a hot boilerplate window pre-counts on every
    // mapper — the shuffle carries compressed partials, not rows)
    assert(p.contains("HashAggregate"), p)
    // islands merge: ONE doc-keyed exchange; the final groupBy
    // (doc_id, island) reuses the window's partitioning
    assert(keyedExchanges(p, "doc_id") <= 1, p)
  }

  test("q98: source overlap self-join shuffles on the gram key; only the totals dim broadcasts") {
    val s = shipped(SparkEntry.queries("q98_source_overlap")(spark, sf0001))
    val p = s.result
    assert(!p.contains("CartesianProduct"), p)
    // the vocabulary-sized self-join must NOT broadcast either side
    assert(p.contains("SortMergeJoin"), p)
    // exactly one broadcast join: the |sources|-row totals dim
    assert(count(p, "BroadcastHashJoin") <= 1, p)
    // sg is cut: three plan references, one computation — the gram
    // explode runs in exactly one shipped cut and not in the result
    assert(s.cuts.count(c => tree(c._2).contains("Generate")) === 1, s.all)
    assert(!tree(s.result).contains("Generate"), s.result)
  }

  test("q99: span scrub anti-joins on the doc key — no broadcast of the scale-growing span table") {
    val p = executedPlan("q99_span_scrub")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin LeftAnti"), p)
    assert(!p.contains("BroadcastHashJoin LeftAnti"), p)
    // the final reassembly groupBy reuses the anti-join's doc_id
    // partitioning: at most the join's own two doc-keyed exchanges
    assert(keyedExchanges(p, "doc_id") <= 2, p)
  }

  test("q104: scrub-first composed pipeline keeps the q93 shapes — no cartesian, rates broadcast, single shard window") {
    val s = pipeline("q104_corpus_prep_scrubbed")
    val p = s.all
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)          // temperature rate dim
    assert(p.contains("hashpartitioning(shard"), p)     // the one pack window
    assertChunkMapSide(s)
  }

  test("q194: v8 auto-tuned pipeline — the compiled plan uses the SELECTED banding's explode and no other's") {
    import graft.operators.{AutoConfig, Dedup}
    // the selection the auto_banding node will make at this corpus —
    // computed through the same seam the DAG node uses (v8's dedup
    // stage is FIRST, so the calibration runs on the raw corpus)
    val docs = Tables.load(spark, sf0001, "documents")
    val sel = AutoConfig.sampledBandingChoice(docs).head.getString(0)
    val chosen = AutoConfig.bandsOf(sel)
    val s = pipeline("q194_autotuned_pipeline")
    // the banding explode is built from 64/bands-wide signature
    // slices; the LAST band's slice (offset (b-1)·r+1, width r) is a
    // unique structural marker per banding — the chosen one must be
    // in the dedup node's plan, every other banding absent (the
    // auto_banding calibration's own cuts hold every banding)
    val dedup = s.cut("CorpusPipeline.registry: dedup_keep_lsh")
    def marker(bands: Int) = { val r = 64 / bands; s", ${(bands - 1) * r + 1}, $r)" }
    assert(dedup.contains(marker(chosen)), s"selected $sel not in plan")
    Dedup.BandGrid.filter(_ != chosen).foreach { b =>
      assert(!dedup.contains(marker(b)), s"unselected banding b$b in plan")
    }
    // the q93-family composed shapes hold for the new spine too
    val p = s.all
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)          // temperature rate dim
    assert(p.contains("hashpartitioning(shard"), p)     // the one pack window
    assertChunkMapSide(s)
  }

  test("q143: v3 composed pipeline — no cartesian, scale joins shuffled, SemDeDup anti-join not broadcast, chunk map-side") {
    val s = pipeline("q143_corpus_prep_v3")
    val p = s.all
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)          // temperature rate dim
    assert(p.contains("hashpartitioning(shard"), p)     // the one pack window
    // the SemDeDup drop set scales with the corpus: its anti-join must
    // stay a shuffled equi-join (the q102 posture carried into the DAG)
    assert(p.contains("SortMergeJoin LeftAnti"), p)
    assert(!p.contains("BroadcastHashJoin LeftAnti"), p)
    assertChunkMapSide(s)
  }

  test("q153: v4 composed pipeline — no cartesian, SemDeDup anti-join stays merge, chunk map-side above the one pack window") {
    val s = pipeline("q153_corpus_prep_v4")
    val p = s.all
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)          // temperature rate dim
    assert(p.contains("hashpartitioning(shard"), p)     // the one pack window
    assert(p.contains("SortMergeJoin LeftAnti"), p)     // SemDeDup drop set
    assert(!p.contains("BroadcastHashJoin LeftAnti"), p)
    assertChunkMapSide(s)
  }

  test("q153: classifier-keep — trained weights broadcast into the features, scale-growing keep set merge-joined, threshold dims broadcast") {
    // the scorer runs in the scored-table cut; the keep in the frame
    val d = Tables.load(spark, sf0001, "documents")
    val w = graft.operators.Perceptron.trainPocket(d)
    val p = shipped(graft.operators.Perceptron.classifierKeep(d, w)).all
    assert(!p.contains("CartesianProduct"), p)
    // the ≤(B+1)-row weight table broadcasts into the feature stream
    assert(p.contains("BroadcastHashJoin"), p)
    // the 1-row extent and threshold dims ride broadcast nested loops
    // (3: keep-side ext + thr, and the thr subplan's own ext)
    assert(count(p, "BroadcastNestedLoopJoin") <= 3, p)
    // the keep semi-join: keep set ~half the corpus — merge, never
    // broadcast (explicitly hinted)
    assert(p.contains("SortMergeJoin LeftSemi"), p)
    assert(!p.contains("BroadcastHashJoin LeftSemi"), p)
  }

  test("q145: increment×corpus candidate join is a band-keyed merge join; the corpus index never broadcasts") {
    // candidate generation runs in the verified-pair cut
    val p = shipped(graft.operators.Dedup.incrementalDedup(
      Tables.load(spark, sf0001, "documents"))).all
    assert(!p.contains("CartesianProduct"), p)
    // the band+bucket collision join: both sides corpus-scale, hinted
    // to a shuffled merge join on the band key
    assert(p.contains("SortMergeJoin Inner"), p)
    assert(count(p, "keys \\[band") >= 1 || keyedExchanges(p, "band") >= 2, p)
    // the increment-sided left joins are merges too (the match tables
    // grow with the increment — no broadcast)
    assert(p.contains("SortMergeJoin LeftOuter"), p)
    assert(!p.contains("BroadcastHashJoin LeftOuter"), p)
  }

  test("q156: plane/center literals broadcast; candidates are a chunk-keyed equi-join; verify joins candidate-sized — no cartesian") {
    // the shipped query cuts the fingerprint and candidate frames
    // (decode runs once, r14 optimization): audit every segment
    val p = shipped(graft.operators.ImageDedup.imageNearDups(spark)).all
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the fingerprint runs in the MediaChunks codegen kernel over the
    // gathered feature array (r14: replaced the plane-literal
    // broadcast join + two keyed aggregations); Hamming and L1 verify
    // are the row-local codegen companions
    assert(p.toLowerCase.contains("mediachunks"), p)
    assert(p.toLowerCase.contains("chunkhamming"), p)
    assert(p.toLowerCase.contains("arrl1"), p)
    // chunk-collision candidates: an EQUI-join keyed on the chunk
    // columns (broadcast at the tiny spec corpus, shuffled at scale —
    // either way never a nested loop; the keys appear in the join's
    // details section)
    assert(count(p, "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)") >= 1, p)
    assert(p.contains("chunk_id#"), p)
  }

  test("q163: the doc sample is a broadcast-dim predicate — one single-partition count agg, ZERO keyed exchanges") {
    val d = Tables.load(spark, sf0001, "documents")
    val p = graft.operators.Perceptron.sampleDocs(d)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    // the 1-row corpus count only ever broadcasts onto the scan —
    // the sample adds NO keyed exchange to q144's audited train shape
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Arguments: hashpartitioning("), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q164: draw+decode is map-side over the documents scan; kernel shape inherited from q156 — no cartesian, chunk-keyed candidates") {
    // every segment, as for q156 above
    val p = shipped(graft.operators.ImageDedup
      .scaledImageNearDups(spark, sf0001)).all
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the synthetic corpus is one MapPartitions over the (spread)
    // documents scan
    assert(p.contains("MapPartitions"), p)
    // fingerprint/Hamming/L1 in the codegen kernels, chunk-keyed
    // equi-join candidates (see q156 above)
    assert(p.toLowerCase.contains("mediachunks"), p)
    assert(count(p, "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)") >= 1, p)
    assert(p.contains("chunk_id#"), p)
  }

  test("q178: ingest probe is a chunk-keyed equi-join carrying both fingerprints — Hamming/L1 in the codegen kernels, no cartesian") {
    // every segment, as for q156 above — the shipped query cuts the
    // fp frame and the verified set
    val p = shipped(graft.operators.ImageDedup
      .imageIncremental(spark, sf0001)).all
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // r14 array form: ONE fingerprint pass (MediaChunks), Hamming
    // row-local on the collision join (ChunkHamming — no per-chunk
    // re-join), exact L1 row-local on the id-keyed vec joins (ArrL1 —
    // no per-dim re-join)
    assert(p.toLowerCase.contains("mediachunks"), p)
    assert(p.toLowerCase.contains("chunkhamming"), p)
    assert(p.toLowerCase.contains("arrl1"), p)
    // the probe is keyed on the chunk columns; both sides are hinted
    // off broadcast (corpus-scale standing index — the q145 lesson)
    assert(p.contains("chunk_id#"), p)
  }

  test("q155: E-step is a piece-keyed merge join (vocab never broadcasts) feeding the codegen Viterbi kernel; counts map-side combine") {
    val d = Tables.load(spark, sf0001, "documents")
    val (sp, voc) = graft.operators.UnigramLM.train(d, rounds = 0)
    val p = graft.operators.UnigramLM.segmentWith(sp, voc)
      .groupBy(org.apache.spark.sql.functions.col("piece"))
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("c")))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("CartesianProduct"), p)
    // lattice join: substring occurrences × vocab — both vocabulary-
    // scale and corpus-growing, hinted to a merge join
    assert(p.contains("SortMergeJoin Inner"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
    // the per-word DP runs in the custom kernel, not HOF lambdas
    assert(p.toLowerCase.contains("unigram_viterbi"), p)
    // bounded shuffle work per round: piece join (2 sides), the
    // w-keyed lattice collect, the piece-keyed count — nothing else
    assert(count(p, "Exchange") <= 4, p)
    // count aggregation is two-phase (map-side partial first)
    assert(count(p, "HashAggregate") >= 2, p)
  }

  test("q154: index merge is an append-only union — standing side read from cache, ZERO shuffle exchanges") {
    import org.apache.spark.sql.functions.{col, md5, substring}
    val d = Tables.load(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val h = substring(md5(col("doc_id").cast("string")), 1, 8)
    val idx = graft.streaming.DocStreams.buildIndex(d.filter(h < "aaaaaaaa"))
    val survivors = d.filter(h >= "aaaaaaaa" && h < "dddddddd")
      .cut("PlanShapeSpec: survivors")
    // the merge cuts the merged index: audit the plans of its two cuts
    val merged = shipped(graft.streaming.DocStreams.mergeIndex(idx, survivors).buckets)
    val pb = merged.cut("DocStreams.mergeIndex: band buckets")
    val pg = merged.cut("DocStreams.mergeIndex: grams")
    // union over the standing side's checkpoint + map-side survivor
    // keys: the merge repartitions nothing — no Exchange anywhere
    assert(count(pb, "Union") >= 1, pb)
    assert(count(pb, "Scan ExistingRDD") === 2, pb)
    assert(count(pb, "Exchange") === 0, pb)
    assert(count(pg, "Union") >= 1, pg)
    assert(count(pg, "Exchange") === 0, pg)
  }

  test("q150: retention rides ONE user-keyed merge join; the day-0 census broadcasts back") {
    val p = executedPlan("q150_retention_cohorts")
    assert(!p.contains("CartesianProduct"), p)
    // first-day × active-day: both sides corpus-scale, hinted merge
    assert(p.contains("SortMergeJoin Inner"), p)
    // the ≤days² day-0 slice re-attaches as a broadcast
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q146: vectorizer is keyed groupBys + ONE token-keyed merge join; only the 1-row count broadcasts") {
    val p = executedPlan("q146_hashed_doc_vectors")
    assert(!p.contains("CartesianProduct"), p)
    // idf attach: vocabulary-scale both sides, hinted off broadcast
    assert(p.contains("SortMergeJoin Inner"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
    // the single scalar (corpus count) rides a broadcast nested loop
    assert(count(p, "BroadcastNestedLoopJoin") <= 1, p)
  }

  test("q147: sparse retrieval — panel/query-norm dims broadcast, corpus norms merge-join, top-5 is a window group limit") {
    val p = executedPlan("q147_hashed_vector_topk")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)   // panel + qnorms dims
    assert(p.contains("SortMergeJoin"), p)       // corpus-norm attach
    assert(p.contains("WindowGroupLimit"), p)    // top-5 never a full sort
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q144: perceptron scorer rides the cached doc_id partitioning — weights broadcast, zero new doc-keyed exchanges") {
    // the scorer is trainScore's last cut (the epochs' weight cuts
    // run before it)
    val p = shipped(graft.operators.Perceptron.trainScore(
      Tables.load(spark, sf0001, "documents"))).cuts.last._2
    assert(!p.contains("CartesianProduct"), p)
    // the ≤B-row pocket weight dim broadcasts into the cut features
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // feature table read from its checkpoint; the per-doc score
    // groupBy reuses the cut's doc_id partitioning — the tree ABOVE
    // the checkpoint scan (the scorer itself) contains no shuffle
    // exchange at all (the features' one-time repartition ran in
    // their own cut)
    assert(p.contains("Scan ExistingRDD"), p)
    assert(count(p, "(?<!Broadcast)Exchange") === 0, p)
  }

  test("q100: BM25 is inverted-index joins — term/df dims broadcast, corpus side shuffles, nothing all-pairs") {
    val p = executedPlan("q100_bm25_topk")
    assert(!p.contains("CartesianProduct"), p)
    // the tiny query-term dim and df dim broadcast into the scan side
    assert(p.contains("BroadcastHashJoin"), p)
    // the corpus-sized doc-length join is hinted to a shuffle join
    assert(p.contains("SortMergeJoin"), p)
    // the only nested-loop is the 1-row avgdl scalar
    assert(count(p, "BroadcastNestedLoopJoin") <= 1, p)
  }

  test("q101: DSIR — λ dim broadcasts, doc-weight join shuffles, global top-K is TakeOrdered") {
    val p = executedPlan("q101_dsir_resample")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p) // never a full global sort
    assert(p.contains("BroadcastHashJoin"), p)     // the ≤1024-row λ dim
    assert(p.contains("SortMergeJoin"), p)         // the per-doc weight join
    assert(count(p, "BroadcastNestedLoopJoin") <= 1, p) // totals scalar
  }

  test("q102: SemDeDup joins are keyed equi-joins; no scale side ever broadcasts") {
    val p = executedPlan("q102_semdedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // within-cell self-join + kept-flag join, both shuffled
    assert(!p.contains("BroadcastHashJoin"), p)
    assert(count(p, "SortMergeJoin") >= 1, p)
  }

  test("q113: decontamination joins are keyed equi-joins; no scale side ever broadcasts") {
    val p = executedPlan("q113_embedding_decontam")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // train, test AND the hit table all scale with the corpus: every
    // join is a shuffled equi-join (the q102 posture)
    assert(!p.contains("BroadcastHashJoin"), p)
    assert(count(p, "SortMergeJoin") >= 2, p) // cell join + flag join
  }

  test("q117: winnow selection is one doc-keyed window pass; profile joins never broadcast a corpus side") {
    // the selection subplan (pre-checkpoint): all 2(w-1) frame minima
    // ride ONE doc-keyed exchange — no self-join, no explode-join
    val selP = graft.operators.Winnow.selected(
      Tables.load(spark, sf0001, "documents"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(!selP.contains("Join"), selP)
    assert(count(selP, "(?<!Broadcast)Exchange \\(") === 1, selP)
    assert(keyedExchanges(selP, "doc_id") === 1, selP)
    // the assembled profile: per-doc aggregates scale with the corpus
    // — left joins must stay shuffled merges, nothing nested-loop
    val p = executedPlan("q117_winnow_fingerprints")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
    assert(count(p, "SortMergeJoin LeftOuter") === 2, p)
    // document frequency is a window on the distinct set, not a join
    assert(count(p, "Window \\(") === 1, p)
  }

  test("q123: bucketing reads the checkpointed surprisal table; thresholds are a 1-row broadcast dim") {
    val p = executedPlan("q123_perplexity_buckets")
    // the q103 chain ran once into the checkpoint; assignment is the
    // corpus scan x the broadcast threshold scalar
    assert(p.contains("Scan ExistingRDD"), p)
    assert(count(p, "BroadcastNestedLoopJoin") === 1, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
    // the tercile windows run after the bin groupBy — tiny table
    assert(count(p, "Window \\(") === 2, p)
  }

  test("q122: clone pair join reads the checkpointed fingerprint table; nothing corpus-scale broadcasts") {
    val p = executedPlan("q122_winnow_clones")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
    // the winnow selection + df window ran ONCE into the checkpoint;
    // the plan holds only the fp-keyed pair merge (fan-out <= DfCap)
    // and the two per-doc size attaches
    assert(p.contains("Scan ExistingRDD"), p)
    assert(count(p, "SortMergeJoin Inner") === 3, p)
    assert(!p.contains("Window"), p)
  }

  test("q121: divergence pair join is the token-keyed merge; count table computed once; dims broadcast") {
    val s = shipped(SparkEntry.queries("q121_source_divergence")(spark, sf0001))
    val p = s.result
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // exactly ONE corpus-scale join: the token-keyed pair merge whose
    // per-key fan-out is <= |sources| (the q98 argument)
    assert(count(p, "SortMergeJoin") === 1, p)
    // totals + entropy dims are |sources|-row broadcasts
    assert(count(p, "BroadcastHashJoin") >= 3, p)
    // the (source, token) table is cut — one aggregation job feeds
    // all three references: the token explode runs in exactly one
    // shipped cut and not in the result
    assert(s.cuts.count(c => tree(c._2).contains("Generate")) === 1, s.all)
    assert(!tree(s.result).contains("Generate"), s.result)
  }

  test("q120: reweighting rides the q103 joins; windows run on the source-sized table only") {
    val p = executedPlan("q120_domain_reweight")
    assert(!p.contains("CartesianProduct"), p)
    // the one nested loop is the V vocabulary scalar (the q103 guard)
    assert(count(p, "BroadcastNestedLoopJoin") <= 1, p)
    // count-table joins + the doc-keyed source attach are all merges
    assert(count(p, "SortMergeJoin") >= 3, p)
    // global mean + weight normalization: two windows AFTER the
    // source groupBy — they see <= |sources| rows, never the corpus
    assert(count(p, "Window \\(") === 2, p)
  }

  test("q118: a Lloyd round broadcasts only the codebook; assignment rides the cut's vec_id partitioning") {
    import org.apache.spark.sql.functions.{broadcast, col, lit, posexplode, row_number}
    val e = Tables.load(spark, sf0001, "embeddings")
    val qv = e.select(col("vec_id"),
        posexplode(graft.functions.NormQuant(col("embedding"))))
      .select(col("vec_id"), col("pos"), col("col").as("q"))
      .repartition(col("vec_id")).cut("PlanShapeSpec q118: coordinates")
    val ids = e.select(col("vec_id")).orderBy(col("vec_id")).limit(8)
      .withColumn("cluster", (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("vec_id"))) - 1)
        .cast("int"))
    val cent = qv.join(broadcast(ids), "vec_id")
      .select(col("cluster"), col("pos"), col("q").as("c"), lit(0L).as("n"))
      .cut("PlanShapeSpec q118: codebook")
    val p = graft.operators.KMeansTrain.round(qv, cent)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the ONLY broadcast is the K·d codebook into the coordinate scan
    assert(count(p, "BroadcastHashJoin") === 1, p)
    // per-vector argmin is a rank-pushdown window, no global sort
    assert(count(p, "WindowGroupLimit") === 1, p)
    // assignment re-attach is a shuffled merge riding the cut's
    // vec_id partitioning; the update + carry shuffle by (cluster,pos)
    assert(count(p, "SortMergeJoin Inner") === 1, p)
    assert(count(p, "SortMergeJoin LeftOuter") === 1, p)
    assert(keyedExchanges(p, "cluster") === 2, p)
    // the gate query's final frame is the checkpointed codebook —
    // no iteration lineage survives (the q105 posture)
    val g = executedPlan("q118_kmeans_train")
    assert(g.contains("Scan ExistingRDD"), g)
    assert(!g.contains("Join"), g)
  }

  test("q129: a joint PQ round broadcasts only the codebook; the gate census is the checkpointed 32-row table") {
    import org.apache.spark.sql.functions.{broadcast, col, posexplode, row_number}
    val e = Tables.load(spark, sf0001, "embeddings")
    val qv = e.select(col("vec_id"),
        posexplode(graft.functions.NormQuant(col("embedding"))))
      .selectExpr("vec_id", "CAST(pos div 16 AS INT) AS sub",
        "CAST(pos % 16 AS INT) AS spos", "col AS q")
      .repartition(col("vec_id")).cut("PlanShapeSpec q129: coordinates")
    val ids = e.select(col("vec_id")).orderBy(col("vec_id")).limit(8)
      .withColumn("code", (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("vec_id"))) - 1)
        .cast("int"))
    val cent = qv.join(broadcast(ids), "vec_id")
      .select(col("sub"), col("code"), col("spos"), col("q").as("c"))
      .cut("PlanShapeSpec q129: codebook")
    val p = graft.operators.KMeansTrain.pqRound(qv, cent)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the ONLY broadcast is the M·K·dsub codebook into the scan
    assert(count(p, "BroadcastHashJoin") === 1, p)
    // per-(vector, subspace) argmin is a rank-pushdown window
    assert(count(p, "WindowGroupLimit") === 1, p)
    assert(count(p, "SortMergeJoin Inner") === 1, p)
    assert(count(p, "SortMergeJoin LeftOuter") === 1, p)
    // the gate query's final frame is the checkpointed census
    val g = executedPlan("q129_pq_codebook")
    assert(g.contains("Scan ExistingRDD"), g)
    assert(!g.contains("Join"), g)
  }

  test("q132: ADC retrieval broadcasts only model state; the one new exchange is the per-query rank window") {
    import org.apache.spark.sql.functions.{broadcast, col, posexplode, row_number}
    val e = Tables.load(spark, sf0001, "embeddings")
    val qv = e.select(col("vec_id"),
        posexplode(graft.functions.NormQuant(col("embedding"))))
      .selectExpr("vec_id", "CAST(pos div 16 AS INT) AS sub",
        "CAST(pos % 16 AS INT) AS spos", "col AS q")
      .repartition(col("vec_id")).cut("PlanShapeSpec q132: coordinates")
    val ids = e.select(col("vec_id")).orderBy(col("vec_id")).limit(8)
      .withColumn("code", (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("vec_id"))) - 1)
        .cast("int"))
    val cent = qv.join(broadcast(ids), "vec_id")
      .select(col("sub"), col("code"), col("spos"), col("q").as("c"))
      .cut("PlanShapeSpec q132: codebook")
    val lut = graft.operators.KMeansTrain.adcLut(qv, cent)
    val p = graft.operators.KMeansTrain.adcRank(qv, cent, lut)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // exactly two broadcasts: the codebook into the encode, the
    // 128-row LUT into the code stream — the corpus never moves
    assert(count(p, "BroadcastHashJoin") === 2, p)
    // all rank windows push their limit: the argmin (1 node — rides
    // the vec_id partitioning, no exchange to split across) and the
    // per-query top-k (2 nodes — PARTIAL before the q_id exchange,
    // so only ≤ top-k rows per input partition ever shuffle, + final)
    assert(count(p, "WindowGroupLimit") === 3, p)
    // the encode groupBy, the (q_id, vec_id) distance sum and the
    // argmin window all ride the cut vec_id partitioning —
    // the ONLY new exchange is the 4-partition q_id rank window
    assert(keyedExchanges(p, "q_id") === 1, p)
    assert(!p.contains("SortMergeJoin"), p)
    // the gate query's final frame is the checkpointed 40-row table
    val g = executedPlan("q132_pq_adc_topk")
    assert(g.contains("Scan ExistingRDD"), g)
    assert(!g.contains("Join"), g)
  }

  test("q133/q134: the wedge self-join is a merge join over E-sized keyed exchanges; only the scalar edge count broadcasts") {
    val e = graft.operators.Motifs.edges(
      Tables.load(spark, sf0001, "orders"),
      Tables.load(spark, sf0001, "lineitem"))
    val ec = e.cut("PlanShapeSpec q133: edges")
    val p = graft.operators.Motifs.censusPlan(ec, est = false)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("CartesianProduct"), p)
    // both self-join sides are corpus-scale: never a broadcast join
    assert(count(p, "SortMergeJoin") === 1, p)
    assert(count(p, "BroadcastHashJoin") === 0, p)
    // the only BNLJ is the 1-row edge-count scalar attach
    assert(count(p, "BroadcastNestedLoopJoin") === 1, p)
    // the self-join pays exactly its two E-sized customer-keyed
    // exchanges (linear); the only other keyed shuffle is the pair
    // groupBy, map-side-combined to the distinct-pair table first
    assert(keyedExchanges(p, "c#") === 2, p)
    assert(keyedExchanges(p, "s#") === 1, p)
    // the gate queries' final frames are the checkpointed 1-row
    // census tables
    Seq("q133_butterflies", "q134_butterflies_espar").foreach { q =>
      val g = executedPlan(q)
      assert(g.contains("Scan ExistingRDD"), g)
      assert(!g.contains("Join"), g)
    }
  }

  test("q139: oriented wedge join + closing semi are keyed merge joins; only scalars broadcast") {
    val und = graft.operators.LexicalStats.undirectedEdges(
      Tables.load(spark, sf0001, "documents"), 3L)
    val e = und.select(
      org.apache.spark.sql.functions.col("a"),
      org.apache.spark.sql.functions.col("b")).cut("PlanShapeSpec q139: undirected edges")
    val deg = graft.operators.Motifs.degrees(e).cut("PlanShapeSpec q139: degrees")
    // the orientation: two vocab-scale keyed joins, never broadcast
    val po = graft.operators.Motifs.orient(e, deg)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(count(po, "SortMergeJoin Inner") === 2, po)
    assert(count(po, "BroadcastHashJoin") === 0, po)
    val dir = graft.operators.Motifs.orient(e, deg).cut("PlanShapeSpec q139: oriented edges")
    val p = graft.operators.Motifs.triPlan(e, deg, dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("CartesianProduct"), p)
    // wedge self-join (inner) + closing LeftSemi: both merge joins
    assert(count(p, "SortMergeJoin Inner") === 1, p)
    assert(count(p, "SortMergeJoin LeftSemi") === 1, p)
    assert(count(p, "BroadcastHashJoin") === 0, p)
    // the only BNLJs attach the two 1-row census scalars
    assert(count(p, "BroadcastNestedLoopJoin") === 2, p)
    // self-join pays its two u-keyed exchanges; the closing semi its
    // wedge-keyed (the pair keys keep their pre-alias v# names) and
    // edge-keyed one each — all linear, all keyed
    assert(keyedExchanges(p, "u#") === 2, p)
    assert(keyedExchanges(p, "v#") === 1, p)
    assert(keyedExchanges(p, "a#") === 1, p)
    // the gate query's final frame is the checkpointed 1-row census
    val g = executedPlan("q139_token_triangles")
    assert(g.contains("Scan ExistingRDD"), g)
    assert(!g.contains("Join"), g)
  }

  test("q141: unseen estimate is two keyed groupBys + a 1-row agg — no joins, no windows") {
    val p = executedPlan("q141_unseen_estimate")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    // vocab groupBy (tok), count-of-counts groupBy (c), then the
    // single-partition 1-row conditional aggregation
    assert(keyedExchanges(p, "tok#") === 1, p)
    assert(keyedExchanges(p, "c#") === 1, p)
  }

  test("q142: burstiness is two keyed groupBys + TakeOrdered — no joins") {
    val p = executedPlan("q142_burstiness")
    assert(!p.contains("Join"), p)
    // (w, doc_id) then w — both exchanges lead with the term key
    assert(keyedExchanges(p, "w#") === 2, p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q140: the manifest is ONE map-side-combined keyed groupBy — no joins, no windows") {
    val p = executedPlan("q140_source_manifest")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    // partial + final HashAggregate around a single source-keyed
    // exchange (plus the tiny final-order range exchange)
    assert(count(p, "HashAggregate") >= 2, p)
    assert(keyedExchanges(p, "source#") === 1, p)
  }

  test("q136: a TextRank round shuffles only node-sized tables; the gate is TakeOrdered over the checkpointed iterate") {
    import org.apache.spark.sql.functions.{col, explode, greatest, least, lit, split, sum => ssum, count => scount}
    val d = Tables.load(spark, sf0001, "documents")
    val und = d.select(explode(graft.functions.NGrams.wordNGramsAll(
        graft.functions.Text.tokens(col("text")), 2)).as("g"))
      .groupBy(col("g")).agg(scount(lit(1)).as("cw"))
      .select(split(col("g"), " ").getItem(0).as("w1"),
        split(col("g"), " ").getItem(1).as("w2"), col("cw"))
      .filter(col("w1") =!= col("w2"))
      .select(least(col("w1"), col("w2")).as("a"),
        greatest(col("w1"), col("w2")).as("b"), col("cw"))
      .groupBy(col("a"), col("b")).agg(ssum(col("cw")).as("w"))
      .filter(col("w") >= 3)
    val edges = und.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .union(und.select(col("b").as("src"), col("a").as("dst"), col("w")))
      .repartition(col("src")).cut("PlanShapeSpec q136: edges")
    val wdeg = edges.groupBy(col("src").as("node"))
      .agg(ssum(col("w")).as("wd")).cut("PlanShapeSpec q136: weighted degrees")
    val ranks = wdeg.select(col("node"), col("wd"), lit(1000000L).as("r"))
      .cut("PlanShapeSpec q136: initial ranks")
    val p = graft.operators.LexicalStats.trStep(edges, wdeg, ranks)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("CartesianProduct"), p)
    // vocabulary scales with the corpus: nothing may broadcast
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(count(p, "BroadcastHashJoin") === 0, p)
    // the contribution join + the left-outer update re-attach, both
    // keyed merges against node-sized tables
    assert(count(p, "SortMergeJoin Inner") === 1, p)
    assert(count(p, "SortMergeJoin LeftOuter") === 1, p)
    // the gate's final frame: top-50 off the checkpointed iterate,
    // no iteration lineage, bounded driver state
    val g = executedPlan("q136_textrank")
    assert(g.contains("TakeOrderedAndProject"), g)
    assert(g.contains("Scan ExistingRDD"), g)
    assert(!g.contains("SortMergeJoin"), g)
  }

  test("q137: dispersion is keyed groupBys + a source broadcast dim; top-40 without a global sort") {
    val p = executedPlan("q137_term_dispersion")
    assert(!p.contains("CartesianProduct"), p)
    // the vocabulary-scale token-total attach is a keyed merge join
    assert(count(p, "SortMergeJoin Inner") === 1, p)
    // the ≤sources-row size dim broadcasts; the 1-row total is the
    // only nested loop
    assert(count(p, "BroadcastHashJoin") === 1, p)
    assert(count(p, "BroadcastNestedLoopJoin") === 1, p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q135: the funnel rides ONE user-keyed exchange — a sequential window stack, no join-backs") {
    val p = executedPlan("q135_funnel_steps")
    assert(!p.contains("Join"), p)
    // three conditional-min windows, all on the same user partition
    assert(count(p, "Window \\(") === 3, p)
    assert(keyedExchanges(p, "user_id") === 1, p)
  }

  test("q116: in-batch negatives are joinless — one shard-keyed shuffle, K leads on one window") {
    val p = executedPlan("q116_inbatch_negatives")
    assert(!p.contains("Join"), p) // no join of any kind
    // the K leads and the stack all ride ONE shard-keyed exchange
    assert(count(p, "(?<!Broadcast)Exchange \\(") === 1, p)
    assert(keyedExchanges(p, "shard") === 1, p)
    assert(count(p, "Window \\(") === 1, p)
  }

  test("q103: bigram LM is keyed joins + a scalar broadcast, nothing all-pairs") {
    val p = executedPlan("q103_bigram_lm")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin"), p) // bigram/unigram count joins
    assert(count(p, "BroadcastNestedLoopJoin") <= 1, p) // V scalar
    // per-doc aggregation is two-phase (integer partials are exact)
    assert(count(p, "HashAggregate") >= 2, p)
  }

  test("q105: top-500 rank cut is TakeOrdered over the checkpointed iterate — no global sort, no residual iteration lineage") {
    val p = executedPlan("q105_graph_rank")
    assert(p.contains("TakeOrderedAndProject"), p)
    // every iteration was localCheckpoint'd away: the final plan reads
    // one materialized RDD scan, with no joins left to re-derive
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
  }

  test("q127: both role tops are TakeOrdered over the checkpointed half-step scores — no residual iteration lineage") {
    val p = executedPlan("q127_hits_rank")
    assert(count(p, "TakeOrderedAndProject") === 2, p) // one per role
    assert(p.contains("Scan ExistingRDD"), p) // the localCheckpoint'd iterates
    assert(p.contains("Union"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
  }

  test("q130: census is one community-sized full-outer merge over the checkpointed labels — no residual half-step lineage") {
    val p = executedPlan("q130_label_propagation")
    assert(p.contains("Scan ExistingRDD"), p) // the checkpointed label tables
    assert(count(p, "SortMergeJoin FullOuter") === 1, p) // the census join
    assert(count(p, "SortMergeJoin") === 1, p) // ...and nothing else joins
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("q131: degree attaches are keyed merges; the moment aggregate is two-phase") {
    val p = executedPlan("q131_degree_assortativity")
    assert(!p.contains("CartesianProduct"), p)
    // the two node-sized degree dims never broadcast (they scale
    // with the corpus) — hinted merge joins
    assert(count(p, "SortMergeJoin") >= 2, p)
    // the 1-row moment aggregate combines map-side partials
    assert(count(p, "HashAggregate") >= 2, p)
  }

  test("q106: projection is the codegen kernel in the scan stage; the fixed panel broadcasts; the only shuffle is the q_id window") {
    val p = executedPlan("q106_jl_topk")
    assert(p.toLowerCase.contains("normsignprojectexpr"), p) // fused codegen kernel
    assert(!p.contains("lambdafunction"), p) // no HOF loop survived in the hot path
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(p.contains("Broadcast"), p) // the 4-row panel dim
    assert(p.contains("hashpartitioning(q_id"), p) // the one shuffle: the window

  }

  test("q108: drift is one keyed shuffle — map-side explode, partial aggs, then a broadcast join of the checkpointed centroid table") {
    val ctPlan = graft.operators.DriftAudit.centroids(
        graft.Tables.load(spark, sf0001, "embeddings"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(ctPlan.toLowerCase.contains("normquantexpr"), ctPlan) // fused codegen kernel
    assert(ctPlan.contains("Generate"), ctPlan) // map-side explode
    assert(ctPlan.contains("hashpartitioning(label"), ctPlan)
    assert(count(ctPlan, "HashAggregate") >= 2, ctPlan) // partial aggs
    val p = executedPlan("q108_label_drift")
    // the corpus job ran ONCE into the checkpoint: the final plan
    // joins two ExistingRDD scans, with no explode or corpus agg left
    assert(p.contains("Scan ExistingRDD"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Generate") && !p.contains("SortMergeJoin"), p)
  }

  test("q96: bloom decontamination is MAP-SIDE — no gram join, no shuffle") {
    // the corpus side must be scan → project(bloom_count_hits) →
    // filter; the benchmark gram join that q78 needs is replaced by
    // the plan-time 16 KiB bitset constant
    val p = executedPlan("q96_bloom_decontaminate")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Exchange"), p)
    assert(p.contains("bloom_count_hits"), p)
  }

  test("q110: NB training and scoring are keyed joins — class/scalar dims broadcast, nothing all-pairs") {
    val p = executedPlan("q110_naive_bayes")
    assert(!p.contains("CartesianProduct"), p)
    // vocab×class table and doc scoring are token-keyed SMJs
    assert(p.contains("SortMergeJoin"), p)
    // only the |C|-row / scalar dims ride broadcast nested loops
    // (4 in the tree: priors, V scalar, N scalar, class dim)
    assert(count(p, "BroadcastNestedLoopJoin") <= 4, p)
    // the |C|-way argmax is a doc-partitioned window with a group
    // limit, not a global sort
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q111: log-odds is one token-keyed join + broadcast dims; per-source top-k is a window group limit") {
    val p = executedPlan("q111_logodds_terms")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin"), p) // global token counts join
    assert(p.contains("BroadcastHashJoin"), p) // 20-row per-source totals
    assert(count(p, "BroadcastNestedLoopJoin") <= 1, p) // N,V scalar
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q112: backoff scoring joins run at distinct-trigram scale — keyed left joins, scalar broadcast, no pair joins") {
    val p = executedPlan("q112_stupid_backoff")
    assert(!p.contains("CartesianProduct"), p)
    // five count-table left joins + the profile map-back join, keyed
    assert(count(p, "SortMergeJoin") >= 5, p)
    assert(count(p, "BroadcastNestedLoopJoin") <= 1, p) // N,V scalar
    assert(!p.contains("Window "), p) // no window at all in this shape
  }

  test("q138: KN scoring runs at distinct-trigram scale — keyed left joins, one scalar broadcast, no window") {
    val p = executedPlan("q138_kneser_ney")
    assert(!p.contains("CartesianProduct"), p)
    // five scoring left joins + the two pre-merge joins (c12+fol2,
    // mid+fol1) + the profile map-back, all keyed merges
    assert(count(p, "SortMergeJoin") >= 7, p)
    // two scalar nested loops: nb2 × V (1-row × 1-row), and its
    // broadcast into the scoring frame
    assert(count(p, "BroadcastNestedLoopJoin") <= 2, p)
    assert(!p.contains("Window "), p)
  }

  test("q124: coverage is all doc-keyed — window counts (no gram-keyed join), merge joins, zero broadcasts") {
    val p = executedPlan("q124_dup_ngram_coverage")
    assert(!p.contains("CartesianProduct"), p)
    // every join side is corpus-scale and hinted off broadcast
    assert(count(p, "BroadcastHashJoin") === 0, p)
    assert(count(p, "BroadcastNestedLoopJoin") === 0, p)
    // within-doc gram counting is a WINDOW riding the doc_id exchange
    // (one per n) — a hot boilerplate gram never becomes a shuffle key
    assert(count(p, "Window \\(") === 2, p)
    // all shuffles are doc_id-prefixed (window reuse + length joins +
    // coverage aggs + base agg)
    assert(keyedExchanges(p, "doc_id") <= 9, p)
  }

  test("q125: regression rides the 12-row checkpoint — no corpus operator in the final plan") {
    val p = executedPlan("q125_heaps_fit")
    // growth points + totals both derive from the localCheckpoint'd
    // ≤C-row joined table (the corpus is tokenized exactly twice, at
    // construction); the final plan is regression + one broadcast cross
    assert(!p.contains("Scan parquet"), p)
    assert(count(p, "BroadcastNestedLoopJoin") === 1, p) // totals row
    assert(count(p, "SortMergeJoin") === 0, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q126: vocab-keyed count joins, scalar broadcasts, top-100 is TakeOrdered") {
    val p = executedPlan("q126_pmi_collocations")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p) // never a global sort
    assert(count(p, "SortMergeJoin") === 2, p)     // the two unigram attaches
    assert(count(p, "BroadcastNestedLoopJoin") <= 2, p) // N, Nb scalars
  }

  test("q128: regression runs on the strip explode — one class-table window, no vocab sort, no joins") {
    val p = executedPlan("q128_zipf_fit")
    assert(count(p, "Window \\(") === 1, p)  // √-sized class offsets only
    assert(count(p, "Sort \\(") <= 1, p)     // its sort — never the vocabulary
    assert(count(p, "SortMergeJoin") === 0, p)
    assert(count(p, "BroadcastNestedLoopJoin") <= 1, p) // n_tokens scalar
  }

  test("q186: the gap sweep is ONE user-keyed window pass + a 1-row aggregate — no joins, no per-config re-sort") {
    // the frontier's one cut is the pass; its rows are 1-row selects
    val p = shipped(graft.operators.Sessionize.sessionGapFrontier(
      Tables.load(spark, sf0001, "events"))).cuts.head._2
    // exactly one shuffle keyed by the window partitioning plus the
    // final single-partition gather for the global aggregate
    assert(keyedExchanges(p, "user_id") === 1, p)
    assert(count(p, "\\bWindow\\b") === 1, p)
    assert(count(p, "Join") === 0, p)
    assert(count(p, "HashAggregate") === 2, p) // partial + final
  }

  test("q198: the sizing statistics prune their scans to the columns the rules read") {
    // at 100 TB the three statistics passes are the operator's whole
    // cost — a scan that drags unneeded columns through the token
    // explode is the q02 pruning bug at sketch-sizing scale
    val p = executedPlan("q198_sketch_sizing")
    val schemas = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(schemas.nonEmpty, p)
    // documents: text (+ doc_id for the bench slice) — never lang/source
    assert(!schemas.exists(s => s.contains("lang") || s.contains("source")),
      schemas.mkString("\n"))
    // lineitem: l_extendedprice only — never dates or the other decimals
    assert(schemas.exists(_.contains("l_extendedprice")), schemas.mkString("\n"))
    assert(!schemas.exists(s => s.contains("l_shipdate") || s.contains("l_tax")),
      schemas.mkString("\n"))
  }

  test("q01 aggregation is two-phase (partial before the exchange)") {
    val p = executedPlan("q01_agg")
    val firstAgg = p.indexOf("HashAggregate")
    val exchange = p.indexOf("Exchange")
    val lastAgg = p.lastIndexOf("HashAggregate")
    assert(firstAgg >= 0 && exchange > firstAgg && lastAgg > exchange ||
      // AQE may present the plan with the final agg first textually;
      // just require two HashAggregates and one shuffle exchange
      (count(p, "HashAggregate") >= 2 && p.contains("Exchange")), p)
  }

  test("Tables.spread: a one-file frame is hash-keyed on the column, one split per core") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
    val target = spark.sparkContext.defaultParallelism
    val docs = Tables.load(spark, sf0001, "documents")
    assert(docs.inputFiles.length === 1 && target > 1)
    val out = Tables.spread(docs, org.apache.spark.sql.functions.col("doc_id"))
    val keys = out.queryExecution.optimizedPlan.collect {
      case r: RepartitionByExpression =>
        (r.partitionExpressions.collect { case a: AttributeReference => a.name },
          r.optNumPartitions)
    }
    assert(keys === Seq((Seq("doc_id"), Some(target))), out.queryExecution.optimizedPlan)
    assert(out.rdd.getNumPartitions === target)
  }

  test("Tables.spread: a frame that is not file-backed comes back unchanged") {
    val df = spark.range(0, 100, 1, 1).toDF()
    assert(Tables.spread(df, org.apache.spark.sql.functions.col("id")) eq df)
  }

  test("Tables.spread: a frame with at least one file per core comes back unchanged") {
    val target = spark.sparkContext.defaultParallelism
    val dir = java.nio.file.Files.createTempDirectory("graftspread").resolve("t").toString
    spark.range(0, 100, 1, target).write.parquet(dir)
    val df = spark.read.parquet(dir)
    assert(df.inputFiles.length >= target)
    assert(Tables.spread(df, org.apache.spark.sql.functions.col("id")) eq df)
  }
}
