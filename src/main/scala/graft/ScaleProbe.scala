package graft

import graft.Cut._
import graft.dedup.MinHashLSH
import graft.functions.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-growth probe for the dedup/similarity family: replicates the
  * sf0.1 corpus k× (k = 1, 2, 5, 10) and measures how each operator's
  * CANDIDATE-PAIR count grows with corpus size. A bucketed design
  * should grow ~linearly (growth exponent α ≈ 1 in candidates ∝ n^α);
  * an all-pairs design grows quadratically (α ≈ 2). This is the
  * evidence requested by the round-1 verdict (#8) that the LSH /
  * prefix-filter / chunk-collision shapes hold at 100 TB.
  *
  * Replication model: replica r of a document gets a fresh doc_id
  * range and a BIJECTIVE per-replica token renaming (every token t →
  * t·saltᵣ). Jaccard similarity is invariant under a bijective token
  * renaming, so each replica's planted near-dup structure is EXACTLY
  * the original's; across replicas the vocabularies are disjoint, so
  * no cross-replica similarity appears — corpus size grows k× while
  * true-pair density per doc stays constant, the right null model for
  * measuring candidate growth. (A naive interleaved-salt model fails:
  * grams like "salt w salt" manufacture similarity between unrelated
  * docs of the same replica.)
  *
  * Usage: runMain graft.ScaleProbe [sfDir] — prints one JSON line per
  * scale plus a summary line with growth exponents.
  */
object ScaleProbe {

  def saltedDocs(docs: DataFrame, k: Int): DataFrame =
    (0 until k).map { r =>
      val base = docs.select(
        (col("doc_id") + lit(r * 10000000L)).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))
      if (r == 0) base
      else base.withColumn("text",
        regexp_replace(col("text"), "(\\S+)", s"$$1zq$r"))
    }.reduce(_ unionByName _)

  def replicatedEmbeddings(emb: DataFrame, k: Int): DataFrame =
    (0 until k).map { r =>
      emb.select((col("vec_id") + lit(r * 10000000L)).as("vec_id"),
        col("label"), col("embedding"))
    }.reduce(_ unionByName _)

  /** Similarity-preserving null model for embeddings — the analog of
    * the bijective token renaming: replica r applies a SIGNED
    * PERMUTATION (cyclic shift by 7r + deterministic sign flips),
    * which is orthogonal, so every within-replica cosine — and hence
    * the planted near-dup structure — is EXACTLY preserved, while
    * cross-replica cosines are decorrelated (exact copies would
    * manufacture cos=1 pairs across replicas and merge components). */
  def rotatedEmbeddings(emb: DataFrame, k: Int, dim: Int = 64): DataFrame =
    (0 until k).map { r =>
      val base = emb.select((col("vec_id") + lit(r * 10000000L)).as("vec_id"),
        col("label"), col("embedding"))
      if (r == 0) base
      else {
        val shift = (r * 7) % dim
        val rng = new scala.util.Random(1000 + r)
        val signs = Array.fill(dim)(if (rng.nextBoolean()) 1.0f else -1.0f)
        val elems = (0 until dim).map { i =>
          (element_at(col("embedding"), ((i + shift) % dim) + 1)
            * lit(signs(i))).cast("float")
        }
        base.withColumn("embedding", array(elems: _*))
      }
    }.reduce(_ unionByName _)

  /** Null model for character-level (edit-distance) operators:
    * replica r maps heads through a seeded permutation of
    * [a-zA-Z0-9]. Bijective ⇒ within-replica edit distances exactly
    * preserved; distinct permutations ⇒ cross-replica 13-char
    * segments effectively never equal. */
  def permutedHeads(docs: DataFrame, k: Int): DataFrame =
    (0 until k).map { r =>
      val base = docs.select(
        (col("doc_id") + lit(r * 10000000L)).as("doc_id"),
        col("source"), substring(col("text"), 1, 40).as("head"))
      if (r == 0) base
      else {
        val alphabet = "abcdefghijklmnopqrstuvwxyz" +
          "ABCDEFGHIJKLMNOPQRSTUVWXYZ" + "0123456789"
        val rng = new scala.util.Random(2000 + r)
        val perm = rng.shuffle(alphabet.toList).mkString
        base.withColumn("head", translate(col("head"), alphabet, perm))
      }
    }.reduce(_ unionByName _)

  /** Full-text char-bijection null model for CHARACTER-level
    * fingerprinting (q117/q122): replica r translates the whole text
    * through a seeded alphabet permutation. A bijective char map
    * preserves every within-replica shared-substring relation (if A
    * and B share s, their images share perm(s) — the winnow guarantee
    * fires identically), while cross-replica 8-gram equality is
    * destroyed almost surely. Fingerprint hashes change, so per-pair
    * shared COUNTS can wobble a little — the structure, not the exact
    * counts, is the invariant. */
  def permutedDocs(docs: DataFrame, k: Int): DataFrame =
    (0 until k).map { r =>
      val base = docs.select(
        (col("doc_id") + lit(r * 10000000L)).as("doc_id"), col("text"))
      if (r == 0) base
      else {
        val alphabet = "abcdefghijklmnopqrstuvwxyz" +
          "ABCDEFGHIJKLMNOPQRSTUVWXYZ" + "0123456789"
        val rng = new scala.util.Random(3000 + r)
        val perm = rng.shuffle(alphabet.toList).mkString
        base.withColumn("text", translate(col("text"), alphabet, perm))
      }
    }.reduce(_ unionByName _)

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // optional 2nd arg: comma-separated section filter — the
    // pre-existing full probe runs when absent or "all". Unknown
    // names FAIL (round-8 advice #3: a typo used to silently run
    // nothing and exit via the early return).
    val sections: Set[String] =
      if (args.length > 1) args(1).split(',').toSet else Set("all")
    val KnownSections =
      Set("all", "r8b", "motifs", "r9", "r9b", "r10", "r11", "r12", "r14")
    val unknown = sections.diff(KnownSections)
    require(unknown.isEmpty,
      s"unknown ScaleProbe section(s): ${unknown.toSeq.sorted.mkString(",")}" +
        s" — valid: ${KnownSections.toSeq.sorted.mkString(",")}")
    val runAll = sections("all")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName("graft-scale-probe")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", "16g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs0 = Tables.load(spark, sfDir, "documents")
    val emb0 = Tables.load(spark, sfDir, "embeddings")
    val orders0 = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li0 = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    // the SAME planes production q49 ships (quantized 3-decimal) — a
    // probe against a different hyperplane family would measure a
    // bucket configuration nobody runs (round-4 advice #3)
    val planes = graft.operators.Similarity.Planes

    val scales = Seq(1, 2, 5, 10)

    // ---- round-8b probes: q145 incremental dedup + q147 hashed
    // vectors (the round's two NEW candidate generators — CLAUDE.md
    // rule: probe any new dedup/similarity candidate generation).
    // Null model: the bijective token renaming (Jaccard-invariant, so
    // each replica's planted cross-split dup structure is exact; the
    // md5 split re-rolls per replica but holds its 80/20 ratio).
    if (runAll || sections("r8b")) {
      val g145 = scales.map { k =>
        val docs = saltedDocs(docs0, k)
          .repartition(spark.sparkContext.defaultParallelism).cache()
        val nD = docs.count()
        val h = substring(md5(col("doc_id").cast("string")), 1, 8)
        val cb = MinHashLSH.bandBuckets(docs.filter(h < "cccccccc"),
            "doc_id", "text", 64, 16, 3)
          .select(col("band"), col("bucket"), col("doc_id").as("corp_id"))
        val ib = MinHashLSH.bandBuckets(docs.filter(h >= "cccccccc"),
            "doc_id", "text", 64, 16, 3)
          .select(col("band"), col("bucket"), col("doc_id").as("inc_id"))
        val (cand, tc) = timed(ib.hint("shuffle_merge")
          .join(cb.hint("shuffle_merge"), Seq("band", "bucket"))
          .select(col("inc_id"), col("corp_id")).distinct().count())
        val (nOut, tq) = timed(
          graft.operators.Dedup.incrementalDedup(docs).count())
        docs.unpersist()
        println(f"""{"metric":"q145_probe","scale":$k,"n_docs":$nD,"cand_pairs":$cand,"out_rows":$nOut,"sec_cand":$tc%.2f,"sec_full":$tq%.2f}""")
        (k, cand, tq)
      }
      val g147 = scales.map { k =>
        val docs = saltedDocs(docs0, k)
          .repartition(spark.sparkContext.defaultParallelism).cache()
        docs.count()
        val vecs = graft.operators.HashedVectors.hashedVectors(
            docs.select(col("doc_id"), col("text")))
          .cut("ScaleProbe.main: q147 doc vectors")
        val nvr = vecs.count()
        val panel = vecs.filter(
          col("doc_id").isin(graft.operators.HashedVectors.Panel: _*))
          .select(col("dim"), col("doc_id").as("q_id"))
        val dotRows = vecs.join(broadcast(panel), "dim")
          .filter(col("doc_id") =!= col("q_id")).count()
        val (topN, t147) = timed(
          graft.operators.HashedVectors.panelTopK(vecs, 5).count())
        docs.unpersist()
        println(f"""{"metric":"q147_probe","scale":$k,"vec_rows":$nvr,"dot_rows":$dotRows,"topk_rows":$topN,"sec":$t147%.2f}""")
        (k, dotRows, t147)
      }
      def aOf(vs: Seq[(Int, Long)]): Double = {
        val (ka, va) = vs.head; val (kb, vb) = vs.last
        if (va == 0 || vb == 0) Double.NaN
        else math.log(vb.toDouble / va) / math.log(kb.toDouble / ka)
      }
      def wOf(vs: Seq[(Int, Double)]): Double = {
        val (ka, ta) = vs.head; val (kb, tb) = vs.last
        math.log(tb / ta) / math.log(kb.toDouble / ka)
      }
      val a145 = aOf(g145.map(r => (r._1, r._2)))
      val a145w = wOf(g145.map(r => (r._1, r._3)))
      val a147 = aOf(g147.map(r => (r._1, r._2)))
      val a147w = wOf(g147.map(r => (r._1, r._3)))
      println(f"""{"metric":"r8b_probe_exponents","alpha":{"q145_cand":$a145%.2f,"q145_wall":$a145w%.2f,"q147_dot_rows":$a147%.2f,"q147_wall":$a147w%.2f},"note":"q145 band-collision candidates ~1 (cross-side bucketed); q147 dot rows ~1 (fixed panel broadcast)"}""")
    }
    // ---- round-8 probes (verdict #4): q133 / q134 / q139 -----------
    // (their own "motifs" section since round 9 — advice #3)
    if (runAll || sections("motifs")) {

    // q133/q134 butterflies: k disjoint graph copies (the q105 null
    // model — per-replica structure exact, no cross-replica edges).
    // Claims under test: the customer-side wedge stream (the declared
    // Θ(Σ min-side d²) bound) and the census wall both grow ~linearly
    // under replication, for the exact census AND the ESpar-sampled
    // twin; the sampled wedge stream stays ~p² of the exact one.
    val g133 = scales.map { k =>
      val ord = (0 until k).map { r =>
        orders0.select((col("o_orderkey") + lit(r * 100000000L)).as("o_orderkey"),
          (col("o_custkey") + lit(r * 10000000L)).as("o_custkey"))
      }.reduce(_ unionByName _)
      val li = (0 until k).map { r =>
        li0.select((col("l_orderkey") + lit(r * 100000000L)).as("l_orderkey"),
          (col("l_suppkey") + lit(r * 10000000L)).as("l_suppkey"))
      }.reduce(_ unionByName _)
      val ec = graft.operators.Motifs.edges(ord, li).cut("ScaleProbe.main: q133 edges")
      def wedgesOf(e: DataFrame): Long = e.groupBy(col("c"))
        .agg(count(lit(1)).as("d"))
        .agg(sum(expr("CAST(d AS DECIMAL(38,0)) * (d - 1) div 2"))
          .cast("long").as("w"))
        .head.getLong(0)
      val wEx = wedgesOf(ec)
      val samp = graft.operators.Motifs.sample(ec).cut("ScaleProbe.main: q134 edge sample")
      val wSa = wedgesOf(samp)
      val (r133, t133) = timed(
        graft.operators.Motifs.census(ec, est = false).head)
      val (_, t134) = timed(
        graft.operators.Motifs.census(samp, est = true).head)
      println(f"""{"metric":"q133_probe","scale":$k,"n_edges":${r133.getLong(0)},"cust_wedges_exact":$wEx,"cust_wedges_sampled":$wSa,"sec_exact":$t133%.2f,"sec_sampled":$t134%.2f}""")
      (k, wEx, wSa, t133, t134)
    }

    // q139 orientation: the planted-hub adversary. One hub vertex is
    // wired to EVERY customer of the k-replicated trade graph, so the
    // hub degree grows k× — the node-iterator (unoriented) wedge count
    // must go quadratic (the hub alone contributes C(k·n_cust, 2))
    // while the degree-ordered oriented wedge stream the census
    // actually enumerates stays ~linear: every hub edge points INTO
    // the hub (it is the highest-priority endpoint), so the hub
    // contributes ZERO enumerated wedges — "the curse of the last
    // reducer" defused, measured.
    val g139 = scales.map { k =>
      val ord = (0 until k).map { r =>
        orders0.select((col("o_orderkey") + lit(r * 100000000L)).as("o_orderkey"),
          (col("o_custkey") + lit(r * 10000000L)).as("o_custkey"))
      }.reduce(_ unionByName _)
      val li = (0 until k).map { r =>
        li0.select((col("l_orderkey") + lit(r * 100000000L)).as("l_orderkey"),
          (col("l_suppkey") + lit(r * 10000000L)).as("l_suppkey"))
      }.reduce(_ unionByName _)
      val ec = graft.operators.Motifs.edges(ord, li)
      // undirected vertex space: customers as-is (> 0), suppliers
      // shifted clear, hub = vertex 0 wired to every customer
      val base = ec.select(col("c").as("a"),
        (col("s") + lit(2000000000L)).as("b"))
      val hub = ec.select(col("c")).distinct()
        .select(lit(0L).as("a"), col("c").as("b"))
      val und = base.unionByName(hub).distinct().cut("ScaleProbe.main: q139 undirected edges")
      val deg = graft.operators.Motifs.degrees(und).cut("ScaleProbe.main: q139 degrees")
      val wUnor = deg
        .agg(sum(expr("CAST(d AS DECIMAL(38,0)) * (d - 1) div 2"))
          .cast("long").as("w"))
        .head.getLong(0)
      val dir = graft.operators.Motifs.orient(und, deg).cut("ScaleProbe.main: q139 oriented edges")
      val wOr = dir.groupBy(col("u")).agg(count(lit(1)).as("od"))
        .agg(sum(expr("CAST(od AS DECIMAL(38,0)) * (od - 1) div 2"))
          .cast("long").as("w"))
        .head.getLong(0)
      val (r139, t139) = timed(
        graft.operators.Motifs.triPlan(und, deg, dir).head)
      println(f"""{"metric":"q139_probe","scale":$k,"n_edges":${r139.getLong(1)},"wedges_unoriented":$wUnor,"wedges_oriented":$wOr,"ratio":${wUnor.toDouble / wOr}%.1f,"n_triangles":${r139.getLong(3)},"sec":$t139%.2f}""")
      (k, wUnor, wOr, t139)
    }

    def alphaOf(vs: Seq[(Int, Long)]): Double = {
      val (ka, va) = vs.head; val (kb, vb) = vs.last
      if (va == 0 || vb == 0) Double.NaN
      else math.log(vb.toDouble / va) / math.log(kb.toDouble / ka)
    }
    def wallAlpha(vs: Seq[(Int, Double)]): Double = {
      val (ka, ta) = vs.head; val (kb, tb) = vs.last
      math.log(tb / ta) / math.log(kb.toDouble / ka)
    }
    val a133w = alphaOf(g133.map(r => (r._1, r._2)))
    val a133s = alphaOf(g133.map(r => (r._1, r._3)))
    val a133t = wallAlpha(g133.map(r => (r._1, r._4)))
    val a134t = wallAlpha(g133.map(r => (r._1, r._5)))
    val a139u = alphaOf(g139.map(r => (r._1, r._2)))
    val a139o = alphaOf(g139.map(r => (r._1, r._3)))
    val a139t = wallAlpha(g139.map(r => (r._1, r._4)))
    println(f"""{"metric":"r8_probe_exponents","alpha":{"q133_wedges":$a133w%.2f,"q134_wedges":$a133s%.2f,"q133_wall":$a133t%.2f,"q134_wall":$a134t%.2f,"q139_unoriented_wedges":$a139u%.2f,"q139_oriented_wedges":$a139o%.2f,"q139_wall":$a139t%.2f},"note":"q133/q134 wedges+wall ~1 under disjoint replication (sampled ~p^2 of exact); planted-hub q139: unoriented ~2 (hub C(kn,2)) vs oriented ~1 - the degree-ordered orientation defuses the hub"}""")
    }

    // ---- round-9 probes (round-8 verdict #5): q149 / q143 / q144 ---
    if (runAll || sections("r9")) {
      def aOf(vs: Seq[(Int, Long)]): Double = {
        val (ka, va) = vs.head; val (kb, vb) = vs.last
        if (va == 0 || vb == 0) Double.NaN
        else math.log(vb.toDouble / va) / math.log(kb.toDouble / ka)
      }
      def wOf(vs: Seq[(Int, Double)]): Double = {
        val (ka, ta) = vs.head; val (kb, tb) = vs.last
        math.log(tb / ta) / math.log(kb.toDouble / ka)
      }

      // q149 dedup-upweight: bijective char-renaming replication (the
      // q69 null model — per-replica near-dup structure exact, no
      // cross-replica pairs). Claims: upweight rows grow ~k, and the
      // census invariant Σ multiplicity = n_docs holds at EVERY scale
      // (asserted, not just spec-pinned at sf0.001).
      val g149 = scales.map { k =>
        val docs = permutedDocs(docs0, k)
          .repartition(spark.sparkContext.defaultParallelism).cache()
        val nD = docs.count()
        val (rows149, t149) = timed {
          val up = graft.operators.Dedup.dedupUpweight(docs)
            .cut("ScaleProbe.main: q149 upweights")
          val n = up.count()
          val tot = up.agg(sum(col("multiplicity")).as("s")).head.getLong(0)
          assert(tot == nD, s"q149 census broke under replication: " +
            s"sum(multiplicity)=$tot n_docs=$nD")
          n
        }
        docs.unpersist()
        println(f"""{"metric":"q149_probe","scale":$k,"n_docs":$nD,"upweight_rows":$rows149,"census_ok":true,"sec":$t149%.2f}""")
        (k, rows149, t149)
      }

      // q143 v3 pipeline: per-stage survivor counts under replication
      // (saltedDocs token renaming × rotatedEmbeddings signed
      // permutation — doc_id and vec_id shift in lockstep). Claims:
      // each stage's survivor FRACTION is ~scale-invariant (head-keep
      // stays a tercile of its eligible set), and the restricted
      // SemDeDup ladder's cell occupancy stays ~constant because
      // adaptiveCells grows with the restricted count.
      val g143 = scales.map { k =>
        val docs = saltedDocs(docs0, k)
          .repartition(spark.sparkContext.defaultParallelism).cache()
        val emb = rotatedEmbeddings(emb0, k).cache()
        val nD = docs.count(); emb.count()
        val ((nOut, stageCounts, occ), t143) = timed {
          val (o, st) = graft.operators.CorpusPipeline.buildPipeline(
            spark, sfDir, graft.operators.CorpusPipeline.specJsonV3,
            docsOverride = Some(docs), embOverride = Some(emb))
          val out = o.cut("ScaleProbe.main: q143 pipeline output")
          // registry cache order = DAG execution order:
          // scrub, clean, head_keep, semdedup_keep
          val counts = st.map(_.count())
          val headIds = st(2).select(col("doc_id"))
          val nRestricted = emb.join(headIds, col("vec_id") === col("doc_id"))
            .count()
          val cells = graft.operators.Similarity.adaptiveCells(nRestricted)
          st.foreach(_.unpersist(false))
          (out.count(), counts, nRestricted.toDouble / cells)
        }
        docs.unpersist(); emb.unpersist()
        val headFrac = stageCounts(2).toDouble / stageCounts(1)
        println(f"""{"metric":"q143_probe","scale":$k,"n_docs":$nD,"stage_counts":[${stageCounts.mkString(",")}],"head_keep_frac":$headFrac%.3f,"semdedup_cell_occupancy":$occ%.1f,"out_rows":$nOut,"sec":$t143%.2f}""")
        (k, nOut, t143)
      }

      // q144 perceptron: wall vs corpus size (saltedDocs preserves the
      // source labels). Claims: total wall ~linear (one feature build
      // + K linear epochs), and the MARGINAL epoch cost — measured as
      // (t_8ep − t_2ep)/6 — is also ~linear in the corpus, i.e. flat
      // PER EPOCH: no epoch accumulates state or plan depth.
      val g144 = scales.map { k =>
        val docs = saltedDocs(docs0, k)
          .repartition(spark.sparkContext.defaultParallelism).cache()
        val nD = docs.count()
        val (n2, t2) = timed(
          graft.operators.Perceptron.trainScore(docs, epochs = 2).count())
        val (n8, t8) = timed(
          graft.operators.Perceptron.trainScore(docs, epochs = 8).count())
        docs.unpersist()
        val perEpoch = (t8 - t2) / 6.0
        println(f"""{"metric":"q144_probe","scale":$k,"n_docs":$nD,"scored_rows":$n8,"sec_2ep":$t2%.2f,"sec_8ep":$t8%.2f,"sec_per_epoch":$perEpoch%.2f}""")
        assert(n2 == n8, s"q144 scored-row count depends on epochs: $n2 vs $n8")
        (k, n8, t8, perEpoch)
      }

      val a149 = aOf(g149.map(r => (r._1, r._2)))
      val a149w = wOf(g149.map(r => (r._1, r._3)))
      val a143w = wOf(g143.map(r => (r._1, r._3)))
      val a144w = wOf(g144.map(r => (r._1, r._3)))
      val a144e = wOf(g144.map(r => (r._1, r._4)))
      println(f"""{"metric":"r9_probe_exponents","alpha":{"q149_rows":$a149%.2f,"q149_wall":$a149w%.2f,"q143_wall":$a143w%.2f,"q144_wall":$a144w%.2f,"q144_per_epoch":$a144e%.2f},"note":"q149 rows ~1 (per-replica clusters exact, census invariant asserted); q143 stage fractions scale-invariant, ladder occupancy ~constant; q144 wall and marginal epoch cost ~linear"}""")
    }

    // ---- round-9b probe: q156 image-pair candidate generation -----
    // (CLAUDE.md rule: probe ANY new dedup/similarity candidate
    // generation). Null model: replica r shifts ids and permutes the
    // 16 HISTOGRAM dims through a seeded bijection — every image in a
    // replica gets the SAME permutation, so within-replica L1
    // structure is EXACTLY preserved, while cross-replica fingerprints
    // decorrelate (the hyperplanes are not symmetric under dim
    // permutation). NOTE the fingerprints themselves are NOT
    // permutation-invariant: a permuted replica's planted pair could
    // in principle drift past the Hamming ≤ 3 candidate gate, so
    // "verified pairs ~k×" is an EMPIRICAL recall claim (measured
    // α≈1.01), not preservation by construction — only the L1 verify
    // side is invariant (round-9 advice #3). Claim: chunk-collision
    // candidates grow ~k, verified pairs ~k×.
    if (runAll || sections("r9b")) {
      val f0 = spark.read
        .parquet(graft.operators.ImageDedup.FeaturesPath)
      val g156 = scales.map { k =>
        val f = (0 until k).map { r =>
          val base = f0.select((col("id") + lit(r * 100000L)).as("id"),
            col("d"), col("v"))
          if (r == 0) base
          else {
            val rng = new scala.util.Random(4000 + r)
            val perm = rng.shuffle((3 to 18).toList)
            val pmap = (0 to 2).map(d => (d, d)) ++
              (3 to 18).zip(perm)
            val mapExpr = pmap.map { case (from, to) =>
              s"WHEN d = $from THEN $to" }.mkString(" ")
            base.withColumn("d", expr(s"CASE $mapExpr END").cast("int"))
          }
        }.reduce(_ unionByName _).cut("ScaleProbe.main: q156 features")
        val nImg = f.select(col("id")).distinct().count()
        val (nPairs, t156) = timed(
          graft.operators.ImageDedup.featurePairs(f).count())
        println(f"""{"metric":"q156_probe","scale":$k,"n_images":$nImg,"verified_pairs":$nPairs,"sec":$t156%.2f}""")
        (k, nPairs, t156)
      }
      def aOf2(vs: Seq[(Int, Long)]): Double = {
        val (ka, va) = vs.head; val (kb, vb) = vs.last
        if (va == 0 || vb == 0) Double.NaN
        else math.log(vb.toDouble / va) / math.log(kb.toDouble / ka)
      }
      val a156 = aOf2(g156.map(r => (r._1, r._2)))
      println(f"""{"metric":"r9b_probe_exponents","alpha":{"q156_pairs":$a156%.2f},"note":"q156 verified pairs ~1 under dim-permutation replication (within-replica L1 preserved by construction; candidate recall empirical)"}""")
    }

    // ---- round-10 probes: q163 sampled training + q153 classifier
    // keep, and q155 unigram-LM vocabulary growth -------------------
    if (runAll || sections("r10")) {
      def aOfR10(vs: Seq[(Int, Long)]): Double = {
        val (ka, va) = vs.head; val (kb, vb) = vs.last
        if (va == 0 || vb == 0) Double.NaN
        else math.log(vb.toDouble / va) / math.log(kb.toDouble / ka)
      }
      def wOfR10(vs: Seq[(Int, Double)]): Double = {
        val (ka, va) = vs.head; val (kb, vb) = vs.last
        if (va <= 0 || vb <= 0) Double.NaN
        else math.log(vb / va) / math.log(kb.toDouble / ka)
      }

      // q163/q153: saltedDocs preserves source labels. Claims: the
      // SAMPLE stays ~target-sized at every k (rate = T/n adapts), so
      // the sampled-training wall is ~FLAT in corpus size; the
      // classifier-keep pass (score + binned threshold + semi-join)
      // is the only ~linear wall; the kept fraction stays ~half; and
      // the bin table stays ≤ 2¹⁴+1 rows (ASSERTED — the bounded-
      // global-order claim, checked under replication, not assumed).
      val g163 = scales.map { k =>
        val docs = saltedDocs(docs0, k)
          .repartition(spark.sparkContext.defaultParallelism).cache()
        val nD = docs.count()
        val nSample = graft.operators.Perceptron.sampleDocs(docs).count()
        val (w, tTrain) = timed {
          val p = graft.operators.Perceptron.trainPocketSampled(docs)
            .cut("ScaleProbe.main: q163 pocket weights")
          p.count(); p
        }
        val (nKept, tKeep) = timed(
          graft.operators.Perceptron.classifierKeep(docs, w).count())
        val scored = graft.operators.Perceptron.scoreDocs(docs, w)
          .cut("ScaleProbe.main: q153 scores")
        val ext = scored.agg(min(col("score")).as("lo"),
          max(col("score")).as("hi"))
        val nBins = scored.crossJoin(broadcast(ext))
          .select(expr("(score - lo) div greatest((hi - lo) div 16384, 1)")
            .as("sb"))
          .distinct().count()
        assert(nBins <= 16385L,
          s"q153 bin table unbounded under replication: $nBins bins")
        docs.unpersist()
        val keptFrac = nKept.toDouble / nD
        println(f"""{"metric":"q163_probe","scale":$k,"n_docs":$nD,"n_sample":$nSample,"n_kept":$nKept,"kept_frac":$keptFrac%.3f,"n_bins":$nBins,"sec_train":$tTrain%.2f,"sec_keep":$tKeep%.2f}""")
        (k, nSample, tTrain, tKeep, keptFrac)
      }
      // the sample must stay ~target-sized (the flat-training premise)
      g163.foreach { case (k, nS, _, _, _) =>
        assert(nS >= 64 && nS <= 1024,
          s"q163 sample drifted off target at k=$k: $nS docs") }

      // q155: permutedDocs (char bijection — word shapes renamed
      // bijectively, lengths preserved) ⇒ per-replica lattice
      // structure exact, cross-replica word shapes disjoint a.s.
      // MEASURED finding (k=1..10 at sf0.1): the trained vocab grows
      // SUB-linearly (α≈0.2, 60→99 rows) — the char-piece inventory
      // is INVARIANT under a bijective char renaming (bounded by the
      // alphabet; the +1 char smoothing keeps every char alive), so
      // only the learned multi-char pieces multiply with replicas —
      // and the train wall is ~FLAT at this scale (the lattice join
      // collapses corpus work to vocabulary scale, which stays small,
      // so fixed per-round costs dominate). Both are stronger than
      // the pre-registered "~k" guesses: the vocabulary-scale claim
      // of the q155 plan audit holds with margin.
      val g155 = scales.map { k =>
        val docs = permutedDocs(docs0, k)
          .repartition(spark.sparkContext.defaultParallelism).cache()
        val nD = docs.count()
        val ((vRows, t155)) = timed {
          val (_, voc) = graft.operators.UnigramLM.train(docs)
          voc.count()
        } match { case (v, t) => (v, t) }
        docs.unpersist()
        println(f"""{"metric":"q155_probe","scale":$k,"n_docs":$nD,"vocab_rows":$vRows,"sec":$t155%.2f}""")
        (k, vRows, t155)
      }

      // q164: the scaled image corpus's PAIR-COUNT growth (the
      // candidate KERNEL was probed in r9b; what's new in round 10 is
      // the corpus generator). Features come from the closed form
      // (ImageGen.featuresOfScaled — no drawing/decode needed to
      // probe the join), ids 0..n-1 like the gate corpus. Expected
      // decomposition: planted pairs grow ~n (1-in-8 ids), while
      // ORGANIC near-dups among the unique compositions grow ~n²
      // (birthday collisions in the FINITE 19-dim composition space —
      // a property of this synthetic corpus's density, NOT of the
      // kernel: per-bucket candidate work stays bounded; a real image
      // corpus's feature space is far sparser). The probe measures
      // and documents the split rather than hiding it.
      val g164 = scales.map { k =>
        val n = 5000L * k
        import spark.implicits._
        val f = spark.range(n).flatMap(id =>
          graft.multimodal.ImageGen.featuresOfScaled(id)
            .map { case (d, v) => (id, d, v) })
          .toDF("id", "d", "v")
          .repartition(spark.sparkContext.defaultParallelism)
          .cut("ScaleProbe.main: q164 features")
        val (nPairs, t164) = timed(
          graft.operators.ImageDedup.featurePairs(f).count())
        val planted = n / 8 // groups g%4==0 → one pair per 8 ids
        println(f"""{"metric":"q164_probe","scale":$k,"n_images":$n,"verified_pairs":$nPairs,"planted":$planted,"organic":${nPairs - planted},"sec":$t164%.2f}""")
        (k, nPairs, t164)
      }
      val a164p = aOfR10(g164.map(r => (r._1, r._2)))
      val a164w = wOfR10(g164.map(r => (r._1, r._3)))

      val a163t = wOfR10(g163.map(r => (r._1, r._3)))
      val a163k = wOfR10(g163.map(r => (r._1, r._4)))
      val a155v = aOfR10(g155.map(r => (r._1, r._2)))
      val a155w = wOfR10(g155.map(r => (r._1, r._3)))
      println(f"""{"metric":"r10_probe_exponents","alpha":{"q163_train_wall":$a163t%.2f,"q153_keep_wall":$a163k%.2f,"q155_vocab":$a155v%.2f,"q155_wall":$a155w%.2f,"q164_pairs":$a164p%.2f,"q164_wall":$a164w%.2f},"note":"q163 sampled-training wall ~flat (sample pinned to target, bin table bounded ASSERTED, kept frac ~half at every k); q155 vocab sub-linear (char inventory invariant under bijective renaming, only learned multi-char pieces grow) and wall ~flat (lattice work collapses to vocabulary scale); q164 planted pairs ~n, organic near-dups ~n^2 by birthday collision in the finite synthetic composition space (corpus density, not kernel: per-bucket candidate work bounded)"}""")
    }

    // ---- round-11 probes: q171/q173 scaled audio + video corpora ---
    // (CLAUDE.md rule: probe ANY new dedup/similarity candidate
    // generation). Features from the closed forms (featuresOfScaled —
    // no synthesis/decode needed to probe the join), ids 0..n−1 like
    // the gate corpora. Expected decomposition: planted pairs grow
    // exactly n/8 and ORGANIC pairs stay ZERO at every k — unlike
    // q164's finite 19-dim composition space, the audio (~10⁶⁷
    // compositions) and video (4-fill) spaces were DESIGNED not to
    // saturate; the probe asserts that design claim rather than
    // assuming it. The organic-L1 census (round-11 advice #4) is the
    // second assertion: the MINIMUM feature-space L1 between any two
    // independent compositions, measured over ALL pairs at n = 5000
    // (the sf0.1 corpus size), must clear the verify bound by an
    // order of magnitude — so the bound can never admit an organic
    // pair that happens to collide in the LSH buckets.
    if (runAll || sections("r11")) {
      def aOfR11(vs: Seq[(Int, Long)]): Double = {
        val (ka, va) = vs.head; val (kb, vb) = vs.last
        if (va == 0 || vb == 0) Double.NaN
        else math.log(vb.toDouble / va) / math.log(kb.toDouble / ka)
      }
      def wOfR11(vs: Seq[(Int, Double)]): Double = {
        val (ka, va) = vs.head; val (kb, vb) = vs.last
        if (va <= 0 || vb <= 0) Double.NaN
        else math.log(vb / va) / math.log(kb.toDouble / ka)
      }
      // driver-side all-pairs L1 census over the closed-form features
      // (n = 5000 → 12.5M pairs; a probe-only ground-truth sweep, the
      // same role as the spec's n = 500 sweep)
      def l1Census(feat: Long => Array[Long], n: Int)
          : (Long, Long) = {
        val fs = Array.tabulate(n)(i => feat(i.toLong))
        var plantedMax = 0L; var organicMin = Long.MaxValue
        var i = 0
        while (i < n) {
          var j = i + 1
          while (j < n) {
            var s = 0L; var d = 0
            val a = fs(i); val b = fs(j)
            while (d < a.length) { s += math.abs(a(d) - b(d)); d += 1 }
            if (j == i + 1 && i % 2 == 0 && (i / 2) % 4 == 0)
              plantedMax = math.max(plantedMax, s)
            else organicMin = math.min(organicMin, s)
            j += 1
          }
          i += 1
        }
        (plantedMax, organicMin)
      }
      def probeModality(name: String, feat: Long => Seq[(Int, Long)],
          planeCoef: Seq[(Int, Int, Long)], center: Seq[Long],
          l1Max: Long): Seq[(Int, Long, Double)] = {
        val (pMax, oMin) = l1Census(id => feat(id).map(_._2).toArray, 5000)
        println(f"""{"metric":"${name}_l1_census","n":5000,"planted_max_l1":$pMax,"organic_min_l1":$oMin,"bound":$l1Max,"headroom_x":${oMin / l1Max}}""")
        assert(pMax <= l1Max,
          s"$name planted max L1 $pMax exceeds the verify bound $l1Max")
        assert(oMin > 10L * l1Max,
          s"$name organic min L1 $oMin within 10x of the bound $l1Max")
        scales.map { k =>
          val n = 5000L * k
          import spark.implicits._
          val f = spark.range(n).flatMap(id =>
              feat(id).map { case (d, v) => (id, d, v) })
            .toDF("id", "d", "v")
            .repartition(spark.sparkContext.defaultParallelism)
            .cut("ScaleProbe.main: modality features")
          val (nPairs, t) = timed(graft.operators.ImageDedup
            .signLshPairs(f, planeCoef, center, l1Max).count())
          val planted = n / 8
          assert(nPairs == planted,
            s"$name at k=$k: $nPairs pairs != $planted planted — " +
              "organic admission, the no-saturation design claim broke")
          println(f"""{"metric":"${name}_probe","scale":$k,"n_clips":$n,"verified_pairs":$nPairs,"planted":$planted,"organic":${nPairs - planted},"sec":$t%.2f}""")
          (k, nPairs, t)
        }
      }
      val gAud = probeModality("q171_audio",
        graft.multimodal.AudioGen.featuresOfScaled,
        graft.operators.AudioDedup.PlaneCoef,
        graft.operators.AudioDedup.Center,
        graft.operators.AudioDedup.ScaledL1Max)
      val gVid = probeModality("q173_video",
        graft.multimodal.VideoGen.featuresOfScaled,
        graft.operators.VideoDedup.PlaneCoef,
        graft.operators.VideoDedup.Center,
        graft.operators.VideoDedup.ScaledL1Max)
      val aAud = aOfR11(gAud.map(r => (r._1, r._2)))
      val aVid = aOfR11(gVid.map(r => (r._1, r._2)))
      val wAud = wOfR11(gAud.map(r => (r._1, r._3)))
      val wVid = wOfR11(gVid.map(r => (r._1, r._3)))
      println(f"""{"metric":"r11_probe_exponents","alpha":{"q171_pairs":$aAud%.2f,"q171_wall":$wAud%.2f,"q173_pairs":$aVid%.2f,"q173_wall":$wVid%.2f},"note":"audio/video scaled corpora: pairs exactly n/8 with ZERO organic at every k (ASSERTED, not assumed — the composition spaces designed out q164's birthday saturation); organic min L1 asserted >10x the verify bound at n=5000 all-pairs"}""")
    }

    // ---- round-12 probe: q180's NEW bandings (CLAUDE.md rule — the
    // 16×4 banding was probed in round 2 at α=1.00; the frontier adds
    // 32×2 / 8×8 / 4×16 as candidate-generating configs). Same
    // bijective-renaming null model (constant true-pair density);
    // expectation: ~linear for every banding — bucket keys are 64-bit
    // mix values, so cross-replica collisions are birthday-negligible
    // (≈ bands·C(n,2)/2⁶⁴), unlike q46's 16-bit chunk floor. --------
    if (runAll || sections("r12")) {
      def aOfR12(vs: Seq[(Int, Long)]): Double = {
        val (ka, va) = vs.head; val (kb, vb) = vs.last
        if (va == 0 || vb == 0) Double.NaN
        else math.log(vb.toDouble / va) / math.log(kb.toDouble / ka)
      }
      val grid = Seq(32, 16, 8, 4)
      val g180 = scales.map { k =>
        val docs = saltedDocs(docs0, k)
          .repartition(spark.sparkContext.defaultParallelism).cache()
        val nD = docs.count()
        val toks = docs.select(col("doc_id"),
            graft.functions.Text.tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 3)
        val sigs = toks.select(col("doc_id"),
            graft.functions.MinHashSig.minhashSignature(col("toks"), 64, 3)
              .as("sig"))
          .cut("ScaleProbe.main: q180 signatures")
        val counts = grid.map { bands =>
          val r = 64 / bands
          val bandCols = (0 until bands).map(b =>
            graft.functions.SplitMix64.mixFold(
              slice(col("sig"), b * r + 1, r), b))
          val buckets = sigs
            .select(col("doc_id"), posexplode(array(bandCols: _*)))
            .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
          val (c, t) = timed(
            graft.dedup.MinHashLSH.candidatePairs(buckets).count())
          println(f"""{"metric":"q180_probe","scale":$k,"n_docs":$nD,"bands":$bands,"rows":$r,"cand_pairs":$c,"sec":$t%.2f}""")
          c
        }
        docs.unpersist()
        (k, counts)
      }
      val alphas = grid.indices.map(i =>
        f"${aOfR12(g180.map(r => (r._1, r._2(i))))}%.2f")
      println(s"""{"metric":"r12_probe_exponents","alpha":{"b32r2":${alphas(0)},"b16r4":${alphas(1)},"b8r8":${alphas(2)},"b4r16":${alphas(3)}},"note":"q180 frontier bandings under bijective-renaming replication: every banding's candidate growth ~linear (64-bit bucket keys have no birthday floor at these n; the 16x4 config reproduces the round-2 q45 result)"}""")
    }

    if (runAll || sections("r14")) {
      // q199 top-2 cell candidate generator under the signed-permutation
      // null model (the q102 section's model — replicas decorrelated, so
      // within-replica pair structure is preserved and cross-replica
      // cells stay independent). Two readings per scale: (a) candidate
      // growth α for the single-cell and top-2 generators — the ladder
      // is the same adaptive Centroids94 prefix, so both track the q102
      // section's α; (b) the measured fan-out RATIO top2/top1, which the
      // ×2 per-vector fan-out bounds by 4 structurally and which must
      // stay ~flat under replication (a growing ratio would mean second
      // cells pile into few buckets — the skew failure mode).
      def aOfR14(vs: Seq[(Int, Long)]): Double = {
        val (ka, va) = vs.head; val (kb, vb) = vs.last
        if (va == 0 || vb == 0) Double.NaN
        else math.log(vb.toDouble / va) / math.log(kb.toDouble / ka)
      }
      val g199 = scales.map { k =>
        val embR = rotatedEmbeddings(emb0, k).cache()
        val n = embR.count()
        val cents = graft.operators.Centroids94.table.take(
          graft.operators.Similarity.adaptiveCells(n))
        val assigned = graft.operators.VectorQuality.assignTop2(
          embR.select(col("vec_id"), col("embedding")), cents).cache()
        assigned.count()
        val (c1, t1) = timed(graft.operators.VectorQuality.cellCands(
          assigned.select(col("vec_id"), col("c1").as("cell"))).count())
        val (c2, t2) = timed(graft.operators.VectorQuality.cellCands(
          graft.operators.VectorQuality.top2Exploded(assigned)).count())
        println(f"""{"metric":"q199_probe","scale":$k,"n_vecs":$n,"cell_pairs":$c1,"top2_pairs":$c2,"ratio":${c2.toDouble / math.max(c1, 1L)}%.2f,"sec_cell":$t1%.2f,"sec_top2":$t2%.2f}""")
        embR.unpersist(); assigned.unpersist()
        (k, c1, c2)
      }
      val a1 = f"${aOfR14(g199.map(r => (r._1, r._2)))}%.2f"
      val a2 = f"${aOfR14(g199.map(r => (r._1, r._3)))}%.2f"
      val ratios = g199.map(r => f"${r._3.toDouble / math.max(r._2, 1L)}%.2f")
      println(s"""{"metric":"r14_probe_exponents","alpha":{"cell_pairs":$a1,"top2_pairs":$a2},"fanout_ratios":[${ratios.mkString(",")}],"note":"q199 top-2 generator under signed-permutation replication: both generators ride the same adaptive cell ladder (within-cell pair count ~n·occupancy, the q102 reading); the top2/top1 ratio must hold ~flat and under the structural 4x"}""")
    }

    if (!runAll) { spark.stop(); return }

    val results = scales.map { k =>
      val docs = saltedDocs(docs0, k)
        .repartition(spark.sparkContext.defaultParallelism).cache()
      val nDocs = docs.count()
      val emb = replicatedEmbeddings(emb0, k).cache()
      val nVecs = emb.count()

      val (c44, t44) = timed(
        graft.operators.Dedup.jaccardCandidates(docs).count())
      val (c45, t45) = timed(MinHashLSH.candidatePairs(
        MinHashLSH.bandBuckets(docs, "doc_id", "text",
          numHashes = 64, bands = 16, shingleN = 3)).count())
      val (c46, t46) = timed(
        graft.operators.Dedup.simhashPairs(docs).count())
      val (c46w, t46w) = timed(
        graft.operators.Dedup.simhashPairsWide(docs).count())
      // q49 shape: candidates probed for one query vector
      val bucketed = emb.select(col("vec_id"), col("embedding"),
        Vectors.lshBucket(col("embedding"), planes).as("bucket"))
      val q = bucketed.filter(col("vec_id") === 0)
        .select(explode(Vectors.probeBuckets(col("bucket"), planes.length))
          .as("probe"))
      val (c49, t49) = timed(
        bucketed.filter(col("vec_id") =!= 0)
          .join(broadcast(q), col("bucket") === col("probe")).count())

      // q84 PassJoin segment-signature candidates. Null model: a
      // per-replica BIJECTIVE CHARACTER PERMUTATION — edit distance
      // is invariant under injective char renaming, so within-replica
      // pair structure is exactly preserved while cross-replica
      // segments cannot collide. (The token-salt model used for the
      // gram probes is wrong here: suffix injection floods heads with
      // shared salt characters and manufactures segment collisions —
      // measured α=2.12 artifact before this model.)
      val heads = permutedHeads(docs0, k).cache()
      heads.count()
      val (c84, t84) = timed(
        graft.operators.Workloads.passJoinCandidates(heads).count())
      heads.unpersist()

      // q83 composed path, signed-permutation null model.
      // (a) the gate configuration (16x8, t=0.4): candidates are a
      //     ~constant corpus fraction — the honest ρ≈0.67 price of the
      //     corpus's weak threshold, expected α≈2 with a small constant;
      // (b) the production configuration (t=0.9 regime): band width
      //     grows with log2(n) — the standard LSH scaling — keeping
      //     per-vector candidates ~constant, expected α≈1.
      val embR = rotatedEmbeddings(emb0, k).cache()
      embR.count()
      val (c83, t83) = timed(graft.operators.Similarity.lshCandidates(
        embR, graft.operators.Similarity.Planes83,
        graft.operators.Similarity.Bands83,
        graft.operators.Similarity.Bits83).count())
      // the gated q87 machinery itself: masked PlanesA keys at the
      // adaptive ⌈log₂ n⌉+4 width
      val bitsA = graft.operators.Similarity.adaptiveBits(nVecs)
      val (c83a, t83a) = timed(graft.operators.Similarity.adaptiveCandidates(
        embR, bitsA).count())

      // q102 SemDeDup within-cell pairs (round 7). Two readings: (a)
      // the pair count itself — ~n·occupancy/2, linear only while the
      // cell ladder is ACTIVE; the checked-in 64-cell codebook is
      // already saturated at this corpus's base scale, so the measured
      // α here is ≈2 BY CONSTRUCTION (the q94b declared trade: at
      // production scale nlist continues growing ∝ n, which is what
      // bounds occupancy at 100 TB); (b) the reading that transfers to
      // any nlist — CELL SKEW max/mean, the real semdedup scale risk
      // (one runaway cell turns the within-cell scan quadratic no
      // matter how nlist grows). The signed-permutation null model
      // decorrelates replicas, so skew must stay ~flat under
      // replication.
      val assigned102 = graft.operators.Similarity.assignCells(embR)
      val ncells102 = graft.operators.Similarity.adaptiveCells(nVecs)
      val (c102, t102) = timed(
        graft.operators.Similarity.cellPairs(assigned102).count())
      val cs102 = assigned102.groupBy("cell").agg(count(lit(1)).as("n"))
        .agg(max("n").cast("double").as("mx"), avg("n").as("av")).head
      val skew102 = cs102.getDouble(0) / cs102.getDouble(1)
      embR.unpersist()

      // q90 mixing shuffle: per-shard balance under replication. The
      // shard count is the declared 100 TB parallelism knob (16 here,
      // 2^16 at scale) — measure that the splitmix64 shard assignment
      // keeps per-shard row counts AND token sums flat as the corpus
      // grows, rather than asserting it (round-4 verdict #4).
      val packed = graft.operators.Mixing.shardPack(
        docs.select(col("doc_id"), col("text")))
      val bal = packed.groupBy("shard")
        .agg(count(lit(1)).as("rows"), sum("n_tokens").as("toks"))
        .agg(max("rows").cast("double").as("maxR"), avg("rows").as("avgR"),
          max("toks").cast("double").as("maxT"), avg("toks").as("avgT"))
        .head
      val skewRows = bal.getDouble(0) / bal.getDouble(1)
      val skewToks = bal.getDouble(2) / bal.getDouble(3)

      // the composed q93 chain (clean → dedup keep → temperature mix
      // → shard/pack) on the replicated corpus: output rows must grow
      // ~linearly (α≈1) and wall time should too — the end-to-end
      // check that the five-stage composition inherits its stages'
      // scale shapes instead of multiplying them
      val (c93, t93) = timed {
        val cleaned = graft.operators.TextAnalysis.cleanKeep(docs).persist()
        val deduped = graft.operators.Dedup.dedupKeep(cleaned).persist()
        val n = graft.operators.Mixing.shardPack(
          graft.operators.Mixing.temperatureKeep(deduped)).count()
        cleaned.unpersist(); deduped.unpersist()
        n
      }

      // q97 repeated spans (round 6): no candidate pairs exist — the
      // scale driver is output span rows (∝ marked windows). Bijective
      // token renaming preserves within-replica repeats and creates no
      // cross-replica window collisions, so α must be 1 exactly.
      val (c97, t97) = timed(
        graft.operators.RepeatedSpans.repeatedSpans(docs).count())

      docs.unpersist(); emb.unpersist()
      val line = s"""{"scale":$k,"n_docs":$nDocs,"n_vecs":$nVecs,""" +
        s""""q44_prefix_cand":$c44,"q45_lsh_cand":$c45,""" +
        s""""q46_simhash_cand":$c46,"q79_simhash_wide_cand":$c46w,""" +
        s""""q49_ann_cand":$c49,""" +
        s""""q83_fixed_cand":$c83,"q87_adaptive_cand":$c83a,"q87_adaptive_bits":$bitsA,""" +
        s""""q84_passjoin_cand":$c84,""" +
        f""""q90_shard_skew":{"rows_max_over_mean":$skewRows%.3f,"tokens_max_over_mean":$skewToks%.3f},""" +
        s""""q93_chain_rows":$c93,"q97_span_rows":$c97,""" +
        f""""q102_cell_pairs":$c102,"q102_ncells":$ncells102,"q102_cell_skew":$skew102%.3f,""" +
        f""""sec":{"q44":$t44%.2f,"q45":$t45%.2f,"q46":$t46%.2f,"q79":$t46w%.2f,"q49":$t49%.2f,"q83":$t83%.2f,"q83a":$t83a%.2f,"q84":$t84%.2f,"q93_chain":$t93%.2f,"q97":$t97%.2f,"q102":$t102%.2f}}"""
      println(line)
      (k, Map("q44" -> c44, "q45" -> c45, "q46" -> c46,
        "q79" -> c46w, "q49" -> c49, "q83_fixed" -> c83,
        "q87_adaptive" -> c83a, "q84" -> c84, "q93_chain_rows" -> c93,
        "q97_span_rows" -> c97, "q102_cell_pairs" -> c102))
    }

    // Adversarial boilerplate probe (round 6): the classic corpus
    // scale-killer — one 30-token paragraph appended to every 5th
    // document (20% of the corpus). A naive gram-collision join would
    // pay nb·(nb-1)/2 pairs on the boilerplate keys alone (~500k at
    // sf0.1); the prefix filter must prune them STRUCTURALLY (df≈1000
    // grams are in almost no document's rarest-half prefix), and the
    // q97 span marker must stay linear by construction (nb marked
    // spans, never nb² pairs).
    {
      val boiler = (1 to 30).map(i => s"bpbp$i").mkString(" ")
      val adv = saltedDocs(docs0, 1)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat_ws(" ", col("text"), lit(boiler)))
            .otherwise(col("text")))
        .repartition(spark.sparkContext.defaultParallelism).cache()
      val nAdv = adv.count()
      val nb = adv.filter(pmod(col("doc_id"), lit(5)) === 0).count()
      val (cAdv44, tAdv44) = timed(
        graft.operators.Dedup.jaccardCandidates(adv).count())
      val (cAdv97, tAdv97) = timed(
        graft.operators.RepeatedSpans.repeatedSpans(adv).count())
      adv.unpersist()
      val naive = nb * (nb - 1) / 2
      println(s"""{"metric":"adversarial_boilerplate","n_docs":$nAdv,""" +
        s""""docs_with_boilerplate":$nb,"naive_boilerplate_pairs":$naive,""" +
        s""""q44_prefix_cand":$cAdv44,"q97_span_rows":$cAdv97,""" +
        f""""sec":{"q44":$tAdv44%.2f,"q97":$tAdv97%.2f}}""")
    }

    // ---- round-7 probes (verdict #4): q105 / q112 / q100 -----------

    // q105 graph centrality: k DISJOINT graph copies (key spaces
    // shifted per replica — the graph analog of bijective renaming:
    // within-replica structure exact, no cross-replica edges). The
    // claim under test: edge count AND the 5-iteration wall both grow
    // ~linearly because every round is O(E) keyed work over the
    // once-partitioned edge list.
    val g105 = scales.map { k =>
      val ord = (0 until k).map { r =>
        orders0.select((col("o_orderkey") + lit(r * 100000000L)).as("o_orderkey"),
          (col("o_custkey") + lit(r * 10000000L)).as("o_custkey"))
      }.reduce(_ unionByName _).cache()
      val li = (0 until k).map { r =>
        li0.select((col("l_orderkey") + lit(r * 100000000L)).as("l_orderkey"),
          (col("l_suppkey") + lit(r * 10000000L)).as("l_suppkey"))
      }.reduce(_ unionByName _).cache()
      ord.count(); li.count()
      val nEdges = 2L * ord.join(li,
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey"), col("l_suppkey")).distinct().count()
      val (nNodes, t105) = timed(
        graft.operators.GraphRank.centrality(ord, li).count())
      // q127 HITS on the same replicated frames: same claim (O(E) per
      // half-step over the twice-partitioned edge list), same
      // disjoint-copy null model — replica max-normalization is
      // per-copy identical, so scores replicate exactly too.
      val (nHits, t127) = timed(
        graft.operators.GraphRank.hits(ord, li).count())
      ord.unpersist(); li.unpersist()
      println(f"""{"metric":"q105_probe","scale":$k,"n_edges":$nEdges,"n_nodes":$nNodes,"sec":$t105%.2f}""")
      println(f"""{"metric":"q127_probe","scale":$k,"n_edges":$nEdges,"out_rows":$nHits,"sec":$t127%.2f}""")
      (k, nEdges, t105, t127)
    }

    // q112 stupid backoff: EXACT replication (no renaming — the one
    // null model where repetition is preserved). Occurrence rows grow
    // k× while the DISTINCT test-trigram table the five count joins
    // run over saturates toward the fixed underlying vocabulary —
    // measured α_distinct << α_occ is the "vocabulary-scale, not
    // occurrence-scale" claim, quantified.
    val g112 = scales.map { k =>
      val docsE = (0 until k).map { r =>
        docs0.select((col("doc_id") + lit(r * 10000000L)).as("doc_id"),
          col("text"))
      }.reduce(_ unionByName _).cache()
      docsE.count()
      // the same deterministic q70 split rule q112 applies internally
      val h = substring(md5(col("doc_id").cast("string")), 1, 8)
      val prof = docsE.filter(h >= "e6666666") // 'test' split
        .select(col("doc_id"),
          explode(graft.functions.NGrams.wordNGramsAll(
            graft.functions.Text.tokens(col("text")), 3)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("n_occ"))
        .cache()
      val nOcc = prof.agg(sum(col("n_occ"))).head.getLong(0)
      val nDistinct = prof.select(col("g")).distinct().count()
      prof.unpersist()
      val (nOut, t112) = timed(
        graft.operators.TextModels.stupidBackoff(docsE).count())
      docsE.unpersist()
      println(f"""{"metric":"q112_probe","scale":$k,"occ_rows":$nOcc,"distinct_trigrams":$nDistinct,"out_docs":$nOut,"sec":$t112%.2f}""")
      (k, nOcc, nDistinct)
    }

    // q100 BM25: the inverted-index analog of the boilerplate probe —
    // query a STOP WORD (the corpus's max-df token). Exact replication
    // grows every posting list k×; the claim under test: matched
    // occurrences (the only corpus-keyed shuffle's input) grow
    // linearly — cost ∝ posting-list length, never posting-list², and
    // the per-term skew (stop-word df / mean query-term df) stays
    // constant rather than compounding.
    val dfByTok = docs0
      .select(col("doc_id"),
        explode(graft.functions.Text.tokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(countDistinct(col("doc_id")).as("df"))
    val stopTok = dfByTok.orderBy(col("df").desc, col("t")).head.getString(0)
    val probeQs = Seq(0 -> Seq(stopTok, "spark", "merge"))
    val g100 = scales.map { k =>
      val docsE = (0 until k).map { r =>
        docs0.select((col("doc_id") + lit(r * 10000000L)).as("doc_id"),
          col("text"))
      }.reduce(_ unionByName _).cache()
      val nD = docsE.count()
      val terms = spark.createDataFrame(
        probeQs.flatMap { case (q, ts) => ts.map(t => (q, t)) })
        .toDF("query_id", "term")
      val m = docsE.select(col("doc_id"),
          explode(graft.functions.Text.tokens(col("text"))).as("term"))
        .join(broadcast(terms), "term").cache()
      val nMatch = m.count()
      val dfs = m.groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).cast("double").as("df"))
        .agg(max(col("df")).as("mx"), avg(col("df")).as("av")).head
      val postingSkew = dfs.getDouble(0) / dfs.getDouble(1)
      m.unpersist()
      val (nTop, t100) = timed(graft.operators.Curation.bm25TopK(
        docsE, probeQs, 10).count())
      docsE.unpersist()
      println(f"""{"metric":"q100_probe","scale":$k,"n_docs":$nD,"stop_term":"$stopTok","match_rows":$nMatch,"posting_skew":$postingSkew%.3f,"topk_rows":$nTop,"sec":$t100%.2f}""")
      (k, nMatch)
    }

    // q114 BPE training: EXACT replication (repetition preserved) —
    // after the token explode, the ONLY scale-bearing tables are the
    // vocabulary and its pair table, which must SATURATE: distinct
    // alnum words α ≈ 0 while token occurrences grow α = 1. The wall
    // should track the vocabulary, not the corpus.
    val g114 = scales.map { k =>
      val docsE = (0 until k).map { r =>
        docs0.select((col("doc_id") + lit(r * 10000000L)).as("doc_id"),
          col("text"))
      }.reduce(_ unionByName _).cache()
      docsE.count()
      val words = docsE.select(
          explode(graft.functions.Text.tokens(col("text"))).as("w"))
        .filter(col("w").rlike("^[a-z0-9]+$")).cache()
      val nOcc = words.count()
      val nVocab = words.distinct().count()
      words.unpersist()
      val (_, t114) = timed(
        graft.operators.BpeTrainer.bpeMerges(docsE).count())
      docsE.unpersist()
      println(f"""{"metric":"q114_probe","scale":$k,"occ_tokens":$nOcc,"distinct_words":$nVocab,"sec":$t114%.2f}""")
      (k, nOcc, nVocab)
    }

    // q116 in-batch negatives: output is ≤ K per anchor (α = 1 by
    // construction); the reading that matters is SHARD BALANCE — the
    // per-shard batch is the window state, and a runaway shard would
    // serialize the window. Fixed 16 shards here (the corpus-scale
    // knob grows at 100 TB, q90's argument), so occupancy grows n/16
    // and max/mean must stay ~1.
    val g116 = scales.map { k =>
      val emb = replicatedEmbeddings(emb0, k).cache()
      emb.count()
      val (nOut, t116) = timed(
        graft.operators.Similarity.inBatchNegatives(emb).count())
      val bal = emb.select(floor(
          graft.functions.SplitMix64.uniform(col("vec_id"), 116L) * 16)
          .as("shard"))
        .groupBy(col("shard")).agg(count(lit(1)).as("n"))
        .agg(max(col("n")).cast("double").as("mx"), avg(col("n")).as("av"))
        .head
      val skew = bal.getDouble(0) / bal.getDouble(1)
      emb.unpersist()
      println(f"""{"metric":"q116_probe","scale":$k,"out_rows":$nOut,"shard_skew":$skew%.3f,"sec":$t116%.2f}""")
      (k, nOut)
    }

    // q122 winnow clone candidates (round 7): the pair-join size
    // AFTER the DfCap hot-fingerprint drop is the real shuffle cost —
    // it must grow ~linearly because per-key fan-out is capped. Also
    // recorded: the hot fraction the cap removes (the boilerplate
    // mass that would otherwise go quadratic).
    val g122 = scales.map { k =>
      val docs = permutedDocs(docs0, k).cache()
      docs.count()
      val sd = graft.operators.Winnow.selected(docs)
        .select(col("doc_id"), col("fp")).distinct()
        .withColumn("df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
        .cache()
      val nFp = sd.count()
      val hot = sd.where(col("df") > graft.operators.Winnow.DfCap).count()
      val keep = sd.where(col("df") <= graft.operators.Winnow.DfCap)
      val (cands, t122) = timed(
        keep.select(col("fp"), col("doc_id").as("a"))
          .join(keep.select(col("fp"), col("doc_id").as("b")), Seq("fp"))
          .where(col("a") < col("b")).count())
      sd.unpersist(); docs.unpersist()
      println(f"""{"metric":"q122_probe","scale":$k,"distinct_fps":$nFp,"hot_dropped":$hot,"cand_pairs":$cands,"sec":$t122%.2f}""")
      (k, cands)
    }

    // growth exponent α over the widest span: candidates ∝ n^α
    val (k1, base) = results.head
    val (kN, top) = results.last
    val span = math.log(kN.toDouble / k1)
    val alphas = base.keys.toSeq.sorted.map { q =>
      val a =
        if (base(q) == 0 || top(q) == 0) Double.NaN
        else math.log(top(q).toDouble / base(q)) / span
      f""""$q":$a%.2f"""
    }
    def alphaOf(vs: Seq[(Int, Long)]): Double = {
      val (ka, va) = vs.head; val (kb, vb) = vs.last
      if (va == 0 || vb == 0) Double.NaN
      else math.log(vb.toDouble / va) / math.log(kb.toDouble / ka)
    }
    val a105e = alphaOf(g105.map(r => (r._1, r._2)))
    val a105t = {
      val (ka, _, ta, _) = g105.head; val (kb, _, tb, _) = g105.last
      math.log(tb / ta) / math.log(kb.toDouble / ka)
    }
    val a127t = {
      val (ka, _, _, ta) = g105.head; val (kb, _, _, tb) = g105.last
      math.log(tb / ta) / math.log(kb.toDouble / ka)
    }
    val a112o = alphaOf(g112.map(r => (r._1, r._2)))
    val a112d = alphaOf(g112.map(r => (r._1, r._3)))
    val a100m = alphaOf(g100)
    val a114o = alphaOf(g114.map(r => (r._1, r._2)))
    val a114v = alphaOf(g114.map(r => (r._1, r._3)))
    val a116o = alphaOf(g116)
    val a122c = alphaOf(g122)
    println(s"""{"metric":"candidate_growth_exponent","alpha":{${alphas.mkString(",")}},"note":"alpha~1 linear (bucketed), alpha~2 quadratic (all-pairs)"}""")
    println(f"""{"metric":"r7_probe_exponents","alpha":{"q105_edges":$a105e%.2f,"q105_wall":$a105t%.2f,"q127_wall":$a127t%.2f,"q112_occ":$a112o%.2f,"q112_distinct":$a112d%.2f,"q100_match":$a100m%.2f,"q114_occ":$a114o%.2f,"q114_vocab":$a114v%.2f,"q116_out":$a116o%.2f,"q122_cand":$a122c%.2f},"note":"q105/q127 wall and edges ~1 linear; q112 distinct << occ and q114 vocab << occ (vocabulary-scale); q100 match ~1 (posting-list-linear); q116 out ~1 joinless; q122 cand ~1 (DfCap-bounded fan-out)"}""")
    spark.stop()
  }
}
