package graft.operators

import graft.Cut._
import graft.Tables
import graft.functions.{NGrams, Text}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level lexical statistics: PMI collocation mining (Church &
  * Hanks 1990) and a Zipf-law exponent fit (the tokenizer/corpus
  * health diagnostic — natural text has slope ≈ −1; generated or
  * templated text departs sharply). The reference's analysis layer
  * (/root/reference/src/cosmap/analysis/runner.py) has per-sample
  * scoring only — these extend the engine per the brief's
  * training-data mandate, like Dedup/Similarity/Curation.
  *
  * Cross-engine exactness (the proven house contract): counts stay
  * integers; each transcendental is ONE shared-op-tree expression
  * quantized to integer micro-nats immediately (round-6 rule);
  * big-product sums ride DECIMAL(38,0) in Spark ↔ HUGEINT in DuckDB
  * (both exact 128-bit-class integer arithmetic); possibly-negative
  * integral divisions use the q108 +shift trick so Spark's truncating
  * `div` and DuckDB's flooring `//` agree.
  */
object LexicalStats {
  type Q = (SparkSession, String) => DataFrame

  /** q126 constants: minimum pair count, output size. */
  private[graft] val PmiMinCount = 5
  private[graft] val PmiTop = 100

  /** q128 constants: rank-strip width (bounds every generated array
    * and parallelizes the huge hapax frequency class), div shifts. */
  private[graft] val Strip = 65536L
  private[graft] val SlopeShift = 10000000L   // |slope| < 10
  private[graft] val InterceptShift = 1000000000L

  /** q136 constants: damped-iteration count, edge-weight floor,
    * micro-unit scale, output size. */
  private[graft] val TrIters = 4
  private[graft] val TrMinW = 3
  private[graft] val TrUnit = 1000000L
  private[graft] val TrTop = 50

  /** q137 constants: occurrence floor, output size, ppm scale. */
  private[graft] val DpMinCount = 100
  private[graft] val DpTop = 40

  /** q125 constants: checkpoint count. Checkpoints are doc-id
    * thresholds at fraction j²/C² of the id range — quadratic spacing
    * is denser early, where the log-log growth curve bends, and needs
    * only integer multiply/divide (no cross-engine shift operators). */
  private[graft] val HeapsC = 12

  val queries: Map[String, Q] = Map(
    // -- q126: top-100 adjacent-bigram collocations by pointwise
    //    mutual information, count floor 5. PMI compares the bigram's
    //    observed rate against independence:
    //    pmi = ln(p(ab) / (p(a)·p(b))) with p(ab) = c_ab/Nb,
    //    p(w) = c_w/N — one ln over one shared-order double quotient,
    //    quantized to micro-nats (ties then break on the pair).
    //    Scale shape: bigram/unigram counting is two keyed groupBys
    //    with map-side partials; the count attach is two
    //    vocabulary-scale equi-joins (hinted off broadcast — at
    //    crawl scale the unigram table is 10⁷+ rows); the totals are
    //    1-row broadcast dims; the top-100 is TakeOrderedAndProject
    //    (driver state bounded at any corpus size). --
    "q126_pmi_collocations" -> { (s, dir) =>
      pmi(Tables.load(s, dir, "documents"))
    },
    // -- q125: Heaps'-law vocabulary-growth fit, V(N) ≈ K·N^β — the
    //    companion diagnostic to q128 (natural text: β ≈ 0.4–0.6;
    //    templated/duplicated corpora flatten sharply). Growth is
    //    measured at C=12 bounded checkpoints, so there is NO global
    //    prefix scan and NO corpus-wide sort anywhere: each
    //    checkpoint's token count and new-type count are conditional
    //    aggregations against a 12-row broadcast dim, and the j=C
    //    checkpoint (fraction exactly 1) doubles as the corpus-total
    //    row for free. --
    "q125_heaps_fit" -> { (s, dir) =>
      heaps(Tables.load(s, dir, "documents"))
    },
    // -- q136: TextRank keyword extraction (Mihalcea & Tarau, EMNLP
    //    2004) — weighted PageRank over the adjacent-token
    //    co-occurrence graph, the classic unsupervised keyword
    //    ranker. Undirected edges are the q126 bigram pairs
    //    (self-loops dropped, both orders collapsed onto the ordered
    //    {a,b} pair, edge-weight floor ${TrMinW} instead of a node
    //    frequency filter — one filter, no extra joins). The
    //    iteration is the q105 integer contract made WEIGHTED:
    //    contribution u→v = (r_u div W_u)·w_uv (rank per unit
    //    weight times edge weight — integer, the floor loss is part
    //    of the definition), update = 150000 + 85·Σ div 100; K=4
    //    rounds, micro-units, bit-stable on any partitioning. Top-50
    //    tokens by final rank. --
    "q136_textrank" -> { (s, dir) =>
      textrank(Tables.load(s, dir, "documents"))
    },
    // -- q137: term dispersion, Gries' DP (deviation of proportions;
    //    Gries 2008, the corpus-linguistics standard): DP(t) =
    //    ½ Σ_i |v_i − s_i| with v_i = t's occurrence share in source
    //    i and s_i = source i's token share. 0 = perfectly even
    //    spread, → 1 = clumped into one source. The curation read:
    //    high-frequency high-DP terms are source-specific
    //    boilerplate/markers (the per-TERM lens on what q121's JS
    //    matrix shows per-SOURCE). Top-40 most clumped terms with
    //    occurrence floor 100. --
    "q137_term_dispersion" -> { (s, dir) =>
      dispersion(Tables.load(s, dir, "documents"))
    },
    "q128_zipf_fit" -> { (s, dir) =>
      zipf(Tables.load(s, dir, "documents"))
    },
    // -- q141: unseen-vocabulary estimate — bias-corrected Chao1
    //    species richness (Chao 1984: V + n1(n1−1)/(2(n2+1)), the
    //    always-defined form) + Good-Turing missing mass (P₀ = n1/N;
    //    Good 1953) from the frequency-of-frequencies table. The
    //    corpus-planning companion to q125/q128: how much vocabulary
    //    the corpus has NOT yet seen, and how much probability mass
    //    the next sample puts on novel types — the quantitative "do
    //    we need more data / more sources" diagnostic. --
    "q141_unseen_estimate" -> { (s, dir) =>
      unseen(Tables.load(s, dir, "documents"))
    },
    // -- q142: term burstiness (Church & Gale 1995, "Poisson
    //    mixtures"): burst(t) = cf/df — mean occurrences per
    //    CONTAINING document. Function words spread thin (≈ their
    //    Poisson rate); topical/templated terms clump (burst ≫ 1) —
    //    the within-document lens beside q137's across-source DP.
    //    Top-40 burstiest terms with occurrence floor 100, ratio in
    //    flooring ppm. --
    "q142_burstiness" -> { (s, dir) =>
      burstiness(Tables.load(s, dir, "documents"))
    },
  )

  /** q126 over any (text) frame — exposed for the spec's replay. */
  /** q136 full frame: (rank, node, wd, rank_unit), TrTop rows.
    *
    * Scale shape (the q105 posture on a VOCABULARY-scale graph): the
    * undirected edge list is built by one bigram groupBy + one
    * ordered-pair groupBy (both map-side-combined keyed shuffles at
    * vocabulary scale, the q126 argument), symmetrized, repartitioned
    * by src and cut ONCE — each of the K iterations shuffles
    * only node-sized rank tables (hinted off broadcast: the
    * vocabulary scales with the corpus); per-round cut
    * cuts the iterate's lineage (the CC house rule); the final top-50
    * is TakeOrderedAndProject — bounded driver state at any corpus
    * size. All arithmetic is integer micro-units, bit-stable on any
    * partitioning (BIGINT headroom: rpw ≤ r, m = Σ rpw·w stays far
    * under 2⁶³ while Σw is below ~10¹² — crawl-scale safe). */
  /** The undirected adjacent-token co-occurrence graph (a, b, w) with
    * a < b, self-loops dropped, both orders collapsed, edge-weight
    * floor `minW` — the q136 graph, shared with q139's triangle
    * census. Two vocabulary-scale map-side-combined keyed groupBys. */
  private[graft] def undirectedEdges(d: DataFrame, minW: Long): DataFrame =
    d.select(explode(NGrams.wordNGramsAll(
        Text.tokens(col("text")), 2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("cw"))
      .select(split(col("g"), " ").getItem(0).as("w1"),
        split(col("g"), " ").getItem(1).as("w2"), col("cw"))
      .filter(col("w1") =!= col("w2"))
      .select(least(col("w1"), col("w2")).as("a"),
        greatest(col("w1"), col("w2")).as("b"), col("cw"))
      .groupBy(col("a"), col("b")).agg(sum(col("cw")).as("w"))
      .filter(col("w") >= minW)

  private[graft] def textrank(d: DataFrame): DataFrame = {
    val und = undirectedEdges(d, TrMinW)
    val edges = und.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .union(und.select(col("b").as("src"), col("a").as("dst"), col("w")))
      .repartition(col("src"))
      .cut("LexicalStats.textrank: edges by src")
    val wdeg = edges.groupBy(col("src").as("node"))
      .agg(sum(col("w")).as("wd"))
      .cut("LexicalStats.textrank: weighted degrees")
    var ranks = wdeg.select(col("node"), col("wd"), lit(TrUnit).as("r"))
      .cut("LexicalStats.textrank: initial ranks")
    for (_ <- 1 to TrIters)
      ranks = trStep(edges, wdeg, ranks).cut("LexicalStats.textrank: ranks")
    ranks.orderBy(col("r").desc, col("node")).limit(TrTop)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("r").desc, col("node"))).cast("long"))
      .select(col("rank"), col("node"), col("wd"), col("r").as("rank_unit"))
  }

  /** One weighted damped update, un-checkpointed
    * (plan-shape-testable): rank-per-unit-weight is map-side
    * (`r div wd`), the only shuffles are the edge join on src and
    * the dst aggregation — node-sized tables against the cut edge
    * table's partitioning. */
  private[graft] def trStep(edges: DataFrame, wdeg: DataFrame,
      ranks: DataFrame): DataFrame = {
    val contrib = edges.join(
        ranks.select(col("node").as("src"), expr("r div wd").as("rpw"))
          .hint("shuffle_merge"), "src")
      .groupBy(col("dst").as("node"))
      .agg(sum(col("rpw") * col("w")).as("m"))
    wdeg.join(contrib.hint("shuffle_merge"), Seq("node"), "left")
      .select(col("node"), col("wd"),
        expr("CAST(150000 + (85 * coalesce(m, CAST(0 AS BIGINT))) div 100 AS BIGINT)")
          .as("r"))
  }

  /** q137 full frame: (rank, w, c, dp_ppm), DpTop rows.
    *
    * Cross-engine exactness: DP's absolute differences are stated
    * over the COMMON DENOMINATOR c_t·N, so every |v_i − s_i| term is
    * the exact integer |c_ti·N − n_i·c_t| — never a double sum —
    * and absent (token, source) cells need no materialization: they
    * contribute n_i·c_t exactly, folded in closed form as
    * (N − Σ_present n_i)·c_t. One flooring division at the very end
    * quantizes to ppm (all terms non-negative, so truncating and
    * flooring agree). Products ride DECIMAL(38,0)/HUGEINT (c_ti·N
    * approaches 1e24 on a 1e12-token corpus — far past BIGINT).
    *
    * Scale shape: one (source, token) groupBy and one token-keyed
    * join/groupBy — both map-side-combined keyed shuffles; the
    * source-size table (≤ sources rows) and the 1-row total are
    * broadcast dims; the token aggregation rides the join's own
    * w partitioning ({w} ⊆ {w}); top-40 = TakeOrderedAndProject. */
  private[graft] def dispersion(d: DataFrame): DataFrame = {
    val tk = d.select(col("source"), explode(Text.tokens(col("text"))).as("w"))
    val st = tk.groupBy(col("source"), col("w")).agg(count(lit(1)).as("c_si"))
    val src = tk.groupBy(col("source")).agg(count(lit(1)).as("n_i"))
    val tot = src.agg(sum(col("n_i")).as("nn"))
    val tt = st.groupBy(col("w")).agg(sum(col("c_si")).as("c"))
    val agg = st.join(broadcast(src), "source")
      .join(tt.filter(col("c") >= DpMinCount).hint("shuffle_merge"), "w")
      .crossJoin(broadcast(tot))
      .groupBy(col("w"))
      .agg(max(col("c")).as("c"), max(col("nn")).as("nn"),
        sum(expr("abs(CAST(c_si AS DECIMAL(38,0)) * nn - CAST(n_i AS DECIMAL(38,0)) * c)"))
          .as("pnum"),
        sum(col("n_i")).as("n_present"))
    agg.selectExpr("w", "c",
        """CAST(((pnum + CAST(nn - n_present AS DECIMAL(38,0)) * c) * 1000000)
          |  div (2 * CAST(c AS DECIMAL(38,0)) * nn) AS BIGINT) AS dp_ppm"""
          .stripMargin)
      .orderBy(col("dp_ppm").desc, col("w")).limit(DpTop)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("dp_ppm").desc, col("w"))).cast("long"))
      .select(col("rank"), col("w"), col("c"), col("dp_ppm"))
  }

  private[graft] def pmi(d: DataFrame): DataFrame = {
      val toks = d.select(explode(Text.tokens(col("text"))).as("w"))
      val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val pairs = d
        .select(explode(NGrams.wordNGramsAll(
          Text.tokens(col("text")), 2)).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("c_ab"))
        // tokens are \s+-split, so the gram splits back losslessly
        .select(split(col("g"), " ").getItem(0).as("w1"),
          split(col("g"), " ").getItem(1).as("w2"), col("c_ab"))
      val nTok = toks.agg(count(lit(1)).as("n_tok"))
      val nBig = pairs.agg(sum(col("c_ab")).as("nb"))
      val scored = pairs
        .filter(col("c_ab") >= PmiMinCount)
        .join(uni.select(col("w").as("w1"), col("c").as("c_a"))
          .hint("shuffle_merge"), "w1")
        .join(uni.select(col("w").as("w2"), col("c").as("c_b"))
          .hint("shuffle_merge"), "w2")
        .crossJoin(broadcast(nTok))
        .crossJoin(broadcast(nBig))
        .selectExpr("w1", "w2", "c_ab", "c_a", "c_b",
          // one quotient, one ln, one round — the shared op tree
          """CAST(round(ln(
            |  (CAST(c_ab AS DOUBLE) * CAST(n_tok AS DOUBLE) * CAST(n_tok AS DOUBLE))
            |  / (CAST(nb AS DOUBLE) * CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))
            |) * 1000000) AS BIGINT) AS pmi_unats""".stripMargin)
      val top = scored
        .orderBy(col("pmi_unats").desc, col("w1"), col("w2"))
        .limit(PmiTop)
      top.withColumn("rank", row_number().over(
        Window.orderBy(col("pmi_unats").desc, col("w1"), col("w2")))
        .cast("long"))
  }

  /** q125 over any (doc_id, text) frame — exposed for the spec's
    * replay. Scale shape: one doc-keyed groupBy (per-doc token
    * counts), one token-keyed groupBy (first-seen doc per type) —
    * the only corpus-scale shuffles; the checkpoint dim is 12 rows
    * broadcast into both (the ≤-join is a bounded-fan-out BNLJ by
    * construction), each groupBy(j) collapses map-side to ≤ 12 rows,
    * and the regression runs on ≤ 12 points. Growth points are
    * DISTINCT (x, y): duplicate thresholds (tiny id ranges) collapse
    * instead of over-weighting the fit, identically on both engines.
    * A degenerate single-point corpus yields a 0 denominator →
    * nullif makes both engines return NULL rather than one erroring. */
  private[graft] def heaps(d: DataFrame): DataFrame = {
      val toks = d.select(col("doc_id"),
        explode(Text.tokens(col("text"))).as("tok"))
      val perdoc = toks.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nt"))
      val firstdoc = toks.groupBy(col("tok"))
        .agg(min(col("doc_id")).as("fd"))
      // bounds read ONLY doc_id from the raw table — no tokenize scan
      // (perdoc/firstdoc each then scan the corpus exactly once)
      val cps = d
        .agg(min(col("doc_id")).as("dmin"), max(col("doc_id")).as("dmax"))
        .selectExpr(s"explode(sequence(1L, ${HeapsC}L)) AS j",
          "dmin", "dmax")
        .selectExpr("j",
          s"dmin + ((dmax - dmin) * j * j) div ${HeapsC.toLong * HeapsC} AS thr")
      val nj = perdoc.join(broadcast(cps), col("doc_id") <= col("thr"))
        .groupBy(col("j"))
        .agg(sum(col("nt")).as("n"), count(lit(1)).as("dd"))
      val vj = firstdoc.join(
          broadcast(cps).select(col("j").as("j2"), col("thr").as("t2")),
          col("fd") <= col("t2"))
        .groupBy(col("j2")).agg(count(lit(1)).as("v"))
      // ≤ C rows, referenced by BOTH pts and the totals row — the
      // checkpoint stops the plan re-deriving the two corpus scans
      // for the totals branch (house rule: cut multiply-referenced
      // expensive lineage)
      val joined = nj.join(vj, col("j") === col("j2"))
        .filter(col("n") > 0 && col("v") > 0)
        .cut("LexicalStats.heaps: joined prefixes")
      val pts = joined.selectExpr(
        "CAST(round(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS x",
        "CAST(round(ln(CAST(v AS DOUBLE)) * 1000000) AS BIGINT) AS y")
        .distinct()
      val ag = pts.agg(
        count(lit(1)).cast("decimal(38,0)").as("np"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum(expr("CAST(x * x AS DECIMAL(38,0))")).as("sxx"),
        sum(expr("CAST(x * y AS DECIMAL(38,0))")).as("sxy"))
      val tot = joined.filter(col("j") === HeapsC)
        .selectExpr("CAST(dd AS BIGINT) AS d_docs",
          "CAST(n AS BIGINT) AS n_tokens", "CAST(v AS BIGINT) AS v_types")
      ag.crossJoin(broadcast(tot))
        .selectExpr("np", "sx", "sy", "d_docs", "n_tokens", "v_types",
          s"""((np * sxy - sx * sy) * 1000000 + $SlopeShift * nullif(np * sxx - sx * sx, 0))
             |  div nullif(np * sxx - sx * sx, 0) - $SlopeShift AS heaps_beta_micro""".stripMargin)
        .selectExpr("CAST(np AS BIGINT) AS n_points",
          "d_docs", "n_tokens", "v_types", "heaps_beta_micro",
          s"""((sy * 1000000 - heaps_beta_micro * sx) + $InterceptShift * (np * 1000000))
             |  div (np * 1000000) - $InterceptShift AS heaps_lnk_unats""".stripMargin)
  }

    // -- q128: least-squares fit of ln(freq) on ln(rank) over the
    //    whole vocabulary — WITHOUT a global vocabulary sort. Ranks
    //    within a frequency class are assignment-independent for
    //    every regression sum (y is constant inside a class), so the
    //    class table (count-of-counts, √-sized: m(m+1)/2 ≤ N) plus
    //    its cumulative offsets determines the exact rank multiset;
    //    classes explode into ≤ Strip-wide rank strips (bounded
    //    arrays, and the huge hapax class parallelizes across
    //    strips). Regression sums ride DECIMAL(38,0)/HUGEINT; the
    //    closed-form slope/intercept are shift-guarded integral
    //    divisions. Output: ONE row — n_types, n_tokens,
    //    zipf_slope_micro (≈ −1e6 for natural text),
    //    zipf_intercept_unats. --
  /** q128 over any (text) frame — exposed for the spec's replay. */
  private[graft] def zipf(d: DataFrame): DataFrame = {
      val vocab = d.select(explode(Text.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val cls = vocab.groupBy(col("c")).agg(count(lit(1)).as("m"))
      // offsets over the √-sized class table (tiny global window)
      val ofs = cls.withColumn("s", coalesce(
        sum(col("m")).over(Window.orderBy(col("c").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val ranks = ofs
        .selectExpr("c", "m", "s",
          s"explode(sequence(0L, (m - 1) div $Strip)) AS strip")
        .selectExpr("c",
          s"explode(sequence(s + 1 + strip * $Strip, least(s + m, s + strip * $Strip + $Strip))) AS r")
      val xy = ranks.selectExpr(
        "CAST(round(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT) AS x",
        "CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS y")
      val ag = xy.agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum(expr("CAST(x * x AS DECIMAL(38,0))")).as("sxx"),
        sum(expr("CAST(x * y AS DECIMAL(38,0))")).as("sxy"))
      val tot = cls.agg(sum(col("c") * col("m")).as("n_tokens"))
      ag.crossJoin(broadcast(tot))
        .selectExpr(
          "CAST(n AS BIGINT) AS n_types", "n_tokens",
          s"""((n * sxy - sx * sy) * 1000000 + $SlopeShift * (n * sxx - sx * sx))
             |  div (n * sxx - sx * sx) - $SlopeShift AS zipf_slope_micro""".stripMargin,
          "n", "sx", "sy")
        .selectExpr("n_types", "n_tokens", "zipf_slope_micro",
          // n stays DECIMAL here: InterceptShift * n * 1e6 overflows
          // BIGINT once the vocabulary passes ~9k types
          s"""((sy * 1000000 - zipf_slope_micro * sx) + $InterceptShift * (n * 1000000))
             |  div (n * 1000000) - $InterceptShift AS zipf_intercept_unats""".stripMargin)
  }

  /** q141 over any (text) frame — exposed for the spec's replay.
    *
    * Cross-engine exactness: every quantity is an integer count off
    * the count-of-counts table; the two divisions (Chao1's and the
    * ppm missing mass) are single flooring integral divisions over
    * non-negative DECIMAL(38,0)/HUGEINT products (n1² approaches
    * 1e20 on a 1e10-hapax crawl — past BIGINT), and the +1 in
    * Chao1's denominator keeps it defined when n2 = 0.
    *
    * Scale shape: one vocab-scale keyed groupBy, one √-scale
    * count-of-counts groupBy (m(m+1)/2 ≤ N distinct classes), then a
    * 1-row conditional aggregation — no joins, no windows, bounded
    * driver state. */
  private[graft] def unseen(d: DataFrame): DataFrame = {
    val vocab = d.select(explode(Text.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val cls = vocab.groupBy(col("c")).agg(count(lit(1)).as("m"))
    cls.agg(
        sum(expr("CAST(c AS DECIMAL(38,0)) * m")).as("nt"),
        sum(col("m")).as("n_types"),
        sum(when(col("c") === 1, col("m")).otherwise(0L)).as("n1"),
        sum(when(col("c") === 2, col("m")).otherwise(0L)).as("n2"))
      .selectExpr("CAST(nt AS BIGINT) AS n_tokens", "n_types", "n1", "n2",
        """CAST(n_types + (CAST(n1 AS DECIMAL(38,0)) * (n1 - 1))
          |  div (2 * (n2 + 1)) AS BIGINT) AS chao1_types""".stripMargin,
        """CAST((CAST(n1 AS DECIMAL(38,0)) * 1000000)
          |  div nullif(nt, 0) AS BIGINT) AS missing_mass_ppm""".stripMargin)
  }

  /** q142 over any (doc_id, text) frame — exposed for the spec's
    * replay. Full frame: (rank, w, cf, df, burst_ppm), DpTop rows.
    *
    * Cross-engine exactness: cf and df are integer counts; the one
    * division is a flooring ppm over non-negative DECIMAL(38,0)/
    * HUGEINT (cf·10⁶ ≈ 1e18 already grazes BIGINT at crawl scale).
    *
    * Scale shape: one (term, doc) keyed groupBy (map-side combined —
    * the per-doc term count collapses before it shuffles), one
    * term-keyed groupBy, top-40 = TakeOrderedAndProject. No joins,
    * no corpus-wide windows, bounded driver state. */
  private[graft] def burstiness(d: DataFrame): DataFrame = {
    val dt = d.select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
      .groupBy(col("w"), col("doc_id")).agg(count(lit(1)).as("n"))
    dt.groupBy(col("w"))
      .agg(sum(col("n")).as("cf"), count(lit(1)).as("df"))
      .filter(col("cf") >= DpMinCount)
      .selectExpr("w", "cf", "df",
        "(CAST(cf AS DECIMAL(38,0)) * 1000000) div df AS burst_ppm")
      .orderBy(col("burst_ppm").desc, col("w")).limit(DpTop)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("burst_ppm").desc, col("w"))).cast("long"))
      .select(col("rank"), col("w"), col("cf"), col("df"), col("burst_ppm"))
  }

  // ---- DuckDB oracles (same constants and op trees) ----------------

  /** The tok/pc/und oracle CTE prefix replaying [[undirectedEdges]] —
    * shared by oracle136 and Motifs' oracle139. */
  private[operators] def undEdgeSql(minW: Long): String =
    s"""tok AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
       |pc AS (
       |  SELECT w1, w2, count(*) AS cw FROM (
       |    SELECT t[i] AS w1, t[i+1] AS w2
       |    FROM (SELECT t, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i
       |          FROM tok))
       |  GROUP BY w1, w2),
       |und AS MATERIALIZED (
       |  SELECT least(w1, w2) AS a, greatest(w1, w2) AS b,
       |    CAST(sum(cw) AS BIGINT) AS w
       |  FROM pc WHERE w1 <> w2 GROUP BY 1, 2
       |  HAVING sum(cw) >= $minW)""".stripMargin

  private def oracle126: String =
    s"""WITH tok AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
       |uni AS (
       |  SELECT w, count(*) AS c
       |  FROM (SELECT unnest(t) AS w FROM tok) GROUP BY w),
       |pc AS (
       |  SELECT w1, w2, count(*) AS c_ab FROM (
       |    SELECT t[i] AS w1, t[i+1] AS w2
       |    FROM (SELECT t, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i
       |          FROM tok))
       |  GROUP BY w1, w2),
       |tot AS (SELECT count(*) AS n_tok FROM (SELECT unnest(t) FROM tok)),
       |totb AS (SELECT CAST(sum(c_ab) AS BIGINT) AS nb FROM pc),
       |p AS (
       |  SELECT w1, w2, c_ab, a.c AS c_a, b.c AS c_b,
       |    CAST(round(ln(
       |      (CAST(c_ab AS DOUBLE) * CAST(n_tok AS DOUBLE) * CAST(n_tok AS DOUBLE))
       |      / (CAST(nb AS DOUBLE) * CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE))
       |    ) * 1000000) AS BIGINT) AS pmi_unats
       |  FROM pc JOIN uni a ON pc.w1 = a.w JOIN uni b ON pc.w2 = b.w
       |  CROSS JOIN tot CROSS JOIN totb
       |  WHERE c_ab >= $PmiMinCount)
       |SELECT w1, w2, c_ab, c_a, c_b, pmi_unats, CAST(rank AS BIGINT) AS rank
       |FROM (SELECT *, row_number() OVER (
       |        ORDER BY pmi_unats DESC, w1, w2) AS rank FROM p)
       |WHERE rank <= $PmiTop""".stripMargin

  private def oracle125: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
       |  FROM documents),
       |perdoc AS (SELECT doc_id, count(*) AS nt FROM tok GROUP BY doc_id),
       |firstdoc AS (SELECT tok, min(doc_id) AS fd FROM tok GROUP BY tok),
       |bounds AS (
       |  SELECT min(doc_id) AS dmin, max(doc_id) AS dmax FROM documents),
       |cps AS (
       |  SELECT j, dmin + ((dmax - dmin) * j * j) // ${HeapsC.toLong * HeapsC} AS thr
       |  FROM (SELECT unnest(generate_series(CAST(1 AS BIGINT),
       |          CAST($HeapsC AS BIGINT))) AS j)
       |  CROSS JOIN bounds),
       |nj AS (
       |  SELECT j, CAST(sum(nt) AS BIGINT) AS n, count(*) AS dd
       |  FROM perdoc JOIN cps ON doc_id <= thr GROUP BY j),
       |vj AS (
       |  SELECT j AS j2, count(*) AS v
       |  FROM firstdoc JOIN cps ON fd <= thr GROUP BY j),
       |joined AS (
       |  SELECT * FROM nj JOIN vj ON nj.j = vj.j2
       |  WHERE n > 0 AND v > 0),
       |pts AS (
       |  SELECT DISTINCT
       |    CAST(round(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS x,
       |    CAST(round(ln(CAST(v AS DOUBLE)) * 1000000) AS BIGINT) AS y
       |  FROM joined),
       |ag AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS np,
       |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
       |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
       |    sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
       |  FROM pts),
       |tot AS (
       |  SELECT CAST(dd AS BIGINT) AS d_docs, CAST(n AS BIGINT) AS n_tokens,
       |    CAST(v AS BIGINT) AS v_types
       |  FROM joined WHERE j = $HeapsC),
       |sl AS (
       |  SELECT np, sx, sy, d_docs, n_tokens, v_types,
       |    ((np * sxy - sx * sy) * 1000000 + $SlopeShift * nullif(np * sxx - sx * sx, 0))
       |      // nullif(np * sxx - sx * sx, 0) - $SlopeShift AS beta
       |  FROM ag CROSS JOIN tot)
       |SELECT CAST(np AS BIGINT) AS n_points, d_docs, n_tokens, v_types,
       |  CAST(beta AS BIGINT) AS heaps_beta_micro,
       |  CAST(((sy * 1000000 - beta * sx) + $InterceptShift * (np * 1000000))
       |    // (np * 1000000) - $InterceptShift AS BIGINT) AS heaps_lnk_unats
       |FROM sl""".stripMargin

  private def oracle128: String =
    s"""WITH tokx AS (
       |  SELECT unnest(string_split_regex(text, '\\s+')) AS tok FROM documents),
       |vocab AS (SELECT tok, count(*) AS c FROM tokx GROUP BY tok),
       |cls AS (SELECT c, count(*) AS m FROM vocab GROUP BY c),
       |ofs AS (
       |  SELECT c, m, CAST(coalesce(sum(m) OVER (ORDER BY c DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
       |  FROM cls),
       |strips AS (
       |  SELECT c, m, s, unnest(generate_series(0, (m - 1) // $Strip)) AS strip
       |  FROM ofs),
       |rk AS (
       |  SELECT c, unnest(generate_series(s + 1 + strip * $Strip,
       |    least(s + m, s + strip * $Strip + $Strip))) AS r
       |  FROM strips),
       |xy AS (
       |  SELECT CAST(round(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT) AS x,
       |    CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS y
       |  FROM rk),
       |ag AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS n,
       |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
       |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
       |    sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
       |  FROM xy),
       |tot AS (
       |  SELECT CAST(sum(CAST(c AS HUGEINT) * CAST(m AS HUGEINT)) AS BIGINT)
       |    AS n_tokens FROM cls),
       |sl AS (
       |  SELECT n, sx, sy, n_tokens,
       |    ((n * sxy - sx * sy) * 1000000 + $SlopeShift * (n * sxx - sx * sx))
       |      // (n * sxx - sx * sx) - $SlopeShift AS slope
       |  FROM ag CROSS JOIN tot)
       |SELECT CAST(n AS BIGINT) AS n_types, n_tokens,
       |  CAST(slope AS BIGINT) AS zipf_slope_micro,
       |  CAST(((sy * 1000000 - slope * sx) + $InterceptShift * (n * 1000000))
       |    // (n * 1000000) - $InterceptShift AS BIGINT) AS zipf_intercept_unats
       |FROM sl""".stripMargin

  // unrolled K-iteration chain; every multiply-referenced CTE is
  // MATERIALIZED (the q127 inliner lesson — an un-materialized
  // iterate doubles the tree per round)
  private def oracle136: String = {
    val iters = (1 to TrIters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS node, sum((r.r // r.wd) * e.w) AS m
         |  FROM ed e JOIN r${i - 1} r ON e.src = r.node
         |  GROUP BY e.dst),
         |r$i AS MATERIALIZED (
         |  SELECT wd.node, wd.wd,
         |    CAST(150000 + (85 * coalesce(m, 0)) // 100 AS BIGINT) AS r
         |  FROM wd LEFT JOIN c$i USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH ${undEdgeSql(TrMinW)},
       |ed AS MATERIALIZED (
       |  SELECT a AS src, b AS dst, w FROM und
       |  UNION ALL
       |  SELECT b AS src, a AS dst, w FROM und),
       |wd AS MATERIALIZED (
       |  SELECT src AS node, CAST(sum(w) AS BIGINT) AS wd FROM ed GROUP BY src),
       |r0 AS MATERIALIZED (
       |  SELECT node, wd, CAST($TrUnit AS BIGINT) AS r FROM wd),
       |$iters
       |SELECT CAST(rank AS BIGINT) AS rank, node, wd, r AS rank_unit FROM (
       |  SELECT node, wd, r,
       |    row_number() OVER (ORDER BY r DESC, node) AS rank
       |  FROM r$TrIters)
       |WHERE rank <= $TrTop""".stripMargin
  }

  private def oracle137: String =
    s"""WITH tk AS (
       |  SELECT source, unnest(string_split_regex(text, '\\s+')) AS w
       |  FROM documents),
       |st AS MATERIALIZED (
       |  SELECT source, w, count(*) AS c_si FROM tk GROUP BY source, w),
       |src AS (SELECT source, count(*) AS n_i FROM tk GROUP BY source),
       |tot AS (SELECT CAST(sum(n_i) AS BIGINT) AS nn FROM src),
       |tt AS (SELECT w, CAST(sum(c_si) AS BIGINT) AS c FROM st GROUP BY w),
       |agg AS (
       |  SELECT st.w, max(c) AS c, max(nn) AS nn,
       |    sum(abs(CAST(c_si AS HUGEINT) * nn - CAST(n_i AS HUGEINT) * c))
       |      AS pnum,
       |    CAST(sum(n_i) AS BIGINT) AS n_present
       |  FROM st JOIN src USING (source) JOIN tt USING (w) CROSS JOIN tot
       |  WHERE c >= $DpMinCount
       |  GROUP BY st.w),
       |sc AS (
       |  SELECT w, c,
       |    CAST(((pnum + CAST(nn - n_present AS HUGEINT) * c) * 1000000)
       |      // (2 * CAST(c AS HUGEINT) * nn) AS BIGINT) AS dp_ppm
       |  FROM agg)
       |SELECT CAST(rank AS BIGINT) AS rank, w, c, dp_ppm FROM (
       |  SELECT w, c, dp_ppm,
       |    row_number() OVER (ORDER BY dp_ppm DESC, w) AS rank
       |  FROM sc)
       |WHERE rank <= $DpTop""".stripMargin

  private def oracle141: String =
    s"""WITH tokx AS (
       |  SELECT unnest(string_split_regex(text, '\\s+')) AS tok FROM documents),
       |vocab AS (SELECT tok, count(*) AS c FROM tokx GROUP BY tok),
       |cls AS (SELECT c, count(*) AS m FROM vocab GROUP BY c),
       |ag AS (
       |  SELECT sum(CAST(c AS HUGEINT) * m) AS nt,
       |    CAST(sum(m) AS BIGINT) AS n_types,
       |    CAST(sum(CASE WHEN c = 1 THEN m ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(sum(CASE WHEN c = 2 THEN m ELSE 0 END) AS BIGINT) AS n2
       |  FROM cls)
       |SELECT CAST(nt AS BIGINT) AS n_tokens, n_types, n1, n2,
       |  CAST(n_types + (CAST(n1 AS HUGEINT) * (n1 - 1))
       |    // (2 * (n2 + 1)) AS BIGINT) AS chao1_types,
       |  CAST((CAST(n1 AS HUGEINT) * 1000000)
       |    // nullif(nt, 0) AS BIGINT) AS missing_mass_ppm
       |FROM ag""".stripMargin

  private def oracle142: String =
    s"""WITH tk AS (
       |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
       |  FROM documents),
       |dt AS (SELECT w, doc_id, count(*) AS n FROM tk GROUP BY w, doc_id),
       |ag AS (
       |  SELECT w, CAST(sum(n) AS BIGINT) AS cf, count(*) AS df
       |  FROM dt GROUP BY w),
       |sc AS (
       |  SELECT w, cf, df,
       |    CAST((CAST(cf AS HUGEINT) * 1000000) // df AS BIGINT) AS burst_ppm
       |  FROM ag WHERE cf >= $DpMinCount)
       |SELECT CAST(rank AS BIGINT) AS rank, w, cf, df, burst_ppm FROM (
       |  SELECT w, cf, df, burst_ppm,
       |    row_number() OVER (ORDER BY burst_ppm DESC, w) AS rank
       |  FROM sc)
       |WHERE rank <= $DpTop""".stripMargin

  val oracles: Map[String, String] = Map(
    "q141_unseen_estimate" -> oracle141,
    "q142_burstiness" -> oracle142,
    "q125_heaps_fit" -> oracle125,
    "q137_term_dispersion" -> oracle137,
    "q126_pmi_collocations" -> oracle126,
    "q128_zipf_fit" -> oracle128,
    "q136_textrank" -> oracle136,
  )
}
