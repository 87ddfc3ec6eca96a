package graft.operators

import graft.Cut._
import graft.Tables
import graft.functions.{HllSketch, Sketches, SplitMix64}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact and approximate statistical aggregates (SURVEY.md §2.4's
  * distinct/HLL row).
  *
  * q54: exact interpolated percentiles — `percentile` matches
  * DuckDB's `quantile_cont` definition, so it's oracle-checkable
  * (rounded to absorb interpolation-arithmetic ulps).
  *
  * q55: Spark's built-in sketch aggregates (HLL++ count-distinct,
  * t-digest-style approximate percentile). Their internals are
  * engine-specific — replaying them in SQL would test Spark against
  * itself — so q55 stays rows-only; ApproxSpec bounds the outputs
  * against exact values.
  *
  * q55b (round-4 verdict #3): the engine OWNS the sketches instead —
  * [[graft.functions.HllSketchAgg]] (splitmix64-hashed registers,
  * merge = per-register max) and [[graft.functions.HistQuantileAgg]]
  * (fixed-width integer-cents histogram, merge = vector add), both
  * `TypedImperativeAggregate`s with fixed-size mergeable state. Their
  * definitions are pure 64-bit integer arithmetic plus one IEEE-exact
  * division, so the generated oracle below replays the FULL register
  * state and the gate checks them EXACT — deterministic across
  * engines, partitionings, and cluster sizes.
  *
  * At 100 TB the sketches are the operative path: fixed-size state,
  * mergeable across partitions, single shuffle of sketch bytes.
  */
object ApproxAggs {
  type Q = (SparkSession, String) => DataFrame

  /** q55b sketch parameters. */
  private val HllSalt = 55L
  private val WidthCents = 8192L // ≈ $82 buckets; error bound = 1 bucket
  private val Buckets = 2048 // covers cents up to 2048·8192 ≈ $167k

  /** q95 Count-Min parameters: 4×1024 counters (ε ≈ e/1024, δ ≈ e⁻⁴);
    * probes are the q41/q42 English stopword set — referenced, not
    * re-declared, so the two can never silently diverge (and
    * ApproxSpec reads THIS list to align its exact-count comparison
    * with the output columns). */
  private[graft] val CmSalt = 950L
  private[graft] val CmDepth = 4
  private[graft] val CmWidth = 1024
  private[graft] val CmProbes: Seq[String] = TextAnalysis.stopEnList

  /** q191's histogram width grid in cents (8192 is the q55b gate
    * config). Buckets scale inversely so every width covers the same
    * ≈$167k price range — the sweep trades sketch STATE (buckets)
    * against quantile RESOLUTION (one bucket width). */
  private[graft] val HistWidthGrid = Seq(512L, 8192L, 131072L)
  private[graft] def histBucketsFor(w: Long): Int =
    (WidthCents * Buckets / w).toInt

  /** q188's width grid (powers of two; 1024 is the q95 gate config).
    * ε ≈ e/width at fixed depth — the sketch-sizing knob. The corpus
    * vocabulary is alphabet-BOUNDED (31 distinct tokens at every sf —
    * the q155 sub-linear finding), so the grid must reach BELOW it to
    * show real collisions (the q153 corpus-adaptive-width lesson): a
    * {256, 1024, 4096} sweep measured zero overestimate in every cell
    * — a no-op table. {8, 32, 1024} brackets the vocabulary: 8 must
    * collide, 32 sits at it, 1024 shows the shipped config is
    * collision-free on THIS vocabulary (i.e. 32× oversized — which is
    * exactly the decision the table exists to expose). */
  private[graft] val CmWidthGrid = Seq(8, 32, 1024)

  /** Integer-cents projection of l_extendedprice — through
    * DECIMAL(15,2) on BOTH engines (the q01-proven conversion).
    * Exposed to the q198 sketch-sizing operator (its max-cents
    * statistic must be the same projection the sketch ingests). */
  private[operators] val CentsSql =
    "CAST(CAST(l_extendedprice AS DECIMAL(15,2)) * 100 AS BIGINT)"

  val queries: Map[String, Q] = Map(
    "q54_percentiles" -> { (s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 6).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 6).as("p90"),
          round(expr("percentile(o_totalprice, 0.99)"), 6).as("p99"))
    },

    "q55_sketch_aggs" -> { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          approx_count_distinct(col("l_orderkey")).as("approx_orders"),
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("approx_median"))
    },

    // -- owned Count-Min sketch over token occurrences, per language:
    //    ONE map pass + a shuffle of O(groups · matrix bytes) replaces
    //    a full token explode+groupBy when only frequency ESTIMATES
    //    are needed — the fixed-memory heavy-hitter primitive at
    //    100 TB. EXACT-gated like q55b: every counter is an integer
    //    rebuilt by the oracle (splitmix64 token hashes, power-of-two
    //    bucket masks), the digest is the per-row position-weighted
    //    checksum, and the probe estimates are min-over-rows integers. --
    "q95_countmin_tokens" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(Sketches.countMin(graft.functions.Text.tokens(col("text")),
          CmSalt, CmDepth, CmWidth, CmProbes).as("s"))
      val estCols = CmProbes.zipWithIndex.map { case (t, i) =>
        element_at(col("s.est"), i + 1).as(s"est_$t")
      }
      val chkCols = (0 until CmDepth).map(j =>
        element_at(col("s.chk"), j + 1).as(s"chk$j"))
      d.select(col("lang") +: col("s.n_tokens").as("n_tokens")
        +: (chkCols ++ estCols): _*)
    },

    // -- q188 (round 12): the Count-Min WIDTH frontier — the
    //    sketch-sizing decision table: per width ∈ {8, 32, 1024}
    //    (memory = depth·width counters; ε ≈ e/width) and per probe
    //    token, the sketch ESTIMATE beside the exact count and the
    //    overestimate the memory choice costs. CMS never
    //    underestimates, so overestimate ≥ 0 is structural
    //    (spec-asserted); the 1024 column is the shipped q95 config.
    //    Scale shape: one map-pass sketch per width (fixed-memory
    //    buffers merged commutatively); the exact probe counts are one
    //    literal-filtered explode (probe set is O(1)); every frontier
    //    row reads 1-row checkpointed aggregates. --
    "q188_cms_width_frontier" -> { (s, dir) =>
      cmsWidthFrontier(Tables.load(s, dir, "documents"))
    },

    // -- q191 (round 12): the histogram-quantile WIDTH frontier —
    //    the third owned sketch's sizing table (q188 CMS width, q190
    //    Bloom bits): per bucket width ∈ {512, 8192, 131072} cents
    //    (buckets scaled inversely — constant coverage, so state
    //    trades against resolution), the sketch's p50/p90 bucket
    //    floors beside the EXACT discrete quantiles and the measured
    //    error — structurally 0 ≤ err < width (the sketch's one-bucket
    //    guarantee, spec-asserted). One integer-cents projection
    //    feeds every width; the exact quantiles are one groupBy +
    //    cumsum over the bounded distinct-cents table. --
    "q191_hist_width_frontier" -> { (s, dir) =>
      histWidthFrontier(Tables.load(s, dir, "lineitem"))
    },

    "q55b_owned_sketches" -> { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          Sketches.hllDigest(col("l_partkey"), HllSalt).as("h"),
          Sketches.histQuantiles(expr(CentsSql), WidthCents, Buckets).as("q"))
        .select(col("l_returnflag"),
          col("h.reg_sum").as("hll_reg_sum"),
          col("h.zeros").as("hll_zeros"),
          col("h.inv_num").as("hll_inv_num"),
          col("h.est").as("hll_estimate"),
          col("q.n").as("n_rows"),
          col("q.p50_cents").as("p50_cents"),
          col("q.p90_cents").as("p90_cents"))
    },
  )

  /** q188 over any documents-shaped frame (needs `text`): one GLOBAL
    * sketch per width over the shared token stream, probe estimates
    * beside exact counts. */
  private[graft] def cmsWidthFrontier(d: DataFrame): DataFrame = {
    import graft.functions.Text
    val toks = d.select(Text.tokens(col("text")).as("t"))
    val exact = d.select(explode(Text.tokens(col("text"))).as("token"))
      .filter(col("token").isin(CmProbes: _*))
      .groupBy(col("token")).agg(count(lit(1)).as("exact"))
      .cut("ApproxAggs.cmsWidthFrontier: exact counts") // joined once per width row set
    val rows = CmWidthGrid.map { w =>
      val sk = toks
        .agg(Sketches.countMin(col("t"), CmSalt, CmDepth, w, CmProbes).as("s"))
        .cut("ApproxAggs.cmsWidthFrontier: sketch") // read once per probe row
      CmProbes.zipWithIndex.map { case (t, i) =>
        sk.select(lit(w.toLong).as("width"),
          lit(CmDepth.toLong * w).as("counters"),
          lit(t).as("token"), col("s.n_tokens").as("n_tokens"),
          element_at(col("s.est"), i + 1).as("est"))
      }.reduce(_.unionByName(_))
    }
    rows.reduce(_.unionByName(_))
      .join(broadcast(exact), Seq("token"), "left")
      .select(col("width"), col("counters"), col("token"), col("n_tokens"),
        coalesce(col("exact"), lit(0L)).as("exact"), col("est"),
        (col("est") - coalesce(col("exact"), lit(0L))).as("overestimate"))
  }

  /** Code-generated replay of BOTH owned sketches: the HLL register
    * table is rebuilt in SQL (mix through a CTE column; trailing-zero
    * rank via an integer bit-probe list — no floating-point log), the
    * histogram via integer bucket GROUP BY + window cumsum. The one
    * double, hll_estimate, is a division of bit-identical operands
    * (shortest-round-trip numerator literal / exact ≤2^52 integer). */
  private def oracle55b: String = {
    val m = HllSketch.M
    val p = HllSketch.P
    val maxRho = HllSketch.MaxRho
    val estNum = HllSketch.EstNumerator.toString
    s"""WITH h0 AS (
       |  SELECT l_returnflag AS flag,
       |    ${SplitMix64.saltedSql("CAST(l_partkey AS HUGEINT)", HllSalt)} AS x
       |  FROM lineitem),
       |h1 AS (SELECT flag, ${SplitMix64.mixSql("x")} AS h FROM h0),
       |hr AS (SELECT flag, CAST(h % $m AS INTEGER) AS idx, (h >> $p) AS w FROM h1),
       |rr AS (SELECT flag, idx,
       |  CASE WHEN w = 0 THEN $maxRho
       |       ELSE least(list_position(list_transform(range(0, ${64 - p}),
       |         t -> CAST((w >> t) % 2 AS INTEGER)), 1), $maxRho) END AS r
       |  FROM hr),
       |regs AS (SELECT flag, idx, max(r) AS mr FROM rr GROUP BY flag, idx),
       |dig AS (SELECT flag, sum(mr) AS reg_sum, count(*) AS present,
       |  sum(CAST(1 AS HUGEINT) << ($maxRho - mr)) AS inv_present
       |  FROM regs GROUP BY flag),
       |hll AS (SELECT flag,
       |  CAST(reg_sum AS BIGINT) AS hll_reg_sum,
       |  CAST($m - present AS INTEGER) AS hll_zeros,
       |  CAST(inv_present + ($m - present) * (CAST(1 AS HUGEINT) << $maxRho)
       |    AS BIGINT) AS hll_inv_num,
       |  $estNum / CAST(inv_present + ($m - present) * (CAST(1 AS HUGEINT) << $maxRho)
       |    AS DOUBLE) AS hll_estimate
       |  FROM dig),
       |hq AS (SELECT l_returnflag AS flag,
       |  least(greatest($CentsSql // $WidthCents, 0), ${Buckets - 1}) AS idx
       |  FROM lineitem),
       |hc AS (SELECT flag, idx, count(*) AS c FROM hq GROUP BY flag, idx),
       |hn AS (SELECT flag, idx,
       |  sum(c) OVER (PARTITION BY flag ORDER BY idx) AS cs,
       |  sum(c) OVER (PARTITION BY flag) AS n FROM hc),
       |q50 AS (SELECT flag, CAST(min(n) AS BIGINT) AS n_rows, min(idx) AS i
       |  FROM hn WHERE cs >= (n + 1) // 2 GROUP BY flag),
       |q90 AS (SELECT flag, min(idx) AS i
       |  FROM hn WHERE cs >= (9 * n + 9) // 10 GROUP BY flag)
       |SELECT hll.flag AS l_returnflag, hll_reg_sum, hll_zeros, hll_inv_num,
       |  hll_estimate, q50.n_rows,
       |  CAST(q50.i * $WidthCents AS BIGINT) AS p50_cents,
       |  CAST(q90.i * $WidthCents AS BIGINT) AS p90_cents
       |FROM hll
       |JOIN q50 ON hll.flag = q50.flag
       |JOIN q90 ON hll.flag = q90.flag""".stripMargin
  }

  /** Code-generated replay of the Count-Min matrix: token-occurrence
    * hashes (poly-31 code points → splitmix64, the q45 playbook —
    * distinct tokens hashed once), per-row salted mixes through CTE
    * columns, bucket = low bits, counters via GROUP BY. The probe
    * tokens' (row, bucket) coordinates are Scala-computed constants —
    * the same kernel the aggregate runs — so the oracle's LEFT JOIN
    * grid reads the identical cells the engine's eval reads. */
  /** q191 over any lineitem-shaped frame: the integer-cents stream
    * once (checkpointed — three sketch passes and the exact-quantile
    * chain read it), exact discrete p50/p90 from one groupBy + cumsum
    * over the DISTINCT-cents table (bounded by the price domain, not
    * the corpus — the count-of-counts argument), then one 1-row
    * sketch aggregate per width. Rank definitions mirror the sketch's
    * exactly: p50 = min value with cumsum ≥ (n+1) div 2, p90 with
    * cumsum ≥ (9n+9) div 10 — so err = exact − floor ∈ [0, width) is
    * the sketch's one-bucket guarantee, measured. */
  private[graft] def histWidthFrontier(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = d.select(expr(CentsSql).as("cents")).cut("ApproxAggs.histWidthFrontier: cents")
    val hc = cents.groupBy(col("cents")).agg(count(lit(1)).as("c"))
    val wOrd = Window.orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val hn = hc.withColumn("cs", sum(col("c")).over(wOrd))
      .crossJoin(broadcast(cents.agg(count(lit(1)).as("n"))))
      // read by both exact-quantile filters
      .cut("ApproxAggs.histWidthFrontier: cumulative counts")
    val ex = hn.filter(col("cs") >= expr("(n + 1) div 2"))
      .agg(min(col("cents")).as("exact_p50"))
      .crossJoin(hn.filter(col("cs") >= expr("(9 * n + 9) div 10"))
        .agg(min(col("cents")).as("exact_p90")))
      .cut("ApproxAggs.histWidthFrontier: exact quantiles")
    val rows = HistWidthGrid.map { w =>
      val b = histBucketsFor(w)
      cents.agg(Sketches.histQuantiles(col("cents"), w, b).as("q"))
        .crossJoin(broadcast(ex))
        .select(lit(w).as("width_cents"), lit(b.toLong).as("buckets"),
          col("q.n").as("n_rows"),
          col("q.p50_cents").as("p50_cents"),
          col("q.p90_cents").as("p90_cents"),
          col("exact_p50"), col("exact_p90"),
          (col("exact_p50") - col("q.p50_cents")).as("p50_err_cents"),
          (col("exact_p90") - col("q.p90_cents")).as("p90_err_cents"))
    }
    rows.reduce(_.unionByName(_))
  }

  /** q191: the exact-quantile chain shared, per-width histogram
    * censuses re-keyed from the same MATERIALIZED cents stream (the
    * oracle55b hq chain, global and prefix-parameterized). */
  private def oracle191: String = {
    val sizeCtes = HistWidthGrid.zipWithIndex.map { case (w, i) =>
      val b = histBucketsFor(w)
      s"""g${i}hq AS (
         |  SELECT least(greatest(cents // $w, 0), ${b - 1}) AS idx
         |  FROM cents),
         |g${i}hc AS (SELECT idx, count(*) AS c FROM g${i}hq GROUP BY idx),
         |g${i}hn AS MATERIALIZED (
         |  SELECT idx, sum(c) OVER (ORDER BY idx) AS cs,
         |    sum(c) OVER () AS n FROM g${i}hc),
         |g${i}q AS (
         |  SELECT
         |    (SELECT CAST(min(n) AS BIGINT) FROM g${i}hn
         |     WHERE cs >= (n + 1) // 2) AS n_rows,
         |    (SELECT CAST(min(idx) * $w AS BIGINT) FROM g${i}hn
         |     WHERE cs >= (n + 1) // 2) AS p50_cents,
         |    (SELECT CAST(min(idx) * $w AS BIGINT) FROM g${i}hn
         |     WHERE cs >= (9 * n + 9) // 10) AS p90_cents)""".stripMargin
    }
    val rows = HistWidthGrid.zipWithIndex.map { case (w, i) =>
      val b = histBucketsFor(w)
      s"""SELECT CAST($w AS BIGINT) AS width_cents,
         |  CAST($b AS BIGINT) AS buckets,
         |  n_rows, p50_cents, p90_cents,
         |  (SELECT exact_p50 FROM ex) AS exact_p50,
         |  (SELECT exact_p90 FROM ex) AS exact_p90,
         |  (SELECT exact_p50 FROM ex) - p50_cents AS p50_err_cents,
         |  (SELECT exact_p90 FROM ex) - p90_cents AS p90_err_cents
         |FROM g${i}q""".stripMargin
    }
    s"""WITH cents AS MATERIALIZED (
       |  SELECT $CentsSql AS cents FROM lineitem),
       |ehc AS (SELECT cents, count(*) AS c FROM cents GROUP BY cents),
       |ehn AS MATERIALIZED (
       |  SELECT cents, sum(c) OVER (ORDER BY cents) AS cs,
       |    sum(c) OVER () AS n FROM ehc),
       |ex AS (
       |  SELECT
       |    (SELECT CAST(min(cents) AS BIGINT) FROM ehn
       |     WHERE cs >= (n + 1) // 2) AS exact_p50,
       |    (SELECT CAST(min(cents) AS BIGINT) FROM ehn
       |     WHERE cs >= (9 * n + 9) // 10) AS exact_p90),
       |${sizeCtes.mkString(",\n")}
       |${rows.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** The global CMS token-hash chain (token stream → per-occurrence
    * per-depth-row salted splitmix64 hashes), name-PREFIXED, ending at
    * `<p>sh(j, h)` MATERIALIZED — shared by oracle188 (p = "") and the
    * q202 auto-sized eval oracle (p = "ac", where the Bloom chain's
    * CTE names would otherwise collide in the same WITH block). */
  private[operators] def cmsHashCtes(p: String): String =
    s"""${p}tok AS (
       |  SELECT string_split_regex(text, '\\s+') AS t FROM documents),
       |${p}pos AS (
       |  SELECT t, unnest(generate_series(1, len(t))) AS i FROM ${p}tok),
       |${p}wt AS (SELECT t[i] AS w FROM ${p}pos),
       |${p}dt AS (SELECT DISTINCT w FROM ${p}wt),
       |${p}dp AS (SELECT w, ${SplitMix64.polyHashSql("w")} AS p FROM ${p}dt),
       |${p}dh AS (SELECT w, ${SplitMix64.mixSql("p")} AS th FROM ${p}dp),
       |${p}occ AS MATERIALIZED (
       |  SELECT ${p}dh.th FROM ${p}wt JOIN ${p}dh USING (w)),
       |${p}sj AS (
       |  SELECT j, $cmsSaltedSql AS x
       |  FROM ${p}occ, (SELECT unnest(range($CmDepth)) AS j) js),
       |${p}sh AS MATERIALIZED (
       |  SELECT j, ${SplitMix64.mixSql("x")} AS h FROM ${p}sj)""".stripMargin

  /** Row j's salted token hash: th folded with the CMS salt CmSalt + j. */
  private def cmsSaltedSql: String =
    SplitMix64.saltedRowSql("th", SplitMix64.saltTableSql("j", CmSalt, CmDepth))

  /** Gated per-width CMS probe-estimate legs for the q202 auto-sized
    * eval oracle: the bucket census and the probe rows for a width
    * exist ONLY when the q198 selection scalar picks it (the q195/
    * q201 gating pattern), so the oracle pays one census — like the
    * engine pays one sketch. Probe bucket constants come from the
    * SAME Scala kernel as the engine's CountMinAgg (the oracle188
    * convention). Returns (ctes, rows-union) over `<p>sh`. */
  private[operators] def cmsGatedEvalSql(grid: Seq[Long], gate: String,
      p: String): (String, String) = {
    import graft.functions.SplitMix64Kernel
    val ctes = grid.zipWithIndex.map { case (w, i) =>
      s"""${p}g${i}c AS (
         |  SELECT j, h % $w AS bkt, count(*) AS cnt FROM ${p}sh
         |  WHERE $gate = $w GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val rows = grid.zipWithIndex.flatMap { case (w, i) =>
      CmProbes.map { t =>
        val th = SplitMix64Kernel.strHash(
          org.apache.spark.unsafe.types.UTF8String.fromString(t))
        val pbVals = (0 until CmDepth).map { j =>
          val bkt = (SplitMix64Kernel.mix(
            th + (CmSalt + j) * SplitMix64Kernel.Golden) & (w - 1)).toInt
          s"($j, $bkt)"
        }.mkString(", ")
        s"""SELECT 'cms_width' AS sketch, CAST($w AS BIGINT) AS selected,
           |  'est_$t' AS item,
           |  (SELECT CAST(min(coalesce(cnt, 0)) AS BIGINT)
           |   FROM (VALUES $pbVals) pb(j, bkt)
           |   LEFT JOIN ${p}g${i}c c ON c.j = pb.j AND c.bkt = pb.bkt)
           |    AS value
           |FROM (SELECT 1) one WHERE $gate = $w""".stripMargin
      }
    }.mkString("\nUNION ALL\n")
    (ctes, rows)
  }

  /** q188: the oracle95 token-hash chain (global, no lang key), the
    * width-independent salted hashes MATERIALIZED once, then per width
    * only the bucket census re-keys (h % w) — probe bucket constants
    * embedded from the SAME Scala kernel per width, exact counts from
    * the literal-filtered token stream. */
  private def oracle188: String = {
    import graft.functions.SplitMix64Kernel
    val probeList = CmProbes.map(t => s"'$t'").mkString(", ")
    val widthCtes = CmWidthGrid.zipWithIndex.map { case (w, gi) =>
      s"""g${gi}c AS MATERIALIZED (
         |  SELECT j, h % $w AS bkt, count(*) AS cnt FROM sh GROUP BY 1, 2)"""
        .stripMargin
    }
    val rows = CmWidthGrid.zipWithIndex.flatMap { case (w, gi) =>
      CmProbes.map { t =>
        val th = SplitMix64Kernel.strHash(
          org.apache.spark.unsafe.types.UTF8String.fromString(t))
        val pbVals = (0 until CmDepth).map { j =>
          val bkt = (SplitMix64Kernel.mix(
            th + (CmSalt + j) * SplitMix64Kernel.Golden) & (w - 1)).toInt
          s"($j, $bkt)"
        }.mkString(", ")
        s"""SELECT width, counters, token, n_tokens, exact, est,
           |  est - exact AS overestimate FROM (
           |  SELECT CAST($w AS BIGINT) AS width,
           |    CAST(${CmDepth * w} AS BIGINT) AS counters,
           |    '$t' AS token,
           |    (SELECT n_tokens FROM n) AS n_tokens,
           |    coalesce((SELECT exact FROM ex WHERE token = '$t'),
           |      CAST(0 AS BIGINT)) AS exact,
           |    (SELECT CAST(min(coalesce(cnt, 0)) AS BIGINT)
           |     FROM (VALUES $pbVals) pb(j, bkt)
           |     LEFT JOIN g${gi}c c ON c.j = pb.j AND c.bkt = pb.bkt)
           |      AS est) r""".stripMargin
      }
    }
    s"""WITH ${cmsHashCtes("")},
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM occ),
       |ex AS MATERIALIZED (
       |  SELECT w AS token, CAST(count(*) AS BIGINT) AS exact FROM wt
       |  WHERE w IN ($probeList) GROUP BY w),
       |${widthCtes.mkString(",\n")}
       |${rows.mkString("\nUNION ALL\n")}""".stripMargin
  }

  private def oracle95: String = {
    import graft.functions.SplitMix64Kernel
    // probe (token, row, bucket) constants from the SAME Scala kernel
    val probeStructs = CmProbes.zipWithIndex.flatMap { case (t, pi) =>
      val th = SplitMix64Kernel.strHash(
        org.apache.spark.unsafe.types.UTF8String.fromString(t))
      (0 until CmDepth).map { j =>
        val bkt = (SplitMix64Kernel.mix(th + (CmSalt + j) * SplitMix64Kernel.Golden)
          & (CmWidth - 1)).toInt
        s"struct_pack(pi := $pi, j := $j, bkt := $bkt)"
      }
    }.mkString(",\n    ")
    val chkCols = (0 until CmDepth)
      .map(j => s"CAST(max(CASE WHEN j = $j THEN chk END) AS BIGINT) AS chk$j")
      .mkString(",\n  ")
    val estCols = CmProbes.zipWithIndex
      .map { case (t, pi) =>
        s"CAST(max(CASE WHEN pi = $pi THEN est END) AS BIGINT) AS est_$t"
      }
      .mkString(",\n  ")
    s"""WITH tok AS (
       |  SELECT lang, string_split_regex(text, '\\s+') AS t FROM documents),
       |pos AS (
       |  SELECT lang, t, unnest(generate_series(1, len(t))) AS i FROM tok),
       |wt AS (SELECT lang, t[i] AS w FROM pos),
       |dt AS (SELECT DISTINCT w FROM wt),
       |dp AS (SELECT w, ${SplitMix64.polyHashSql("w")} AS p FROM dt),
       |dh AS (SELECT w, ${SplitMix64.mixSql("p")} AS th FROM dp),
       |occ AS (SELECT wt.lang, dh.th FROM wt JOIN dh USING (w)),
       |sj AS (
       |  SELECT lang, j, $cmsSaltedSql AS x
       |  FROM occ, (SELECT unnest(range($CmDepth)) AS j) js),
       |sh AS (SELECT lang, j, ${SplitMix64.mixSql("x")} AS h FROM sj),
       |c AS (
       |  SELECT lang, j, h % $CmWidth AS bkt, count(*) AS cnt
       |  FROM sh GROUP BY 1, 2, 3),
       |n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens FROM occ GROUP BY lang),
       |chk AS (
       |  SELECT lang, j, sum((bkt + 1) * cnt) AS chk FROM c GROUP BY 1, 2),
       |chkp AS (SELECT lang, $chkCols FROM chk GROUP BY lang),
       |pb AS (SELECT u.pi AS pi, u.j AS j, u.bkt AS bkt
       |       FROM UNNEST([$probeStructs]) AS t(u)),
       |pe AS (
       |  SELECT l.lang, g.pi, min(coalesce(c.cnt, 0)) AS est
       |  FROM (SELECT DISTINCT lang FROM documents) l
       |  CROSS JOIN pb g
       |  LEFT JOIN c ON c.lang = l.lang AND c.j = g.j AND c.bkt = g.bkt
       |  GROUP BY 1, 2),
       |pep AS (SELECT lang, $estCols FROM pe GROUP BY lang)
       |SELECT l.lang, coalesce(n.n_tokens, 0) AS n_tokens,
       |  ${(0 until CmDepth).map(j => s"coalesce(chk$j, 0) AS chk$j").mkString(", ")},
       |  pep.* EXCLUDE (lang)
       |FROM (SELECT DISTINCT lang FROM documents) l
       |LEFT JOIN n USING (lang)
       |LEFT JOIN chkp USING (lang)
       |JOIN pep USING (lang)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q95_countmin_tokens" -> oracle95,
    "q188_cms_width_frontier" -> oracle188,
    "q191_hist_width_frontier" -> oracle191,

    "q54_percentiles" ->
      """SELECT o_orderstatus,
        |  round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
        |  round(quantile_cont(o_totalprice, 0.9), 6) AS p90,
        |  round(quantile_cont(o_totalprice, 0.99), 6) AS p99
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "q55b_owned_sketches" -> oracle55b,
  )
}
