package graft.operators

import graft.Cut._
import graft.Tables
import graft.functions.Text
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BPE tokenizer training as iterative groupBys (Sennrich, Haddow &
  * Birch 2016, "Neural Machine Translation of Rare Words with Subword
  * Units") — the distributed tokenizer-training step of a
  * training-data pipeline (the reference's analysis layer,
  * /root/reference/src/cosmap/analysis/runner.py, has per-sample
  * scoring only; this extends the engine per the brief's
  * training-data mandate, like the Dedup/Curation/TextModels
  * families).
  *
  *  - q114: the first [[Merges]] merge rules learned from the corpus's
  *    lowercase-alnum word shapes — each round counts adjacent symbol
  *    pairs weighted by word frequency (the classic overlapping
  *    adjacent count), picks the most frequent pair (ties broken by
  *    pair string ascending), and applies the merge to every word.
  *
  * Merge semantics are CANONICAL left-to-right non-overlapping (the
  * reference BPE behavior: a run `b b b b` merges to `bb bb`, never
  * `bb b b`): matches are selected greedily from the left, which is
  * exactly "every odd-ranked match inside each consecutive run of
  * match positions" — a gaps-and-islands window (the q97 RepeatedSpans
  * pattern reapplied), NOT a delimiter-consuming string replace (which
  * mis-merges even-length runs and which RE2-based engines cannot fix
  * with lookarounds).
  *
  * Cross-engine exactness (house rules): every count is an integer
  * groupBy; the argmax orders by (count DESC, pair ASC) — binary
  * string comparison agrees cross-engine on the `[a-z0-9 ]` pair
  * alphabet; the merge itself is pure integer/window relational
  * algebra replayed verbatim by the generated oracle.
  *
  * Scale shape (the 100 TB posture): everything after the one corpus
  * token explode runs at VOCABULARY scale (distinct word shapes), not
  * corpus scale. Per round: one pair-keyed groupBy (map-side partial
  * counts), a 1-row argmax broadcast, and one w-keyed shuffle whose
  * single exchange feeds all three windows AND the rebuild groupBy
  * ({w} ⊆ {w, island} / {w, c} — the q107 clustered-distribution
  * argument). The iterate is cut every round (house
  * rule: lineage cut). Driver state: one 1-row argmax per round, K
  * fixed.
  */
object BpeTrainer {
  type Q = (SparkSession, String) => DataFrame

  /** Shared engine/oracle constant: merge rounds learned. */
  private[graft] val Merges = 3

  val queries: Map[String, Q] = Map(
    // -- the first 3 BPE merge rules (step, pair, merged, cnt) from
    //    the corpus's lowercase-alnum word-frequency table. --
    "q114_bpe_merges" -> { (s, dir) =>
      bpeMerges(Tables.load(s, dir, "documents"))
    },

    // -- the ENCODE step: apply the learned merges corpus-wide and
    //    report per-source segmentation stats — the token-budget
    //    accounting a pretraining mix is planned against (symbols per
    //    word / compression vs raw characters, integer ppm). --
    "q115_bpe_segment" -> { (s, dir) =>
      segmentStats(Tables.load(s, dir, "documents"))
    },

    // -- q185 (round 12): the tokenizer MERGE-COUNT frontier — per
    //    k ∈ {0..3} merges (one training run prices every point:
    //    BPE vocabularies nest), corpus-wide symbol totals and the
    //    compression each successive merge buys. One corpus-scale
    //    occurrence join feeds every row. --
    "q185_bpe_frontier" -> { (s, dir) =>
      bpeFrontier(Tables.load(s, dir, "documents"))
    },
  )

  /** Adjacent-pair counts (overlapping, word-frequency-weighted) over
    * a (w, c, sym) frame. */
  private[graft] def pairCounts(seqs: DataFrame): DataFrame =
    seqs.select(col("c"), explode(expr(
      """CASE WHEN size(sym) >= 2
        |  THEN transform(sequence(1, size(sym) - 1),
        |    i -> concat(element_at(sym, i), ' ', element_at(sym, i + 1)))
        |  ELSE slice(sym, 1, 0) END""".stripMargin)).as("pair"))
      .groupBy(col("pair")).agg(sum(col("c")).as("cnt"))

  /** One canonical merge round: rewrite every word's symbol array with
    * the best pair merged left-to-right non-overlapping. `best` is the
    * 1-row (pair, merged) frame. */
  private[graft] def mergeRound(seqs: DataFrame, best: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("w")).orderBy(col("pos"))
    seqs.crossJoin(broadcast(best.select(col("pair"), col("merged"))))
      .select(col("w"), col("c"), col("sym"), col("pair"), col("merged"),
        posexplode(col("sym")).as(Seq("pos", "s")))
      // the pair starting at this 0-based position (null at the tail —
      // the CASE guards the ANSI out-of-bounds element_at)
      .withColumn("np", expr(
        """CASE WHEN pos + 2 <= size(sym)
          |  THEN concat(s, ' ', element_at(sym, pos + 2)) END""".stripMargin))
      .withColumn("mt", coalesce(col("np") === col("pair"), lit(false)))
      // gaps-and-islands over match positions: rank-within-run odd ⇒
      // the match is TAKEN (greedy left-to-right non-overlap — q97's
      // island trick on a new problem)
      .withColumn("cum", sum(when(col("mt"), 1L).otherwise(0L)).over(wOrd))
      .withColumn("island", when(col("mt"), col("pos") - col("cum")))
      .withColumn("taken", when(col("mt"),
        (row_number().over(Window.partitionBy(col("w"), col("island"))
          .orderBy(col("pos"))) % 2) === 1).otherwise(lit(false)))
      .withColumn("consumed", lag(col("taken"), 1, false).over(wOrd))
      .withColumn("e", when(col("taken"), col("merged"))
        .when(col("consumed"), lit(null).cast("string"))
        .otherwise(col("s")))
      .groupBy(col("w"), col("c"))
      .agg(expr(
        """filter(transform(array_sort(collect_list(struct(pos, e))),
          |  x -> x.e), x -> x IS NOT NULL)""".stripMargin).as("sym"))
  }

  /** Shared train loop returning the whole TRAJECTORY: the k per-round
    * 1-row merge frames plus every round's (w, c, sym) segmentation —
    * index 0 is the raw character split, index r the state after
    * merge r. BPE merges are sequential, so the vocabulary at k merges
    * is a PREFIX of the vocabulary at k+1 — one training run yields
    * every frontier point (the q185 design). */
  private[graft] def trainTrajectory(d: DataFrame,
      k: Int = Merges): (Seq[DataFrame], Seq[DataFrame]) = {
    val words = d.select(explode(Text.tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    var seqs = words.select(col("w"), col("c"),
      expr("filter(split(w, ''), x -> x <> '')").as("sym"))
      .cut("BpeTrainer.trainTrajectory: symbol sequences")
    val trajectory = Seq.newBuilder[DataFrame]
    trajectory += seqs
    val steps = (1 to k).map { r =>
      // 1-row argmax, eagerly frozen (the round's merge decision)
      val best = pairCounts(seqs)
        .orderBy(col("cnt").desc, col("pair").asc).limit(1)
        .select(lit(r.toLong).as("step"), col("pair"),
          expr("replace(pair, ' ', '')").as("merged"), col("cnt"))
        .cut("BpeTrainer.trainTrajectory: best pair")
      // cut each round: lineage truncation (the CC house rule)
      seqs = mergeRound(seqs, best).cut("BpeTrainer.trainTrajectory: merged sequences")
      trajectory += seqs
      best
    }
    (steps, trajectory.result())
  }

  /** The k per-round 1-row merge frames plus the FINAL (w, c, sym)
    * segmentation of the vocabulary. */
  private[graft] def train(d: DataFrame,
      k: Int = Merges): (Seq[DataFrame], DataFrame) = {
    val (steps, trajectory) = trainTrajectory(d, k)
    (steps, trajectory.last)
  }

  /** The first k merge rules over any documents-shaped frame (needs
    * `text`): (step, pair, merged, cnt). */
  private[graft] def bpeMerges(d: DataFrame, k: Int = Merges): DataFrame = {
    val (steps, _) = train(d, k)
    steps.reduce(_ unionByName _).orderBy(col("step"))
      .select(col("step"), col("pair"), col("merged"), col("cnt"))
  }

  /** Per-source segmentation stats after the [[Merges]] learned merges: word/
    * symbol/char totals and symbols-per-char in integer ppm. The
    * corpus-scale occurrence stream joins the VOCABULARY-sized
    * segmentation on the token key — the standard inverted-index
    * family shape (vocab side hinted off broadcast: it grows with the
    * corpus). */
  private[graft] def segmentStats(d: DataFrame): DataFrame = {
    val (_, seqs) = train(d)
    val occ = d.select(col("source"),
        explode(Text.tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$"))
    occ.join(seqs.select(col("w"), size(col("sym")).cast("long").as("nseg"),
        length(col("w")).cast("long").as("nchar")).hint("shuffle_merge"), "w")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"), sum(col("nseg")).as("n_symbols"),
        sum(col("nchar")).as("n_chars"))
      .selectExpr("source", "n_words", "n_symbols", "n_chars",
        "(1000000L * n_symbols) div n_chars AS compression_ppm")
      .orderBy(col("source"))
  }

  /** q185: the MERGE-COUNT frontier — the tokenizer-budget decision
    * table. A BPE deployment chooses how many merges to train; because
    * merges are sequential, the k-merge vocabulary is a prefix of the
    * (k+1)-merge one, so ONE training run prices every point: per
    * k ∈ {0..Merges}, the corpus-wide word/symbol/char totals and the
    * compression (symbols per char, integer ppm) the k-th merge buys.
    * k = 0 is the raw character split (compression 10⁶ by definition);
    * n_symbols is strictly non-increasing in k. Scale shape: the
    * occurrence stream joins the per-word trajectory ONCE — the
    * per-round segment sizes are folded into one vocabulary-keyed
    * frame (k+1 w-keyed merge joins at VOCABULARY scale), then a
    * single corpus-scale join + one conditional aggregate feed every
    * frontier row (never one corpus pass per k). */
  private[graft] def bpeFrontier(d: DataFrame): DataFrame = {
    val (_, trajectory) = trainTrajectory(d)
    // (w, nchar, nseg0..nsegk): the trajectory folded to one
    // vocabulary-sized frame
    val vocab = trajectory.zipWithIndex.map { case (s, i) =>
      s.select(col("w"), size(col("sym")).cast("long").as(s"nseg$i"))
    }.reduce(_.join(_, "w"))
      .withColumn("nchar", length(col("w")).cast("long"))
    val occ = d.select(explode(Text.tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$"))
    val aggs = count(lit(1)).as("n_words") +: sum(col("nchar")).as("n_chars") +:
      (0 to Merges).map(i => sum(col(s"nseg$i")).as(s"sym$i"))
    val one = occ.join(vocab.hint("shuffle_merge"), "w")
      .agg(aggs.head, aggs.tail: _*).cut("BpeTrainer.bpeFrontier: segment counts")
    (0 to Merges).map { i =>
      one.select(lit(i.toLong).as("merges"), col("n_words"),
        col(s"sym$i").as("n_symbols"), col("n_chars"),
        expr(s"(1000000L * sym$i) div n_chars").as("compression_ppm"))
    }.reduce(_.unionByName(_))
  }

  // ---- code-generated DuckDB oracle (same constants, unrolled) -----

  /** The WITH-chain (words → seq0 → k unrolled train rounds) shared
    * by the q114 and q115 oracles. */
  private def chainSql: String = {
    val rounds = (1 to Merges).map { r =>
      s"""p$r AS (
         |  SELECT pair, sum(c) AS cnt FROM (
         |    SELECT sym[i] || ' ' || sym[i+1] AS pair, c
         |    FROM (SELECT sym, c,
         |            unnest(generate_series(1, greatest(len(sym) - 1, 0))) AS i
         |          FROM seq${r - 1}))
         |  GROUP BY pair),
         |m$r AS (
         |  SELECT $r AS step, pair, replace(pair, ' ', '') AS merged, cnt
         |  FROM p$r ORDER BY cnt DESC, pair LIMIT 1),
         |fl$r AS (
         |  SELECT w, c, i - 1 AS pos, sym[i] AS s, merged,
         |    coalesce(CASE WHEN i + 1 <= len(sym)
         |      THEN sym[i] || ' ' || sym[i+1] END = pair, FALSE) AS mt
         |  FROM (SELECT w, c, sym, unnest(generate_series(1, len(sym))) AS i
         |        FROM seq${r - 1}), m$r),
         |isl$r AS (
         |  SELECT w, c, pos, s, mt, merged,
         |    CASE WHEN mt THEN pos - sum(CASE WHEN mt THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY w ORDER BY pos) END AS island
         |  FROM fl$r),
         |tk$r AS (
         |  SELECT w, c, pos, s, mt, merged,
         |    CASE WHEN mt THEN row_number()
         |      OVER (PARTITION BY w, island ORDER BY pos) % 2 = 1
         |      ELSE FALSE END AS taken
         |  FROM isl$r),
         |em$r AS (
         |  SELECT w, c, pos,
         |    CASE WHEN taken THEN merged
         |         WHEN lag(taken, 1, FALSE) OVER (PARTITION BY w ORDER BY pos)
         |           THEN NULL
         |         ELSE s END AS e
         |  FROM tk$r),
         |seq$r AS (
         |  SELECT w, c, array_agg(e ORDER BY pos) FILTER (WHERE e IS NOT NULL) AS sym
         |  FROM em$r GROUP BY w, c)""".stripMargin
    }.mkString(",\n")
    s"""WITH words AS (
       |  SELECT w, count(*) AS c FROM (
       |    SELECT unnest(string_split_regex(text, '\\s+')) AS w FROM documents)
       |  WHERE regexp_matches(w, '^[a-z0-9]+$$')
       |  GROUP BY w),
       |seq0 AS (
       |  SELECT w, c,
       |    list_transform(generate_series(1, len(w)), i -> w[i]) AS sym
       |  FROM words),
       |$rounds""".stripMargin
  }

  private def oracle114: String = {
    val union = (1 to Merges).map(r => s"SELECT * FROM m$r")
      .mkString(" UNION ALL ")
    s"""$chainSql
       |SELECT CAST(step AS BIGINT) AS step, pair, merged,
       |  CAST(cnt AS BIGINT) AS cnt
       |FROM ($union)
       |ORDER BY step""".stripMargin
  }

  private def oracle115: String =
    s"""$chainSql,
       |occ AS (
       |  SELECT source, w FROM (
       |    SELECT source, unnest(string_split_regex(text, '\\s+')) AS w
       |    FROM documents)
       |  WHERE regexp_matches(w, '^[a-z0-9]+$$'))
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(len(sym)) AS BIGINT) AS n_symbols,
       |  CAST(sum(len(w)) AS BIGINT) AS n_chars,
       |  CAST((1000000 * sum(len(sym))) // sum(len(w)) AS BIGINT)
       |    AS compression_ppm
       |FROM occ JOIN seq$Merges USING (w)
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** q185: the shared unrolled chain already derives EVERY prefix
    * segmentation (seq0..seqK) — fold them to one vocabulary frame,
    * one occurrence join, per-k rows from the single 1-row aggregate
    * (the engine's shape replayed). */
  private def oracle185: String = {
    val joins = (1 to Merges).map(r => s"JOIN seq$r USING (w)").mkString(" ")
    val segCols = (0 to Merges)
      .map(i => s"len(seq$i.sym) AS nseg$i").mkString(", ")
    val sums = (0 to Merges).map(i => s"sum(nseg$i) AS sym$i").mkString(", ")
    val rows = (0 to Merges).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS merges,
         |  CAST(n_words AS BIGINT) AS n_words,
         |  CAST(sym$i AS BIGINT) AS n_symbols,
         |  CAST(n_chars AS BIGINT) AS n_chars,
         |  CAST((1000000 * sym$i) // n_chars AS BIGINT) AS compression_ppm
         |FROM agg""".stripMargin
    }
    s"""$chainSql,
       |vocab AS (
       |  SELECT seq0.w, len(seq0.w) AS nchar, $segCols
       |  FROM seq0 $joins),
       |occ AS (
       |  SELECT w FROM (
       |    SELECT unnest(string_split_regex(text, '\\s+')) AS w
       |    FROM documents)
       |  WHERE regexp_matches(w, '^[a-z0-9]+$$')),
       |agg AS (
       |  SELECT count(*) AS n_words, sum(nchar) AS n_chars, $sums
       |  FROM occ JOIN vocab USING (w))
       |${rows.mkString("\nUNION ALL\n")}""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q114_bpe_merges" -> oracle114,
    "q115_bpe_segment" -> oracle115,
    "q185_bpe_frontier" -> oracle185,
  )
}
