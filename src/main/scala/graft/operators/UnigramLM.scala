package graft.operators

import graft.Cut._
import graft.Tables
import graft.functions.{Text, UnigramViterbi}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q155 — unigram-LM tokenizer training (Kudo 2018, "Subword
  * Regularization"; the SentencePiece unigram model) — the EM sibling
  * of q114's BPE, the second of the two tokenizer-training families a
  * pretraining pipeline actually ships. Hard-EM (Viterbi) variant:
  *
  *  - seed: every substring of length ≤ [[MaxPiece]] of the corpus's
  *    lowercase-alnum word shapes (length ≤ [[MaxWordLen]]), counted
  *    per occurrence position, word-frequency-weighted;
  *  - E-step: per WORD, the min-cost segmentation over the candidate-
  *    piece lattice — a bounded-width DP (≤ MaxWordLen positions ×
  *    MaxPiece widths) run by the codegen'd
  *    [[graft.functions.UnigramViterbi]] kernel (the CLAUDE.md
  *    per-row-loop rule), tie-broken (cost, then piece length) so the
  *    path is unique and engine ≡ oracle;
  *  - M-step: piece counts over the chosen segmentations (+1
  *    smoothing on single chars — the coverage guarantee every
  *    unigram tokenizer keeps: a char piece can never prune away, so
  *    every word stays segmentable), renormalized to integer
  *    MICRO-NAT costs: cost = round(−ln(cnt/total)·10⁶) — the q110/
  *    q111 quantized-transcendental contract (the division is one
  *    exact IEEE op on bit-identical integers; the single ln is
  *    absorbed by the micro quantization);
  *  - [[Rounds]] fixed EM rounds, per-round cut (the CC
  *    house rule); pieces chosen by no word and not single chars
  *    drop out naturally (count 0 ⇒ no row) — the per-round prune.
  *
  * Scale shape (the 100 TB posture): everything after the one corpus
  * token explode runs at VOCABULARY scale (distinct word shapes ≤ 16
  * chars), exactly like q114. Per round: one piece-keyed equi-join
  * (lattice = substring occurrences × vocab — BOTH sides vocabulary-
  * scale and corpus-growing, hinted off broadcast), one w-keyed
  * groupBy collecting each word's ≤ 16·4-edge lattice for the DP
  * kernel, one piece-keyed count groupBy (map-side combined), and a
  * 1-row total that only ever broadcasts. Driver state: nothing but
  * the loop counter; K is a constant.
  *
  * The reference's analysis layer (runner.py) has per-sample scoring
  * only; this extends the engine per the brief's training-data
  * mandate, like BpeTrainer/Dedup/Curation.
  */
object UnigramLM {
  type Q = (SparkSession, String) => DataFrame

  /** Shared engine/oracle constants. Words longer than MaxWordLen are
    * excluded from training (the standard tokenizer-trainer guard —
    * SentencePiece's max_sentencepiece_length analog bounds the DP
    * width; at 100 TB junk mega-tokens would otherwise unbound it). */
  private[graft] val MaxWordLen = 16
  private[graft] val MaxPiece = 4
  private[graft] val Rounds = 3

  /** Eligible (w, c) word-frequency table. */
  private def words(d: DataFrame): DataFrame =
    d.select(explode(Text.tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$") &&
        length(col("w")) <= MaxWordLen)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))

  /** All substring occurrences (w, c, i, k, p): start i, length k ≤
    * MaxPiece, piece p — the lattice skeleton, built once and reused
    * by the seed count and every round's cost join. */
  private def subOcc(wt: DataFrame): DataFrame =
    wt.select(col("w"), col("c"),
        explode(expr("sequence(1, length(w))")).as("i"))
      .select(col("w"), col("c"), col("i"),
        explode(expr(s"sequence(1, least($MaxPiece, length(w) - i + 1))"))
          .as("k"))
      .select(col("w"), col("c"), col("i"), col("k"),
        expr("substring(w, i, k)").as("p"))

  /** (piece, cnt) → (piece, cnt, cost): integer micro-nat
    * renormalization; the 1-row total broadcasts. */
  private def vocabFrom(cnts: DataFrame): DataFrame =
    cnts.crossJoin(broadcast(cnts.agg(sum(col("cnt")).as("t"))))
      .select(col("piece"), col("cnt"),
        round(-log(col("cnt").cast("double") / col("t").cast("double"))
          * 1e6).cast("long").as("cost"))

  /** One E-step: each word's Viterbi pieces under `voc`, exploded to
    * (w, c, piece) rows. Exposed for the spec's toy-corpus proof. */
  private[graft] def segmentWith(sp: DataFrame, voc: DataFrame): DataFrame = {
    val lat = sp.join(
        voc.select(col("piece").as("p"), col("cost")).hint("shuffle_merge"),
        "p")
      .select(col("w"), col("c"),
        (col("i") + col("k") - 1).as("e"), col("k"), col("cost"))
    lat.groupBy(col("w"), col("c"))
      .agg(collect_list(struct(col("e"), col("k"), col("cost"))).as("edges"))
      .select(col("w"), col("c"),
        explode(UnigramViterbi.viterbiPieces(col("w"), col("edges"), MaxPiece))
          .as("piece"))
  }

  /** The full train loop; returns the final (piece, cnt, cost) vocab
    * plus the (sp, final voc) pair for the spec's segmentation
    * checks. */
  private[graft] def train(d: DataFrame,
      rounds: Int = Rounds): (DataFrame, DataFrame) = {
    val wt = words(d).cut("UnigramLM.train: words")
    val sp = subOcc(wt).cut("UnigramLM.train: substring occurrences")
    val chars = wt
      .select(explode(expr("filter(split(w, ''), x -> x <> '')")).as("piece"))
      .distinct().cut("UnigramLM.train: characters")
    var voc = vocabFrom(
      sp.groupBy(col("p").as("piece")).agg(sum(col("c")).as("cnt")))
      .cut("UnigramLM.train: initial vocabulary")
    (1 to rounds).foreach { _ =>
      val pcnt = segmentWith(sp, voc)
        .groupBy(col("piece")).agg(sum(col("c")).as("cnt"))
      val cnts = pcnt
        .unionByName(chars.select(col("piece"), lit(1L).as("cnt")))
        .groupBy(col("piece")).agg(sum(col("cnt")).as("cnt"))
      voc = vocabFrom(cnts).cut("UnigramLM.train: vocabulary")
    }
    (sp, voc)
  }

  val queries: Map[String, Q] = Map(
    // -- the trained unigram-LM piece table after K hard-EM rounds:
    //    (piece, count-under-final-segmentation + char smoothing,
    //    integer micro-nat cost). --
    "q155_unigram_lm" -> { (s, dir) =>
      val (_, voc) = train(Tables.load(s, dir, "documents"))
      voc.select(col("piece"), col("cnt"), col("cost").as("cost_unats"))
    },

    // -- the ENCODE step (the q115 sibling for the unigram family):
    //    segment the corpus with the TRAINED vocab and report
    //    per-source piece budgets — the token accounting a
    //    pretraining mix is planned against. One extra E-step over
    //    the final vocab; the corpus-scale occurrence stream joins
    //    the VOCABULARY-sized per-word segmentation on the token key
    //    (inverted-index family shape; vocab side hinted off
    //    broadcast — it grows with the corpus). --
    "q157_unigram_segment" -> { (s, dir) =>
      segmentStats(Tables.load(s, dir, "documents"))
    },
  )

  /** q157 over any documents-shaped frame: per-source
    * (n_words, n_pieces, n_chars, compression_ppm) under the trained
    * unigram model's Viterbi segmentation. Only eligible occurrences
    * (the training filter) are counted — the same contract as q115's
    * alnum filter. */
  private[graft] def segmentStats(d: DataFrame): DataFrame = {
    val (sp, voc) = train(d)
    val perWord = segmentWith(sp, voc)
      .groupBy(col("w")).agg(count(lit(1)).as("nseg"))
    val occ = d.select(col("source"),
        explode(Text.tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$") &&
        length(col("w")) <= MaxWordLen)
    occ.join(perWord.hint("shuffle_merge"), "w")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"), sum(col("nseg")).as("n_pieces"),
        sum(length(col("w")).cast("long")).as("n_chars"))
      .selectExpr("source", "n_words", "n_pieces", "n_chars",
        "(1000000L * n_pieces) div n_chars AS compression_ppm")
      .orderBy(col("source"))
  }

  // ---- code-generated DuckDB oracle (same constants, DP unrolled) --

  /** One DP level: best (cost, k) at end position `i` of round `r`,
    * from the ≤ MaxPiece previous levels — the relational form of the
    * kernel's loop, tie-broken by row_number over (cost, k) exactly
    * as the kernel's ascending-k first-achiever rule. MATERIALIZED:
    * each level feeds up to MaxPiece later levels plus the backtrace
    * union. */
  private def lvlCte(r: Int, i: Int): String = {
    val branches = (1 to math.min(MaxPiece, i)).map { k =>
      s"""SELECT l.w, p.cost + l.cost AS tc, l.k
         |      FROM lat_$r l JOIN lvl_${r}_${i - k} p USING (w)
         |      WHERE l.e = $i AND l.k = $k""".stripMargin
    }.mkString("\n      UNION ALL ")
    s"""lvl_${r}_$i AS MATERIALIZED (
       |  SELECT w, tc AS cost, k FROM (
       |    SELECT w, tc, k,
       |      row_number() OVER (PARTITION BY w ORDER BY tc, k) AS rn
       |    FROM ($branches)
       |  ) WHERE rn = 1)""".stripMargin
  }

  /** The E-step of round `r` as CTEs: lattice join against
    * voc_{r−1}, unrolled DP levels, level union, unrolled backtrace,
    * piece extraction → pc_r(w, piece). Shared by the training
    * rounds and q157's final encode pass. */
  private def segCtes(r: Int): String = {
    val lvls = (1 to MaxWordLen).map(i => lvlCte(r, i)).mkString(",\n")
    val lvUnion = (1 to MaxWordLen)
      .map(i => s"SELECT $i AS i, w, cost, k FROM lvl_${r}_$i")
      .mkString(" UNION ALL ")
    val btSteps = (1 to MaxWordLen - 1).map { j =>
      s"""bt_${r}_$j AS (
         |  SELECT b.w, b.pos - lv.k AS pos
         |  FROM bt_${r}_${j - 1} b
         |  JOIN lv_$r lv ON lv.w = b.w AND lv.i = b.pos
         |  WHERE b.pos - lv.k > 0)""".stripMargin
    }.mkString(",\n")
    val btUnion = (0 until MaxWordLen)
      .map(j => s"SELECT w, pos FROM bt_${r}_$j").mkString(" UNION ALL ")
    s"""lat_$r AS MATERIALIZED (
       |  SELECT s.w, s.i + s.k - 1 AS e, s.k, v.cost
       |  FROM sp s JOIN voc_${r - 1} v ON s.p = v.piece),
       |lvl_${r}_0 AS (SELECT w, CAST(0 AS BIGINT) AS cost, 0 AS k FROM words),
       |$lvls,
       |lv_$r AS MATERIALIZED ($lvUnion),
       |bt_${r}_0 AS (SELECT w, len(w) AS pos FROM words),
       |$btSteps,
       |pc_$r AS MATERIALIZED (
       |  SELECT v.w, substr(v.w, v.pos - lv.k + 1, lv.k) AS piece
       |  FROM ($btUnion) v
       |  JOIN lv_$r lv ON lv.w = v.w AND lv.i = v.pos)""".stripMargin
  }

  /** One EM round: the E-step plus counts + smoothing + the
    * renormalized vocab. */
  private def roundCtes(r: Int): String = {
    s"""${segCtes(r)},
       |pn_$r AS (
       |  SELECT piece, sum(c) AS n
       |  FROM pc_$r JOIN words USING (w) GROUP BY piece),
       |cn_$r AS (
       |  SELECT piece, sum(n) AS cnt FROM (
       |    SELECT piece, n FROM pn_$r
       |    UNION ALL SELECT piece, 1 AS n FROM chars)
       |  GROUP BY piece),
       |tt_$r AS (SELECT sum(cnt) AS t FROM cn_$r),
       |voc_$r AS MATERIALIZED (
       |  SELECT piece, cnt,
       |    CAST(round(-ln(CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE))
       |      * 1000000.0) AS BIGINT) AS cost
       |  FROM cn_$r, tt_$r)""".stripMargin
  }

  /** Seed preamble (words → substring occurrences → seed vocab) +
    * the K unrolled training rounds — shared by both oracles. */
  private def trainChainCtes: String = {
    val rounds = (1 to Rounds).map(roundCtes).mkString(",\n")
    s"""words AS MATERIALIZED (
       |  SELECT w, count(*) AS c FROM (
       |    SELECT unnest(string_split_regex(text, '\\s+')) AS w FROM documents)
       |  WHERE regexp_matches(w, '^[a-z0-9]+$$') AND len(w) <= $MaxWordLen
       |  GROUP BY w),
       |s0 AS (
       |  SELECT w, c, unnest(generate_series(1, len(w))) AS i FROM words),
       |sp AS MATERIALIZED (
       |  SELECT w, c, i, k, substr(w, i, k) AS p FROM (
       |    SELECT w, c, i,
       |      unnest(generate_series(1, least($MaxPiece, len(w) - i + 1))) AS k
       |    FROM s0)),
       |chars AS MATERIALIZED (SELECT DISTINCT substr(w, i, 1) AS piece FROM s0),
       |cn_0 AS (SELECT p AS piece, sum(c) AS cnt FROM sp GROUP BY p),
       |tt_0 AS (SELECT sum(cnt) AS t FROM cn_0),
       |voc_0 AS MATERIALIZED (
       |  SELECT piece, cnt,
       |    CAST(round(-ln(CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE))
       |      * 1000000.0) AS BIGINT) AS cost
       |  FROM cn_0, tt_0),
       |$rounds""".stripMargin
  }

  private def oracle155: String =
    s"""WITH $trainChainCtes
       |SELECT piece, CAST(cnt AS BIGINT) AS cnt, cost AS cost_unats
       |FROM voc_$Rounds""".stripMargin

  /** q157: the q155 chain + ONE more E-step over the final vocab
    * (round Rounds+1's segmentation fragment, no count/renorm), then
    * the per-source occurrence join. */
  private def oracle157: String = {
    val enc = Rounds + 1
    s"""WITH $trainChainCtes,
       |${segCtes(enc)},
       |pw AS (SELECT w, count(*) AS nseg FROM pc_$enc GROUP BY w),
       |occ AS (
       |  SELECT source, w FROM (
       |    SELECT source, unnest(string_split_regex(text, '\\s+')) AS w
       |    FROM documents)
       |  WHERE regexp_matches(w, '^[a-z0-9]+$$') AND len(w) <= $MaxWordLen)
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(nseg) AS BIGINT) AS n_pieces,
       |  CAST(sum(len(w)) AS BIGINT) AS n_chars,
       |  CAST((1000000 * sum(nseg)) // sum(len(w)) AS BIGINT)
       |    AS compression_ppm
       |FROM occ JOIN pw USING (w)
       |GROUP BY source
       |ORDER BY source""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q155_unigram_lm" -> oracle155,
    "q157_unigram_segment" -> oracle157,
  )
}
