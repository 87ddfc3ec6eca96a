package graft.operators

import graft.Cut._
import graft.Tables
import graft.functions.Text
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` corpus: token
  * counting, quality scoring, stopword language-ID, exact dedup by
  * normalized fingerprint. All single-pass projections/aggregations —
  * at 100 TB each is one map stage (+ one shuffle for the dedup
  * groupBy), fully codegen'd, no UDFs.
  */
object TextAnalysis {
  type Q = (SparkSession, String) => DataFrame

  /** q96 Bloom parameters: 2^17 bits (16 KiB), k = 4 hash rows.
    * Salt/k shared with the q202 auto-sized eval (which selects only
    * the BITS — the knob q198 sizes). */
  private[operators] val BloomSalt = 960L
  private val BloomBits = 131072
  private[operators] val BloomK = 4

  /** The English stopword set — shared with q95's Count-Min probes. */
  private[graft] val stopEnList = Seq("the", "a", "of", "in", "to", "is")
  private val stopEn = stopEnList
  private val stopEs = Seq("el", "la", "de", "que", "y", "los")
  private val stopFr = Seq("le", "les", "des", "et", "une", "dans")
  private val stopDe = Seq("der", "die", "und", "das", "ist", "ein")

  val queries: Map[String, Q] = Map(
    // -- token counting (whitespace + BPE-ish regex) & shape stats --
    "q40_text_stats" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      // ratio columns as parts-per-million via integer floor division:
      // p/q ratios of small ints can land exactly on round()'s .5
      // boundary where Spark (shortest-decimal) and C engines (binary)
      // disagree — integer arithmetic is identical everywhere
      d.selectExpr("doc_id",
        "size(split(text, '\\\\s+')) AS n_tokens",
        "size(regexp_extract_all(text, '\\\\w+|[^\\\\w\\\\s]', 0)) AS n_bpe_tokens",
        "CAST(size(array_distinct(split(text, '\\\\s+'))) AS BIGINT) * 1000000 div greatest(size(split(text, '\\\\s+')), 1) AS ttr_ppm",
        "CAST(length(text) - length(regexp_replace(text, '[\\\\p{Punct}]', '')) AS BIGINT) * 1000000 div greatest(length(text), 1) AS punct_ppm",
        "CAST(length(regexp_replace(text, '\\\\s', '')) AS BIGINT) * 1000000 div greatest(size(split(text, '\\\\s+')), 1) AS tok_len_ppm")
    },

    // -- quality score: diversity + stopword density + length prior,
    //    all in exact ppm integer arithmetic (see q40 note) --
    "q41_quality_score" -> { (s, dir) =>
      Tables.load(s, dir, "documents").selectExpr("doc_id",
        "CAST(size(array_distinct(split(text, '\\\\s+'))) AS BIGINT) * 1000000 div greatest(size(split(text, '\\\\s+')), 1) AS ttr_ppm",
        "CAST(size(filter(split(text, '\\\\s+'), x -> x IN ('the','a','of','in','to','is'))) AS BIGINT) * 1000000 div greatest(size(split(text, '\\\\s+')), 1) AS stop_ppm",
        "least(1000000L, CAST(n_chars AS BIGINT) * 2000) AS len_ppm")
        .selectExpr("doc_id", "ttr_ppm", "stop_ppm", "len_ppm",
          "(ttr_ppm * 5 + stop_ppm * 3 + len_ppm * 2) div 10 AS quality_ppm")
    },

    // -- stopword-profile language ID with deterministic tie-break --
    "q42_langid" -> { (s, dir) =>
      langPredictions(Tables.load(s, dir, "documents"))
    },

    // -- langid EVALUATION (round 8): the confusion matrix of q42's
    //    stop-word classifier against the gold `lang` labels, with
    //    per-cell recall (share of the gold class) and precision
    //    (share of the predicted class) in flooring ppm — the
    //    evaluation harness a real pipeline runs before trusting a
    //    language filter. Map-side scorer → ONE tiny (gold, pred)
    //    groupBy (≤ (|langs|+1)² cells) → two windows on that tiny
    //    matrix. --
    "q152_langid_eval" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val m = langPredictions(Tables.load(s, dir, "documents"))
        .groupBy(col("labeled_lang").as("gold_lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
      m.withColumn("n_gold",
          sum(col("n_docs")).over(Window.partitionBy(col("gold_lang"))))
        .withColumn("n_pred",
          sum(col("n_docs")).over(Window.partitionBy(col("pred_lang"))))
        .selectExpr("gold_lang", "pred_lang", "n_docs", "n_gold", "n_pred",
          "n_docs * 1000000 div n_gold AS cell_of_gold_ppm",
          "n_docs * 1000000 div n_pred AS cell_of_pred_ppm")
    },

    // -- deterministic train/val/test split: md5-of-key thresholds
    //    (fixed-length lowercase hex compares lexicographically =
    //    numerically), reproducible on any engine, partitioning, or
    //    cluster size — the standard reproducible-split operator for
    //    training corpora. 80/10/10. --
    "q70_deterministic_split" -> { (s, dir) =>
      val h = substring(md5(col("doc_id").cast("string")), 1, 8)
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          when(h < "cccccccc", "train")
            .when(h < "e6666666", "val")
            .otherwise("test").as("split"))
    },

    // -- exact dedup: normalized-md5 fingerprint groups --
    "q43_dedup_exact" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .groupBy(Text.fingerprint(col("text")).as("fingerprint"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("rep_doc_id"))
    },

    // -- Gopher-style repetition metrics: fraction of all bigram /
    //    trigram occurrences taken by the single most frequent one
    //    (high → boilerplate/repetitive doc). Non-distinct n-grams via
    //    the codegen'd kernel, counting via keyed aggregation — one
    //    explode + two keyed shuffles, scale-safe. ppm integers per
    //    the cross-engine exactness rules. --
    "q76_repetition" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      def topShare(n: Int, alias: String): DataFrame = d
        .select(col("doc_id"),
          explode(graft.functions.NGrams.wordNGramsAll(
            Text.tokens(col("text")), n)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg((max(col("c")) * lit(1000000L)).as("top_n"), sum(col("c")).as("tot"))
        .selectExpr("doc_id", s"top_n div tot AS $alias")
      val toks = Text.tokens(col("text"))
      d.select(col("doc_id"),
          (size(toks) - size(array_distinct(toks))).cast("long").as("n_dup_tokens"),
          size(toks).cast("long").as("n_tokens"))
        .selectExpr("doc_id",
          "n_dup_tokens * 1000000 div greatest(n_tokens, 1) AS dup_token_ppm")
        .join(topShare(2, "top_bigram_ppm"), Seq("doc_id"), "left")
        .join(topShare(3, "top_trigram_ppm"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("dup_token_ppm"),
          coalesce(col("top_bigram_ppm"), lit(0L)).as("top_bigram_ppm"),
          coalesce(col("top_trigram_ppm"), lit(0L)).as("top_trigram_ppm"))
    },

    // -- PII scrubbing: redact emails / 6+-digit runs / IPv4-ish
    //    addresses, report counts + the scrubbed fingerprint. Pure
    //    regex column algebra (codegen; same patterns RE2-compatible
    //    for the oracle). The corpus contains no PII, so counts are 0
    //    and the fingerprint equals the identity transform — the
    //    positive cases are pinned by TextAnalysisSpec on inline data. --
    "q77_pii_scrub" -> { (s, dir) =>
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val longNum = "\\d{6,}"
      Tables.load(s, dir, "documents").select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(email), lit(0))).cast("long").as("n_email"),
        size(regexp_extract_all(col("text"), lit(ip), lit(0))).cast("long").as("n_ip"),
        size(regexp_extract_all(col("text"), lit(longNum), lit(0))).cast("long").as("n_longnum"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("text"),
          email, "<EMAIL>"), ip, "<IP>"), longNum, "<NUM>")).as("scrubbed_md5"))
    },

    // -- the flagship corpus-cleaning pipeline: one declarative plan
    //    composing the quality signals into the kept training set —
    //    the C4/Gopher-style filter chain (length + lexical diversity
    //    + repetition + exact-dup canonicalization + benchmark
    //    decontamination) every training-data pipeline runs. All
    //    signals are integer ppm, so the keep predicate is engine-
    //    exact by construction. --
    "q80_clean_corpus" -> { (s, dir) =>
      cleanKeep(Tables.load(s, dir, "documents"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    },

    // -- filter attribution (round 8): the q80 predicate decomposed —
    //    per component filter, total fails and EXCLUSIVE fails (docs
    //    every other filter would keep). The table every curation
    //    paper's appendix reports when tuning thresholds: exclusive
    //    fails are what relaxing ONE threshold buys back. ONE pass
    //    over the checkpointed flags table (all counts in a single
    //    aggregate), stacked like q74 so adding filters never changes
    //    the schema. --
    "q148_filter_attribution" -> { (s, dir) =>
      filterAttribution(
        cleanFlags(Tables.load(s, dir, "documents"))
          .cut("TextAnalysis.q148_filter_attribution: clean flags"))
    },

    // -- Bloom-filter decontamination: the 100 TB shape of q78. The
    //    benchmark's 5-grams build a fixed 2^17-bit Bloom in ONE
    //    aggregate (bytes, not gram rows, cross the shuffle); the
    //    bitset is a bounded plan-time constant (16 KiB — the
    //    PrefixRarest/Centroids86 Setup-block pattern) tested against
    //    corpus grams MAP-SIDE in codegen — the gram-keyed join of the
    //    whole corpus disappears. One-sided by construction: flagged
    //    docs are a SUPERSET of the truly contaminated (spec-pinned
    //    vs q78); false-negative rate is zero. EXACT-gated: the
    //    oracle rebuilds the bit positions and memberships
    //    integer-exactly, so even the false positives match. --
    // -- q190 (round 12): the Bloom BITS frontier — the q188 sizing
    //    table for the decontamination filter: per filter size
    //    ∈ {1024, 8192, 131072} bits (the grid brackets the 258–2,419
    //    distinct benchmark grams across the sfs; 131072 is the q96
    //    gate config), the filter load (bits set), docs flagged, and
    //    the FALSE-flag count/rate against the exact q78 truth. Bloom
    //    is one-sided the OTHER way from Count-Min: no false
    //    negatives, so flagged ⊇ truth structurally (spec-asserted).
    //    Scale shape: the gram frame derives once (checkpointed); per
    //    bits one bounded build (the documented Setup-block collect —
    //    ≤16 KiB of filter words) + one map-side probe pass; truth is
    //    ONE inverted-index join shared by every row. --
    "q190_bloom_frontier" -> { (s, dir) => bloomFrontier(s, dir) },

    "q96_bloom_decontaminate" -> { (s, dir) =>
      val grams = Tables.load(s, dir, "documents")
        .select(col("doc_id"), Text.wordNGrams(col("text"), 5).as("g5"))
      val words = grams.filter(col("doc_id") % 97 === 0)
        .agg(graft.functions.Sketches.bloom(
          col("g5"), BloomSalt, BloomBits, BloomK).as("w"))
        .head.getSeq[Long](0).toArray
      grams.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"),
          graft.functions.Sketches.bloomCountHits(
            col("g5"), words, BloomSalt, BloomK, BloomBits).as("n_bloom_hits"))
        .filter(col("n_bloom_hits") > 0)
    },

    // -- benchmark decontamination: flag corpus docs sharing any
    //    distinct 5-gram with the benchmark subset (doc_id % 97 == 0
    //    stands in for an eval set). Inverted-index equi-join on the
    //    gram — the scale shape used by real decontamination runs;
    //    never all-pairs. --
    "q78_decontaminate" -> { (s, dir) =>
      val grams = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          explode(Text.wordNGrams(col("text"), 5)).as("g"))
      val bench = grams.filter(col("doc_id") % 97 === 0)
        .select(col("g"), col("doc_id").as("bench_id"))
      grams.filter(col("doc_id") % 97 =!= 0)
        .join(bench, "g")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("g")).as("n_shared_grams"),
          min(col("bench_id")).as("first_bench_id"))
    },

    // -- CCNet-style unigram-LM quality score: per-doc mean token
    //    surprisal -ln p(tok) under the corpus unigram MLE. High
    //    surprisal ⇒ rare/garbled vocabulary; low ⇒ boilerplate. The
    //    per-token surprisal is quantized to integer micro-nats
    //    BEFORE summation (double sums are accumulation-order-
    //    dependent — integer sums are exact on any engine and any
    //    partitioning; the mean is an integer div for the same
    //    reason). Plan: one token groupBy (map-side combined), one
    //    broadcast scalar, one inverted-index join, one doc groupBy —
    //    every stage keyed, nothing all-pairs. --
    "q85_unigram_surprisal" -> { (s, dir) =>
      val toks = Tables.load(s, dir, "documents")
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val total = toks.agg(count(lit(1)).as("n"))
      toks.join(uni, "tok")
        .crossJoin(broadcast(total))
        .select(col("doc_id"),
          round(log(col("n").cast("double") / col("c")) * 1000000)
            .cast("long").as("s"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("s")).as("ssum"))
        .selectExpr("doc_id", "n_tokens",
          "ssum div n_tokens AS mean_surprisal_unats")
    },

    // -- document chunking: fixed-size overlapping character windows
    //    (the embedding/RAG prep step: 200-char chunks, stride 150 →
    //    50-char overlap; every doc yields ≥ 1 chunk, the last chunk
    //    may run short). Map-side explode, zero shuffles — output
    //    inflation is the bounded ~len/stride factor, linear at any
    //    corpus size. Chunk positions are code-point-based: Spark's
    //    length/substring and DuckDB's length/substr both count code
    //    points (validated incl. supplementary planes by the
    //    splitmix64 polyHash work), so the oracle replays exactly on
    //    the CJK docs too. --
    "q92_doc_chunks" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .selectExpr("doc_id", "text", "CAST(length(text) AS BIGINT) AS len")
        .selectExpr("doc_id", "text",
          "1 + (greatest(len - 200, 0) + 149) div 150 AS n_chunks")
        .selectExpr("doc_id", "text",
          "explode(sequence(CAST(0 AS BIGINT), n_chunks - 1)) AS chunk_id")
        .selectExpr("doc_id", "chunk_id",
          "substring(text, CAST(chunk_id * 150 + 1 AS INT), 200) AS chunk_text",
          "CAST(length(substring(text, CAST(chunk_id * 150 + 1 AS INT), 200)) AS BIGINT) AS chunk_len")
    },
  )

  /** The q80 keep predicate over any documents-shaped frame, returning
    * the surviving rows with ALL input columns (text preserved) — the
    * composable form the q93 pipeline chains from; q80 itself is this
    * over the raw table plus the 4-column gate projection. The final
    * semi-join re-attaches the full rows to the kept-id set, mirroring
    * how the composed oracle scopes the stage. */
  /** The q42 stop-word language classifier — per-doc scores and the
    * argmax prediction; shared by q42 and the q152 evaluation. */
  private[graft] def langPredictions(d: DataFrame): DataFrame = {
    val sEn = Text.wordSetCount(col("text"), stopEn)
    val sEs = Text.wordSetCount(col("text"), stopEs)
    val sFr = Text.wordSetCount(col("text"), stopFr)
    val sDe = Text.wordSetCount(col("text"), stopDe)
    d.select(col("doc_id"), col("lang").as("labeled_lang"),
      sEn.as("s_en"), sEs.as("s_es"), sFr.as("s_fr"), sDe.as("s_de"),
      when(sEn + sEs + sFr + sDe === 0, "und")
        .when(sEn >= sEs && sEn >= sFr && sEn >= sDe, "en")
        .when(sEs >= sFr && sEs >= sDe, "es")
        .when(sFr >= sDe, "fr")
        .otherwise("de").as("pred_lang"))
  }

  private[graft] def cleanKeep(d: DataFrame): DataFrame = {
    val base = d.selectExpr("doc_id",
      "size(split(text, '\\\\s+')) AS n_tokens",
      "CAST(size(array_distinct(split(text, '\\\\s+'))) AS BIGINT) * 1000000 div greatest(size(split(text, '\\\\s+')), 1) AS ttr_ppm")
    val topbg = d
      .select(col("doc_id"),
        explode(graft.functions.NGrams.wordNGramsAll(
          Text.tokens(col("text")), 2)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg((max(col("c")) * lit(1000000L)).as("tn"), sum(col("c")).as("tot"))
      .selectExpr("doc_id", "tn div tot AS top_bigram_ppm")
    val grams5 = d.select(col("doc_id"),
      explode(Text.wordNGrams(col("text"), 5)).as("g"))
    val contaminated = grams5.filter(col("doc_id") % 97 =!= 0)
      .join(grams5.filter(col("doc_id") % 97 === 0).select(col("g")), "g")
      .select(col("doc_id")).distinct()
    val canonical = d
      .groupBy(Text.fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val kept = base
      .join(topbg, Seq("doc_id"), "left")
      .join(canonical, Seq("doc_id"))           // exact-dup canonical only
      .join(contaminated, Seq("doc_id"), "left_anti") // decontaminated
      .filter(col("doc_id") % 97 =!= 0)         // eval docs leave the corpus
      .filter(col("n_tokens") >= 12 &&
        col("ttr_ppm") >= 350000L &&
        coalesce(col("top_bigram_ppm"), lit(0L)) <= 80000L)
      .select(col("doc_id"))
    d.join(kept, Seq("doc_id"), "left_semi")
  }

  /** q148: the q80 predicate decomposed into per-doc filter FLAGS —
    * same signal expressions as [[cleanKeep]], one boolean column per
    * component filter. AND of all six ≡ the q80 keep set
    * (TextAnalysisSpec proves it doc-for-doc). */
  private[graft] val CleanFilters = Seq("min_len", "ttr", "top_bigram",
    "exact_dup_canonical", "decontam", "eval_holdout")

  private[graft] def cleanFlags(d: DataFrame): DataFrame = {
    val base = d.selectExpr("doc_id",
      "size(split(text, '\\\\s+')) AS n_tokens",
      "CAST(size(array_distinct(split(text, '\\\\s+'))) AS BIGINT) * 1000000 div greatest(size(split(text, '\\\\s+')), 1) AS ttr_ppm")
    val topbg = d
      .select(col("doc_id"),
        explode(graft.functions.NGrams.wordNGramsAll(
          Text.tokens(col("text")), 2)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg((max(col("c")) * lit(1000000L)).as("tn"), sum(col("c")).as("tot"))
      .selectExpr("doc_id", "tn div tot AS top_bigram_ppm")
    val grams5 = d.select(col("doc_id"),
      explode(Text.wordNGrams(col("text"), 5)).as("g"))
    val contaminated = grams5.filter(col("doc_id") % 97 =!= 0)
      .join(grams5.filter(col("doc_id") % 97 === 0).select(col("g")), "g")
      .select(col("doc_id")).distinct()
    val canonical = d
      .groupBy(Text.fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(1L).as("canon"))
    base
      .join(topbg, Seq("doc_id"), "left")
      .join(canonical, Seq("doc_id"), "left")
      .join(contaminated.withColumn("cont", lit(1L)).hint("shuffle_merge"),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("n_tokens") >= 12).as("min_len"),
        (col("ttr_ppm") >= 350000L).as("ttr"),
        (coalesce(col("top_bigram_ppm"), lit(0L)) <= 80000L).as("top_bigram"),
        col("canon").isNotNull.as("exact_dup_canonical"),
        col("cont").isNull.as("decontam"),
        (col("doc_id") % 97 =!= 0).as("eval_holdout"))
  }

  /** q148 report over a flags frame: per filter, how many docs fail
    * it at all and how many fail it EXCLUSIVELY (all other filters
    * pass) — the number that says what relaxing ONE threshold would
    * buy, the standard curation-tuning table. */
  private[graft] def filterAttribution(f: DataFrame): DataFrame = {
    val all = CleanFilters.map(col).reduce(_ && _)
    def others(n: String) =
      CleanFilters.filterNot(_ == n).map(col).reduce(_ && _)
    val aggs =
      CleanFilters.map(n => sum(when(!col(n), 1L).otherwise(0L)).as(s"f_$n")) ++
      CleanFilters.map(n =>
        sum(when(!col(n) && others(n), 1L).otherwise(0L)).as(s"x_$n")) :+
      sum(when(all, 1L).otherwise(0L)).as("n_kept")
    val row = f.agg(count(lit(1)).as("n_docs"), aggs: _*)
    row.select(explode(array(CleanFilters.map(n => struct(
        lit(n).as("filter_name"),
        col(s"f_$n").as("n_fail"),
        col(s"x_$n").as("n_exclusive_fail"),
        col("n_docs"), col("n_kept"))): _*)).as("p"))
      .select("p.*")
  }

  /** The q80 keep-predicate oracle over relation `src` (needs only
    * doc_id, text), yielding the kept doc_ids — the q104 composed
    * oracle chains the clean stage from it; the q80 gate oracle stays
    * the full-column literal over `documents` (same predicate). */
  /** The clean-signal CTE chain (ctok..ccanon) over relation `src` —
    * shared by [[cleanKeepIdsSql]] and the q148 flags oracle, so the
    * attribution report audits the EXACT predicate q80 applies. */
  private def cleanSignalCtes(src: String): String =
    s"""ctok AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS t,
       |    md5(trim(lower(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
       |  FROM $src),
       |cbase AS (
       |  SELECT doc_id, len(t) AS n_tokens,
       |    CAST(len(list_distinct(t)) AS BIGINT) * 1000000
       |      // greatest(len(t), 1) AS ttr_ppm
       |  FROM ctok),
       |cbg AS (
       |  SELECT doc_id, t[i] || ' ' || t[i+1] AS g
       |  FROM (SELECT doc_id, t,
       |          unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i
       |        FROM ctok)),
       |cbga AS (
       |  SELECT doc_id, CAST(max(c) * 1000000 // sum(c) AS BIGINT) AS top_bigram_ppm
       |  FROM (SELECT doc_id, g, count(*) AS c FROM cbg GROUP BY 1, 2)
       |  GROUP BY doc_id),
       |cg5 AS (
       |  SELECT DISTINCT doc_id,
       |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS g
       |  FROM (SELECT doc_id, t,
       |          unnest(generate_series(1, greatest(len(t) - 4, 0))) AS i
       |        FROM ctok)),
       |ccont AS (
       |  SELECT DISTINCT c.doc_id
       |  FROM cg5 c JOIN (SELECT g FROM cg5 WHERE doc_id % 97 = 0) b ON c.g = b.g
       |  WHERE c.doc_id % 97 <> 0),
       |ccanon AS (
       |  SELECT min(doc_id) AS doc_id FROM ctok GROUP BY fp)""".stripMargin

  /** The q42 scorer CTEs (t, sc) and argmax CASE — shared by the q42
    * and q152 oracles so classifier and evaluation replay the same
    * model. */
  private def langScoreCtes: String =
    """t AS (
      |  SELECT doc_id, lang, string_split_regex(text, '\s+') AS toks
      |  FROM documents),
      |sc AS (
      |  SELECT doc_id, lang AS labeled_lang,
      |    len(list_filter(toks, x -> x IN ('the','a','of','in','to','is'))) AS s_en,
      |    len(list_filter(toks, x -> x IN ('el','la','de','que','y','los'))) AS s_es,
      |    len(list_filter(toks, x -> x IN ('le','les','des','et','une','dans'))) AS s_fr,
      |    len(list_filter(toks, x -> x IN ('der','die','und','das','ist','ein'))) AS s_de
      |  FROM t)""".stripMargin

  private def langPredCase: String =
    """CASE WHEN s_en + s_es + s_fr + s_de = 0 THEN 'und'
      |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
      |       WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
      |       WHEN s_fr >= s_de THEN 'fr'
      |       ELSE 'de' END""".stripMargin

  /** q148's oracle: the SAME signal CTEs, per-doc flags, one
    * aggregate, and a row per filter — generated from [[CleanFilters]]
    * so the filter list cannot drift between engine and replay. */
  private def oracle148: String = {
    val failSums = CleanFilters.map(n =>
      s"sum(CASE WHEN NOT $n THEN 1 ELSE 0 END) AS f_$n").mkString(",\n    ")
    val exclSums = CleanFilters.map { n =>
      val others = CleanFilters.filterNot(_ == n).mkString(" AND ")
      s"sum(CASE WHEN NOT $n AND $others THEN 1 ELSE 0 END) AS x_$n"
    }.mkString(",\n    ")
    val keptSum = s"sum(CASE WHEN ${CleanFilters.mkString(" AND ")} " +
      "THEN 1 ELSE 0 END) AS n_kept"
    val rows = CleanFilters.map(n =>
      s"""SELECT '$n' AS filter_name, CAST(f_$n AS BIGINT) AS n_fail,
         |  CAST(x_$n AS BIGINT) AS n_exclusive_fail,
         |  CAST(n_docs AS BIGINT) AS n_docs, CAST(n_kept AS BIGINT) AS n_kept
         |FROM tot""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH ${cleanSignalCtes("documents")},
       |flags AS (
       |  SELECT cbase.doc_id,
       |    n_tokens >= 12 AS min_len,
       |    ttr_ppm >= 350000 AS ttr,
       |    coalesce(top_bigram_ppm, 0) <= 80000 AS top_bigram,
       |    ccanon.doc_id IS NOT NULL AS exact_dup_canonical,
       |    cbase.doc_id NOT IN (SELECT doc_id FROM ccont) AS decontam,
       |    cbase.doc_id % 97 <> 0 AS eval_holdout
       |  FROM cbase
       |  LEFT JOIN cbga ON cbase.doc_id = cbga.doc_id
       |  LEFT JOIN ccanon ON cbase.doc_id = ccanon.doc_id),
       |tot AS (
       |  SELECT count(*) AS n_docs,
       |    $failSums,
       |    $exclSums,
       |    $keptSum
       |  FROM flags)
       |$rows""".stripMargin
  }

  private[operators] def cleanKeepIdsSql(src: String): String =
    s"""WITH ${cleanSignalCtes(src)}
       |SELECT cbase.doc_id
       |FROM cbase
       |JOIN ccanon ON cbase.doc_id = ccanon.doc_id
       |LEFT JOIN cbga ON cbase.doc_id = cbga.doc_id
       |WHERE cbase.doc_id % 97 <> 0
       |  AND cbase.doc_id NOT IN (SELECT doc_id FROM ccont)
       |  AND n_tokens >= 12
       |  AND ttr_ppm >= 350000
       |  AND coalesce(top_bigram_ppm, 0) <= 80000""".stripMargin

  /** Parameterized oracle for the chunking stage over relation `src`
    * (needs `text` plus the pass-through `keyCols`) — q92's oracle and
    * the q93 composed oracle both come from here. */
  private[operators] def chunkSql(src: String, keyCols: String): String =
    s"""WITH ct AS (
       |  SELECT *, CAST(length(text) AS BIGINT) AS len FROM $src),
       |cn AS (
       |  SELECT *, 1 + (greatest(len - 200, 0) + 149) // 150 AS n_chunks
       |  FROM ct),
       |cc AS (
       |  SELECT *, unnest(generate_series(0, n_chunks - 1)) AS chunk_id
       |  FROM cn)
       |SELECT $keyCols, CAST(chunk_id AS BIGINT) AS chunk_id,
       |  substr(text, CAST(chunk_id * 150 + 1 AS INTEGER), 200) AS chunk_text,
       |  CAST(length(substr(text, CAST(chunk_id * 150 + 1 AS INTEGER), 200)) AS BIGINT) AS chunk_len
       |FROM cc""".stripMargin

  /** q96's oracle rebuilds the Bloom SET-OF-POSITIONS in SQL (a bit
    * set IS its set of set positions — no word array needed): distinct
    * grams hashed once (poly-31 → splitmix64, the q45 playbook), the
    * benchmark's k salted positions collected DISTINCT, and each
    * corpus gram occurrence declared a hit iff all k of its positions
    * join — integer arithmetic end to end, so the engine's false
    * positives replay exactly. */
  private def oracle96: String =
    s"""WITH ${bloomHashCtes("")},
       |bpos AS (SELECT DISTINCT h % $BloomBits AS pos FROM bmix),
       |hit AS (
       |  SELECT doc_id, i FROM
       |    (SELECT doc_id, i, h % $BloomBits AS pos FROM cmix) cp
       |  JOIN bpos USING (pos)
       |  GROUP BY doc_id, i HAVING count(*) = $BloomK)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bloom_hits
       |FROM hit GROUP BY doc_id""".stripMargin

  /** q190's filter-size grid (powers of two; 131072 is the q96 gate
    * config). The grid BRACKETS the distinct benchmark-gram counts
    * (258–2,419 across the sfs): 1024 bits saturates under k = 4
    * insertions, 8192 sits near the classic ~10·n sizing, 131072 is
    * shown effectively collision-free — the q188 bracketing rule
    * applied to the Bloom family. */
  private[graft] val BloomBitsGrid = Seq(1024, 8192, 131072)

  /** q190 — per filter size: filter load, flagged docs, and the
    * false-flag count/rate against the exact q78 truth. Bloom never
    * misses (no false negatives), so flagged ⊇ truth at every size. */
  private[graft] def bloomFrontier(s: SparkSession, dir: String): DataFrame = {
    val grams = Tables.load(s, dir, "documents")
      .select(col("doc_id"), Text.wordNGrams(col("text"), 5).as("g5"))
      .cut("TextAnalysis.bloomFrontier: grams") // 3 builds + 3 probes + the truth read it
    val bench = grams.filter(col("doc_id") % 97 === 0)
    val corpus = grams.filter(col("doc_id") % 97 =!= 0)
    // the exact truth, ONE inverted-index join (the q78 shape)
    val benchG = bench.select(explode(col("g5")).as("g")).distinct()
    val truthN = corpus.select(col("doc_id"), explode(col("g5")).as("g"))
      .join(benchG.hint("shuffle_merge"), "g")
      .select("doc_id").distinct().count()
    val probedN = corpus.count()
    val rows = BloomBitsGrid.map { bits =>
      // bounded build collect: ≤ bits/8 bytes of filter words — the
      // q96 documented Setup-block exception
      val words = bench.agg(graft.functions.Sketches.bloom(
          col("g5"), BloomSalt, bits, BloomK).as("w"))
        .head.getSeq[Long](0).toArray
      val bitsSet = words.map(java.lang.Long.bitCount(_).toLong).sum
      corpus.select(graft.functions.Sketches.bloomCountHits(
          col("g5"), words, BloomSalt, BloomK, bits).as("h"))
        .agg(count(when(col("h") > 0, lit(1))).as("flagged"))
        .select(lit(bits.toLong).as("bits"), lit(bitsSet).as("bits_set"),
          lit(probedN).as("probed"), lit(truthN).as("true_contaminated"),
          col("flagged"),
          (col("flagged") - lit(truthN)).as("false_flagged"),
          expr(s"(1000000L * (flagged - ${truthN}L)) div " +
            s"greatest(${probedN - truthN}L, 1L)").as("fpr_ppm"))
    }
    rows.reduce(_.unionByName(_))
  }

  /** The bits-INDEPENDENT Bloom hash chain (benchmark/corpus 5-gram
    * split at doc_id % 97, k salted splitmix64 mixes per distinct
    * gram), name-PREFIXED, ending at `<p>bmix(h)` (benchmark inserts)
    * and `<p>cmix(doc_id, i, h)` (corpus probes), both MATERIALIZED —
    * shared by oracle96 and oracle190 (p = "") and the q202 auto-sized
    * eval oracle (p = "ab", beside the CMS chain in the same WITH
    * block). */
  private[operators] def bloomHashCtes(p: String): String = {
    import graft.functions.SplitMix64
    val salts = SplitMix64.saltTableSql("j", BloomSalt, BloomK)
    s"""${p}tok AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
       |${p}g0 AS (
       |  SELECT doc_id, t,
       |    unnest(generate_series(1, greatest(len(t) - 4, 0))) AS i
       |  FROM ${p}tok),
       |${p}occ AS (
       |  SELECT doc_id, i,
       |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS g
       |  FROM ${p}g0),
       |${p}dg AS (SELECT DISTINCT g FROM ${p}occ),
       |${p}dp AS (SELECT g, ${SplitMix64.polyHashSql("g")} AS p FROM ${p}dg),
       |${p}dh AS (SELECT g, ${SplitMix64.mixSql("p")} AS th FROM ${p}dp),
       |${p}js AS (SELECT unnest(range($BloomK)) AS j),
       |${p}bx AS (
       |  SELECT DISTINCT ${p}dh.th FROM ${p}occ JOIN ${p}dh USING (g)
       |  WHERE ${p}occ.doc_id % 97 = 0),
       |${p}bsx AS (SELECT ${SplitMix64.saltedRowSql("th", salts)} AS x
       |  FROM ${p}bx CROSS JOIN ${p}js),
       |${p}bmix AS MATERIALIZED (
       |  SELECT ${SplitMix64.mixSql("x")} AS h FROM ${p}bsx),
       |${p}cx AS (
       |  SELECT ${p}occ.doc_id, ${p}occ.i, j,
       |    ${SplitMix64.saltedRowSql(s"${p}dh.th", salts)} AS x
       |  FROM ${p}occ JOIN ${p}dh USING (g) CROSS JOIN ${p}js
       |  WHERE ${p}occ.doc_id % 97 <> 0),
       |${p}cmix AS MATERIALIZED (
       |  SELECT doc_id, i, ${SplitMix64.mixSql("x")} AS h FROM ${p}cx)"""
      .stripMargin
  }

  /** Gated per-bits Bloom decontamination legs for the q202 auto-sized
    * eval oracle: position set, full-hit census and the flagged-docs
    * row for a filter size exist ONLY when the q198 selection scalar
    * picks it — the oracle pays one filter like the engine builds one.
    * Returns (ctes, rows-union) over `<p>bmix`/`<p>cmix`. */
  private[operators] def bloomGatedEvalSql(grid: Seq[Long], gate: String,
      p: String): (String, String) = {
    val ctes = grid.zipWithIndex.map { case (b, i) =>
      s"""${p}g${i}pos AS (
         |  SELECT DISTINCT h % $b AS pos FROM ${p}bmix WHERE $gate = $b),
         |${p}g${i}hit AS (
         |  SELECT doc_id, i FROM
         |    (SELECT doc_id, i, h % $b AS pos FROM ${p}cmix
         |     WHERE $gate = $b) cp
         |  JOIN ${p}g${i}pos USING (pos)
         |  GROUP BY doc_id, i HAVING count(*) = $BloomK)""".stripMargin
    }.mkString(",\n")
    val rows = grid.zipWithIndex.map { case (b, i) =>
      s"""SELECT 'bloom_bits' AS sketch, CAST($b AS BIGINT) AS selected,
         |  'flagged_docs' AS item,
         |  (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM ${p}g${i}hit)
         |    AS value
         |FROM (SELECT 1) one WHERE $gate = $b""".stripMargin
    }.mkString("\nUNION ALL\n")
    (ctes, rows)
  }

  /** q190: the oracle96 hash chain with the bits-INDEPENDENT salted
    * mixes MATERIALIZED once, per-size position sets and hit censuses
    * re-keyed (h % bits), the exact truth one gram join. */
  private def oracle190: String = {
    val sizeCtes = BloomBitsGrid.zipWithIndex.map { case (b, i) =>
      s"""b${i}pos AS MATERIALIZED (SELECT DISTINCT h % $b AS pos FROM bmix),
         |b${i}hit AS (
         |  SELECT doc_id, i FROM
         |    (SELECT doc_id, i, h % $b AS pos FROM cmix) cp
         |  JOIN b${i}pos USING (pos)
         |  GROUP BY doc_id, i HAVING count(*) = $BloomK),
         |b${i}fl AS (
         |  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS flagged
         |  FROM b${i}hit)""".stripMargin
    }
    val rows = BloomBitsGrid.zipWithIndex.map { case (b, i) =>
      s"""SELECT bits, bits_set, probed, true_contaminated, flagged,
         |  flagged - true_contaminated AS false_flagged,
         |  CAST((1000000 * (flagged - true_contaminated))
         |    // greatest(probed - true_contaminated, 1) AS BIGINT)
         |    AS fpr_ppm
         |FROM (
         |  SELECT CAST($b AS BIGINT) AS bits,
         |    (SELECT CAST(count(*) AS BIGINT) FROM b${i}pos) AS bits_set,
         |    (SELECT probed FROM pr) AS probed,
         |    (SELECT tc FROM tr) AS true_contaminated,
         |    (SELECT flagged FROM b${i}fl) AS flagged) r""".stripMargin
    }
    s"""WITH ${bloomHashCtes("")},
       |tr AS (
       |  SELECT CAST(count(DISTINCT occ.doc_id) AS BIGINT) AS tc
       |  FROM occ JOIN (SELECT DISTINCT g FROM occ WHERE doc_id % 97 = 0) bg
       |    USING (g)
       |  WHERE occ.doc_id % 97 <> 0),
       |pr AS (
       |  SELECT CAST(count(*) AS BIGINT) AS probed FROM documents
       |  WHERE doc_id % 97 <> 0),
       |${sizeCtes.mkString(",\n")}
       |${rows.mkString("\nUNION ALL\n")}""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q92_doc_chunks" -> chunkSql("documents", "doc_id"),
    "q96_bloom_decontaminate" -> oracle96,
    "q190_bloom_frontier" -> oracle190,
    "q148_filter_attribution" -> oracle148,

    "q85_unigram_surprisal" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
        |  FROM documents),
        |uni AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        |tot AS (SELECT count(*) AS n FROM toks),
        |per AS (
        |  SELECT doc_id,
        |    CAST(round(ln(CAST(n AS DOUBLE) / c) * 1000000) AS BIGINT) AS s
        |  FROM toks JOIN uni USING (tok) CROSS JOIN tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(s) AS BIGINT) // count(*) AS mean_surprisal_unats
        |FROM per GROUP BY doc_id""".stripMargin,

    "q40_text_stats" ->
      """SELECT doc_id,
        |  len(string_split_regex(text, '\s+')) AS n_tokens,
        |  len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpe_tokens,
        |  CAST(len(list_distinct(string_split_regex(text, '\s+'))) AS BIGINT) * 1000000
        |    // greatest(len(string_split_regex(text, '\s+')), 1) AS ttr_ppm,
        |  CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS BIGINT) * 1000000
        |    // greatest(length(text), 1) AS punct_ppm,
        |  CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) * 1000000
        |    // greatest(len(string_split_regex(text, '\s+')), 1) AS tok_len_ppm
        |FROM documents""".stripMargin,

    "q41_quality_score" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |    string_split_regex(text, '\s+') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(len(list_distinct(toks)) AS BIGINT) * 1000000
        |      // greatest(len(toks), 1) AS ttr_ppm,
        |    CAST(len(list_filter(toks,
        |      x -> x IN ('the','a','of','in','to','is'))) AS BIGINT) * 1000000
        |      // greatest(len(toks), 1) AS stop_ppm,
        |    least(1000000, CAST(n_chars AS BIGINT) * 2000) AS len_ppm
        |  FROM t)
        |SELECT doc_id, ttr_ppm, stop_ppm, len_ppm,
        |  (ttr_ppm * 5 + stop_ppm * 3 + len_ppm * 2) // 10 AS quality_ppm
        |FROM c""".stripMargin,

    "q42_langid" ->
      s"""WITH $langScoreCtes
        |SELECT doc_id, labeled_lang, s_en, s_es, s_fr, s_de,
        |  $langPredCase AS pred_lang
        |FROM sc""".stripMargin,

    // q152: the q42 scorer → (gold, pred) census → per-cell recall /
    // precision ppm via two windows on the tiny matrix
    "q152_langid_eval" ->
      s"""WITH $langScoreCtes,
        |prd AS (
        |  SELECT labeled_lang AS gold_lang, $langPredCase AS pred_lang
        |  FROM sc),
        |m AS (
        |  SELECT gold_lang, pred_lang, count(*) AS n_docs
        |  FROM prd GROUP BY gold_lang, pred_lang)
        |SELECT gold_lang, pred_lang, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(sum(n_docs) OVER (PARTITION BY gold_lang) AS BIGINT) AS n_gold,
        |  CAST(sum(n_docs) OVER (PARTITION BY pred_lang) AS BIGINT) AS n_pred,
        |  CAST(n_docs * 1000000 // sum(n_docs) OVER (PARTITION BY gold_lang)
        |    AS BIGINT) AS cell_of_gold_ppm,
        |  CAST(n_docs * 1000000 // sum(n_docs) OVER (PARTITION BY pred_lang)
        |    AS BIGINT) AS cell_of_pred_ppm
        |FROM m""".stripMargin,

    "q70_deterministic_split" ->
      """SELECT doc_id, lang,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc'
        |         THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,

    "q43_dedup_exact" ->
      """SELECT md5(trim(lower(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint,
        |  count(*) AS n_copies, min(doc_id) AS rep_doc_id
        |FROM documents
        |GROUP BY 1""".stripMargin,

    "q76_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
        |bg AS (
        |  SELECT doc_id, t[i] || ' ' || t[i+1] AS g
        |  FROM (SELECT doc_id, t,
        |          unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i
        |        FROM tok)),
        |bga AS (
        |  SELECT doc_id, max(c) * 1000000 // sum(c) AS top_bigram_ppm
        |  FROM (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2)
        |  GROUP BY doc_id),
        |tg AS (
        |  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        |  FROM (SELECT doc_id, t,
        |          unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
        |        FROM tok)),
        |tga AS (
        |  SELECT doc_id, max(c) * 1000000 // sum(c) AS top_trigram_ppm
        |  FROM (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY 1, 2)
        |  GROUP BY doc_id)
        |SELECT tok.doc_id,
        |  CAST((len(t) - len(list_distinct(t))) AS BIGINT) * 1000000
        |    // greatest(len(t), 1) AS dup_token_ppm,
        |  CAST(coalesce(bga.top_bigram_ppm, 0) AS BIGINT) AS top_bigram_ppm,
        |  CAST(coalesce(tga.top_trigram_ppm, 0) AS BIGINT) AS top_trigram_ppm
        |FROM tok
        |LEFT JOIN bga ON tok.doc_id = bga.doc_id
        |LEFT JOIN tga ON tok.doc_id = tga.doc_id""".stripMargin,

    "q77_pii_scrub" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(text, '\d{6,}')) AS BIGINT) AS n_longnum,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\d{6,}', '<NUM>', 'g')) AS scrubbed_md5
        |FROM documents""".stripMargin,

    "q80_clean_corpus" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, source, n_chars,
        |    string_split_regex(text, '\s+') AS t,
        |    md5(trim(lower(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, lang, source, n_chars, len(t) AS n_tokens,
        |    CAST(len(list_distinct(t)) AS BIGINT) * 1000000
        |      // greatest(len(t), 1) AS ttr_ppm
        |  FROM tok),
        |bg AS (
        |  SELECT doc_id, t[i] || ' ' || t[i+1] AS g
        |  FROM (SELECT doc_id, t,
        |          unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i
        |        FROM tok)),
        |bga AS (
        |  SELECT doc_id, CAST(max(c) * 1000000 // sum(c) AS BIGINT) AS top_bigram_ppm
        |  FROM (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2)
        |  GROUP BY doc_id),
        |g5 AS (
        |  SELECT DISTINCT doc_id,
        |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS g
        |  FROM (SELECT doc_id, t,
        |          unnest(generate_series(1, greatest(len(t) - 4, 0))) AS i
        |        FROM tok)),
        |contaminated AS (
        |  SELECT DISTINCT c.doc_id
        |  FROM g5 c JOIN (SELECT g FROM g5 WHERE doc_id % 97 = 0) b ON c.g = b.g
        |  WHERE c.doc_id % 97 <> 0),
        |canonical AS (
        |  SELECT min(doc_id) AS doc_id FROM tok GROUP BY fp)
        |SELECT base.doc_id, lang, source, n_chars
        |FROM base
        |JOIN canonical ON base.doc_id = canonical.doc_id
        |LEFT JOIN bga ON base.doc_id = bga.doc_id
        |WHERE base.doc_id % 97 <> 0
        |  AND base.doc_id NOT IN (SELECT doc_id FROM contaminated)
        |  AND n_tokens >= 12
        |  AND ttr_ppm >= 350000
        |  AND coalesce(top_bigram_ppm, 0) <= 80000""".stripMargin,

    "q78_decontaminate" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
        |g0 AS (
        |  SELECT doc_id, t,
        |    unnest(generate_series(1, greatest(len(t) - 4, 0))) AS i
        |  FROM tok),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS g
        |  FROM g0),
        |bench AS (SELECT g, doc_id AS bench_id FROM grams WHERE doc_id % 97 = 0)
        |SELECT c.doc_id,
        |  count(DISTINCT c.g) AS n_shared_grams,
        |  min(bench.bench_id) AS first_bench_id
        |FROM grams c JOIN bench ON c.g = bench.g
        |WHERE c.doc_id % 97 <> 0
        |GROUP BY c.doc_id""".stripMargin,
  )
}
