package graft.operators

import graft.Cut._
import graft.Tables
import graft.functions.{NGrams, Text}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level exact-substring auditing over `documents` — the
  * remaining ops of a production training-data pipeline's text-prep
  * suite (north-star surface beyond the reference, like TextAnalysis):
  *
  *  - q97 repeated-span marking: the ExactSubstr dedup shape of
  *    Lee et al. 2021 ("Deduplicating Training Data Makes Language
  *    Models Better"): find every maximal span of >= W consecutive
  *    tokens whose W-token windows all occur >= 2 times in the corpus
  *    (counting multiplicity — within-doc boilerplate marks too), and
  *    emit it as a per-document (start, end) interval for downstream
  *    cutting. Their suffix-array formulation is single-machine; the
  *    distributed shape here is windows → occurrence counts →
  *    per-doc gaps-and-islands merge, with NO pair join anywhere:
  *    cost is corpus-linear regardless of how many documents share a
  *    span (a boilerplate paragraph in 10M docs is 10M marked rows,
  *    never 10M² pairs — contrast the q44 candidate family).
  *
  *  - q98 cross-source overlap: the contamination-audit matrix — for
  *    each ordered source pair (a, b), how many of a's distinct
  *    W-token windows also occur in b (containment, exact ppm). The
  *    gram self-join is bounded by construction: each distinct gram
  *    joins only its own source list (<= |sources| rows a side), so
  *    the output and the join are |sources|²-bounded, never corpus².
  *
  *  - q99 span scrub: the materialization of q97 — see [[scrubSpans]].
  *
  * All three are pure integer/string relational algebra — the DuckDB
  * oracles replay them row-for-row (hash-EXACT), same contract as
  * q44's gram machinery.
  */
object RepeatedSpans {
  type Q = (SparkSession, String) => DataFrame

  /** Window width (tokens). Lee et al. use 50 BPE tokens at web
    * scale; 8 whitespace tokens keeps the synthetic gate corpus
    * non-degenerate (its docs are a few hundred tokens). The oracles
    * replay W = 8; only RepeatedSpansSpec's randomized reference check
    * passes [[repeatedSpans]] another width. */
  val W = 8

  /** Marked repeated spans per document: (doc_id, span_start,
    * span_end, span_tokens, n_windows), token positions 1-based
    * inclusive. Composable form over any documents-shaped frame.
    *
    * Plan shape (PlanShapeSpec-guarded): one gram-keyed groupBy with
    * map-side partial aggregation (a hot boilerplate window
    * partial-counts on every mapper before the shuffle), one
    * LEFT SEMI join of the window table against the repeated-gram
    * keys on the same shuffle key (AQE's skew handling covers a
    * pathological gram), then one doc-keyed window for the
    * gaps-and-islands merge — the final groupBy(doc_id, island)
    * reuses the window's partitioning, so the whole operator is two
    * shuffle families for any corpus size. */
  def repeatedSpans(d: DataFrame, w: Int = W): DataFrame = {
    // every window occurrence, position 1-based to match the oracle's
    // generate_series; i cast long so both engines emit BIGINT
    val win = d.select(col("doc_id"),
        posexplode(NGrams.wordNGramsAll(Text.tokens(col("text")), w)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("i"),
        col("col").as("g"))
    // occurrence counts, multiplicity included (within-doc repeats
    // mark too, as in ExactSubstr) — keep only repeated keys
    val rep = win.groupBy(col("g")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select(col("g"))
    // the big side shuffles on g either way; semi-join keeps only the
    // marked positions (hint as in q44: don't let a size misestimate
    // broadcast the deserialized gram table)
    val marked = win.hint("shuffle_merge")
      .join(rep.hint("shuffle_merge"), Seq("g"), "left_semi")
      .select(col("doc_id"), col("i"))
    // gaps-and-islands: consecutive marked windows whose starts are
    // within W tokens cover a contiguous (or overlapping) token range
    // — merge them into one span; a gap > W starts a new island.
    // First row: lag is null -> when() falls to otherwise(1).
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val islands = marked
      .withColumn("f",
        when(col("i") - lag(col("i"), 1).over(byDoc) <= w, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("island", sum(col("f")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    islands.groupBy(col("doc_id"), col("island"))
      .agg(min(col("i")).as("span_start"),
        (max(col("i")) + (w - 1)).as("span_end"),
        (max(col("i")) - min(col("i")) + w).as("span_tokens"),
        count(lit(1)).as("n_windows"))
      .select("doc_id", "span_start", "span_end", "span_tokens", "n_windows")
  }

  /** Cross-source containment matrix: (source_a, source_b,
    * shared_grams, total_a, containment_ppm) for every ordered pair
    * with shared_grams > 0. Composable form. */
  def sourceOverlap(d: DataFrame): DataFrame = {
    // distinct (source, gram): the per-doc distinct kernel shrinks the
    // explode before the global distinct's shuffle; cut — three plan
    // references (both self-join sides + the totals), each of which
    // shuffles or aggregates anyway, so the cut's lost partitioning
    // costs nothing; the self-join stays hinted, since a size
    // estimate could otherwise BROADCAST a corpus-vocabulary-sized
    // side (the q44 estimate-vs-reality lesson)
    val sg = d.select(col("source"),
        explode(Text.wordNGrams(col("text"), W)).as("g"))
      .distinct().cut("RepeatedSpans.sourceOverlap: source grams")
    val tot = sg.groupBy(col("source")).agg(count(lit(1)).as("total_a"))
    // per-gram source list is <= |sources| rows a side: the self-join
    // is gram-keyed and |sources|²-bounded per key by construction
    val pairs = sg.as("a").hint("shuffle_merge")
      .join(sg.as("b").hint("shuffle_merge"),
        col("a.g") === col("b.g") && col("a.source") =!= col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("shared_grams"))
    // the totals dim is |sources| rows — broadcast
    pairs.join(broadcast(tot.withColumnRenamed("source", "source_a")), "source_a")
      .selectExpr("source_a", "source_b", "shared_grams", "total_a",
        "shared_grams * 1000000 div total_a AS containment_ppm")
  }

  /** Span materialization: rebuild each document's text with every
    * repeated-span token REMOVED — the boilerplate-stripping action
    * (a shared header in 10M docs disappears from all of them; the
    * keep-one-canonical semantics live in q43/q53). Documents whose
    * every token is marked vanish from the output on both engines
    * (the group has no kept rows). Whitespace is normalized by the
    * token round-trip, identically on both sides.
    *
    * Scale shape: the span table is a per-doc dim (round 6 measured
    * span rows α = 1.00, a few spans per thousand docs), but it arrives
    * doc-keyed like the token table, so the anti-join is the SAME
    * doc-keyed shuffle family as the final groupBy — no new join
    * geometry; the interval predicate rides the equi-key. */
  def scrubSpans(d: DataFrame): DataFrame = {
    val spans = repeatedSpans(d)
      .select(col("doc_id"), col("span_start"), col("span_end"))
    val toks = d.select(col("doc_id"),
        posexplode(Text.tokens(col("text"))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("i"),
        col("col").as("t"))
    // the spans side is small RELATIVE to the corpus (~1 span per
    // thousand docs) but scale-growing in absolute terms — a broadcast
    // would eventually exceed the driver; and the token side must
    // shuffle on doc_id for the final groupBy regardless, so the
    // merge anti-join rides that same shuffle family for free
    val kept = toks.as("tk").hint("shuffle_merge")
      .join(spans.as("sp").hint("shuffle_merge"),
        col("tk.doc_id") === col("sp.doc_id") &&
          col("tk.i").between(col("sp.span_start"), col("sp.span_end")),
        "left_anti")
    kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("i"), col("t")))),
          x => x.getField("t")), " ").as("text_clean"))
  }

  /** Span scrub as a PIPELINE STAGE over any documents-shaped frame:
    * [[scrubSpans]] plus the pass-through `lang` re-attached (doc-keyed
    * join, the same shuffle family) and the scrubbed text taking the
    * `text` column — so downstream stages (clean/dedup/mix/pack) chain
    * unchanged. Note the reassembly normalizes whitespace (tokens
    * re-joined with single spaces) — identically on both engines, so
    * the composed oracle replays it. Fully-marked docs vanish. */
  private[graft] def scrubKeep(d: DataFrame): DataFrame =
    scrubSpans(d)
      .select(col("doc_id"), col("text_clean").as("text"))
      .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))

  /** [[scrubKeep]]'s generated DuckDB SQL over relation `src` (needs
    * doc_id, lang, text) — yields (doc_id, lang, text) with repeated-
    * span tokens removed; the q104 composed oracle chains from it.
    * Same windows/islands algebra as oracle97/oracle99, prefixed to
    * avoid CTE-name collisions when nested. */
  private[operators] def scrubSql(src: String): String = {
    val cat = (0 until W).map(j => s"t[i+$j]").mkString(" || ' ' || ")
    s"""WITH stok AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM $src),
       |sg0 AS (
       |  SELECT doc_id, t,
       |    unnest(generate_series(1, greatest(len(t) - ${W - 1}, 0))) AS i
       |  FROM stok),
       |swin AS (SELECT doc_id, i, $cat AS g FROM sg0),
       |srep AS (SELECT g FROM swin GROUP BY g HAVING count(*) >= 2),
       |smk AS (SELECT doc_id, i FROM swin WHERE g IN (SELECT g FROM srep)),
       |sflg AS (
       |  SELECT doc_id, i,
       |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= $W
       |      THEN 0 ELSE 1 END AS f
       |  FROM smk),
       |sisl AS (
       |  SELECT doc_id, i,
       |    sum(f) OVER (PARTITION BY doc_id ORDER BY i) AS island
       |  FROM sflg),
       |sspans AS (
       |  SELECT doc_id, min(i) AS s, max(i) + ${W - 1} AS e
       |  FROM sisl GROUP BY doc_id, island),
       |stt AS (
       |  SELECT doc_id, unnest(generate_series(1, len(t))) AS i, t
       |  FROM stok),
       |stw AS (SELECT doc_id, i, t[i] AS w FROM stt),
       |skept AS (
       |  SELECT doc_id, i, w FROM stw
       |  WHERE NOT EXISTS (SELECT 1 FROM sspans s
       |    WHERE s.doc_id = stw.doc_id AND stw.i BETWEEN s.s AND s.e)),
       |sclean AS (
       |  SELECT doc_id, string_agg(w, ' ' ORDER BY i) AS text
       |  FROM skept GROUP BY doc_id)
       |SELECT c.doc_id, d.lang, c.text
       |FROM sclean c JOIN $src d USING (doc_id)""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q97_repeated_spans" -> { (s, dir) =>
      repeatedSpans(Tables.load(s, dir, "documents"))
    },
    "q98_source_overlap" -> { (s, dir) =>
      sourceOverlap(Tables.load(s, dir, "documents"))
    },
    "q99_span_scrub" -> { (s, dir) =>
      scrubSpans(Tables.load(s, dir, "documents"))
    },
  )

  /** The W-token window table CTEs, shared by both oracles — the q44
    * gram pattern widened to W tokens with positions kept. */
  private def winCtes(grams: String): String = {
    val cat = (0 until W).map(j => s"t[i+$j]").mkString(" || ' ' || ")
    s"""tok AS (
       |  SELECT doc_id, source, string_split_regex(text, '\\s+') AS t
       |  FROM documents),
       |g0 AS (
       |  SELECT doc_id, source, t,
       |    unnest(generate_series(1, greatest(len(t) - ${W - 1}, 0))) AS i
       |  FROM tok),
       |$grams AS (
       |  SELECT doc_id, source, i, $cat AS g FROM g0)""".stripMargin
  }

  private def oracle97: String =
    s"""WITH ${winCtes("win")},
       |rep AS (SELECT g FROM win GROUP BY g HAVING count(*) >= 2),
       |marked AS (SELECT doc_id, i FROM win WHERE g IN (SELECT g FROM rep)),
       |flg AS (
       |  SELECT doc_id, i,
       |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= $W
       |      THEN 0 ELSE 1 END AS f
       |  FROM marked),
       |isl AS (
       |  SELECT doc_id, i,
       |    sum(f) OVER (PARTITION BY doc_id ORDER BY i) AS island
       |  FROM flg)
       |SELECT doc_id, min(i) AS span_start, max(i) + ${W - 1} AS span_end,
       |  max(i) - min(i) + $W AS span_tokens, count(*) AS n_windows
       |FROM isl GROUP BY doc_id, island""".stripMargin

  private def oracle98: String =
    s"""WITH ${winCtes("win")},
       |sg AS (SELECT DISTINCT source, g FROM win),
       |tot AS (SELECT source, count(*) AS total_a FROM sg GROUP BY source),
       |pr AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |    count(*) AS shared_grams
       |  FROM sg a JOIN sg b ON a.g = b.g AND a.source <> b.source
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, shared_grams, t.total_a,
       |  shared_grams * 1000000 // t.total_a AS containment_ppm
       |FROM pr JOIN tot t ON t.source = pr.source_a""".stripMargin

  private def oracle99: String =
    s"""WITH ${winCtes("win")},
       |rep AS (SELECT g FROM win GROUP BY g HAVING count(*) >= 2),
       |marked AS (SELECT doc_id, i FROM win WHERE g IN (SELECT g FROM rep)),
       |flg AS (
       |  SELECT doc_id, i,
       |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= $W
       |      THEN 0 ELSE 1 END AS f
       |  FROM marked),
       |isl AS (
       |  SELECT doc_id, i,
       |    sum(f) OVER (PARTITION BY doc_id ORDER BY i) AS island
       |  FROM flg),
       |spans AS (
       |  SELECT doc_id, min(i) AS s, max(i) + ${W - 1} AS e
       |  FROM isl GROUP BY doc_id, island),
       |tt AS (
       |  SELECT doc_id, unnest(generate_series(1, len(t))) AS i, t
       |  FROM tok),
       |tw AS (SELECT doc_id, i, t[i] AS w FROM tt),
       |kept AS (
       |  SELECT doc_id, i, w FROM tw
       |  WHERE NOT EXISTS (SELECT 1 FROM spans s
       |    WHERE s.doc_id = tw.doc_id AND tw.i BETWEEN s.s AND s.e))
       |SELECT doc_id, count(*) AS n_tokens_kept,
       |  string_agg(w, ' ' ORDER BY i) AS text_clean
       |FROM kept GROUP BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q97_repeated_spans" -> oracle97,
    "q98_source_overlap" -> oracle98,
    "q99_span_scrub" -> oracle99,
  )
}
