package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column algebra for large-scale corpus pipelines
  * (north-star surface beyond the reference; see the build brief and
  * SURVEY.md §7 step 7). All pure built-in compositions — each
  * function is a `Column` expression evaluated inside codegen, no
  * UDFs, so they vectorize over 100 TB of documents exactly like any
  * other projection.
  */
object Text {

  /** Whitespace tokenization. */
  def tokens(c: Column): Column = split(c, "\\s+")

  /** Distinct word n-grams as an array column (shingles), via the
    * codegen'd [[NGrams]] kernel — the HOF formulation's interpreted
    * per-element lambdas were the q44 bottleneck (see NGrams.scala).
    * Texts with fewer than `n` tokens yield an empty array (matching
    * the oracle's empty generate_series(1, 0); the unguarded HOF
    * version crashed on them — round-1 advice). */
  def wordNGrams(c: Column, n: Int): Column =
    NGrams.wordNGrams(tokens(c), n)

  /** Character n-grams (for language-ID-style profiles); same short-
    * input guard as [[wordNGrams]]. */
  def charNGrams(c: Column, n: Int): Column =
    when(length(c) >= n,
      array_distinct(transform(
        sequence(lit(1), length(c) - lit(n - 1)),
        i => c.substr(i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Count of tokens that appear in `words`. */
  def wordSetCount(c: Column, words: Seq[String]): Column =
    size(array_intersect_keep(tokens(c), words))

  /** Tokens retained that are in `words` (with duplicates). */
  private def array_intersect_keep(toks: Column, words: Seq[String]): Column =
    filter(toks, t => t.isInCollection(words))

  /** Normalized content fingerprint: md5 of lowercased,
    * whitespace-collapsed, trimmed text — the exact-dedup key. */
  def fingerprint(c: Column): Column =
    md5(trim(lower(regexp_replace(c, "\\s+", " "))))
}
