package graft.tools

import graft.Cut._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool (r14 optimization round, session 2): stage-by-stage wall
  * timing of the q104 scrub/clean/dedup pipeline spine at a given sf
  * dir — isolates the span-scrub sub-stages (window build + count,
  * semi-join, islands, token rebuild) from clean/dedup/mix so
  * optimization effort lands where the time is (guide §1.1). Usage:
  *   Test/runMain graft.tools.PipeProfile /root/testdata/sf0.1 [cpus]
  */
object PipeProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = args.lift(1).getOrElse("32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    import graft.operators._
    import graft.functions.{NGrams, Text}
    val docs = graft.Tables.load(spark, dir, "documents")
    docs.count() // warm footer caches

    // --- span scrub sub-stages (the q99/q104 scrub node) ---
    val W = RepeatedSpans.W
    val win = docs.select(col("doc_id"),
        posexplode(NGrams.wordNGramsAll(Text.tokens(col("text")), W)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("i"),
        col("col").as("g"))
    t("scrub: win explode (count)") { win.count() }
    val rep = win.groupBy(col("g")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select(col("g"))
    t("scrub: rep gram count") { rep.count() }
    val marked = win.hint("shuffle_merge")
      .join(rep.hint("shuffle_merge"), Seq("g"), "left_semi")
      .select(col("doc_id"), col("i"))
    t("scrub: marked semi-join") { marked.count() }
    t("scrub: spans full") { noop(RepeatedSpans.repeatedSpans(docs)) }
    t("scrub: scrubSpans full") { noop(RepeatedSpans.scrubSpans(docs)) }

    // --- pipeline stages, chained as q104 runs them ---
    val scrubbed = t("stage: scrubKeep (chkpt)") {
      RepeatedSpans.scrubKeep(docs).cut("PipeProfile: scrubbed")
    }
    val cleaned = t("stage: cleanKeep (chkpt)") {
      TextAnalysis.cleanKeep(scrubbed).cut("PipeProfile: cleaned")
    }
    val deduped = t("stage: dedupKeep (chkpt)") {
      Dedup.dedupKeep(cleaned).cut("PipeProfile: deduped")
    }
    val mixed = t("stage: temperatureKeep (chkpt)") {
      Mixing.temperatureKeep(deduped).cut("PipeProfile: mixed")
    }
    val packed = t("stage: shardPack (chkpt)") {
      Mixing.shardPack(mixed).cut("PipeProfile: packed")
    }
    t("stage: chunk tail (noop)") {
      noop(packed
        .selectExpr("doc_id", "lang", "shard", "bin", "text",
          "CAST(length(text) AS BIGINT) AS len")
        .selectExpr("doc_id", "lang", "shard", "bin", "text",
          "explode(sequence(CAST(0 AS BIGINT), (1 + (greatest(len - 200, 0) + 149) div 150) - 1)) AS chunk_id")
        .selectExpr("doc_id", "lang", "shard", "bin", "chunk_id",
          "substring(text, CAST(chunk_id * 150 + 1 AS INT), 200) AS chunk_text",
          "CAST(length(substring(text, CAST(chunk_id * 150 + 1 AS INT), 200)) AS BIGINT) AS chunk_len"))
    }
    t("stage: q104 full query") {
      noop(graft.SparkEntry.queries("q104_corpus_prep_scrubbed")(spark, dir))
    }
    val q104out = t("q104: query fn (build+chkpt)") {
      graft.SparkEntry.queries("q104_corpus_prep_scrubbed")(spark, dir)
    }
    t("q104: noop over chkpt") { noop(q104out) }
    spark.stop()
  }
}
