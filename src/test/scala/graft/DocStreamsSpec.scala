package graft

import graft.Cut._
import graft.streaming.DocStreams
import org.apache.spark.sql.functions._

/** The streaming form of q145: increment docs arriving as
  * micro-batches, flagged per trigger against the static corpus
  * index. Because per-doc flags depend only on the doc and the
  * STATIC corpus, the union of micro-batch outputs must equal the
  * batch q145 report over the same docs — proven here doc-for-doc
  * against the gate operator itself. */
class DocStreamsSpec extends SparkSpec {

  test("streaming incremental dedup ≡ batch q145, across micro-batch boundaries") {
    val d = Tables.load(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val h = substring(md5(col("doc_id").cast("string")), 1, 8)
    val corpus = d.filter(h < "cccccccc")
    val inc = d.filter(h >= "cccccccc")

    // the batch gate's answer for the same increment
    val want = graft.operators.Dedup.incrementalDedup(d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet

    val idx = DocStreams.buildIndex(corpus)
    // increment arrives as TWO micro-batches (one file per trigger)
    val tmp = java.nio.file.Files.createTempDirectory("graftincstream")
    val watch = tmp.resolve("in"); java.nio.file.Files.createDirectories(watch)
    val ids = inc.select("doc_id").collect().map(_.getLong(0)).sorted
    val cut = ids(ids.length / 2)
    inc.filter(col("doc_id") <= cut).coalesce(1)
      .write.parquet(watch.resolve("b0").toString)
    inc.filter(col("doc_id") > cut).coalesce(1)
      .write.parquet(watch.resolve("b1").toString)

    val got = scala.collection.mutable.Set.empty[(Long, Long, Long, Long, Long)]
    val stream = spark.readStream
      .schema(inc.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(watch.toString + "/*")
    val q = DocStreams.run(stream, idx, (flags, _) =>
      got.synchronized {
        got ++= flags.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4)))
      })
    q.processAllAvailable()
    q.stop()

    assert(got.toSet === want, "streamed flags diverged from batch q145")
    assert(want.exists(_._5 == 1L), "corpus should contain cross-split dups")
    assert(got.size === ids.length, "every streamed doc must be flagged once")
  }

  test("q154 merge-refresh: merged index ≡ index rebuilt from corpus ∪ survivors, row for row") {
    val d = Tables.load(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val h = substring(md5(col("doc_id").cast("string")), 1, 8)
    val corpus = d.filter(h < "aaaaaaaa")
    val day1 = d.filter(h >= "aaaaaaaa" && h < "dddddddd")

    val idx = DocStreams.buildIndex(corpus)
    val f1 = DocStreams.flagBatch(day1, idx).cut("DocStreamsSpec: day-1 flags")
    val survivors = day1.join(
      f1.filter(col("is_dup") === 0L).select("doc_id"), Seq("doc_id"),
      "left_semi").cut("DocStreamsSpec: day-1 survivors")
    assert(survivors.count() > 0 && survivors.count() < day1.count(),
      "split must produce both dups and survivors for the merge to matter")

    val merged = DocStreams.mergeIndex(idx, survivors)
    val rebuilt = DocStreams.buildIndex(corpus.unionByName(survivors))
    // band keys and gram arrays are per-doc deterministic ⇒ the merged
    // index must be ROW-IDENTICAL to a from-scratch rebuild
    assert(merged.buckets.exceptAll(rebuilt.buckets).count() === 0)
    assert(rebuilt.buckets.exceptAll(merged.buckets).count() === 0)
    val mg = merged.grams.select(col("doc_b"), col("ng_b"),
      concat_ws("", col("grams_b")).as("gj"))
    val rg = rebuilt.grams.select(col("doc_b"), col("ng_b"),
      concat_ws("", col("grams_b")).as("gj"))
    assert(mg.exceptAll(rg).count() === 0)
    assert(rg.exceptAll(mg).count() === 0)

    // and day-2 flags over either index agree doc-for-doc
    val day2 = d.filter(h >= "dddddddd")
    val viaMerged = DocStreams.flagBatch(day2, merged).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val viaRebuilt = DocStreams.flagBatch(day2, rebuilt).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(viaMerged === viaRebuilt)
  }

  test("streaming quality scoring ≡ batch scoreDocs, across micro-batch boundaries") {
    val d = Tables.load(spark, sf0001, "documents")
    val w = graft.operators.Perceptron.trainPocket(d)
    val docs = d.select(col("doc_id"), col("text"))
    val want = graft.operators.Perceptron.scoreDocs(docs, w).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val tmp = java.nio.file.Files.createTempDirectory("graftscorestream")
    val watch = tmp.resolve("in"); java.nio.file.Files.createDirectories(watch)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val cut = ids(ids.length / 2)
    docs.filter(col("doc_id") <= cut).coalesce(1)
      .write.parquet(watch.resolve("b0").toString)
    docs.filter(col("doc_id") > cut).coalesce(1)
      .write.parquet(watch.resolve("b1").toString)

    val got = scala.collection.mutable.Set.empty[(Long, Long)]
    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(watch.toString + "/*")
    val q = DocStreams.scoreStream(stream, w, (scores, _) =>
      got.synchronized {
        got ++= scores.collect().map(r => (r.getLong(0), r.getLong(1)))
      })
    q.processAllAvailable()
    q.stop()

    assert(got.toSet === want, "streamed scores diverged from batch scoreDocs")
    assert(got.size === ids.length, "every streamed doc must be scored once")
    // the model is informative, not a constant column
    assert(want.map(_._2).size > 1)
  }

  test("q154 gate output: day-2 catches a dup of a day-1 SURVIVOR — the merge is load-bearing") {
    val out = graft.operators.Dedup.indexMaintenance(
      Tables.load(spark, sf0001, "documents").select(col("doc_id"), col("text")))
      .cut("DocStreamsSpec: q154 report")
    // day-1 rows flagged against the standing corpus only
    assert(out.filter(col("day") === 1L).count() > 0)
    // at least one day-2 dup's best match is a day-1 doc (md5 in the
    // day-1 band) — impossible without the survivor merge
    val d2day1 = out.filter(col("day") === 2L && col("is_dup") === 1L)
      .filter(substring(md5(col("best_match_id").cast("string")), 1, 8)
        .between("aaaaaaaa", "dddddddc"))
    assert(d2day1.count() > 0, "no day-2 dup matched a day-1 survivor")
  }
}
