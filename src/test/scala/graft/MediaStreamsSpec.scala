package graft

import graft.Cut._
import graft.multimodal.Multimodal
import graft.operators.ImageDedup
import graft.streaming.MediaStreams
import org.apache.spark.sql.functions._

/** The streaming form of q178: increment MEDIA arriving as
  * micro-batches of raw payloads, decoded in-trigger and flagged
  * against the static standing index. Per-row flags depend only on
  * the row and the static index, so the union of micro-batch outputs
  * must equal the batch q178 report over the same rows — proven here
  * row-for-row against the gate operator itself. */
class MediaStreamsSpec extends SparkSpec {

  test("streaming media ingest ≡ batch q178, across micro-batch boundaries; decode runs in-trigger") {
    val docs = Tables.load(spark, sf0001, "documents")
    val h = substring(md5(col("doc_id").cast("string")), 1, 8)

    // the batch gate's answer for the same increment
    val want = ImageDedup.queries("q178_image_incremental")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet

    // standing index: decode + fingerprint the md5-standing side once
    val idx = MediaStreams.buildIndex(
      Multimodal.imageIntFeatures(
        ImageDedup.scaledImagesFrom(docs.filter(h < "cccccccc"))).toDF(),
      ImageDedup.PlaneCoef, ImageDedup.Center, ImageDedup.L1Max)

    // the increment arrives as TWO micro-batches of RAW media rows
    val inc = ImageDedup.scaledImagesFrom(docs.filter(h >= "cccccccc"))
      .toDF().cut("MediaStreamsSpec: raw increment")
    val ids = inc.select("id").collect().map(_.getLong(0)).sorted
    val cut = ids(ids.length / 2)
    val tmp = java.nio.file.Files.createTempDirectory("graftmediastream")
    val watch = tmp.resolve("in"); java.nio.file.Files.createDirectories(watch)
    inc.filter(col("id") <= cut).coalesce(1)
      .write.parquet(watch.resolve("b0").toString)
    inc.filter(col("id") > cut).coalesce(1)
      .write.parquet(watch.resolve("b1").toString)

    val got = scala.collection.mutable.Set.empty[(Long, Long, Long, Long, Long)]
    var batches = 0
    val stream = spark.readStream
      .schema(inc.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(watch.toString + "/*")
    val q = MediaStreams.runImages(stream, idx, (flags, _) =>
      got.synchronized {
        batches += 1
        got ++= flags.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4)))
      })
    q.processAllAvailable()
    q.stop()

    assert(batches >= 2, s"expected >= 2 triggers, saw $batches")
    assert(got.toSet === want, "streamed media flags diverged from batch q178")
    assert(want.exists(_._5 == 1L), "corpus should contain cross-split dups")
    assert(got.size === ids.length, "every streamed clip must be flagged once")
  }
}
