package graft.tools

import graft.Cut._
import graft.functions.SplitMix64Kernel
import graft.multimodal.{ImageGen, Media, Multimodal}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-shot generator for the q165/q166 video fixtures (spec-pinned
  * run):
  *
  *   fixtures/video.parquet          (id, payload) — 240 MJPEG-AVI
  *                                   clips, 8 frames each
  *   fixtures/video_features.parquet (id, d, v)    — their pooled
  *                                   integer features via the SAME
  *                                   Multimodal.videoIntFeatures the
  *                                   live gate path runs
  *
  * Each clip is 8 JPEG frames (the ImageGen three-fill drawing, frame
  * key = g·64 + f) in a hand-rolled RIFF/AVI container (LIST hdrl
  * with a minimal avih + LIST movi of 00dc chunks — the real MJPEG
  * layout `Multimodal.aviVideoFrames` walks). Pair (2g, 2g+1):
  * identical frame bytes except ONE deterministic frame where the odd
  * clip's rectangle is one pixel wider — the q156 lesson applied to
  * video: the perturbation moves the pooled FEATURES of exactly one
  * temporal segment (a shift would move nothing; identical frames
  * byte-equal, so the other segments contribute zero distance).
  * JPEG encode/decode is deterministic for a pinned JVM, and the
  * feature fixture is written by this same run, so the checked-in
  * table replays bit-identically from the checked-in clips
  * (MultimodalSpec pins it).
  *
  *   sbt "Test/runMain graft.tools.GenVideoFixture"
  */
object GenVideoFixture {

  val NumClips = 240
  val Frames = 8

  /** Video's own salt base for frame composition and the perturbed-
    * frame choice. */
  val VideoBase = 0x165F11C0L

  private def p(g: Long, salt: Long, mod: Int): Int = {
    val m = SplitMix64Kernel.mix(VideoBase + g * 131L + salt)
    (((m % mod) + mod) % mod).toInt
  }

  /** The AVI container builder moved to main scope in round 11
    * (graft.multimodal.VideoGen — the scaled corpus synthesizes the
    * same layout per documents row); this delegation keeps the
    * checked-in fixtures byte-identical across the refactor. */
  def aviBytes(frames: Seq[Array[Byte]]): Array[Byte] =
    graft.multimodal.VideoGen.aviBytes(frames)

  private def jpegOf(key: Long, shift: Int): Array[Byte] = {
    val png = ImageGen.draw(key, VideoBase, shift)
    // re-encode the drawn canvas as JPEG (the MJPEG codec): decode the
    // deterministic PNG, write JPEG at the writer's default quality
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(png))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  def drawAvi(id: Long): Array[Byte] = {
    val g = id / 2
    val odd = (id % 2).toInt
    val fPert = p(g, 99, Frames) // which frame the odd clip perturbs
    val frames = (0 until Frames).map { f =>
      jpegOf(g * 64L + f, if (odd == 1 && f == fPert) 1 else 0)
    }
    aviBytes(frames)
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption
      .getOrElse(graft.operators.ImageDedup.FixturesDir)
    val spark = SparkSession.builder().master("local[4]")
      .appName("gen-video-fixture")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val media = (0L until NumClips.toLong)
      .map(id => Media(id, "video/avi", drawAvi(id), Map.empty))
    val mediaDs = media.toDS().repartition(4)
    mediaDs.select(col("id"), col("payload"))
      .coalesce(1).sort(col("id"))
      .write.mode("overwrite").parquet(s"$out/video.parquet")
    val feats = Multimodal.videoIntFeatures(mediaDs).toDF().cut("GenVideoFixture: features")
    feats.coalesce(1).sort(col("id"), col("d"))
      .write.mode("overwrite").parquet(s"$out/video_features.parquet")
    val n = spark.read.parquet(s"$out/video.parquet").count()
    val nf = spark.read.parquet(s"$out/video_features.parquet").count()
    // measured separation report: planted-pair L1 vs nearest unrelated
    val a = feats.select(col("id"), col("d"), col("v").as("va"))
    val b = feats.select(col("id").as("idb"), col("d"), col("v").as("vb"))
    val l1 = a.join(b, Seq("d"))
      .filter(col("id") < col("idb"))
      .groupBy(col("id"), col("idb"))
      .agg(sum(abs(col("va") - col("vb"))).as("l1"))
    val planted = l1.filter(col("idb") === col("id") + 1 &&
      col("id") % 2 === 0)
    val unrelated = l1.filter(!(col("idb") === col("id") + 1 &&
      col("id") % 2 === 0))
    val ps = planted.agg(min("l1"), max("l1")).head
    val us = unrelated.agg(min("l1")).head
    println(s"[gen-video-fixture] wrote $n clips, $nf feature rows to $out")
    println(s"[gen-video-fixture] planted L1 in [${ps.get(0)}, ${ps.get(1)}]; " +
      s"unrelated min L1 = ${us.get(0)}")
    spark.stop()
  }
}
