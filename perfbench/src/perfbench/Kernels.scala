package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._

/** Column-kernel microbenchmark: each kernel's public column function
  * over a cached in-memory frame built from a workload's inputs, written
  * to the noop sink. The bare projection of the kernel's input columns is
  * timed the same way and subtracted, so the figure is the kernel's own
  * cost: wall nanoseconds per row on the session's cores. */
object Kernels {
  val Reps = 3
  /** Frame sizes: replication factors over the generated inputs. */
  val TextCopies = 100
  val MediaCopies = 100
  val SkyCenters = 10

  private val Dims = 64
  private val Planes: Seq[(Int, Int, Long)] =
    for (j <- 0 until 64; d <- 0 until Dims)
      yield (j, d, if (SplitMix64Kernel.mix(j * 1000L + d) < 0) -1L else 1L)
  private val Center: Seq[Long] = Seq.fill(Dims)(0L)
  private val Masks = SignProjectKernel.masks(16, 106L)

  private def quantized(c: Column): Column =
    transform(c, x => round(x * 1e4).cast("bigint"))

  def run(spark: SparkSession, corpus: Path, catalog: Path, probe: Probe): Trace.Metrics = {
    val copies = spark.range(TextCopies).toDF("copy")
    val text = spark.read.parquet(corpus.resolve("documents.parquet").toString)
      .select(Text.tokens(col("text")).as("tokens")).crossJoin(copies).drop("copy")
    val emb = spark.read.parquet(corpus.resolve("embeddings.parquet").toString)
    val n = emb.count()
    val media = emb.select(col("vec_id"), col("embedding").as("e1"))
      .join(emb.select(((col("vec_id") + 1) % n).as("vec_id"), col("embedding").as("e2")), "vec_id")
      .select(col("e1"), col("e2"), quantized(col("e1")).as("v1"), quantized(col("e2")).as("v2"))
      .select(col("*"), MediaChunks(col("v1"), Planes, Center).as("c1"),
        MediaChunks(col("v2"), Planes, Center).as("c2"))
      .crossJoin(spark.range(MediaCopies).toDF("copy")).drop("copy")
    val sky = spark.read.parquet(catalog.toString).select("object_id", "ra", "dec")
      .crossJoin(spark.range(SkyCenters).select(
        (lit(33.0) + col("id") * 0.1).as("s_ra"), (lit(-8.0) + col("id") * 0.05).as("s_dec"),
        lit(2.0 / 60).as("r")))

    val groups: Seq[(DataFrame, Seq[(String, Column, Seq[String])])] = Seq(
      text -> Seq(
        ("word_ngrams", NGrams.wordNGrams(col("tokens"), 3), Seq("tokens")),
        ("minhash_sig", MinHashSig.minhashSignature(col("tokens"), 64, 3), Seq("tokens")),
        ("simhash64", SimHash.simhash64(col("tokens")), Seq("tokens")),
        ("simhash_wide", SimHash.simhashWide(col("tokens"), 128), Seq("tokens"))),
      media -> Seq(
        ("media_chunks", MediaChunks(col("v1"), Planes, Center), Seq("v1")),
        ("chunk_hamming", ChunkHamming(col("c1"), col("c2")), Seq("c1", "c2")),
        ("arr_l1", ArrL1(col("v1"), col("v2")), Seq("v1", "v2")),
        ("cosine_fast", VectorExprs.cosineFast(col("e1"), col("e2")), Seq("e1", "e2")),
        ("sign_project", NormSignProject(col("e1"), Masks), Seq("e1"))),
      sky -> Seq(
        ("splitmix_uniform", SplitMix64.uniform(col("object_id"), 7L), Seq("object_id")),
        ("sphere_sep", Sphere.angularSepDeg(col("ra"), col("dec"), col("s_ra"), col("s_dec")),
          Seq("ra", "dec", "s_ra", "s_dec")),
        ("cone_contains", ConeContainsFn.coneContains(col("ra"), col("dec"), col("s_ra"),
          col("s_dec"), col("r")), Seq("ra", "dec", "s_ra", "s_dec", "r"))))

    groups.flatMap { case (frame, kernels) =>
      val cached = frame.cache()
      val rows = cached.count()
      val out = kernels.map { case (name, kernel, inputs) =>
        def time(cols: Seq[Column]): Double = {
          val t0 = System.nanoTime()
          cached.select(cols: _*).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0).toDouble
        }
        val bare = inputs.map(col)
        val (perRow, _) = probe.span(s"functions.$name") {
          time(bare); time(Seq(kernel))
          val pairs = (1 to Reps).map(_ => (time(bare), time(Seq(kernel))))
          (Main.median(pairs.map(_._2)) - Main.median(pairs.map(_._1))) / rows
        }
        s"functions.$name.ns_per_row" -> (perRow, "ns")
      }
      cached.unpersist(blocking = true)
      out
    }
  }
}
