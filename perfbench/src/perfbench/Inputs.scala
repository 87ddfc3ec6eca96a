package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generation. The program under test only ever sees the
  * files written here. */
object Inputs {

  /** The CFHT rectangle of the README quickstart, [raMin, decMin, raMax, decMax]. */
  val Bounds: (Double, Double, Double, Double) = (31.0, -11.0, 38.0, -4.0)
  val Clusters = 200
  val ClusterSigmaDeg = 0.1

  /** Uniform in [0,1) from (id, salt); partition-independent, so the same
    * seed writes the same catalog at any parallelism. */
  private def unif(id: org.apache.spark.sql.Column, salt: Long) =
    (shiftright(xxhash64(id, lit(salt)), 11).cast("double") + lit(4503599627370496.0)) /
      lit(9007199254740992.0)

  /** Pseudo-catalog of `m` objects: half area-uniform over the rectangle,
    * half in `Clusters` compact Gaussian clusters. Written as `parts`
    * Parquet files so the scan spreads over the session's cores. */
  def skyCatalog(spark: SparkSession, path: Path, m: Long, seed: Long, parts: Int): Unit = {
    val (raMin, decMin, raMax, decMax) = Bounds
    val rng = new SplittableRandom(seed)
    val pad = 3 * ClusterSigmaDeg
    val centers = Seq.fill(Clusters) {
      (raMin + pad + rng.nextDouble() * (raMax - raMin - 2 * pad),
        decMin + pad + rng.nextDouble() * (decMax - decMin - 2 * pad))
    }
    val cRa = array(centers.map(c => lit(c._1)): _*)
    val cDec = array(centers.map(c => lit(c._2)): _*)
    val zLo = math.sin(math.toRadians(decMin))
    val zHi = math.sin(math.toRadians(decMax))
    val id = col("id")
    val u = (k: Long) => unif(id, seed * 31 + k)
    val gauss = (k: Long) =>
      sqrt(lit(-2.0) * log(lit(1.0) - u(k))) * cos(lit(2 * math.Pi) * u(k + 1))
    val cid = (floor(u(2) * Clusters).cast("int") + 1)
    val clustered = (id % 2) === 1
    val cDecOf = element_at(cDec, cid)
    val dec = when(clustered, cDecOf + lit(ClusterSigmaDeg) * gauss(3))
      .otherwise(degrees(asin(lit(zLo) + u(5) * lit(zHi - zLo))))
    val ra = when(clustered, element_at(cRa, cid) +
        lit(ClusterSigmaDeg) * gauss(6) / cos(radians(cDecOf)))
      .otherwise(lit(raMin) + u(8) * lit(raMax - raMin))
    spark.range(0, m, 1, parts).select(
      id.as("object_id"), ra.as("ra"), dec.as("dec"),
      (lit(22.0) + lit(1.5) * gauss(9)).as("mag_r"),
      (u(11) * 2.0).as("z_phot"))
      .write.mode("overwrite").parquet(path.toString)
  }

  private val Vocab = ("join hash row batch scan column customer filter small slow merge " +
    "order vector line table data agg value key stream window a spark part group big " +
    "sort query fast the").split(" ")
  private val Langs = Seq("en" -> 0.42, "zh" -> 0.145, "es" -> 0.145, "de" -> 0.145, "fr" -> 0.145)

  /** The curation corpus in the shape of the repository's test corpus:
    * `documents` (30-word vocabulary, 10–100 words, one doc in twenty
    * a copy of an earlier doc plus " dup") and `embeddings` (64-d unit
    * vectors around ten weak label centres). Each table is ONE Parquet
    * file, as in the test corpus. */
  def corpus(spark: SparkSession, dir: Path, nDocs: Int, nVecs: Int, seed: Long): Unit = {
    Files.createDirectories(dir)
    val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val texts = new Array[String](nDocs)
    val docs = (0 until nDocs).map { i =>
      texts(i) =
        if (i > 0 && rng.nextDouble() < 0.05) texts(rng.nextInt(i)) + " dup"
        else Seq.fill(10 + rng.nextInt(91))(Vocab(rng.nextInt(Vocab.length))).mkString(" ")
      val p = rng.nextDouble()
      val lang = Langs.scanLeft(("", 0.0)) { case ((_, acc), (l, w)) => (l, acc + w) }
        .drop(1).find(_._2 > p).map(_._1).getOrElse("fr")
      Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    singleFile(spark.createDataFrame(java.util.Arrays.asList(docs: _*), docSchema),
      dir, "documents")

    val dim = 64
    val centers = Array.fill(10, dim)(rng.nextGaussian())
    val vecs = (0 until nVecs).map { i =>
      val label = rng.nextInt(10)
      val v = Array.tabulate(dim)(d => 0.1 * centers(label)(d) + rng.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    singleFile(spark.createDataFrame(java.util.Arrays.asList(vecs: _*), vecSchema),
      dir, "embeddings")
  }

  /** Write `df` as the single file `dir/name.parquet`. */
  private def singleFile(df: DataFrame, dir: Path, name: String): Unit = {
    val tmp = dir.resolve(s".$name.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(p => p.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, dir.resolve(s"$name.parquet"))
    Files.walk(tmp).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }

  /** The README quickstart analysis (compute_distances → compute_result,
    * min radius 5″), installed into a fresh registry at `registry`. */
  def installQuickstart(registry: Path, analysisDir: Path): Unit = {
    Files.createDirectories(analysisDir)
    Files.writeString(analysisDir.resolve("parameters.json"),
      """{"name": "quickstart",
        | "sampling_parameters": {"sample_shape": "Circle", "sample_dimensions": "@Main.radius"},
        | "output_parameters": {"output_formats": "dataframe", "write_format": "csv"}}""".stripMargin)
    Files.writeString(analysisDir.resolve("transformations.json"),
      """{"Main": {
        |  "compute_distances": {"needed-data": ["catalog"]},
        |  "compute_result": {"dependencies": {"compute_distances": "catalog"},
        |    "needed-data": ["samples"], "needed-parameters": ["Main.min_radius"],
        |    "is-output": true}}}""".stripMargin)
    new graft.registry.AnalysisRegistry(registry).install(analysisDir)
  }

  /** A `cosmap run` config for `analysis`: `n` 2-arcmin samples drawn
    * with `seed`, appended as CSV to `output` when one is given. */
  def runConfig(analysis: String, n: Long, seed: Long, output: Option[Path]): String = {
    val (raMin, decMin, raMax, decMax) = Bounds
    val sink = output.fold("")(p => s""" "output": ${Json.str(p.toAbsolutePath.toString)},""")
    s"""{"base-analysis": "$analysis",$sink
       | "sampling_parameters": {"region_type": "Rectangle",
       |   "region_bounds": {"value": [$raMin, $decMin, $raMax, $decMax], "units": "degree"},
       |   "sample_type": "Random", "n_samples": $n, "seed": $seed},
       | "radius": {"value": 2, "units": "arcmin"},
       | "min_radius": {"value": 5, "units": "arcsec"},
       | "output_parameters": {"write_format": "csv"}}""".stripMargin
  }
}
