package graft

import graft.config.ConfigTree
import graft.domain.SphereSampler
import graft.operators.CosmapDomain
import graft.output.Sinks
import graft.pipeline._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end parity: the README quickstart
  * (/root/reference/README.md:55-174) expressed as run-config JSON +
  * transformations JSON + the two shipped transforms
  * (`StandardTransforms.registry`), executed by AnalysisRunner — and required to equal the hand-built native
  * pipeline (q33) row for row. */
class AnalysisRunnerSpec extends SparkSpec {

  private val runConfig =
    """{
      |  "base-analysis": "quickstart",
      |  "threads": 4,
      |  "sampling_parameters": {
      |    "region_type": "Rectangle",
      |    "region_bounds": {"value": [31.0, -11.0, 38, -4], "units": "degree"},
      |    "sample_type": "Random",
      |    "n_samples": 1000,
      |    "seed": 42
      |  },
      |  "radius": {"value": 2, "units": "arcmin"},
      |  "min_radius": {"value": 5, "units": "arcsec"}
      |}""".stripMargin

  private val analysisDefaults =
    """{
      |  "sampling_parameters": {
      |    "sample_shape": "Circle",
      |    "sample_dimensions": "@Main.radius"
      |  },
      |  "output_parameters": {
      |    "output_formats": "dataframe",
      |    "write_format": "csv"
      |  }
      |}""".stripMargin

  private val transformations =
    """{
      |  "Main": {
      |    "compute_distances": {
      |      "needed-data": ["catalog"]
      |    },
      |    "compute_result": {
      |      "dependencies": {"compute_distances": "catalog"},
      |      "needed-data": ["samples"],
      |      "needed-parameters": ["Main.min_radius"],
      |      "is-output": true
      |    }
      |  }
      |}""".stripMargin

  private val registry = graft.cli.StandardTransforms.registry

  private def catalog = Tables.load(spark, sf0001, "lineitem").select(
    col("l_orderkey").as("object_id"),
    (lit(31.0) + (col("l_orderkey") % 7000).cast("double") / 1000.0).as("ra"),
    (lit(-11.0) + (col("l_partkey") % 7000).cast("double") / 1000.0).as("dec"))

  test("quickstart config+spec pipeline equals the native q33 pipeline exactly") {
    val declared = AnalysisRunner.run(spark, runConfig, analysisDefaults,
      transformations, registry, catalog)
      .orderBy("sample_id").collect()
    // compare against the RAW pipeline (no display rounding) so the
    // parity check stays bit-strength; the q33 gate query is this
    // plus round-6 on dec for cross-engine oracle determinism
    val native = CosmapDomain.quickstartRaw(spark, sf0001)
      .orderBy("sample_id").collect()
    assert(declared.length === 1000)
    assert(declared.sameElements(native))
  }

  /** The quickstart reduction over a nested-loop reference join of
    * the runner's own samples: what the band-joined run must equal. */
  private def quickstartOver(joined: DataFrame, samples: DataFrame) =
    CosmapDomain.quickstartAggregate(joined, samples, minSepArcsec = 5.0)
      .orderBy("sample_id").collect()

  test("band-join execution of the same analysis gives identical results") {
    val bandPlan = AnalysisRunner.run(spark, runConfig, analysisDefaults,
      transformations, registry, catalog).orderBy("sample_id").collect()
    val samples = SphereSampler.uniformCircles(spark, 1000,
      CosmapDomain.QuickstartBounds, 2.0 / 60.0, seed = 42L)
    val reference = quickstartOver(NestedLoopJoins.cone(catalog, samples), samples)
    assert(reference.map(_.getLong(3)).sum > 0)
    assert(bandPlan.sameElements(reference))
  }

  test("non-Circle/Rectangle sample shape is a hard error (task.py:76-77)") {
    val badDefaults = analysisDefaults.replace("\"Circle\"", "\"Square\"")
    val e = intercept[DagCompiler.PipelineError] {
      AnalysisRunner.run(spark, runConfig, badDefaults, transformations,
        registry, catalog)
    }
    assert(e.getMessage.contains("Square"))
  }

  test("Rectangle sample shape runs the same analysis end-to-end (beyond the reference)") {
    val rectDefaults = analysisDefaults.replace("\"Circle\"", "\"Rectangle\"")
    val rectConfig = runConfig.replace(
      """"radius": {"value": 2, "units": "arcmin"}""",
      """"radius": {"value": [4, 2], "units": "arcmin"}""")
    val out = AnalysisRunner.run(spark, rectConfig, rectDefaults,
      transformations, registry, catalog).orderBy("sample_id").collect()
    assert(out.length === 1000)
    // per-sample aggregation ran on rectangle contents: some samples
    // see objects, every sample emits a row
    assert(out.map(_.getLong(3)).sum > 0)
    // the band plan equals the nested-loop reference for rectangles too
    val samples = SphereSampler.uniformRects(spark, 1000,
      CosmapDomain.QuickstartBounds, 4.0 / 60.0, 2.0 / 60.0, seed = 42L)
    assert(out.sameElements(quickstartOver(NestedLoopJoins.rect(catalog, samples), samples)))
  }

  test("seed takes the forms n_samples takes; another type is an error, absence is 42") {
    def seedOf(seedJson: String): Long = AnalysisRunner.parseSampling(
      AnalysisRunner.effectiveConfig(
        ConfigTree.parse(runConfig.replace("\"seed\": 42", seedJson)),
        ConfigTree.parse(analysisDefaults))).seed
    assert(seedOf("\"seed\": 7") === 7L)
    assert(seedOf("\"seed\": 7.0") === 7L)
    assert(seedOf("\"sample_seed\": 7") === 42L)
    val e = intercept[DagCompiler.PipelineError](seedOf("\"seed\": \"7\""))
    assert(e.getMessage.contains("seed"))
  }

  test("region_bounds: a scalar or a list of the wrong length is a PipelineError") {
    def boundsOf(boundsJson: String) = AnalysisRunner.parseSampling(
      AnalysisRunner.effectiveConfig(
        ConfigTree.parse(runConfig.replace(
          """{"value": [31.0, -11.0, 38, -4], "units": "degree"}""", boundsJson)),
        ConfigTree.parse(analysisDefaults))).bounds
    assert(boundsOf("[31.0, -11.0, 38, -4]") === CosmapDomain.QuickstartBounds)
    for (bad <- Seq("""{"value": 5, "units": "deg"}""",
                    """{"value": [31.0, -11.0, 38], "units": "deg"}""",
                    "[31.0, -11.0, 38, -4, 0]", """"north"""")) {
      val e = intercept[DagCompiler.PipelineError](boundsOf(bad))
      assert(e.getMessage.contains("region_bounds"), e.getMessage)
    }
  }

  test("sample_dimensions: a size <= 0, non-finite or malformed is a PipelineError") {
    def shapeOf(shape: String, radiusJson: String) = AnalysisRunner.parseSampling(
      AnalysisRunner.effectiveConfig(
        ConfigTree.parse(runConfig.replace(
          """{"value": 2, "units": "arcmin"}""", radiusJson)),
        ConfigTree.parse(analysisDefaults.replace("\"Circle\"", s"\"$shape\"")))).shape
    assert(shapeOf("Circle", """{"value": 2, "units": "arcmin"}""") ===
      AnalysisRunner.SampleShape.Circle(2.0 / 60.0))
    assert(shapeOf("Rectangle", """{"value": [4, 2], "units": "arcmin"}""") ===
      AnalysisRunner.SampleShape.Rect(4.0 / 60.0, 2.0 / 60.0))
    // a negative radius would widen the sampled frame past region_bounds
    for ((shape, bad) <- Seq(
        "Circle" -> """{"value": -2, "units": "arcmin"}""",
        "Circle" -> """{"value": 0, "units": "arcmin"}""",
        "Circle" -> """{"value": 1e999, "units": "arcmin"}""",
        "Circle" -> """{"value": "two", "units": "arcmin"}""",
        "Circle" -> """{"value": [2, 3], "units": "arcmin"}""",
        "Rectangle" -> """{"value": [4, -2], "units": "arcmin"}""",
        "Rectangle" -> """{"value": [0, 2], "units": "arcmin"}""")) {
      val e = intercept[DagCompiler.PipelineError](shapeOf(shape, bad))
      assert(e.getMessage.contains("sample_dimensions"), s"$shape $bad: ${e.getMessage}")
    }
  }

  test("run config overrides analysis defaults right-biased") {
    val cfg = AnalysisRunner.effectiveConfig(
      ConfigTree.parse(runConfig), ConfigTree.parse(analysisDefaults))
    // @Main.radius resolved through the merged tree: 2 arcmin
    val dims = ConfigTree.getPath(cfg, "sampling_parameters.sample_dimensions").get
    assert(ConfigTree.parseQuantityDeg(dims) === 2.0 / 60.0)
  }

  test("appendCsv: header only on create, rows accumulate") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftcsv").toFile
    dir.delete()
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Sinks.appendCsv(df, dir.getAbsolutePath, singleFile = true)
    Sinks.appendCsv(df, dir.getAbsolutePath, singleFile = true)
    val back = spark.read.option("header", "true").csv(dir.getAbsolutePath)
    // 4 data rows; second write must not add a header row
    assert(back.count() === 4)
    assert(back.columns.toSeq === Seq("id", "v"))
  }

  test("Sinks.write honors SaveMode for csv (overwrite no longer silently appends)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftcsvmode").toFile
    dir.delete()
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Sinks.write(df, dir.getAbsolutePath, "csv") // append (default)
    Sinks.write(df, dir.getAbsolutePath, "csv") // append again -> 4 rows
    assert(spark.read.option("header", "true")
      .csv(dir.getAbsolutePath).count() === 4)
    Sinks.write(df, dir.getAbsolutePath, "csv",
      org.apache.spark.sql.SaveMode.Overwrite) // replaces, not accumulates
    assert(spark.read.option("header", "true")
      .csv(dir.getAbsolutePath).count() === 2)
  }

  test("multiSink routes column subsets to separate destinations") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graftsink").toFile
    val df = Seq((1L, "x", 3.0)).toDF("id", "name", "score")
    Sinks.multiSink(df, Map(
      "ids" -> (Seq("id", "name"), s"$base/ids", "parquet"),
      "scores" -> (Seq("id", "score"), s"$base/scores", "parquet")))
    assert(spark.read.parquet(s"$base/ids").columns.toSeq === Seq("id", "name"))
    assert(spark.read.parquet(s"$base/scores").columns.toSeq === Seq("id", "score"))
  }
}

/** Demand-driven data pruning: an analysis whose DAG never declares
  * needed-data "catalog" must not execute the cone join at all
  * (analysis.py:71-77 semantics). */
class DemandPruningSpec extends SparkSpec {
  test("samples-only analysis never touches the catalog") {
    val transformations =
      """{"Main": {
        |  "count_samples": {
        |    "needed-data": ["samples"],
        |    "is-output": true}}}""".stripMargin
    val registry = graft.pipeline.TransformRegistry(
      "count_samples" -> graft.pipeline.Transform { args =>
        assert(!args.contains("catalog"))
        args("samples").asInstanceOf[org.apache.spark.sql.DataFrame]
          .groupBy().count().withColumnRenamed("count", "n_samples")
      })
    // a catalog whose read would throw if ever executed
    val poisonCatalog = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .selectExpr("l_orderkey as object_id",
        "assert_true(false) as ra", "1.0 as dec")
    val out = graft.pipeline.AnalysisRunner.run(spark,
      """{"sampling_parameters": {
        |  "region_bounds": {"value": [31.0, -11.0, 38, -4], "units": "degree"},
        |  "n_samples": 50, "seed": 1},
        | "radius": {"value": 2, "units": "arcmin"}}""".stripMargin,
      """{"sampling_parameters": {"sample_shape": "Circle",
        |  "sample_dimensions": "@Main.radius"}}""".stripMargin,
      transformations, registry, poisonCatalog)
    assert(out.head().getLong(0) === 50L)
  }
}
