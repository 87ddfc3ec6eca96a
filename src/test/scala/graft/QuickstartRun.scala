package graft

import graft.registry.AnalysisRegistry
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** A `cosmap run` fixture: the quickstart analysis installed in a
  * fresh registry, a synthetic catalog parquet inside the quickstart
  * region, and run-config writers — what `RunAnalysis.execute` takes. */
final class QuickstartRun(spark: SparkSession, sfDir: String) {
  import QuickstartRun._

  val registryDir: Path = {
    val analysisDir = Files.createTempDirectory("graft_quickstart")
    Files.writeString(analysisDir.resolve("parameters.json"), parameters)
    Files.writeString(analysisDir.resolve("transformations.json"), transformations)
    val dir = Files.createTempDirectory("graft_reg")
    new AnalysisRegistry(dir).install(analysisDir)
    dir
  }

  val catalogPath: String = {
    val path = Files.createTempDirectory("graft_cat").resolve("cat").toString
    Tables.load(spark, sfDir, "lineitem").selectExpr(
      "l_orderkey as object_id",
      "31.0 + (l_orderkey % 7000) / 1000.0 as ra",
      "-11.0 + (l_partkey % 7000) / 1000.0 as dec")
      .write.parquet(path)
    path
  }

  /** A fresh output path for a csv sink. */
  def outPath(): String =
    Files.createTempDirectory("graft_out").resolve("result.csv").toString

  /** [[runConfig]] written to a fresh `run.json`. */
  def config(nSamples: Long, output: Option[String]): Path =
    Files.writeString(Files.createTempDirectory("graft_cfg").resolve("run.json"),
      runConfig(nSamples, output))

  def execute(cfg: Path,
              registry: graft.pipeline.TransformRegistry =
                graft.cli.StandardTransforms.registry) =
    graft.cli.RunAnalysis.execute(spark, cfg.toString, catalogPath,
      registryDir.toString, registry)
}

object QuickstartRun {
  /** The analysis defaults: 2-arcmin circles (`@Main.radius`). */
  val parameters: String =
    """{"name": "quickstart",
      | "sampling_parameters": {
      |   "sample_shape": "Circle",
      |   "sample_dimensions": "@Main.radius"}}""".stripMargin

  /** The quickstart DAG over `StandardTransforms.registry`. */
  val transformations: String =
    """{"Main": {
      |  "compute_distances": {"needed-data": ["catalog"]},
      |  "compute_result": {
      |    "dependencies": {"compute_distances": "catalog"},
      |    "needed-data": ["samples"],
      |    "needed-parameters": ["Main.min_radius"],
      |    "is-output": true}}}""".stripMargin

  /** A JSON run config over the quickstart region; `output` names the
    * csv sink, none means no sink. */
  def runConfig(nSamples: Long, output: Option[String]): String = {
    val sink = output.fold("")(p =>
      s""""output": "$p", "output_parameters": {"write_format": "csv"},""")
    s"""{"base-analysis": "quickstart", $sink
       | "sampling_parameters": {
       |   "region_bounds": {"value": [31.0, -11.0, 38, -4], "units": "degree"},
       |   "n_samples": $nSamples, "seed": 42},
       | "radius": {"value": 2, "units": "arcmin"},
       | "min_radius": {"value": 5, "units": "arcsec"}}""".stripMargin
  }
}
