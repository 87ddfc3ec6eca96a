package graft.cli

import graft.config.ConfigTree
import graft.output.Sinks
import graft.pipeline.{AnalysisRunner, TransformRegistry}
import graft.registry.AnalysisRegistry
import graft.run.RunObservability
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import java.nio.file.Paths

/** The `cosmap run <config.json>` entry point
  * (/root/reference/src/cosmap/entrypoint.py:46-60 →
  * /root/reference/src/cosmap/api/cmds.py:20-47), end to end:
  * registry lookup of `base-analysis`, config merge, sampler, band
  * cone join, compiled DAG, append sink, progress + count accounting.
  *
  * Usage: RunAnalysis <runConfig.json> <catalogParquet> [registryDir]
  * (registryDir defaults to $GRAFT_REGISTRY, else ~/.graft/analyses)
  * The run config's "output" key names the sink path; "write_format"
  * under output_parameters picks the writer (csv default).
  */
object RunAnalysis {

  /** Testable core: returns (output DataFrame, rows written).
    * Accepts `.json` or `.toml` run configs (cmds.py:21-29 parity —
    * dispatch in ConfigTree.parseFile).
    *
    * One pass: with an `output`, the row count is observed while the
    * sink writes (an unnamed [[Observation]], so concurrent runs in
    * one session cannot collide) — it counts exactly the rows written,
    * and the analysis plan runs once, with nothing cached. Without an
    * `output`, one count job runs the plan. */
  def execute(spark: SparkSession, runConfigPath: String,
              catalogPath: String, registryDir: String,
              registry: TransformRegistry): (DataFrame, Long) = {
    val runConfig = ConfigTree.parseFile(Paths.get(runConfigPath))
    val analysisName = runConfig.get("base-analysis").map(_.toString)
      .getOrElse(throw new IllegalArgumentException(
        "run config missing 'base-analysis'"))
    val (defaults, transformations) =
      new AnalysisRegistry(Paths.get(registryDir)).load(analysisName)
    val cfg = AnalysisRunner.effectiveConfig(runConfig, defaults)
    val sampling = AnalysisRunner.parseSampling(cfg)

    val progress = RunObservability.attachProgress(spark)
    try {
      val catalog = spark.read.parquet(catalogPath)
      val out = AnalysisRunner.runParsed(spark, cfg, sampling, transformations,
        registry, catalog, plugins = graft.pipeline.PluginManager.empty)
      val n = runConfig.get("output").map(_.toString) match {
        case Some(path) =>
          val fmt = ConfigTree.getPath(runConfig, "output_parameters.write_format")
            .map(_.toString).getOrElse("csv")
          val written = Observation()
          Sinks.write(out.observe(written, count(lit(1)).as("rows")), path, fmt)
          RunObservability.checkCount(
            written.get("rows").asInstanceOf[Long], sampling.nSamples)
        case None => RunObservability.expectCount(out, sampling.nSamples)
      }
      (out, n)
    } finally spark.sparkContext.removeSparkListener(progress)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: RunAnalysis <runConfig.json> <catalogParquet> [registryDir]")
    val registryDir = if (args.length > 2) args(2)
      else AnalysisRegistry.defaultDir(sys.env)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .appName("graft-run")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (_, n) = execute(spark, args(0), args(1), registryDir,
      graft.cli.StandardTransforms.registry)
    Console.err.println(s"[graft.run] analysis complete: $n samples")
    spark.stop()
  }
}

/** The quickstart analysis' transforms, registered under the names
  * its transformations.json uses (README.md:82-103 semantics,
  * vectorized: per-sample loops become grouped aggregation). */
object StandardTransforms {
  import org.apache.spark.sql.functions._

  val registry: TransformRegistry = TransformRegistry(
    "compute_distances" -> graft.pipeline.Transform { args =>
      args("catalog").asInstanceOf[DataFrame]
        .withColumn("distances_arcsec", col("sep_deg") * 3600.0)
    },
    "compute_result" -> graft.pipeline.Transform { args =>
      graft.operators.CosmapDomain.quickstartAggregate(
        args("catalog").asInstanceOf[DataFrame],
        args("samples").asInstanceOf[DataFrame],
        ConfigTree.parseQuantityDeg(args("min_radius")) * 3600.0)
    })
}
