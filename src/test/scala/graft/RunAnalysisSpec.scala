package graft

import graft.cli.StandardTransforms
import graft.pipeline.Transform
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** End-to-end `cosmap run` lifecycle: install analysis → run config
  * → output file on disk. */
class RunAnalysisSpec extends SparkSpec {

  private lazy val quickstart = new QuickstartRun(spark, sf0001)

  private def readCsv(path: String): DataFrame =
    spark.read.option("header", "true").csv(path)

  /** Runs `body` and returns what it printed to `Console.err`. */
  private def stderrOf[A](body: => A): (A, String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val a = Console.withErr(new java.io.PrintStream(buf, true, "UTF-8"))(body)
    (a, buf.toString("UTF-8"))
  }

  test("full run lifecycle: install, run, append csv output") {
    val outPath = quickstart.outPath()
    val cfgPath = quickstart.config(200, Some(outPath))
    val (_, n) = quickstart.execute(cfgPath)
    assert(n === 200)
    val back = readCsv(outPath)
    assert(back.count() === 200)
    assert(back.columns.toSeq === Seq("sample_id", "ra", "dec", "n", "inv"))

    // the SAME run expressed as TOML (cmds.py:21-29 parity) produces
    // the identical result rows
    val tomlPath = cfgPath.getParent.resolve("run.toml")
    val outPath2 = quickstart.outPath()
    Files.writeString(tomlPath,
      s"""'base-analysis' = "quickstart"
         |output = "$outPath2"
         |
         |[output_parameters]
         |write_format = "csv"
         |
         |[sampling_parameters]
         |region_bounds = { value = [31.0, -11.0, 38, -4], units = "degree" }
         |n_samples = 200
         |seed = 42
         |
         |[radius]
         |value = 2
         |units = "arcmin"
         |
         |[min_radius]
         |value = 5
         |units = "arcsec"
         |""".stripMargin)
    val (_, n2) = quickstart.execute(tomlPath)
    assert(n2 === 200)
    val backToml = readCsv(outPath2).orderBy("sample_id").collect()
    val backJson = readCsv(outPath).orderBy("sample_id").collect()
    assert(backToml.sameElements(backJson))
  }

  test("the returned count is the rows written, with and without an output") {
    val outPath = quickstart.outPath()
    val (_, written) = quickstart.execute(quickstart.config(150, Some(outPath)))
    val readBack = readCsv(outPath).count()
    assert(written === readBack)
    assert(readBack === 150)
    // no sink: the same run, counted by a count job
    val (out, counted) = quickstart.execute(quickstart.config(150, None))
    assert(counted === readBack)
    assert(out.count() === readBack)
  }

  test("a count other than n_samples warns and does not fail") {
    // the analysis drops the odd samples: fewer rows than n_samples
    val std = StandardTransforms.registry
    val dropOdd = std.register("compute_result", Transform { args =>
      std.get("compute_result").get(args).asInstanceOf[DataFrame]
        .filter(col("sample_id") % 2 === 0)
    })
    val outPath = quickstart.outPath()
    val ((_, written), log) = stderrOf(
      quickstart.execute(quickstart.config(120, Some(outPath)), dropOdd))
    val readBack = readCsv(outPath).count()
    assert(written === readBack)
    assert(readBack === 60)
    assert(log.contains("WARNING: processed 60 rows, expected 120"), log)

    val ((_, counted), log2) = stderrOf(
      quickstart.execute(quickstart.config(120, None), dropOdd))
    assert(counted === 60)
    assert(log2.contains("WARNING: processed 60 rows, expected 120"), log2)
  }
}
