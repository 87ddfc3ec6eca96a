package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev tool: print the formatted physical plan of named gate queries
  * (plan-shape iteration without a spec run). Reads the corpus from
  * `SPARK_GRAFT_SF_DIR` (default sf0.001). Usage:
  *   Test/runMain graft.tools.PlanDump [--full] q44_ngram_jaccard ...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val (flags, names) = args.partition(_.startsWith("--"))
    val full = flags.contains("--full")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    names.foreach { n =>
      println(s"===== $n =====")
      val p = graft.SparkEntry.queries(n)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      println(if (full) p else p.linesIterator.takeWhile(_.nonEmpty).mkString("\n"))
    }
    spark.stop()
  }
}
