package graft
import org.apache.spark.sql.SparkSession
import graft.config.ConfigTree.jsonString
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check_oracle.py).
  *
  *   runMain graft.Verify <sfDir> <outDir> [query ...]
  *
  * Named queries restrict the sweep, and oracle_sql.json then lists
  * only those: a named query that fails leaves no parquet, so
  * check_oracle.py reports it as NO_SPARK_OUTPUT. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    def runs(name: String): Boolean = only.isEmpty || only(name)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val names = SparkEntry.queries.keys.toSeq.filter(runs)
    SparkEntry.sweep(spark, names, SparkEntry.queries(_)(spark, sfDir)) { (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }.foreach {
      case (name, Left(e)) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      case _ =>
    }
    val json = SparkEntry.oracleSql.filter { case (name, _) => runs(name) }
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
