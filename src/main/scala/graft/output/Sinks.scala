package graft.output

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col

/** Output sinks with the reference's observable behaviors:
  *
  *  - append CSV with header-only-on-create
  *    (/root/reference/src/cosmap/output/writer.py:23-35)
  *  - multi-sink routing of column subsets to different destinations
  *    (/root/reference/src/cosmap/output/output.py:53-75)
  *  - a writer/format registry (writer.py:38-45 — csv was the only
  *    registered format there; Spark gives csv/parquet/json for free)
  *
  * Incrementality: the reference appends per completed chunk
  * (analysis.py:150-162) so a crash preserves finished work. Spark's
  * per-task part-file commit gives the same durability — each task's
  * file lands as it finishes; there is no single-writer bottleneck,
  * which is the behavior that survives 1000 executors.
  */
object Sinks {

  /** Append rows as CSV. The reference's literal behavior is one
    * growing file with a single header (writer.py:27-35); the
    * distributed-correct equivalent is one file per append/task, each
    * self-describing with its own header — Spark's reader strips one
    * header per file, so the round-trip is lossless and appends stay
    * parallel (no single-writer bottleneck at scale).
    * `singleFile = true` coalesces each append to one part-file. */
  def appendCsv(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode(SaveMode.Append)
      .option("header", "true")
      .csv(path)
  }

  def write(df: DataFrame, path: String, format: String,
            mode: SaveMode = SaveMode.Append): Unit = format match {
    // csv honors the requested mode too — only Append takes the
    // header-per-file append path (a silent append on Overwrite
    // accumulated stale rows; round-1 advice)
    case "csv" if mode == SaveMode.Append => appendCsv(df, path)
    case "csv" =>
      df.write.mode(mode).option("header", "true").csv(path)
    case "parquet" | "json" | "orc" =>
      df.write.mode(mode).format(format).save(path)
    case other =>
      throw new IllegalArgumentException(s"unknown write_format '$other'")
  }

  /** Route column subsets of one result to different sinks — each
    * route is an independent projection + write (one job per sink,
    * shared upstream plan; `cut` it first if it is expensive). */
  def multiSink(df: DataFrame,
                routes: Map[String, (Seq[String], String, String)]): Unit =
    routes.foreach { case (_, (cols, path, format)) =>
      write(df.select(cols.map(col): _*), path, format)
    }
}
