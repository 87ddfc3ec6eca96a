package perfbench

import java.nio.file.{Files, Path}
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** One timed operation: a `cosmap run` or one query. `output` is where
  * its result was written, for the checks run after the timed section. */
final case class Op(name: String, pass: String, ok: Boolean, error: String,
    seconds: Double, input: String, output: String)

object Op {
  def timed(name: String, pass: String, input: Path, output: Path)(body: => Option[String]): Op = {
    val t0 = System.nanoTime()
    val err = try body catch {
      case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val sec = (System.nanoTime() - t0) / 1e9
    err.foreach(m => Console.err.println(s"[perfbench] $name ($pass) failed: $m"))
    Op(name, pass, err.isEmpty, err.getOrElse(""), sec, input.toString, output.toString)
  }
}

/** A workload: inputs generated from the seed, then passes over them. */
trait Workload {
  def name: String
  /** Work items one pass processes (samples, or documents × queries). */
  def itemsPerPass: Long
  def params: Map[String, Any]
  /** Input generation and installation: the non-warm-up part of set-up. */
  def prepare(spark: SparkSession, dir: Path): Unit
  /** One pass; `probe` wraps each operation in a span when tracing. */
  def pass(spark: SparkSession, tag: String, probe: Option[Probe]): Seq[Op]
}

object Workload {
  def traced[A](probe: Option[Probe], name: String)(body: => A): A =
    probe.fold(body)(_.span(name)(body)._1)
}

/** `sky_mc`: the `cosmap run` entry point, `RunAnalysis.execute`, over a
  * clustered pseudo-catalog. Each pass draws `n` fresh 2-arcmin samples. */
final class SkyMc(val n: Long, val m: Long, seed: Long, nproc: Int) extends Workload {
  val name = "sky_mc"
  def itemsPerPass: Long = n
  def params: Map[String, Any] = Map("n_samples" -> n, "catalog_objects" -> m,
    "radius_arcmin" -> 2, "min_radius_arcsec" -> 5, "clusters" -> Inputs.Clusters,
    "cluster_sigma_deg" -> Inputs.ClusterSigmaDeg)

  private var dir: Path = _
  def catalog: Path = dir.resolve("catalog.parquet")
  def registry: Path = dir.resolve("registry")
  private var runs = 0

  def prepare(spark: SparkSession, d: Path): Unit = {
    dir = d
    Inputs.skyCatalog(spark, catalog, m, seed, nproc)
    Inputs.installQuickstart(registry, dir.resolve("analyses/quickstart"))
  }

  /** A run config for the next run; each run draws its own samples. */
  def config(analysis: String, output: Option[Path]): Path = {
    runs += 1
    val cfg = dir.resolve(s"run_$runs.json")
    Files.writeString(cfg, Inputs.runConfig(analysis, n, seed * 1000003L + runs, output))
  }

  def execute(spark: SparkSession, cfg: Path,
      registryImpl: graft.pipeline.TransformRegistry = graft.cli.StandardTransforms.registry)
      : (org.apache.spark.sql.DataFrame, Long) =
    graft.cli.RunAnalysis.execute(spark, cfg.toString, catalog.toString,
      registry.toString, registryImpl)

  def pass(spark: SparkSession, tag: String, probe: Option[Probe]): Seq[Op] = {
    val out = dir.resolve("out").resolve(tag)
    val cfg = config("quickstart", Some(out))
    Seq(Op.timed("cosmap_run", tag, catalog, out) {
      val (_, rows) = Workload.traced(probe, "cli.execute")(execute(spark, cfg))
      if (rows == n) None else Some(s"expected $n rows, got $rows")
    })
  }
}

/** `fanout_legs`: curation queries from the program's
  * query registry over a generated corpus, each result written as
  * Parquet beside the oracle SQL the checks replay in DuckDB. */
final class Curation(val name: String, queries: Seq[String], nDocs: Int, nVecs: Int,
    seed: Long) extends Workload {
  def itemsPerPass: Long = nDocs.toLong * queries.size
  def params: Map[String, Any] = Map("documents" -> nDocs, "embeddings" -> nVecs,
    "queries" -> queries)

  private var dir: Path = _
  def corpusDir: Path = dir.resolve("corpus")

  /** The seed sets the query order within a pass. */
  val order: Seq[String] = new scala.util.Random(seed).shuffle(queries)

  def prepare(spark: SparkSession, d: Path): Unit = {
    dir = d
    Inputs.corpus(spark, corpusDir, nDocs, nVecs, seed)
  }

  /** One query: build the DataFrame (eager cuts and driver collects
    * happen here), then write it. */
  def runQuery(spark: SparkSession, q: String, out: Path, probe: Option[Probe]): Op =
    Op.timed(q, out.getFileName.toString, corpusDir, out) {
      Workload.traced(probe, s"operators.$q") {
        val df = Workload.traced(probe, s"operators.$q.build")(
          graft.SparkEntry.queries(q)(spark, corpusDir.toString))
        Workload.traced(probe, s"operators.$q.action")(
          df.write.mode("overwrite").parquet(out.resolve(q).toString))
      }
      spark.sharedState.cacheManager.clearCache()
      None
    }

  def pass(spark: SparkSession, tag: String, probe: Option[Probe]): Seq[Op] = {
    val out = dir.resolve("out").resolve(tag)
    Files.createDirectories(out)
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.obj(queries.map(q => q -> graft.SparkEntry.oracleSql(q)): _*))
    order.map(q => runQuery(spark, q, out, probe))
  }
}

object Workloads {
  /** Input sizes: one `cosmap run` pass is about 2 s and one query pass
    * about 7 s on four cores, so a run fits the benchmark's time budget. */
  val SkyN = 300L
  val SkyM = 50000L
  val Docs = 200
  val Vecs = 200
  val FanoutLegs = Seq("q197_family_select")

  def apply(name: String, seed: Long, nproc: Int): Workload = name match {
    case "sky_mc" => new SkyMc(SkyN, SkyM, seed, nproc)
    case "fanout_legs" => new Curation(name, FanoutLegs, Docs, Vecs, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  val names: Seq[String] = Seq("sky_mc", "fanout_legs")
}
