package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** The benchmark JVM. Usage:
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <nproc>
  * It writes `<workDir>/result.json` with the raw measurements; the
  * Python runner checks the outputs and prints the metrics. */
object Main {

  /** Repetitions of input generation whose median counts in `setup_s`. */
  val SetupReps = 3
  /** Warm-up runs passes until both limits are reached: pass times still
    * fall for tens of seconds in a fresh JVM while the JIT compiles
    * Spark's planning and scheduling paths. */
  val WarmupPasses = 1
  val WarmupSeconds = 8.0
  /** A timed section runs at least this many passes. */
  val MinPasses = 3
  /** A timed pass during which the host took more than this share of
    * the machine's CPU time (steal) measures the host, not the program:
    * it is run again, up to [[MaxRetries]] times per run. */
  val MaxStealShare = 0.05
  val MaxRetries = 2

  def session(nproc: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap in use after a full collection, in MB: what the program
    * retains between passes (caches, persisted or leaked blocks). The
    * second collection runs after Spark's cleaner has dropped the blocks
    * of RDDs the first one found unreachable. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** CPU time stolen from this machine by its host so far, in seconds
    * (the `steal` column of /proc/stat, in clock ticks of 10 ms). */
  def stealSeconds: Double = {
    val cpu = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")
    if (cpu.length > 8) cpu(8).toDouble / 100.0 else 0.0
  }

  /** Peak resident memory of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def opsJson(ops: Seq[Op]): Seq[Json.Raw] = ops.map(o => Json.Raw(Json.obj(
    "name" -> o.name, "pass" -> o.pass, "ok" -> o.ok, "error" -> o.error,
    "seconds" -> o.seconds, "input" -> o.input, "output" -> o.output)))

  /** Untraced run: set-up, then passes for `seconds`.
    *
    * Set-up is session start, input generation and installation, and
    * warm-up passes (first passes in a fresh JVM run up to 1.8x slower).
    * Input generation and installation run [[SetupReps]] times into
    * fresh directories and count with their median; the session start
    * and the warm-up cannot be repeated in one JVM without ceasing to be
    * cold, so each counts once. */
  def timed(wl: Workload, seconds: Double, nproc: Int, work: Path): String = {
    def clock[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val (spark, sessionS) = clock(session(nproc, work))
    val prepareS = (1 to SetupReps).map(r => clock(wl.prepare(spark, work.resolve(s"setup$r")))._2)
    /** Passes until at least `min` passes and `limit` seconds of them. */
    def passes[A](min: Int, limit: Double)(pass: Int => (A, Double)): Vector[(A, Double)] = {
      var total = 0.0
      Iterator.from(0).takeWhile(k => k < min || total < limit).map { k =>
        val r = pass(k)
        total += r._2
        r
      }.toVector
    }
    val (_, warmS) = clock(passes(WarmupPasses, WarmupSeconds) { k =>
      val (ops, s) = clock(wl.pass(spark, s"warmup$k", None))
      ops.find(!_.ok).foreach(o => throw new IllegalStateException(
        s"warm-up operation ${o.name} failed: ${o.error}"))
      (ops, s)
    })
    val cpus = Runtime.getRuntime.availableProcessors
    var retries = 0
    val all = Vector.newBuilder[(Seq[Op], Double, Double, Double)]
    val timedPasses = passes(MinPasses, seconds) { k =>
      def attempt(): (Seq[Op], Double, Double, Double) = {
        val steal0 = stealSeconds
        val (ops, s) = clock(wl.pass(spark, s"pass$k-$retries", None))
        val r = (ops, s, stealSeconds - steal0, retainedHeapMb())
        all += r
        if (r._3 > MaxStealShare * s * cpus && retries < MaxRetries) { retries += 1; attempt() }
        else r
      }
      val r = attempt()
      (r, r._2)
    }
    val tried = all.result()
    val rss = peakRssMb
    spark.stop()
    Json.obj(
      "workload" -> wl.name, "params" -> wl.params, "nproc" -> nproc,
      "sky_samples" -> Workloads.SkyN,
      "setup_s" -> (sessionS + median(prepareS) + warmS),
      "setup" -> Map("session_s" -> sessionS, "prepare_s" -> prepareS, "warmup_s" -> warmS),
      "pass_s" -> timedPasses.map(_._2), "items_per_pass" -> wl.itemsPerPass,
      "retained_heap_mb" -> timedPasses.map(_._1._4).max, "peak_rss_mb" -> rss,
      "tried_pass_s" -> tried.map(_._2), "tried_steal_s" -> tried.map(_._3),
      "ops" -> opsJson(tried.flatMap(_._1)))
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 6,
      "usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <nproc>")
    val Array(name, seed, seconds, trace, workDir, nproc) = args
    val work = Paths.get(workDir).toAbsolutePath
    val code = try {
      Files.createDirectories(work)
      val wl = Workloads(name, seed.toLong, nproc.toInt)
      val json =
        if (trace == "1") Trace.run(wl, seed.toLong, nproc.toInt, work)
        else timed(wl, seconds.toDouble, nproc.toInt, work)
      Files.writeString(work.resolve("result.json"), json + "\n")
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    // Spark may leave non-daemon threads behind; the run ends here either way.
    sys.exit(code)
  }
}
