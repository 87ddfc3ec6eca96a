package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge
import graft.pipeline.Transform

/** The traced run. It times the named workload's pass once untraced and
  * once traced (the difference is the tracing overhead), then takes one
  * census of every layer so each traced run reports every per-layer
  * metric:
  *  - the other workloads' passes under spans (`operators.*`),
  *  - the `cosmap run` layers as prefix spans through public calls,
  *  - the column kernels in ns/row ([[Kernels]]).
  * Spans are kept in memory and written to `trace/spans.json`. */
object Trace {

  /** Layer metric: value and unit. */
  type Metrics = Seq[(String, (Double, String))]

  def run(own: Workload, seed: Long, nproc: Int, work: Path): String = {
    val spark = Main.session(nproc, work)
    val groups = Workloads.names.map(n => if (n == own.name) own else Workloads(n, seed, nproc))
    groups.foreach(g => g.prepare(spark, work.resolve(g.name)))
    val sky = groups.collectFirst { case s: SkyMc => s }.get
    val corpus = groups.collectFirst { case c: Curation => c }.get

    def warm(g: Workload): Unit = g.pass(spark, "warmup", None).find(!_.ok)
      .foreach(o => throw new IllegalStateException(s"warm-up ${o.name} failed: ${o.error}"))
    warm(own)
    val u0 = System.nanoTime()
    val untracedOps = own.pass(spark, "untraced", None)
    val untracedS = (System.nanoTime() - u0) / 1e9

    val probe = new Probe(spark, s"${own.name}-seed$seed")
    val (tracedOps, passSpan) = probe.span(s"workload.${own.name}")(
      own.pass(spark, "traced", Some(probe)))
    val otherOps = groups.filter(_ ne own).flatMap { g =>
      warm(g)
      probe.span(s"workload.${g.name}")(g.pass(spark, "traced", Some(probe)))._1
    }
    val skyLayers = skyCensus(spark, sky, probe)
    val kernels = Kernels.run(spark, corpus.corpusDir, sky.catalog, probe)

    val c = passSpan.counters
    val workload: Metrics = Seq(
      "spark.jobs" -> (c.jobs.toDouble, "count"),
      "spark.stages" -> (c.stages.toDouble, "count"),
      "spark.tasks" -> (c.tasks.toDouble, "count"),
      "spark.task_busy_s" -> (c.taskBusyMs / 1e3, "s"),
      "spark.core_util" -> (c.taskBusyMs / 1e3 / (passSpan.seconds * nproc), "ratio"),
      "spark.max_jobs_in_flight" -> (passSpan.maxJobsInFlight.toDouble, "count"),
      "spark.shuffle_bytes" -> (c.shuffleBytes.toDouble, "bytes"),
      "spark.spill_bytes" -> (c.spillBytes.toDouble, "bytes"),
      "spark.gc_s" -> (c.gcMs / 1e3, "s"),
      "spark.failed_tasks" -> (c.failedTasks.toDouble, "count"),
      "trace.overhead_s" -> (passSpan.seconds - untracedS, "s"))
    val operators: Metrics = probe.spans.filter(_.name.matches("operators\\.[^.]+")).flatMap { s =>
      def child(part: String) = probe.spans.find(x => x.parent == s.id && x.name == s"${s.name}.$part")
        .map(_.seconds).getOrElse(Double.NaN)
      val k = s.counters
      Seq(s"${s.name}.build_s" -> (child("build"), "s"),
        s"${s.name}.action_s" -> (child("action"), "s"),
        s"${s.name}.jobs" -> (k.jobs.toDouble, "count"),
        s"${s.name}.task_busy_s" -> (k.taskBusyMs / 1e3, "s"),
        s"${s.name}.shuffle_bytes" -> (k.shuffleBytes.toDouble, "bytes"),
        s"${s.name}.spill_bytes" -> (k.spillBytes.toDouble, "bytes"))
    }
    probe.detach()
    Files.createDirectories(work.resolve("trace"))
    Files.writeString(work.resolve("trace/spans.json"), probe.spansJson)
    spark.stop()

    val metrics = workload ++ operators ++ skyLayers ++ kernels
    Json.obj("workload" -> own.name, "params" -> own.params, "nproc" -> nproc,
      "sky_samples" -> Workloads.SkyN,
      "untraced_pass_s" -> untracedS, "traced_pass_s" -> passSpan.seconds,
      "metrics" -> metrics.map { case (n, (v, u)) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "ops" -> Main.opsJson(untracedOps ++ tracedOps ++ otherOps))
  }

  /** The `cosmap run` layers as prefix spans, each a call into the
    * user entry point or a layer's public function:
    *  - samples only (demand-driven pruning skips the catalog),
    *  - the catalog scan alone,
    *  - samples ⋈ catalog through a pass-through DAG (the program
    *    picks its own join),
    *  - the full quickstart DAG without a sink,
    *  - the sink and the count over the persisted result.
    * A layer's self time is its prefix minus the prefixes it contains. */
  def skyCensus(spark: SparkSession, sky: SkyMc, probe: Probe): Metrics = {
    val registry = graft.cli.StandardTransforms.registry
      .register("emit_samples", Transform(_("samples")))
      .register("emit_catalog", Transform(_("catalog")))
    Seq("samples_only" -> "samples", "catalog_only" -> "catalog").foreach { case (a, kind) =>
      val dir = sky.registry.resolveSibling(s"analyses/$a")
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("parameters.json"), s"""{"name": "$a",
        | "sampling_parameters": {"sample_shape": "Circle", "sample_dimensions": "@Main.radius"}}""".stripMargin)
      Files.writeString(dir.resolve("transformations.json"),
        s"""{"Main": {"emit_$kind": {"needed-data": ["$kind"], "is-output": true}}}""")
      new graft.registry.AnalysisRegistry(sky.registry).install(dir)
    }
    def exec(analysis: String) = sky.execute(spark, sky.config(analysis, None), registry)
    Seq("samples_only", "catalog_only", "quickstart").foreach(exec) // warm each prefix

    val (_, sampler) = probe.span("domain.sampler")(exec("samples_only"))
    val (_, scan) = probe.span("sources.scan")(
      graft.sources.CatalogSources("parquet").load(spark, sky.catalog.toString)
        .write.format("noop").mode("overwrite").save())
    val scanBytes = probe.lastExecutions.flatMap(qe => operators(qe.executedPlan))
      .collectFirst { case p if p.metrics.contains("filesSize") => p.metrics("filesSize").value }
      .getOrElse(scan.counters.bytesRead)
    val ((joined, _), join) = probe.span("plans.join")(exec("catalog_only"))
    val matched = joinOutputRows(probe.lastExecutions)
    val examined = pairsExamined(spark, joined)
    val ((full, _), dag) = probe.span("pipeline.dag")(exec("quickstart"))
    full.persist()
    full.count()
    val sinkPath = sky.registry.resolveSibling("census_sink")
    val (_, sink) = probe.span("output.sink")(graft.output.Sinks.write(full, sinkPath.toString, "csv"))
    val (_, count) = probe.span("run.count")(graft.run.RunObservability.expectCount(full, sky.n))
    full.unpersist()
    val (_, total) = probe.span("cli.execute")(
      sky.execute(spark, sky.config("quickstart", Some(sinkPath))))

    val joinSelf = join.seconds - sampler.seconds - scan.seconds
    val dagSelf = dag.seconds - join.seconds
    Seq(
      "domain.sampler_s" -> (sampler.seconds, "s"),
      "sources.scan_s" -> (scan.seconds, "s"),
      "sources.bytes_read" -> (scanBytes.toDouble, "bytes"),
      "plans.join_s" -> (joinSelf, "s"),
      "plans.pairs_matched" -> (matched.toDouble, "count"),
      "plans.pairs_examined" -> (examined.toDouble, "count"),
      "plans.match_ratio" -> (matched.toDouble / examined, "ratio"),
      "plans.shuffle_bytes" -> (join.counters.shuffleBytes.toDouble, "bytes"),
      "pipeline.dag_s" -> (dagSelf, "s"),
      "output.sink_s" -> (sink.seconds, "s"),
      "output.bytes_written" -> (sink.counters.bytesWritten.toDouble, "bytes"),
      "run.count_s" -> (count.seconds, "s"),
      "cli.self_s" -> (total.seconds - dag.seconds - sink.seconds - count.seconds, "s"))
  }

  /** Every physical operator that ran, looking through adaptive
    * execution and into cached relations. */
  private def operators(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case s: QueryStageExec => operators(s.plan)
    case m: InMemoryTableScanExec => m +: operators(m.relation.cachedPlan)
    case other => other +: other.children.flatMap(operators)
  }

  /** Output rows of the first join operator: pairs inside a cone. */
  def joinOutputRows(executions: Seq[QueryExecution]): Long =
    executions.flatMap(qe => operators(qe.executedPlan))
      .collectFirst { case j if j.nodeName.contains("Join") && j.metrics.contains("numOutputRows") =>
        j.metrics("numOutputRows").value
      }.getOrElse(-1L)

  /** Candidate pairs the program's join examines before the separation
    * residual: |left|·|right| for a join without equality keys, the sum
    * over keys of |left_k|·|right_k| for an equi-join. Computed from the
    * optimized plan's join inputs, outside any span. */
  def pairsExamined(spark: SparkSession, df: DataFrame): Long = {
    val plan = graftbridge.ofRows(spark, df.queryExecution.analyzed).queryExecution.optimizedPlan
    def frame(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) = graftbridge.ofRows(spark, p)
    plan.collectFirst { case j: Join => j } match {
      case Some(ExtractEquiJoinKeys(_, lk, rk, _, _, l, r, _)) =>
        def counts(side: DataFrame, keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression], c: String) =
          side.groupBy(keys.zipWithIndex.map { case (k, i) => graftbridge.toColumn(k).as(s"k$i") }: _*)
            .agg(count(lit(1)).as(c))
        counts(frame(l), lk, "lc").join(counts(frame(r), rk, "rc"), lk.indices.map(i => s"k$i"))
          .agg(sum(col("lc") * col("rc"))).head().getLong(0)
      case Some(j) => frame(j.left).count() * frame(j.right).count()
      case None => -1L
    }
  }
}
