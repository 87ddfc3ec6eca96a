package graft

import graft.config.ConfigTree
import graft.registry.AnalysisRegistry
import graft.run.RunObservability
import org.apache.spark.sql.functions._
import java.nio.file.Files

class ControlPlaneSpec extends SparkSpec {

  private def mkAnalysis(transforms: String, params: Option[String]): java.nio.file.Path = {
    val dir = Files.createTempDirectory("graft_an")
    Files.writeString(dir.resolve("transformations.json"), transforms)
    params.foreach(p => Files.writeString(dir.resolve("parameters.json"), p))
    dir
  }

  test("registry: install/list/locate/uninstall; duplicate and missing-file errors") {
    val root = Files.createTempDirectory("graft_reg")
    val reg = new AnalysisRegistry(root)
    val a = mkAnalysis("""{"Main": {}}""", Some("""{"name": "quickstart"}"""))
    assert(reg.install(a) === "quickstart") // name from parameters.json
    assert(reg.list() === Seq("quickstart"))
    assert(reg.locate("quickstart") === a.toAbsolutePath)
    // duplicate
    intercept[IllegalArgumentException](reg.install(a))
    // missing required file
    val bad = Files.createTempDirectory("graft_bad")
    intercept[IllegalArgumentException](reg.install(bad))
    // broken JSON fails at install (stronger than reference)
    val broken = mkAnalysis("""{"Main": """, None)
    intercept[Exception](reg.install(broken))
    reg.uninstall("quickstart")
    assert(reg.list().isEmpty)
    intercept[IllegalArgumentException](reg.uninstall("quickstart"))
  }

  test("registry: name falls back to folder name; variant overlay merges right-biased") {
    val root = Files.createTempDirectory("graft_reg2")
    val reg = new AnalysisRegistry(root)
    val base = mkAnalysis(
      """{"Main": {"a": {"is-output": true}}}""",
      Some("""{"radius": 1.0, "nested": {"x": 1, "y": 2}}"""))
    val name = reg.install(base)
    assert(name === base.getFileName.toString)

    val variant = Files.createTempDirectory("graft_var")
    Files.writeString(variant.resolve("parameters.json"),
      """{"nested": {"y": 99}, "extra": true}""")
    val (params, transforms) = reg.loadVariant(name, variant)
    assert(ConfigTree.getPath(params, "nested.y") === Some(99L))
    assert(ConfigTree.getPath(params, "nested.x") === Some(1L))
    assert(params("radius") === 1.0)
    assert(params("extra") === true)
    assert(transforms.contains("Main")) // untouched by variant
  }

  test("registry: a quote or backslash in a name leaves list, locate and later installs working") {
    val reg = new AnalysisRegistry(Files.createTempDirectory("graft_reg3"))
    val quoted = mkAnalysis("""{"Main": {}}""", Some("""{"name": "we\"ird"}"""))
    val slashed = mkAnalysis("""{"Main": {}}""", Some("""{"name": "back\\slash"}"""))
    val plain = mkAnalysis("""{"Main": {}}""", Some("""{"name": "plain"}"""))
    assert(reg.install(quoted) === "we\"ird")
    assert(reg.install(slashed) === "back\\slash")
    assert(reg.install(plain) === "plain")
    assert(reg.list() === Seq("back\\slash", "plain", "we\"ird"))
    assert(reg.locate("we\"ird") === quoted.toAbsolutePath)
    assert(reg.locate("back\\slash") === slashed.toAbsolutePath)
    assert(reg.locate("plain") === plain.toAbsolutePath)
  }

  test("registry: the CLI default directory is GRAFT_REGISTRY, else ~/.graft/analyses") {
    assert(AnalysisRegistry.defaultDir(Map("GRAFT_REGISTRY" -> "/srv/analyses")) ===
      "/srv/analyses")
    assert(AnalysisRegistry.defaultDir(Map.empty) ===
      sys.props("user.home") + "/.graft/analyses")
  }

  private val samplesOnlyTransforms =
    """{"Main": {
      |  "count_samples": {
      |    "needed-data": ["samples"],
      |    "is-output": true}}}""".stripMargin
  private val samplesOnlyRegistry = graft.pipeline.TransformRegistry(
    "count_samples" -> graft.pipeline.Transform { args =>
      args("samples").asInstanceOf[org.apache.spark.sql.DataFrame]
        .groupBy().count().withColumnRenamed("count", "n_samples")
    })
  private val minimalRunConfig =
    """{"sampling_parameters": {
      |  "region_bounds": {"value": [31.0, -11.0, 38, -4], "units": "degree"},
      |  "n_samples": 50, "seed": 1},
      | "radius": {"value": 2, "units": "arcmin"}}""".stripMargin
  private val minimalDefaults =
    """{"sampling_parameters": {"sample_shape": "Circle",
      |  "sample_dimensions": "@Main.radius"}}""".stripMargin
  private def anyCatalog = Tables.load(spark, sf0001, "nation")
    .selectExpr("n_nationkey AS object_id", "32.0 AS ra", "-6.0 AS dec")

  test("plugins: registered generate_samples replaces the built-in sampler") {
    import spark.implicits._
    val pm = new graft.pipeline.PluginManager(_ => ())
    pm.register(graft.pipeline.PluginSlots.GenerateSamples,
      (s: org.apache.spark.sql.SparkSession,
       _: graft.pipeline.AnalysisRunner.SamplingParams) => {
        import s.implicits._
        Seq((0L, 32.0, -6.0), (1L, 33.0, -7.0), (2L, 34.0, -8.0))
          .toDF("sample_id", "ra", "dec")
      })
    val out = graft.pipeline.AnalysisRunner.run(spark, minimalRunConfig,
      minimalDefaults, samplesOnlyTransforms, samplesOnlyRegistry,
      anyCatalog, plugins = pm)
    // 3 plugin samples, not the config's 50
    assert(out.head().getLong(0) === 3L)
  }

  test("plugins: initialize_sampler pre-transforms sampling parameters") {
    val pm = new graft.pipeline.PluginManager(_ => ())
    pm.register(graft.pipeline.PluginSlots.InitializeSampler,
      (p: graft.pipeline.AnalysisRunner.SamplingParams,
       _: graft.config.ConfigTree.Tree) => p.copy(nSamples = 7L))
    val out = graft.pipeline.AnalysisRunner.run(spark, minimalRunConfig,
      minimalDefaults, samplesOnlyTransforms, samplesOnlyRegistry,
      anyCatalog, plugins = pm)
    assert(out.head().getLong(0) === 7L)
  }

  test("plugins: generate_tasks replaces the cone-join task plan") {
    import spark.implicits._
    val transforms =
      """{"Main": {
        |  "count_catalog": {
        |    "needed-data": ["catalog"],
        |    "is-output": true}}}""".stripMargin
    val registry = graft.pipeline.TransformRegistry(
      "count_catalog" -> graft.pipeline.Transform { args =>
        args("catalog").asInstanceOf[org.apache.spark.sql.DataFrame]
          .groupBy().count().withColumnRenamed("count", "n_rows")
      })
    // a catalog that would throw if the BUILT-IN cone join ever ran
    val poison = spark.read.parquet(s"$sf0001/nation.parquet")
      .selectExpr("n_nationkey AS object_id",
        "assert_true(false) AS ra", "1.0 AS dec")
    val pm = new graft.pipeline.PluginManager(_ => ())
    pm.register(graft.pipeline.PluginSlots.GenerateTasks,
      (_: org.apache.spark.sql.DataFrame,
       _: org.apache.spark.sql.DataFrame,
       _: graft.pipeline.AnalysisRunner.SamplingParams) =>
        Seq((0L, 1.0), (0L, 2.0), (1L, 3.0), (1L, 4.0), (2L, 5.0))
          .toDF("sample_id", "sep_deg"))
    val out = graft.pipeline.AnalysisRunner.run(spark, minimalRunConfig,
      minimalDefaults, transforms, registry, poison, plugins = pm)
    assert(out.head().getLong(0) === 5L)
  }

  test("plugins: unique-slot re-registration warns and last wins; unknown name errors") {
    import graft.pipeline.{GraftPluginException, PluginManager, PluginSlots}
    val pm = new PluginManager(_ => ())
    val f1 = (s: org.apache.spark.sql.SparkSession,
              _: graft.pipeline.AnalysisRunner.SamplingParams) =>
      s.range(1).toDF("sample_id")
    val f2 = (s: org.apache.spark.sql.SparkSession,
              _: graft.pipeline.AnalysisRunner.SamplingParams) =>
      s.range(2).toDF("sample_id")
    pm.register(PluginSlots.GenerateSamples, f1)
    assert(pm.warnings.isEmpty)
    pm.register(PluginSlots.GenerateSamples, f2)
    assert(pm.warnings.exists(_.contains("already registered")))
    // last wins (manage.py:33-38 semantics)
    assert(pm.request(PluginSlots.GenerateSamples) eq f2)
    // unknown plugin name is an error (manage.py:29-32)
    intercept[GraftPluginException] {
      pm.registerAll(Map("not_a_plugin" -> f1))
    }
    // requesting an unimplemented slot is an error (manage.py:47-58)
    intercept[GraftPluginException] {
      new PluginManager(_ => ()).request(PluginSlots.GenerateTasks)
    }
  }

  test("hdf5 route: converter tool is executable and fails loud; engine reads its output contract") {
    import scala.sys.process._
    // the tool must run and (in this HDF5-lib-free sandbox) exit with
    // the actionable install message rather than an import crash
    val err = new StringBuilder
    val code = Process(Seq("python3", "tools/hdf5_to_parquet.py",
      "in.hdf5", "out.parquet")).!(ProcessLogger(_ => (), e => err.append(e)))
    assert(code !== 0)
    assert(err.toString.contains("h5py"), s"unhelpful error: $err")
    // --help works (argument surface is real)
    assert(Process(Seq("python3", "tools/hdf5_to_parquet.py", "--help")).! === 0)

    // engine side of the contract: a parquet file shaped like the
    // tool's output (1-D datasets -> columns) loads through the
    // catalog-source seam with column projection
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_h5").resolve("cat.parquet").toString
    (0L until 100L).map(i => (i, 31.0 + i * 0.07, -11.0 + i * 0.07, "a"))
      .toDF("object_id", "ra", "dec", "tag")
      .write.parquet(dir)
    val loaded = graft.sources.CatalogSources("parquet")
      .load(spark, dir, columns = Seq("object_id", "ra", "dec"))
    assert(loaded.columns.toSeq === Seq("object_id", "ra", "dec"))
    assert(loaded.count() === 100)
    // and the hdf5 stub names the tool
    val e = intercept[UnsupportedOperationException] {
      graft.sources.CatalogSources("hdf5").load(spark, "x.hdf5")
    }
    assert(e.getMessage.contains("hdf5_to_parquet.py"))
  }

  test("hdf5 route: converted sibling auto-resolves so .hdf5 paths load") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_h5_sib")
    // the converter's conventional output for cat.hdf5 is cat.parquet
    val pq = dir.resolve("cat.parquet").toString
    Seq((7L, 31.1, -10.9), (8L, 31.2, -10.8)).toDF("object_id", "ra", "dec")
      .write.parquet(pq)
    val loaded = graft.sources.CatalogSources("hdf5")
      .load(spark, dir.resolve("cat.hdf5").toString, columns = Seq("object_id"))
    assert(loaded.columns.toSeq === Seq("object_id"))
    assert(loaded.count() === 2)
    // no sibling -> still the actionable error
    val e2 = intercept[UnsupportedOperationException] {
      graft.sources.CatalogSources("hdf5")
        .load(spark, dir.resolve("missing.hdf5").toString)
    }
    assert(e2.getMessage.contains("hdf5_to_parquet.py"))
  }

  test("hdf5 route: directory mode glob fails loud; multi-part output is one dataset") {
    import scala.sys.process._
    // directory-mode file identification runs BEFORE any h5py import
    // (mirrors identify_opencosmo_files, opencosmo.py:57-65): a dir
    // with no *.hdf5 must exit with the identification error, proving
    // the glob path executes in this sandbox
    val empty = Files.createTempDirectory("graft_h5_empty").toString
    val err = new StringBuilder
    val code = Process(Seq("python3", "tools/hdf5_to_parquet.py",
      empty, empty + "_out")).!(ProcessLogger(_ => (), e => err.append(e)))
    assert(code !== 0)
    assert(err.toString.contains("unable to identify hdf5 files"),
      s"unexpected error: $err")

    // engine side: the converter's directory-mode output contract is
    // one parquet dataset made of part-NNNNN-<stem>.parquet files —
    // Spark must read the directory as ONE catalog, partition per file
    import spark.implicits._
    val outDir = Files.createTempDirectory("graft_h5_parts")
    Seq((0L, 30.5, -10.5), (1L, 30.6, -10.4)).toDF("object_id", "ra", "dec")
      .coalesce(1).write.parquet(outDir.resolve("s0").toString)
    Seq((2L, 31.5, -9.5), (3L, 31.6, -9.4)).toDF("object_id", "ra", "dec")
      .coalesce(1).write.parquet(outDir.resolve("s1").toString)
    // rename into the converter's flat part-file layout
    val flat = Files.createTempDirectory("graft_h5_flat")
    Seq("s0", "s1").zipWithIndex.foreach { case (s, i) =>
      val part = Files.list(outDir.resolve(s)).iterator()
      var moved = false
      while (part.hasNext && !moved) {
        val p = part.next()
        if (p.toString.endsWith(".parquet")) {
          Files.move(p, flat.resolve(f"part-$i%05d-shard_$i.parquet"))
          moved = true
        }
      }
      assert(moved, s"no parquet part written under $s")
    }
    val ds = graft.sources.CatalogSources("parquet")
      .load(spark, flat.toString, columns = Seq("object_id", "ra"))
    assert(ds.columns.toSeq === Seq("object_id", "ra"))
    assert(ds.select("object_id").collect().map(_.getLong(0)).sorted
      === Array(0L, 1L, 2L, 3L))
  }

  test("catalog sources: csv/json/orc round-trip through the seam with projection") {
    import spark.implicits._
    val df = Seq((1L, 30.5, "a"), (2L, 31.5, "b")).toDF("object_id", "ra", "tag")
    val base = Files.createTempDirectory("graft_fmt")
    for (fmt <- Seq("csv", "json", "orc")) {
      val p = base.resolve(fmt).toString
      graft.output.Sinks.write(df, p, fmt)
      val back = graft.sources.CatalogSources(fmt)
        .load(spark, p, columns = Seq("object_id", "tag"))
      assert(back.columns.toSeq === Seq("object_id", "tag"), fmt)
      assert(back.select("tag").collect().map(_.getString(0)).sorted
        === Array("a", "b"), fmt)
    }
  }

  test("validSplit: null-safe predicate split, nothing lost") {
    import spark.implicits._
    val df = Seq[(Long, java.lang.Double)](
      (1L, 5.0), (2L, -1.0), (3L, null)).toDF("id", "v")
    val (good, bad) = RunObservability.validSplit(df, col("v") > 0)
    assert(good.select("id").collect().map(_.getLong(0)).toSet === Set(1L))
    assert(bad.select("id").collect().map(_.getLong(0)).toSet === Set(2L, 3L))
  }

  test("expectCount warns on mismatch but does not fail") {
    import spark.implicits._
    var warned: Option[String] = None
    val n = RunObservability.expectCount(
      Seq(1, 2, 3).toDF("x"), expected = 5, warn = m => warned = Some(m))
    assert(n === 3)
    assert(warned.exists(_.contains("expected 5")))
    warned = None
    RunObservability.expectCount(Seq(1).toDF("x"), 1, m => warned = Some(m))
    assert(warned.isEmpty)
  }

  test("progress listener observes task and stage completions") {
    val logs = new scala.collection.mutable.ArrayBuffer[String]
    val l = RunObservability.attachProgress(spark, m => logs.synchronized { logs += m })
    try {
      Tables.load(spark, sf0001, "lineitem").groupBy("l_returnflag").count().collect()
      // listener events are delivered asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (l.tasksCompleted.get() == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(l.tasksCompleted.get() > 0)
      assert(logs.exists(_.contains("stage")))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("progress listener keeps one record per completed stage, named by job group and description") {
    val sc = spark.sparkContext
    val l = RunObservability.attachProgress(spark, _ => ())
    try {
      l.drain(sc)
      sc.setJobGroup("ControlPlaneSpec.query", "ControlPlaneSpec: returnflag counts")
      try Tables.load(spark, sf0001, "lineitem").groupBy("l_returnflag").count().collect()
      finally sc.clearJobGroup()
      val records = l.drain(sc)
      assert(records.nonEmpty)
      assert(records.forall(r => r.query == "ControlPlaneSpec.query" &&
        r.label == "ControlPlaneSpec: returnflag counts"), records)
      assert(records.forall(r => r.tasks > 0 && r.wallMs >= 0 && r.taskMs >= 0))
      // the scan stage reads lineitem and writes the shuffle; the
      // aggregate stage reads it back
      val map = records.find(_.shuffleWriteBytes > 0)
      assert(map.exists(_.recordsRead > 0), records)
      assert(records.exists(_.shuffleReadBytes > 0), records)
      assert(records.map(_.stageId).distinct.size === records.size)
      // drained records are handed out once
      assert(l.drain(sc).isEmpty)
    } finally sc.removeSparkListener(l)
  }
}
