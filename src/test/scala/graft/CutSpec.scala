package graft

import graft.Cut._
import graft.run.RunObservability
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange,
  ShuffleExchangeExec}
import org.apache.spark.sql.functions._

/** The one materialization primitive, the one fork and the one query
  * sweep: labelled jobs, the caller's job description restored, rows
  * unchanged, each query's jobs in its own job group, and no other
  * checkpoint call, cache call, thread pool, scan-width probe,
  * job-group or cache-release call in the program. Also: each engine
  * kernel's DuckDB replay is written once, beside the kernel. */
class CutSpec extends SparkSpec {
  private def description: String =
    spark.sparkContext.getLocalProperty(Cut.Description)

  private def frame = spark.range(0, 50, 1, 4)
    .select(col("id"), (col("id") % 7).as("k"))

  test("the cut's jobs carry its label") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Cut.Description)))
          .foreach(seen.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      frame.groupBy(col("k")).count().cut("CutSpec: label probe")
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains("CutSpec: label probe") &&
        System.nanoTime() < deadline) Thread.sleep(50)
      assert(seen.contains("CutSpec: label probe"), seen)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("the caller's description is restored after a cut, and after one that throws") {
    val initial = description
    try {
      spark.sparkContext.setJobDescription(null)
      frame.cut("CutSpec: unset")
      assert(description === null)
      spark.sparkContext.setJobDescription("caller")
      frame.cut("CutSpec: set")
      assert(description === "caller")
      val failing = frame.select(
        when(col("id") === 3, raise_error(lit("boom"))).otherwise(col("id")))
      intercept[Exception](failing.cut("CutSpec: throws"))
      assert(description === "caller")
    } finally spark.sparkContext.setJobDescription(initial)
  }

  /** `body`'s value and the properties of every job it started, in
    * start order. Listener events arrive asynchronously but in order
    * on one queue, so a marked sentinel job run after `body` flushes
    * them. */
  private def jobsOf[A](body: => A): (A, Seq[java.util.Properties]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).getOrElse(new java.util.Properties()))
    }
    val marker = java.util.UUID.randomUUID().toString
    def flushed = seen.stream().anyMatch(p => p.getProperty(Cut.Description) == marker)
    spark.sparkContext.addSparkListener(listener)
    val previous = description
    try {
      val v = body
      spark.sparkContext.setJobDescription(marker)
      spark.range(1).collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!flushed && System.nanoTime() < deadline) Thread.sleep(50)
      assert(flushed, "listener events did not arrive")
      import scala.jdk.CollectionConverters._
      (v, seen.asScala.toSeq.filterNot(_.getProperty(Cut.Description) == marker))
    } finally {
      spark.sparkContext.setJobDescription(previous)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("Tables.inParallel: branch jobs carry its label, cuts keep theirs, the caller's stays") {
    val initial = description
    try {
      spark.sparkContext.setJobDescription("caller")
      val ((after, callerAfter), jobs) = jobsOf {
        val r = Tables.inParallel("CutSpec.fanout",
          Seq("a", "b").map { b => b -> { () =>
            frame.groupBy(col("k")).count().collect()
            frame.cut(s"CutSpec: cut in $b")
            description
          } })
        (r, description)
      }
      // a cut restores the branch's label, not the caller's
      assert(after === Seq("CutSpec.fanout: a", "CutSpec.fanout: b"))
      val labels = jobs.map(_.getProperty(Cut.Description)).toSet
      assert(labels === Set("CutSpec.fanout: a", "CutSpec.fanout: b",
        "CutSpec: cut in a", "CutSpec: cut in b"))
      assert(callerAfter === "caller")
    } finally spark.sparkContext.setJobDescription(initial)
  }

  test("Tables.inParallel: the caller's job group reaches branch jobs, call after call") {
    val sc = spark.sparkContext
    try for (group <- Seq("CutSpec-group-1", "CutSpec-group-2")) {
      sc.setJobGroup(group, "fan-out under a job group")
      val (_, jobs) = jobsOf(Tables.inParallel("CutSpec.groups",
        (0 until 4).map(i => s"b$i" -> { () => frame.count() })))
      assert(jobs.nonEmpty)
      val groups = jobs.map(_.getProperty("spark.jobGroup.id"))
      assert(groups.forall(_ == group), groups)
    } finally sc.clearJobGroup()
  }

  test("Tables.inParallel: input order, a branch's own exception, no thread outlives the call") {
    val threads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    def branch[A](name: String)(f: => A): (String, () => A) =
      name -> { () => threads.add(Thread.currentThread); f }
    // later branches finish first; results still come back in input order
    assert(Tables.inParallel("CutSpec.order", (0 until 4).map(i =>
      branch(s"b$i") { Thread.sleep((4 - i) * 50L); i })) === (0 until 4))
    class BranchFailure extends RuntimeException("branch failed")
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    intercept[BranchFailure](Tables.inParallel("CutSpec.failure", Seq(
      branch("slow") { Thread.sleep(300); slowDone.set(true); 0 },
      branch("fails") { throw new BranchFailure })))
    // the call waited for the slow branch before it rethrew
    assert(slowDone.get)
    import scala.jdk.CollectionConverters._
    assert(threads.size === 6)
    assert(threads.asScala.forall(!_.isAlive), threads.asScala.map(_.getName))
  }

  private val Group = "spark.jobGroup.id"

  test("SparkEntry.sweep: cut, branch and final jobs carry the query's group; its stages are recorded") {
    val sc = spark.sparkContext
    val progress = RunObservability.attachProgress(spark, _ => ())
    try {
      progress.drain(sc)
      val (outcomes, jobs) = jobsOf(SparkEntry.sweep(spark, Seq("CutSpec.query"), { _ =>
        val shared = frame.cut("CutSpec.query: shared")
        Tables.inParallel("CutSpec.query", Seq("a", "b").map { b =>
          b -> { () => shared.groupBy(col("k")).count().collect() }
        })
        shared.groupBy(col("k")).count()
      })((_, df) => df.collect()))
      assert(outcomes.map { case (n, o) => n -> o.isRight } === Seq("CutSpec.query" -> true))
      val groups = jobs.map(_.getProperty(Group))
      assert(groups.nonEmpty && groups.forall(_ == "CutSpec.query"), groups)
      assert(jobs.map(_.getProperty(Cut.Description)).toSet === Set("CutSpec.query: shared",
        "CutSpec.query: a", "CutSpec.query: b", "CutSpec.query"))
      val records = progress.drain(sc).filter(_.query == "CutSpec.query")
      val labels = records.map(_.label).toSet
      assert(labels("CutSpec.query: shared") && labels("CutSpec.query: a"), labels)
      assert(records.exists(_.shuffleWriteBytes > 0), records)
    } finally sc.removeSparkListener(progress)
  }

  test("SparkEntry.sweep: a failure is returned, the next query keeps its own group, nothing outlives it") {
    val sc = spark.sparkContext
    class QueryFailure extends RuntimeException("query failed")
    val (outcomes, jobs) = jobsOf(SparkEntry.sweep(spark,
      Seq("CutSpec.fails", "CutSpec.next"), {
        case "CutSpec.fails" =>
          frame.count()
          throw new QueryFailure
        case _ => frame.groupBy(col("k")).count()
      })((_, df) => df.collect()))
    assert(outcomes.map(_._1) === Seq("CutSpec.fails", "CutSpec.next"))
    assert(outcomes.head._2.fold(_.isInstanceOf[QueryFailure], _ => false))
    assert(outcomes(1)._2.isRight)
    val groups = jobs.map(_.getProperty(Group))
    assert(groups.contains("CutSpec.fails") && groups.contains("CutSpec.next"), groups)
    assert(groups.dropWhile(_ == "CutSpec.fails").forall(_ == "CutSpec.next"), groups)
    assert(sc.getLocalProperty(Group) === null)
  }

  test("a cut returns the input's rows") {
    val in = frame.groupBy(col("k")).agg(sum(col("id")).as("s"))
    val out = in.cut("CutSpec: rows")
    assert(out.schema === in.schema)
    assert(out.collect().sortBy(_.getLong(0)).toSeq ===
      in.collect().sortBy(_.getLong(0)).toSeq)
  }

  /** Every node of `plan`, into adaptive plans and query stages. */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] = plan +: (plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case p => p.children.flatMap(nodes)
  })

  test("a keyed cut's shuffle-merge self-join plans no ShuffleExchangeExec; a join shuffles only the other side") {
    // a cut keeps the hash partitioning a persisted copy would keep, so
    // a keyed table read again across loop rounds or micro-batches is cut
    val keyed = frame.repartition(col("k")).cut("CutSpec: keyed")
    def planOf(j: DataFrame): Seq[SparkPlan] = {
      j.collect()
      nodes(j.queryExecution.executedPlan)
    }
    val self = planOf(keyed.as("a").hint("shuffle_merge").join(keyed.as("b"), "k"))
    assert(!self.exists(_.isInstanceOf[ShuffleExchangeExec]), self.head)
    val other = spark.range(0, 20).select((col("id") % 7).as("k"), col("id").as("o"))
    val joined = planOf(keyed.join(other.hint("shuffle_merge"), "k"))
    val shuffles = joined.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size === 1, joined.head)
    assert(!shuffles.head.exists(_.isInstanceOf[RDDScanExec]), joined.head)
    val counted = planOf(keyed.groupBy(col("k")).count())
    assert(!counted.exists(_.isInstanceOf[ShuffleExchangeExec]), counted.head)
  }

  test("a keyed cut keeps the frame's rows with AQE on and off, at 1 and 7 partitions") {
    val conf = spark.conf
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val saved = keys.map(k => k -> conf.get(k))
    try for (aqe <- Seq(true, false); n <- Seq(1, 7)) {
      conf.set(keys(0), aqe.toString)
      conf.set(keys(1), n.toLong)
      val keyed = frame.repartition(col("k"))
      val cut = keyed.cut(s"CutSpec: keyed, AQE $aqe, $n partitions")
      assert(cut.collect().sortBy(_.getLong(0)).toSeq ===
        keyed.collect().sortBy(_.getLong(0)).toSeq, s"AQE $aqe, $n partitions")
      // Spark plans a one-partition repartition as SinglePartition,
      // which satisfies every distribution HashPartitioning(k, 1) would
      if (aqe) cut.queryExecution.executedPlan.outputPartitioning match {
        case SinglePartition if n == 1 =>
        case h: HashPartitioning =>
          assert(h.numPartitions === n)
          assert(h.references.map(_.name).toSet === Set("k"))
        case p => fail(s"AQE, $n partitions: $p")
      }
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("q98 and q121 read their cut table only through a broadcast or an exchange on other keys") {
    // why RepeatedSpans' sg and DriftAudit's cs may be cuts: no read
    // rides the (source, key) partitioning a persisted copy would keep
    def exchangesAboveReads(plan: SparkPlan, above: Option[SparkPlan]): Seq[Option[SparkPlan]] =
      plan match {
        case a: AdaptiveSparkPlanExec => exchangesAboveReads(a.executedPlan, above)
        case _: RDDScanExec => Seq(above)
        case e: Exchange => e.children.flatMap(exchangesAboveReads(_, Some(e)))
        case p => p.children.flatMap(exchangesAboveReads(_, above))
      }
    for ((q, key) <- Seq("q98_source_overlap" -> Set("source", "g"),
        "q121_source_divergence" -> Set("source", "w"))) {
      val plan = SparkEntry.queries(q)(spark, sf0001).queryExecution.executedPlan
      val reads = exchangesAboveReads(plan, None)
      assert(reads.size >= 3, s"$q\n$plan")
      reads.foreach {
        case Some(_: BroadcastExchangeExec) =>
        case Some(e: ShuffleExchangeExec) =>
          val on = e.outputPartitioning match {
            case h: HashPartitioning => h.references.map(_.name).toSet
            case _ => Set.empty[String]
          }
          assert(!key.subsetOf(on), s"$q\n$plan")
        case other => fail(s"$q: a read of the cut under $other\n$plan")
      }
    }
  }

  test("q98's and q121's single-use tables are cut: an action over them leaves no cache behind") {
    spark.catalog.clearCache()
    val d = Tables.load(spark, sf0001, "documents")
    operators.RepeatedSpans.sourceOverlap(d).collect()
    operators.DriftAudit.divergenceMatrix(d).collect()
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("no checkpoint call outside Cut.scala and no cache call in src") {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith("Cut.scala")), files)
    // spelled from parts so this file does not match itself
    val checkpoints = Seq("localCheckpoint", "checkpoint").map(m => s".$m(")
    val caches = Seq("." + "persist(", "." + "cache()", "un" + "persist(",
      "cache" + "table(", "cache" + " table") // matched case-insensitively
    val calls = for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if caches.exists(line.toLowerCase.contains(_)) ||
        (!f.endsWith("Cut.scala") && checkpoints.exists(line.contains))
    } yield s"$f:${i + 1}: $line"
    assert(calls.isEmpty, calls.mkString("\n"))
  }

  test("an oracle states a kernel only through the SQL replay beside it") {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    // spelled from parts so this file does not match itself
    val homes = Seq(
      "functions/VectorExprs.scala" -> Seq("list_" + "zip(", "%" + ".3f"),
      "functions/SplitMix64.scala" -> Seq("1844674407" + "3709551616"))
    val local = ("\\bdef\\s+(dotE|sumsq|cosE|saltLit|sub)" + "\\b").r
    val hits = for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if local.findFirstIn(line).nonEmpty || homes.exists { case (home, needles) =>
        !f.endsWith(home) && needles.exists(line.contains) }
    } yield s"$f:${i + 1}: $line"
    assert(files.exists(_.endsWith("functions/VectorExprs.scala")), files)
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no fork or scan-width probe in src/main outside Tables.scala") {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith("Tables.scala")), files)
    // spelled from parts so this file does not match itself
    val needles = Seq("scala" + ".concurrent", "Execution" + "Context",
      "." + "inputFiles")
    val hits = for {
      f <- files if !f.endsWith("Tables.scala")
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if needles.exists(line.contains)
    } yield s"$f:${i + 1}: $line"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no job-group or cache-release call in src/main outside SparkEntry.sweep") {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    val entry = files.find(_.endsWith("SparkEntry.scala"))
    assert(entry.nonEmpty, files)
    val sweep = java.nio.file.Files.readAllLines(entry.get).asScala.toSeq
    val start = sweep.indexWhere(_.contains("def sweep("))
    val next = sweep.indexWhere(_.contains(" def "), start + 1)
    val end = if (next < 0) sweep.size else next
    assert(start >= 0 && end > start)
    // spelled from parts so this file does not match itself; nothing
    // in src caches, so nothing releases a cache, the sweep included
    val groups = Seq("set" + "JobGroup", "clear" + "JobGroup")
    val hits = for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("clear" + "Cache") || (groups.exists(line.contains) &&
        !(entry.contains(f) && i > start && i < end))
    } yield s"$f:${i + 1}: $line"
    assert(hits.isEmpty, hits.mkString("\n"))
    assert(groups.forall(n => sweep.slice(start, end).exists(_.contains(n))))
  }
}
