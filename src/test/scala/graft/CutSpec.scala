package graft

import graft.Cut._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** The one materialization primitive: labelled jobs, the caller's job
  * description restored, rows unchanged, and no other checkpoint call
  * in the program. */
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

  test("no label is left on Tables.inParallel's pooled threads") {
    val seen = Tables.inParallel((0 until 8).map { i => () =>
      val before = description
      frame.cut(s"CutSpec: branch $i")
      (before, description)
    })
    seen.foreach { case (before, after) => assert(after === before) }
    assert(!Tables.inParallel(Seq.fill(8)(() => description))
      .exists(d => d != null && d.startsWith("CutSpec")))
  }

  test("a cut returns the input's rows") {
    val in = frame.groupBy(col("k")).agg(sum(col("id")).as("s"))
    val out = in.cut("CutSpec: rows")
    assert(out.schema === in.schema)
    assert(out.collect().sortBy(_.getLong(0)).toSeq ===
      in.collect().sortBy(_.getLong(0)).toSeq)
  }

  test("no checkpoint call in src/main outside Cut.scala") {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith("Cut.scala")), files)
    // spelled from parts so this file does not match itself
    val needles = Seq("localCheckpoint", "checkpoint").map(m => s".$m(")
    val calls = for {
      f <- files if !f.endsWith("Cut.scala")
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if needles.exists(line.contains)
    } yield s"$f:${i + 1}: $line"
    assert(calls.isEmpty, calls.mkString("\n"))
  }
}
