package graft

import graft.Cut._
import graft.dedup.MinHashLSH
import graft.operators.{Dedup, Similarity, Workloads}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ScalePostureSpec extends SparkSpec {
  import ScalePostureSpec._

  /** Candidate-growth exponent of one generator: the corpus is
    * replicated k ∈ {1, 2, 4} times under a null model that keeps every
    * within-replica similarity and makes cross-replica pairs vanishingly
    * rare, so true pairs grow ~k×. Then α = log(c₄/c₁)/log 4 of
    * the candidate count c reads ~1 for a bucketed generator and ~2 for
    * an all-pairs one. */
  private def growth(replicate: Int => DataFrame)(
      candidates: DataFrame => DataFrame): Growth = {
    val counts = Seq(1, 2, 4).map(k =>
      candidates(replicate(k).cut(s"ScalePostureSpec: $k replicas")).count())
    Growth(counts)
  }

  private lazy val docs = Tables.load(spark, sf0001, "documents")
  private lazy val embeddings = Tables.load(spark, sf0001, "embeddings")

  private def guard(family: String, bound: Double)(g: => Growth): Unit =
    test(s"candidate growth: $family stays under its α bound") {
      val measured = g
      assert(measured.counts.head > 0, s"$family: no candidates at k = 1")
      assert(measured.alpha <= bound,
        f"$family: α = ${measured.alpha}%.3f over candidates ${measured.counts}")
    }

  guard("q44 Dedup.jaccardCandidates", Bounds("q44"))(
    growth(saltedDocs(docs, _))(Dedup.jaccardCandidates))
  guard("q45 MinHashLSH.candidatePairs b16r4", Bounds("q45"))(
    growth(saltedDocs(docs, _))(d => MinHashLSH.candidatePairs(
      MinHashLSH.bandBuckets(d, "doc_id", "text", 64, 16, 3))))
  guard("q46 Dedup.simhashPairs", Bounds("q46"))(
    growth(saltedDocs(docs, _))(Dedup.simhashPairs))
  guard("q79 Dedup.simhashPairsWide", Bounds("q79"))(
    growth(saltedDocs(docs, _))(Dedup.simhashPairsWide))
  guard("q84 Workloads.passJoinCandidates", Bounds("q84"))(
    growth(permutedHeads(docs, _))(Workloads.passJoinCandidates))
  guard("q87 Similarity.adaptiveCandidates", Bounds("q87"))(
    growth(rotatedEmbeddings(embeddings, _))(e =>
      Similarity.adaptiveCandidates(e, Similarity.adaptiveBits(e.count()))))

  test("candidate growth control: q83's gate LSH config reads quadratic") {
    // t = 0.4 puts a near-constant fraction of all pairs in some
    // bucket, so its candidates grow as n²: the estimator must tell
    // that apart from every guarded family's bound.
    val g = growth(rotatedEmbeddings(embeddings, _))(e =>
      Similarity.lshCandidates(e, Similarity.Planes83, Similarity.Bands83,
        Similarity.Bits83))
    assert(g.counts.head > 0)
    assert(g.alpha >= Bounds.values.max + ControlMargin,
      f"control α = ${g.alpha}%.3f over candidates ${g.counts}")
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    try {
      Tables.load(s2, sf0001, "orders")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("orders_b")
      Tables.load(s2, sf0001, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("lineitem_b")
      val joined = s2.table("lineitem_b").join(s2.table("orders_b"),
        col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() === Tables.load(s2, sf0001, "lineitem").count())
    } finally {
      s2.sql("DROP TABLE IF EXISTS orders_b")
      s2.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }
}

object ScalePostureSpec {
  final case class Growth(counts: Seq[Long]) {
    def alpha: Double =
      math.log(counts.last.toDouble / counts.head) / math.log(4.0)
  }

  /** Per-family α ceilings: the sf0.001 reading (q44 1.000, q45 1.000,
    * q46 0.745, q79 1.158, q84 1.000, q87 1.159; the counts are
    * deterministic) plus 0.1, rounded up to a multiple of 0.05. A
    * generator that turns all-pairs reads ~2. */
  val Bounds: Map[String, Double] = Map(
    "q44" -> 1.10, "q45" -> 1.10, "q46" -> 0.85,
    "q79" -> 1.30, "q84" -> 1.10, "q87" -> 1.30)
  val ControlMargin = 0.5

  private val Offset = 10000000L
  private val Dim = 64
  private val Alphanumeric =
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"

  /** Replica r renames every token t to t·"zq"r. A bijective renaming
    * keeps every within-replica Jaccard similarity and shares no
    * token across replicas. */
  def saltedDocs(docs: DataFrame, k: Int): DataFrame =
    (0 until k).map { r =>
      val base = docs.select((col("doc_id") + lit(r * Offset)).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))
      if (r == 0) base
      else base.withColumn("text",
        regexp_replace(col("text"), "(\\S+)", s"$$1zq$r"))
    }.reduce(_ unionByName _)

  /** Replica r applies a signed permutation (cyclic shift by 7r, seeded
    * sign flips) to every embedding. It is orthogonal, so within-replica
    * cosines are exact while cross-replica cosines decorrelate. */
  def rotatedEmbeddings(emb: DataFrame, k: Int): DataFrame =
    (0 until k).map { r =>
      val base = emb.select((col("vec_id") + lit(r * Offset)).as("vec_id"),
        col("label"), col("embedding"))
      if (r == 0) base
      else {
        val rng = new scala.util.Random(1000 + r)
        val signs = Array.fill(Dim)(if (rng.nextBoolean()) 1.0f else -1.0f)
        val elems = (0 until Dim).map { i =>
          (element_at(col("embedding"), ((i + 7 * r) % Dim) + 1)
            * lit(signs(i))).cast("float")
        }
        base.withColumn("embedding", array(elems: _*))
      }
    }.reduce(_ unionByName _)

  /** Replica r maps each 40-char head through a seeded permutation of
    * [a-zA-Z0-9]. Edit distance is invariant under a character
    * bijection, and cross-replica segments effectively never match. */
  def permutedHeads(docs: DataFrame, k: Int): DataFrame =
    (0 until k).map { r =>
      val base = docs.select((col("doc_id") + lit(r * Offset)).as("doc_id"),
        col("source"), substring(col("text"), 1, 40).as("head"))
      if (r == 0) base
      else {
        val perm = new scala.util.Random(2000 + r)
          .shuffle(Alphanumeric.toList).mkString
        base.withColumn("head", translate(col("head"), Alphanumeric, perm))
      }
    }.reduce(_ unionByName _)
}

class PartitionPruningSpec extends SparkSpec {
  test("partitioned write + filter prunes partitions at the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part")
    Tables.load(spark, sf0001, "orders")
      .write.partitionBy("o_orderstatus").mode("overwrite")
      .parquet(dir.toString)
    val q = spark.read.parquet(dir.toString)
      .filter(org.apache.spark.sql.functions.col("o_orderstatus") === "F")
    val plan = q.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("o_orderstatus#") && plan.contains("= F"), plan)
    // only the F partition directory is read
    val filesRead = q.queryExecution.executedPlan.collectLeaves()
      .head.toString
    assert(q.count() === Tables.load(spark, sf0001, "orders")
      .filter("o_orderstatus = 'F'").count())
  }
}

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("transitive chains collapse to one cluster with min label") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val labels = graft.dedup.ConnectedComponents.clusterLabels(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }
}
