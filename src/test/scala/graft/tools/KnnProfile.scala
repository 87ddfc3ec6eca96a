package graft.tools

import graft.Cut._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool (r15, verdict item 3): stage decomposition of the
  * q94b/q94c adaptive batch-kNN wall — count pass, assignment scan,
  * query probe ranking, candidate join, top-5 window. Usage:
  *   Test/runMain graft.tools.KnnProfile /root/testdata/sf0.1 [cpus]
  */
object KnnProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = args.lift(1).getOrElse("32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(
      sys.env.getOrElse("KNN_PROFILE_LOGLEVEL", "WARN"))

    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[knn] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    import graft.operators._
    val e0 = graft.Tables.load(spark, dir, "embeddings")
    val e = if (args.contains("--spread"))
      graft.Tables.spread(e0, col("vec_id")) else e0
    e.count()
    for (pass <- 1 to 3) {
      println(s"[knn] ---- pass $pass ----")
      val n = t("count")(e.count())
      val cells = Similarity.adaptiveCells(n)
      val cents = Centroids94.table.take(cells)
      import org.apache.spark.sql.expressions.Window
      import graft.functions.VectorExprs
      val sims = array(cents.map(c =>
        VectorExprs.cosineFast(col("embedding"), typedlit(c))): _*)
      val assigned = e.select(col("vec_id"), col("label"), col("embedding"),
        (array_position(sims, array_max(sims)) - 1).cast("int").as("cell"))
      t("assignment scan")(noop(assigned.select("vec_id", "cell")))
      val qc = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          sims.as("sims"))
        .select(col("q_id"), col("q_emb"), explode(expr(
          s"""transform(slice(array_sort(transform(sequence(0, ${cents.length - 1}),
             |  i -> struct(-element_at(sims, i + 1) AS s, i AS i))), 1, 6),
             |  x -> x.i)""".stripMargin)).as("qcell"))
      t("query probe ranking")(noop(qc.select("q_id", "qcell")))
      val cand = assigned.as("a")
        .join(qc.as("q"),
          col("a.cell") === col("q.qcell") && col("a.vec_id") =!= col("q.q_id"))
        .select(col("q.q_id"), col("a.vec_id"), col("a.label"),
          round(VectorExprs.cosineFast(col("a.embedding"), col("q.q_emb")), 6)
            .as("cos_sim"))
      if (args.contains("--explain") && pass == 1)
        println(cand.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      t("candidate join+cos")(noop(cand))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      val top = cand.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
      t("full q94b (join+window)")(noop(top))
      // isolate: join from pre-materialized sides
      val aCk = t("assigned checkpoint")(
        assigned.cut("KnnProfile: assigned"))
      val qCk = t("qc checkpoint")(qc.cut("KnnProfile: query cells"))
      val candCk = aCk.as("a")
        .join(qCk.as("q"),
          col("a.cell") === col("q.qcell") && col("a.vec_id") =!= col("q.q_id"))
        .select(col("q.q_id"), col("a.vec_id"), col("a.label"),
          round(graft.functions.VectorExprs.cosineFast(
            col("a.embedding"), col("q.q_emb")), 6).as("cos_sim"))
      t("pure join+cos (ckpt sides)")(noop(candCk))
      val topCk = candCk.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
      t("pure join+window (ckpt)")(noop(topCk))
    }
    spark.stop()
  }
}
