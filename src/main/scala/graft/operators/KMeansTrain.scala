package graft.operators

import graft.Cut._
import graft.Tables
import graft.functions.NormQuant
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed k-means training (Lloyd's algorithm, fixed
  * iterations) — the codebook-training step behind every IVF/PQ
  * index and the classic embedding-space clustering pass of a
  * curation pipeline (FAISS trains exactly this before
  * coarse-quantizing; q86/q94's checked-in Centroids86/94 codebooks
  * were trained OFFLINE — this query runs the training IN the
  * engine, the "train a model as a groupBy" family alongside q105's
  * PageRank, q110's Naive Bayes and q114's BPE). The reference
  * analysis layer (/root/reference/src/cosmap/analysis/runner.py)
  * has no clustering at all.
  *
  * Cross-engine exactness: vectors are unit-normalized and
  * micro-quantized by the shared NormQuant kernel (the q106/q108
  * contract), after which EVERYTHING is integer arithmetic —
  * squared-L2 distances, the (dist, cluster) argmin tie-break, and
  * the centroid mean via the q108 +1e6-shift floor division (each
  * quantized coordinate is ≥ -1e6, so the shifted sum is
  * non-negative, where Spark's truncating `div` and DuckDB's
  * flooring `//` agree; the shift cancels after division). The
  * fixed-iteration result is bit-stable on any engine, partitioning
  * or summation order; floor losses are part of the DEFINITION the
  * oracle replays. Empty clusters carry their previous centroid
  * (deterministic on both engines via the same LEFT JOIN).
  *
  * Scale shape (100 TB posture): the quantized-coordinate table is
  * exploded ONCE, repartitioned by vec_id and cut — every
  * iteration reuses that exchange (the cut keeps its partitioning). Per iteration: the K·d-row
  * centroid table BROADCASTS into the coordinate scan (model state
  * is tiny, corpus never moves for it); the per-(vector, cluster)
  * distance groupBy and the vec-partitioned argmin window both ride
  * the vec_id partitioning ({vec_id} ⊆ {vec_id, cluster} — the q107
  * clustered-distribution argument, so the window adds NO exchange);
  * the centroid update is one (cluster, pos) groupBy whose map-side
  * partials reduce the shuffle to K·d rows per partition. Per-round
  * a cut truncates the iterate's lineage (the CC house rule).
  */
object KMeansTrain {
  type Q = (SparkSession, String) => DataFrame

  /** Shared engine/oracle constants: K centroids, T Lloyd rounds,
    * embedding dimensionality, the floor-division shift. */
  private[graft] val KmK = 8
  private[graft] val KmIters = 3
  private[graft] val Dim = 64
  private[graft] val Shift = 1000000L

  /** q129 constants: M subspaces of PqSub dims each (M·PqSub = Dim),
    * PqK codes per subspace, PqIters Lloyd rounds. */
  private[graft] val PqSub = 16
  private[graft] val PqK = 8
  private[graft] val PqIters = 2

  /** q132 constants: the q106 fixed query panel and the per-query
    * neighbor count. */
  private[graft] val AdcQueryIds = Seq(0L, 5L, 11L, 17L)
  private[graft] val AdcTop = 10

  val queries: Map[String, Q] = Map(
    // -- T=3 integer-exact Lloyd rounds from the K smallest vec_ids;
    //    output the final codebook, one row per (cluster, pos), with
    //    the final membership counts. --
    "q118_kmeans_train" -> { (s, dir) =>
      train(Tables.load(s, dir, "embeddings"))
    },
    // -- q129: product-quantization codebook (Jégou, Douze & Schmid
    //    2011) — the memory-scale path of billion-vector ANN (IVF-PQ
    //    stores M byte codes per vector instead of d floats; q86/q94
    //    coarse-quantize, THIS is the fine quantizer). M independent
    //    k-means trained JOINTLY as one keyed plan (subspace is just
    //    another group key), then every vector is encoded and the
    //    gate output is the (sub, code) cell census: occupancy + mean
    //    squared distortion — the two numbers that grade a codebook
    //    (dead codes / unbalanced cells / reconstruction error). --
    "q129_pq_codebook" -> { (s, dir) =>
      pq(Tables.load(s, dir, "embeddings"))
    },
    // -- q132: IVF-PQ asymmetric-distance retrieval (Jégou, Douze &
    //    Schmid 2011 §IV.A, "ADC") — the SEARCH step the q129
    //    codebook exists for, and the compressed-domain completion of
    //    the ANN family (q94 coarse IVF → q129 fine quantizer → THIS
    //    query answers kNN against the byte codes without ever
    //    touching a raw vector). Distance(query, vec) = Σ_sub
    //    LUT[sub, code(vec, sub)], where the LUT holds the exact
    //    integer squared-L2 from the query subvector to every
    //    centroid — M table lookups + an M-term add per candidate,
    //    which is WHY PQ search scales to billions of vectors. Top-10
    //    per q106 panel query, self excluded. --
    "q132_pq_adc_topk" -> { (s, dir) =>
      adc(Tables.load(s, dir, "embeddings"))
    },

    // -- q187 (round 12): the PQ SUBSPACE-COUNT frontier — the ANN
    //    family's MEMORY axis: per M ∈ {2,4,8} subspaces (3·M bits
    //    per vector), mean quantization distortion and ADC recall@10
    //    on the q132 panel vs the exact integer-L2 truth. One shared
    //    coordinate explode; each M re-keys it by projection and
    //    trains through the same Lloyd kernels. --
    "q187_pq_frontier" -> { (s, dir) =>
      pqFrontier(Tables.load(s, dir, "embeddings"))
    },
  )

  /** The trained codebook over any (vec_id, embedding) frame:
    * (cluster, pos, c, n). Exposed for the spec's replay. */
  private[graft] def train(e: DataFrame): DataFrame = {
    // quantized coordinates, exploded once, reused 2x per round
    val qv = e.select(col("vec_id"), posexplode(NormQuant(col("embedding"))))
      .select(col("vec_id"), col("pos"), col("col").as("q"))
      .repartition(col("vec_id"))
      .cut("KMeansTrain.train: coordinates")
    // deterministic init: the K smallest vec_ids, cluster = their
    // rank (TakeOrdered — K rows of driver state at any corpus size)
    val ids = e.select(col("vec_id")).orderBy(col("vec_id")).limit(KmK)
      .withColumn("cluster",
        (row_number().over(Window.orderBy(col("vec_id"))) - 1).cast("int"))
    var cent = qv.join(broadcast(ids), "vec_id")
      .select(col("cluster"), col("pos"), col("q").as("c"),
        lit(0L).as("n"))
      .cut("KMeansTrain.train: initial centroids")
    for (_ <- 1 to KmIters)
      cent = round(qv, cent).cut("KMeansTrain.train: centroids")
    cent
  }

  /** One Lloyd round, un-checkpointed (plan-shape-testable):
    * assign-to-nearest + recompute means + empty-cluster carry. */
  private[graft] def round(qv: DataFrame, prev: DataFrame): DataFrame = {
    val cent = prev.select(col("cluster"), col("pos"), col("c"))
    val asg = qv.join(broadcast(cent), "pos")
      .groupBy(col("vec_id"), col("cluster"))
      .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("dist"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("dist"), col("cluster"))))
      .where(col("rk") === 1)
      .select(col("vec_id"), col("cluster"))
    val sums = qv.join(asg.hint("shuffle_merge"), "vec_id")
      .groupBy(col("cluster"), col("pos"))
      .agg(sum(col("q") + lit(Shift)).as("sq"), count(lit(1)).as("n"))
    cent.join(sums, Seq("cluster", "pos"), "left")
      .select(col("cluster"), col("pos"),
        coalesce(expr(s"(sq div n) - $Shift"), col("c")).as("c"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** q129 full frame: (sub, code, n, mean_dist) — M·PqK rows.
    *
    * Scale shape: identical posture to q118 with `sub` folded into
    * every key — the quantized coordinate table is exploded ONCE,
    * vec_id-partitioned and cut; per round the M·PqK·PqSub-row
    * codebook BROADCASTS into it, the per-(vector, subspace, code)
    * distance groupBy and the (vec_id, sub) argmin window both ride
    * the vec_id partitioning (subset-clustering — no new exchange),
    * and the mean update shuffles only codebook-sized map-side
    * partials plus the assignment table. Distortion totals ride
    * DECIMAL(38,0)/HUGEINT (a BIGINT sum of ≤6.4e13-per-cell terms
    * overflows near 1e5 vectors·cell — the q128 lesson), floored to
    * a per-cell integer mean both engines state identically. */
  private[graft] def pq(e: DataFrame): DataFrame = {
    val (qv, cent) = pqModel(e)
    pqAssign(qv, cent)
      .groupBy(col("sub"), col("code"))
      .agg(count(lit(1)).as("n"),
        sum(col("dist").cast("decimal(38,0)")).as("sd"))
      .select(col("sub"), col("code"), col("n"),
        expr("CAST(sd div n AS BIGINT)").as("mean_dist"))
      .cut("KMeansTrain.pq: distortion census")
  }

  /** The shared q129/q132 training pass: the cut, vec_id-partitioned
    * quantized coordinate table and the final checkpointed codebook. */
  private[graft] def pqModel(e: DataFrame): (DataFrame, DataFrame) = {
    val qv = e.select(col("vec_id"), posexplode(NormQuant(col("embedding"))))
      .select(col("vec_id"), expr(s"CAST(pos div $PqSub AS INT)").as("sub"),
        expr(s"CAST(pos % $PqSub AS INT)").as("spos"), col("col").as("q"))
      .repartition(col("vec_id"))
      .cut("KMeansTrain.pqModel: coordinates")
    // deterministic init: the PqK smallest vec_ids seed code = rank
    // in EVERY subspace (TakeOrdered — K rows of driver state)
    val ids = e.select(col("vec_id")).orderBy(col("vec_id")).limit(PqK)
      .withColumn("code",
        (row_number().over(Window.orderBy(col("vec_id"))) - 1).cast("int"))
    var cent = qv.join(broadcast(ids), "vec_id")
      .select(col("sub"), col("code"), col("spos"), col("q").as("c"))
      .cut("KMeansTrain.pqModel: initial codebooks")
    for (_ <- 1 to PqIters)
      cent = pqRound(qv, cent).cut("KMeansTrain.pqModel: codebooks")
    (qv, cent)
  }

  /** q132 full frame: (q_id, rk, vec_id, adist) — AdcTop rows per
    * panel query.
    *
    * Scale shape: the encode (pqAssign) and the per-(query, vector)
    * distance sum BOTH ride the cut's vec_id partitioning
    * (subset-clustering: {vec_id} ⊆ {vec_id, sub} and {vec_id} ⊆
    * {q_id, vec_id}); model state only ever broadcasts — the 512-row
    * codebook into the encode, the M·PqK·|panel|-row LUT (128 rows,
    * cut so the gate plan sees a materialized dim)
    * into the code stream. The ONE new exchange is the per-query
    * top-k window on q_id (the established q94/q106 shape; the panel
    * is a FIXED 4-query dim — a growing query set takes the q94b
    * cell path, the documented q106 trade). Sums stay in BIGINT by
    * construction: a LUT entry is ≤ PqSub·(2e6)² ≈ 6.4e13 and the
    * ADC distance adds M of them. */
  private[graft] def adc(e: DataFrame): DataFrame = {
    val (qv, cent) = pqModel(e)
    adcRank(qv, cent, adcLut(qv, cent)).cut("KMeansTrain.adc: top candidates")
  }

  /** q187's subspace grid: M ∈ {2, 4, 8} subspaces of 64/M dims each
    * (PqK = 8 codes → a vector compresses to 3·M bits). 4 is the
    * q129/q132 gate configuration. Shared with the generated oracle. */
  private[graft] val PqMGrid = Seq(2, 4, 8)

  /** q187: the PQ SUBSPACE-COUNT frontier — the ANN family's MEMORY
    * axis. q175/q177 price compute (candidates scanned per recall);
    * a PQ deployment's knob is code size: more subspaces → more bits
    * per vector → finer reconstruction and better compressed-domain
    * retrieval. Per M ∈ {2, 4, 8} (code_bits = 3·M): the mean
    * per-(vector, subspace) quantization distortion AND the ADC
    * recall@10 on the q132 panel against the EXACT integer-L2 truth
    * over the full quantized vectors — one table from memory spent to
    * retrieval bought, the m = 4 column being the shipped gate config.
    * Scale shape: the 64-dim quantized coordinates explode ONCE
    * (cut, vec_id-partitioned); each M re-KEYS them by
    * projection (pos div/mod — no re-explode, no new exchange) and
    * trains through the SAME pqRound/pqAssign kernels; the exact
    * truth is one panel-broadcast pass shared by every config; model
    * state only ever broadcasts. Distortion totals ride
    * DECIMAL(38,0)/HUGEINT (the q128/q129 overflow lesson). */
  private[graft] def pqFrontier(e: DataFrame): DataFrame = {
    val (parts, truth) = pqFrontierDetail(e)
    val tc = truth.count() // |panel|·AdcTop (the recall denominator)
    val rows = parts.map { case (m, asg, top) =>
      val distAgg = asg.agg(count(lit(1)).as("na"),
        sum(col("dist").cast("decimal(38,0)")).as("sd"))
      val hits = top.join(truth, Seq("q_id", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      distAgg.crossJoin(hits)
        .select(lit(s"m$m").as("config"), lit(m.toLong).as("m"),
          lit(3L * m).as("code_bits"),
          expr("CAST(sd div na AS BIGINT)").as("mean_dist"),
          lit(tc).as("truth_pairs"), col("hits"),
          expr(s"(1000000L * hits) div ${math.max(tc, 1L)}L")
            .as("recall_ppm"))
    }
    rows.reduce(_.unionByName(_)).cut("KMeansTrain.pqFrontier: frontier")
  }

  /** The frontier's moving parts, exposed for the spec: per M the
    * checkpointed final assignment + ADC top-k, plus the shared exact
    * truth. */
  private[graft] def pqFrontierDetail(e: DataFrame)
      : (Seq[(Int, DataFrame, DataFrame)], DataFrame) = {
    val qv0 = e.select(col("vec_id"), posexplode(NormQuant(col("embedding"))))
      .select(col("vec_id"), col("pos"), col("col").as("q"))
      .repartition(col("vec_id"))
      .cut("KMeansTrain.pqFrontierDetail: coordinates")
    // exact integer-L2 truth on the FULL quantized vectors — the
    // config-independent baseline every M is graded against (the q132
    // tie rule: (distance, vec_id), self excluded)
    val qpanel = qv0.filter(col("vec_id").isin(AdcQueryIds: _*))
      .select(col("vec_id").as("q_id"), col("pos"), col("q").as("qq"))
    val truth = qv0.join(broadcast(qpanel), Seq("pos"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum((col("qq") - col("q")) * (col("qq") - col("q"))).as("ed"))
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("ed"), col("vec_id"))))
      .where(col("rk") <= AdcTop)
      .select(col("q_id"), col("vec_id"))
      .cut("KMeansTrain.pqFrontierDetail: truth top-k")
    val ids = e.select(col("vec_id")).orderBy(col("vec_id")).limit(PqK)
      .withColumn("code",
        (row_number().over(Window.orderBy(col("vec_id"))) - 1).cast("int"))
    // the three M-trainings (each round a broadcast join + groupBy
    // over the shared cut coordinates) fork
    val parts = graft.Tables.inParallel("KMeansTrain.pqFrontierDetail",
        PqMGrid.map { m => s"m$m" -> { () =>
      val subDim = Dim / m
      // re-KEY the shared coordinates for this M: a projection over
      // the cut table, never a second explode
      val qv = qv0.select(col("vec_id"),
        expr(s"CAST(pos div $subDim AS INT)").as("sub"),
        expr(s"CAST(pos % $subDim AS INT)").as("spos"), col("q"))
      var cent = qv.join(broadcast(ids), "vec_id")
        .select(col("sub"), col("code"), col("spos"), col("q").as("c"))
        .cut("KMeansTrain.pqFrontierDetail: initial codebooks")
      for (_ <- 1 to PqIters)
        cent = pqRound(qv, cent).cut("KMeansTrain.pqFrontierDetail: codebooks")
      // the assignment feeds BOTH the distortion census and the ADC
      val asg = pqAssign(qv, cent).cut("KMeansTrain.pqFrontierDetail: assignments")
      val top = adcRankOver(asg.select(col("vec_id"), col("sub"),
        col("code")), adcLut(qv, cent)).cut("KMeansTrain.pqFrontierDetail: top candidates")
      (m, asg, top)
    } })
    (parts, truth)
  }

  /** Exact query-to-centroid lookup table: |panel|·M·PqK rows,
    * eagerly materialized (the gate plan sees a broadcast dim). */
  private[graft] def adcLut(qv: DataFrame, cent: DataFrame): DataFrame =
    qv.filter(col("vec_id").isin(AdcQueryIds: _*))
      .select(col("vec_id").as("q_id"), col("sub"), col("spos"),
        col("q").as("qq"))
      .join(broadcast(cent), Seq("sub", "spos"))
      .groupBy(col("q_id"), col("sub"), col("code"))
      .agg(sum((col("qq") - col("c")) * (col("qq") - col("c"))).as("lut"))
      .cut("KMeansTrain.adcLut: lookup table")

  /** Encode + compressed-domain top-k, un-checkpointed
    * (plan-shape-testable): M lookups and an M-term integer add per
    * (query, vector), then the per-query rank window. */
  private[graft] def adcRank(qv: DataFrame, cent: DataFrame,
      lut: DataFrame): DataFrame =
    adcRankOver(
      pqAssign(qv, cent).select(col("vec_id"), col("sub"), col("code")),
      lut)

  /** The compressed-domain ranking over an existing (vec_id, sub,
    * code) frame — factored so the q187 frontier reuses one
    * checkpointed assignment for both its distortion census and its
    * ADC pass. */
  private[graft] def adcRankOver(codes: DataFrame,
      lut: DataFrame): DataFrame =
    codes
      .join(broadcast(lut), Seq("sub", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("lut")).as("adist"))
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("adist"), col("vec_id"))))
      .where(col("rk") <= AdcTop)
      .select(col("q_id"), col("rk"), col("vec_id"), col("adist"))

  /** Nearest-code assignment per (vector, subspace): the argmin over
    * PqK integer squared-L2 distances, ties to the smaller code. */
  private[graft] def pqAssign(qv: DataFrame, cent: DataFrame): DataFrame =
    qv.join(broadcast(cent), Seq("sub", "spos"))
      .groupBy(col("vec_id"), col("sub"), col("code"))
      .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("dist"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_id"), col("sub"))
          .orderBy(col("dist"), col("code"))))
      .where(col("rk") === 1)
      .select(col("vec_id"), col("sub"), col("code"), col("dist"))

  /** One joint Lloyd round over all M subspaces; empty cells carry
    * their previous centroid (same LEFT JOIN contract as q118). */
  private[graft] def pqRound(qv: DataFrame, prev: DataFrame): DataFrame = {
    val asg = pqAssign(qv, prev).select(col("vec_id"), col("sub"), col("code"))
    val sums = qv.join(asg.hint("shuffle_merge"), Seq("vec_id", "sub"))
      .groupBy(col("sub"), col("code"), col("spos"))
      .agg(sum(col("q") + lit(Shift)).as("sq"), count(lit(1)).as("n"))
    prev.join(sums, Seq("sub", "code", "spos"), "left")
      .select(col("sub"), col("code"), col("spos"),
        coalesce(expr(s"(sq div n) - $Shift"), col("c")).as("c"))
  }

  // ---- code-generated DuckDB oracle (same constants, unrolled —
  //      the q105/q114 playbook) ------------------------------------

  private def oracle118: String = {
    val nrm = "sqrt(" + (1 to Dim).map(i =>
      s"CAST(embedding[$i] AS DOUBLE) * CAST(embedding[$i] AS DOUBLE)")
      .mkString(" + ") + ")"
    val iters = (1 to KmIters).map { i =>
      s"""d$i AS (
         |  SELECT qv.vec_id, cc.cluster, sum((q - c) * (q - c)) AS dist
         |  FROM qv JOIN c${i - 1} cc USING (pos)
         |  GROUP BY qv.vec_id, cc.cluster),
         |a$i AS (
         |  SELECT vec_id, cluster FROM (
         |    SELECT vec_id, cluster,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY dist, cluster) AS rk
         |    FROM d$i)
         |  WHERE rk = 1),
         |s$i AS (
         |  SELECT cluster, pos, sum(q + $Shift) AS sq, count(*) AS n
         |  FROM qv JOIN a$i USING (vec_id) GROUP BY cluster, pos),
         |c$i AS (
         |  SELECT p.cluster, p.pos,
         |    coalesce((sq // s.n) - $Shift, p.c) AS c, coalesce(s.n, 0) AS n
         |  FROM c${i - 1} p
         |  LEFT JOIN s$i s ON p.cluster = s.cluster AND p.pos = s.pos)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT vec_id, embedding, $nrm AS nrm FROM embeddings),
       |qv AS (
       |  SELECT vec_id, CAST(i - 1 AS INTEGER) AS pos,
       |    CAST(round(CAST(embedding[i] AS DOUBLE) / nrm * 1000000.0) AS BIGINT) AS q
       |  FROM nn, (SELECT unnest(generate_series(1, $Dim)) AS i) ii),
       |ids AS (
       |  SELECT vec_id,
       |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster
       |  FROM embeddings ORDER BY vec_id LIMIT $KmK),
       |c0 AS (SELECT cluster, pos, q AS c, 0 AS n FROM ids JOIN qv USING (vec_id)),
       |$iters
       |SELECT cluster, pos, CAST(c AS BIGINT) AS c, CAST(n AS BIGINT) AS n
       |FROM c$KmIters""".stripMargin
  }

  /** The shared q129/q132 oracle prefix: the unrolled PQ training
    * chain through the final assignment `aF` (vec_id, sub, code,
    * dist). Both oracles append their own finish. */
  private def pqChainSql: String = {
    val nrm = "sqrt(" + (1 to Dim).map(i =>
      s"CAST(embedding[$i] AS DOUBLE) * CAST(embedding[$i] AS DOUBLE)")
      .mkString(" + ") + ")"
    // qv / each c$i are referenced more than once: MATERIALIZED, or
    // the inliner re-expands the whole training chain per reference
    // (the q127 lesson; q118's 3-round chain survived by luck of
    // depth)
    val iters = (1 to PqIters).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT qv.vec_id, qv.sub, cc.code, sum((q - c) * (q - c)) AS dist
         |  FROM qv JOIN c${i - 1} cc ON qv.sub = cc.sub AND qv.spos = cc.spos
         |  GROUP BY qv.vec_id, qv.sub, cc.code),
         |a$i AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT vec_id, sub, code,
         |      row_number() OVER (PARTITION BY vec_id, sub
         |        ORDER BY dist, code) AS rk
         |    FROM d$i)
         |  WHERE rk = 1),
         |s$i AS (
         |  SELECT a.sub, code, spos, sum(q + $Shift) AS sq, count(*) AS n
         |  FROM qv JOIN a$i a ON qv.vec_id = a.vec_id AND qv.sub = a.sub
         |  GROUP BY a.sub, code, spos),
         |c$i AS MATERIALIZED (
         |  SELECT p.sub, p.code, p.spos, coalesce((sq // s.n) - $Shift, p.c) AS c
         |  FROM c${i - 1} p
         |  LEFT JOIN s$i s
         |    ON p.sub = s.sub AND p.code = s.code AND p.spos = s.spos)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT vec_id, embedding, $nrm AS nrm FROM embeddings),
       |qv AS MATERIALIZED (
       |  SELECT vec_id, CAST((i - 1) // $PqSub AS INTEGER) AS sub,
       |    CAST((i - 1) % $PqSub AS INTEGER) AS spos,
       |    CAST(round(CAST(embedding[i] AS DOUBLE) / nrm * 1000000.0) AS BIGINT) AS q
       |  FROM nn, (SELECT unnest(generate_series(1, $Dim)) AS i) ii),
       |ids AS (
       |  SELECT vec_id,
       |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code
       |  FROM embeddings ORDER BY vec_id LIMIT $PqK),
       |c0 AS MATERIALIZED (
       |  SELECT sub, code, spos, q AS c FROM ids JOIN qv USING (vec_id)),
       |$iters,
       |dF AS (
       |  SELECT qv.vec_id, qv.sub, cc.code, sum((q - c) * (q - c)) AS dist
       |  FROM qv JOIN c$PqIters cc ON qv.sub = cc.sub AND qv.spos = cc.spos
       |  GROUP BY qv.vec_id, qv.sub, cc.code),
       |aF AS (
       |  SELECT vec_id, sub, code, dist FROM (
       |    SELECT vec_id, sub, code, dist,
       |      row_number() OVER (PARTITION BY vec_id, sub
       |        ORDER BY dist, code) AS rk
       |    FROM dF)
       |  WHERE rk = 1)""".stripMargin
  }

  private def oracle129: String =
    s"""$pqChainSql
       |SELECT sub, code, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CAST(dist AS HUGEINT)) // count(*) AS BIGINT) AS mean_dist
       |FROM aF GROUP BY sub, code""".stripMargin

  private def oracle132: String =
    s"""$pqChainSql,
       |lut AS MATERIALIZED (
       |  SELECT qq.q_id, c.sub, c.code,
       |    CAST(sum((qq.qq - c.c) * (qq.qq - c.c)) AS BIGINT) AS lut
       |  FROM (SELECT vec_id AS q_id, sub, spos, q AS qq FROM qv
       |        WHERE vec_id IN (${AdcQueryIds.mkString(", ")})) qq
       |  JOIN c$PqIters c ON qq.sub = c.sub AND qq.spos = c.spos
       |  GROUP BY qq.q_id, c.sub, c.code),
       |ad AS (
       |  SELECT q_id, vec_id, CAST(sum(lut) AS BIGINT) AS adist
       |  FROM aF JOIN lut ON aF.sub = lut.sub AND aF.code = lut.code
       |  GROUP BY q_id, vec_id)
       |SELECT q_id, CAST(rk AS INTEGER) AS rk, vec_id, adist FROM (
       |  SELECT q_id, vec_id, adist,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rk
       |  FROM ad WHERE vec_id <> q_id) r
       |WHERE rk <= $AdcTop""".stripMargin

  /** Name-prefixed per-M training chain over a shared `qv0(vec_id,
    * pos, q)` and `ids(vec_id, code)` — the pqChainSql shape with the
    * subspace split a PROJECTION of qv0 (the engine's re-key), ending
    * at `<p>aF(vec_id, sub, code, dist)`. */
  private def pqChainFor(p: String, m: Int): String = {
    val subDim = Dim / m
    val iters = (1 to PqIters).map { i =>
      s"""${p}d$i AS MATERIALIZED (
         |  SELECT qv.vec_id, qv.sub, cc.code, sum((q - c) * (q - c)) AS dist
         |  FROM ${p}qv qv JOIN ${p}c${i - 1} cc
         |    ON qv.sub = cc.sub AND qv.spos = cc.spos
         |  GROUP BY qv.vec_id, qv.sub, cc.code),
         |${p}a$i AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT vec_id, sub, code,
         |      row_number() OVER (PARTITION BY vec_id, sub
         |        ORDER BY dist, code) AS rk
         |    FROM ${p}d$i)
         |  WHERE rk = 1),
         |${p}s$i AS (
         |  SELECT a.sub, code, spos, sum(q + $Shift) AS sq, count(*) AS n
         |  FROM ${p}qv qv JOIN ${p}a$i a
         |    ON qv.vec_id = a.vec_id AND qv.sub = a.sub
         |  GROUP BY a.sub, code, spos),
         |${p}c$i AS MATERIALIZED (
         |  SELECT p.sub, p.code, p.spos, coalesce((sq // s.n) - $Shift, p.c) AS c
         |  FROM ${p}c${i - 1} p
         |  LEFT JOIN ${p}s$i s
         |    ON p.sub = s.sub AND p.code = s.code AND p.spos = s.spos)"""
        .stripMargin
    }.mkString(",\n")
    s"""${p}qv AS MATERIALIZED (
       |  SELECT vec_id, CAST(pos // $subDim AS INTEGER) AS sub,
       |    CAST(pos % $subDim AS INTEGER) AS spos, q
       |  FROM qv0),
       |${p}c0 AS MATERIALIZED (
       |  SELECT sub, code, spos, q AS c FROM ids JOIN ${p}qv USING (vec_id)),
       |$iters,
       |${p}dF AS (
       |  SELECT qv.vec_id, qv.sub, cc.code, sum((q - c) * (q - c)) AS dist
       |  FROM ${p}qv qv JOIN ${p}c$PqIters cc
       |    ON qv.sub = cc.sub AND qv.spos = cc.spos
       |  GROUP BY qv.vec_id, qv.sub, cc.code),
       |${p}aF AS MATERIALIZED (
       |  SELECT vec_id, sub, code, dist FROM (
       |    SELECT vec_id, sub, code, dist,
       |      row_number() OVER (PARTITION BY vec_id, sub
       |        ORDER BY dist, code) AS rk
       |    FROM ${p}dF)
       |  WHERE rk = 1)""".stripMargin
  }

  /** q187: shared qv0/ids/exact-truth CTEs, then per-M prefixed
    * training + ADC chains and scalar rows (the oracle175/180
    * pattern applied to the PQ family). */
  private def oracle187: String = {
    val nrm = "sqrt(" + (1 to Dim).map(i =>
      s"CAST(embedding[$i] AS DOUBLE) * CAST(embedding[$i] AS DOUBLE)")
      .mkString(" + ") + ")"
    val panel = AdcQueryIds.mkString(", ")
    val cfgs = PqMGrid.zipWithIndex.map { case (m, i) =>
      val p = s"g$i"
      s"""${pqChainFor(p, m)},
         |${p}lut AS MATERIALIZED (
         |  SELECT qq.q_id, c.sub, c.code,
         |    CAST(sum((qq.qq - c.c) * (qq.qq - c.c)) AS BIGINT) AS lut
         |  FROM (SELECT vec_id AS q_id, sub, spos, q AS qq FROM ${p}qv
         |        WHERE vec_id IN ($panel)) qq
         |  JOIN ${p}c$PqIters c ON qq.sub = c.sub AND qq.spos = c.spos
         |  GROUP BY qq.q_id, c.sub, c.code),
         |${p}ad AS (
         |  SELECT q_id, vec_id, CAST(sum(lut) AS BIGINT) AS adist
         |  FROM ${p}aF a JOIN ${p}lut l ON a.sub = l.sub AND a.code = l.code
         |  GROUP BY q_id, vec_id),
         |${p}top AS MATERIALIZED (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id)
         |        AS rk
         |    FROM ${p}ad WHERE vec_id <> q_id) r
         |  WHERE rk <= $AdcTop),
         |${p}row AS (
         |  SELECT 'm$m' AS config, CAST($m AS BIGINT) AS m,
         |    CAST(${3 * m} AS BIGINT) AS code_bits,
         |    (SELECT CAST(sum(CAST(dist AS HUGEINT)) // count(*) AS BIGINT)
         |     FROM ${p}aF) AS mean_dist,
         |    (SELECT CAST(count(*) AS BIGINT) FROM truth) AS truth_pairs,
         |    (SELECT CAST(count(*) AS BIGINT) FROM truth t
         |     JOIN ${p}top c ON t.q_id = c.q_id AND t.vec_id = c.vec_id)
         |      AS hits)""".stripMargin
    }
    val rowUnion = PqMGrid.indices.map(i => s"SELECT * FROM g${i}row")
      .mkString("\n  UNION ALL ")
    s"""WITH nn AS (SELECT vec_id, embedding, $nrm AS nrm FROM embeddings),
       |qv0 AS MATERIALIZED (
       |  SELECT vec_id, CAST(i - 1 AS INTEGER) AS pos,
       |    CAST(round(CAST(embedding[i] AS DOUBLE) / nrm * 1000000.0) AS BIGINT) AS q
       |  FROM nn, (SELECT unnest(generate_series(1, $Dim)) AS i) ii),
       |ids AS (
       |  SELECT vec_id,
       |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code
       |  FROM embeddings ORDER BY vec_id LIMIT $PqK),
       |qp AS (SELECT vec_id AS q_id, pos, q AS qq FROM qv0
       |       WHERE vec_id IN ($panel)),
       |truth AS MATERIALIZED (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY ed, vec_id) AS rk
       |    FROM (
       |      SELECT qp.q_id, qv0.vec_id, sum((qq - q) * (qq - q)) AS ed
       |      FROM qv0 JOIN qp USING (pos)
       |      GROUP BY qp.q_id, qv0.vec_id) d
       |    WHERE vec_id <> q_id) r
       |  WHERE rk <= $AdcTop),
       |${cfgs.mkString(",\n")}
       |SELECT config, m, code_bits, mean_dist, truth_pairs, hits,
       |  CAST((1000000 * hits) // greatest(truth_pairs, 1) AS BIGINT)
       |    AS recall_ppm
       |FROM ($rowUnion)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q118_kmeans_train" -> oracle118,
    "q129_pq_codebook" -> oracle129,
    "q132_pq_adc_topk" -> oracle132,
    "q187_pq_frontier" -> oracle187,
  )
}
