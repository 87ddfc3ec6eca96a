package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of and range joins (SURVEY.md §2.3 north-star rows: the
  * reference has no equivalent; Spark composes them from built-ins,
  * no custom strategy needed).
  *
  *  - as-of: join + per-left-row `row_number() = 1` over the ordered
  *    match candidates. The join itself is an equi-join on the entity
  *    key — the inequality is a post-join filter, so Catalyst still
  *    hash-partitions by key; state per key is bounded by history
  *    length.
  *  - range join: broadcast the (tiny) interval table and filter —
  *    the classic dimension-banding shape. For two LARGE interval
  *    sides the band-key trick from SkyJoin.bandJoin applies
  *    unchanged (bucket intervals by floor(value/width)).
  */
object AdvancedJoins {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // -- as-of: for each order, the customer's most recent PRIOR order --
    "q34_asof_join" -> { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
      val cur = o.select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"), col("o_totalprice"))
      val prior = o.select(col("o_custkey").as("p_custkey"),
        col("o_orderkey").as("p_orderkey"),
        col("o_orderdate").as("p_orderdate"),
        col("o_totalprice").as("p_totalprice"))
      val w = Window.partitionBy(col("o_orderkey"))
        .orderBy(col("p_orderdate").desc, col("p_orderkey").desc)
      cur.join(prior,
          col("o_custkey") === col("p_custkey") &&
            (col("p_orderdate") < col("o_orderdate") ||
              (col("p_orderdate") === col("o_orderdate") &&
                col("p_orderkey") < col("o_orderkey"))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("p_orderkey").as("prev_orderkey"),
          col("p_totalprice").as("prev_totalprice"))
    },

    // -- range join: price bands (derived interval dim, broadcast) --
    "q35_range_join" -> { (s, dir) =>
      val bands = Tables.load(s, dir, "region").select(
        col("r_regionkey").as("band_id"),
        (col("r_regionkey") * 40000.0).as("lo"),
        ((col("r_regionkey") + 1) * 40000.0).as("hi"))
      Tables.load(s, dir, "orders")
        .join(broadcast(bands),
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("band_total"))
    },
  )

  val oracles: Map[String, String] = Map(
    "q34_asof_join" ->
      """SELECT o_orderkey, o_custkey, o_orderdate,
        |  p_orderkey AS prev_orderkey, p_totalprice AS prev_totalprice
        |FROM (
        |  SELECT c.o_orderkey, c.o_custkey, c.o_orderdate,
        |    p.o_orderkey AS p_orderkey, p.o_totalprice AS p_totalprice,
        |    row_number() OVER (PARTITION BY c.o_orderkey
        |      ORDER BY p.o_orderdate DESC, p.o_orderkey DESC) AS rn
        |  FROM orders c JOIN orders p
        |    ON c.o_custkey = p.o_custkey
        |   AND (p.o_orderdate < c.o_orderdate
        |        OR (p.o_orderdate = c.o_orderdate
        |            AND p.o_orderkey < c.o_orderkey))) t
        |WHERE rn = 1""".stripMargin,

    "q35_range_join" ->
      """WITH bands AS (
        |  SELECT r_regionkey AS band_id,
        |         r_regionkey * 40000.0 AS lo,
        |         (r_regionkey + 1) * 40000.0 AS hi
        |  FROM region)
        |SELECT band_id, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS band_total
        |FROM orders JOIN bands
        |  ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band_id""".stripMargin,
  )
}
