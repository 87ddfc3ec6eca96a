package graft

import graft.Cut._
import graft.pipeline.{BuiltinOps, DagCompiler, PipelineSpec, TransformRegistry}
import org.apache.spark.sql.DataFrame

/** Every builtin op kind exercised through a compiled pipeline. */
class BuiltinOpsSpec extends SparkSpec {

  private def run(specJson: String, data: Map[String, Any]): DataFrame =
    DagCompiler.runPipeline(
      PipelineSpec.fromJson(specJson)("Main"), TransformRegistry.empty,
      data, Map.empty, spark = Some(spark)).asInstanceOf[DataFrame]

  test("select/filter/join/orderBy/limit/union/distinct compose through a spec") {
    val spec =
      """{"Main": {
        |  "cust": {"needed-data": ["customer"], "op": {"kind": "table", "table": "customer"}},
        |  "ords": {"needed-data": ["orders"], "op": {"kind": "table", "table": "orders"}},
        |  "big": {"dependencies": {"ords": "df"},
        |          "op": {"kind": "filter", "condition": "o_totalprice > 200000"}},
        |  "joined": {"dependencies": {"cust": "left", "big": "right"},
        |             "op": {"kind": "join", "condition": "l.c_custkey = r.o_custkey",
        |                    "how": "inner"}},
        |  "proj": {"dependencies": {"joined": "df"},
        |           "op": {"kind": "select",
        |                  "exprs": ["c_custkey", "c_name", "o_totalprice",
        |                            "row_number() over (partition by c_custkey order by o_totalprice desc, o_orderkey) as rn"]}},
        |  "top": {"dependencies": {"proj": "df"},
        |          "op": {"kind": "filter", "condition": "rn = 1"}},
        |  "sorted": {"dependencies": {"top": "df"},
        |             "op": {"kind": "orderBy", "exprs": ["o_totalprice desc", "c_custkey"]}},
        |  "limited": {"dependencies": {"sorted": "df"},
        |              "op": {"kind": "limit", "n": "5"}, "is-output": true}
        |}}""".stripMargin
    val out = run(spec, Map(
      "customer" -> Tables.load(spark, sf0001, "customer"),
      "orders" -> Tables.load(spark, sf0001, "orders")))
    val rows = out.collect()
    assert(rows.length === 5)
    val prices = rows.map(_.getDouble(2))
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
  }

  test("union + distinct + agg kinds") {
    val spec =
      """{"Main": {
        |  "c": {"needed-data": ["customer"], "op": {"kind": "table", "table": "customer"}},
        |  "keys1": {"dependencies": {"c": "df"},
        |            "op": {"kind": "select", "exprs": ["c_nationkey as k"]}},
        |  "keys2": {"dependencies": {"c": "df"},
        |            "op": {"kind": "select", "exprs": ["c_nationkey as k"]}},
        |  "u": {"dependencies": {"keys1": "left", "keys2": "right"},
        |        "op": {"kind": "union"}},
        |  "d": {"dependencies": {"u": "df"}, "op": {"kind": "distinct"}},
        |  "n": {"dependencies": {"d": "df"},
        |        "op": {"kind": "agg", "aggs": ["count(1) as n"]}, "is-output": true}
        |}}""".stripMargin
    val out = run(spec, Map("customer" -> Tables.load(spark, sf0001, "customer")))
    val distinctKeys = Tables.load(spark, sf0001, "customer")
      .select("c_nationkey").distinct().count()
    assert(out.head().getLong(0) === distinctKeys)
  }

  test("q93 compiled pipeline ≡ the hand-wired stage chain, row for row") {
    import org.apache.spark.sql.functions._
    val compiled = operators.CorpusPipeline
      .queries("q93_corpus_prep_pipeline")(spark, sf0001)
    val d = Tables.load(spark, sf0001, "documents")
    val packed = operators.Mixing.shardPack(
      operators.Mixing.temperatureKeep(
        operators.Dedup.dedupKeep(
          operators.TextAnalysis.cleanKeep(d))))
    val hand = packed
      .selectExpr("doc_id", "lang", "shard", "bin", "text",
        "CAST(length(text) AS BIGINT) AS len")
      .selectExpr("doc_id", "lang", "shard", "bin", "text",
        "explode(sequence(CAST(0 AS BIGINT), (1 + (greatest(len - 200, 0) + 149) div 150) - 1)) AS chunk_id")
      .selectExpr("doc_id", "lang", "shard", "bin", "chunk_id",
        "substring(text, CAST(chunk_id * 150 + 1 AS INT), 200) AS chunk_text",
        "CAST(length(substring(text, CAST(chunk_id * 150 + 1 AS INT), 200)) AS BIGINT) AS chunk_len")
    val key = Seq("doc_id", "chunk_id")
    assert(compiled.count() > 0)
    assert(compiled.join(hand, key, "left_anti").count() === 0)
    assert(hand.join(compiled, key, "left_anti").count() === 0)
    // same columns, same values: full-row set equality
    val a = compiled.orderBy(col("doc_id"), col("chunk_id")).collect()
    val b = hand.select(compiled.columns.map(col): _*)
      .orderBy(col("doc_id"), col("chunk_id")).collect()
    assert(a.sameElements(b))
  }

  test("q104 compiled pipeline ≡ the hand-wired scrub-first chain, row for row") {
    import org.apache.spark.sql.functions._
    val compiled = operators.CorpusPipeline
      .queries("q104_corpus_prep_scrubbed")(spark, sf0001)
    val d = Tables.load(spark, sf0001, "documents")
    val packed = operators.Mixing.shardPack(
      operators.Mixing.temperatureKeep(
        operators.Dedup.dedupKeep(
          operators.TextAnalysis.cleanKeep(
            operators.RepeatedSpans.scrubKeep(d)))))
    val hand = packed
      .selectExpr("doc_id", "lang", "shard", "bin", "text",
        "CAST(length(text) AS BIGINT) AS len")
      .selectExpr("doc_id", "lang", "shard", "bin", "text",
        "explode(sequence(CAST(0 AS BIGINT), (1 + (greatest(len - 200, 0) + 149) div 150) - 1)) AS chunk_id")
      .selectExpr("doc_id", "lang", "shard", "bin", "chunk_id",
        "substring(text, CAST(chunk_id * 150 + 1 AS INT), 200) AS chunk_text",
        "CAST(length(substring(text, CAST(chunk_id * 150 + 1 AS INT), 200)) AS BIGINT) AS chunk_len")
    val key = Seq("doc_id", "chunk_id")
    assert(compiled.count() > 0)
    assert(compiled.join(hand, key, "left_anti").count() === 0)
    assert(hand.join(compiled, key, "left_anti").count() === 0)
    val a = compiled.orderBy(col("doc_id"), col("chunk_id")).collect()
    val b = hand.select(compiled.columns.map(col): _*)
      .orderBy(col("doc_id"), col("chunk_id")).collect()
    assert(a.sameElements(b))
  }

  test("q143 compiled pipeline ≡ the hand-wired head-keep + SemDeDup chain, row for row") {
    import org.apache.spark.sql.functions._
    val compiled = operators.CorpusPipeline
      .queries("q143_corpus_prep_v3")(spark, sf0001)
    val d = Tables.load(spark, sf0001, "documents")
    val emb = Tables.load(spark, sf0001, "embeddings")
    val packed = operators.Mixing.shardPack(
      operators.Mixing.temperatureKeep(
        operators.Similarity.semDedupKeepDocs(
          operators.Curation.headKeep(
            operators.TextAnalysis.cleanKeep(
              operators.RepeatedSpans.scrubKeep(d))),
          emb, threshold = 0.4)))
    val hand = packed
      .selectExpr("doc_id", "lang", "shard", "bin", "text",
        "CAST(length(text) AS BIGINT) AS len")
      .selectExpr("doc_id", "lang", "shard", "bin", "text",
        "explode(sequence(CAST(0 AS BIGINT), (1 + (greatest(len - 200, 0) + 149) div 150) - 1)) AS chunk_id")
      .selectExpr("doc_id", "lang", "shard", "bin", "chunk_id",
        "substring(text, CAST(chunk_id * 150 + 1 AS INT), 200) AS chunk_text",
        "CAST(length(substring(text, CAST(chunk_id * 150 + 1 AS INT), 200)) AS BIGINT) AS chunk_len")
    val key = Seq("doc_id", "chunk_id")
    assert(compiled.count() > 0)
    assert(compiled.join(hand, key, "left_anti").count() === 0)
    assert(hand.join(compiled, key, "left_anti").count() === 0)
    val a = compiled.orderBy(col("doc_id"), col("chunk_id")).collect()
    val b = hand.select(compiled.columns.map(col): _*)
      .orderBy(col("doc_id"), col("chunk_id")).collect()
    assert(a.sameElements(b))
  }

  test("q153 compiled pipeline ≡ the hand-wired chain with the trained classifier gate, row for row") {
    import org.apache.spark.sql.functions._
    val compiled = operators.CorpusPipeline
      .queries("q153_corpus_prep_v4")(spark, sf0001)
    val d = Tables.load(spark, sf0001, "documents")
    val emb = Tables.load(spark, sf0001, "embeddings")
    val w = operators.Perceptron.trainPocket(d)
    val packed = operators.Mixing.shardPack(
      operators.Mixing.temperatureKeep(
        operators.Perceptron.classifierKeep(
          operators.Similarity.semDedupKeepDocs(
            operators.Curation.headKeep(
              operators.TextAnalysis.cleanKeep(
                operators.RepeatedSpans.scrubKeep(d))),
            emb, threshold = 0.4),
          w)))
    val hand = packed
      .selectExpr("doc_id", "lang", "shard", "bin", "text",
        "CAST(length(text) AS BIGINT) AS len")
      .selectExpr("doc_id", "lang", "shard", "bin", "text",
        "explode(sequence(CAST(0 AS BIGINT), (1 + (greatest(len - 200, 0) + 149) div 150) - 1)) AS chunk_id")
      .selectExpr("doc_id", "lang", "shard", "bin", "chunk_id",
        "substring(text, CAST(chunk_id * 150 + 1 AS INT), 200) AS chunk_text",
        "CAST(length(substring(text, CAST(chunk_id * 150 + 1 AS INT), 200)) AS BIGINT) AS chunk_len")
    val key = Seq("doc_id", "chunk_id")
    assert(compiled.count() > 0)
    assert(compiled.join(hand, key, "left_anti").count() === 0)
    assert(hand.join(compiled, key, "left_anti").count() === 0)
    val a = compiled.orderBy(col("doc_id"), col("chunk_id")).collect()
    val b = hand.select(compiled.columns.map(col): _*)
      .orderBy(col("doc_id"), col("chunk_id")).collect()
    assert(a.sameElements(b))
  }

  test("q153's classifier stage gates by trained score — ~top half kept, never a no-op — and the model is bounded") {
    import org.apache.spark.sql.functions._
    val d = Tables.load(spark, sf0001, "documents")
    val w = operators.Perceptron.trainPocket(d)
    val nw = w.count()
    // the trained state passed between DAG nodes is a bounded dim:
    // at most one row per hash bucket + the bias bucket
    assert(nw > 0 && nw <= operators.Perceptron.Buckets + 1, s"$nw weights")
    val sem = operators.Similarity.semDedupKeepDocs(
      operators.Curation.headKeep(
        operators.TextAnalysis.cleanKeep(
          operators.RepeatedSpans.scrubKeep(d))),
      Tables.load(spark, sf0001, "embeddings"), threshold = 0.4)
      .cut("BuiltinOpsSpec: semantic survivors")
    val kept = operators.Perceptron.classifierKeep(sem, w)
    val (ns, nk) = (sem.count(), kept.count())
    // top-half at bin granularity: at least half, strictly fewer than
    // all (the adaptive width resolves the sf0.001 score spread)
    assert(nk >= ns / 2, s"classifier kept $nk of $ns — below half")
    assert(nk < ns, s"classifier kept $nk of $ns — a no-op gate")
    // kept docs are the TOP of the score order: every kept doc scores
    // >= every dropped doc, up to one bin's width of slack — verify
    // via the raw scores
    val scores = operators.Perceptron.scoreDocs(sem, w).cut("BuiltinOpsSpec: scores")
    val minKept = scores.join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
      .agg(min(col("score"))).head.getLong(0)
    val maxDropped = scores.join(kept.select("doc_id"), Seq("doc_id"), "left_anti")
      .agg(max(col("score"))).head.getLong(0)
    val ext = scores.agg(min(col("score")).as("lo"), max(col("score")).as("hi")).head
    val binW = math.max((ext.getLong(1) - ext.getLong(0)) /
      operators.Perceptron.ScoreBins, 1L)
    assert(minKept >= maxDropped - binW + 1,
      s"kept-min $minKept below dropped-max $maxDropped beyond bin slack $binW")
  }

  test("q143's two new stages each drop documents (not no-op insertions)") {
    import org.apache.spark.sql.functions._
    val d = Tables.load(spark, sf0001, "documents")
    val emb = Tables.load(spark, sf0001, "embeddings")
    val cleaned = operators.TextAnalysis.cleanKeep(
      operators.RepeatedSpans.scrubKeep(d)).cut("BuiltinOpsSpec: cleaned")
    val headed = operators.Curation.headKeep(cleaned).cut("BuiltinOpsSpec: headed")
    val sem = operators.Similarity.semDedupKeepDocs(headed, emb, 0.4)
    val (nc, nh, ns) = (cleaned.count(), headed.count(), sem.count())
    // terciles: head ≈ a third of the scored docs, never more than half
    assert(nh < nc && nh > 0, s"head_keep kept $nh of $nc")
    assert(nh <= nc / 2 + 1, s"head_keep kept $nh of $nc — not a tercile")
    assert(ns < nh && ns > 0, s"semdedup_keep kept $ns of $nh")
    // column contract survives both stages (what temperatureKeep needs)
    assert(sem.columns.toSet === Set("doc_id", "text", "lang"))
    // a doc with NO embedding row passes through semdedup untouched
    // (at sf0.001 every doc has a vector, so manufacture the gap the
    // sf0.1 corpus has: only even vec_ids carry embeddings)
    val semHalf = operators.Similarity.semDedupKeepDocs(
      headed, emb.filter(col("vec_id") % 2 === 0), 0.4)
    val oddDocs = headed.filter(col("doc_id") % 2 === 1).select("doc_id")
    assert(oddDocs.count() > 0)
    assert(oddDocs.join(semHalf, Seq("doc_id"), "left_anti").count() === 0,
      "a doc without an embedding was dropped by the semantic stage")
  }

  test("q104 scrub stage changes the corpus the clean stage sees (not a no-op insertion)") {
    import org.apache.spark.sql.functions._
    val d = Tables.load(spark, sf0001, "documents")
    val scrubbed = operators.RepeatedSpans.scrubKeep(d)
    // some docs lose tokens to repeated spans; every surviving doc
    // keeps its language; column contract matches what clean expects
    assert(scrubbed.columns.toSet === Set("doc_id", "text", "lang"))
    val joined = scrubbed.select(col("doc_id"), col("text").as("scrubbed_text"))
      .join(d.select(col("doc_id"), col("text")), "doc_id")
    val changed = joined.filter(col("scrubbed_text") =!= col("text")).count()
    assert(changed > 0, "no doc was altered by the scrub stage")
  }
}
