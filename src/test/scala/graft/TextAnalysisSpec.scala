package graft

import graft.Cut._
import graft.functions.{NGrams, Text}
import org.apache.spark.sql.functions._

/** Positive-case coverage for the corpus-quality operators whose
  * driver-gate queries run on a PII-free corpus (q77) plus kernel
  * unit tests for the non-distinct n-gram path (q76). */
class TextAnalysisSpec extends SparkSpec {

  test("non-distinct n-gram kernel emits every occurrence in order") {
    import spark.implicits._
    val r = Seq("a b a b a", "x", "").toDF("text")
      .select(NGrams.wordNGramsAll(Text.tokens(col("text")), 2).as("g"))
      .collect().map(_.getSeq[String](0))
    assert(r(0) === Seq("a b", "b a", "a b", "b a"))
    assert(r(1) === Seq())
    assert(r(2) === Seq())
    // distinct variant of the same input
    val d = Seq("a b a b a").toDF("text")
      .select(NGrams.wordNGrams(Text.tokens(col("text")), 2).as("g"))
      .head().getSeq[String](0)
    assert(d === Seq("a b", "b a"))
  }

  test("pii scrub redacts emails, ips, and long digit runs") {
    import spark.implicits._
    val df = Seq(
      (1L, "contact bob@example.com or alice@sub.domain.org today"),
      (2L, "server at 192.168.0.1 port open, card 1234567890 leaked"),
      (3L, "nothing sensitive here at all")
    ).toDF("doc_id", "text")
    df.createOrReplaceTempView("pii_docs")
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val longNum = "\\d{6,}"
    val out = df.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(email), lit(0))).as("n_email"),
      size(regexp_extract_all(col("text"), lit(ip), lit(0))).as("n_ip"),
      size(regexp_extract_all(col("text"), lit(longNum), lit(0))).as("n_longnum"),
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        email, "<EMAIL>"), ip, "<IP>"), longNum, "<NUM>").as("scrubbed"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toMap
    assert(out(1L) === ((2, 0, 0, "contact <EMAIL> or <EMAIL> today")))
    assert(out(2L) === ((0, 1, 1, "server at <IP> port open, card <NUM> leaked")))
    assert(out(3L) === ((0, 0, 0, "nothing sensitive here at all")))
  }

  test("repetition metrics rank a repetitive doc above a diverse one") {
    val out = graft.operators.TextAnalysis.queries("q76_repetition")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out.nonEmpty)
    // corpus-wide sanity: ppm values in range
    assert(out.values.forall(v => v >= 0L && v <= 1000000L))
    // synthetic check: "spam spam spam spam" has top-bigram share 1.0
    import spark.implicits._
    val spam = Seq((1L, "spam spam spam spam"), (2L, "all words here differ"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        explode(NGrams.wordNGramsAll(Text.tokens(col("text")), 2)).as("g"))
      .groupBy(col("doc_id"), col("g")).count()
      .groupBy(col("doc_id"))
      .agg((max(col("count")) * lit(1000000L)).as("top"), sum(col("count")).as("tot"))
      .selectExpr("doc_id", "top div tot AS ppm")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(spam(1L) === 1000000L)
    assert(spam(2L) < 1000000L)
  }

  test("decontamination flags exactly the docs sharing a 5-gram with the benchmark") {
    val out = graft.operators.TextAnalysis.queries("q78_decontaminate")(spark, sf0001)
      .collect()
    // every flagged doc is outside the benchmark subset and shares >= 1 gram
    out.foreach { r =>
      assert(r.getLong(0) % 97 !== 0L)
      assert(r.getLong(1) >= 1L)
      assert(r.getLong(2) % 97 === 0L)
    }
  }

  test("unigram surprisal: hand-computed replay on a mini corpus; rare beats common") {
    import spark.implicits._
    // corpus: "a a b" + "a c" → counts a=3, b=1, c=1, N=5
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("tmp_docs_q85")
    val toks = docs.select(col("doc_id"),
      explode(Text.tokens(col("text"))).as("tok"))
    val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = toks.agg(count(lit(1)).as("n"))
    val got = toks.join(uni, "tok").crossJoin(broadcast(total))
      .select(col("doc_id"),
        round(log(col("n").cast("double") / col("c")) * 1000000)
          .cast("long").as("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("s")).as("ssum"))
      .selectExpr("doc_id", "n_tokens", "ssum div n_tokens AS m")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def u(p: Double) = math.rint(math.log(1.0 / p) * 1e6).toLong
    // doc 1: tokens a,a,b → (2·u(3/5) + u(1/5)) div 3
    assert(got(1L) === ((3L, (2 * u(3.0 / 5) + u(1.0 / 5)) / 3)))
    // doc 2: tokens a,c → (u(3/5) + u(1/5)) div 2, higher mean than doc 1
    assert(got(2L) === ((2L, (u(3.0 / 5) + u(1.0 / 5)) / 2)))
    assert(got(2L)._2 > got(1L)._2)
  }

  test("doc chunking: code-point windows replay on ASCII, CJK, short and empty docs") {
    val out = SparkEntry.queries("q92_doc_chunks")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getString(2), r.getLong(3)))
      .toMap

    val texts = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

    // driver replay in code points (String ops on code-point arrays)
    var checked = 0
    texts.foreach { case (id, text) =>
      val cps = text.codePoints().toArray
      val len = cps.length
      val nChunks = 1 + (math.max(len - 200, 0) + 149) / 150
      (0 until nChunks).foreach { i =>
        val start = i * 150
        val cpsChunk = cps.slice(start, math.min(start + 200, len))
        val chunk = new String(cpsChunk, 0, cpsChunk.length)
        val (gotText, gotLen) = out((id, i.toLong))
        assert(gotText === chunk, s"doc $id chunk $i")
        assert(gotLen === chunk.codePointCount(0, chunk.length).toLong)
        checked += 1
      }
    }
    assert(checked === out.size) // no extra chunks
    // consecutive chunks overlap by 50 code points on long docs
    val long = texts.collect { case (id, t) if t.codePoints().count() > 200 => id }
    assert(long.nonEmpty, "corpus should contain at least one >200-cp doc")
    long.take(3).foreach { id =>
      val (c0, _) = out((id, 0L)); val (c1, _) = out((id, 1L))
      // the last 50 cps of chunk 0 are the first 50 of chunk 1
      val cps0 = c0.codePoints().toArray; val cps1 = c1.codePoints().toArray
      assert(cps0.slice(150, 200).sameElements(cps1.slice(0, 50)), s"doc $id overlap")
    }
  }

  test("q96 bloom decontamination: superset of exact q78, bounded false positives") {
    for (dir <- Seq(sf0001, "/root/testdata/sf0.01")) {
      val exact = SparkEntry.queries("q78_decontaminate")(spark, dir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val bloom = SparkEntry.queries("q96_bloom_decontaminate")(spark, dir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // one-sided: every truly contaminated doc is flagged
      assert(exact.subsetOf(bloom),
        s"$dir: bloom missed ${exact.diff(bloom)} — false negatives are impossible by construction")
      // and the false-positive overhead stays small at 2^17 bits / k=4
      val corpus = Tables.load(spark, dir, "documents")
        .filter(col("doc_id") % 97 =!= 0).count()
      val fp = (bloom -- exact).size.toDouble / corpus
      assert(fp < 0.05, s"$dir: bloom false-positive doc rate $fp")
    }
  }

  test("q190: bloom bits frontier — no false negatives at any size, gate data reproduced, the saturation gradient") {
    val out = graft.operators.TextAnalysis.bloomFrontier(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq(1024L, 8192L, 131072L))
    // probed and the exact truth are size-independent
    assert(out.map(_._3).distinct.length === 1)
    assert(out.map(_._4).distinct.length === 1)
    out.foreach { r =>
      // one-sided: flagged ⊇ truth at EVERY size (no false negatives)
      assert(r._5 >= r._4, s"false negative at bits=${r._1}: $r")
      assert(r._6 === r._5 - r._4)
      assert(r._7 === 1000000L * r._6 / math.max(r._3 - r._4, 1L))
      assert(r._2 <= r._1, s"bits_set bounded by filter size: $r")
    }
    // the measured gradient on this corpus: 1024 bits saturates,
    // 131072 clears (deterministic — a pin, not a flake)
    assert(out.head._6 > out.last._6, "smaller filter must false-flag more")
    // gate-data reproduction: truth ≡ q78's flagged set size, the
    // 131072 row ≡ q96's output size (same salt/k/bits)
    val q78 = SparkEntry.queries("q78_decontaminate")(spark, sf0001).count()
    val q96 = SparkEntry.queries("q96_bloom_decontaminate")(spark, sf0001)
      .count()
    assert(out.head._4 === q78)
    assert(out.last._5 === q96)
  }

  test("q119 vocab coverage: equals the explicit sorted-vocabulary computation") {
    import spark.implicits._
    // frequency ties straddle the k=10 cutoff on purpose: 12 types
    // with count 3 around rank 10 — coverage must not depend on which
    // of them "rank" inside the cutoff
    val words =
      Seq.fill(40)("alpha") ++ Seq.fill(25)("beta") ++
        (0 until 12).flatMap(i => Seq.fill(3)(s"tie$i")) ++
        (0 until 30).map(i => s"rare$i")
    val docs = words.grouped(7).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val row = graft.operators.CorpusStats.vocabCoverage(docs).collect().head
    // explicit replay: sort types by count desc (ties arbitrary — the
    // claim is the result is identical for ANY tie order)
    val counts = words.groupBy(identity).map(_._2.size.toLong).toSeq
      .sorted(Ordering[Long].reverse)
    val total = counts.sum
    def covPpm(k: Int): Long = counts.take(k).sum * 1000000L / total
    def typesTo(target: Long): Long = {
      var acc = 0L; var n = 0L
      while (acc < target) { acc += counts(n.toInt); n += 1 }
      n
    }
    assert(row.getAs[Long]("n_types") === counts.size.toLong)
    assert(row.getAs[Long]("n_tokens") === total)
    assert(row.getAs[Long]("cov10_ppm") === covPpm(10))
    assert(row.getAs[Long]("cov100_ppm") === covPpm(100))
    assert(row.getAs[Long]("types_p50") === typesTo((total + 1) / 2))
    assert(row.getAs[Long]("types_p90") === typesTo((9 * total + 9) / 10))
    // cutoffs beyond the vocabulary saturate at full coverage
    assert(row.getAs[Long]("cov1000_ppm") === 1000000L)
    assert(row.getAs[Long]("cov10000_ppm") === 1000000L)
  }

  test("q152: a corpus whose text matches its labels evaluates to a perfect diagonal") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq(
      (1L, "en", "the cat is of the house in a tree"),
      (2L, "en", "a dog of the yard is in to the sun"),
      (3L, "es", "el perro de la casa que y los gatos"),
      (4L, "fr", "le chat des maisons et une chose dans les arbres"),
      (5L, "de", "der hund und die katze ist ein das haus"))
      .toDF("doc_id", "lang", "text")
    val m = graft.operators.TextAnalysis.langPredictions(rows)
      .groupBy(col("labeled_lang"), col("pred_lang")).count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(m === Set(("en", "en", 2L), ("es", "es", 1L),
      ("fr", "fr", 1L), ("de", "de", 1L)))
  }

  test("q152: matrix invariants on the real corpus — totals conserve; labels don't match text (the harness's finding)") {
    import org.apache.spark.sql.functions._
    val d = Tables.load(spark, sf0001, "documents")
    val m = graft.operators.TextAnalysis.queries(
      "q152_langid_eval")(spark, sf0001).cut("TextAnalysisSpec: q152 matrix")
    assert(m.agg(sum("n_docs")).head.getLong(0) === d.count())
    // every cell ≤ its row/column total; ppm shares within [0, 1e6]
    assert(m.filter(col("n_docs") > col("n_gold") ||
      col("n_docs") > col("n_pred")).count() === 0)
    assert(m.filter(col("cell_of_gold_ppm") > 1000000L).count() === 0)
    // the synthetic corpus labels languages its text does not speak:
    // the classifier must NOT recover them (only en/und predictions)
    assert(m.select("pred_lang").distinct().collect()
      .map(_.getString(0)).toSet === Set("en", "und"))
  }

  test("q148: AND of the six flags is EXACTLY the q80 keep set, doc for doc") {
    import org.apache.spark.sql.functions._
    val d = Tables.load(spark, sf0001, "documents")
    val flags = graft.operators.TextAnalysis.cleanFlags(d).cut("TextAnalysisSpec: q148 flags")
    val all = graft.operators.TextAnalysis.CleanFilters
      .map(col).reduce(_ && _)
    val fromFlags = flags.filter(all).select("doc_id")
    val kept = graft.operators.TextAnalysis.cleanKeep(d).select("doc_id")
    assert(fromFlags.join(kept, Seq("doc_id"), "left_anti").count() === 0)
    assert(kept.join(fromFlags, Seq("doc_id"), "left_anti").count() === 0)
    assert(kept.count() > 0)
  }

  test("q148: attribution counts are internally consistent") {
    val rows = graft.operators.TextAnalysis.queries(
      "q148_filter_attribution")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.length === 6)
    val (nDocs, nKept) = (rows.head._4, rows.head._5)
    assert(rows.forall(r => r._4 == nDocs && r._5 == nKept))
    // exclusive fails never exceed total fails; kept + every filter's
    // exclusive fails fit inside the corpus; at least one filter bites
    assert(rows.forall(r => r._3 <= r._2))
    assert(rows.map(_._3).sum + nKept <= nDocs)
    assert(rows.map(_._2).sum > 0)
    // Σ exclusive + multi-filter fails = total dropped: the dropped
    // count is bounded below by max single-filter fails
    assert(nDocs - nKept >= rows.map(_._2).max)
  }
}
