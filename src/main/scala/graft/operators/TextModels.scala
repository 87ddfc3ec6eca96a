package graft.operators

import graft.Tables
import graft.functions.{NGrams, Text}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-trained text models — classic count-based modeling run AS
  * queries, the "train a model with a groupBy" layer of a
  * training-data pipeline (the reference's analysis layer,
  * /root/reference/src/cosmap/analysis/runner.py, has per-sample
  * scoring only; these extend the engine per the brief's
  * training-data mandate, like the Dedup/Curation families):
  *
  *  - q110 Multinomial Naive Bayes: train on the q70 deterministic
  *    'train' split (class = `source`), classify the 'test' split,
  *    output the confusion matrix. The entire training step is two
  *    keyed groupBys — the canonical "model fits in a DataFrame"
  *    distributed trainer (McCallum & Nigam 1998 multinomial event
  *    model, add-1 smoothing over the train vocabulary).
  *  - q111 weighted log-odds distinctive terms (Monroe, Colaresi &
  *    Quinn 2008, "Fightin' Words", informative-Dirichlet-prior
  *    z-scores): the per-domain vocabulary audit — which tokens
  *    characterize each source against the rest of the corpus.
  *  - q112 stupid-backoff trigram LM (Brants et al. 2007, "Large
  *    Language Models in Machine Translation" — THE MapReduce-scale
  *    LM): train counts on the 'train' split, score 'test' docs by
  *    mean trigram surprisal with the 0.4-backoff chain
  *    trigram → bigram → add-1 unigram.
  *
  * Cross-engine exactness (house rules, CLAUDE.md): every count is
  * an integer groupBy; every ln is quantized to integer micro-nats
  * BEFORE any cross-row summation; within one row the scalar op
  * sequence is written IDENTICALLY in both engines (each IEEE op is
  * correctly rounded on bit-identical inputs — the q100 argument);
  * sqrt and division are IEEE-exact cross-engine (house exception);
  * ranks order by quantized integers with explicit tie-breaks.
  *
  * Scale shapes (the 100 TB posture):
  *  - q110: training is two keyed groupBys (token×class counts,
  *    class totals); the likelihood table is vocab×|C| built by a
  *    broadcast nested-loop over the 10-row class dim; scoring joins
  *    the test docs' (doc, token, n) profile to the likelihood table
  *    on the token key — ONE corpus-keyed shuffle — and the |C|-way
  *    argmax is a doc-partitioned window. No pair joins anywhere.
  *  - q111: one (source, token) groupBy + one token-keyed join of
  *    the global counts; the per-source totals are a 10-row
  *    broadcast; output is a per-source top-10 window.
  *  - q112: count tables are keyed groupBys over the train split;
  *    scoring joins run per DISTINCT test trigram (vocabulary-scale,
  *    not occurrence-scale), then ONE keyed join maps scores back to
  *    the (doc, trigram, n) profile. Count dims grow with the
  *    vocabulary — every scale-growing join side carries a
  *    shuffle_merge hint (the q44/q97-q99 estimate lesson).
  */
object TextModels {
  type Q = (SparkSession, String) => DataFrame

  private val U = lit(1000000L)

  /** q70's deterministic split (shared SQL contract with its oracle). */
  private def splitCol: Column = {
    val h = substring(md5(col("doc_id").cast("string")), 1, 8)
    when(h < "cccccccc", "train").when(h < "e6666666", "val")
      .otherwise("test")
  }

  // ---- q110 Naive Bayes ---------------------------------------------

  /** Confusion matrix (actual `source`, predicted class, n_docs) of a
    * multinomial NB classifier trained on the 'train' split and
    * applied to the 'test' split of any documents-shaped frame. */
  private[graft] def naiveBayesConfusion(d: DataFrame): DataFrame = {
    val ds = d.select(col("doc_id"), col("source"), col("text"),
      splitCol.as("split"))
    val train = ds.filter(col("split") === "train")
    val test = ds.filter(col("split") === "test")

    val cls = train.groupBy(col("source").as("cls"))
      .agg(count(lit(1)).as("n_c"))
    val nd = train.agg(count(lit(1)).as("n"))
    val pri = cls.crossJoin(broadcast(nd))
      .select(col("cls"),
        round(log(col("n_c").cast("double") / col("n").cast("double")) * U)
          .cast("long").as("prior_unats"))

    val tocc = train.select(col("source").as("cls"),
      explode(Text.tokens(col("text"))).as("w"))
    val cwc = tocc.groupBy(col("w"), col("cls")).agg(count(lit(1)).as("c_wc"))
    val tc = tocc.groupBy(col("cls")).agg(count(lit(1)).as("t_c"))
    val vocab = tocc.select(col("w")).distinct()
    val vv = vocab.agg(count(lit(1)).as("v"))

    // vocab × classes smoothed log-likelihood: ln((c_wc+1)/(T_c+V)),
    // micro-quantized per cell BEFORE any doc-level summation.
    val lw = vocab.crossJoin(broadcast(tc))
      .join(cwc.hint("shuffle_merge"), Seq("w", "cls"), "left")
      .crossJoin(broadcast(vv))
      .select(col("w"), col("cls"),
        round(log((coalesce(col("c_wc"), lit(0L)) + lit(1L)).cast("double") /
          (col("t_c") + col("v")).cast("double")) * U)
          .cast("long").as("lw_unats"))

    // test-doc token profile over the train vocab (OOV tokens drop —
    // the standard multinomial-NB treatment of unseen words)
    val docw = test.select(col("doc_id"), col("source"),
      explode(Text.tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("source"), col("w"))
      .agg(count(lit(1)).as("n_w"))
    val sdc = docw.join(lw.hint("shuffle_merge"), "w")
      .groupBy(col("doc_id"), col("source"), col("cls"))
      .agg(sum(col("n_w") * col("lw_unats")).as("tok_unats"))

    val scored = test.select(col("doc_id"), col("source"))
      .crossJoin(broadcast(pri))
      .join(sdc.hint("shuffle_merge"), Seq("doc_id", "source", "cls"), "left")
      .select(col("doc_id"), col("source"), col("cls"),
        (col("prior_unats") + coalesce(col("tok_unats"), lit(0L)))
          .as("score_unats"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_unats").desc, col("cls"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("source"), col("cls").as("pred_source"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
  }

  // ---- q168 trainable char-n-gram langid ------------------------------

  /** q168 — a langid that can actually RECOVER labels (round-9 verdict
    * #5): the honest q152 finding stood two rounds — the q42 stop-word
    * scorer predicts en/und only on this synthetic corpus, because the
    * corpus has no real language signal for es/fr/de. This query
    * PLANTS the signal and trains the classifier: a deterministic
    * pseudo-language per doc (doc_id mod 3) realized as a per-language
    * character substitution (`translate` — evaluable identically on
    * both engines), then a char-BIGRAM multinomial Naive Bayes (the
    * q110 machinery with characters for words: counts = keyed
    * groupBys, +1-smoothed micro-nat likelihoods quantized per cell)
    * trained on the q70 'train' split and evaluated on 'test' through
    * the q152 confusion harness (recall/precision in flooring ppm per
    * cell). The planted substitutions shift the char-bigram
    * distribution hard, so the diagonal is non-trivial — the
    * train → classify → evaluate loop closed for the second
    * classifier family (TextModelsSpec pins the planted recovery).
    *
    * Scale shape: the char-bigram explode is map-side (one row per
    * character — the same corpus-linear shape as every tokenizer
    * query); training collapses immediately to (bigram × class)
    * vocabulary scale; the likelihood table joins the test profile on
    * the bigram key (merge, never broadcast — char-bigram vocab grows
    * with the alphabet², bounded, but the hint keeps the plan shape
    * uniform with q110); the confusion matrix is ≤ 9 cells. */
  private[graft] def charLangidConfusion(d: DataFrame): DataFrame = {
    val m3 = pmod(col("doc_id"), lit(3))
    val ptext = when(m3 === 0, col("text"))
      .when(m3 === 1, translate(col("text"), "aeiou", "xqzwy"))
      .otherwise(translate(col("text"), "rstln", "vkpgj"))
    val ds = d.select(col("doc_id"),
      concat(lit("L"), m3.cast("string")).as("gold_lang"),
      ptext.as("ptext"), splitCol.as("split"))
    val train = ds.filter(col("split") === "train")
    val test = ds.filter(col("split") === "test")

    // char bigrams by position explode; sequence(1, max(len-1, 1))
    // + the i ≤ len−1 filter keeps the frame total on 0/1-char texts
    // (sequence would run DESCENDING on an empty range)
    def bigrams(df: DataFrame, keep: String*): DataFrame =
      df.select(keep.map(col) :+ col("ptext") :+ explode(expr(
        "sequence(1, greatest(length(ptext) - 1, 1))")).as("i"): _*)
        .filter(col("i") <= length(col("ptext")) - 1)
        .select(keep.map(col) :+
          expr("substring(ptext, CAST(i AS INT), 2)").as("w"): _*)

    val cls = train.groupBy(col("gold_lang").as("cls"))
      .agg(count(lit(1)).as("n_c"))
    val nd = train.agg(count(lit(1)).as("n"))
    val pri = cls.crossJoin(broadcast(nd))
      .select(col("cls"),
        round(log(col("n_c").cast("double") / col("n").cast("double")) * U)
          .cast("long").as("prior_unats"))

    val tocc = bigrams(train, "gold_lang")
      .select(col("gold_lang").as("cls"), col("w"))
    val cwc = tocc.groupBy(col("w"), col("cls")).agg(count(lit(1)).as("c_wc"))
    val tc = tocc.groupBy(col("cls")).agg(count(lit(1)).as("t_c"))
    val vocab = tocc.select(col("w")).distinct()
    val vv = vocab.agg(count(lit(1)).as("v"))
    val lw = vocab.crossJoin(broadcast(tc))
      .join(cwc.hint("shuffle_merge"), Seq("w", "cls"), "left")
      .crossJoin(broadcast(vv))
      .select(col("w"), col("cls"),
        round(log((coalesce(col("c_wc"), lit(0L)) + lit(1L)).cast("double") /
          (col("t_c") + col("v")).cast("double")) * U)
          .cast("long").as("lw_unats"))

    val docw = bigrams(test, "doc_id", "gold_lang")
      .groupBy(col("doc_id"), col("gold_lang"), col("w"))
      .agg(count(lit(1)).as("n_w"))
    val sdc = docw.join(lw.hint("shuffle_merge"), "w")
      .groupBy(col("doc_id"), col("gold_lang"), col("cls"))
      .agg(sum(col("n_w") * col("lw_unats")).as("tok_unats"))
    val scored = test.select(col("doc_id"), col("gold_lang"))
      .crossJoin(broadcast(pri))
      .join(sdc.hint("shuffle_merge"),
        Seq("doc_id", "gold_lang", "cls"), "left")
      .select(col("doc_id"), col("gold_lang"), col("cls"),
        (col("prior_unats") + coalesce(col("tok_unats"), lit(0L)))
          .as("score_unats"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_unats").desc, col("cls"))
    val m = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("gold_lang"), col("cls").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
    m.withColumn("n_gold",
        sum(col("n_docs")).over(Window.partitionBy(col("gold_lang"))))
      .withColumn("n_pred",
        sum(col("n_docs")).over(Window.partitionBy(col("pred_lang"))))
      .selectExpr("gold_lang", "pred_lang", "n_docs", "n_gold", "n_pred",
        "n_docs * 1000000 div n_gold AS cell_of_gold_ppm",
        "n_docs * 1000000 div n_pred AS cell_of_pred_ppm")
  }

  // ---- q111 weighted log-odds ---------------------------------------

  private[graft] val LoTopK = 10

  /** Per-source top-[[LoTopK]] distinctive tokens by informative-Dirichlet
    * log-odds z-score (uniform prior α=0.01/word, α0=0.01·V). */
  private[graft] def logOddsTop(d: DataFrame): DataFrame = {
    val occ = d.select(col("source"), explode(Text.tokens(col("text"))).as("w"))
    val ysw = occ.groupBy(col("source"), col("w")).agg(count(lit(1)).as("y_sw"))
    val yw = occ.groupBy(col("w")).agg(count(lit(1)).as("y_w"))
    val ns = occ.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val tot = occ.agg(count(lit(1)).as("n"), countDistinct(col("w")).as("v"))

    // the op sequence below is mirrored VERBATIM in the oracle SQL:
    // a0 = 0.01 * V;  a = y_sw + 0.01;  b = (n_s - y_sw) + a0 - 0.01
    // c = (y_w - y_sw) + 0.01;  e = ((n - n_s) - (y_w - y_sw)) + a0 - 0.01
    val a0 = lit(0.01) * col("v").cast("double")
    val a = col("y_sw").cast("double") + lit(0.01)
    val b = ((col("n_s") - col("y_sw")).cast("double") + a0) - lit(0.01)
    val c = (col("y_w") - col("y_sw")).cast("double") + lit(0.01)
    val e = (((col("n") - col("n_s")) - (col("y_w") - col("y_sw")))
      .cast("double") + a0) - lit(0.01)
    // each ln quantized to micro-nats, then the INTEGER difference
    val dl = round(log(a / b) * U).cast("long") -
      round(log(c / e) * U).cast("long")
    // z = (δ/1e6) / sqrt(1/a + 1/c) — sqrt+division IEEE-exact
    val z = (dl.cast("double") / lit(1000000.0)) /
      sqrt(lit(1.0) / a + lit(1.0) / c)

    val scored = ysw
      .join(yw.hint("shuffle_merge"), "w")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("w").as("token"), col("y_sw"),
        round(z * lit(1000)).cast("long").as("z_milli"))
    val win = Window.partitionBy(col("source"))
      .orderBy(col("z_milli").desc, col("token"))
    scored.withColumn("rank", row_number().over(win).cast("long"))
      .filter(col("rank") <= LoTopK)
  }

  // ---- q112 stupid backoff ------------------------------------------

  /** Mean trigram stupid-backoff surprisal per 'test' doc, counts
    * from the 'train' split: S = c123/c12, else 0.4·(c23/c2), else
    * 0.4·(0.4·((c3+1)/(N+V))) — the base case add-1-smoothed so OOV
    * tokens stay defined. */
  private[graft] def stupidBackoff(d: DataFrame): DataFrame = {
    val ds = d.select(col("doc_id"), col("text"), splitCol.as("split"))
    val trainT = ds.filter(col("split") === "train")
      .select(Text.tokens(col("text")).as("t"))
    val testT = ds.filter(col("split") === "test")
      .select(col("doc_id"), Text.tokens(col("text")).as("t"))

    val tri = trainT.select(explode(NGrams.wordNGramsAll(col("t"), 3)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c123"))
    val big = trainT.select(explode(NGrams.wordNGramsAll(col("t"), 2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("cb"))
    val uniT = trainT.select(explode(col("t")).as("w"))
    val uni = uniT.groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val nv = uniT.agg(count(lit(1)).as("nn"), countDistinct(col("w")).as("v"))

    // (doc, trigram, n) profile; score per DISTINCT trigram so the
    // count joins run at vocabulary scale, not occurrence scale
    val prof = testT.select(col("doc_id"),
      explode(NGrams.wordNGramsAll(col("t"), 3)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("n_occ"))
    val gs = prof.select(col("g")).distinct()
      .withColumn("p", split(col("g"), " "))
      .select(col("g"),
        concat_ws(" ", element_at(col("p"), 1), element_at(col("p"), 2)).as("g12"),
        concat_ws(" ", element_at(col("p"), 2), element_at(col("p"), 3)).as("g23"),
        element_at(col("p"), 2).as("w2"), element_at(col("p"), 3).as("w3"))

    val joined = gs
      .join(tri.hint("shuffle_merge"), Seq("g"), "left")
      .join(big.select(col("g").as("g12"), col("cb").as("c12"))
        .hint("shuffle_merge"), Seq("g12"), "left")
      .join(big.select(col("g").as("g23"), col("cb").as("c23"))
        .hint("shuffle_merge"), Seq("g23"), "left")
      .join(uni.select(col("w").as("w2"), col("cu").as("c2"))
        .hint("shuffle_merge"), Seq("w2"), "left")
      .join(uni.select(col("w").as("w3"), col("cu").as("c3"))
        .hint("shuffle_merge"), Seq("w3"), "left")
      .crossJoin(broadcast(nv))
    // branch op sequences mirrored verbatim in the oracle
    val s = when(col("c123").isNotNull,
      col("c123").cast("double") / col("c12").cast("double"))
      .when(col("c23").isNotNull,
        lit(0.4) * (col("c23").cast("double") / col("c2").cast("double")))
      .otherwise(lit(0.4) * (lit(0.4) *
        ((coalesce(col("c3"), lit(0L)) + lit(1L)).cast("double") /
          (col("nn") + col("v")).cast("double"))))
    val sg = joined.select(col("g"),
      round(-log(s) * U).cast("long").as("s_unats"))

    prof.join(sg.hint("shuffle_merge"), "g")
      .groupBy(col("doc_id"))
      .agg(sum(col("n_occ")).as("n_trigrams"),
        sum(col("n_occ") * col("s_unats")).as("ssum"))
      .selectExpr("doc_id", "n_trigrams",
        "ssum div n_trigrams AS mean_surprisal_unats")
  }

  // ---- q138 interpolated Kneser-Ney ---------------------------------

  /** The absolute discount, expressed exactly in binary (3/4). */
  private val KnD = 0.75

  /** Mean trigram interpolated Kneser-Ney surprisal per 'test' doc
    * (Kneser & Ney 1995; the Chen & Goodman 1999 interpolated form —
    * THE canonical n-gram smoothing, q112's principled sibling):
    *
    *   P(w3|w1w2) = max(c123−D,0)/c12 + D·N1+(w1w2•)/c12 · P(w3|w2)
    *   P(w3|w2)   = max(N1+(•w2w3)−D,0)/N1+(•w2•)
    *                  + D·N1+(w2•)/N1+(•w2•) · Pc(w3)
    *   Pc(w3)     = (N1+(•w3)+1)/(N1+(••)+V)
    *
    * with D = 3/4 and all N1+ the continuation/follower TYPE counts.
    * Two engine-defined regularizations, replayed verbatim by the
    * oracle: the base continuation distribution is add-1-smoothed so
    * OOV tokens stay defined, and a level backs off when its context
    * has NO observed continuation type (N1+ null — e.g. a bigram
    * seen only at end-of-text), which also keeps every used branch
    * strictly positive.
    *
    * Cross-engine exactness: every N1+ is an integer TYPE-count
    * groupBy; D = 0.75 is exact in binary; each level is ONE fixed
    * scalar op tree (greatest / divisions / multiply / add — all
    * IEEE-correctly-rounded on bit-identical inputs, stated in the
    * same order in both engines), and the single ln is quantized to
    * integer micro-nats per DISTINCT trigram before any cross-row
    * summation (the q112 contract).
    *
    * Scale shape: identical to q112 — count/type tables are
    * vocabulary-scale map-side-combined groupBys; scoring runs per
    * DISTINCT test trigram through FIVE keyed left joins (the two
    * per-key tables pre-merged: c12+N1+(w1w2•) on the context
    * bigram, N1+(•w2•)+N1+(w2•) on the middle word); N1+(••) and V
    * are the single 1-row broadcast; one keyed map-back join to the
    * per-doc profiles. */
  private[graft] def kneserNey(d: DataFrame): DataFrame = {
    val ds = d.select(col("doc_id"), col("text"), splitCol.as("split"))
    val trainT = ds.filter(col("split") === "train")
      .select(Text.tokens(col("text")).as("t"))
    val testT = ds.filter(col("split") === "test")
      .select(col("doc_id"), Text.tokens(col("text")).as("t"))

    // occurrence counts (c123, c12) and TYPE tables
    val tri = trainT.select(explode(NGrams.wordNGramsAll(col("t"), 3)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c123"))
    val trityp = tri.withColumn("p", split(col("g"), " "))
      .select(element_at(col("p"), 1).as("w1"),
        element_at(col("p"), 2).as("w2"), element_at(col("p"), 3).as("w3"))
    val big = trainT.select(explode(NGrams.wordNGramsAll(col("t"), 2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c12"))
    val bigtyp = big.withColumn("p", split(col("g"), " "))
      .select(element_at(col("p"), 1).as("wa"), element_at(col("p"), 2).as("wb"))

    // N1+(w1w2, •): distinct followers of the context bigram —
    // pre-merged onto the c12 table (every trigram prefix is an
    // observed bigram, so a LEFT join loses nothing)
    val fol2 = trityp.groupBy(concat_ws(" ", col("w1"), col("w2")).as("g"))
      .agg(count(lit(1)).as("fol2"))
    val b12 = big.join(fol2.hint("shuffle_merge"), Seq("g"), "left")
    // N1+(•, w2w3): distinct predecessors of the suffix bigram
    val cont3 = trityp.groupBy(concat_ws(" ", col("w2"), col("w3")).as("g23"))
      .agg(count(lit(1)).as("cont3"))
    // middle-word table: N1+(•w2•) type mass + N1+(w2•) followers
    val mid = trityp.groupBy(col("w2")).agg(count(lit(1)).as("midc"))
    val fol1 = bigtyp.groupBy(col("wa").as("w2")).agg(count(lit(1)).as("fol1"))
    val w2tab = mid.join(fol1.hint("shuffle_merge"), Seq("w2"), "full")
    // unigram continuation counts and the type/vocab totals
    val cont2 = bigtyp.groupBy(col("wb").as("w3")).agg(count(lit(1)).as("cont2"))
    val totals = big.agg(count(lit(1)).as("nb2")).crossJoin(
      trainT.select(explode(col("t")).as("w"))
        .agg(countDistinct(col("w")).as("v")))

    val prof = testT.select(col("doc_id"),
      explode(NGrams.wordNGramsAll(col("t"), 3)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("n_occ"))
    val gs = prof.select(col("g")).distinct()
      .withColumn("p", split(col("g"), " "))
      .select(col("g"),
        concat_ws(" ", element_at(col("p"), 1), element_at(col("p"), 2)).as("g12"),
        concat_ws(" ", element_at(col("p"), 2), element_at(col("p"), 3)).as("g23"),
        element_at(col("p"), 2).as("w2"), element_at(col("p"), 3).as("w3"))

    val joined = gs
      .join(tri.hint("shuffle_merge"), Seq("g"), "left")
      .join(b12.select(col("g").as("g12"), col("c12"), col("fol2"))
        .hint("shuffle_merge"), Seq("g12"), "left")
      .join(cont3.hint("shuffle_merge"), Seq("g23"), "left")
      .join(w2tab.hint("shuffle_merge"), Seq("w2"), "left")
      .join(cont2.hint("shuffle_merge"), Seq("w3"), "left")
      .crossJoin(broadcast(totals))
    // the three levels, one fixed op tree each — mirrored verbatim
    val pc3 = (coalesce(col("cont2"), lit(0L)) + lit(1L)).cast("double") /
      (col("nb2") + col("v")).cast("double")
    val pkn2 = when(col("midc").isNotNull,
      greatest(coalesce(col("cont3"), lit(0L)).cast("double") - lit(KnD),
        lit(0.0)) / col("midc").cast("double") +
        (lit(KnD) * col("fol1").cast("double") / col("midc").cast("double")) * pc3)
      .otherwise(pc3)
    val pkn3 = when(col("fol2").isNotNull,
      greatest(coalesce(col("c123"), lit(0L)).cast("double") - lit(KnD),
        lit(0.0)) / col("c12").cast("double") +
        (lit(KnD) * col("fol2").cast("double") / col("c12").cast("double")) * pkn2)
      .otherwise(pkn2)
    val sg = joined.select(col("g"),
      round(-log(pkn3) * U).cast("long").as("s_unats"))

    prof.join(sg.hint("shuffle_merge"), "g")
      .groupBy(col("doc_id"))
      .agg(sum(col("n_occ")).as("n_trigrams"),
        sum(col("n_occ") * col("s_unats")).as("ssum"))
      .selectExpr("doc_id", "n_trigrams",
        "ssum div n_trigrams AS mean_kn_surprisal_unats")
  }

  val queries: Map[String, Q] = Map(
    "q110_naive_bayes" -> { (s, dir) =>
      naiveBayesConfusion(Tables.load(s, dir, "documents"))
    },
    "q111_logodds_terms" -> { (s, dir) =>
      logOddsTop(Tables.load(s, dir, "documents"))
    },
    "q112_stupid_backoff" -> { (s, dir) =>
      stupidBackoff(Tables.load(s, dir, "documents"))
    },
    "q138_kneser_ney" -> { (s, dir) =>
      kneserNey(Tables.load(s, dir, "documents"))
    },
    "q168_char_langid" -> { (s, dir) =>
      charLangidConfusion(Tables.load(s, dir, "documents"))
    },
  )

  // ---- DuckDB oracles ----------------------------------------------

  private val splitSql =
    """CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc'
      |       THEN 'train'
      |     WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'
      |       THEN 'val'
      |     ELSE 'test' END""".stripMargin

  private val oracle110: String =
    s"""WITH ds AS (
       |  SELECT doc_id, source, text, $splitSql AS split FROM documents),
       |tr AS (SELECT * FROM ds WHERE split = 'train'),
       |te AS (SELECT * FROM ds WHERE split = 'test'),
       |cls AS (SELECT source AS cls, count(*) AS n_c FROM tr GROUP BY source),
       |nd AS (SELECT count(*) AS n FROM tr),
       |pri AS (
       |  SELECT cls, CAST(round(ln(CAST(n_c AS DOUBLE) / CAST(n AS DOUBLE))
       |    * 1000000) AS BIGINT) AS prior FROM cls, nd),
       |tocc AS (
       |  SELECT source AS cls, unnest(string_split_regex(text, '\\s+')) AS w
       |  FROM tr),
       |cwc AS (SELECT w, cls, count(*) AS c_wc FROM tocc GROUP BY w, cls),
       |tc AS (SELECT cls, count(*) AS t_c FROM tocc GROUP BY cls),
       |vocab AS (SELECT DISTINCT w FROM tocc),
       |vv AS (SELECT count(*) AS v FROM vocab),
       |lw AS (
       |  SELECT vocab.w, tc.cls,
       |    CAST(round(ln(CAST(coalesce(c_wc, 0) + 1 AS DOUBLE)
       |      / CAST(t_c + v AS DOUBLE)) * 1000000) AS BIGINT) AS lw
       |  FROM vocab CROSS JOIN tc
       |  LEFT JOIN cwc ON cwc.w = vocab.w AND cwc.cls = tc.cls
       |  CROSS JOIN vv),
       |docw AS (
       |  SELECT doc_id, source, w, count(*) AS n_w FROM (
       |    SELECT doc_id, source,
       |      unnest(string_split_regex(text, '\\s+')) AS w FROM te)
       |  GROUP BY doc_id, source, w),
       |sdc AS (
       |  SELECT doc_id, source, cls, sum(n_w * lw) AS tok
       |  FROM docw JOIN lw USING (w) GROUP BY doc_id, source, cls),
       |scored AS (
       |  SELECT t.doc_id, t.source, p.cls,
       |    p.prior + coalesce(s.tok, 0) AS score
       |  FROM te t CROSS JOIN pri p
       |  LEFT JOIN sdc s ON s.doc_id = t.doc_id AND s.cls = p.cls),
       |pred AS (
       |  SELECT doc_id, source, cls FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY doc_id ORDER BY score DESC, cls) AS rn
       |    FROM scored) WHERE rn = 1)
       |SELECT source, cls AS pred_source, CAST(count(*) AS BIGINT) AS n_docs
       |FROM pred GROUP BY source, cls""".stripMargin

  private val oracle111: String =
    s"""WITH occ AS (
       |  SELECT source, unnest(string_split_regex(text, '\\s+')) AS w
       |  FROM documents),
       |ysw AS (SELECT source, w, count(*) AS y_sw FROM occ GROUP BY source, w),
       |yw AS (SELECT w, count(*) AS y_w FROM occ GROUP BY w),
       |ns AS (SELECT source, count(*) AS n_s FROM occ GROUP BY source),
       |tot AS (SELECT count(*) AS n, count(DISTINCT w) AS v FROM occ),
       |sc AS (
       |  SELECT source, w AS token, y_sw,
       |    CAST(round(((CAST(
       |        CAST(round(ln((CAST(y_sw AS DOUBLE) + 0.01)
       |          / ((CAST(n_s - y_sw AS DOUBLE) + 0.01 * CAST(v AS DOUBLE)) - 0.01))
       |          * 1000000) AS BIGINT)
       |      - CAST(round(ln((CAST(y_w - y_sw AS DOUBLE) + 0.01)
       |          / ((CAST((n - n_s) - (y_w - y_sw) AS DOUBLE)
       |            + 0.01 * CAST(v AS DOUBLE)) - 0.01))
       |          * 1000000) AS BIGINT) AS DOUBLE) / 1000000.0)
       |      / sqrt(1.0 / (CAST(y_sw AS DOUBLE) + 0.01)
       |           + 1.0 / (CAST(y_w - y_sw AS DOUBLE) + 0.01)))
       |      * 1000) AS BIGINT) AS z_milli
       |  FROM ysw JOIN yw USING (w) JOIN ns USING (source) CROSS JOIN tot)
       |SELECT source, token, y_sw, z_milli, CAST(rank AS BIGINT) AS rank
       |FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY source ORDER BY z_milli DESC, token) AS rank
       |  FROM sc)
       |WHERE rank <= $LoTopK""".stripMargin

  private val oracle112: String =
    s"""WITH ds AS (
       |  SELECT doc_id, text, $splitSql AS split FROM documents),
       |trt AS (SELECT string_split_regex(text, '\\s+') AS t
       |        FROM ds WHERE split = 'train'),
       |tet AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t
       |        FROM ds WHERE split = 'test'),
       |tri AS (
       |  SELECT g, count(*) AS c123 FROM (
       |    SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g FROM (
       |      SELECT t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
       |      FROM trt)) GROUP BY g),
       |big AS (
       |  SELECT g, count(*) AS cb FROM (
       |    SELECT t[i] || ' ' || t[i+1] AS g FROM (
       |      SELECT t, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i
       |      FROM trt)) GROUP BY g),
       |uni AS (
       |  SELECT w, count(*) AS cu FROM (
       |    SELECT unnest(t) AS w FROM trt) GROUP BY w),
       |nv AS (
       |  SELECT count(*) AS nn, count(DISTINCT w) AS v FROM (
       |    SELECT unnest(t) AS w FROM trt)),
       |prof AS (
       |  SELECT doc_id, g, w2, w3, g12, g23, count(*) AS n_occ FROM (
       |    SELECT doc_id,
       |      t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g,
       |      t[i] || ' ' || t[i+1] AS g12,
       |      t[i+1] || ' ' || t[i+2] AS g23,
       |      t[i+1] AS w2, t[i+2] AS w3
       |    FROM (
       |      SELECT doc_id, t,
       |        unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
       |      FROM tet))
       |  GROUP BY doc_id, g, w2, w3, g12, g23),
       |sg AS (
       |  SELECT p.doc_id, p.n_occ,
       |    CAST(round(-ln(CASE
       |      WHEN c123 IS NOT NULL
       |        THEN CAST(c123 AS DOUBLE) / CAST(b12.cb AS DOUBLE)
       |      WHEN b23.cb IS NOT NULL
       |        THEN 0.4 * (CAST(b23.cb AS DOUBLE) / CAST(u2.cu AS DOUBLE))
       |      ELSE 0.4 * (0.4 * (CAST(coalesce(u3.cu, 0) + 1 AS DOUBLE)
       |        / CAST(nn + v AS DOUBLE)))
       |      END) * 1000000) AS BIGINT) AS s_unats
       |  FROM prof p
       |  LEFT JOIN tri ON tri.g = p.g
       |  LEFT JOIN big b12 ON b12.g = p.g12
       |  LEFT JOIN big b23 ON b23.g = p.g23
       |  LEFT JOIN uni u2 ON u2.w = p.w2
       |  LEFT JOIN uni u3 ON u3.w = p.w3
       |  CROSS JOIN nv)
       |SELECT doc_id, CAST(sum(n_occ) AS BIGINT) AS n_trigrams,
       |  CAST(CAST(sum(n_occ * s_unats) AS BIGINT)
       |    // CAST(sum(n_occ) AS BIGINT) AS BIGINT) AS mean_surprisal_unats
       |FROM sg GROUP BY doc_id""".stripMargin

  private val oracle138: String =
    s"""WITH ds AS (
       |  SELECT doc_id, text, $splitSql AS split FROM documents),
       |trt AS (SELECT string_split_regex(text, '\\s+') AS t
       |        FROM ds WHERE split = 'train'),
       |tet AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t
       |        FROM ds WHERE split = 'test'),
       |tri AS MATERIALIZED (
       |  SELECT g, count(*) AS c123 FROM (
       |    SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g FROM (
       |      SELECT t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
       |      FROM trt)) GROUP BY g),
       |big AS MATERIALIZED (
       |  SELECT g, count(*) AS c12 FROM (
       |    SELECT t[i] || ' ' || t[i+1] AS g FROM (
       |      SELECT t, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i
       |      FROM trt)) GROUP BY g),
       |trityp AS MATERIALIZED (SELECT string_split(g, ' ') AS p FROM tri),
       |bigtyp AS MATERIALIZED (SELECT string_split(g, ' ') AS p FROM big),
       |fol2 AS (
       |  SELECT p[1] || ' ' || p[2] AS g, count(*) AS fol2
       |  FROM trityp GROUP BY 1),
       |b12 AS (
       |  SELECT big.g, big.c12, fol2.fol2 FROM big LEFT JOIN fol2 USING (g)),
       |cont3 AS (
       |  SELECT p[2] || ' ' || p[3] AS g23, count(*) AS cont3
       |  FROM trityp GROUP BY 1),
       |mid AS (SELECT p[2] AS w2, count(*) AS midc FROM trityp GROUP BY 1),
       |fol1 AS (SELECT p[1] AS w2, count(*) AS fol1 FROM bigtyp GROUP BY 1),
       |w2tab AS (
       |  SELECT coalesce(mid.w2, fol1.w2) AS w2, midc, fol1
       |  FROM mid FULL JOIN fol1 ON mid.w2 = fol1.w2),
       |cont2 AS (SELECT p[2] AS w3, count(*) AS cont2 FROM bigtyp GROUP BY 1),
       |tot AS (
       |  SELECT (SELECT count(*) FROM big) AS nb2,
       |    (SELECT count(DISTINCT w) FROM (SELECT unnest(t) AS w FROM trt)) AS v),
       |prof AS (
       |  SELECT doc_id, g, w2, w3, g12, g23, count(*) AS n_occ FROM (
       |    SELECT doc_id,
       |      t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g,
       |      t[i] || ' ' || t[i+1] AS g12,
       |      t[i+1] || ' ' || t[i+2] AS g23,
       |      t[i+1] AS w2, t[i+2] AS w3
       |    FROM (
       |      SELECT doc_id, t,
       |        unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
       |      FROM tet))
       |  GROUP BY doc_id, g, w2, w3, g12, g23),
       |sg AS (
       |  SELECT doc_id, n_occ,
       |    CAST(round(-ln(pkn3) * 1000000) AS BIGINT) AS s_unats
       |  FROM (
       |    SELECT doc_id, n_occ,
       |      CASE WHEN fol2 IS NOT NULL
       |        THEN greatest(CAST(coalesce(c123, 0) AS DOUBLE) - 0.75, 0.0)
       |            / CAST(c12 AS DOUBLE)
       |          + (0.75 * CAST(fol2 AS DOUBLE) / CAST(c12 AS DOUBLE)) * pkn2
       |        ELSE pkn2 END AS pkn3
       |    FROM (
       |      SELECT doc_id, n_occ, c123, c12, fol2,
       |        CASE WHEN midc IS NOT NULL
       |          THEN greatest(CAST(coalesce(cont3, 0) AS DOUBLE) - 0.75, 0.0)
       |              / CAST(midc AS DOUBLE)
       |            + (0.75 * CAST(fol1 AS DOUBLE) / CAST(midc AS DOUBLE)) * pc3
       |          ELSE pc3 END AS pkn2
       |      FROM (
       |        SELECT p.doc_id, p.n_occ, tri.c123, b.c12, b.fol2,
       |          c3.cont3, m.midc, m.fol1,
       |          CAST(coalesce(c2.cont2, 0) + 1 AS DOUBLE)
       |            / CAST(nb2 + v AS DOUBLE) AS pc3
       |        FROM prof p
       |        LEFT JOIN tri ON tri.g = p.g
       |        LEFT JOIN b12 b ON b.g = p.g12
       |        LEFT JOIN cont3 c3 ON c3.g23 = p.g23
       |        LEFT JOIN w2tab m ON m.w2 = p.w2
       |        LEFT JOIN cont2 c2 ON c2.w3 = p.w3
       |        CROSS JOIN tot))))
       |SELECT doc_id, CAST(sum(n_occ) AS BIGINT) AS n_trigrams,
       |  CAST(CAST(sum(n_occ * s_unats) AS BIGINT)
       |    // CAST(sum(n_occ) AS BIGINT) AS BIGINT) AS mean_kn_surprisal_unats
       |FROM sg GROUP BY doc_id""".stripMargin

  /** q168: the q110 replay pattern over char bigrams of the planted
    * pseudo-language texts + the q152 window censuses. */
  private val oracle168: String =
    s"""WITH ds AS (
       |  SELECT doc_id,
       |    'L' || CAST(doc_id % 3 AS VARCHAR) AS gold_lang,
       |    CASE WHEN doc_id % 3 = 0 THEN text
       |         WHEN doc_id % 3 = 1 THEN translate(text, 'aeiou', 'xqzwy')
       |         ELSE translate(text, 'rstln', 'vkpgj') END AS ptext,
       |    $splitSql AS split
       |  FROM documents),
       |tr AS (SELECT * FROM ds WHERE split = 'train'),
       |te AS (SELECT * FROM ds WHERE split = 'test'),
       |cls AS (SELECT gold_lang AS cls, count(*) AS n_c
       |        FROM tr GROUP BY gold_lang),
       |nd AS (SELECT count(*) AS n FROM tr),
       |pri AS (
       |  SELECT cls, CAST(round(ln(CAST(n_c AS DOUBLE) / CAST(n AS DOUBLE))
       |    * 1000000) AS BIGINT) AS prior FROM cls, nd),
       |tri AS (
       |  SELECT gold_lang AS cls, ptext,
       |    unnest(generate_series(1, greatest(length(ptext) - 1, 1))) AS i
       |  FROM tr),
       |tocc AS MATERIALIZED (
       |  SELECT cls, substring(ptext, CAST(i AS INT), 2) AS w
       |  FROM tri WHERE i <= length(ptext) - 1),
       |cwc AS (SELECT w, cls, count(*) AS c_wc FROM tocc GROUP BY w, cls),
       |tc AS (SELECT cls, count(*) AS t_c FROM tocc GROUP BY cls),
       |vocab AS (SELECT DISTINCT w FROM tocc),
       |vv AS (SELECT count(*) AS v FROM vocab),
       |lw AS MATERIALIZED (
       |  SELECT vocab.w, tc.cls,
       |    CAST(round(ln(CAST(coalesce(c_wc, 0) + 1 AS DOUBLE)
       |      / CAST(t_c + v AS DOUBLE)) * 1000000) AS BIGINT) AS lw
       |  FROM vocab CROSS JOIN tc
       |  LEFT JOIN cwc ON cwc.w = vocab.w AND cwc.cls = tc.cls
       |  CROSS JOIN vv),
       |tei AS (
       |  SELECT doc_id, gold_lang, ptext,
       |    unnest(generate_series(1, greatest(length(ptext) - 1, 1))) AS i
       |  FROM te),
       |docw AS (
       |  SELECT doc_id, gold_lang, w, count(*) AS n_w FROM (
       |    SELECT doc_id, gold_lang,
       |      substring(ptext, CAST(i AS INT), 2) AS w
       |    FROM tei WHERE i <= length(ptext) - 1)
       |  GROUP BY doc_id, gold_lang, w),
       |sdc AS (
       |  SELECT doc_id, gold_lang, cls, sum(n_w * lw) AS tok
       |  FROM docw JOIN lw USING (w) GROUP BY doc_id, gold_lang, cls),
       |scored AS (
       |  SELECT t.doc_id, t.gold_lang, p.cls,
       |    p.prior + coalesce(s.tok, 0) AS score
       |  FROM te t CROSS JOIN pri p
       |  LEFT JOIN sdc s ON s.doc_id = t.doc_id AND s.cls = p.cls),
       |prd AS (
       |  SELECT doc_id, gold_lang, cls AS pred_lang FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY doc_id ORDER BY score DESC, cls) AS rn
       |    FROM scored) WHERE rn = 1),
       |m AS (
       |  SELECT gold_lang, pred_lang, count(*) AS n_docs
       |  FROM prd GROUP BY gold_lang, pred_lang)
       |SELECT gold_lang, pred_lang, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(sum(n_docs) OVER (PARTITION BY gold_lang) AS BIGINT) AS n_gold,
       |  CAST(sum(n_docs) OVER (PARTITION BY pred_lang) AS BIGINT) AS n_pred,
       |  CAST(n_docs * 1000000 // sum(n_docs) OVER (PARTITION BY gold_lang)
       |    AS BIGINT) AS cell_of_gold_ppm,
       |  CAST(n_docs * 1000000 // sum(n_docs) OVER (PARTITION BY pred_lang)
       |    AS BIGINT) AS cell_of_pred_ppm
       |FROM m""".stripMargin

  val oracles: Map[String, String] = Map(
    "q110_naive_bayes" -> oracle110,
    "q111_logodds_terms" -> oracle111,
    "q112_stupid_backoff" -> oracle112,
    "q138_kneser_ney" -> oracle138,
    "q168_char_langid" -> oracle168,
  )
}
