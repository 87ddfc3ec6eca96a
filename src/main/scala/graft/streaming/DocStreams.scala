package graft.streaming

import graft.Cut._
import graft.dedup.MinHashLSH
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming incremental-ingest dedup — the §2.9 form of q145: a
  * stream of arriving documents is flagged per MICRO-BATCH against a
  * pre-built static index of the standing corpus (band buckets + gram
  * arrays, computed once and cut). Each trigger is one "daily
  * increment" of the batch operator: the per-doc flags depend only on
  * the doc and the STATIC corpus — never on other streamed docs — so
  * the union of micro-batch outputs equals the batch q145 report over
  * the same doc set BY CONSTRUCTION (StreamingIncrementSpec proves it
  * batch-for-batch), and the stream needs NO cross-trigger state at
  * all: the classic stream-static enrichment shape, with foreachBatch
  * carrying the multi-stage candidate+verify plan a single
  * stream-static join cannot express.
  *
  * 100 TB posture: the index is the big side and lives partitioned on
  * the cluster (never broadcast — the q145 argument); per trigger the
  * batch side is small, so the band join and the two verify joins are
  * batch-sized probes into it. Index refresh = rebuild + swap, the
  * standard reference-data pattern. */
object DocStreams {

  /** The standing corpus's LSH index: (band, bucket, corp_id) +
    * (doc_b, grams_b, ng_b), both cut — built ONCE, probed by every
    * micro-batch, freed once no longer referenced. */
  final case class CorpusIndex(buckets: DataFrame, grams: DataFrame)

  def buildIndex(corpus: DataFrame): CorpusIndex = CorpusIndex(
    MinHashLSH.bandBuckets(corpus, "doc_id", "text",
        numHashes = 64, bands = 16, shingleN = 3)
      .select(col("band"), col("bucket"), col("doc_id").as("corp_id"))
      .cut("DocStreams.buildIndex: band buckets"),
    MinHashLSH.gramSide(corpus, "doc_id", "text", 3, "b")
      .cut("DocStreams.buildIndex: grams"))

  /** One micro-batch flagged against the index — the q145 semantics
    * verbatim: band-collision candidates (batch×index, never a
    * self-join), exact 3-gram Jaccard verify, increment-sided report
    * via the SAME [[graft.operators.Dedup.incrementReport]]. The
    * INDEX sides are hinted off broadcast (at real scale the standing
    * corpus is the big side — the q145 argument; the batch side stays
    * free for the planner to broadcast when a trigger is small). */
  def flagBatch(batch: DataFrame, idx: CorpusIndex): DataFrame = {
    val ib = MinHashLSH.bandBuckets(batch, "doc_id", "text",
        numHashes = 64, bands = 16, shingleN = 3)
      .select(col("band"), col("bucket"), col("doc_id").as("inc_id"))
    val cand = ib.join(idx.buckets.hint("shuffle_merge"),
        Seq("band", "bucket"))
      .select(col("inc_id").as("doc_a"), col("corp_id").as("doc_b"))
      .distinct()
    val verified = MinHashLSH.verifySided(cand,
      MinHashLSH.gramSide(batch, "doc_id", "text", 3, "a"),
      idx.grams.hint("shuffle_merge"), threshold = 0.5)
    graft.operators.Dedup.incrementReport(
      batch.select(col("doc_id")), verified)
  }

  /** Merge-refresh for the standing index (round-8 verdict #2): once
    * an increment's flags are resolved, its SURVIVORS (non-dup docs)
    * join the corpus — union of band buckets + gram arrays, cut as
    * the new index. Band keys and gram arrays are per-doc DETERMINISTIC
    * functions (`MinHashLSH.bandBuckets`/`gramSide`), so the merged
    * index is row-identical to one rebuilt from corpus ∪ survivors
    * (DocStreamsSpec proves it) — merge is purely the cheaper path.
    * Scale shape: the union is append-only — the standing side is
    * read from its checkpoint with its partitioning intact and only
    * the increment-sized survivor side is new map work; NO
    * corpus-wide reshuffle (PlanShapeSpec pins it). The swapped-out
    * index is freed once the caller no longer references it. */
  def mergeIndex(idx: CorpusIndex, survivors: DataFrame): CorpusIndex = CorpusIndex(
    idx.buckets.unionByName(
      MinHashLSH.bandBuckets(survivors, "doc_id", "text",
          numHashes = 64, bands = 16, shingleN = 3)
        .select(col("band"), col("bucket"), col("doc_id").as("corp_id")))
      .cut("DocStreams.mergeIndex: band buckets"),
    idx.grams.unionByName(
      MinHashLSH.gramSide(survivors, "doc_id", "text", 3, "b"))
      .cut("DocStreams.mergeIndex: grams"))

  /** Run the stream: every trigger's docs are flagged and handed to
    * `sink` (write to the ingest ledger, alerting, ...). */
  def run(docStream: DataFrame, idx: CorpusIndex,
          sink: (DataFrame, Long) => Unit): StreamingQuery =
    docStream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(flagBatch(batch, idx), id)
      }
      .start()

  /** Streaming QUALITY scoring (round 9) — the MODEL analog of the
    * dedup index: each micro-batch of arriving docs is scored against
    * a pre-trained pocket weight table
    * (graft.operators.Perceptron.trainPocket output, cut by its
    * training loop; refresh = retrain + swap, like [[mergeIndex]]). Per-doc
    * scores depend only on the doc and the STATIC weights, so the
    * union of micro-batch outputs ≡ the batch
    * `Perceptron.scoreDocs` over the same docs BY CONSTRUCTION
    * (DocStreamsSpec proves it doc-for-doc) — zero cross-trigger
    * state, the classic stream-static enrichment shape. 100 TB
    * posture: the ≤(B+1)-row weight dim broadcasts into each
    * trigger's feature stream; per-trigger work is batch-sized. */
  def scoreStream(docStream: DataFrame, weights: DataFrame,
                  sink: (DataFrame, Long) => Unit): StreamingQuery =
    docStream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.operators.Perceptron.scoreDocs(batch, weights), id)
      }
      .start()
}
