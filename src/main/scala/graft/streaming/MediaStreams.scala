package graft.streaming

import graft.Cut._
import graft.multimodal.{Media, Multimodal}
import graft.operators.ImageDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming MEDIA ingest (round 12) — the q178/q179 incremental
  * dedup as a Structured Streaming stream-static composition: new
  * media arrive as micro-batches of raw payloads, are DECODED in the
  * trigger (the real javax.imageio / javax.sound path — the same
  * map-side work the batch gates run), fingerprinted, and flagged
  * against the STANDING library's cut chunk index + feature
  * table. Per-increment flags depend only on the arriving row and
  * the static index, so the union of micro-batch outputs ≡ the batch
  * report over the same rows BY CONSTRUCTION — MediaStreamsSpec
  * proves it row-for-row against the q178 gate operator itself
  * (the DocStreams q145-streaming playbook, applied to media).
  *
  * Index refresh follows the q154 pattern: rebuild-free append of a
  * trigger's novel rows (chunks and features are per-id independent,
  * so appended ≡ rebuilt trivially — no analog of the q154 gram-merge
  * subtlety exists here). 100 TB posture: the standing index is the
  * cut artifact; per-trigger work is batch-sized decode + one
  * chunk-keyed probe join against it. */
object MediaStreams {

  /** The standing library's cut state: the per-id fingerprint
    * frame (id, vec, arr) — feature vector + chunk array in one row
    * (the r14 array-form kernel carrier; ImageDedup.fpOf). */
  final case class MediaIndex(fp: DataFrame,
      planeCoef: Seq[(Int, Int, Long)], center: Seq[Long],
      l1Max: Long)

  /** Build (and cut) the standing index from a feature table — the
    * modality is fixed by its kernel literals, exactly as in the
    * batch gates. */
  def buildIndex(features: DataFrame, planeCoef: Seq[(Int, Int, Long)],
      center: Seq[Long], l1Max: Long): MediaIndex =
    MediaIndex(ImageDedup.fpOf(features, planeCoef, center)
      .cut("MediaStreams.buildIndex: fingerprints"), planeCoef, center, l1Max)

  /** Flag ONE micro-batch of media feature rows against the standing
    * index — the per-trigger unit (exposed for the spec). */
  def flagBatch(batchFeatures: DataFrame, idx: MediaIndex): DataFrame = {
    val fpInc = ImageDedup.fpOf(batchFeatures, idx.planeCoef, idx.center)
      .cut("MediaStreams.flagBatch: increment fingerprints")
    // fp is one row per id — the id column IS the increment universe
    ImageDedup.ingestFlags(fpInc.select("id"),
      fpInc, idx.fp, idx.l1Max)
  }

  /** Run the stream over raw IMAGE media rows: decode per trigger,
    * flag, hand to `sink` (ingest ledger, dedup router, ...). */
  def runImages(mediaStream: DataFrame, idx: MediaIndex,
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    mediaStream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        sink(flagBatch(
          Multimodal.imageIntFeatures(batch.as[Media]).toDF(), idx), id)
      }
      .start()
}
