package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import scala.util.control.NonFatal

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the union of every operator module's registry; each
  * entry has a matching DuckDB oracle in `oracleSql` unless the
  * operator is not SQL-expressible (then the driver records a weaker
  * rows-only check).
  */
object SparkEntry {

  private val modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (RelationalCore.queries, RelationalCore.oracles),
      (Analytic.queries, Analytic.oracles),
      (ScalarFns.queries, ScalarFns.oracles),
      (CosmapDomain.queries, CosmapDomain.oracles),
      (TextAnalysis.queries, TextAnalysis.oracles),
      (Dedup.queries, Dedup.oracles),
      (Similarity.queries, Similarity.oracles),
      (MultimodalOps.queries, MultimodalOps.oracles),
      (PipelineOps.queries, PipelineOps.oracles),
      (Sessionize.queries, Sessionize.oracles),
      (AdvancedJoins.queries, AdvancedJoins.oracles),
      (ExtendedRelational.queries, ExtendedRelational.oracles),
      (CollectionFns.queries, CollectionFns.oracles),
      (ApproxAggs.queries, ApproxAggs.oracles),
      (Workloads.queries, Workloads.oracles),
      (CorpusStats.queries, CorpusStats.oracles),
      (TextModels.queries, TextModels.oracles),
      (Mixing.queries, Mixing.oracles),
      (Curation.queries, Curation.oracles),
      (GraphRank.queries, GraphRank.oracles),
      (Compression.queries, Compression.oracles),
      (DriftAudit.queries, DriftAudit.oracles),
      (CorpusPipeline.queries, CorpusPipeline.oracles),
      (RepeatedSpans.queries, RepeatedSpans.oracles),
      (BpeTrainer.queries, BpeTrainer.oracles),
      (Winnow.queries, Winnow.oracles),
      (KMeansTrain.queries, KMeansTrain.oracles),
      (Profiling.queries, Profiling.oracles),
      (DupCoverage.queries, DupCoverage.oracles),
      (LexicalStats.queries, LexicalStats.oracles),
      (Motifs.queries, Motifs.oracles),
      (Perceptron.queries, Perceptron.oracles),
      (HashedVectors.queries, HashedVectors.oracles),
      (UnigramLM.queries, UnigramLM.oracles),
      (ImageDedup.queries, ImageDedup.oracles),
      (AudioDedup.queries, AudioDedup.oracles),
      (VideoDedup.queries, VideoDedup.oracles),
      (CrossModal.queries, CrossModal.oracles),
      (AutoConfig.queries, AutoConfig.oracles),
      (DedupQuality.queries, DedupQuality.oracles),
      (VectorQuality.queries, VectorQuality.oracles),
    )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The flagship is the round-8 north star: the modern
    * curation pipeline (scrub → clean → CCNet head-keep → SemDeDup →
    * mix → pack → chunk) compiled from a declarative pipeline spec —
    * the DAG compiler driving a two-input quality-filter chain. */
  def entry(spark: SparkSession): DataFrame =
    queries("q143_corpus_prep_v3")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  val oracleSql: Map[String, String] =
    modules.map(_._2).reduce(_ ++ _)

  /** The one query loop, shared by Bench and Verify. For each name in
    * order: its jobs carry the name as their job group (cut and branch
    * jobs included: `Tables.inParallel` threads inherit it), so
    * [[graft.run.RunObservability.ChunkProgressListener]]'s stage
    * records name their query; `build` plus `action` are timed; a
    * non-fatal failure is returned, not thrown; and the job group is
    * released in a `finally`. Returns each name with its seconds or
    * its failure. */
  def sweep(spark: SparkSession, names: Seq[String], build: String => DataFrame)
      (action: (String, DataFrame) => Unit): Seq[(String, Either[Throwable, Double])] = {
    val sc = spark.sparkContext
    names.map { name =>
      sc.setJobGroup(name, name)
      val t0 = System.nanoTime()
      name -> (try {
        action(name, build(name))
        Right((System.nanoTime() - t0) / 1e9)
      } catch { case NonFatal(e) => Left(e) }
      finally sc.clearJobGroup())
    }
  }
}
