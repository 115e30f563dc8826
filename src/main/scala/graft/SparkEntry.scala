package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._, graft.operators._, graft.streaming._, graft.text._, graft.dedup._
import graft.sim._, graft.pipeline._, graft.ml._, graft.multimodal._, graft.sources._

/** Driver contract: the flagship query and the name → query map, both
  * derived from one list of [[QuerySpec]]s. Each operator object defines
  * its own specs, with their oracles, next to the queries they run; a new
  * operator object adds its `specs` here. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** Every registered query, one spec per name. */
  lazy val specs: Seq[QuerySpec] = Seq(
    Relational.specs, Analytics.specs, CurationPipeline.specs,
    AnnUpsert.specs, AsOfJoin.specs, BloomIndex.specs, CdcTombstones.specs, ChangeFeed.specs,
    CountMin.specs, DynamicPartitionOverwrite.specs, HeavyHitters.specs, KmvSketch.specs,
    ObservedMetrics.specs, OptimisticCommit.specs, PageRank.specs, Ppr.specs, RangeJoin.specs,
    Reachability.specs, SampleQuantiles.specs, ScaleOps.specs, SchemaEvolution.specs,
    SnapshotExpiry.specs, Sssp.specs, StatsSkipping.specs, Triangles.specs,
    VersionedTable.specs, WeightedSample.specs, WriteAuditPublish.specs,
    ChangeFeedStream.specs, EventStreams.specs, Sessionization.specs, StreamMetrics.specs,
    BlocklistScrub.specs, Bm25.specs, BpeVocab.specs, ByteBpe.specs, CcnetSelect.specs,
    GopherRules.specs, KnTrigramLm.specs, LangClassifier.specs, LmQuality.specs,
    QualityClassifier.specs, TextAnalysis.specs, TextNormalize.specs, TfIdf.specs,
    UnigramLm.specs, UnigramPrune.specs,
    DedupClusters.specs, EmbeddingDedup.specs, ExactDedup.specs, IncrementalDedup.specs,
    LineDedup.specs, LshTuning.specs, MinHashDedup.specs, NgramJaccard.specs, SaRepeats.specs,
    SemDedup.specs, SimHashDedup.specs, SimilarityJoin.specs, SpanDedup.specs,
    GraphSearch.specs, HybridSearch.specs, IvfAnn.specs, IvfPqAnn.specs, Knn.specs,
    LshAnn.specs, NnDescent.specs, PqAnn.specs, ScalarQuant.specs,
    CleaningOps.specs, ClusterBalance.specs, DocClusters.specs, FimTransform.specs,
    HtmlExtract.specs, ImportanceResample.specs, IngestFunnel.specs, MixtureDivergence.specs,
    MixturePlanner.specs, TokenShards.specs, TrainingOps.specs, UrlDedup.specs,
    CrossVal.specs, FeatureScale.specs, MlQueries.specs, ModelOracles.specs,
    SparseIcfQuery.specs, SparseMlQueries.specs,
    AudioOps.specs, CrossModal.specs, GifCodec.specs, JpegCodec.specs, MultimodalOps.specs,
    PHashDedup.specs, PngCodec.specs, SceneCuts.specs, VideoOps.specs,
    AvroRoundtrip.specs, SourceRoundtrips.specs,
  ).flatten

  /** Each spec's query by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(s => s.name -> s.run).toMap
}
