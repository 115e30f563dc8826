package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.Relational
import graft.text.TextAnalysis
import graft.dedup.{ExactDedup, MinHashDedup, SimHashDedup, NgramJaccard, EmbeddingDedup}
import graft.sim.{Knn, LshAnn}
import graft.ml.MlQueries
import graft.multimodal.MultimodalOps
import graft.streaming.Sessionization

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary"   -> (Relational.q1PricingSummary _),
    "q2_topk_orders"       -> (Relational.q2TopkOrders _),
    "q3_shipping_priority" -> (Relational.q3ShippingPriority _),
    "q4_order_priority"    -> (Relational.q4OrderPriority _),
    "q5_local_supplier"    -> (Relational.q5LocalSupplier _),
    "q6_forecast_revenue"  -> (Relational.q6ForecastRevenue _),
    "q7_running_sum"       -> (Relational.q7RunningSum _),
    "q8_rank_parts"        -> (Relational.q8RankParts _),
    "q9_rollup"            -> (Relational.q9Rollup _),
    "q10_distinct_counts"  -> (Relational.q10DistinctCounts _),
    "q11_anti_join"        -> (Relational.q11AntiJoin _),
    "q12_semi_join"        -> (Relational.q12SemiJoin _),
    "q13_order_histogram"  -> (Relational.q13OrderHistogram _),
    "q14_promo_share"      -> (Relational.q14PromoShare _),
    "q15_union_accounts"   -> (Relational.q15UnionAccounts _),
    "q16_having"           -> (Relational.q16Having _),
    "q17_small_quantity"   -> (Relational.q17SmallQuantity _),
    "q18_large_orders"     -> (Relational.q18LargeOrders _),
    "q19_hourly_events"    -> (Relational.q19HourlyEvents _),
    "q20_user_lag"         -> (Relational.q20UserLag _),
    "q21_approx_distinct"  -> (Relational.q21ApproxDistinct _),
    "q21b_exact_distinct"  -> (Relational.q21bExactDistinct _),
    "q21c_kmv_distinct"    -> (graft.operators.KmvSketch.query _),
    "q29c_sample_quantiles" -> (graft.operators.SampleQuantiles.query _),
    "q29_approx_percentiles" -> (Relational.q29ApproxPercentiles _),
    "q30_json_props"       -> (Relational.q30JsonProps _),
    "q31_full_outer"       -> (Relational.q31FullOuter _),
    "q32_funnel"           -> (graft.queries.Analytics.q32Funnel _),
    "q33_retention"        -> (graft.queries.Analytics.q33Retention _),
    "q34_sliding_windows"  -> (graft.queries.Analytics.q34SlidingWindows _),
    "q35_histogram"        -> (graft.queries.Analytics.q35Histogram _),
    "q36_corr_stats"       -> (graft.queries.Analytics.q36CorrStats _),
    "q37_gap_fill"         -> (graft.queries.Analytics.q37GapFill _),
    "q39_heavy_hitters"    -> ((s, d) => graft.operators.HeavyHitters.query(s, d)),
    "q39b_exact_hitters"   -> ((s, d) => graft.operators.HeavyHitters.exactQuery(s, d)),
    "q38_window_dist"      -> (graft.queries.Analytics.q38WindowDistribution _),
    "p21_pii_redaction"    -> (graft.pipeline.CleaningOps.piiRedactionQuery _),
    "p22_repetition"       -> ((s, d) => graft.pipeline.CleaningOps.repetitionQuery(s, d)),
    "p23_boilerplate"      -> ((s, d) => graft.pipeline.CleaningOps.boilerplateQuery(s, d)),
    "p24_stratified_sample" -> ((s, d) => graft.pipeline.CleaningOps.stratifiedSampleQuery(s, d)),
    "u8_partition_prune"   -> (graft.operators.ScaleOps.u8PartitionPruneQuery _),
    "u9_runtime_filter"    -> (graft.operators.ScaleOps.u9RuntimeFilterQuery _),
    "u10_ivf_layout"       -> (graft.operators.ScaleOps.u10IvfLayoutQuery _),
    "u11_time_travel"      -> (graft.operators.VersionedTable.query _),
    "p27_weighted_sample"  -> ((s, d) => graft.operators.WeightedSample.query(s, d)),
    "p28_doc_clusters"     -> (graft.pipeline.DocClusters.query _),
    "p68_cluster_balance"  -> (graft.pipeline.ClusterBalance.query _),
    "p29_lm_quality"       -> (graft.text.LmQuality.query _),
    "p57_kn_trigram"       -> (graft.text.KnTrigramLm.query _),
    "p59_unigram_lm"       -> (graft.text.UnigramLm.query _),
    "p59b_unigram_prune"   -> (graft.text.UnigramPrune.query _),
    "p39d_byte_bpe"        -> (graft.text.ByteBpe.query _),
    "p64_blocklist_scrub"  -> (graft.text.BlocklistScrub.query _),
    "p62_fim_transform"    -> (graft.pipeline.FimTransform.query _),
    "p63_kl_mixture"       -> (graft.pipeline.MixtureDivergence.query _),
    "p32_sequences"        -> ((s, d) => graft.pipeline.TrainingOps.sequenceQuery(s, d)),
    "p56_train_order"      -> ((s, d) => graft.pipeline.TrainingOps.trainOrderQuery(s, d)),
    "p33_dup_spans"        -> ((s, d) => graft.dedup.SpanDedup.duplicatedSpansQuery(s, d)),
    "p33b_dup_spans_bytes" -> ((s, d) => graft.dedup.SpanDedup.byteSpansQuery(s, d)),
    "p33c_sa_repeats"      -> (graft.dedup.SaRepeats.query _),
    "p34_quality_clf"      -> (graft.text.QualityClassifier.query _),
    "p54_lang_clf"         -> (graft.text.LangClassifier.query _),
    "p35_incr_dedup"       -> (graft.dedup.IncrementalDedup.query _),
    "p37_semdedup"         -> (graft.dedup.SemDedup.query _),
    "p36_bm25_search"      -> (graft.text.Bm25.query _),
    "p39_bpe_vocab"        -> (graft.text.BpeVocab.query _),
    "p39b_bpe_encode"      -> (graft.text.BpeVocab.encodeQuery _),
    "p39c_bpe_decode"      -> (graft.text.BpeVocab.decodeQuery _),
    "p50_token_shards"     -> (graft.pipeline.TokenShards.query _),
    "p51_ingest_funnel"    -> (graft.pipeline.IngestFunnel.query _),
    "p52_mixture_plan"     -> (graft.pipeline.MixturePlanner.query _),
    "p53_decon_split"      -> ((s, d) => graft.pipeline.TrainingOps.decontaminatedSplitQuery(s, d)),
    "p40_dsir_resample"    -> (graft.pipeline.ImportanceResample.query _),
    "p41_gopher_rules"     -> (graft.text.GopherRules.query _),
    "p42_text_normalize"   -> (graft.text.TextNormalize.query _),
    "p43_html_extract"     -> (graft.pipeline.HtmlExtract.query _),
    "p44_url_dedup"        -> (graft.pipeline.UrlDedup.query _),
    "p45_embedding_quant"  -> (graft.sim.ScalarQuant.query _),
    "p46_ppx_buckets"      -> (graft.text.CcnetSelect.query _),
    "p47_line_dedup"       -> (graft.dedup.LineDedup.query _),
    "p48_hybrid_search"    -> (graft.sim.HybridSearch.query _),
    "q43_pagerank"         -> (graft.operators.PageRank.query _),
    "q45_countmin"         -> (graft.operators.CountMin.query _),
    "q46_triangles"        -> (graft.operators.Triangles.query _),
    "q44_reachability"     -> (graft.operators.Reachability.query _),
    "q51_sssp"             -> (graft.operators.Sssp.query _),
    "q52_ppr"              -> (graft.operators.Ppr.query _),
    "s8_stream_incr_dedup" -> (graft.streaming.EventStreams.s8StreamIncrDedup _),
    "s9_stream_score"      -> (graft.streaming.EventStreams.s9StreamQualityScore _),
    "s11_stream_trending"  -> (graft.streaming.EventStreams.s11StreamTrending _),
    "s12_stream_ann_upsert" -> (graft.streaming.EventStreams.s12StreamAnnUpsert _),
    "s13_stream_change_feed" -> (graft.streaming.ChangeFeedStream.s13StreamChangeFeed _),
    "s14_stream_kmv"       -> (graft.streaming.EventStreams.s14StreamKmv _),
    "s15_stream_metrics"   -> (graft.streaming.StreamMetrics.s15StreamMetrics _),
    "s7_stream_ann_serve"  -> (graft.streaming.EventStreams.s7StreamAnnServe _),
    "m11_platt_probs"      -> (graft.ml.ModelOracles.m11PlattProbs _),
    "m12_cv_grid"          -> ((s, d) => graft.ml.CrossVal.cvGridQuery(s, d)),
    "m12b_cv_folds"        -> ((s, d) => graft.ml.CrossVal.cvFoldsQuery(s, d)),
    "m12c_cv_replay"       -> ((s, d) => graft.ml.CrossVal.cvReplayQuery(s, d)),
    "m13_feature_scale"    -> (graft.ml.FeatureScale.m13FeatureScale _),
    "m14_sparse_kernels"   -> (graft.ml.SparseMlQueries.m14SparseKernels _),
    "m15_sparse_svm_eval"  -> (graft.ml.SparseMlQueries.m15SparseSvmEval _),
    "m16_sparse_icf"       -> (graft.ml.SparseIcfQuery.query _),
    "s6_stream_sliding"    -> (graft.streaming.EventStreams.s6StreamSliding _),
    "p8_lang_id"           -> (TextAnalysis.langId _),
    "p9_quality"           -> (TextAnalysis.quality _),
    "p10_token_counts"     -> (TextAnalysis.tokenCounts _),
    "p11_fingerprint"      -> (TextAnalysis.fingerprint _),
    "p15_tfidf_topterms"   -> (graft.text.TfIdf.query _),
    "p1_dedup_exact"       -> (ExactDedup.query _),
    "p1b_dedup_summary"    -> (ExactDedup.summaryQuery _),
    "p2_minhash_pairs"     -> (MinHashDedup.query _),
    "p2b_lsh_tuning"       -> (graft.dedup.LshTuning.query _),
    "p3_simhash_pairs"     -> (SimHashDedup.query _),
    "p4_ngram_jaccard"     -> (NgramJaccard.query _),
    "p5_embedding_dedup"   -> (EmbeddingDedup.query _),
    "p5b_embedding_dedup_lsh" -> (EmbeddingDedup.queryLsh _),
    "p14_dedup_clusters"   -> (graft.dedup.DedupClusters.query _),
    "p25_keep_best"        -> (graft.dedup.DedupClusters.keepBestQuery _),
    "p26_sim_join"         -> (graft.dedup.SimilarityJoin.query _),
    "p6_knn_bruteforce"    -> (Knn.query _),
    "p7_ann_lsh"           -> (LshAnn.query _),
    "p7b_ann_ivf"          -> (graft.sim.IvfAnn.query _),
    "p7c_ann_pq"           -> (graft.sim.PqAnn.query _),
    "p7d_ann_ivfpq"        -> (graft.sim.IvfPqAnn.query _),
    "p67_nn_descent"       -> (graft.sim.NnDescent.query _),
    "p67b_graph_search"    -> (graft.sim.GraphSearch.query _),
    "p16_split"            -> ((s, d) => graft.pipeline.TrainingOps.splitQuery(s, d)),
    "p17_pack"             -> ((s, d) => graft.pipeline.TrainingOps.packQuery(s, d)),
    "p18_contamination"    -> ((s, d) => graft.pipeline.TrainingOps.contaminationQuery(s, d)),
    "p19_chunks"           -> ((s, d) => graft.pipeline.TrainingOps.chunkQuery(s, d)),
    "p20_mixture"          -> (graft.pipeline.TrainingOps.mixtureQuery _),
    "src1_csv_roundtrip"   -> (graft.sources.SourceRoundtrips.csvRoundtrip _),
    "src2_json_roundtrip"  -> (graft.sources.SourceRoundtrips.jsonRoundtrip _),
    "src3_orc_roundtrip"   -> (graft.sources.SourceRoundtrips.orcRoundtrip _),
    "src4_text_roundtrip"  -> (graft.sources.SourceRoundtrips.textRoundtrip _),
    "src5_xml_roundtrip"   -> (graft.sources.SourceRoundtrips.xmlRoundtrip _),
    "src6_avro_roundtrip"  -> (graft.sources.AvroRoundtrip.query _),
    "q49_variant"          -> (Relational.q49Variant _),
    "q50_rolling_active"   -> (Relational.q50RollingActive _),
    "u6_upsert"            -> (graft.operators.ScaleOps.u6UpsertQuery _),
    "u7_zorder_layout"     -> (graft.operators.ScaleOps.u7ZorderQuery _),
    "u12_stats_skipping"   -> (graft.operators.StatsSkipping.u12StatsSkippingQuery _),
    "u13_bloom_index"      -> (graft.operators.BloomIndex.u13BloomIndexQuery _),
    "u14_schema_evolution" -> (graft.operators.SchemaEvolution.u14SchemaEvolutionQuery _),
    "u15_observed_metrics" -> (graft.operators.ObservedMetrics.u15ObservedMetricsQuery _),
    "u16_write_audit_publish" -> (graft.operators.WriteAuditPublish.u16WapQuery _),
    "u17_dynamic_overwrite" -> (graft.operators.DynamicPartitionOverwrite.u17DynamicOverwriteQuery _),
    "u18_ann_upsert"        -> (graft.operators.AnnUpsert.u18AnnUpsertQuery _),
    "u19_cdc_tombstones"    -> (graft.operators.CdcTombstones.u19CdcTombstonesQuery _),
    "u20_change_feed"       -> (graft.operators.ChangeFeed.u20ChangeFeedQuery _),
    "u21_occ_commit"        -> (graft.operators.OptimisticCommit.u21OccQuery _),
    "u22_snapshot_expiry"   -> (graft.operators.SnapshotExpiry.u22ExpiryQuery _),
    "s4_stream_join"       -> (graft.streaming.EventStreams.s4StreamJoin _),
    "s10_stream_outer_join" -> (graft.streaming.EventStreams.s10StreamOuterJoin _),
    "s5_stream_upsert"     -> (graft.streaming.EventStreams.s5StreamUpsert _),
    "m1_svm_binary_eval"   -> (MlQueries.svmBinaryEval _),
    "m2_kernel_values"     -> (MlQueries.kernelValues _),
    "m3_svm_multiclass_eval" -> (MlQueries.svmMulticlassEval _),
    "m4_icf_factor"        -> (graft.ml.ModelOracles.m4IcfFactor _),
    "m4b_icf_residuals"    -> (graft.ml.ModelOracles.m4bIcfResiduals _),
    "m4c_icf_autorank"     -> (graft.ml.ModelOracles.m4cIcfAutoRank _),
    "m8_model_score"       -> (graft.ml.ModelOracles.m8ModelScore _),
    "m9_model_eval"        -> (graft.ml.ModelOracles.m9ModelEval _),
    "m10_nystrom_score"    -> (graft.ml.ModelOracles.m10NystromScore _),
    "m5_svm_ipm_eval"      -> (MlQueries.svmIpmEval _),
    "m6_svm_icf_ipm_eval"  -> (MlQueries.svmIcfIpmEval _),
    "m7_libsvm_roundtrip"  -> (MlQueries.libsvmRoundtrip _),
    "q27_decimal_money"    -> (Relational.q27DecimalMoney _),
    "q28_percentiles"      -> (Relational.q28Percentiles _),
    "q23_cube"             -> (Relational.q23Cube _),
    "q47_grouping_sets"    -> (Relational.q47GroupingSets _),
    "q48_range_window"     -> (Relational.q48RangeWindow _),
    "q24_pivot"            -> (Relational.q24Pivot _),
    "q25_setops"           -> (Relational.q25SetOps _),
    "q26_asof_join"        -> (Relational.q26AsofJoin _),
    "q40_range_join"       -> (graft.operators.RangeJoin.query _),
    "q41_overlap_join"     -> (graft.operators.RangeJoin.overlapQuery _),
    "q42_asof_tolerance"   -> (graft.operators.AsOfJoin.toleranceQuery _),
    "p13_curation_pipeline" -> (graft.queries.CurationPipeline.query _),
    "mm1_media_features"   -> (MultimodalOps.mediaFeatures _),
    "mm2_frame_sample"     -> (MultimodalOps.frameSample _),
    "mm3_phash_dedup"      -> (graft.multimodal.PHashDedup.query _),
    "mm4_audio_features"   -> (graft.multimodal.AudioOps.audioFeatures _),
    "mm5_video_frames"     -> (graft.multimodal.VideoOps.videoFrameFeatures _),
    "mm6_image_resize"     -> (graft.multimodal.MultimodalOps.resize _),
    "mm7_crossmodal_filter" -> (graft.multimodal.CrossModal.query _),
    "mm8_scene_cuts"       -> (graft.multimodal.SceneCuts.query _),
    "mm9_png_decode"       -> (graft.multimodal.PngCodec.query _),
    "mm10_jpeg_decode"     -> (graft.multimodal.JpegCodec.query _),
    "mm11_gif_decode"      -> (graft.multimodal.GifCodec.query _),
    "q22_sessions"         -> (Sessionization.sessionsBatch _),
    "u1_bucketed_join"     -> (graft.operators.ScaleOps.u1BucketedJoinQuery _),
    "u2_salted_join"       -> (graft.operators.ScaleOps.u2SaltedJoinQuery _),
    "u3_range_layout"      -> (graft.operators.ScaleOps.u3RangeLayoutQuery _),
    "u5_compaction"        -> (graft.operators.ScaleOps.u5CompactionQuery _),
    "s1_stream_hourly"     -> (graft.streaming.EventStreams.s1StreamHourly _),
    "s2_stream_sessions"   -> (graft.streaming.EventStreams.s2StreamSessions _),
    "s3_stream_dedup"      -> (graft.streaming.EventStreams.s3StreamDedup _),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
         round(avg(l_discount), 6) AS avg_disc,
         count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q2_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
         FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC
         LIMIT 10""",
    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
         FROM customer, orders, lineitem
         WHERE c_mktsegment = 'BUILDING'
           AND c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND o_orderdate < TIMESTAMP '1998-06-01'
           AND l_shipdate  > TIMESTAMP '1998-06-01'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, l_orderkey ASC
         LIMIT 10""",
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS n_orders
         FROM orders
         WHERE EXISTS (
           SELECT 1 FROM lineitem
           WHERE l_orderkey = o_orderkey
             AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",
    "q5_local_supplier" ->
      """SELECT n_name,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
         FROM customer, orders, lineitem, supplier, nation, region
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate <  TIMESTAMP '1998-01-01'
         GROUP BY n_name
         ORDER BY revenue DESC, n_name""",
    "q6_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01'
           AND l_shipdate <  TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.03 AND 0.07
           AND l_quantity < 24""",
    "q7_running_sum" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
         round(sum(o_totalprice) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
         FROM orders
         WHERE o_custkey < 100
         ORDER BY o_custkey, o_orderdate, o_orderkey""",
    "q8_rank_parts" ->
      """SELECT p_brand, p_partkey, p_retailprice, rk FROM (
           SELECT p_brand, p_partkey, p_retailprice,
           row_number() OVER (PARTITION BY p_brand
             ORDER BY p_retailprice DESC, p_partkey) AS rk
           FROM part) t
         WHERE rk <= 3
         ORDER BY p_brand, rk""",
    "q9_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                coalesce(l_linestatus, 'ALL') AS linestatus,
         round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows
         FROM lineitem
         GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY returnflag, linestatus""",
    "q10_distinct_counts" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts,
                count(DISTINCT l_suppkey) AS n_supps,
                count(DISTINCT l_orderkey) AS n_orders,
                count(*) AS n_rows
         FROM lineitem""",
    "q11_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (
           SELECT 1 FROM orders
           WHERE o_custkey = c_custkey
             AND o_orderdate < TIMESTAMP '1996-01-01')
         ORDER BY c_custkey""",
    "q12_semi_join" ->
      """SELECT p_partkey, p_name FROM part
         WHERE EXISTS (
           SELECT 1 FROM lineitem
           WHERE l_partkey = p_partkey AND l_quantity >= 48)
         ORDER BY p_partkey""",
    "q13_order_histogram" ->
      """SELECT c_count, count(*) AS n_custs FROM (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT OUTER JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority = '1-URGENT'
           GROUP BY c_custkey) t
         GROUP BY c_count
         ORDER BY n_custs DESC, c_count DESC""",
    "q14_promo_share" ->
      """SELECT round(
           sum(CASE WHEN p_type = 'PROMO'
               THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END) * 100.0
           / sum(l_extendedprice * (1.0 - l_discount)), 6) AS promo_share
         FROM lineitem, part
         WHERE l_partkey = p_partkey
           AND l_shipdate >= TIMESTAMP '1996-04-01'
           AND l_shipdate <  TIMESTAMP '1996-07-01'""",
    "q15_union_accounts" ->
      """SELECT src, count(*) AS n_accounts, round(sum(bal), 2) AS sum_bal
         FROM (SELECT 'customer' AS src, c_acctbal AS bal FROM customer
               UNION ALL
               SELECT 'supplier' AS src, s_acctbal AS bal FROM supplier) t
         GROUP BY src
         ORDER BY src""",
    "q16_having" ->
      """SELECT o_custkey, count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS total_spend
         FROM orders
         GROUP BY o_custkey
         HAVING count(*) >= 15
         ORDER BY n_orders DESC, o_custkey""",
    "q17_small_quantity" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
         FROM lineitem,
              (SELECT l_partkey AS ap_partkey, avg(l_quantity) AS avg_qty
               FROM lineitem GROUP BY l_partkey) a
         WHERE l_partkey = ap_partkey AND l_quantity < avg_qty * 0.2""",
    "q18_large_orders" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
         FROM orders, customer,
              (SELECT l_orderkey AS bo_orderkey, round(sum(l_quantity), 2) AS sum_qty
               FROM lineitem GROUP BY l_orderkey) b
         WHERE o_orderkey = bo_orderkey AND sum_qty > 300 AND o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey
         LIMIT 100""",
    "q19_hourly_events" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
         count(*) AS n_events,
         round(sum(value), 2) AS sum_value
         FROM events
         GROUP BY 1, 2
         ORDER BY 1, 2""",
    "q20_user_lag" ->
      """SELECT user_id, event_id, ts, value,
         round(coalesce(lag(value) OVER w, 0.0), 2) AS prev_value,
         round(value - coalesce(lag(value) OVER w, 0.0), 2) AS delta
         FROM events
         WHERE user_id < 50
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY user_id, ts, event_id""",
    // q21_approx_distinct: no oracle — DuckDB's HLL differs from Spark's
    // HLL++; the driver records a rows-only check. Its exact twin:
    "q21b_exact_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS exact_parts,
                count(DISTINCT l_suppkey) AS exact_supps
         FROM lineitem""",
    "p8_lang_id" ->
      """SELECT doc_id, lang, score_en, score_fr, score_es, score_de, score_zh,
         CASE WHEN score_en > 0 AND score_en >= score_fr AND score_en >= score_es AND score_en >= score_de AND score_en >= score_zh THEN 'en'
              WHEN score_fr > 0 AND score_fr >= score_es AND score_fr >= score_de AND score_fr >= score_zh THEN 'fr'
              WHEN score_es > 0 AND score_es >= score_de AND score_es >= score_zh THEN 'es'
              WHEN score_de > 0 AND score_de >= score_zh THEN 'de'
              WHEN score_zh > 0 THEN 'zh' ELSE 'und' END AS lang_pred
         FROM (SELECT doc_id, lang,
          len(list_filter(regexp_split_to_array(text, '\s+'), x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x))) AS score_en,
          len(list_filter(regexp_split_to_array(text, '\s+'), x -> list_contains(['le','la','les','de','et','un','une','dans','est','pour'], x))) AS score_fr,
          len(list_filter(regexp_split_to_array(text, '\s+'), x -> list_contains(['el','los','las','y','que','una','en','es','para','por'], x))) AS score_es,
          len(list_filter(regexp_split_to_array(text, '\s+'), x -> list_contains(['der','die','das','und','ein','eine','ist','nicht','mit','zu'], x))) AS score_de,
          len(list_filter(regexp_split_to_array(text, '\s+'), x -> list_contains(['的','是','在','了','我','有','和','就','不','人'], x))) AS score_zh
          FROM documents) t
         ORDER BY doc_id""",
    "p9_quality" ->
      """SELECT doc_id, length(text) AS n_chars_calc, len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct,
         round(list_sum(list_transform(toks, x -> length(x))) / len(toks), 6) AS avg_token_len,
         round(len(list_distinct(toks)) / len(toks), 6) AS distinct_ratio,
         round(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x))) / len(toks), 6) AS stopword_ratio,
         round(0.4 * (len(list_distinct(toks)) / len(toks)) +
               0.3 * (1.0 - len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x))) / len(toks)) +
               0.3 * least(1.0, len(toks) / 100.0), 6) AS quality_score
         FROM (SELECT doc_id, text, regexp_split_to_array(text, '\s+') AS toks FROM documents) t
         ORDER BY doc_id""",
    "p10_token_counts" ->
      """SELECT doc_id, len(regexp_split_to_array(text, '\s+')) AS ws_tokens,
         len(regexp_extract_all(text, '\w+|[^\w\s]')) AS bpe_tokens
         FROM documents ORDER BY doc_id""",
    "p11_fingerprint" ->
      """SELECT doc_id, md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(text, '\s+'))), ' ')) AS fp
         FROM documents ORDER BY doc_id""",
    "p15_tfidf_topterms" -> graft.text.TfIdf.oracleSql,
    "p1_dedup_exact" ->
      """SELECT md5(text) AS content_hash, count(*) AS n_copies, min(doc_id) AS keep_id
         FROM documents
         GROUP BY md5(text) HAVING count(*) > 1
         ORDER BY keep_id""",
    "p1b_dedup_summary" ->
      """SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_distinct,
                count(*) - count(DISTINCT md5(text)) AS n_dup_docs
         FROM documents""",
    // p2/p3/p4: LSH queries checked against exact brute-force oracles —
    // banding recall is 1.0 (pigeonhole-exact for p3, validated for
    // p2/p4) and verification makes precision exact, so the approximate
    // algorithm's output equals the exact answer on this corpus.
    // p7 (ANN/LSH): rows-only; the spec measures recall vs brute force.
    // p7b/p7c replay their whole index pipelines from persisted
    // centroids/codebooks — hash-gated like p28.
    "p7b_ann_ivf" -> graft.sim.IvfAnn.oracleSql,
    "p7c_ann_pq" -> graft.sim.PqAnn.oracleSql,
    "p7d_ann_ivfpq" -> graft.sim.IvfPqAnn.oracleSql,
    "p7_ann_lsh" -> graft.sim.LshAnn.oracleSql,
    // p5b: the LSH-blocked pair list replayed from persisted planes
    // (recall gates stay in-query; the pairs are the deterministic part).
    "p5b_embedding_dedup_lsh" -> graft.dedup.EmbeddingDedup.lshOracleSql,
    // q21c: a DETERMINISTIC distinct sketch (KMV/theta) whose estimate
    // itself is hash-gated — the auditable twin of q21's HLL++.
    "q21c_kmv_distinct" -> graft.operators.KmvSketch.oracleSql,
    // s14: the stream-maintained KMV sketch equals the batch sketch
    // exactly (merge exactness), so q21c's arithmetic gates it too.
    "s14_stream_kmv" -> graft.streaming.EventStreams.s14OracleSql,
    // s15: the engine's numRowsDroppedByWatermark counter rides in the
    // output and the oracle recomputes the planted late cohort — a
    // lying counter hash-mismatches (u15's telemetry ≡ reality).
    "s15_stream_metrics" -> graft.streaming.StreamMetrics.oracleSql,
    // q29c: bottom-k-by-hash sample quantiles — the deterministic,
    // mergeable, hash-gated companion to q29's t-digest-class sketch.
    "q29c_sample_quantiles" -> graft.operators.SampleQuantiles.oracleSql,
    // q39b: exact heavy hitters over q39's guarantee threshold — the
    // hash-gated twin that closes the self-val set (q21→q21c, q29→q29c,
    // q39→q39b; only the engine-private sketch states stay rows-only).
    "q39b_exact_hitters" -> graft.operators.HeavyHitters.exactOracleSql(),
    // p67: the NN-descent trajectory needs no persisted state at all —
    // md5 init + two unrolled refine rounds replay from the corpus.
    "p67_nn_descent" -> graft.sim.NnDescent.oracleSql,
    // p67b: greedy best-first serving over the PERSISTED p67 graph —
    // entry seeding, every hop's beam cut, and the final ranking all
    // replay from the edge list on disk (persist-and-replay).
    "p67b_graph_search" -> graft.sim.GraphSearch.oracleSql,
    "p2_minhash_pairs" -> graft.dedup.MinHashDedup.oracleSql,
    // p2b: the banding tuner's integrals + argmin replayed bit-exactly
    "p2b_lsh_tuning" -> graft.dedup.LshTuning.oracleSql,
    "p14_dedup_clusters" -> graft.dedup.DedupClusters.oracleSql,
    "p25_keep_best" -> graft.dedup.DedupClusters.keepBestOracleSql,
    "p26_sim_join" -> graft.dedup.SimilarityJoin.oracleSql,
    "p3_simhash_pairs" -> graft.dedup.SimHashDedup.oracleSql,
    "p4_ngram_jaccard" -> graft.dedup.NgramJaccard.oracleSql,
    "p5_embedding_dedup" ->
      """SELECT id_a, id_b, round(cs, 6) AS cos_sim FROM (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum(list_transform(list_zip(a.embedding, b.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cs
           FROM embeddings a, embeddings b
           WHERE a.vec_id < b.vec_id
             AND a.vec_id < 20000 AND b.vec_id < 20000) t
         WHERE cs >= 0.4
         ORDER BY id_a, id_b""",
    "p6_knn_bruteforce" ->
      """SELECT query_id, neighbor_id, rank, round(cs, 6) AS cos_sim FROM (
           SELECT query_id, neighbor_id, cs,
             row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rank
           FROM (
             SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_sum(list_transform(list_zip(q.embedding, c.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cs
             FROM embeddings q, embeddings c
             WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id) t1) t2
         WHERE rank <= 10
         ORDER BY query_id, rank""",
    // m1/m3 (iterative SVM fits) and m4 (ICF) aren't SQL-expressible →
    // rows-only checks; MlSpec covers them with planted-geometry oracles.
    "q28_percentiles" ->
      """SELECT l_returnflag,
         round(quantile_cont(l_extendedprice, 0.5), 2) AS p50_price,
         round(quantile_cont(l_extendedprice, 0.95), 2) AS p95_price,
         round(quantile_cont(l_quantity, 0.5), 2) AS p50_qty
         FROM lineitem
         GROUP BY l_returnflag
         ORDER BY l_returnflag""",
    "q30_json_props" ->
      """SELECT event_type, count(*) AS n_events,
         CAST(sum(k) AS BIGINT) AS sum_k,
         round(avg(k), 6) AS avg_k,
         min(k) AS min_k, max(k) AS max_k
         FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
               FROM events) t
         GROUP BY event_type
         ORDER BY event_type""",
    "q31_full_outer" ->
      """SELECT COALESCE(c.c_nationkey, s.s_nationkey) AS nationkey,
         COALESCE(c.n_cust, 0) AS n_cust,
         COALESCE(s.n_supp, 0) AS n_supp
         FROM (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust
               FROM customer WHERE c_custkey < 200 GROUP BY c_nationkey) c
         FULL OUTER JOIN
              (SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_supp
               FROM supplier WHERE s_suppkey < 50 GROUP BY s_nationkey) s
           ON c.c_nationkey = s.s_nationkey
         ORDER BY nationkey""",
    "m7_libsvm_roundtrip" ->
      """SELECT CAST(label AS DOUBLE) AS label, count(*) AS n_rows,
         round(sum(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))), 6)
           AS feature_mass
         FROM embeddings
         GROUP BY 1
         ORDER BY 1""",
    "q27_decimal_money" ->
      """SELECT l_returnflag,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) AS sum_price,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(15,2))
                * (CAST(1.00 AS DECIMAL(15,2)) - CAST(l_discount AS DECIMAL(15,2)))
                AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
         count(*) AS n_rows
         FROM lineitem
         GROUP BY l_returnflag
         ORDER BY l_returnflag""",
    "m2_kernel_values" ->
      """SELECT id_a, id_b,
         round(dot, 6) AS k_linear,
         round(power(0.01 * dot + 1.0, 2), 6) AS k_poly,
         round(exp(-0.1 * sqd), 6) AS k_rbf,
         round(exp(-0.1 * l1d), 6) AS k_laplacian
         FROM (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum(list_transform(list_zip(a.embedding, b.embedding),
               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS dot,
             list_sum(list_transform(list_zip(a.embedding, b.embedding),
               x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))) AS sqd,
             list_sum(list_transform(list_zip(a.embedding, b.embedding),
               x -> abs(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))) AS l1d
           FROM embeddings a, embeddings b
           WHERE a.vec_id < 3 AND b.vec_id BETWEEN 3 AND 8) t
         ORDER BY id_a, id_b""",
    // m8/m9: replay f(x) = Σ coef·k(sv,x) − rho from the TEXT model files
    // the Spark query saved (under the model root; Verify writes them before the
    // oracle runs) with predictQuantized's integer picounit sums.
    "m8_model_score" ->
      (svModelReplaySql("m8_icf", heldOutSql) +
        """ SELECT vec_id, round(d, 6) AS decision,
                CASE WHEN d >= 0 THEN 1.0 ELSE -1.0 END AS prediction
         FROM dec ORDER BY vec_id"""),
    "m9_model_eval" -> (svModelReplaySql("m8_icf", heldOutSql) + ",\n         " +
      metricsTailSql("")),
    // m10: replay the Nystrom pipeline φ(x)=Wᵀ[k(x,l₁)…k(x,lₘ)],
    // f(x)=w·φ(x)+b from the saved parquet model, same fold order as the
    // codegen'd NystromFeatures expression.
    "m10_nystrom_score" ->
      """WITH lm AS (
           SELECT array_agg(landmark ORDER BY idx) AS L
           FROM read_parquet('/tmp/graft_models/sf0.01/m10_nystrom/landmarks/*.parquet')),
         pr AS (
           SELECT array_agg(w_row ORDER BY idx) AS W
           FROM read_parquet('/tmp/graft_models/sf0.01/m10_nystrom/projection/*.parquet')),
         pp AS (
           SELECT gamma, weights, intercept
           FROM read_parquet('/tmp/graft_models/sf0.01/m10_nystrom/params/*.parquet')),
         pts AS (
           SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS px
           FROM embeddings WHERE vec_id >= 300 AND vec_id < 400),
         kx AS (
           SELECT vec_id,
             list_transform(lm.L, l -> exp(-pp.gamma *
               list_sum(list_transform(list_zip(l, px), z -> (z[1] - z[2]) * (z[1] - z[2]))))) AS ks
           FROM pts, lm, pp),
         phi AS (
           SELECT kx.vec_id,
             [list_sum([pr.W[i][j] * kx.ks[i] for i in range(1, len(kx.ks) + 1)])
              for j in range(1, len(pp.weights) + 1)] AS f
           FROM kx, pr, pp),
         dec AS (
           SELECT phi.vec_id,
             list_sum([pp.weights[j] * phi.f[j] for j in range(1, len(pp.weights) + 1)])
               + pp.intercept AS d
           FROM phi, pp)
         SELECT vec_id, round(d, 6) AS decision,
                CASE WHEN d >= 0 THEN 1.0 ELSE -1.0 END AS prediction
         FROM dec ORDER BY vec_id""",
    // m1/m5: the training queries persist their fitted Nyström model
    // under the model root and score with the RELOADED model, so the
    // oracle replays every decision from the saved files (m10 technique)
    // and recomputes the confusion matrix + metrics (m9 technique).
    "m1_svm_binary_eval" -> nystromEvalSql("m1_nystrom"),
    "m5_svm_ipm_eval" -> nystromEvalSql("m5_ipm"),
    // m6: ICF→IPM SV model, text-round-tripped; decisions replayed from
    // the saved SV lines with integer picounit sums, over the
    // deterministic hash-based 1-in-10 eval sample (md5-bucket rule, so
    // id-structured generators at other scales cannot bias the eval set).
    "m6_svm_icf_ipm_eval" -> (svModelReplaySql("m6_icf",
      "CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 = 0") +
      ",\n         " + metricsTailSql(", (tp + fp + tn + fn) AS n_eval" +
        ", (SELECT CAST(count(*) AS BIGINT) FROM sv) AS n_support_vectors")),
    // m3: OVR multiclass — replay φ(x) from the SHARED saved map, every
    // per-class decision from the classifiers table, and the argmax
    // (first maximal class wins, ascending order) per row.
    "m3_svm_multiclass_eval" ->
      """WITH lm AS (
           SELECT array_agg(landmark ORDER BY idx) AS L
           FROM read_parquet('/tmp/graft_models/sf0.01/m3_ovr/landmarks/*.parquet')),
         pr AS (
           SELECT array_agg(w_row ORDER BY idx) AS W
           FROM read_parquet('/tmp/graft_models/sf0.01/m3_ovr/projection/*.parquet')),
         pp AS (
           SELECT gamma FROM read_parquet('/tmp/graft_models/sf0.01/m3_ovr/params/*.parquet')),
         cls AS (
           SELECT class, weights, intercept
           FROM read_parquet('/tmp/graft_models/sf0.01/m3_ovr/classifiers/*.parquet')),
         pts AS (
           SELECT vec_id, label, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS px
           FROM embeddings),
         kx AS (
           SELECT vec_id, label,
             list_transform(lm.L, l -> exp(-pp.gamma *
               list_sum(list_transform(list_zip(l, px), z -> (z[1] - z[2]) * (z[1] - z[2]))))) AS ks
           FROM pts, lm, pp),
         phi AS (
           SELECT kx.vec_id, kx.label,
             [list_sum([pr.W[i][j] * kx.ks[i] for i in range(1, len(kx.ks) + 1)])
              for j in range(1, len(pr.W[1]) + 1)] AS f
           FROM kx, pr),
         dec AS (
           SELECT phi.vec_id, phi.label, cls.class,
             list_sum([cls.weights[j] * phi.f[j] for j in range(1, len(cls.weights) + 1)])
               + cls.intercept AS d
           FROM phi, cls),
         pred AS (
           SELECT vec_id, label,
             (array_agg(class ORDER BY class))[
               list_position(array_agg(d ORDER BY class),
                             list_max(array_agg(d ORDER BY class)))] AS pc
           FROM dec GROUP BY vec_id, label)
         SELECT label, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN pc = CAST(label AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           round(CAST(sum(CASE WHEN pc = CAST(label AS DOUBLE) THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS class_accuracy
         FROM pred GROUP BY label ORDER BY label""",
    // m4/m4b: the exact kernel is recomputed from the raw embeddings
    // (non-circular); ⟨h_i,h_j⟩ comes from the persisted ICF factor both
    // engines read, so a green row proves the factorization actually
    // reconstructs K and the kernel math matches.
    "m4_icf_factor" ->
      """WITH h AS (
           SELECT id, icf_features
           FROM read_parquet('/tmp/graft_models/sf0.01/m4_icf_h/*.parquet')),
         e AS (
           SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
           FROM embeddings WHERE vec_id < 20),
         g AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             exp(-0.05 * list_sum(list_transform(list_zip(a.x, b.x),
               z -> (z[1] - z[2]) * (z[1] - z[2])))) AS ke,
             list_sum(list_transform(list_zip(ha.icf_features, hb.icf_features),
               z -> z[1] * z[2])) AS ki
           FROM e a, e b, h ha, h hb
           WHERE a.vec_id <= b.vec_id AND ha.id = a.vec_id AND hb.id = b.vec_id)
         SELECT id_a, id_b, round(ke, 6) AS k_exact, round(ki, 6) AS k_icf,
                round(abs(ke - ki), 6) AS abs_err
         FROM g ORDER BY id_a, id_b""",
    "m4c_icf_autorank" ->
      """WITH h AS (
           SELECT id, icf_features
           FROM read_parquet('/tmp/graft_models/sf0.01/m4c_icf_auto/*.parquet')),
         r AS (
           SELECT id, CAST(len(icf_features) AS BIGINT) AS rank,
             1.0 - list_sum(list_transform(list_zip(icf_features, icf_features),
               z -> z[1] * z[2])) AS res
           FROM h)
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                max(rank) AS chosen_rank,
                round(max(res), 6) AS max_diag_residual,
                round(list_sum(array_agg(res ORDER BY id)), 6) AS trace_residual
         FROM r""",
    "m4b_icf_residuals" ->
      """WITH h AS (
           SELECT id, icf_features
           FROM read_parquet('/tmp/graft_models/sf0.01/m4_icf_h/*.parquet')),
         r AS (
           SELECT id,
             1.0 - list_sum(list_transform(list_zip(icf_features, icf_features),
               z -> z[1] * z[2])) AS res
           FROM h)
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                round(max(res), 6) AS max_diag_residual,
                round(list_sum(array_agg(res ORDER BY id)), 6) AS trace_residual
         FROM r""",
    // mm1/mm2: the Spark side encodes a REAL 8×4 24bpp BMP per document
    // and decodes it with javax.imageio; the oracle recomputes the pixel
    // BYTES the encoder generated (chained md5) and the same feature
    // math — a broken header, raster order, or codec call mismatches.
    "mm1_media_features" ->
      """WITH m AS (
           SELECT doc_id AS media_id,
             (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
             CAST(length(text) * 10 AS BIGINT) AS duration_ms,
             md5(text) || md5(text || '1') || md5(text || '2') ||
               md5(text || '3') || md5(text || '4') || md5(text || '5') AS hx
           FROM documents),
         v AS (
           SELECT media_id, kind, duration_ms,
             list_transform(range(1, 97), i ->
               ((instr('0123456789abcdef', substring(hx, CAST(2*i-1 AS INT), 1)) * 16
                 + instr('0123456789abcdef', substring(hx, CAST(2*i AS INT), 1))) - 17)
               / 255.0) AS px
           FROM m),
         s AS (
           SELECT media_id, kind, duration_ms,
             list_sum(px) / 96.0 AS mean_px,
             list_sum(list_transform(px, v -> v * v)) / 96.0 AS sq_px,
             list_min(px) AS mn, list_max(px) AS mx
           FROM v)
         SELECT media_id, kind, duration_ms,
           round(mean_px, 6) AS mean_px,
           round(sqrt(greatest(sq_px - mean_px * mean_px, 0.0)), 6) AS std_px,
           round(mn, 6) AS min_px, round(mx, 6) AS max_px
         FROM s ORDER BY media_id""",
    "mm2_frame_sample" ->
      """SELECT media_id, frame_idx,
         round(list_sum(list_transform(range(1, 25),
           i -> ((instr('0123456789abcdef', substring(frame, CAST(2*i-1 AS INT), 1)) * 16
                  + instr('0123456789abcdef', substring(frame, CAST(2*i AS INT), 1))) - 17)
                / 255.0)) / 24.0, 6)
           AS frame_mean
         FROM (
           SELECT doc_id AS media_id, f AS frame_idx,
             substring(md5(text) || md5(text || '1') || md5(text || '2') ||
                       md5(text || '3') || md5(text || '4') || md5(text || '5'),
                       CAST(f * 48 + 1 AS INT), 48) AS frame
           FROM documents, range(0, 4) r(f)
           WHERE doc_id % 3 = 2) t
         ORDER BY media_id, frame_idx""",
    "q23_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                coalesce(l_linestatus, 'ALL') AS linestatus,
         round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n_rows
         FROM lineitem
         GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY returnflag, linestatus""",
    "q47_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                coalesce(l_linestatus, 'ALL') AS linestatus,
         CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
         round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n_rows
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
         ORDER BY gid, returnflag, linestatus""",
    "q48_range_window" ->
      """SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(count(*) OVER w AS BIGINT) AS n_orders_90d,
           CAST(sum(cents) OVER w AS BIGINT) AS spend_90d_cents
         FROM (SELECT o_orderkey, o_custkey, o_orderdate,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders) t
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                      RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW)
         ORDER BY o_orderkey""",
    "q24_pivot" ->
      """SELECT user_id,
         round(sum(CASE WHEN event_type = 'click' THEN value END), 2) AS click,
         round(sum(CASE WHEN event_type = 'view' THEN value END), 2) AS view,
         round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
         round(sum(CASE WHEN event_type = 'signup' THEN value END), 2) AS signup,
         round(sum(CASE WHEN event_type = 'error' THEN value END), 2) AS error
         FROM events
         WHERE user_id < 30
         GROUP BY user_id
         ORDER BY user_id""",
    "q25_setops" ->
      """SELECT 'both' AS bucket, o_custkey FROM (
           SELECT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
           INTERSECT
           SELECT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '2000-01-01' AND o_orderdate < TIMESTAMP '2001-01-01') a
         UNION ALL
         SELECT 'only_1995' AS bucket, o_custkey FROM (
           SELECT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
           EXCEPT
           SELECT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '2000-01-01' AND o_orderdate < TIMESTAMP '2001-01-01') b
         ORDER BY bucket, o_custkey""",
    "p13_curation_pipeline" -> graft.queries.CurationPipeline.oracleSql,
    "q26_asof_join" ->
      """SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
           (SELECT max(c.ts) FROM events c
            WHERE c.event_type = 'click' AND c.user_id = p.user_id
              AND c.ts <= p.ts) AS last_click_ts
         FROM events p
         WHERE p.event_type = 'purchase'
           AND EXISTS (SELECT 1 FROM events c
                       WHERE c.event_type = 'click' AND c.user_id = p.user_id
                         AND c.ts <= p.ts)
         ORDER BY user_id, purchase_id""",
    // DuckDB plans this as its IEJoin — an independent interval-join
    // algorithm deriving the same pairs as the Spark side's binned
    // equi-join decomposition (RangeJoin.pointsInIntervals).
    "q40_range_join" ->
      """SELECT e.user_id, e.event_id AS error_id, c.event_id AS click_id,
           epoch_us(c.ts) - epoch_us(e.ts) AS delta_us
         FROM events e JOIN events c
           ON e.user_id = c.user_id
          AND epoch_us(c.ts) >= epoch_us(e.ts)
          AND epoch_us(c.ts) < epoch_us(e.ts) + 21600000000
         WHERE e.event_type = 'error' AND c.event_type = 'click'
         ORDER BY e.user_id, error_id, click_id""",
    "q41_overlap_join" ->
      """SELECT e.user_id, e.event_id AS error_id, p.event_id AS purchase_id,
           least(epoch_us(e.ts), epoch_us(p.ts)) + 21600000000
             - greatest(epoch_us(e.ts), epoch_us(p.ts)) AS overlap_us
         FROM events e JOIN events p
           ON e.user_id = p.user_id
          AND epoch_us(e.ts) < epoch_us(p.ts) + 21600000000
          AND epoch_us(p.ts) < epoch_us(e.ts) + 21600000000
         WHERE e.event_type = 'error' AND p.event_type = 'purchase'
         ORDER BY e.user_id, error_id, purchase_id""",
    // tolerance as-of: latest click in the 6h before each purchase,
    // NULL (row kept) when none — replayed as a bounded correlated max
    "q42_asof_tolerance" ->
      """SELECT p.user_id, p.event_id AS purchase_id,
           epoch_us(p.ts) AS purchase_us,
           (SELECT max(epoch_us(c.ts)) FROM events c
            WHERE c.event_type = 'click' AND c.user_id = p.user_id
              AND epoch_us(c.ts) <= epoch_us(p.ts)
              AND epoch_us(c.ts) >= epoch_us(p.ts) - 21600000000) AS click_us
         FROM events p
         WHERE p.event_type = 'purchase'
         ORDER BY p.user_id, purchase_id""",
    // u1 goes through bucketed catalog tables; the oracle reads raw
    // parquet — equality proves the bucketed write/read path is lossless.
    "u1_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS sum_price
         FROM orders, customer
         WHERE o_custkey = c_custkey
         GROUP BY c_mktsegment
         ORDER BY c_mktsegment""",
    // u2/u3: the oracle runs the un-salted join / the raw table scan —
    // equality proves the scale layouts change plans, not answers.
    "u2_salted_join" ->
      """SELECT s_nationkey, count(*) AS n_items,
         round(sum(l_extendedprice), 2) AS sum_price
         FROM lineitem, supplier
         WHERE l_suppkey = s_suppkey
         GROUP BY s_nationkey
         ORDER BY s_nationkey""",
    "u5_compaction" ->
      """SELECT l_linestatus, count(*) AS n_rows,
         round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem
         GROUP BY l_linestatus
         ORDER BY l_linestatus""",
    "u3_range_layout" ->
      """SELECT event_type, count(*) AS n_events,
         round(sum(value), 2) AS sum_value
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-03'
         GROUP BY event_type
         ORDER BY event_type""",
    // s1/s3 run the actual Structured Streaming engine (AvailableNow →
    // memory sink); the oracles are the batch-equivalent SQL.
    "s1_stream_hourly" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
         count(*) AS n_events, round(sum(value), 2) AS sum_value
         FROM events
         GROUP BY 1, 2
         ORDER BY 1, 2""",
    // s2: the streaming engine emits (a) sessions closed by a later
    // in-batch event and (b) last sessions flushed by the event-time
    // timeout once the final watermark (global max ts − 1h) passes
    // session_end + gap. Both are deterministic and mirrored here.
    "s2_stream_sessions" ->
      """SELECT user_id, session_start, session_end, n_events, sum_value FROM (
           SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
             count(*) AS n_events, round(sum(value), 2) AS sum_value,
             max(session_id) OVER (PARTITION BY user_id) AS last_session
           FROM (
             SELECT user_id, event_id, ts, value,
               CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
             FROM (
               SELECT user_id, event_id, ts, value,
                 CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000
                      THEN 1 ELSE 0 END AS new_s
               FROM events) t1) t2
           GROUP BY user_id, session_id) t3
         WHERE session_id < last_session
            OR epoch_ms(session_end) + 1800000 <
               (SELECT max(epoch_ms(ts)) FROM events) - 3600000
         ORDER BY user_id, session_start""",
    "s3_stream_dedup" ->
      """SELECT count(DISTINCT event_id) AS n_events,
                count(DISTINCT user_id) AS n_users
         FROM events""",
    "q22_sessions" ->
      """SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
         count(*) AS n_events, round(sum(value), 2) AS sum_value
         FROM (
           SELECT user_id, event_id, ts, value,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM (
             SELECT user_id, event_id, ts, value,
               CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000
                    THEN 1 ELSE 0 END AS new_s
             FROM events) t1) t2
         GROUP BY user_id, session_id
         ORDER BY user_id, session_id""",
  ) ++ trainingPipelineOracles ++ analyticsAndCleaningOracles

  /** Oracles for the round-4 behavioral-analytics pack (q32–q36), the
    * corpus-cleaning pack (p21–p24), the partitioned-layout utility
    * (u8), and Platt calibration (m11). */
  private def analyticsAndCleaningOracles: Map[String, String] = Map(
    // q32: ordered funnel — each stage's first-hit must strictly follow
    // the previous stage's. The latency average is computed from exact
    // integer microsecond sums so both engines divide identical doubles.
    "q32_funnel" ->
      """WITH s AS (
           SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'signup' GROUP BY user_id),
         c AS (
           SELECT e.user_id, min(e.ts) AS t2 FROM events e
           JOIN s ON e.user_id = s.user_id
           WHERE e.event_type = 'click' AND e.ts > s.t1 GROUP BY e.user_id),
         p AS (
           SELECT e.user_id, min(e.ts) AS t3 FROM events e
           JOIN c ON e.user_id = c.user_id
           WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
         SELECT CAST(count(*) AS BIGINT) AS n_signup,
           CAST(count(t2) AS BIGINT) AS n_signup_click,
           CAST(count(t3) AS BIGINT) AS n_full_funnel,
           round(CAST(sum(epoch_us(t3) - epoch_us(t1)) AS DOUBLE)
                 / count(t3) / 1000000.0, 4) AS avg_secs_to_purchase
         FROM s LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""",
    // q33: weekly retention cohorts (both engines truncate weeks to
    // Monday; offsets are exact day diffs div 7 between week starts).
    "q33_retention" ->
      """WITH wk AS (
           SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
         fw AS (SELECT user_id, min(wk) AS cohort_week FROM wk GROUP BY user_id)
         SELECT cohort_week,
           CAST(date_diff('day', cohort_week, wk) // 7 AS BIGINT) AS week_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
         FROM wk JOIN fw USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // q34: sliding windows — every event belongs to exactly the 4
    // epoch-aligned 15-min-slide windows that cover it, replayed here by
    // integer arithmetic on microsecond epochs.
    "q34_sliding_windows" ->
      """SELECT make_timestamp(
             ((epoch_us(ts) // 1000000 // 900) * 900 - 900 * g.g) * 1000000)
             AS window_start,
           event_type, CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value
         FROM events, (SELECT unnest(generate_series(0, 3)) AS g) g
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // q35: fixed-width histogram with clamped top bin.
    "q35_histogram" ->
      """SELECT bin, bin * 25000.0 AS bin_lo,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price
         FROM (
           SELECT o_totalprice,
             least(CAST(floor(o_totalprice / 25000.0) AS BIGINT), 19) AS bin
           FROM orders) t
         GROUP BY bin ORDER BY bin""",
    // q36: co-moment statistics; both engines use single-pass partial
    // moments, rounded to 6 so merge-order ulps can't flip a digit.
    "q36_corr_stats" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(stddev_samp(value), 6) AS sd_value,
           round(var_samp(value), 6) AS var_value,
           round(covar_samp(value, CAST(user_id AS DOUBLE)), 6) AS cov_value_uid,
           round(corr(value, CAST(user_id AS DOUBLE)), 6) AS corr_value_uid
         FROM events GROUP BY event_type ORDER BY event_type""",
    // q37: forward fill — last non-masked value per user timeline.
    "q37_gap_fill" ->
      """SELECT user_id, event_id, ts,
           (reading IS NULL) AS was_gap,
           round(last_value(reading IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS filled
         FROM (
           SELECT user_id, event_id, ts,
             CASE WHEN event_type != 'error' THEN value END AS reading
           FROM events WHERE user_id < 20) t
         ORDER BY user_id, ts, event_id""",
    // q38: distribution window functions over a total order (the
    // event_id tiebreak makes ranks deterministic on both engines).
    "q38_window_dist" ->
      """SELECT event_type, event_id, value,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
         FROM events
         WHERE user_id < 10
         WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
         ORDER BY event_type, value, event_id""",
    // p21: replay the planted PII and the redaction chain (patterns are
    // in the shared Java-regex/RE2 subset so both engines match
    // identically); md5 of the redacted text is fully discriminating.
    "p21_pii_redaction" ->
      """WITH raw AS (
           SELECT doc_id,
             substring(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)
             || '@mail.example.com or call +1-555-'
             || lpad(CAST(doc_id * 7919 % 10000 AS VARCHAR), 4, '0')
             || ' at https://site' || CAST(doc_id % 7 AS VARCHAR)
             || '.example.com/p/' || CAST(doc_id AS VARCHAR) || ' end' AS raw
           FROM documents),
         red AS (
           SELECT doc_id, raw,
             regexp_replace(regexp_replace(regexp_replace(raw,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\+1-555-[0-9]{4}', '<PHONE>', 'g'),
               'https?://[A-Za-z0-9./_-]+', '<URL>', 'g') AS redacted
           FROM raw)
         SELECT doc_id,
           CAST(len(regexp_extract_all(raw,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(raw, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(raw, 'https?://[A-Za-z0-9./_-]+')) AS BIGINT) AS n_urls,
           CAST(length(redacted) AS BIGINT) AS redacted_len,
           md5(redacted) AS redacted_md5
         FROM red ORDER BY doc_id""",
    // p22: Gopher-style repetition metrics (docs with <2 words excluded
    // on both sides — the n−1 denominator would be 0).
    "p22_repetition" ->
      """WITH w AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
         w2 AS (SELECT * FROM w WHERE len(w) >= 2),
         stats AS (
           SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
             CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct
           FROM w2),
         bg AS (
           SELECT doc_id,
             unnest([array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]) AS bg
           FROM w2),
         top AS (
           SELECT doc_id, max(c) AS top_n FROM (
             SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg) t
           GROUP BY doc_id)
         SELECT s.doc_id, s.n_words,
           round(1.0 - s.n_distinct / s.n_words, 6) AS dup_word_frac,
           round(COALESCE(top.top_n, 0) / (s.n_words - 1), 6) AS top_bigram_frac,
           (COALESCE(top.top_n, 0) / (s.n_words - 1)) < 0.2 AS keep
         FROM stats s LEFT JOIN top USING (doc_id)
         ORDER BY s.doc_id""",
    // p23: cross-document boilerplate — per-doc-distinct 3-grams counted
    // per source; Spark joins md5 keys, this replay joins the gram
    // strings (the gate would catch any hash collision).
    "p23_boilerplate" ->
      """WITH w AS (
           SELECT source, doc_id, string_split_regex(lower(text), '\s+') AS w
           FROM documents),
         g AS (
           SELECT source, doc_id,
             unnest(list_distinct([array_to_string(w[i:i+2], ' ')
               for i in range(1, len(w) - 1)])) AS gram
           FROM w WHERE len(w) >= 3),
         c AS (
           SELECT source, gram, CAST(count(*) AS BIGINT) AS n_docs_with
           FROM g GROUP BY source, gram)
         SELECT g.source, g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN c.n_docs_with >= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
           round(sum(CASE WHEN c.n_docs_with >= 8 THEN 1 ELSE 0 END) / count(*), 6)
             AS boiler_frac
         FROM g JOIN c USING (source, gram)
         GROUP BY g.source, g.doc_id
         ORDER BY g.source, g.doc_id""",
    // p24: deterministic stratified sample — replay the content hash.
    "p24_stratified_sample" ->
      """SELECT source, doc_id, sample_rank FROM (
           SELECT source, doc_id,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY md5('sample:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
               AS sample_rank
           FROM documents) t
         WHERE sample_rank <= 5
         ORDER BY source, sample_rank""",
    // u8: the date-partitioned rewrite + pruned read must be lossless —
    // same 3-day aggregate over the raw table.
    "u8_partition_prune" ->
      """SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS event_day, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value
         FROM events
         WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // u9: a runtime bloom filter may only PRUNE, never change results —
    // same join computed plain.
    "u9_runtime_filter" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l_extendedprice), 2) AS sum_price
         FROM lineitem JOIN (
           SELECT o_orderkey FROM orders
           WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 10 = 0) o
           ON l_orderkey = o_orderkey
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    // s7: streaming ANN serving — replay the persisted probes ⋈ postings
    // ⋈ vectors (the exact index the stream served from) with the p6
    // bit-exact cosine; certifies stream-side cell assignment, the
    // stream-static join, and the streaming nearest-neighbor aggregate.
    "s7_stream_ann_serve" ->
      """SELECT query_id, n_candidates, nn_id, round(nn_cos, 6) AS nn_cos FROM (
           SELECT query_id,
             CAST(count(*) OVER (PARTITION BY query_id) AS BIGINT) AS n_candidates,
             neighbor_id AS nn_id, cs AS nn_cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rn
           FROM (
             SELECT q.query_id, p.vec_id AS neighbor_id,
               list_sum(list_transform(list_zip(qv.embedding, nv.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(qv.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(nv.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cs
             FROM read_parquet('/tmp/graft_models/sf0.01/s7_probes/*.parquet') q
             JOIN read_parquet('/tmp/graft_models/sf0.01/s7_postings/*.parquet') p ON p.cell = q.cell
             JOIN embeddings qv ON qv.vec_id = q.query_id
             JOIN embeddings nv ON nv.vec_id = p.vec_id
             WHERE p.vec_id <> q.query_id) t1) t2
         WHERE rn = 1
         ORDER BY query_id""",
    // p27: deterministic A-ES weighted sampling — with content-addressed
    // u the aggregate is exactly "top-k by a computable key", so the
    // oracle replays key = u^(1/w) through a window. (The Spark side
    // computes it with a one-pass bounded custom aggregate, not a sort.)
    "p28_doc_clusters" -> graft.pipeline.DocClusters.oracleSql,
    // p68: balanced per-cluster sampling replayed from p28's centroids.
    "p68_cluster_balance" -> graft.pipeline.ClusterBalance.oracleSql,
    "p29_lm_quality" -> graft.text.LmQuality.oracleSql,
    "p57_kn_trigram" -> graft.text.KnTrigramLm.oracleSql,
    // p59: the full unigram-LM EM trajectory replayed as chained CTEs —
    // seed counts, per-round unrolled Viterbi DP, usage, re-costing,
    // final per-doc render
    "p59_unigram_lm" -> graft.text.UnigramLm.oracleSql,
    // p59b: the prune loop too — capped seed, per-round leave-one-out
    // losses, ranked drops, and the final render under the target-size
    // vocabulary all replayed
    "p59b_unigram_prune" -> graft.text.UnigramPrune.oracleSql,
    // p39d: byte-level BPE — byte→unicode map via hex(encode(.)), the
    // p39 merge chains over byte symbols, inverse-map decode roundtrip
    "p39d_byte_bpe" -> graft.text.ByteBpe.oracleSql,
    // p64: blocklist selection + brute-force occurrence scan + set-cover
    // mask replayed per position (the spec pins automaton ≡ brute force)
    "p64_blocklist_scrub" -> graft.text.BlocklistScrub.oracleSql,
    // p62: md5 buckets, cuts and PSM render replayed via list slicing
    "p62_fim_transform" -> graft.pipeline.FimTransform.oracleSql,
    "p63_kl_mixture" -> graft.pipeline.MixtureDivergence.oracleSql,
    "p32_sequences" -> graft.pipeline.TrainingOps.sequenceOracleSql,
    "p56_train_order" -> graft.pipeline.TrainingOps.trainOrderOracleSql,
    "p33_dup_spans" -> graft.dedup.SpanDedup.oracleSql,
    "p33b_dup_spans_bytes" -> graft.dedup.SpanDedup.byteOracleSql,
    // p33c: prefix-doubling rank recurrence replayed with dense_rank —
    // label values differ by engine, equality-class COUNTS are identical
    "p33c_sa_repeats" -> graft.dedup.SaRepeats.oracleSql,
    "p34_quality_clf" -> graft.text.QualityClassifier.oracleSql,
    "p54_lang_clf" -> graft.text.LangClassifier.oracleSql,
    // s9 emits p34's exact decision record — one replay SQL gates both
    "s9_stream_score" -> graft.text.QualityClassifier.oracleSql,
    "p35_incr_dedup" -> graft.dedup.IncrementalDedup.oracleSql,
    "p37_semdedup" -> graft.dedup.SemDedup.oracleSql,
    "p36_bm25_search" -> graft.text.Bm25.oracleSql,
    "q43_pagerank" -> graft.operators.PageRank.oracleSql,
    "q45_countmin" -> graft.operators.CountMin.oracleSql,
    "q46_triangles" -> graft.operators.Triangles.oracleSql,
    "q44_reachability" -> graft.operators.Reachability.oracleSql,
    "q51_sssp" -> graft.operators.Sssp.oracleSql,
    "q52_ppr" -> graft.operators.Ppr.oracleSql,
    "p39_bpe_vocab" -> graft.text.BpeVocab.oracleSql,
    "p39b_bpe_encode" -> graft.text.BpeVocab.encodeOracleSql,
    "p39c_bpe_decode" -> graft.text.BpeVocab.decodeOracleSql,
    "p50_token_shards" -> graft.pipeline.TokenShards.oracleSql,
    "p51_ingest_funnel" -> graft.pipeline.IngestFunnel.oracleSql,
    "p52_mixture_plan" -> graft.pipeline.MixturePlanner.oracleSql,
    "p53_decon_split" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents),
         grams AS (
           SELECT doc_id,
             unnest(list_distinct([array_to_string(w[i:i+7], ' ')
               for i in range(1, len(w) - 6)])) AS gram
           FROM toks WHERE len(w) >= 8),
         bench AS (SELECT doc_id AS bench_doc, gram FROM grams WHERE doc_id % 37 = 0),
         train AS (SELECT doc_id AS train_doc, gram FROM grams WHERE doc_id % 37 != 0),
         contaminated AS (
           SELECT DISTINCT train_doc AS doc_id FROM (
             SELECT train_doc, bench_doc, count(*) AS n_shared
             FROM train JOIN bench USING (gram) GROUP BY 1, 2) p
           WHERE n_shared >= 3),
         assigned AS (
           SELECT d.source, d.n_chars,
             CASE WHEN c.doc_id IS NOT NULL THEN 'quarantine'
                  WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                  ELSE 'test' END AS split
           FROM (
             SELECT doc_id, source, n_chars,
               CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
             FROM documents WHERE doc_id % 37 != 0) d
           LEFT JOIN contaminated c USING (doc_id))
         SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars_total
         FROM assigned
         GROUP BY source, split
         ORDER BY source, split""",
    "p40_dsir_resample" -> graft.pipeline.ImportanceResample.oracleSql,
    "p41_gopher_rules" -> graft.text.GopherRules.oracleSql,
    "p42_text_normalize" -> graft.text.TextNormalize.oracleSql,
    "p43_html_extract" -> graft.pipeline.HtmlExtract.oracleSql,
    "p44_url_dedup" -> graft.pipeline.UrlDedup.oracleSql,
    "p45_embedding_quant" -> graft.sim.ScalarQuant.oracleSql,
    "p46_ppx_buckets" -> graft.text.CcnetSelect.oracleSql,
    "p47_line_dedup" -> graft.dedup.LineDedup.oracleSql,
    "p48_hybrid_search" -> graft.sim.HybridSearch.oracleSql,
    "u11_time_travel" -> graft.operators.VersionedTable.oracleSql,
    "u12_stats_skipping" -> graft.operators.StatsSkipping.oracleSql,
    "u13_bloom_index" -> graft.operators.BloomIndex.oracleSql,
    "u14_schema_evolution" -> graft.operators.SchemaEvolution.oracleSql,
    "u15_observed_metrics" -> graft.operators.ObservedMetrics.oracleSql,
    "u16_write_audit_publish" -> graft.operators.WriteAuditPublish.oracleSql,
    "u17_dynamic_overwrite" -> graft.operators.DynamicPartitionOverwrite.oracleSql,
    // u18: candidate aggregates + the routing invariant replayed from
    // the POST-INSERT files (centroids, postings, probes all persisted)
    "u18_ann_upsert" -> graft.operators.AnnUpsert.oracleSql,
    "u19_cdc_tombstones" -> graft.operators.CdcTombstones.oracleSql,
    "u20_change_feed" -> graft.operators.ChangeFeed.oracleSql,
    "u21_occ_commit" -> graft.operators.OptimisticCommit.oracleSql,
    "u22_snapshot_expiry" -> graft.operators.SnapshotExpiry.oracleSql,
    "s10_stream_outer_join" -> graft.streaming.EventStreams.s10OracleSql,
    "s11_stream_trending" -> graft.streaming.EventStreams.s11OracleSql,
    // s12: same replay as u18, from the s12 files — stream-side index
    // maintenance must leave the index in exactly the batch state
    "s12_stream_ann_upsert" -> graft.operators.AnnUpsert.oracleSqlFor("s12"),
    // s13: the incremental consumer must land on u11's resolved v3
    "s13_stream_change_feed" -> graft.streaming.ChangeFeedStream.oracleSql,
    "mm3_phash_dedup" -> graft.multimodal.PHashDedup.oracleSql,
    "mm4_audio_features" -> graft.multimodal.AudioOps.oracleSql,
    "mm5_video_frames" -> graft.multimodal.VideoOps.oracleSql,
    "mm6_image_resize" -> graft.multimodal.MultimodalOps.resizeOracleSql,
    "mm7_crossmodal_filter" -> graft.multimodal.CrossModal.oracleSql,
    "mm8_scene_cuts" -> graft.multimodal.SceneCuts.oracleSql,
    // mm9: features of the hand-decoded (Inflater + defilter) PNG raster
    // replayed from the md5-chain generation rule
    "mm9_png_decode" -> graft.multimodal.PngCodec.oracleSql,
    // mm10: lossy format, LOSSLESS fixture — constant even-offset blocks
    // round-trip the quantizer exactly, so the oracle regenerates the
    // decode; generality is the imageio byte-parity fuzz in the spec
    "mm10_jpeg_decode" -> graft.multimodal.JpegCodec.oracleSql,
    // mm11: lossless LZW — the oracle regenerates the decode from the chain
    "mm11_gif_decode" -> graft.multimodal.GifCodec.oracleSql,
    // the stream computes the SAME decision record as the batch p35, so
    // the same replay SQL gates both halves of the continual-ingestion story
    "s8_stream_incr_dedup" -> graft.dedup.IncrementalDedup.oracleSql,
    "p27_weighted_sample" ->
      """SELECT source, CAST(rank_ AS BIGINT) AS sample_rank, doc_id,
           CAST(length(text) + 1 AS BIGINT) AS weight
         FROM (
           SELECT source, doc_id, text,
             row_number() OVER (PARTITION BY source ORDER BY
               pow((CAST(('0x' || substring(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
                     / 4294967296.0,
                   1.0 / (length(text) + 1)) DESC, doc_id) AS rank_
           FROM documents) t
         WHERE rank_ <= 5
         ORDER BY source, sample_rank""",
    // u10: the partition-pruned probe read must return exactly the probed
    // cells' postings — replay the per-query candidate aggregates from
    // the SAME persisted postings + probes files (read unpruned here: a
    // layout optimization may only skip bytes, never change results).
    "u10_ivf_layout" ->
      """SELECT q.query_id,
           CAST(count(DISTINCT p.cell) AS BIGINT) AS n_cells,
           CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(sum(p.vec_id) AS BIGINT) AS id_checksum,
           CAST(sum(list_aggregate(p.codes, 'sum')) AS BIGINT) AS code_checksum
         FROM read_parquet('/tmp/graft_models/sf0.01/u10_postings/*/*.parquet', hive_partitioning=1) p
         JOIN read_parquet('/tmp/graft_models/sf0.01/u10_probes/*.parquet') q
           ON CAST(p.cell AS BIGINT) = CAST(q.cell AS BIGINT)
         GROUP BY q.query_id ORDER BY q.query_id""",
    // m12b: replay the content-addressed fold assignment.
    "m12b_cv_folds" ->
      """SELECT fold, y, CAST(count(*) AS BIGINT) AS n
         FROM (
           SELECT CAST(('0x' || substring(md5('cv:' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % 3 AS fold,
             CASE WHEN label % 2 = 0 THEN 1.0 ELSE -1.0 END AS y
           FROM embeddings) t
         GROUP BY fold, y ORDER BY fold, y""",
    // m12c: replay every CV fold accuracy from the persisted artifacts —
    // per-row φ features + per-cell LinearSVC (weights, intercept) —
    // margin = Σⱼ wⱼ·φⱼ + b in the same index-ascending order Spark uses.
    "m12c_cv_replay" ->
      """WITH cells AS (
           SELECT reg_param, fold, weights, intercept
           FROM read_parquet('/tmp/graft_models/sf0.01/m12_cv/cells/*.parquet')),
         feats AS (
           SELECT vec_id, fold AS rfold, label01, phi
           FROM read_parquet('/tmp/graft_models/sf0.01/m12_cv/features/*.parquet')),
         scored AS (
           SELECT c.reg_param, c.fold, f.rfold, f.label01,
             CASE WHEN list_sum([c.weights[j] * f.phi[j]
                                 for j in range(1, len(c.weights) + 1)])
                    + c.intercept > 0
                  THEN 1.0 ELSE 0.0 END AS pred
           FROM cells c, feats f)
         SELECT reg_param, fold,
           CAST(sum(CASE WHEN rfold <> fold THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
           CAST(sum(CASE WHEN rfold = fold THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
           round(CAST(sum(CASE WHEN rfold <> fold AND pred = label01 THEN 1 ELSE 0 END) AS DOUBLE)
             / sum(CASE WHEN rfold <> fold THEN 1 ELSE 0 END), 6) AS train_accuracy,
           round(CAST(sum(CASE WHEN rfold = fold AND pred = label01 THEN 1 ELSE 0 END) AS DOUBLE)
             / sum(CASE WHEN rfold = fold THEN 1 ELSE 0 END), 6) AS val_accuracy
         FROM scored GROUP BY reg_param, fold ORDER BY reg_param, fold""",
    // m12: the FULL grid query replayed from the same persisted
    // artifacts m12c reads — every cell accuracy recomputed from
    // (φ, weights, intercept) files, plus the model-selection argmax:
    // best param = highest fold-ordered mean of the UNROUNDED val
    // accuracies, ties to the smaller reg (exactly cvGridQuery's
    // maxBy on (acc, -reg); the fold-ordered list_reduce mirrors
    // Scala's sequential Seq.sum so the mean is bit-identical).
    "m12_cv_grid" ->
      """WITH cells AS (
           SELECT reg_param, fold, weights, intercept
           FROM read_parquet('/tmp/graft_models/sf0.01/m12_cv/cells/*.parquet')),
         feats AS (
           SELECT vec_id, fold AS rfold, label01, phi
           FROM read_parquet('/tmp/graft_models/sf0.01/m12_cv/features/*.parquet')),
         scored AS (
           SELECT c.reg_param, c.fold, f.rfold, f.label01,
             CASE WHEN list_sum([c.weights[j] * f.phi[j]
                                 for j in range(1, len(c.weights) + 1)])
                    + c.intercept > 0
                  THEN 1.0 ELSE 0.0 END AS pred
           FROM cells c, feats f),
         acc AS (
           SELECT reg_param, fold,
             CAST(sum(CASE WHEN rfold <> fold THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
             CAST(sum(CASE WHEN rfold = fold THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
             CAST(sum(CASE WHEN rfold <> fold AND pred = label01 THEN 1 ELSE 0 END) AS DOUBLE)
               / sum(CASE WHEN rfold <> fold THEN 1 ELSE 0 END) AS train_acc_raw,
             CAST(sum(CASE WHEN rfold = fold AND pred = label01 THEN 1 ELSE 0 END) AS DOUBLE)
               / sum(CASE WHEN rfold = fold THEN 1 ELSE 0 END) AS val_acc_raw
           FROM scored GROUP BY reg_param, fold),
         best AS (
           SELECT reg_param FROM (
             SELECT reg_param,
               list_reduce(list(val_acc_raw ORDER BY fold), (a, x) -> a + x)
                 / count(*) AS avg_acc
             FROM acc GROUP BY reg_param)
           ORDER BY avg_acc DESC, reg_param ASC LIMIT 1)
         SELECT reg_param, fold, n_train, n_val,
           round(train_acc_raw, 6) AS train_accuracy,
           round(val_acc_raw, 6) AS val_accuracy,
           reg_param = (SELECT reg_param FROM best) AS is_best_param
         FROM acc ORDER BY reg_param, fold""",
    // m14/m15: the sparse ML surface — merge-join kernels on the hashed
    // bag-of-words fixture (integer-exact inner sums), and the sparse
    // SVM's persisted-model decision replay (the m1 chain, sparse files).
    "m14_sparse_kernels" -> graft.ml.SparseMlQueries.m14OracleSql,
    "m15_sparse_svm_eval" -> graft.ml.SparseMlQueries.m15OracleSql,
    // m16: sparse ICF — K ~ H.Ht certified from the persisted factor
    // (the m4 pattern) with the integer-exact sparse kernel as truth.
    "m16_sparse_icf" -> graft.ml.SparseIcfQuery.oracleSql,
    // m13: svm-scale parity — per-dimension raw range + scaled-space
    // mean derived from one pass of per-dim aggregates.
    "m13_feature_scale" ->
      """WITH d AS (
           SELECT unnest(generate_series(1, len(embedding))) AS pos, embedding
           FROM embeddings),
         x AS (SELECT pos, CAST(embedding[pos] AS DOUBLE) AS x FROM d),
         s AS (SELECT pos, min(x) AS mn, max(x) AS mx, avg(x) AS av
               FROM x GROUP BY pos)
         SELECT CAST(pos - 1 AS BIGINT) AS dim,
           round(mn, 6) AS min_raw, round(mx, 6) AS max_raw,
           round(CASE WHEN mx > mn THEN (av - mn) / (mx - mn) ELSE 0.0 END, 6)
             AS mean_scaled
         FROM s ORDER BY dim""",
    // s6: the engine's sliding windows must equal the epoch-aligned
    // window replay (same SQL family as q34).
    "s6_stream_sliding" ->
      """SELECT make_timestamp(
             ((epoch_us(ts) // 1000000 // 900) * 900 - 900 * g.g) * 1000000)
             AS window_start,
           event_type, CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value
         FROM events, (SELECT unnest(generate_series(0, 3)) AS g) g
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // m11: replay decisions from the saved SV text model (as m8) and
    // probabilities from the saved Platt (A, B) parquet.
    "m11_platt_probs" ->
      (svModelReplaySql("m8_icf", heldOutSql) +
        """,
         pl AS (SELECT a, b FROM read_parquet('/tmp/graft_models/sf0.01/m11_platt/*.parquet'))
         SELECT vec_id, round(d, 6) AS decision,
           round(1.0 / (1.0 + exp(d * pl.a + pl.b)), 6) AS prob_pos,
           CASE WHEN 1.0 / (1.0 + exp(d * pl.a + pl.b)) >= 0.5
                THEN 1.0 ELSE -1.0 END AS prediction
         FROM dec, pl ORDER BY vec_id"""))

  /** Oracles for the p16–p19 training-pipeline queries, the CSV/JSON
    * source roundtrips, and the merge/upsert path. */
  private def trainingPipelineOracles: Map[String, String] = Map(
    // p16: replay the content-addressed hash split (first 32 bits of
    // md5("split:"+id) mod 100) and the stratified report.
    "p16_split" ->
      """SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars_total
         FROM (
           SELECT source, n_chars,
             CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
           FROM (
             SELECT source, n_chars,
               CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
             FROM documents) t1) t2
         GROUP BY source, split
         ORDER BY source, split""",
    // p17: concat-and-chunk sequence packing — exclusive running token
    // count per source, div 512 assigns each doc its starting sequence.
    "p17_pack" ->
      """SELECT source, seq_idx, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM (
           SELECT source, doc_id, n_tokens,
             CAST(CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) // 512 AS BIGINT) AS seq_idx
           FROM (
             SELECT source, doc_id,
               CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
             FROM documents) t1) t2
         GROUP BY source, seq_idx
         ORDER BY source, seq_idx""",
    // p18: word-8-gram overlap between the training split and the
    // benchmark set (doc_id % 37 == 0). The Spark side joins md5(gram)
    // keys; this replay joins the gram strings themselves — identical
    // output (the gate would catch any hash collision).
    "p18_contamination" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents),
         grams AS (
           SELECT doc_id,
             unnest(list_distinct([array_to_string(w[i:i+7], ' ')
               for i in range(1, len(w) - 6)])) AS gram
           FROM toks WHERE len(w) >= 8),
         bench AS (SELECT doc_id AS bench_doc, gram FROM grams WHERE doc_id % 37 = 0),
         train AS (SELECT doc_id AS train_doc, gram FROM grams WHERE doc_id % 37 != 0),
         pairs AS (
           SELECT train_doc, bench_doc, CAST(count(*) AS BIGINT) AS n_shared
           FROM train JOIN bench USING (gram) GROUP BY 1, 2)
         SELECT train_doc, bench_doc, n_shared
         FROM pairs WHERE n_shared >= 3
         ORDER BY train_doc, bench_doc""",
    // p20: mixture resampling — replay the per-source keep-rates over
    // the same content-addressed hash (mod 1000) and summarize survivors.
    "p20_mixture" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars_total
         FROM (
           SELECT source, n_chars,
             CAST(('0x' || substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS b
           FROM documents) t
         WHERE b < CASE source WHEN 'src0' THEN 500 WHEN 'src1' THEN 250
                               WHEN 'src2' THEN 100 WHEN 'src3' THEN 750
                               ELSE 1000 END
         GROUP BY source
         ORDER BY source""",
    // p19: overlapping char chunks (size 200, stride 150) + content md5.
    "p19_chunks" ->
      """SELECT doc_id, CAST(chunk_start // 150 AS BIGINT) AS chunk_idx,
           chunk_start, CAST(length(chunk) AS BIGINT) AS chunk_len,
           md5(chunk) AS chunk_md5
         FROM (
           SELECT doc_id, chunk_start,
             substring(text, CAST(chunk_start + 1 AS INT), 200) AS chunk
           FROM (
             SELECT doc_id, text, unnest(range(0, length(text), 150)) AS chunk_start
             FROM documents WHERE doc_id < 100 AND length(text) > 0) t1) t2
         ORDER BY doc_id, chunk_idx""",
    // src1/src2: the roundtrip queries serialize orders through CSV/JSON
    // and summarize the read-back rows; the oracle summarizes the
    // parquet directly — any serialization loss mismatches.
    "src1_csv_roundtrip" -> ordersSummarySql,
    "src2_json_roundtrip" -> ordersSummarySql,
    // src3: ORC roundtrip (own-schema columnar format + pushed filter);
    // same parquet-side summary oracle as src1/src2
    "src3_orc_roundtrip" -> ordersSummarySql,
    // src5: XML roundtrip (Spark 4 built-in source); same summary oracle
    "src5_xml_roundtrip" -> ordersSummarySql,
    // src6: Avro container roundtrip (hand-rolled on avro-core — the
    // spark-avro module is absent from this classpath); same oracle
    "src6_avro_roundtrip" -> ordersSummarySql,
    "q50_rolling_active" ->
      """WITH ud AS (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
         days AS (SELECT DISTINCT d FROM ud),
         wau AS (
           SELECT days.d, count(DISTINCT ud.user_id) AS wau7
           FROM days JOIN ud ON ud.d BETWEEN days.d - 6 AND days.d
           GROUP BY days.d),
         dau AS (SELECT d, count(DISTINCT user_id) AS dau FROM ud GROUP BY d)
         SELECT CAST(dau.d AS VARCHAR) AS day,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau7 AS BIGINT) AS wau7
         FROM dau JOIN wau ON dau.d = wau.d
         ORDER BY day""",
    "q49_variant" ->
      """SELECT event_type, count(*) AS n_events,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k,
           CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k
         FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
               FROM events) t
         GROUP BY event_type
         ORDER BY event_type""",
    "src4_text_roundtrip" ->
      """SELECT lang, count(*) AS n_docs, count(DISTINCT m) AS n_md5,
           min(m) AS min_md5, max(m) AS max_md5,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM (SELECT doc_id, lang, md5(text) AS m FROM documents)
         GROUP BY lang ORDER BY lang""",
    // s4: stream-stream attribution join through the real engine; the
    // oracle is the batch join with the identical time-range predicate.
    "s4_stream_join" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT c.user_id) AS BIGINT) AS n_users,
           round(sum(p.value), 2) AS sum_purchase_value
         FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
         JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE""",
    // s5: streaming CDC-apply — the final merged state must equal one
    // global last-writer-wins merge of every event-derived update into
    // the orders base (update-only; unmatched keys ignored).
    "s5_stream_upsert" ->
      """WITH upd AS (
           SELECT (event_id % (SELECT count(*) FROM orders)) + 1 AS o_orderkey,
                  value * 100 AS o_totalprice, epoch_ms(ts) AS v, event_id AS e
           FROM events),
         best AS (
           SELECT o_orderkey, o_totalprice FROM (
             SELECT o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_orderkey ORDER BY v DESC, e DESC) AS rn
             FROM upd) t WHERE rn = 1),
         merged AS (
           SELECT o.o_orderkey,
             COALESCE(b.o_totalprice, o.o_totalprice) AS price,
             CASE WHEN b.o_orderkey IS NOT NULL THEN 1 ELSE 0 END AS upd_flag
           FROM orders o LEFT JOIN best b ON o.o_orderkey = b.o_orderkey)
         SELECT CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(price), 2) AS total_value,
           CAST(sum(upd_flag) AS BIGINT) AS n_updated
         FROM merged""",
    // u7: the z-ordered rewrite must be lossless — same two-dimensional
    // slice over the raw table.
    "u7_zorder_layout" ->
      """SELECT event_type, count(*) AS n_events,
           round(sum(value), 2) AS sum_value
         FROM events
         WHERE user_id BETWEEN 100 AND 300
           AND ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-03'
         GROUP BY event_type
         ORDER BY event_type""",
    // u6: last-writer-wins merge of the deterministic update batch.
    "u6_upsert" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price
         FROM (
           SELECT o_orderkey, o_orderstatus, o_totalprice,
             row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
           FROM (
             SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS version FROM orders
             UNION ALL
             SELECT o_orderkey, 'U' AS o_orderstatus,
               o_totalprice + 100.0 AS o_totalprice, 2 AS version
             FROM orders WHERE o_orderkey % 13 = 0) u) t
         WHERE rn = 1
         GROUP BY o_orderstatus
         ORDER BY o_orderstatus""")

  private val ordersSummarySql: String =
    """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
       round(sum(o_totalprice), 2) AS sum_price,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
       FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** Shared confusion-matrix + metrics tail over a `dec(y, d)` CTE —
    * the exact SQL mirror of [[graft.ml.SvmEvaluator.evaluate]]. */
  private def metricsTailSql(extraSelect: String): String =
    s"""cm AS (
           SELECT
             CAST(sum(CASE WHEN y > 0 AND d >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN y <= 0 AND d >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN y <= 0 AND d < 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
             CAST(sum(CASE WHEN y > 0 AND d < 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn
           FROM dec),
         m AS (
           SELECT tp, fp, tn, fn,
             round(CAST(tp + tn AS DOUBLE) / CAST(tp + tn + fp + fn AS DOUBLE), 6) AS accuracy,
             round(CASE WHEN tp + fp > 0
               THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) ELSE 0.0 END, 6) AS "precision",
             round(CASE WHEN tp + fn > 0
               THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) ELSE 0.0 END, 6) AS recall
           FROM cm)
         SELECT tp, fp, tn, fn, accuracy, "precision", recall,
           round(CASE WHEN "precision" + recall > 0
             THEN 2.0 * "precision" * recall / ("precision" + recall)
             ELSE 0.0 END, 6) AS f1$extraSelect
         FROM m"""

  /** DuckDB replay of a saved Nyström parquet model (landmarks /
    * projection / params dirs) scored over the FULL embeddings table
    * with parity labels, reduced to confusion matrix + metrics. */
  private def nystromEvalSql(model: String): String =
    s"""WITH lm AS (
           SELECT array_agg(landmark ORDER BY idx) AS L
           FROM read_parquet('/tmp/graft_models/sf0.01/$model/landmarks/*.parquet')),
         pr AS (
           SELECT array_agg(w_row ORDER BY idx) AS W
           FROM read_parquet('/tmp/graft_models/sf0.01/$model/projection/*.parquet')),
         pp AS (
           SELECT gamma, weights, intercept
           FROM read_parquet('/tmp/graft_models/sf0.01/$model/params/*.parquet')),
         pts AS (
           SELECT vec_id, CASE WHEN label % 2 = 0 THEN 1.0 ELSE -1.0 END AS y,
                  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS px
           FROM embeddings),
         kx AS (
           SELECT vec_id, y,
             list_transform(lm.L, l -> exp(-pp.gamma *
               list_sum(list_transform(list_zip(l, px), z -> (z[1] - z[2]) * (z[1] - z[2]))))) AS ks
           FROM pts, lm, pp),
         phi AS (
           SELECT kx.vec_id, kx.y,
             [list_sum([pr.W[i][j] * kx.ks[i] for i in range(1, len(kx.ks) + 1)])
              for j in range(1, len(pp.weights) + 1)] AS f
           FROM kx, pr, pp),
         dec AS (
           SELECT phi.vec_id, phi.y,
             list_sum([pp.weights[j] * phi.f[j] for j in range(1, len(pp.weights) + 1)])
               + pp.intercept AS d
           FROM phi, pp),
         ${metricsTailSql("")}"""

  /** The held-out slice the m8/m9/m11 queries score (ModelOracles.heldOut). */
  private val heldOutSql = "vec_id >= 300 AND vec_id < 400"

  /** DuckDB replay of a saved psvm-style TEXT SV model (RBF) over the
    * embeddings rows matching `ptsFilter`, with parity labels: every
    * per-SV term is floor-quantized to integer picounits and summed with
    * one GROUP BY — the IcfSvmModel.predictQuantized reduction, exact in
    * any order. Returns the WITH list up to `dec(vec_id, y, d)`; the
    * caller appends further CTEs (after a comma) and the final SELECT. */
  private def svModelReplaySql(model: String, ptsFilter: String): String =
    s"""WITH prm AS (
           SELECT CAST(regexp_extract(content, 'gamma ([^\\n]+)', 1) AS DOUBLE) AS gamma,
                  CAST(regexp_extract(content, 'rho ([^\\n]+)', 1) AS DOUBLE) AS rho
           FROM read_text('/tmp/graft_models/sf0.01/$model/header/part-*')),
         sv AS (
           SELECT CAST(p[1] AS DOUBLE) AS coef,
                  list_transform(p[2:], t -> CAST(string_split(t, ':')[2] AS DOUBLE)) AS x
           FROM (
             SELECT string_split(line, ' ') AS p FROM (
               SELECT unnest(string_split(content, chr(10))) AS line
               FROM read_text('/tmp/graft_models/sf0.01/$model/sv/part-*')) t
             WHERE length(line) > 0)),
         pts AS (
           SELECT vec_id, CASE WHEN label % 2 = 0 THEN 1.0 ELSE -1.0 END AS y,
                  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS px
           FROM embeddings
           WHERE $ptsFilter),
         contrib AS (
           SELECT pts.vec_id,
             CAST(floor(sv.coef * exp(-(SELECT gamma FROM prm) *
               list_sum(list_transform(list_zip(sv.x, pts.px),
                 z -> (z[1] - z[2]) * (z[1] - z[2])))) * 1e12) AS BIGINT) AS cq
           FROM pts, sv),
         ksum AS (
           SELECT vec_id, sum(cq) AS sq
           FROM contrib GROUP BY vec_id),
         dec AS (
           SELECT p.vec_id, p.y,
             CAST(COALESCE(k.sq, 0) AS DOUBLE) / 1e12 + -(SELECT rho FROM prm) AS d
           FROM pts p LEFT JOIN ksum k ON p.vec_id = k.vec_id)"""
}
