package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{cmsCounts, riskScore, topKValues}
import graft.functions.TextFunctions
import graft.model.Tables
import graft.operators.{AdvancedOps, BehaviorOps, DashboardOps, DedupOps, MlOps, MultimodalOps, RelationalOps, SimilarityOps, TextAnalysisOps, TimeWindowOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` is paired with equivalent DuckDB SQL in
  * `oracleSql` (same parquet tables, same column ALIASES, deterministic
  * ORDER BY ending in a unique key) so the driver's hash compare is exact.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The risk histogram exercises scan → projection → the two signature
    * scalar ops (clean/risk) → aggregation → generator (`stack`): every
    * layer.
    */
  def entry(spark: SparkSession): DataFrame =
    DashboardOps.riskHistogram(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- dashboard / text parity set (SURVEY.md §2.2/§2.4/§2.6/§2.10)
    "q_global_stats"    -> ((s, d) => DashboardOps.globalStats(s, d)),
    "q_stats_by_group"  -> ((s, d) => DashboardOps.statsByGroup(s, d)),
    "q_group_samples"   -> ((s, d) => DashboardOps.groupSamples(s, d)),
    "q_risk_histogram"  -> ((s, d) => DashboardOps.riskHistogram(s, d)),
    "q_recent_topk"     -> ((s, d) => DashboardOps.recentTopK(s, d)),
    "q_high_risk"       -> ((s, d) => DashboardOps.highRisk(s, d)),
    "q_dashboard_payload" -> ((s, d) => DashboardOps.dashboardPayload(s, d)),
    "q_clean_text"      -> ((s, d) => cleanTextQuery(s, d)),
    "q_risk_score"      -> ((s, d) => riskScoreQuery(s, d)),
    "q_truncate_project" -> ((s, d) => truncateProject(s, d)),
    "q_dedup_exact"     -> ((s, d) => dedupExact(s, d)),
    // ---- relational capability set (SURVEY.md §2.3/§2.5/§2.7)
    "q1_pricing_summary" -> ((s, d) => RelationalOps.pricingSummary(s, d)),
    "q_join_orders_customer" -> ((s, d) => RelationalOps.ordersPerCustomer(s, d)),
    "q_join_revenue_region" -> ((s, d) => RelationalOps.revenueByRegionNation(s, d)),
    "q_semi_anti"       -> ((s, d) => RelationalOps.customerOrderPresence(s, d)),
    "q_topn_per_group"  -> ((s, d) => RelationalOps.topOrdersPerCustomer(s, d)),
    "q_running_sum"     -> ((s, d) => RelationalOps.runningSumPerUser(s, d)),
    "q_lag_delta"       -> ((s, d) => RelationalOps.lagDeltaPerUser(s, d)),
    "q_rank_stats"      -> ((s, d) => RelationalOps.rankStats(s, d)),
    "q_set_ops"         -> ((s, d) => RelationalOps.userSetOps(s, d)),
    "q_distinct_users"  -> ((s, d) => RelationalOps.distinctUsersPerType(s, d)),
    "q_rollup"          -> ((s, d) => RelationalOps.customerRollup(s, d)),
    "q_props_json"      -> ((s, d) => RelationalOps.propsExtract(s, d)),
    "q_join_part_broadcast" -> ((s, d) => joinPartBroadcast(s, d)),
    "q_props_map"       -> ((s, d) => propsMap(s, d)),
    // ---- event-time windows (SURVEY.md §2.9 ST-5 extensions)
    "q_window_tumbling" -> ((s, d) => TimeWindowOps.tumbling(s, d)),
    "q_window_sliding"  -> ((s, d) => TimeWindowOps.sliding(s, d)),
    "q_window_session"  -> ((s, d) => TimeWindowOps.sessions(s, d)),
    // ---- ML / training-data pipeline set (SURVEY.md §2.11)
    "q_term_counts"     -> ((s, d) => MlOps.termCounts(s, d)),
    "q_bm25_top_terms"  -> ((s, d) => MlOps.bm25TopTerms(s, d)),
    "q_tfidf_top_terms" -> ((s, d) => MlOps.tfidfTopTerms(s, d)),
    "q_hash_dedup"      -> ((s, d) => MlOps.hashDedup(s, d)),
    "q_tokenset_dedup"  -> ((s, d) => MlOps.tokensetDedup(s, d)),
    "q_dedup_manifest"  -> ((s, d) => MlOps.dedupManifest(s, d)),
    "q_incremental_dedup" -> ((s, d) => MlOps.incrementalDedup(s, d)),
    "q_chunk_docs"      -> ((s, d) => graft.operators.CorpusOps.chunkDocs(s, d)),
    "q_hash_split"      -> ((s, d) => graft.operators.CorpusOps.hashSplit(s, d)),
    "q_decontaminate"   -> ((s, d) => graft.operators.CorpusOps.decontaminate(s, d)),
    "q_corpus_pipeline" -> ((s, d) => graft.operators.CorpusOps.corpusPipeline(s, d)),
    "q_mixture_sample"  -> ((s, d) => graft.operators.CorpusOps.mixtureSample(s, d)),
    "q_repetition_ratio" -> ((s, d) => graft.operators.CorpusOps.repetitionRatio(s, d)),
    "q_vocab_oov"       -> ((s, d) => graft.operators.CorpusOps.vocabOov(s, d)),
    "q_quantize_vecs"   -> ((s, d) => graft.operators.CorpusOps.quantizeVecs(s, d)),
    "q_minhash_sig"     -> ((s, d) => DedupOps.minhashSignatures(s, d)),
    "q_minhash_bands"   -> ((s, d) => DedupOps.minhashBands(s, d)),
    "q_simhash"         -> ((s, d) => DedupOps.simhash(s, d)),
    "q_ngram_jaccard"   -> ((s, d) => DedupOps.ngramJaccard(s, d)),
    "q_bucketed_jaccard" -> ((s, d) => DedupOps.bucketedJaccard(s, d)),
    "q_incremental_neardup" -> ((s, d) => DedupOps.incrementalNearDup(s, d)),
    "q_knn_cosine"      -> ((s, d) => SimilarityOps.knnCosine(s, d)),
    "q_cosine_neardup"  -> ((s, d) => SimilarityOps.cosineNearDup(s, d)),
    "q_bucketed_neardup" -> ((s, d) => SimilarityOps.bucketedNearDup(s, d)),
    "q_ivf_topk"        -> ((s, d) => SimilarityOps.ivfTopK(s, d)),
    "q_ivf_recall"      -> ((s, d) => SimilarityOps.ivfRecall(s, d)),
    "q_ivf_nprobe"      -> ((s, d) => SimilarityOps.ivfNprobeRecall(s, d)),
    "q_ivf_ndcg"        -> ((s, d) => SimilarityOps.ivfNdcg(s, d)),
    "q_label_norms"     -> ((s, d) => SimilarityOps.labelNorms(s, d)),
    "q_sign_buckets"    -> ((s, d) => SimilarityOps.signBuckets(s, d)),
    "q_label_centroids" -> ((s, d) => SimilarityOps.labelCentroids(s, d)),
    "q_minhash_est_exact" -> ((s, d) => DedupOps.minhashEstVsExact(s, d)),
    // ---- behavioral analytics over the event log
    "q_funnel"          -> ((s, d) => BehaviorOps.funnel(s, d)),
    "q_ab_ztest"        -> ((s, d) => BehaviorOps.abTestZ(s, d)),
    "q_retention_cohorts" -> ((s, d) => BehaviorOps.retentionCohorts(s, d)),
    "q_ctr_by_hour"     -> ((s, d) => BehaviorOps.ctrByHour(s, d)),
    "q_rolling_1h"      -> ((s, d) => BehaviorOps.rollingHour(s, d)),
    "q_scd2_intervals"  -> ((s, d) => BehaviorOps.statusIntervals(s, d)),
    "q_bloom_decontaminate" -> ((s, d) => graft.operators.CorpusOps.bloomDecontaminate(s, d)),
    "q_latest_per_key"  -> ((s, d) => RelationalOps.latestPerUser(s, d)),
    "q_stratified_sample" -> ((s, d) => graft.operators.CorpusOps.stratifiedSample(s, d)),
    "q_term_cooccurrence" -> ((s, d) => MlOps.termCooccurrence(s, d)),
    "q_risk_score_expr" -> ((s, d) => riskScoreExprQuery(s, d)),
    "q_multimodal_features" -> ((s, d) => MultimodalOps.features(s, d)),
    "q_lang_profile"    -> ((s, d) => TextAnalysisOps.langProfile(s, d)),
    "q_quality_score"   -> ((s, d) => TextAnalysisOps.qualityScore(s, d)),
    "q_token_counts"    -> ((s, d) => TextAnalysisOps.tokenCounts(s, d)),
    "q_fingerprint"     -> ((s, d) => TextAnalysisOps.fingerprints(s, d)),
    "q_heavy_hitters"   -> ((s, d) => TextAnalysisOps.heavyHittersAudit(s, d)),
    // ---- advanced relational extensions (as-of, range join, cube, pivot,
    //      date bucketing, custom UDAF, sketches)
    "q_asof_join"       -> ((s, d) => AdvancedOps.asofPurchaseClick(s, d)),
    "q_range_join"      -> ((s, d) => AdvancedOps.ordersByPriceBand(s, d)),
    "q_cube"            -> ((s, d) => AdvancedOps.eventCube(s, d)),
    "q_pivot"           -> ((s, d) => AdvancedOps.eventPivot(s, d)),
    "q_orders_by_month" -> ((s, d) => AdvancedOps.ordersByMonth(s, d)),
    "q_geomean_udaf"    -> ((s, d) => AdvancedOps.geoMeanPerType(s, d)),
    "q_approx_distinct" -> ((s, d) => AdvancedOps.approxDistinctAudit(s, d)),
    "q_salted_agg"      -> ((s, d) => graft.operators.ScaleOps.saltedEventStats(s, d)),
    "q_grouping_sets"   -> ((s, d) => AdvancedOps.eventGroupingSets(s, d)),
    "q_argmax"          -> ((s, d) => AdvancedOps.extremeEventPerType(s, d)),
    "q_topk_values"     -> ((s, d) => topKValuesQuery(s, d)),
    "q_percentiles"     -> ((s, d) => AdvancedOps.valuePercentiles(s, d)),
    "q_iqr_outliers"    -> ((s, d) => AdvancedOps.iqrOutliers(s, d)),
    "q_dispersion"      -> ((s, d) => AdvancedOps.valueDispersion(s, d)),
    "q_neardup_components" -> ((s, d) => graft.operators.GraphOps.nearDupComponents(s, d)),
    "q_neardup_degrees" -> ((s, d) => graft.operators.GraphOps.nearDupDegrees(s, d)),
    "q_dedup_rate_by_source" -> ((s, d) => MlOps.dedupRateBySource(s, d)),
    "q_schema_profile"  -> ((s, d) => RelationalOps.schemaProfile(s, d)),
    "q_left_join_nulls" -> ((s, d) => RelationalOps.customerOrderSummary(s, d)),
    "q_correlated_subquery" -> ((s, d) => RelationalOps.correlatedOutliers(s, d)),
    // ---- round-5 training-data pipeline tier: packing, sampling,
    //      substring-dedup census, LM quality, layout, clustering
    "q_seq_pack"        -> ((s, d) => graft.operators.CorpusOps.seqPack(s, d)),
    "q_weighted_sample" -> ((s, d) => graft.operators.CorpusOps.weightedSample(s, d)),
    "q_token_budget"    -> ((s, d) => graft.operators.CorpusOps.tokenBudget(s, d)),
    "q_dup_ngram_spans" -> ((s, d) => DedupOps.dupNgramSpans(s, d)),
    "q_unigram_logprob" -> ((s, d) => MlOps.unigramLogprob(s, d)),
    "q_dim_stats"       -> ((s, d) => SimilarityOps.dimStats(s, d)),
    "q_kmeans_step"     -> ((s, d) => SimilarityOps.kmeansStep(s, d)),
    "q_zorder_layout"   -> ((s, d) => graft.operators.ScaleOps.zorderLayout(s, d)),
    "q_bigram_logprob"  -> ((s, d) => MlOps.bigramLogprob(s, d)),
    "q_ppx_buckets"     -> ((s, d) => MlOps.ppxBuckets(s, d)),
    "q_token_entropy"   -> ((s, d) => TextAnalysisOps.tokenEntropy(s, d)),
    "q_dim_corr"        -> ((s, d) => SimilarityOps.dimCorr(s, d)),
    "q_neardup_triangles" -> ((s, d) => graft.operators.GraphOps.nearDupTriangles(s, d)),
    "q_pca_step"        -> ((s, d) => SimilarityOps.pcaStep(s, d)),
    "q_simhash_radius"  -> ((s, d) => DedupOps.simhashRadius(s, d)),
    "q_approx_percentiles" -> ((s, d) => AdvancedOps.approxPercentileOracleAudit(s, d)),
    "q_contamination_by_source" -> ((s, d) => graft.operators.CorpusOps.contaminationBySource(s, d)),
    "q_filter_funnel"   -> ((s, d) => graft.operators.CorpusOps.filterFunnel(s, d)),
    "q_idf_drift"       -> ((s, d) => MlOps.idfDrift(s, d)),
    "q_containment"     -> ((s, d) => DedupOps.containment(s, d)),
    "q_lsh_curve"       -> ((s, d) => DedupOps.lshCurve(s, d)),
    "q_dedup_savings"   -> ((s, d) => MlOps.dedupSavings(s, d)),
    "q_kmeans_iters"    -> ((s, d) => SimilarityOps.kmeansIters(s, d)),
    "q_frame_sample"    -> ((s, d) => MultimodalOps.frameSample(s, d)),
    "q_cdc_chunks"      -> ((s, d) => MultimodalOps.cdcChunks(s, d)),
    "q_cluster_sizes"   -> ((s, d) => graft.operators.GraphOps.nearDupClusterSizes(s, d)),
    "q_temperature_mix" -> ((s, d) => graft.operators.CorpusOps.temperatureMix(s, d)),
    "q_bpe_pairs"       -> ((s, d) => MlOps.bpePairStats(s, d)),
    "q_bpe_merges"      -> ((s, d) => MlOps.bpeMerges(s, d)),
    "q_skipgram_pairs"  -> ((s, d) => MlOps.skipGramPairs(s, d)),
    "q_corpus_card"     -> ((s, d) => MlOps.corpusCard(s, d)),
    "q_ngram_diversity" -> ((s, d) => TextAnalysisOps.ngramDiversity(s, d)),
    "q_zipf_fit"        -> ((s, d) => TextAnalysisOps.zipfFit(s, d)),
    // ---- round-6 tier: graph ranking, robust stats, entity-resolution
    //      blocking, split drift, CDC merge, mixture concentration
    "q_pagerank"        -> ((s, d) => graft.operators.GraphOps.nearDupPagerank(s, d)),
    "q_edit_blocked"    -> ((s, d) => DedupOps.editBlocked(s, d)),
    "q_heaps_fit"       -> ((s, d) => TextAnalysisOps.heapsFit(s, d)),
    "q_mad_outliers"    -> ((s, d) => AdvancedOps.madOutliers(s, d)),
    "q_merge_upsert"    -> ((s, d) => BehaviorOps.mergeUpsert(s, d)),
    "q_ks_drift"        -> ((s, d) => graft.operators.CorpusOps.ksSplitDrift(s, d)),
    "q_psi_drift"       -> ((s, d) => graft.operators.CorpusOps.psiSplitDrift(s, d)),
    "q_source_hhi"      -> ((s, d) => graft.operators.CorpusOps.sourceConcentration(s, d)),
    "q_shard_skew"      -> ((s, d) => graft.operators.ScaleOps.shardSkew(s, d)),
    "q_winsorized"      -> ((s, d) => AdvancedOps.winsorizedStats(s, d)),
    "q_centroid_outliers" -> ((s, d) => SimilarityOps.centroidOutliers(s, d)),
    "q_hapax_docs"      -> ((s, d) => MlOps.hapaxDocs(s, d)),
    // ---- round-5 tier: source-mixture divergence audits, embedding
    //      geometry/projection, bucketed co-located join
    "q_unigram_kl"      -> ((s, d) => graft.operators.DivergenceOps.unigramKl(s, d)),
    "q_keyness_g2"      -> ((s, d) => graft.operators.DivergenceOps.keynessG2(s, d)),
    "q_source_js"       -> ((s, d) => graft.operators.DivergenceOps.sourceJs(s, d)),
    "q_lm_classify"     -> ((s, d) => graft.operators.DivergenceOps.lmSourceClassify(s, d)),
    "q_centroid_dist"   -> ((s, d) => SimilarityOps.centroidDistances(s, d)),
    "q_jl_project"      -> ((s, d) => SimilarityOps.jlProjection(s, d)),
    "q_bucketed_join"   -> ((s, d) => graft.operators.ScaleOps.bucketedJoin(s, d)),
    "q_props_variant"   -> ((s, d) => propsVariant(s, d)),
    "q_partitioned_scan" -> ((s, d) => graft.operators.ScaleOps.partitionedScan(s, d)),
    "q_dpp_join"        -> ((s, d) => graft.operators.ScaleOps.dppJoin(s, d)),
    "q_join_skew"       -> ((s, d) => graft.operators.ScaleOps.joinSkew(s, d)),
    "q_reagg_rollup"    -> ((s, d) => graft.operators.ScaleOps.reaggRollup(s, d)),
    "q_pq_assign"       -> ((s, d) => SimilarityOps.pqAssign(s, d)),
    "q_domain_reweight" -> ((s, d) => graft.operators.DivergenceOps.domainReweight(s, d)),
    "q_write_files_audit" -> ((s, d) => graft.operators.ScaleOps.writeFilesAudit(s, d)),
    "q_cms_counts"      -> ((s, d) => cmsCountsQuery(s, d)),
    "q_hll_union"       -> ((s, d) => graft.operators.ScaleOps.hllUnionAudit(s, d)),
    "q_consistent_sample" -> ((s, d) => graft.operators.ScaleOps.consistentSample(s, d)),
    "q_volume_trend"    -> ((s, d) => graft.operators.ScaleOps.volumeTrend(s, d)),
    "q_changepoint"     -> ((s, d) => graft.operators.ScaleOps.changepoint(s, d)),
    "q_theilsen"        -> ((s, d) => graft.operators.ScaleOps.theilSen(s, d)),
    "q_sparse_cosine"   -> ((s, d) => DedupOps.sparseCosine(s, d)),
    "q_auc"             -> ((s, d) => BehaviorOps.aucClicksToPurchase(s, d)),
    "q_decayed_daily"   -> ((s, d) => BehaviorOps.decayedDailyCounts(s, d)),
    "q_kmv_distinct"    -> ((s, d) => AdvancedOps.kmvDistinctUsers(s, d)),
    "q_source_overlap"  -> ((s, d) => graft.operators.DivergenceOps.sourceOverlap(s, d)),
    "q_prefix_join"     -> ((s, d) => DedupOps.prefixJaccardJoin(s, d)),
    "q_als_step"        -> ((s, d) => MlOps.alsRank1Step(s, d)),
    "q_assoc_rules"     -> ((s, d) => MlOps.assocRules(s, d)),
    "q_weekday_anomaly" -> ((s, d) => BehaviorOps.weekdayAnomaly(s, d)),
    "q_gini"            -> ((s, d) => BehaviorOps.giniActivity(s, d)),
    "q_cust_order_dist" -> ((s, d) => RelationalOps.custOrderDist(s, d)),
    "q_ivf_mrr"         -> ((s, d) => SimilarityOps.ivfMrr(s, d)),
    "q_cluster_canonical" -> ((s, d) => graft.operators.GraphOps.clusterCanonical(s, d)),
    "q_readability"     -> ((s, d) => TextAnalysisOps.readability(s, d)),
    "q_type_hour_mi"    -> ((s, d) => BehaviorOps.typeHourMi(s, d)),
    "q_unpivot"         -> ((s, d) => RelationalOps.statsUnpivot(s, d)),
    "q_lateral_topk"    -> ((s, d) => RelationalOps.lateralTopNations(s, d)),
    "q_session_funnel"  -> ((s, d) => BehaviorOps.sessionFunnel(s, d)),
    "q_acf1"            -> ((s, d) => graft.operators.ScaleOps.acf1(s, d)),
    "q_mean_ci"         -> ((s, d) => AdvancedOps.meanValueCi(s, d)),
    "q_equidepth_hist"  -> ((s, d) => AdvancedOps.equidepthHist(s, d)),
    "q_hard_negatives"  -> ((s, d) => SimilarityOps.hardNegatives(s, d)),
    "q_leakage_split"   -> ((s, d) => graft.operators.GraphOps.leakageFreeSplit(s, d)),
    "q_inverted_index"  -> ((s, d) => MlOps.invertedIndex(s, d)),
    "q_dense_calendar"  -> ((s, d) => graft.operators.ScaleOps.denseCalendar(s, d)),
    "q_rfm_segments"    -> ((s, d) => BehaviorOps.rfmSegments(s, d)),
    // ---- round-7 tier: semantic dedup, classifier calibration,
    //      footer-stats metadata scan, curriculum sharding
    "q_semdedup"        -> ((s, d) => SimilarityOps.semDedup(s, d)),
    "q_margin_calibration" -> ((s, d) => graft.operators.DivergenceOps.marginCalibration(s, d)),
    "q_agg_pushdown"    -> ((s, d) => graft.operators.ScaleOps.aggPushdownStats(s, d)),
    "q_curriculum_shards" -> ((s, d) => graft.operators.CorpusOps.curriculumShards(s, d)),
    "q_bpe_encode"      -> ((s, d) => MlOps.bpeEncode(s, d)),
    "q_quality_schedule" -> ((s, d) => graft.operators.CorpusOps.qualitySchedule(s, d)),
    "q_join_cardinality" -> ((s, d) => graft.operators.ScaleOps.joinCardinality(s, d)),
    "q_cuped"           -> ((s, d) => BehaviorOps.cupedAdjust(s, d)),
    "q_dq_checks"       -> ((s, d) => RelationalOps.dqChecks(s, d)),
    "q_dedup_threshold_curve" -> ((s, d) => DedupOps.thresholdCurve(s, d)),
    "q_attribution"     -> ((s, d) => BehaviorOps.lastTouchAttribution(s, d)),
    "q_transition_matrix" -> ((s, d) => BehaviorOps.eventTransitions(s, d)),
    "q_lift_deciles"    -> ((s, d) => BehaviorOps.liftDeciles(s, d)),
    "q_power_mde"       -> ((s, d) => BehaviorOps.powerMde(s, d)),
    "q_compaction_audit" -> ((s, d) => graft.operators.ScaleOps.compactionAudit(s, d)),
    "q_dau_wau"         -> ((s, d) => BehaviorOps.dauWau(s, d)),
    "q_seasonal_index"  -> ((s, d) => BehaviorOps.seasonalIndex(s, d)),
    // ---- round 7: SQL subquery surface + experimentation stats
    "q_scalar_subquery" -> ((s, d) => RelationalOps.scalarSubqueryParts(s, d)),
    "q_not_exists"      -> ((s, d) => RelationalOps.notExistsSegments(s, d)),
    "q_recursive_cte"   -> ((s, d) => RelationalOps.recursiveChain(s, d)),
    "q_dwell_time"      -> ((s, d) => BehaviorOps.dwellTime(s, d)),
    "q_timed_funnel"    -> ((s, d) => BehaviorOps.timedFunnel(s, d)),
    "q_bootstrap_ci"    -> ((s, d) => BehaviorOps.bootstrapCi(s, d)),
    "q_pr_curve"        -> ((s, d) => BehaviorOps.prCurve(s, d)),
    "q_kcore"           -> ((s, d) => graft.operators.GraphOps.kCorePeel(s, d)),
    "q_negative_samples" -> ((s, d) => graft.operators.CorpusOps.negativeSamples(s, d)),
    "q_mahalanobis"     -> ((s, d) => SimilarityOps.mahalanobisOutliers(s, d)),
    "q_growth_accounting" -> ((s, d) => BehaviorOps.growthAccounting(s, d)),
    "q_survival_curve"  -> ((s, d) => BehaviorOps.survivalCurve(s, d)),
    "q_quantile_norm"   -> ((s, d) => graft.operators.CorpusOps.quantileNorm(s, d)),
    // ---- round 7b: privacy exports, entity resolution, time-series
    //      smoothing, one-step logistic training
    "q_pseudonymize"    -> ((s, d) => graft.operators.PrivacyOps.pseudonymizedActivity(s, d)),
    "q_kanon_cells"     -> ((s, d) => graft.operators.PrivacyOps.kAnonymityCells(s, d)),
    "q_fuzzy_join"      -> ((s, d) => graft.operators.EntityOps.fuzzyPartPairs(s, d)),
    "q_snm_neardup"     -> ((s, d) => graft.operators.EntityOps.snmNearDupPairs(s, d)),
    "q_ewma_daily"      -> ((s, d) => TimeWindowOps.ewmaDaily(s, d)),
    "q_ohlc_daily"      -> ((s, d) => TimeWindowOps.ohlcDaily(s, d)),
    "q_logistic_step"   -> ((s, d) => MlOps.logisticStep(s, d)),
    "q_skyline"         -> ((s, d) => AdvancedOps.skylineParts(s, d)),
    "q_benford"         -> ((s, d) => AdvancedOps.benfordAudit(s, d)),
    "q_ols2"            -> ((s, d) => graft.operators.ScaleOps.olsDaily(s, d)),
    "q_path_trigrams"   -> ((s, d) => BehaviorOps.pathTrigrams(s, d)),
    "q_chi2_independence" -> ((s, d) => BehaviorOps.chi2Independence(s, d)),
    "q_interpolate_gaps" -> ((s, d) => graft.operators.ScaleOps.interpolateGaps(s, d)),
    "q_kwic"            -> ((s, d) => TextAnalysisOps.kwic(s, d)),
    "q_median_of_means" -> ((s, d) => AdvancedOps.medianOfMeans(s, d)),
    "q_bounce_rate"     -> ((s, d) => BehaviorOps.bounceRate(s, d)),
    "q_cohort_ltv"      -> ((s, d) => BehaviorOps.cohortLtv(s, d)),
    "q_markov_steps"    -> ((s, d) => BehaviorOps.markovSteps(s, d)),
    "q_mutual_information" -> ((s, d) => MlOps.mutualInformation(s, d)),
    "q_seasonal_decompose" -> ((s, d) => graft.operators.ScaleOps.seasonalDecompose(s, d)),
    "q_class_balance"   -> ((s, d) => graft.operators.CorpusOps.classBalance(s, d)),
    "q_rolling_corr"    -> ((s, d) => graft.operators.ScaleOps.rollingCorr(s, d)),
    "q_temporal_join"   -> ((s, d) => BehaviorOps.temporalJoin(s, d)),
    "q_journey_edit"    -> ((s, d) => BehaviorOps.journeyEdit(s, d)),
    "q_vector_drift"    -> ((s, d) => SimilarityOps.vectorDrift(s, d)),
    "q_asof_native"     -> ((s, d) => AdvancedOps.asofNative(s, d)),
    "q_stopwords"       -> ((s, d) => TextAnalysisOps.stopwordDiscovery(s, d)),
    "q_ols_forecast"    -> ((s, d) => graft.operators.ScaleOps.olsForecast(s, d)),
    "q_gap_percentiles" -> ((s, d) => BehaviorOps.gapPercentiles(s, d)),
    "q_burn_rate"       -> ((s, d) => AdvancedOps.burnRate(s, d)),
    "q_daily_bands"     -> ((s, d) => AdvancedOps.dailyBands(s, d)),
    "q_hampel"          -> ((s, d) => graft.operators.ScaleOps.hampelOutliers(s, d)),
    "q_wilson_ci"       -> ((s, d) => BehaviorOps.wilsonCi(s, d)),
    "q_mann_kendall"    -> ((s, d) => graft.operators.ScaleOps.mannKendall(s, d)),
    "q_welch_t"         -> ((s, d) => BehaviorOps.welchT(s, d)),
    "q_entity_clusters" -> ((s, d) => graft.operators.EntityOps.entityClusters(s, d)),
    "q_doc_novelty"     -> ((s, d) => graft.operators.CorpusOps.docNovelty(s, d)),
    "q_runs_test"       -> ((s, d) => graft.operators.ScaleOps.runsTest(s, d)),
    "q_acf_lags"        -> ((s, d) => graft.operators.ScaleOps.acfLags(s, d)),
    // ---- round 8: privacy scrub, cross-lingual contamination,
    //      serving-side embedding compression / truncation audits
    "q_redaction_audit" -> ((s, d) => graft.operators.CorpusOps.redactionAudit(s, d)),
    "q_crosslang_dups"  -> ((s, d) => MlOps.crosslangDups(s, d)),
    "q_matryoshka_recall" -> ((s, d) => SimilarityOps.matryoshkaRecall(s, d)),
    "q_int8_quant"      -> ((s, d) => SimilarityOps.int8QuantAudit(s, d)),
    "q_hamming_recall"  -> ((s, d) => SimilarityOps.hammingRecall(s, d)),
    "q_cluster_purity"  -> ((s, d) => SimilarityOps.clusterPurity(s, d)),
    "q_source_dedup_matrix" -> ((s, d) => MlOps.sourceDedupMatrix(s, d)),
    "q_survival_km"     -> ((s, d) => BehaviorOps.survivalKm(s, d)),
    "q_zonemap_skip"    -> ((s, d) => graft.operators.ScaleOps.zonemapSkip(s, d)),
    "q_time_travel"     -> ((s, d) => graft.operators.ScaleOps.timeTravel(s, d)),
    "q_change_feed"     -> ((s, d) => graft.operators.ScaleOps.changeFeed(s, d)),
    "q_versioned_scan"  -> ((s, d) => graft.operators.ScaleOps.versionedScan(s, d)),
    "q_lake_upsert"     -> ((s, d) => graft.operators.ScaleOps.lakeUpsert(s, d)),
    "q_string_zonemap"  -> ((s, d) => graft.operators.ScaleOps.stringZonemap(s, d)),
    "q_string_range"    -> ((s, d) => graft.operators.ScaleOps.stringRange(s, d)),
    "q_null_partition"  -> ((s, d) => graft.operators.ScaleOps.nullPartition(s, d)),
    "q_stream_changes"  -> ((s, d) => graft.operators.ScaleOps.streamChanges(s, d)),
    "q_mor_delete"      -> ((s, d) => graft.operators.ScaleOps.morDelete(s, d)),
    "q_zorder_compact"  -> ((s, d) => graft.operators.ScaleOps.zorderCompact(s, d)),
    "q_lake_restore"    -> ((s, d) => graft.operators.ScaleOps.lakeRestore(s, d)),
    "q_corpus_freeze"   -> ((s, d) => graft.operators.CorpusOps.corpusFreeze(s, d)),
    "q_quality_dup_lift" -> ((s, d) => TextAnalysisOps.qualityDupLift(s, d)),
    "q_packing_audit"   -> ((s, d) => graft.operators.CorpusOps.packingAudit(s, d)),
    "q_sample_psi"      -> ((s, d) => graft.operators.CorpusOps.samplePsi(s, d)),
    "q_cluster_span"    -> ((s, d) => graft.operators.GraphOps.nearDupClusterSpan(s, d)),
    // ---- round 9 (driver): sequence mining, mechanism design, link
    //      analysis, forecast evaluation, native UDTF
    "q_seq_mining"      -> ((s, d) => BehaviorOps.seqMining(s, d)),
    "q_event_runs"      -> ((s, d) => BehaviorOps.eventRuns(s, d)),
    "q_dp_release"      -> ((s, d) => graft.operators.PrivacyOps.dpCountRelease(s, d)),
    "q_backtest"        -> ((s, d) => graft.operators.ScaleOps.forecastBacktest(s, d)),
    "q_hits"            -> ((s, d) => graft.operators.GraphOps.hitsNationTrade(s, d)),
    "q_udtf_ngrams"     -> ((s, d) => TextAnalysisOps.udtfNgramCensus(s, d)),
    "q_sax_motifs"      -> ((s, d) => graft.operators.ScaleOps.saxMotifs(s, d)),
    "q_decision_stump"  -> ((s, d) => MlOps.decisionStump(s, d)),
    "q_token_fertility" -> ((s, d) => TextAnalysisOps.tokenFertility(s, d)),
    "q_interval_union"  -> ((s, d) => BehaviorOps.intervalUnion(s, d)),
    "q_cumulative_reach" -> ((s, d) => BehaviorOps.cumulativeReach(s, d)),
    "q_mom_growth"      -> ((s, d) => graft.operators.ScaleOps.momGrowth(s, d)),
    "q_cusum"           -> ((s, d) => BehaviorOps.cusumChangepoint(s, d)),
    "q_peak_concurrency" -> ((s, d) => BehaviorOps.peakConcurrency(s, d)),
    "q_did"             -> ((s, d) => graft.operators.CausalOps.diffInDiff(s, d)),
    "q_qini"            -> ((s, d) => graft.operators.CausalOps.qiniCurve(s, d)),
    "q_multitouch"      -> ((s, d) => graft.operators.CausalOps.multiTouch(s, d)),
    "q_cv_folds"        -> ((s, d) => graft.operators.CausalOps.cvFolds(s, d)),
    "q_conformal"       -> ((s, d) => graft.operators.CausalOps.conformal(s, d)),
    "q_rake_phrases"    -> ((s, d) => graft.operators.CorpusOps.rakePhrases(s, d)),
    "q_cluster_compare" -> ((s, d) => graft.operators.ScaleOps.clusteringCompare(s, d)),
    "q_neyman_alloc"    -> ((s, d) => graft.operators.ScaleOps.neymanAlloc(s, d)),
    "q_aes_sample"      -> ((s, d) => graft.operators.ScaleOps.aesSample(s, d)),
    "q_twohop_reach"    -> ((s, d) => graft.operators.GraphOps.twoHopReach(s, d)),
    "q_sem_decontaminate" -> ((s, d) => graft.operators.SimilarityOps.semDecontaminate(s, d)),
    "q_propensity_strata" -> ((s, d) => graft.operators.CausalOps.propensityStrata(s, d)),
    "q_simpson"         -> ((s, d) => graft.operators.CausalOps.simpson(s, d)),
    // ---- round 11: text/columnar source-format round-trip faces (CSV
    //      quoting + JSONL escaping + ORC type mapping proven lossless
    //      against the raw-parquet census, adversarial rows included)
    "q_csv_roundtrip"   -> ((s, d) => graft.operators.FileFormatOps.csvRoundtrip(s, d)),
    "q_jsonl_roundtrip" -> ((s, d) => graft.operators.FileFormatOps.jsonlRoundtrip(s, d)),
    "q_orc_roundtrip"   -> ((s, d) => graft.operators.FileFormatOps.orcRoundtrip(s, d)),
  )

  /** Custom TypedImperativeAggregate: bounded exact top-k values per
    * group (constant memory per group, partial+final merge). The array is
    * emitted as a comma-joined string of centi-value integers (the
    * q_argmax scaling trick) — the driver's pandas hash compare cannot
    * factorize array cells, and integer strings render identically in
    * both engines (no float-format drift). */
  private def topKValuesQuery(spark: SparkSession, dir: String): DataFrame = {
    // fanOut: the partial (object-hash) aggregate otherwise runs inside
    // the single-split scan task
    Tables.fanOut(Tables.events(spark, dir).select(col("event_type"), col("value")))
      .groupBy(col("event_type"))
      .agg(array_join(
        transform(
          topKValues(col("value"), 5),
          x => round(x * 100, 0).cast("bigint").cast("string")),
        ",").as("top_values"))
      .orderBy(col("event_type"))
  }

  /** Queries with no DuckDB oracle; empty since round 8 — every sketch
    * query now ships an oracle-facing audit (exact counterpart + the
    * deterministic realized-error bound) in the `q_hll_union` pattern. */
  val oracleFreeQueries: Set[String] = Set.empty

  /** Count-Min point-count estimates per source over a fixed probe
    * list — the 4th sketch (cardinality/HLL++, heavy hitters/Misra–
    * Gries, quantiles/GK, point counts/CMS). The seeded row hashes have
    * no SQL twin; `CountMinAggSpec` pins the never-undercount bound
    * against exact counts and the sketch is in the partition-invariance
    * family (counter addition commutes). Raw estimates — the
    * oracle-facing audit is [[cmsCountsQuery]]. */
  private[graft] def cmsCountsRaw(spark: SparkSession, dir: String): DataFrame = {
    graft.operators.MlOps.docTermsWide(spark, dir)
      .select(col("source"), col("term"))
      .groupBy(col("source"))
      .agg(cmsCounts(col("term"), cmsProbeTerms).as("ests"),
        count(lit(1)).as("n_terms"))
      .select(col("source"), col("n_terms"), explode(col("ests")).as("pair"))
      .select(col("source"),
        split(col("pair"), ":").getItem(0).as("term"),
        split(col("pair"), ":").getItem(1).cast("long").as("cms_est"),
        col("n_terms"))
  }

  private[graft] val cmsProbeTerms =
    Seq("a", "data", "fast", "query", "row", "table", "the", "value")

  /** Oracle-facing CMS audit: the exact per-(source, probe) count (the
    * DuckDB-computable half) plus the REALIZED sketch guarantee as a
    * boolean — est ≥ exact (CMS never undercounts) and est ≤ exact +
    * ⌈εN⌉ with ε = 0.05 ≳ e/width for the 4×64 sketch. The estimate is
    * deterministic over fixed data (seeded hashes), so the flag is too,
    * and the driver hash-compares rows+schema instead of recording
    * `no_oracle`. Raw estimates via [[cmsCountsRaw]] (spec-pinned).
    */
  private def cmsCountsQuery(spark: SparkSession, dir: String): DataFrame = {
    // the session-cached token stream feeds both the sketch and the
    // exact counts (the same frame cmsCountsRaw aggregates)
    val terms = graft.operators.MlOps.docTermsWide(spark, dir)
      .select(col("source"), col("term"))
    val ests = terms.groupBy(col("source"))
      .agg(cmsCounts(col("term"), cmsProbeTerms).as("ests"),
        count(lit(1)).as("n_terms"))
      .select(col("source"), col("n_terms"), explode(col("ests")).as("pair"))
      .select(col("source"), col("n_terms"),
        split(col("pair"), ":").getItem(0).as("term"),
        split(col("pair"), ":").getItem(1).cast("long").as("cms_est"))
    val exact = terms.filter(col("term").isin(cmsProbeTerms: _*))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("exact_n"))
    ests.join(exact, Seq("source", "term"), "left")
      .withColumn("exact_n", coalesce(col("exact_n"), lit(0L)))
      .withColumn("cms_ok",
        col("cms_est") >= col("exact_n") &&
          col("cms_est") <= col("exact_n")
            + ceil(col("n_terms") * lit(0.05)).cast("long"))
      .select(col("source"), col("term"), col("exact_n"), col("cms_ok"))
      .orderBy(col("source"), col("term"))
  }

  /** J-4 explicit broadcast-hint join: fact⋈broadcast(dim) rollup. */
  private def joinPartBroadcast(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_lines"),
      )
      .orderBy(col("p_brand"))

  /** MAP-1: from_json to MapType + element_at (vs q_props_json's
    * get_json_object path-extraction twin). */
  private def propsMap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{MapType, StringType}
    Tables.events(spark, dir)
      .select(col("event_id"),
        from_json(col("props"), MapType(StringType, StringType)).as("m"))
      .select(col("event_id"), element_at(col("m"), "k").cast("long").as("k"))
      .filter(col("event_id") < 50)
      .orderBy(col("event_id"))
  }

  /** The Spark-4 VariantType path for the same semi-structured props
    * column: `parse_json` once into the binary variant encoding, then
    * typed `variant_get` extraction — at scale this is the open-schema
    * answer (one parse, many typed reads, shredding-ready) where the
    * JSON-string twins (`q_props_json`/`q_props_map`) re-parse text per
    * access. Output columns are plain longs so every engine reads the
    * result; the oracle extracts the same path with json_extract. */
  private def propsVariant(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.events(spark, dir).select(col("event_type"), col("props")))
      .select(col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  /** U-1 clean_text over the corpus, truncated to 200 chars like the
    * persisted snapshot (reference: kafka_consumer_simple.py:138). */
  private def cleanTextQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        substring(TextFunctions.cleanText(col("text")), 1, 200).as("cleaned_text"),
      )
      .orderBy(col("doc_id"))

  /** U-2 risk_score over the corpus. */
  private def riskScoreQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextFunctions.riskScore(col("text")).as("risk_score"))
      .orderBy(col("doc_id"))

  /** P-5/P-6: column pruning + fixed-length truncation
    * (reference: kafka_consumer_simple.py:131,138). */
  private def truncateProject(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        substring(col("text"), 1, 100).as("text_trunc"),
        length(col("text")).as("text_len"),
      )
      .orderBy(col("doc_id"))

  /** P-7 dedup by key, deterministically: one surviving (min) doc_id per
    * distinct text. (dropDuplicates keeps an arbitrary row — not
    * hashable against an oracle; min-per-group is the deterministic
    * formulation of the same semantics.) */
  private def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("surviving_doc_id"), count(lit(1)).as("dup_count"))
      .select(col("surviving_doc_id"), col("dup_count"))
      .orderBy(col("surviving_doc_id"))

  /** U-2 as the custom Catalyst RiskScore expression (whole-stage
    * codegen'd, called as a typed Column) — must hash-match
    * q_risk_score's Column-algebra formulation. */
  private def riskScoreExprQuery(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        riskScore(col("text")).as("risk_score"))
      .orderBy(col("doc_id"))
  }

  /** Shared DuckDB SQL fragment: the risk score of documents.text. */
  private val riskSql: String = TextFunctions.riskScoreDuckDbSql("lower(text)")

  /** Shared census SQL for the three source-format round-trip faces —
    * identical up to the digest salt, which keeps a copy-paste slip
    * between formats visible as a hash mismatch instead of a silent
    * pass. The VALUES rows mirror FileFormatOps.advRows exactly. */
  private def formatRoundtripOracle(salt: String): String =
    s"""WITH d AS (
            SELECT doc_id, lang, source, text FROM documents
            UNION ALL
            SELECT * FROM (VALUES
              (-1, 'zz', 'adversarial', 'comma, separated, values'),
              (-2, 'zz', 'adversarial', 'she said "hello" twice'),
              (-3, 'zz', 'adversarial', 'line one' || chr(10) || 'line two'),
              (-4, 'zz', 'adversarial',
                'tab' || chr(9) || 'here and trailing space '),
              (-5, 'zz', 'adversarial', ''),
              (-6, 'zz', 'adversarial', NULL)
            ) v(doc_id, lang, source, text))
          SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(length(text)) AS BIGINT) AS total_chars,
            CAST(sum(CAST(('0x' || substring(md5('$salt:'
              || CAST(doc_id AS VARCHAR) || '|' || text), 1, 8)) AS BIGINT))
              AS BIGINT) AS content_digest
          FROM d GROUP BY 1, 2 ORDER BY lang, source"""

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q_global_stats" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS total_posts,
          round(avg($riskSql), 2) AS avg_risk,
          CAST(sum(CASE WHEN $riskSql >= 30 THEN 1 ELSE 0 END) AS BIGINT) AS high_risk_count,
          round(avg(n_chars), 2) AS avg_chars
          FROM documents""",
    "q_stats_by_group" ->
      s"""SELECT lang,
          CAST(count(*) AS BIGINT) AS post_count,
          CAST(sum(n_chars) AS BIGINT) AS total_chars,
          round(avg(n_chars), 2) AS avg_chars,
          round(avg($riskSql), 2) AS avg_risk
          FROM documents GROUP BY lang ORDER BY lang""",
    "q_group_samples" ->
      """SELECT lang,
          array_to_string(list_slice(list(doc_id ORDER BY doc_id), 1, 5), ',') AS sample_doc_ids,
          CAST(count(*) AS BIGINT) AS post_count
          FROM documents GROUP BY lang ORDER BY lang""",
    "q_risk_histogram" ->
      s"""WITH scored AS (
            SELECT CASE WHEN $riskSql < 10 THEN '0-9'
                        WHEN $riskSql < 20 THEN '10-19'
                        WHEN $riskSql < 30 THEN '20-29'
                        ELSE '30+' END AS bucket
            FROM documents),
          buckets(bucket) AS (VALUES ('0-9'), ('10-19'), ('20-29'), ('30+'))
          SELECT b.bucket, CAST(coalesce(c.n, 0) AS BIGINT) AS n
          FROM buckets b LEFT JOIN
            (SELECT bucket, count(*) AS n FROM scored GROUP BY bucket) c
            USING (bucket)
          ORDER BY b.bucket""",
    "q_dashboard_payload" ->
      s"""WITH graft_scored AS (
            SELECT doc_id, lang, n_chars, $riskSql AS risk_score FROM documents)
          SELECT 'stats' AS section, 'all' AS key,
            CAST(count(*) AS BIGINT) AS n, round(avg(risk_score), 2) AS metric
          FROM graft_scored
          UNION ALL
          SELECT 'stats', 'avg_chars', CAST(count(*) AS BIGINT), round(avg(n_chars), 2)
          FROM graft_scored
          UNION ALL
          SELECT 'stats', 'high_risk',
            CAST(sum(CASE WHEN risk_score >= 30 THEN 1 ELSE 0 END) AS BIGINT),
            CAST(NULL AS DOUBLE)
          FROM graft_scored
          UNION ALL
          SELECT 'lang', lang, CAST(count(*) AS BIGINT), round(avg(risk_score), 2)
          FROM graft_scored GROUP BY lang
          UNION ALL
          SELECT 'hist', b.bucket, CAST(coalesce(c.n, 0) AS BIGINT), CAST(NULL AS DOUBLE)
          FROM (VALUES ('0-9'), ('10-19'), ('20-29'), ('30+')) b(bucket)
          LEFT JOIN (
            SELECT CASE WHEN risk_score < 10 THEN '0-9'
                        WHEN risk_score < 20 THEN '10-19'
                        WHEN risk_score < 30 THEN '20-29'
                        ELSE '30+' END AS bucket, count(*) AS n
            FROM graft_scored GROUP BY 1) c
          ON b.bucket = c.bucket
          UNION ALL
          SELECT 'recent', CAST(doc_id AS VARCHAR), CAST(rn AS BIGINT),
            CAST(risk_score AS DOUBLE)
          FROM (SELECT doc_id, risk_score,
                  row_number() OVER (ORDER BY doc_id DESC) AS rn
                FROM (SELECT doc_id, risk_score FROM graft_scored
                      ORDER BY doc_id DESC LIMIT 10))
          ORDER BY section, key""",
    "q_recent_topk" ->
      """SELECT event_id, user_id, event_type, value
          FROM events ORDER BY event_id DESC LIMIT 10""",
    "q_high_risk" ->
      s"""SELECT doc_id, $riskSql AS risk_score FROM documents
          WHERE $riskSql >= 30 ORDER BY doc_id""",
    "q_clean_text" ->
      s"""SELECT doc_id, substring(${TextFunctions.cleanTextDuckDbSql("text")}, 1, 200) AS cleaned_text
          FROM documents ORDER BY doc_id""",
    "q_risk_score" ->
      s"SELECT doc_id, $riskSql AS risk_score FROM documents ORDER BY doc_id",
    "q_truncate_project" ->
      """SELECT doc_id, substring(text, 1, 100) AS text_trunc,
          CAST(length(text) AS INTEGER) AS text_len
          FROM documents ORDER BY doc_id""",
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS surviving_doc_id, CAST(count(*) AS BIGINT) AS dup_count
          FROM documents GROUP BY text ORDER BY surviving_doc_id""",
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
          round(sum(l_quantity), 2) AS sum_qty,
          round(sum(l_extendedprice), 2) AS sum_base_price,
          round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
          round(avg(l_quantity), 4) AS avg_qty,
          round(avg(l_discount), 4) AS avg_disc,
          CAST(count(*) AS BIGINT) AS count_order
          FROM lineitem GROUP BY l_returnflag, l_linestatus
          ORDER BY l_returnflag, l_linestatus""",
    "q_join_orders_customer" ->
      """SELECT c_custkey, c_name, c_mktsegment,
          CAST(count(*) AS BIGINT) AS order_count,
          round(sum(o_totalprice), 2) AS total_spent
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY c_custkey, c_name, c_mktsegment ORDER BY c_custkey""",
    "q_join_revenue_region" ->
      """SELECT r_name, n_name,
          round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
          CAST(count(*) AS BIGINT) AS line_count
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "q_semi_anti" ->
      """SELECT status, CAST(count(*) AS BIGINT) AS n_customers FROM (
            SELECT c_custkey, 'has_orders' AS status FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            UNION ALL
            SELECT c_custkey, 'no_orders' AS status FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey))
          GROUP BY status ORDER BY status""",
    "q_topn_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
              row_number() OVER (PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders)
          WHERE rn <= 3 ORDER BY o_custkey, rn""",
    "q_running_sum" ->
      """SELECT user_id, event_id, value,
          round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
          FROM events ORDER BY user_id, event_id""",
    "q_lag_delta" ->
      """SELECT user_id, event_id, value,
          lag(value, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value,
          round(value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY event_id), 2) AS delta
          FROM events ORDER BY user_id, event_id""",
    "q_rank_stats" ->
      """SELECT event_type, event_id, value,
          round(percent_rank() OVER w, 6) AS pct_rank,
          round(cume_dist() OVER w, 6) AS cume
          FROM events WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
          ORDER BY event_type, event_id""",
    "q_set_ops" ->
      """SELECT user_id, 'click_and_purchase' AS set_op FROM (
            SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
            INTERSECT
            SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
          UNION ALL
          SELECT user_id, 'click_only' AS set_op FROM (
            SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
            EXCEPT
            SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
          ORDER BY set_op, user_id""",
    "q_distinct_users" ->
      """SELECT event_type,
          CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users,
          CAST(count(*) AS BIGINT) AS n_events,
          round(sum(value), 2) AS total_value
          FROM events GROUP BY event_type ORDER BY event_type""",
    "q_rollup" ->
      """SELECT
          CASE WHEN GROUPING(r_name) = 1 THEN 'ALL' ELSE r_name END AS region,
          CASE WHEN GROUPING(n_name) = 1 THEN 'ALL' ELSE n_name END AS nation,
          CAST(count(*) AS BIGINT) AS n_customers,
          round(sum(c_acctbal), 2) AS total_balance
          FROM customer
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY ROLLUP(r_name, n_name)
          ORDER BY region, nation""",
    "q_props_json" ->
      """SELECT k_mod10, CAST(count(*) AS BIGINT) AS n, CAST(sum(k) AS BIGINT) AS sum_k FROM (
            SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod10,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events)
          GROUP BY k_mod10 ORDER BY k_mod10""",
    "q_join_part_broadcast" ->
      """SELECT p_brand,
          round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
          CAST(count(*) AS BIGINT) AS n_lines
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY p_brand ORDER BY p_brand""",
    "q_props_map" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events WHERE event_id < 50 ORDER BY event_id""",
    "q_window_tumbling" ->
      """SELECT (epoch_ns(ts) // 1000000000 // 3600) * 3600 AS win_start, event_type,
          CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS total_value
          FROM events GROUP BY win_start, event_type ORDER BY win_start, event_type""",
    "q_window_sliding" ->
      """SELECT win_start, CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS total_value
          FROM (SELECT ((epoch_ns(ts) // 1000000000 // 3600) - k) * 3600 AS win_start, value
                FROM events CROSS JOIN (VALUES (0), (1)) t(k))
          GROUP BY win_start ORDER BY win_start""",
    "q_window_session" ->
      """WITH e AS (
            SELECT user_id, event_id, value, epoch_ns(ts) // 1000000000 AS ts_s FROM events),
          flagged AS (
            -- strictly greater: Spark's session_window MERGES an event
            -- landing exactly at the previous session's end (gap
            -- boundary is inclusive on merge)
            SELECT *, CASE WHEN lag(ts_s) OVER w IS NULL
                            OR ts_s - lag(ts_s) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
          sess AS (
            SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM flagged)
          SELECT user_id, min(ts_s) AS session_start, max(ts_s) AS session_last,
            CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 2) AS total_value
          FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start""",
    "q_term_counts" ->
      """SELECT term, CAST(count(*) AS BIGINT) AS n FROM (
            SELECT unnest(string_split(text, ' ')) AS term FROM documents)
          WHERE term <> '' GROUP BY term ORDER BY n DESC, term LIMIT 20""",
    "q_tfidf_top_terms" ->
      """WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> ''
                 GROUP BY doc_id, term),
          df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
          n AS (SELECT count(*) AS n_docs FROM documents),
          scored AS (
            SELECT doc_id, term,
              round(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS score
            FROM tf JOIN df USING (term) CROSS JOIN n)
          SELECT doc_id, term, score, CAST(rn AS INTEGER) AS rn FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, term) AS rn FROM scored)
          WHERE rn <= 3 ORDER BY doc_id, rn""",
    "q_hash_dedup" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS surviving_doc_id,
          CAST(count(*) AS BIGINT) AS dup_count
          FROM documents GROUP BY md5(text) ORDER BY text_md5""",
    "q_tokenset_dedup" ->
      """SELECT md5(array_to_string(list_sort(list_distinct(
            list_filter(string_split(text, ' '), x -> x <> ''))), ' ')) AS tokenset_md5,
          min(doc_id) AS surviving_doc_id, CAST(count(*) AS BIGINT) AS dup_count
          FROM documents GROUP BY 1 ORDER BY tokenset_md5""",
    "q_incremental_dedup" ->
      """WITH f AS (
            SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
              list_filter(string_split(text, ' '), x -> x <> ''))), ' ')) AS fp
            FROM documents),
          hist AS (SELECT DISTINCT fp FROM f WHERE doc_id % 10 <> 0),
          fresh AS (
            SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS shard_rep
            FROM f WHERE doc_id % 10 = 0)
          SELECT fresh.doc_id,
            (hist.fp IS NOT NULL) AS dup_of_history,
            (fresh.doc_id = shard_rep) AS shard_first,
            (hist.fp IS NULL AND fresh.doc_id = shard_rep) AS keep
          FROM fresh LEFT JOIN hist ON fresh.fp = hist.fp
          ORDER BY fresh.doc_id""",
    "q_dedup_manifest" ->
      """WITH f AS (
            SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
              list_filter(string_split(text, ' '), x -> x <> ''))), ' ')) AS fp
            FROM documents)
          SELECT doc_id,
            min(doc_id) OVER (PARTITION BY fp) AS surviving_doc_id,
            doc_id = min(doc_id) OVER (PARTITION BY fp) AS keep
          FROM f ORDER BY doc_id""",
    "q_chunk_docs" ->
      """WITH t AS (
            SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents),
          c AS (SELECT doc_id, toks, len(toks) AS n FROM t),
          ch AS (
            SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
              list_slice(toks, CAST(i * 40 + 1 AS INTEGER), CAST(i * 40 + 50 AS INTEGER)) AS ctoks
            FROM (
              -- chunk ids derived per-doc from the token count (list-range
              -- unnest), not a fixed cap: no latent divergence for long docs
              SELECT doc_id, toks,
                unnest(range(0, greatest(1, (n - 1) // 40 + 1))) AS i
              FROM c))
          SELECT doc_id, chunk_id, CAST(len(ctoks) AS INTEGER) AS chunk_tokens,
            md5(array_to_string(ctoks, ' ')) AS chunk_md5
          FROM ch ORDER BY doc_id, chunk_id""",
    "q_hash_split" ->
      """WITH s AS (
            SELECT lang, n_chars,
              CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
                   WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c', 'd') THEN 'val'
                   ELSE 'test' END AS split
            FROM documents)
          SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n_chars) AS BIGINT) AS total_chars
          FROM s GROUP BY split, lang ORDER BY split, lang""",
    "q_decontaminate" ->
      """WITH t AS (
            SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents),
          g AS (
            SELECT doc_id, list_distinct(list_transform(range(1, greatest(1, len(toks) - 1)),
              i -> array_to_string(list_slice(toks, CAST(i AS INTEGER), CAST(i + 2 AS INTEGER)), ' '))) AS grams
            FROM t),
          x AS (SELECT doc_id, unnest(grams) AS gram FROM g),
          bench AS (SELECT DISTINCT gram FROM x WHERE doc_id < 5)
          SELECT x.doc_id, CAST(count(DISTINCT x.gram) AS BIGINT) AS n_hits
          FROM x JOIN bench USING (gram) WHERE x.doc_id >= 5
          GROUP BY x.doc_id ORDER BY x.doc_id""",
    // the Bloom prefilter is exact end-to-end (no false negatives; false
    // positives die in the confirm join), so its oracle IS the exact
    // decontamination query
    "q_bloom_decontaminate" ->
      """WITH t AS (
            SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents),
          g AS (
            SELECT doc_id, list_distinct(list_transform(range(1, greatest(1, len(toks) - 1)),
              i -> array_to_string(list_slice(toks, CAST(i AS INTEGER), CAST(i + 2 AS INTEGER)), ' '))) AS grams
            FROM t),
          x AS (SELECT doc_id, unnest(grams) AS gram FROM g),
          bench AS (SELECT DISTINCT gram FROM x WHERE doc_id < 5)
          SELECT x.doc_id, CAST(count(DISTINCT x.gram) AS BIGINT) AS n_hits
          FROM x JOIN bench USING (gram) WHERE x.doc_id >= 5
          GROUP BY x.doc_id ORDER BY x.doc_id""",
    "q_mixture_sample" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <
            (CASE WHEN CAST(substring(source, 4) AS INTEGER) % 2 = 0 THEN '8' ELSE '4' END)
            THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
          FROM documents GROUP BY source ORDER BY source""",
    "q_vocab_oov" ->
      """WITH tok AS (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
            FROM documents),
          vocab AS (
            SELECT term FROM (
              SELECT term, count(*) AS n FROM tok GROUP BY term
              ORDER BY n DESC, term LIMIT 50)),
          j AS (
            SELECT tok.doc_id, CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
            FROM tok LEFT JOIN vocab v ON tok.term = v.term)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
            CAST(sum(oov) AS BIGINT) AS n_oov,
            round(sum(oov) * 1.0 / count(*), 6) AS oov_rate
          FROM j GROUP BY doc_id ORDER BY doc_id""",
    "q_quantize_vecs" ->
      """WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          s AS (
            SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale FROM e)
          SELECT vec_id, round(scale, 6) AS scale,
            md5(array_to_string(list_transform(v,
              x -> CAST(CAST(round(x / scale * 127, 0) AS INTEGER) AS VARCHAR)), ',')) AS q_md5
          FROM s ORDER BY vec_id""",
    "q_repetition_ratio" ->
      """WITH t AS (
            SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents),
          g AS (
            SELECT doc_id, unnest(list_transform(range(1, len(toks)),
              i -> toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i + 1 AS INTEGER)])) AS gram
            FROM t),
          c AS (SELECT doc_id, gram, count(*) AS n FROM g GROUP BY doc_id, gram)
          SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_grams,
            CAST(max(n) AS BIGINT) AS max_gram_count,
            round(max(n) * 1.0 / sum(n), 6) AS max_gram_ratio,
            round(sum(CASE WHEN n >= 2 THEN n ELSE 0 END) * 1.0 / sum(n), 6) AS rep_gram_ratio
          FROM c GROUP BY doc_id ORDER BY doc_id""",
    "q_minhash_sig" ->
      """WITH tok AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
          mh AS (
            SELECT doc_id, i,
              substring(min(md5(CAST(i AS VARCHAR) || '|' || t)), 1, 8) AS h
            FROM tok CROSS JOIN range(8) r(i) WHERE t <> '' GROUP BY doc_id, i)
          SELECT doc_id, string_agg(h, ',' ORDER BY i) AS signature
          FROM mh GROUP BY doc_id ORDER BY doc_id""",
    "q_minhash_bands" ->
      """WITH tok AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
          mh AS (
            SELECT doc_id, i,
              substring(min(md5(CAST(i AS VARCHAR) || '|' || t)), 1, 8) AS h
            FROM tok CROSS JOIN range(8) r(i) WHERE t <> '' GROUP BY doc_id, i),
          sig AS (
            SELECT doc_id, string_agg(h, ',' ORDER BY i) AS signature
            FROM mh GROUP BY doc_id),
          bands AS (
            SELECT doc_id, b,
              parts[CAST(b * 2 + 1 AS INTEGER)] || '|' || parts[CAST(b * 2 + 2 AS INTEGER)] AS bucket
            FROM (SELECT doc_id, string_split(signature, ',') AS parts FROM sig)
            CROSS JOIN range(4) r(b))
          SELECT CAST(b AS INTEGER) AS band, bucket,
            CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS min_doc_id
          FROM bands GROUP BY band, bucket HAVING count(*) > 1
          ORDER BY band, bucket""",
    "q_simhash" ->
      """WITH tok AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
          bits AS (
            SELECT doc_id, j,
              CASE WHEN sum(CASE WHEN substring(md5(t), CAST(j + 1 AS INTEGER), 1)
                                  IN ('8','9','a','b','c','d','e','f')
                            THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END AS b
            FROM tok CROSS JOIN range(32) r(j) WHERE t <> '' GROUP BY doc_id, j)
          SELECT doc_id, string_agg(b, '' ORDER BY j) AS simhash
          FROM bits GROUP BY doc_id ORDER BY doc_id""",
    "q_ngram_jaccard" ->
      """WITH tok AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
          mh AS (
            SELECT doc_id, i,
              substring(min(md5(CAST(i AS VARCHAR) || '|' || t)), 1, 8) AS h
            FROM tok CROSS JOIN range(8) r(i) WHERE t <> '' GROUP BY doc_id, i),
          sig AS (
            SELECT doc_id, string_agg(h, ',' ORDER BY i) AS signature
            FROM mh GROUP BY doc_id),
          bands AS (
            SELECT doc_id, b,
              parts[CAST(b * 2 + 1 AS INTEGER)] || '|' || parts[CAST(b * 2 + 2 AS INTEGER)] AS bucket
            FROM (SELECT doc_id, string_split(signature, ',') AS parts FROM sig)
            CROSS JOIN range(4) r(b)),
          cand AS (
            SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
            FROM bands l JOIN bands r ON l.b = r.b AND l.bucket = r.bucket
            WHERE l.doc_id % 50 = 0 AND r.doc_id > l.doc_id),
          g AS (
            SELECT doc_id,
              list_distinct(list_transform(range(1, len(toks)),
                i -> toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i + 1 AS INTEGER)])) AS grams
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
          SELECT a_id, b_id,
            round(len(list_intersect(ga.grams, gb.grams)) * 1.0 /
              CASE WHEN len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams)) = 0
                   THEN 1
                   ELSE len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams)) END,
              6) AS jaccard
          FROM cand JOIN g ga ON ga.doc_id = a_id JOIN g gb ON gb.doc_id = b_id
          ORDER BY a_id, b_id""",
    "q_bucketed_jaccard" ->
      """WITH tok AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
          mh AS (
            SELECT doc_id, i,
              substring(min(md5(CAST(i AS VARCHAR) || '|' || t)), 1, 8) AS h
            FROM tok CROSS JOIN range(8) r(i) WHERE t <> '' GROUP BY doc_id, i),
          sig AS (
            SELECT doc_id, string_agg(h, ',' ORDER BY i) AS signature
            FROM mh GROUP BY doc_id),
          bands AS (
            SELECT doc_id, b,
              parts[CAST(b * 2 + 1 AS INTEGER)] || '|' || parts[CAST(b * 2 + 2 AS INTEGER)] AS bucket
            FROM (SELECT doc_id, string_split(signature, ',') AS parts FROM sig)
            CROSS JOIN range(4) r(b)),
          capped AS (
            SELECT doc_id, b, bucket FROM (
              SELECT doc_id, b, bucket,
                row_number() OVER (PARTITION BY b, bucket ORDER BY doc_id) AS rn
              FROM bands)
            WHERE rn <= 20),
          cand AS (
            SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
            FROM capped l JOIN capped r ON l.b = r.b AND l.bucket = r.bucket
            WHERE l.doc_id < r.doc_id),
          g AS (
            SELECT doc_id,
              list_distinct(list_transform(range(1, len(toks)),
                i -> toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i + 1 AS INTEGER)])) AS grams
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
          SELECT a_id, b_id, jaccard FROM (
            SELECT a_id, b_id,
              round(len(list_intersect(ga.grams, gb.grams)) * 1.0 /
                CASE WHEN len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams)) = 0
                     THEN 1
                     ELSE len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams)) END,
                6) AS jaccard
            FROM cand JOIN g ga ON ga.doc_id = a_id JOIN g gb ON gb.doc_id = b_id)
          WHERE jaccard >= 0.1 ORDER BY a_id, b_id""",
    "q_incremental_neardup" ->
      """WITH tok AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
          mh AS (
            SELECT doc_id, i,
              substring(min(md5(CAST(i AS VARCHAR) || '|' || t)), 1, 8) AS h
            FROM tok CROSS JOIN range(8) r(i) WHERE t <> '' GROUP BY doc_id, i),
          sig AS (
            SELECT doc_id, string_agg(h, ',' ORDER BY i) AS signature
            FROM mh GROUP BY doc_id),
          bands AS (
            SELECT doc_id, b,
              parts[CAST(b * 2 + 1 AS INTEGER)] || '|' || parts[CAST(b * 2 + 2 AS INTEGER)] AS bucket
            FROM (SELECT doc_id, string_split(signature, ',') AS parts FROM sig)
            CROSS JOIN range(4) r(b)),
          hist AS (
            SELECT doc_id, b, bucket FROM (
              SELECT doc_id, b, bucket,
                row_number() OVER (PARTITION BY b, bucket ORDER BY doc_id) AS rn
              FROM bands WHERE doc_id % 10 <> 0)
            WHERE rn <= 20),
          fresh AS (
            SELECT doc_id, b, bucket FROM (
              SELECT doc_id, b, bucket,
                row_number() OVER (PARTITION BY b, bucket ORDER BY doc_id) AS rn
              FROM bands WHERE doc_id % 10 = 0)
            WHERE rn <= 20),
          cand AS (
            SELECT DISTINCT f.doc_id AS a_id, h.doc_id AS b_id
            FROM fresh f JOIN hist h ON f.b = h.b AND f.bucket = h.bucket),
          g AS (
            SELECT doc_id,
              list_distinct(list_transform(range(1, len(toks)),
                i -> toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i + 1 AS INTEGER)])) AS grams
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
          scored AS (
            SELECT a_id, b_id,
              round(len(list_intersect(ga.grams, gb.grams)) * 1.0 /
                CASE WHEN len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams)) = 0
                     THEN 1
                     ELSE len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams)) END,
                6) AS jaccard
            FROM cand JOIN g ga ON ga.doc_id = a_id JOIN g gb ON gb.doc_id = b_id),
          ranked AS (
            SELECT a_id, b_id, jaccard,
              row_number() OVER (PARTITION BY a_id ORDER BY jaccard DESC, b_id) AS rn,
              count(*) OVER (PARTITION BY a_id) AS nc
            FROM scored)
          SELECT a_id AS new_id, b_id AS best_old_id, jaccard AS best_jaccard,
            CAST(nc AS BIGINT) AS n_candidates, jaccard >= 0.5 AS is_neardup
          FROM ranked WHERE rn = 1 ORDER BY new_id""",
    "q_knn_cosine" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
          p AS (
            SELECT q_id, vec_id,
              round(list_sum(list_transform(range(1, len(v) + 1),
                  i -> v[CAST(i AS INTEGER)] * qv[CAST(i AS INTEGER)])) /
                (sqrt(list_sum(list_transform(v, x -> x * x))) *
                 sqrt(list_sum(list_transform(qv, x -> x * x)))), 6) AS cosine
            FROM e CROSS JOIN q WHERE vec_id <> q_id)
          SELECT q_id, vec_id, cosine, CAST(rn AS INTEGER) AS rn FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY cosine DESC, vec_id) AS rn FROM p)
          WHERE rn <= 3 ORDER BY q_id, rn""",
    "q_cosine_neardup" ->
      """WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
              sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nv,
              array_to_string(list_transform(
                list_slice(CAST(embedding AS DOUBLE[]), 1, 8),
                x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
            FROM embeddings),
          p AS (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
              round(list_sum(list_transform(range(1, len(a.v) + 1),
                  i -> a.v[CAST(i AS INTEGER)] * b.v[CAST(i AS INTEGER)])) /
                (a.nv * b.nv), 6) AS cosine
            FROM e a JOIN e b ON a.bucket = b.bucket AND b.vec_id > a.vec_id
            WHERE a.vec_id % 20 = 0)
          SELECT a_id, b_id, cosine FROM p WHERE cosine >= 0.3
          ORDER BY a_id, b_id""",
    "q_ivf_topk" ->
      """WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
              sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nv
            FROM embeddings),
          c AS (SELECT vec_id AS c_id, v AS cv, nv AS nc FROM e WHERE vec_id < 8),
          scoredc AS (
            SELECT vec_id, v, nv, c_id,
              round(list_sum(list_transform(range(1, len(v) + 1),
                  i -> v[CAST(i AS INTEGER)] * cv[CAST(i AS INTEGER)])) / (nv * nc), 6) AS c_cos
            FROM e CROSS JOIN c),
          assigned AS (
            SELECT vec_id, v, nv, c_id AS cell FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY c_cos DESC, c_id) AS rn FROM scoredc)
            WHERE rn = 1),
          q AS (
            SELECT vec_id AS q_id, v AS qv, nv AS nq, cell AS q_cell
            FROM assigned WHERE vec_id >= 10 AND vec_id < 15),
          pairs AS (
            SELECT q_id, cell, a.vec_id,
              round(list_sum(list_transform(range(1, len(v) + 1),
                  i -> v[CAST(i AS INTEGER)] * qv[CAST(i AS INTEGER)])) / (nv * nq), 6) AS cosine
            FROM assigned a JOIN q ON a.cell = q.q_cell AND a.vec_id <> q.q_id)
          SELECT q_id, cell, vec_id, cosine, CAST(rn AS INTEGER) AS rn FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY cosine DESC, vec_id) AS rn FROM pairs)
          WHERE rn <= 3 ORDER BY q_id, rn""",
    "q_ivf_recall" ->
      """WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
              sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nv
            FROM embeddings),
          c AS (SELECT vec_id AS c_id, v AS cv, nv AS nc FROM e WHERE vec_id < 8),
          scoredc AS (
            SELECT vec_id, v, nv, c_id,
              round(list_sum(list_transform(range(1, len(v) + 1),
                  i -> v[CAST(i AS INTEGER)] * cv[CAST(i AS INTEGER)])) / (nv * nc), 6) AS c_cos
            FROM e CROSS JOIN c),
          assigned AS (
            SELECT vec_id, v, nv, c_id AS cell FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY c_cos DESC, c_id) AS rn FROM scoredc)
            WHERE rn = 1),
          q AS (
            SELECT vec_id AS q_id, v AS qv, nv AS nq, cell AS q_cell
            FROM assigned WHERE vec_id >= 10 AND vec_id < 15),
          ivf AS (
            SELECT q_id, vec_id FROM (
              SELECT q_id, a.vec_id,
                row_number() OVER (PARTITION BY q_id ORDER BY
                  round(list_sum(list_transform(range(1, len(v) + 1),
                    i -> v[CAST(i AS INTEGER)] * qv[CAST(i AS INTEGER)])) / (nv * nq), 6) DESC,
                  a.vec_id) AS rn
              FROM assigned a JOIN q ON a.cell = q.q_cell AND a.vec_id <> q.q_id)
            WHERE rn <= 3),
          exact AS (
            SELECT q_id, vec_id FROM (
              SELECT q_id, e.vec_id,
                row_number() OVER (PARTITION BY q_id ORDER BY
                  round(list_sum(list_transform(range(1, len(v) + 1),
                    i -> v[CAST(i AS INTEGER)] * qv[CAST(i AS INTEGER)])) / (nv * nq), 6) DESC,
                  e.vec_id) AS rn
              FROM e JOIN q ON e.vec_id <> q.q_id)
            WHERE rn <= 3)
          SELECT exact.q_id, CAST(count(*) AS BIGINT) AS n_exact,
            CAST(sum(CASE WHEN ivf.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
            round(sum(CASE WHEN ivf.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS recall
          FROM exact LEFT JOIN ivf ON exact.q_id = ivf.q_id AND exact.vec_id = ivf.vec_id
          GROUP BY exact.q_id ORDER BY exact.q_id""",
    // NDCG@3 of the IVF list vs the exact ordering; ideal DCG derived
    // from the exact ranks, binary relevance, both rankings on the
    // rounded cosine with the vec_id tie-break
    "q_ivf_ndcg" ->
      """WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
              sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nv
            FROM embeddings),
          c AS (SELECT vec_id AS c_id, v AS cv, nv AS nc FROM e WHERE vec_id < 8),
          scoredc AS (
            SELECT vec_id, v, nv, c_id,
              round(list_sum(list_transform(range(1, len(v) + 1),
                  i -> v[CAST(i AS INTEGER)] * cv[CAST(i AS INTEGER)])) / (nv * nc), 6) AS c_cos
            FROM e CROSS JOIN c),
          assigned AS (
            SELECT vec_id, v, nv, c_id AS cell FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY c_cos DESC, c_id) AS rn FROM scoredc)
            WHERE rn = 1),
          q AS (
            SELECT vec_id AS q_id, v AS qv, nv AS nq, cell AS q_cell
            FROM assigned WHERE vec_id >= 10 AND vec_id < 15),
          ivf AS (
            SELECT q_id, vec_id, rn FROM (
              SELECT q_id, a.vec_id,
                row_number() OVER (PARTITION BY q_id ORDER BY
                  round(list_sum(list_transform(range(1, len(v) + 1),
                    i -> v[CAST(i AS INTEGER)] * qv[CAST(i AS INTEGER)])) / (nv * nq), 6) DESC,
                  a.vec_id) AS rn
              FROM assigned a JOIN q ON a.cell = q.q_cell AND a.vec_id <> q.q_id)
            WHERE rn <= 3),
          exact AS (
            SELECT q_id, vec_id, rn AS ern FROM (
              SELECT q_id, e.vec_id,
                row_number() OVER (PARTITION BY q_id ORDER BY
                  round(list_sum(list_transform(range(1, len(v) + 1),
                    i -> v[CAST(i AS INTEGER)] * qv[CAST(i AS INTEGER)])) / (nv * nq), 6) DESC,
                  e.vec_id) AS rn
              FROM e JOIN q ON e.vec_id <> q.q_id)
            WHERE rn <= 3),
          dcg AS (
            SELECT ivf.q_id,
              sum((CASE WHEN exact.vec_id IS NOT NULL THEN 1.0 ELSE 0.0 END)
                / log2(ivf.rn + 1)) AS dcg
            FROM ivf LEFT JOIN exact
              ON ivf.q_id = exact.q_id AND ivf.vec_id = exact.vec_id
            GROUP BY ivf.q_id),
          idcg AS (
            SELECT q_id, sum(1.0 / log2(ern + 1)) AS idcg FROM exact GROUP BY q_id)
          SELECT idcg.q_id, round(coalesce(dcg.dcg, 0.0), 6) AS dcg,
            round(idcg.idcg, 6) AS idcg,
            round(coalesce(dcg.dcg, 0.0) / idcg.idcg, 6) AS ndcg
          FROM idcg LEFT JOIN dcg ON idcg.q_id = dcg.q_id
          ORDER BY idcg.q_id""",
    "q_ivf_nprobe" ->
      """WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
              sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nv
            FROM embeddings),
          c AS (SELECT vec_id AS c_id, v AS cv, nv AS nc FROM e WHERE vec_id < 8),
          scoredc AS (
            SELECT vec_id, v, nv, c_id,
              row_number() OVER (PARTITION BY vec_id ORDER BY
                round(list_sum(list_transform(range(1, len(v) + 1),
                  i -> v[CAST(i AS INTEGER)] * cv[CAST(i AS INTEGER)])) / (nv * nc), 6) DESC,
                c_id) AS crank
            FROM e CROSS JOIN c),
          assigned AS (
            SELECT vec_id, v, nv, c_id AS cell FROM scoredc WHERE crank = 1),
          qcells AS (
            SELECT vec_id AS q_id, v AS qv, nv AS nq, c_id AS q_cell, crank
            FROM scoredc WHERE vec_id >= 10 AND vec_id < 15 AND crank <= 4),
          nps AS (SELECT * FROM (VALUES (1), (2), (4)) t(np)),
          ivf AS (
            SELECT np, q_id, vec_id FROM (
              SELECT np, q_id, a.vec_id,
                row_number() OVER (PARTITION BY np, q_id ORDER BY
                  round(list_sum(list_transform(range(1, len(v) + 1),
                    i -> v[CAST(i AS INTEGER)] * qv[CAST(i AS INTEGER)])) / (nv * nq), 6) DESC,
                  a.vec_id) AS rn
              FROM assigned a
              JOIN qcells ON a.cell = qcells.q_cell AND a.vec_id <> qcells.q_id
              CROSS JOIN nps WHERE qcells.crank <= np)
            WHERE rn <= 3),
          q AS (SELECT vec_id AS q_id, v AS qv, nv AS nq FROM e
                WHERE vec_id >= 10 AND vec_id < 15),
          exact AS (
            SELECT np, q_id, vec_id FROM (
              SELECT q_id, e.vec_id,
                row_number() OVER (PARTITION BY q_id ORDER BY
                  round(list_sum(list_transform(range(1, len(v) + 1),
                    i -> v[CAST(i AS INTEGER)] * qv[CAST(i AS INTEGER)])) / (nv * nq), 6) DESC,
                  e.vec_id) AS rn
              FROM e JOIN q ON e.vec_id <> q.q_id)
            CROSS JOIN nps WHERE rn <= 3)
          SELECT CAST(exact.np AS INTEGER) AS np, exact.q_id,
            round(sum(CASE WHEN ivf.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS recall
          FROM exact LEFT JOIN ivf
            ON exact.np = ivf.np AND exact.q_id = ivf.q_id AND exact.vec_id = ivf.vec_id
          GROUP BY exact.np, exact.q_id ORDER BY np, exact.q_id""",
    "q_label_norms" ->
      """SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
          round(avg(norm), 6) AS avg_norm,
          round(min(norm), 6) AS min_norm,
          round(max(norm), 6) AS max_norm
          FROM (SELECT label,
                  sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                    x -> x * x))) AS norm
                FROM embeddings)
          GROUP BY label ORDER BY label""",
    "q_sign_buckets" ->
      """WITH b AS (
            SELECT vec_id,
              array_to_string(list_transform(
                list_slice(CAST(embedding AS DOUBLE[]), 1, 8),
                x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
            FROM embeddings)
          SELECT bucket, CAST(count(*) AS BIGINT) AS n_vectors, min(vec_id) AS min_vec_id
          FROM b GROUP BY bucket ORDER BY bucket""",
    "q_risk_score_expr" ->
      s"SELECT doc_id, $riskSql AS risk_score FROM documents ORDER BY doc_id",
    "q_multimodal_features" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
          round(list_sum(list_transform(range(1, length(text) + 1),
            i -> ascii(substring(text, CAST(i AS INTEGER), 1)))) * 1.0 / length(text), 6)
            AS mean_byte,
          CAST(list_max(list_transform(range(1, length(text) + 1),
            i -> ascii(substring(text, CAST(i AS INTEGER), 1)))) AS INTEGER) AS max_byte,
          CAST(list_min(list_transform(range(1, length(text) + 1),
            i -> ascii(substring(text, CAST(i AS INTEGER), 1)))) AS INTEGER) AS min_byte
          FROM documents ORDER BY doc_id""",
    "q_lang_profile" ->
      """SELECT doc_id, s_en, s_es, s_de,
          CASE WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
               WHEN s_es >= s_de THEN 'es' ELSE 'de' END AS predicted
          FROM (
            SELECT doc_id,
              CAST(list_contains(toks, 'the') AS INTEGER) + CAST(list_contains(toks, 'a') AS INTEGER)
                + CAST(list_contains(toks, 'is') AS INTEGER) + CAST(list_contains(toks, 'of') AS INTEGER) AS s_en,
              CAST(list_contains(toks, 'el') AS INTEGER) + CAST(list_contains(toks, 'la') AS INTEGER)
                + CAST(list_contains(toks, 'los') AS INTEGER) + CAST(list_contains(toks, 'de') AS INTEGER) AS s_es,
              CAST(list_contains(toks, 'der') AS INTEGER) + CAST(list_contains(toks, 'das') AS INTEGER)
                + CAST(list_contains(toks, 'und') AS INTEGER) + CAST(list_contains(toks, 'ist') AS INTEGER) AS s_de
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
          ORDER BY doc_id""",
    "q_quality_score" ->
      """WITH t AS (
            SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents),
          m AS (
            SELECT doc_id, len(toks) AS n_tokens,
              len(list_filter(toks, s -> s = 'the' OR s = 'a')) AS stop_hits
            FROM t)
          SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
            CAST(stop_hits AS INTEGER) AS stop_hits,
            round(stop_hits * 1.0 / n_tokens, 6) AS stop_ratio,
            round(least(1.0, n_tokens / 100.0) * 0.5
              + (1.0 - stop_hits * 1.0 / n_tokens) * 0.5, 6) AS quality
          FROM m ORDER BY doc_id""",
    "q_token_counts" ->
      """SELECT doc_id,
          CAST(len(regexp_split_to_array(text, '\s+')) AS INTEGER) AS ws_tokens,
          CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INTEGER) AS re_tokens,
          CAST(length(text) AS INTEGER) AS n_chars_actual
          FROM documents ORDER BY doc_id""",
    "q_fingerprint" ->
      """SELECT doc_id,
          CAST(list_sum(list_transform(range(1, length(text) + 1),
            i -> ascii(substring(text, CAST(i AS INTEGER), 1)) * i)) % 1000000007 AS BIGINT)
            AS fingerprint
          FROM documents ORDER BY doc_id""",
    "q_asof_join" ->
      """WITH e AS (
            SELECT event_id, epoch_ns(ts) AS ts_ns, user_id, event_type FROM events),
          u AS (
            SELECT user_id, ts_ns, 0 AS tag, event_id AS click_event_id,
                   CAST(NULL AS BIGINT) AS purchase_event_id
            FROM e WHERE event_type = 'click'
            UNION ALL
            SELECT user_id, ts_ns, 1 AS tag, CAST(NULL AS BIGINT), event_id
            FROM e WHERE event_type = 'purchase'),
          r AS (
            SELECT *, last_value(click_event_id IGNORE NULLS) OVER (
              PARTITION BY user_id ORDER BY ts_ns, tag, click_event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_click
            FROM u)
          SELECT purchase_event_id, user_id, ts_ns // 1000 AS ts_us, asof_click
          FROM r WHERE tag = 1 ORDER BY purchase_event_id""",
    "q_range_join" ->
      """SELECT band, CAST(count(*) AS BIGINT) AS n_orders,
          round(sum(o_totalprice), 2) AS total_price
          FROM orders
          JOIN (VALUES ('p0_50k', 0, 50000), ('p50k_150k', 50000, 150000),
                       ('p150k_300k', 150000, 300000),
                       ('p300k_plus', 300000, 1e308)) b(band, lo, hi)
            ON o_totalprice >= lo AND o_totalprice < hi
          GROUP BY band ORDER BY band""",
    "q_cube" ->
      """SELECT
          CASE WHEN GROUPING(event_type) = 1 THEN 'ALL' ELSE event_type END AS event_type,
          CASE WHEN GROUPING(size_class) = 1 THEN 'ALL' ELSE size_class END AS size_class,
          CAST(count(*) AS BIGINT) AS n,
          round(sum(value), 2) AS total_value
          FROM (SELECT event_type,
                  CASE WHEN value >= 100 THEN 'big' ELSE 'small' END AS size_class,
                  value
                FROM events)
          GROUP BY CUBE(event_type, size_class)
          ORDER BY event_type, size_class""",
    "q_pivot" ->
      """SELECT user_id % 10 AS cohort,
          CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
          CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
          CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
          CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
          CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
          FROM events GROUP BY cohort ORDER BY cohort""",
    "q_orders_by_month" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
          CAST(count(*) AS BIGINT) AS n_orders,
          round(sum(o_totalprice), 2) AS total_price,
          round(avg(o_totalprice), 2) AS avg_price,
          strftime(CAST(date_trunc('month', o_orderdate) AS DATE), '%Y-%m') AS month_label
          FROM orders
          GROUP BY date_trunc('month', o_orderdate)
          ORDER BY month""",
    "q_geomean_udaf" ->
      """SELECT event_type,
          round(exp(avg(ln(value))), 6) AS geo_mean_value,
          CAST(count(*) AS BIGINT) AS n
          FROM events WHERE value > 0
          GROUP BY event_type ORDER BY event_type""",
    "q_salted_agg" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
          round(sum(value), 2) AS total_value
          FROM events GROUP BY event_type ORDER BY event_type""",
    "q_grouping_sets" ->
      """SELECT
          CASE WHEN GROUPING(event_type) = 1 THEN 'ALL' ELSE event_type END AS event_type,
          CASE WHEN GROUPING(cohort) = 1 THEN -1 ELSE cohort END AS cohort,
          CAST(count(*) AS BIGINT) AS n,
          round(sum(value), 2) AS total_value
          FROM (SELECT event_type, user_id % 3 AS cohort, value FROM events)
          GROUP BY GROUPING SETS ((event_type), (cohort), ())
          ORDER BY event_type, cohort""",
    "q_argmax" ->
      """SELECT event_type,
          max_by(event_id, CAST(round(value * 100, 0) AS BIGINT) * 1000000000 + event_id)
            AS max_value_event,
          min_by(event_id, CAST(round(value * 100, 0) AS BIGINT) * 1000000000 + event_id)
            AS min_value_event,
          round(max(value), 2) AS max_value,
          round(min(value), 2) AS min_value
          FROM events GROUP BY event_type ORDER BY event_type""",
    "q_left_join_nulls" ->
      """SELECT c_custkey,
          CAST(count(o_orderkey) AS BIGINT) AS n_orders,
          round(coalesce(sum(o_totalprice), 0.0), 2) AS total_spent
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey ORDER BY c_custkey""",
    // cross-multiplied integer-cents threshold: exact on both engines
    "q_correlated_subquery" ->
      """WITH o AS (
            SELECT o_orderkey, o_custkey,
              CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
            FROM orders)
          SELECT o_orderkey, o_custkey, cents
          FROM o
          WHERE cents * 2 * (SELECT count(*) FROM o o2
                             WHERE o2.o_custkey = o.o_custkey)
              > 3 * (SELECT CAST(sum(o2.cents) AS BIGINT) FROM o o2
                     WHERE o2.o_custkey = o.o_custkey)
          ORDER BY o_orderkey""",
    "q_topk_values" ->
      """SELECT event_type,
          array_to_string(list_transform(
            list_slice(list(value ORDER BY value DESC), 1, 5),
            x -> CAST(CAST(round(x * 100, 0) AS BIGINT) AS VARCHAR)), ',') AS top_values
          FROM events GROUP BY event_type ORDER BY event_type""",
    "q_percentiles" ->
      """SELECT event_type,
          round(quantile_cont(value, 0.5), 6) AS p50,
          round(quantile_cont(value, 0.9), 6) AS p90,
          round(quantile_cont(value, 0.99), 6) AS p99,
          CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY event_type ORDER BY event_type""",
    "q_iqr_outliers" ->
      """WITH e AS (SELECT event_type, value FROM events),
          r AS (
            SELECT event_type, value,
              row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
              count(*) OVER (PARTITION BY event_type) AS n
            FROM e),
          f AS (
            SELECT event_type,
              min(CASE WHEN rn = (n - 1) // 4 + 1 THEN value END) AS p25,
              min(CASE WHEN rn = (n - 1) * 3 // 4 + 1 THEN value END) AS p75
            FROM r GROUP BY event_type),
          f2 AS (
            SELECT event_type, p25 - 1.5 * (p75 - p25) AS lo,
              p75 + 1.5 * (p75 - p25) AS hi
            FROM f)
          SELECT e.event_type, round(min(lo), 6) AS lo, round(min(hi), 6) AS hi,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END) AS BIGINT)
              AS n_outliers
          FROM e JOIN f2 USING (event_type)
          GROUP BY e.event_type ORDER BY e.event_type""",
    "q_bucketed_neardup" ->
      """WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
              sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nv,
              array_to_string(list_transform(
                list_slice(CAST(embedding AS DOUBLE[]), 1, 8),
                x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
            FROM embeddings)
          SELECT a.vec_id AS a_id, b.vec_id AS b_id,
            round(list_sum(list_transform(range(1, len(a.v) + 1),
                i -> a.v[CAST(i AS INTEGER)] * b.v[CAST(i AS INTEGER)])) /
              (a.nv * b.nv), 6) AS cosine
          FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
          WHERE round(list_sum(list_transform(range(1, len(a.v) + 1),
                i -> a.v[CAST(i AS INTEGER)] * b.v[CAST(i AS INTEGER)])) /
              (a.nv * b.nv), 6) >= 0.3
          ORDER BY a_id, b_id""",
    "q_neardup_components" ->
      """WITH RECURSIVE
          e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
              sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nv,
              array_to_string(list_transform(
                list_slice(CAST(embedding AS DOUBLE[]), 1, 8),
                x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
            FROM embeddings),
          p AS (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
              round(list_sum(list_transform(range(1, len(a.v) + 1),
                  i -> a.v[CAST(i AS INTEGER)] * b.v[CAST(i AS INTEGER)])) /
                (a.nv * b.nv), 6) AS cosine
            FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
          pairs AS (SELECT a_id, b_id FROM p WHERE cosine >= 0.3),
          edges AS (
            SELECT a_id AS a, b_id AS b FROM pairs
            UNION SELECT b_id, a_id FROM pairs),
          nodes AS (SELECT DISTINCT a AS node FROM edges),
          reach(node, label) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT ed.a, r.label FROM reach r JOIN edges ed ON ed.b = r.node)
          SELECT node, min(label) AS component
          FROM reach GROUP BY node ORDER BY node""",
    "q_corpus_pipeline" ->
      """WITH d AS (
            SELECT doc_id, lang,
              list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents),
          s AS (
            SELECT doc_id, lang, len(toks) AS n_tokens,
              md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
            FROM d),
          k AS (
            SELECT * FROM (
              SELECT *, min(doc_id) OVER (PARTITION BY fp) AS surviving FROM s)
            WHERE doc_id = surviving AND n_tokens >= 20),
          sp AS (
            SELECT lang, n_tokens,
              CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
                   WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c', 'd') THEN 'val'
                   ELSE 'test' END AS split
            FROM k)
          SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n_tokens) AS BIGINT) AS total_tokens
          FROM sp GROUP BY split, lang ORDER BY split, lang""",
    "q_funnel" ->
      """WITH e AS (
            SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us FROM events),
          fv AS (
            SELECT user_id, min(ts_us) AS first_view FROM e
            WHERE event_type = 'view' GROUP BY user_id),
          fc AS (
            SELECT e.user_id, min(ts_us) AS first_click FROM e JOIN fv USING (user_id)
            WHERE event_type = 'click' AND ts_us > first_view GROUP BY e.user_id),
          fp AS (
            SELECT e.user_id, min(ts_us) AS first_purchase FROM e JOIN fc USING (user_id)
            WHERE event_type = 'purchase' AND ts_us > first_click GROUP BY e.user_id)
          SELECT stage, n_users FROM (
            SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM fv
            UNION ALL SELECT '2_click', CAST(count(*) AS BIGINT) FROM fc
            UNION ALL SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM fp)
          ORDER BY stage""",
    // the z expression tree mirrors the engine exactly (rates and pooled
    // variance as quotients of the four BIGINT cells); significance reads
    // the ROUNDED z so a boundary value cannot flip between engines
    "q_ab_ztest" ->
      """WITH u AS (
            SELECT user_id,
              CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 5
                        > count(*) THEN 1 ELSE 0 END AS converted,
              substring(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7' AS in_a
            FROM events GROUP BY user_id),
          c AS (
            SELECT
              CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
              CAST(sum(CASE WHEN in_a THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
              CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
              CAST(sum(CASE WHEN NOT in_a THEN converted ELSE 0 END) AS BIGINT) AS conv_b
            FROM u)
          SELECT n_a, conv_a, n_b, conv_b,
            round(conv_a / CAST(n_a AS DOUBLE), 6) AS rate_a,
            round(conv_b / CAST(n_b AS DOUBLE), 6) AS rate_b,
            round((conv_a / CAST(n_a AS DOUBLE) - conv_b / CAST(n_b AS DOUBLE))
              / sqrt(((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                * (1.0 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                * (1.0 / n_a + 1.0 / n_b)), 6) AS z_score,
            abs(round((conv_a / CAST(n_a AS DOUBLE) - conv_b / CAST(n_b AS DOUBLE))
              / sqrt(((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                * (1.0 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                * (1.0 / n_a + 1.0 / n_b)), 6)) >= 1.96 AS significant
          FROM c""",
    "q_ctr_by_hour" ->
      """SELECT hour, CAST(views AS BIGINT) AS views, CAST(clicks AS BIGINT) AS clicks,
            round(clicks / CAST(nullif(views, 0) AS DOUBLE), 6) AS ctr
          FROM (
            SELECT (epoch_ns(ts) // 1000 // 3600000000) % 24 AS hour,
              sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS views,
              sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicks
            FROM events GROUP BY hour)
          ORDER BY hour""",
    "q_term_cooccurrence" ->
      """WITH dt AS (
            SELECT DISTINCT doc_id, t AS term FROM (
              SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
            WHERE t <> ''),
          dfq AS (SELECT term, count(*) AS df FROM dt GROUP BY term),
          top AS (SELECT term, df FROM dfq ORDER BY df DESC, term LIMIT 50),
          t AS (SELECT dt.doc_id, dt.term, top.df FROM dt JOIN top USING (term)),
          n AS (SELECT count(*) AS n_docs FROM documents),
          p AS (
            SELECT a.term AS a, b.term AS b, a.df AS ca, b.df AS cb,
              count(*) AS c_ab
            FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.term < b.term
            GROUP BY a.term, b.term, a.df, b.df)
          SELECT a, b, CAST(c_ab AS BIGINT) AS c_ab,
            round(ln((c_ab * (SELECT n_docs FROM n)) / (ca * cb)), 6) AS pmi
          FROM p WHERE c_ab >= 5 ORDER BY a, b""",
    "q_retention_cohorts" ->
      """WITH d AS (
            SELECT DISTINCT user_id,
              (epoch_ns(ts) // 1000) // 86400000000 AS day FROM events),
          c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY user_id)
          SELECT cohort_day, day - cohort_day AS day_offset,
            CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_users
          FROM d JOIN c USING (user_id)
          GROUP BY cohort_day, day_offset
          ORDER BY cohort_day, day_offset""",
    "q_rolling_1h" ->
      """SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us,
            CAST(count(*) OVER w AS BIGINT) AS n_1h,
            round(sum(value) OVER w, 2) AS value_1h
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY (epoch_ns(ts) // 1000)
                       RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
          ORDER BY event_id""",
    "q_scd2_intervals" ->
      """WITH e AS (
            SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS ts_us
            FROM events),
          f AS (
            SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
                             OR lag(event_type) OVER w <> event_type
                        THEN 1 ELSE 0 END AS chg
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
          g AS (
            SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                     ROWS UNBOUNDED PRECEDING) AS seq
            FROM f),
          i AS (
            SELECT user_id, CAST(seq AS BIGINT) AS seq, event_type,
              min(ts_us) AS valid_from_us, CAST(count(*) AS BIGINT) AS n_events
            FROM g GROUP BY user_id, seq, event_type)
          SELECT user_id, seq, event_type, valid_from_us,
            lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY seq) AS valid_to_us,
            n_events
          FROM i ORDER BY user_id, seq""",
    "q_latest_per_key" ->
      """SELECT user_id, event_id, event_type, ts_us, value FROM (
            SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS ts_us, value,
              row_number() OVER (PARTITION BY user_id
                ORDER BY epoch_ns(ts) // 1000 DESC, event_id DESC) AS rn
            FROM events)
          WHERE rn = 1 ORDER BY user_id""",
    "q_stratified_sample" ->
      """SELECT source, doc_id, CAST(rn AS INTEGER) AS rn FROM (
            SELECT source, doc_id,
              row_number() OVER (PARTITION BY source
                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
            FROM documents)
          WHERE rn <= 10 ORDER BY source, rn""",
    "q_label_centroids" ->
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          x AS (SELECT label, v, unnest(range(0, len(v))) AS dim FROM e)
          SELECT label, CAST(dim AS INTEGER) AS dim,
            round(avg(v[CAST(dim + 1 AS INTEGER)]), 6) AS centroid,
            CAST(count(*) AS BIGINT) AS n_vectors
          FROM x GROUP BY label, dim ORDER BY label, dim""",
    "q_minhash_est_exact" ->
      """WITH tok AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
          mh AS (
            SELECT doc_id, i,
              substring(min(md5(CAST(i AS VARCHAR) || '|' || t)), 1, 8) AS h
            FROM tok CROSS JOIN range(8) r(i) WHERE t <> '' GROUP BY doc_id, i),
          sig AS (
            SELECT doc_id, string_agg(h, ',' ORDER BY i) AS signature
            FROM mh GROUP BY doc_id),
          bands AS (
            SELECT doc_id, b,
              parts[CAST(b * 2 + 1 AS INTEGER)] || '|' || parts[CAST(b * 2 + 2 AS INTEGER)] AS bucket
            FROM (SELECT doc_id, string_split(signature, ',') AS parts FROM sig)
            CROSS JOIN range(4) r(b)),
          capped AS (
            SELECT doc_id, b, bucket FROM (
              SELECT doc_id, b, bucket,
                row_number() OVER (PARTITION BY b, bucket ORDER BY doc_id) AS rn
              FROM bands)
            WHERE rn <= 20),
          cand AS (
            SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
            FROM capped l JOIN capped r ON l.b = r.b AND l.bucket = r.bucket
            WHERE l.doc_id < r.doc_id),
          p AS (SELECT doc_id, string_split(signature, ',') AS parts FROM sig),
          ts AS (
            SELECT doc_id,
              list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS toks
            FROM documents)
          SELECT a_id, b_id,
            round(len(list_filter(range(1, 9), i ->
              pa.parts[CAST(i AS INTEGER)] = pb.parts[CAST(i AS INTEGER)])) / 8.0, 6)
              AS est_jaccard,
            round(len(list_intersect(ta.toks, tb.toks)) * 1.0 /
              CASE WHEN len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks)) = 0
                   THEN 1
                   ELSE len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks)) END,
              6) AS exact_jaccard
          FROM cand
          JOIN p pa ON pa.doc_id = a_id JOIN p pb ON pb.doc_id = b_id
          JOIN ts ta ON ta.doc_id = a_id JOIN ts tb ON tb.doc_id = b_id
          ORDER BY a_id, b_id""",
    "q_bm25_top_terms" ->
      """WITH tt AS (
            SELECT doc_id, term FROM (
              SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
            WHERE term <> ''),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM tt GROUP BY doc_id, term),
          dl AS (SELECT doc_id, count(*) AS dl FROM tt GROUP BY doc_id),
          dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
          s AS (
            SELECT CAST(count(*) AS DOUBLE) AS n,
              CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
            FROM dl),
          scored AS (
            SELECT tf.doc_id, tf.term,
              round(ln(1.0 + (s.n - df + 0.5) / (df + 0.5)) * (tf * 2.2) /
                (tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)), 6) AS score
            FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN s)
          SELECT doc_id, term, score, CAST(rn AS INTEGER) AS rn FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, term) AS rn FROM scored)
          WHERE rn <= 3 ORDER BY doc_id, rn""",
    "q_neardup_degrees" ->
      """WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
              sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nv,
              array_to_string(list_transform(
                list_slice(CAST(embedding AS DOUBLE[]), 1, 8),
                x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
            FROM embeddings),
          p AS (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id
            FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE round(list_sum(list_transform(range(1, len(a.v) + 1),
                  i -> a.v[CAST(i AS INTEGER)] * b.v[CAST(i AS INTEGER)])) /
                (a.nv * b.nv), 6) >= 0.3),
          n AS (SELECT a_id AS node FROM p UNION ALL SELECT b_id FROM p)
          SELECT node, CAST(count(*) AS BIGINT) AS degree
          FROM n GROUP BY node ORDER BY node""",
    "q_dedup_rate_by_source" ->
      """WITH f AS (
            SELECT source, md5(array_to_string(list_sort(list_distinct(
              list_filter(string_split(text, ' '), x -> x <> ''))), ' ')) AS fp
            FROM documents)
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
            round((count(*) - count(DISTINCT fp)) * 1.0 / count(*), 6) AS dup_rate
          FROM f GROUP BY source ORDER BY source""",
    "q_schema_profile" ->
      """WITH m AS (SELECT
            CAST(count(*) AS BIGINT) AS n_rows,
            CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu1,
            CAST(count(DISTINCT o_orderkey) AS BIGINT) AS nd1,
            round(CAST(min(o_orderkey) AS DOUBLE), 2) AS mn1,
            round(CAST(max(o_orderkey) AS DOUBLE), 2) AS mx1,
            CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu2,
            CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd2,
            round(CAST(min(o_custkey) AS DOUBLE), 2) AS mn2,
            round(CAST(max(o_custkey) AS DOUBLE), 2) AS mx2,
            CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu3,
            CAST(count(DISTINCT o_totalprice) AS BIGINT) AS nd3,
            round(CAST(min(o_totalprice) AS DOUBLE), 2) AS mn3,
            round(CAST(max(o_totalprice) AS DOUBLE), 2) AS mx3
          FROM orders)
          SELECT col_name, n_rows, n_nulls, n_distinct, min_val, max_val FROM (
            SELECT 'o_orderkey' AS col_name, n_rows, nu1 AS n_nulls, nd1 AS n_distinct,
              mn1 AS min_val, mx1 AS max_val FROM m
            UNION ALL SELECT 'o_custkey', n_rows, nu2, nd2, mn2, mx2 FROM m
            UNION ALL SELECT 'o_totalprice', n_rows, nu3, nd3, mn3, mx3 FROM m)
          ORDER BY col_name""",
    "q_dispersion" ->
      """SELECT event_type,
          round(stddev_samp(value), 4) AS stddev_value,
          round(var_samp(value), 4) AS var_value,
          round(corr(value, CAST((epoch_ns(ts) // 1000000000 // 3600) % 24 AS DOUBLE)), 6)
            AS corr_value_hour,
          CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY event_type ORDER BY event_type""",
    "q_seq_pack" ->
      """WITH t AS (
            SELECT source, doc_id,
              len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
            FROM documents),
          c AS (
            SELECT source, doc_id, n_tokens,
              sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start_off
            FROM t)
          SELECT source, CAST(start_off // 512 AS INTEGER) AS bin,
            CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
            min(doc_id) AS first_doc_id
          FROM c GROUP BY source, bin ORDER BY source, bin""",
    "q_weighted_sample" ->
      """WITH u AS (
            SELECT source, doc_id, n_chars,
              (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 1048576
              + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 65536
              + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 5, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 6, 1)) - 1) AS u_int
            FROM documents),
          k AS (
            SELECT source, doc_id, n_chars,
              round(ln((u_int + 1.0) / 16777217.0) / n_chars, 9) AS es_key
            FROM u)
          SELECT source, doc_id, CAST(n_chars AS INTEGER) AS weight, es_key,
            CAST(rn AS INTEGER) AS rn
          FROM (
            SELECT *, row_number() OVER (PARTITION BY source
              ORDER BY es_key DESC, doc_id) AS rn FROM k)
          WHERE rn <= 10 ORDER BY source, rn""",
    "q_token_budget" ->
      """WITH s AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT)
                AS total_tokens
            FROM documents GROUP BY source),
          t AS (SELECT CAST(sum(total_tokens) AS DOUBLE) AS grand FROM s)
          SELECT source, n_docs, total_tokens,
            round(total_tokens / grand, 6) AS share,
            round(sum(total_tokens) OVER (ORDER BY total_tokens DESC, source
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / grand, 6) AS cum_share
          FROM s CROSS JOIN t ORDER BY total_tokens DESC, source""",
    "q_dup_ngram_spans" ->
      """WITH t AS (
            SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents),
          g AS (
            SELECT doc_id,
              array_to_string(list_slice(toks, CAST(i AS INTEGER), CAST(i + 4 AS INTEGER)), ' ') AS gram
            FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i
                  FROM t WHERE len(toks) >= 5)),
          cnt AS (SELECT gram, count(*) AS n_occ FROM g GROUP BY gram)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
            CAST(sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
            round(sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
              AS dup_fraction
          FROM g JOIN cnt USING (gram) GROUP BY doc_id ORDER BY doc_id""",
    "q_unigram_logprob" ->
      """WITH tok AS (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
            FROM documents),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
          tc AS (SELECT term, sum(tf) AS n FROM tf GROUP BY term),
          s AS (SELECT CAST(sum(n) AS DOUBLE) + CAST(count(*) AS DOUBLE) AS denom FROM tc)
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
            round(sum(tf * ln((n + 1.0) / denom)) / sum(tf), 6) AS avg_logprob
          FROM tf JOIN tc USING (term) CROSS JOIN s
          GROUP BY doc_id ORDER BY doc_id""",
    "q_dim_stats" ->
      """WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          x AS (SELECT v, unnest(range(0, len(v))) AS dim FROM e)
          SELECT CAST(dim AS INTEGER) AS dim, CAST(count(*) AS BIGINT) AS n,
            round(avg(v[CAST(dim + 1 AS INTEGER)]), 6) AS mean_val,
            round(stddev_samp(v[CAST(dim + 1 AS INTEGER)]), 4) AS std_val,
            round(min(v[CAST(dim + 1 AS INTEGER)]), 6) AS min_val,
            round(max(v[CAST(dim + 1 AS INTEGER)]), 6) AS max_val
          FROM x GROUP BY dim ORDER BY dim""",
    "q_kmeans_step" ->
      """WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
              list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) AS nv2
            FROM embeddings),
          c AS (SELECT vec_id AS c_id, v AS cv, nv2 AS nc2 FROM e WHERE vec_id < 8),
          d AS (
            SELECT vec_id, v, c_id,
              round(nv2 + nc2 - 2.0 * list_sum(list_transform(range(1, len(v) + 1),
                i -> v[CAST(i AS INTEGER)] * cv[CAST(i AS INTEGER)])), 6) AS dist2
            FROM e CROSS JOIN c),
          a AS (
            SELECT vec_id, v, c_id AS cell, dist2 FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY dist2, c_id) AS rn FROM d)
            WHERE rn = 1),
          sz AS (
            SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors,
              round(sum(dist2), 6) AS inertia
            FROM a GROUP BY cell),
          nc AS (
            SELECT cell, dim, round(avg(v[CAST(dim + 1 AS INTEGER)]), 6) AS mu
            FROM (SELECT cell, v, unnest(range(0, len(v))) AS dim FROM a)
            GROUP BY cell, dim),
          sh AS (
            SELECT nc.cell,
              round(sqrt(sum((mu - cv[CAST(dim + 1 AS INTEGER)])
                           * (mu - cv[CAST(dim + 1 AS INTEGER)]))), 6) AS shift
            FROM nc JOIN c ON nc.cell = c.c_id GROUP BY nc.cell)
          SELECT sz.cell, n_vectors, inertia, shift
          FROM sz JOIN sh ON sz.cell = sh.cell ORDER BY sz.cell""",
    "q_zorder_layout" ->
      """WITH o AS (
            SELECT CAST(o_custkey % 256 AS BIGINT) AS x,
              CAST((EXTRACT(year FROM o_orderdate) * 12
                    + EXTRACT(month FROM o_orderdate)) % 256 AS BIGINT) AS y
            FROM orders),
          z AS (
            SELECT x, y,
              ((x >> 0) & 1) * 1 + ((y >> 0) & 1) * 2
              + ((x >> 1) & 1) * 4 + ((y >> 1) & 1) * 8
              + ((x >> 2) & 1) * 16 + ((y >> 2) & 1) * 32
              + ((x >> 3) & 1) * 64 + ((y >> 3) & 1) * 128
              + ((x >> 4) & 1) * 256 + ((y >> 4) & 1) * 512
              + ((x >> 5) & 1) * 1024 + ((y >> 5) & 1) * 2048
              + ((x >> 6) & 1) * 4096 + ((y >> 6) & 1) * 8192
              + ((x >> 7) & 1) * 16384 + ((y >> 7) & 1) * 32768 AS zkey
            FROM o)
          SELECT CAST(zkey >> 8 AS BIGINT) AS zbucket,
            CAST(count(*) AS BIGINT) AS n_orders,
            CAST(min(x) AS BIGINT) AS min_x, CAST(max(x) AS BIGINT) AS max_x,
            CAST(min(y) AS BIGINT) AS min_y, CAST(max(y) AS BIGINT) AS max_y
          FROM z GROUP BY zbucket ORDER BY zbucket""",
    "q_bigram_logprob" ->
      """WITH t AS (
            SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents),
          g AS (
            SELECT doc_id, toks[CAST(i AS INTEGER)] AS w1, toks[CAST(i + 1 AS INTEGER)] AS w2
            FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                  FROM t WHERE len(toks) >= 2)),
          tf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM g GROUP BY doc_id, w1, w2),
          bc AS (SELECT w1, w2, sum(tf) AS nb FROM tf GROUP BY w1, w2),
          uc AS (SELECT w1, sum(tf) AS na FROM tf GROUP BY w1),
          v AS (
            SELECT CAST(count(DISTINCT term) AS DOUBLE) AS vs
            FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                    AS term FROM documents))
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
            round(sum(tf * ln((nb + 1.0) / (na + vs))) / sum(tf), 6) AS avg_logprob
          FROM tf JOIN bc USING (w1, w2) JOIN uc USING (w1) CROSS JOIN v
          GROUP BY doc_id ORDER BY doc_id""",
    "q_ppx_buckets" ->
      """WITH tok AS (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
            FROM documents),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
          tc AS (SELECT term, sum(tf) AS n FROM tf GROUP BY term),
          s AS (SELECT CAST(sum(n) AS DOUBLE) + CAST(count(*) AS DOUBLE) AS denom FROM tc),
          sc AS (
            SELECT doc_id,
              round(sum(tf * ln((n + 1.0) / denom)) / sum(tf), 6) AS avg_logprob
            FROM tf JOIN tc USING (term) CROSS JOIN s GROUP BY doc_id),
          b AS (
            SELECT d.source, sc.doc_id, sc.avg_logprob,
              ntile(3) OVER (PARTITION BY d.source
                ORDER BY sc.avg_logprob DESC, sc.doc_id) AS t
            FROM sc JOIN documents d USING (doc_id))
          SELECT source,
            CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
            CAST(count(*) AS BIGINT) AS n_docs,
            round(avg(avg_logprob), 6) AS mean_logprob,
            round(min(avg_logprob), 6) AS min_logprob,
            round(max(avg_logprob), 6) AS max_logprob
          FROM b GROUP BY source, t ORDER BY source, bucket""",
    "q_token_entropy" ->
      """WITH tok AS (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
            FROM documents),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term)
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
            CAST(count(*) AS BIGINT) AS n_types,
            round(ln(sum(tf)) - sum(tf * ln(tf)) / sum(tf), 6) AS entropy,
            round(count(*) / CAST(sum(tf) AS DOUBLE), 6) AS ttr
          FROM tf GROUP BY doc_id ORDER BY doc_id""",
    "q_dim_corr" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          x AS (
            SELECT vec_id, CAST(dim AS INTEGER) AS dim, v[CAST(dim + 1 AS INTEGER)] AS x
            FROM (SELECT vec_id, v, unnest(range(0, len(v))) AS dim FROM e)),
          p AS (
            SELECT a.dim AS dim_i, b.dim AS dim_j,
              round(corr(a.x, b.x), 4) AS corr_val, CAST(count(*) AS BIGINT) AS n
            FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.dim < b.dim
            GROUP BY a.dim, b.dim)
          SELECT dim_i, dim_j, corr_val, n FROM p
          ORDER BY abs(corr_val) DESC, dim_i, dim_j LIMIT 20""",
    "q_neardup_triangles" ->
      """WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
              sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nv,
              array_to_string(list_transform(
                list_slice(CAST(embedding AS DOUBLE[]), 1, 8),
                x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
            FROM embeddings),
          p AS (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id
            FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE round(list_sum(list_transform(range(1, len(a.v) + 1),
                  i -> a.v[CAST(i AS INTEGER)] * b.v[CAST(i AS INTEGER)])) /
                (a.nv * b.nv), 6) >= 0.3),
          w AS (
            SELECT e1.a_id AS a, e1.b_id AS b, e2.b_id AS c
            FROM p e1 JOIN p e2 ON e1.b_id = e2.a_id),
          t AS (SELECT w.a, w.b, w.c FROM w JOIN p e3 ON w.a = e3.a_id AND w.c = e3.b_id),
          pn AS (
            SELECT node, count(*) AS nt FROM (
              SELECT a AS node FROM t
              UNION ALL SELECT b FROM t
              UNION ALL SELECT c FROM t)
            GROUP BY node),
          d AS (
            SELECT node, count(*) AS degree FROM (
              SELECT a_id AS node FROM p UNION ALL SELECT b_id FROM p)
            GROUP BY node)
          SELECT d.node, CAST(d.degree AS BIGINT) AS degree,
            CAST(coalesce(pn.nt, 0) AS BIGINT) AS n_triangles,
            CASE WHEN d.degree >= 2
              THEN round(2.0 * coalesce(pn.nt, 0) / (d.degree * (d.degree - 1)), 6)
            END AS clustering
          FROM d LEFT JOIN pn USING (node) ORDER BY d.node""",
    "q_pca_step" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          x AS (
            SELECT vec_id, CAST(dim AS INTEGER) AS dim, v[CAST(dim + 1 AS INTEGER)] AS x
            FROM (SELECT vec_id, v, unnest(range(0, len(v))) AS dim FROM e)),
          cov AS (
            SELECT a.dim AS i, b.dim AS j,
              (sum(a.x * b.x) - sum(a.x) * sum(b.x) / count(*)) / (count(*) - 1) AS c
            FROM x a JOIN x b ON a.vec_id = b.vec_id
            GROUP BY a.dim, b.dim),
          y AS (SELECT i, sum(c) / 8.0 AS y FROM cov GROUP BY i),
          n AS (SELECT sqrt(sum(y * y)) AS nrm FROM y)
          SELECT i AS dim, round(y, 6) AS cv0, round(y / nrm, 6) AS loading,
            round(nrm, 6) AS eigval_est
          FROM y CROSS JOIN n ORDER BY dim""",
    "q_simhash_radius" ->
      """WITH tok AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
          bits AS (
            SELECT doc_id, j,
              CASE WHEN sum(CASE WHEN substring(md5(t), CAST(j + 1 AS INTEGER), 1)
                                  IN ('8','9','a','b','c','d','e','f')
                            THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END AS b
            FROM tok CROSS JOIN range(32) r(j) WHERE t <> '' GROUP BY doc_id, j),
          sig AS (
            SELECT doc_id, string_agg(b, '' ORDER BY j) AS simhash
            FROM bits GROUP BY doc_id),
          bands AS (
            SELECT doc_id, simhash, b,
              substring(simhash, CAST(b * 8 + 1 AS INTEGER), 8) AS bucket
            FROM sig CROSS JOIN range(4) r(b)),
          capped AS (
            SELECT b, bucket, doc_id, simhash FROM (
              SELECT *, row_number() OVER (PARTITION BY b, bucket
                ORDER BY doc_id) AS rn FROM bands)
            WHERE rn <= 8),
          cand AS (
            SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id,
              l.simhash AS a_sim, r.simhash AS b_sim
            FROM capped l JOIN capped r
              ON l.b = r.b AND l.bucket = r.bucket AND l.doc_id < r.doc_id)
          SELECT a_id, b_id,
            CAST(len(list_filter(range(1, 33), j ->
              substring(a_sim, CAST(j AS INTEGER), 1)
                <> substring(b_sim, CAST(j AS INTEGER), 1))) AS INTEGER) AS hamming
          FROM cand
          WHERE len(list_filter(range(1, 33), j ->
              substring(a_sim, CAST(j AS INTEGER), 1)
                <> substring(b_sim, CAST(j AS INTEGER), 1))) <= 3
          ORDER BY a_id, b_id""",
    "q_contamination_by_source" ->
      """WITH t AS (
            SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents),
          g AS (
            SELECT doc_id, list_distinct(list_transform(range(1, greatest(1, len(toks) - 1)),
              i -> array_to_string(list_slice(toks, CAST(i AS INTEGER), CAST(i + 2 AS INTEGER)), ' '))) AS grams
            FROM t),
          x AS (SELECT doc_id, unnest(grams) AS gram FROM g),
          bench AS (SELECT DISTINCT gram FROM x WHERE doc_id < 5),
          hit AS (
            SELECT DISTINCT x.doc_id FROM x JOIN bench USING (gram)
            WHERE x.doc_id >= 5),
          d AS (SELECT doc_id, source FROM documents WHERE doc_id >= 5)
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(CASE WHEN hit.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
              AS n_contaminated,
            round(sum(CASE WHEN hit.doc_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
              / count(*), 6) AS contamination_rate
          FROM d LEFT JOIN hit USING (doc_id)
          GROUP BY source ORDER BY source""",
    "q_filter_funnel" ->
      """WITH tok AS (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
            FROM documents),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
          m AS (
            SELECT doc_id, sum(tf) AS n_tokens, count(*) AS n_types, max(tf) AS max_tf,
              sum(CASE WHEN term IN ('a', 'the') THEN tf ELSE 0 END) AS stop_hits
            FROM tf GROUP BY doc_id),
          s AS (
            SELECT count(*) AS s0,
              sum(CASE WHEN n_tokens >= 20 THEN 1 ELSE 0 END) AS s1,
              sum(CASE WHEN n_tokens >= 20 AND n_tokens <= 400 THEN 1 ELSE 0 END) AS s2,
              sum(CASE WHEN n_tokens >= 20 AND n_tokens <= 400
                        AND n_types * 10 >= n_tokens * 3 THEN 1 ELSE 0 END) AS s3,
              sum(CASE WHEN n_tokens >= 20 AND n_tokens <= 400
                        AND n_types * 10 >= n_tokens * 3
                        AND max_tf * 10 <= n_tokens * 2 THEN 1 ELSE 0 END) AS s4,
              sum(CASE WHEN n_tokens >= 20 AND n_tokens <= 400
                        AND n_types * 10 >= n_tokens * 3
                        AND max_tf * 10 <= n_tokens * 2
                        AND stop_hits >= 1 THEN 1 ELSE 0 END) AS s5
            FROM m)
          SELECT stage, CAST(n AS BIGINT) AS n_surviving,
            round(n * 1.0 / s0, 6) AS survival_rate
          FROM (
            SELECT '0_all' AS stage, s0 AS n, s0 FROM s
            UNION ALL SELECT '1_minlen', s1, s0 FROM s
            UNION ALL SELECT '2_maxlen', s2, s0 FROM s
            UNION ALL SELECT '3_diversity', s3, s0 FROM s
            UNION ALL SELECT '4_repetition', s4, s0 FROM s
            UNION ALL SELECT '5_stopwords', s5, s0 FROM s)
          ORDER BY stage""",
    "q_idf_drift" ->
      """WITH d AS (
            SELECT doc_id, text,
              CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
                   WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c', 'd') THEN 'val'
                   ELSE 'test' END AS part
            FROM documents),
          x AS (
            SELECT part, doc_id,
              unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS term
            FROM d WHERE part <> 'test'),
          f AS (
            SELECT term,
              sum(CASE WHEN part = 'train' THEN 1 ELSE 0 END) AS df_train,
              sum(CASE WHEN part = 'val' THEN 1 ELSE 0 END) AS df_val
            FROM x GROUP BY term),
          n AS (
            SELECT sum(CASE WHEN part = 'train' THEN 1 ELSE 0 END) AS nt,
              sum(CASE WHEN part = 'val' THEN 1 ELSE 0 END) AS nv
            FROM d WHERE part <> 'test')
          SELECT term, CAST(df_train AS BIGINT) AS df_train,
            CAST(df_val AS BIGINT) AS df_val,
            round(ln((df_train + 1.0) / (nt + 1.0))
              - ln((df_val + 1.0) / (nv + 1.0)), 6) AS drift
          FROM f CROSS JOIN n
          ORDER BY abs(round(ln((df_train + 1.0) / (nt + 1.0))
            - ln((df_val + 1.0) / (nv + 1.0)), 6)) DESC, term
          LIMIT 50""",
    "q_containment" ->
      """WITH tok AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
          mh AS (
            SELECT doc_id, i,
              substring(min(md5(CAST(i AS VARCHAR) || '|' || t)), 1, 8) AS h
            FROM tok CROSS JOIN range(8) r(i) WHERE t <> '' GROUP BY doc_id, i),
          sig AS (
            SELECT doc_id, string_agg(h, ',' ORDER BY i) AS signature
            FROM mh GROUP BY doc_id),
          bands AS (
            SELECT doc_id, b,
              parts[CAST(b * 2 + 1 AS INTEGER)] || '|' || parts[CAST(b * 2 + 2 AS INTEGER)] AS bucket
            FROM (SELECT doc_id, string_split(signature, ',') AS parts FROM sig)
            CROSS JOIN range(4) r(b)),
          capped AS (
            SELECT doc_id, b, bucket FROM (
              SELECT doc_id, b, bucket,
                row_number() OVER (PARTITION BY b, bucket ORDER BY doc_id) AS rn
              FROM bands)
            WHERE rn <= 20),
          cand AS (
            SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
            FROM capped l JOIN capped r ON l.b = r.b AND l.bucket = r.bucket
            WHERE l.doc_id < r.doc_id),
          g AS (
            SELECT doc_id,
              list_distinct(list_transform(range(1, len(toks)),
                i -> toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i + 1 AS INTEGER)])) AS grams
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
          SELECT a_id, b_id, containment_a, containment_b FROM (
            SELECT a_id, b_id,
              round(len(list_intersect(ga.grams, gb.grams)) * 1.0 /
                CASE WHEN len(ga.grams) = 0 THEN 1 ELSE len(ga.grams) END, 6)
                AS containment_a,
              round(len(list_intersect(ga.grams, gb.grams)) * 1.0 /
                CASE WHEN len(gb.grams) = 0 THEN 1 ELSE len(gb.grams) END, 6)
                AS containment_b
            FROM cand JOIN g ga ON ga.doc_id = a_id JOIN g gb ON gb.doc_id = b_id)
          WHERE greatest(containment_a, containment_b) >= 0.8
          ORDER BY a_id, b_id""",
    "q_lsh_curve" ->
      """WITH tok AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
          mh AS (
            SELECT doc_id, i,
              substring(min(md5(CAST(i AS VARCHAR) || '|' || t)), 1, 8) AS h
            FROM tok CROSS JOIN range(8) r(i) WHERE t <> '' GROUP BY doc_id, i),
          sig AS (SELECT doc_id, list(h ORDER BY i) AS parts FROM mh GROUP BY doc_id),
          pbs AS (
            SELECT doc_id, parts,
              substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS pb
            FROM sig),
          p AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.parts AS am, b.parts AS bm
            FROM pbs a JOIN pbs b ON a.pb = b.pb AND a.doc_id < b.doc_id),
          sc AS (
            SELECT a_id, b_id,
              len(list_filter(range(1, 9),
                i -> am[CAST(i AS INTEGER)] = bm[CAST(i AS INTEGER)])) AS n_match,
              len(list_filter(range(0, 4), k ->
                am[CAST(k * 2 + 1 AS INTEGER)] = bm[CAST(k * 2 + 1 AS INTEGER)]
                AND am[CAST(k * 2 + 2 AS INTEGER)] = bm[CAST(k * 2 + 2 AS INTEGER)])) > 0
                AS c_b4r2,
              len(list_filter(range(0, 2), k ->
                len(list_filter(range(1, 5), i ->
                  am[CAST(k * 4 + i AS INTEGER)] = bm[CAST(k * 4 + i AS INTEGER)])) = 4)) > 0
                AS c_b2r4
            FROM p)
          SELECT CAST(n_match AS INTEGER) AS n_match,
            CAST(count(*) AS BIGINT) AS n_pairs,
            round(sum(CASE WHEN n_match >= 1 THEN 1 ELSE 0 END)
              / CAST(count(*) AS DOUBLE), 6) AS rate_b8r1,
            round(sum(CASE WHEN c_b4r2 THEN 1 ELSE 0 END)
              / CAST(count(*) AS DOUBLE), 6) AS rate_b4r2,
            round(sum(CASE WHEN c_b2r4 THEN 1 ELSE 0 END)
              / CAST(count(*) AS DOUBLE), 6) AS rate_b2r4
          FROM sc GROUP BY n_match ORDER BY n_match""",
    "q_dedup_savings" ->
      """WITH tok AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
          bits AS (
            SELECT doc_id, j,
              CASE WHEN sum(CASE WHEN substring(md5(t), CAST(j + 1 AS INTEGER), 1)
                                  IN ('8','9','a','b','c','d','e','f')
                            THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END AS b
            FROM tok CROSS JOIN range(32) r(j) WHERE t <> '' GROUP BY doc_id, j),
          sh AS (SELECT doc_id, string_agg(b, '' ORDER BY j) AS k FROM bits GROUP BY doc_id),
          keyed AS (
            SELECT d.doc_id, d.n_chars,
              md5(d.text) AS k_exact,
              md5(array_to_string(list_sort(list_distinct(
                list_filter(string_split(d.text, ' '), x -> x <> ''))), ' ')) AS k_tokenset,
              coalesce(sh.k, repeat('0', 32)) AS k_simhash
            FROM documents d LEFT JOIN sh ON d.doc_id = sh.doc_id),
          t AS (
            SELECT CAST(count(*) AS DOUBLE) AS nd, CAST(sum(n_chars) AS DOUBLE) AS nc
            FROM keyed),
          m1 AS (
            SELECT '1_exact_text' AS method,
              CAST(sum(cnt - 1) AS BIGINT) AS docs_dropped,
              CAST(sum(chars - kept) AS BIGINT) AS chars_dropped
            FROM (SELECT count(*) AS cnt, sum(n_chars) AS chars,
                    arg_min(n_chars, doc_id) AS kept
                  FROM keyed GROUP BY k_exact)),
          m2 AS (
            SELECT '2_token_set' AS method,
              CAST(sum(cnt - 1) AS BIGINT), CAST(sum(chars - kept) AS BIGINT)
            FROM (SELECT count(*) AS cnt, sum(n_chars) AS chars,
                    arg_min(n_chars, doc_id) AS kept
                  FROM keyed GROUP BY k_tokenset)),
          m3 AS (
            SELECT '3_simhash' AS method,
              CAST(sum(cnt - 1) AS BIGINT), CAST(sum(chars - kept) AS BIGINT)
            FROM (SELECT count(*) AS cnt, sum(n_chars) AS chars,
                    arg_min(n_chars, doc_id) AS kept
                  FROM keyed GROUP BY k_simhash))
          SELECT method, docs_dropped, chars_dropped,
            round(docs_dropped / nd, 6) AS docs_pct,
            round(chars_dropped / nc, 6) AS chars_pct
          FROM (SELECT * FROM m1 UNION ALL SELECT * FROM m2 UNION ALL SELECT * FROM m3)
          CROSS JOIN t ORDER BY method""",
    // three unrolled Lloyd iterations; centroids quantized to 6 dp between
    // steps exactly like the engine does, so both sides iterate on
    // IDENTICAL doubles and summation-order drift cannot compound
    "q_kmeans_iters" ->
      """WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
              list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) AS nv2
            FROM embeddings),
          c0 AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 8),
          d1 AS (
            SELECT e.vec_id, e.v, c.c_id,
              round(e.nv2 + list_sum(list_transform(c.cv, x -> x * x))
                - 2.0 * list_sum(list_transform(range(1, len(e.v) + 1),
                    i -> e.v[CAST(i AS INTEGER)] * c.cv[CAST(i AS INTEGER)])), 6) AS dist2
            FROM e CROSS JOIN c0 c),
          a1 AS (
            SELECT vec_id, v, c_id AS cell, dist2 FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY dist2, c_id) AS rn FROM d1) WHERE rn = 1),
          s1 AS (
            SELECT CAST(1 AS INTEGER) AS iter, cell, CAST(count(*) AS BIGINT) AS n_vectors,
              round(sum(dist2), 6) AS inertia
            FROM a1 GROUP BY cell),
          c1 AS (
            SELECT cell AS c_id, list(mu ORDER BY dim) AS cv FROM (
              SELECT cell, dim, round(avg(v[CAST(dim + 1 AS INTEGER)]), 6) AS mu
              FROM (SELECT cell, v, unnest(range(0, len(v))) AS dim FROM a1)
              GROUP BY cell, dim) GROUP BY cell),
          d2 AS (
            SELECT e.vec_id, e.v, c.c_id,
              round(e.nv2 + list_sum(list_transform(c.cv, x -> x * x))
                - 2.0 * list_sum(list_transform(range(1, len(e.v) + 1),
                    i -> e.v[CAST(i AS INTEGER)] * c.cv[CAST(i AS INTEGER)])), 6) AS dist2
            FROM e CROSS JOIN c1 c),
          a2 AS (
            SELECT vec_id, v, c_id AS cell, dist2 FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY dist2, c_id) AS rn FROM d2) WHERE rn = 1),
          s2 AS (
            SELECT CAST(2 AS INTEGER) AS iter, cell, CAST(count(*) AS BIGINT) AS n_vectors,
              round(sum(dist2), 6) AS inertia
            FROM a2 GROUP BY cell),
          c2 AS (
            SELECT cell AS c_id, list(mu ORDER BY dim) AS cv FROM (
              SELECT cell, dim, round(avg(v[CAST(dim + 1 AS INTEGER)]), 6) AS mu
              FROM (SELECT cell, v, unnest(range(0, len(v))) AS dim FROM a2)
              GROUP BY cell, dim) GROUP BY cell),
          d3 AS (
            SELECT e.vec_id, e.v, c.c_id,
              round(e.nv2 + list_sum(list_transform(c.cv, x -> x * x))
                - 2.0 * list_sum(list_transform(range(1, len(e.v) + 1),
                    i -> e.v[CAST(i AS INTEGER)] * c.cv[CAST(i AS INTEGER)])), 6) AS dist2
            FROM e CROSS JOIN c2 c),
          a3 AS (
            SELECT vec_id, v, c_id AS cell, dist2 FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY dist2, c_id) AS rn FROM d3) WHERE rn = 1),
          s3 AS (
            SELECT CAST(3 AS INTEGER) AS iter, cell, CAST(count(*) AS BIGINT) AS n_vectors,
              round(sum(dist2), 6) AS inertia
            FROM a3 GROUP BY cell)
          SELECT iter, cell, n_vectors, inertia
          FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
          ORDER BY iter, cell""",
    // the corpus is ASCII, so byte offsets == char offsets — here and in
    // q_frame_sample below, DuckDB's ord()/substring over the VARCHAR
    // sees exactly the bytes Spark's kernels see in the BINARY payload.
    // content-defined chunking: cut after 1-based position i (4 <= i < n)
    // when the last-4-byte rolling sum is 0 mod 64 — the exact contract
    // of the native chunk_split kernel; chunks never empty
    "q_cdc_chunks" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
          b AS (
            SELECT doc_id, text, n,
              list_filter(range(4, n), i ->
                (ord(substring(text, CAST(i AS INTEGER), 1))
                 + ord(substring(text, CAST(i - 1 AS INTEGER), 1))
                 + ord(substring(text, CAST(i - 2 AS INTEGER), 1))
                 + ord(substring(text, CAST(i - 3 AS INTEGER), 1))) % 64 = 0) AS bnds
            FROM d WHERE n > 0),
          seg AS (
            SELECT doc_id, text,
              list_prepend(CAST(1 AS BIGINT), list_transform(bnds, x -> x + 1)) AS starts,
              list_append(bnds, CAST(n AS BIGINT)) AS ends
            FROM b),
          ch AS (
            SELECT doc_id,
              md5(substring(text, CAST(starts[CAST(j AS INTEGER)] AS INTEGER),
                CAST(ends[CAST(j AS INTEGER)] - starts[CAST(j AS INTEGER)] + 1 AS INTEGER)))
                AS chunk
            FROM (SELECT doc_id, text, starts, ends,
                    unnest(range(1, len(starts) + 1)) AS j
                  FROM seg)),
          census AS (SELECT chunk, count(*) AS n_occ FROM ch GROUP BY chunk)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
            CAST(sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
            round(CAST(sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
              / count(*), 6) AS dup_fraction
          FROM ch JOIN census USING (chunk)
          GROUP BY doc_id ORDER BY doc_id""",
    "q_frame_sample" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
          f AS (
            SELECT doc_id, text,
              CAST(ceil(n / 64.0) AS BIGINT) AS n_frames
            FROM d),
          s AS (
            SELECT doc_id, n_frames,
              list_transform(range(0, (n_frames - 1) // 4 + 1),
                k -> md5(substring(text, CAST(k * 256 + 1 AS INTEGER), 64))) AS hs
            FROM f)
          SELECT doc_id, n_frames, CAST(len(hs) AS BIGINT) AS n_sampled,
            md5(array_to_string(hs, '')) AS sample_digest
          FROM s ORDER BY doc_id""",
    "q_cluster_sizes" ->
      """WITH RECURSIVE
          e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
              sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nv,
              array_to_string(list_transform(
                list_slice(CAST(embedding AS DOUBLE[]), 1, 8),
                x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
            FROM embeddings),
          p AS (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
              round(list_sum(list_transform(range(1, len(a.v) + 1),
                  i -> a.v[CAST(i AS INTEGER)] * b.v[CAST(i AS INTEGER)])) /
                (a.nv * b.nv), 6) AS cosine
            FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
          pairs AS (SELECT a_id, b_id FROM p WHERE cosine >= 0.3),
          edges AS (
            SELECT a_id AS a, b_id AS b FROM pairs
            UNION SELECT b_id, a_id FROM pairs),
          nodes AS (SELECT DISTINCT a AS node FROM edges),
          reach(node, label) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT ed.a, r.label FROM reach r JOIN edges ed ON ed.b = r.node),
          comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node),
          cs AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
          SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
            CAST(count(*) AS BIGINT) AS n_clusters
          FROM cs GROUP BY cluster_size ORDER BY cluster_size""",
    "q_temperature_mix" ->
      """WITH s AS (
            SELECT source,
              CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT)
                AS tokens
            FROM documents GROUP BY source),
          t AS (SELECT CAST(sum(tokens) AS DOUBLE) AS tot FROM s),
          z AS (SELECT sum(pow(tokens / tot, 0.3)) AS z FROM s CROSS JOIN t)
          SELECT source, tokens,
            round(tokens / tot, 6) AS raw_share,
            round(pow(tokens / tot, 0.3) / z, 6) AS temp_share,
            round((pow(tokens / tot, 0.3) / z) / (tokens / tot), 6) AS upsample
          FROM s CROSS JOIN t CROSS JOIN z ORDER BY source""",
    "q_bpe_pairs" ->
      """WITH tok AS (
            SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
            FROM documents),
          tc AS (SELECT term, count(*) AS n FROM tok GROUP BY term),
          p AS (
            SELECT term, n,
              unnest(list_transform(range(1, length(term)),
                i -> substring(term, CAST(i AS INTEGER), 2))) AS pair
            FROM tc WHERE length(term) >= 2)
          SELECT pair, CAST(sum(n) AS BIGINT) AS corpus_count,
            CAST(count(DISTINCT term) AS BIGINT) AS n_terms
          FROM p GROUP BY pair ORDER BY corpus_count DESC, pair LIMIT 30""",
    "q_corpus_card" ->
      """WITH d AS (
            SELECT doc_id, source, lang, n_chars,
              CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                AS BIGINT) AS n_tokens,
              md5(text) AS h
            FROM documents),
          a AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
              CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
              CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
              CAST(sum(n_chars) AS BIGINT) AS total_chars,
              CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
              CAST(count(DISTINCT h) AS BIGINT) AS n_unique_texts
            FROM d)
          SELECT n_docs, n_sources, n_langs, total_chars, total_tokens,
            n_unique_texts,
            round(CAST(total_tokens AS DOUBLE) / n_docs, 6) AS mean_tokens_per_doc,
            round(1.0 - CAST(n_unique_texts AS DOUBLE) / n_docs, 6) AS exact_dup_rate
          FROM a""",
    // skip-gram window pairs: map-only forward expansion, canonical
    // least/greatest orientation, exact integer distance cells, GloVe
    // weight from those cells (no float accumulation)
    "q_skipgram_pairs" ->
      """WITH tok AS (
            SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
            FROM documents),
          top AS (
            SELECT term FROM (SELECT term, count(*) AS n FROM tok GROUP BY term
              ORDER BY n DESC, term LIMIT 50)),
          t AS (
            SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents),
          p AS (
            SELECT least(toks[CAST(i AS INTEGER)], toks[CAST(i + d AS INTEGER)]) AS a,
              greatest(toks[CAST(i AS INTEGER)], toks[CAST(i + d AS INTEGER)]) AS b,
              d
            FROM (
              SELECT toks, i, unnest(range(1, least(3, len(toks) - i) + 1)) AS d
              FROM (SELECT toks, unnest(range(1, len(toks))) AS i
                    FROM t WHERE len(toks) >= 2))),
          f AS (
            SELECT a, b, d FROM p
            WHERE a <> b AND a IN (SELECT term FROM top)
              AND b IN (SELECT term FROM top)),
          g AS (
            SELECT a, b,
              CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_d1,
              CAST(sum(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_d2,
              CAST(sum(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_d3,
              CAST(count(*) AS BIGINT) AS n_total
            FROM f GROUP BY a, b)
          SELECT a, b, n_d1, n_d2, n_d3, n_total,
            round(CAST(n_d1 * 6 + n_d2 * 3 + n_d3 * 2 AS DOUBLE) / 6.0, 6)
              AS glove_weight
          FROM g WHERE n_total >= 5 ORDER BY a, b""",
    // the first 3 BPE merges, unrolled (the iterative-loop oracle
    // pattern q_kmeans_iters uses): each step counts weighted adjacent
    // symbol pairs, picks the (count DESC, pair ASC) winner, and applies
    // the double-spaced padded replace so adjacent occurrences sharing a
    // boundary space all merge; totals are recomputed on the merged vocab
    "q_bpe_merges" ->
      """WITH tok AS (
            SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
            FROM documents),
          tc AS (SELECT term, count(*) AS n FROM tok GROUP BY term),
          v0 AS (
            SELECT n, array_to_string(list_transform(range(1, length(term) + 1),
              i -> substring(term, CAST(i AS INTEGER), 1)), ' ') AS repr
            FROM tc),
          p1 AS (
            SELECT syms[CAST(i AS INTEGER)] || ' ' || syms[CAST(i + 1 AS INTEGER)] AS pair, n
            FROM (SELECT n, syms, unnest(range(1, len(syms))) AS i
                  FROM (SELECT n, string_split(repr, ' ') AS syms FROM v0)
                  WHERE len(syms) >= 2)),
          m1 AS (
            SELECT string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[2] AS b, cnt
            FROM (SELECT pair, sum(n) AS cnt FROM p1 GROUP BY pair
                  ORDER BY cnt DESC, pair LIMIT 1)),
          v1 AS (
            SELECT v.n, trim(replace(replace(
                ' ' || replace(v.repr, ' ', '  ') || ' ',
                ' ' || m.a || '  ' || m.b || ' ',
                ' ' || m.a || m.b || ' '), '  ', ' ')) AS repr
            FROM v0 v CROSS JOIN m1 m),
          p2 AS (
            SELECT syms[CAST(i AS INTEGER)] || ' ' || syms[CAST(i + 1 AS INTEGER)] AS pair, n
            FROM (SELECT n, syms, unnest(range(1, len(syms))) AS i
                  FROM (SELECT n, string_split(repr, ' ') AS syms FROM v1)
                  WHERE len(syms) >= 2)),
          m2 AS (
            SELECT string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[2] AS b, cnt
            FROM (SELECT pair, sum(n) AS cnt FROM p2 GROUP BY pair
                  ORDER BY cnt DESC, pair LIMIT 1)),
          v2 AS (
            SELECT v.n, trim(replace(replace(
                ' ' || replace(v.repr, ' ', '  ') || ' ',
                ' ' || m.a || '  ' || m.b || ' ',
                ' ' || m.a || m.b || ' '), '  ', ' ')) AS repr
            FROM v1 v CROSS JOIN m2 m),
          p3 AS (
            SELECT syms[CAST(i AS INTEGER)] || ' ' || syms[CAST(i + 1 AS INTEGER)] AS pair, n
            FROM (SELECT n, syms, unnest(range(1, len(syms))) AS i
                  FROM (SELECT n, string_split(repr, ' ') AS syms FROM v2)
                  WHERE len(syms) >= 2)),
          m3 AS (
            SELECT string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[2] AS b, cnt
            FROM (SELECT pair, sum(n) AS cnt FROM p3 GROUP BY pair
                  ORDER BY cnt DESC, pair LIMIT 1)),
          v3 AS (
            SELECT v.n, trim(replace(replace(
                ' ' || replace(v.repr, ' ', '  ') || ' ',
                ' ' || m.a || '  ' || m.b || ' ',
                ' ' || m.a || m.b || ' '), '  ', ' ')) AS repr
            FROM v2 v CROSS JOIN m3 m),
          t1 AS (SELECT CAST(sum(n * len(string_split(repr, ' '))) AS BIGINT) AS ts FROM v1),
          t2 AS (SELECT CAST(sum(n * len(string_split(repr, ' '))) AS BIGINT) AS ts FROM v2),
          t3 AS (SELECT CAST(sum(n * len(string_split(repr, ' '))) AS BIGINT) AS ts FROM v3)
          SELECT CAST(1 AS INTEGER) AS step, a || ' ' || b AS merged_pair,
            CAST(cnt AS BIGINT) AS pair_count,
            (SELECT ts FROM t1) AS total_symbols_after FROM m1
          UNION ALL SELECT CAST(2 AS INTEGER), a || ' ' || b, CAST(cnt AS BIGINT),
            (SELECT ts FROM t2) FROM m2
          UNION ALL SELECT CAST(3 AS INTEGER), a || ' ' || b, CAST(cnt AS BIGINT),
            (SELECT ts FROM t3) FROM m3
          ORDER BY step""",
    "q_ngram_diversity" ->
      """WITH t AS (
            SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents),
          g1 AS (SELECT unnest(toks) AS gram FROM t WHERE len(toks) >= 1),
          g2 AS (
            SELECT array_to_string(list_slice(toks, CAST(i AS INTEGER),
              CAST(i + 1 AS INTEGER)), ' ') AS gram
            FROM (SELECT toks, unnest(range(1, len(toks))) AS i
                  FROM t WHERE len(toks) >= 2)),
          g3 AS (
            SELECT array_to_string(list_slice(toks, CAST(i AS INTEGER),
              CAST(i + 2 AS INTEGER)), ' ') AS gram
            FROM (SELECT toks, unnest(range(1, len(toks) - 1)) AS i
                  FROM t WHERE len(toks) >= 3))
          SELECT n, total_grams, distinct_grams,
            round(distinct_grams / CAST(total_grams AS DOUBLE), 6) AS diversity
          FROM (
            SELECT CAST(1 AS INTEGER) AS n, CAST(count(*) AS BIGINT) AS total_grams,
              CAST(count(DISTINCT gram) AS BIGINT) AS distinct_grams FROM g1
            UNION ALL SELECT CAST(2 AS INTEGER), CAST(count(*) AS BIGINT),
              CAST(count(DISTINCT gram) AS BIGINT) FROM g2
            UNION ALL SELECT CAST(3 AS INTEGER), CAST(count(*) AS BIGINT),
              CAST(count(DISTINCT gram) AS BIGINT) FROM g3)
          ORDER BY n""",
    "q_zipf_fit" ->
      """WITH tok AS (
            SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
            FROM documents),
          tc AS (SELECT term, count(*) AS n FROM tok GROUP BY term),
          r AS (
            SELECT ln(CAST(row_number() OVER (ORDER BY n DESC, term) AS DOUBLE)) AS x,
              ln(CAST(n AS DOUBLE)) AS y
            FROM tc)
          SELECT CAST(count(*) AS BIGINT) AS n_terms,
            round(regr_slope(y, x), 4) AS zipf_slope,
            round(regr_intercept(y, x), 4) AS intercept,
            round(regr_r2(y, x), 4) AS r2
          FROM r""",
    // three unrolled fixed-point iterations; every step is integer floor
    // arithmetic (// in DuckDB, div in Spark — identical for positives)
    // so ranks are bit-exact BIGINTs on both engines, no quantization
    "q_pagerank" ->
      """WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
              sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nv,
              array_to_string(list_transform(
                list_slice(CAST(embedding AS DOUBLE[]), 1, 8),
                x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
            FROM embeddings),
          p AS (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
              round(list_sum(list_transform(range(1, len(a.v) + 1),
                  i -> a.v[CAST(i AS INTEGER)] * b.v[CAST(i AS INTEGER)])) /
                (a.nv * b.nv), 6) AS cosine
            FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
          pairs AS (SELECT a_id, b_id FROM p WHERE cosine >= 0.3),
          edges AS (
            SELECT a_id AS a, b_id AS b FROM pairs
            UNION SELECT b_id, a_id FROM pairs),
          deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS deg
                  FROM edges GROUP BY a),
          nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
          r0 AS (SELECT node, 1000000000 // n AS r FROM deg CROSS JOIN nn),
          f1 AS (SELECT ed.a AS node, CAST(sum(r.r // d.deg) AS BIGINT) AS inflow
                 FROM edges ed JOIN r0 r ON ed.b = r.node
                 JOIN deg d ON ed.b = d.node GROUP BY ed.a),
          r1 AS (SELECT deg.node,
                   ((1000000000 // nn.n) * 15) // 100
                     + (85 * coalesce(f1.inflow, 0)) // 100 AS r
                 FROM deg CROSS JOIN nn LEFT JOIN f1 ON f1.node = deg.node),
          f2 AS (SELECT ed.a AS node, CAST(sum(r.r // d.deg) AS BIGINT) AS inflow
                 FROM edges ed JOIN r1 r ON ed.b = r.node
                 JOIN deg d ON ed.b = d.node GROUP BY ed.a),
          r2 AS (SELECT deg.node,
                   ((1000000000 // nn.n) * 15) // 100
                     + (85 * coalesce(f2.inflow, 0)) // 100 AS r
                 FROM deg CROSS JOIN nn LEFT JOIN f2 ON f2.node = deg.node),
          f3 AS (SELECT ed.a AS node, CAST(sum(r.r // d.deg) AS BIGINT) AS inflow
                 FROM edges ed JOIN r2 r ON ed.b = r.node
                 JOIN deg d ON ed.b = d.node GROUP BY ed.a),
          r3 AS (SELECT deg.node,
                   ((1000000000 // nn.n) * 15) // 100
                     + (85 * coalesce(f3.inflow, 0)) // 100 AS r
                 FROM deg CROSS JOIN nn LEFT JOIN f3 ON f3.node = deg.node)
          SELECT deg.node, deg.deg AS degree, CAST(r3.r AS BIGINT) AS rank_ppb
          FROM deg JOIN r3 ON r3.node = deg.node
          ORDER BY deg.node""",
    // ASCII corpus: Spark's codepoint levenshtein == DuckDB's
    "q_edit_blocked" ->
      """WITH d AS (
            SELECT doc_id, text, substring(text, 1, 32) AS blk, n_chars
            FROM documents)
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
            CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
            round(1.0 - levenshtein(a.text, b.text)
              / CAST(greatest(a.n_chars, b.n_chars) AS DOUBLE), 6) AS similarity
          FROM d a JOIN d b
            ON a.blk = b.blk AND a.doc_id < b.doc_id
            AND abs(a.n_chars - b.n_chars) <= 16
          ORDER BY a_id, b_id""",
    // first-occurrence trick: cumulative vocabulary = running sum of
    // per-doc new-term counts; regr_* moments are engine-identical at 4 dp
    "q_heaps_fit" ->
      """WITH d AS (
            SELECT source, doc_id,
              list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents),
          t AS (SELECT source, doc_id, unnest(toks) AS term FROM d),
          fo AS (SELECT source, term, min(doc_id) AS doc_id
                 FROM t GROUP BY source, term),
          nt AS (SELECT source, doc_id, CAST(count(*) AS BIGINT) AS new_terms
                 FROM fo GROUP BY source, doc_id),
          pts AS (
            SELECT d.source,
              ln(CAST(sum(len(d.toks)) OVER (PARTITION BY d.source
                ORDER BY d.doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE)) AS x,
              ln(CAST(sum(coalesce(nt.new_terms, 0)) OVER (PARTITION BY d.source
                ORDER BY d.doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE)) AS y
            FROM d LEFT JOIN nt ON nt.source = d.source AND nt.doc_id = d.doc_id)
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
            round(regr_slope(y, x), 4) AS heaps_beta,
            round(exp(regr_intercept(y, x)), 4) AS heaps_k,
            round(regr_r2(y, x), 4) AS r2
          FROM pts GROUP BY source ORDER BY source""",
    // exact lower-median order statistics (the q_iqr_outliers rank trick);
    // the 2.5*1.4826 factor is the single literal 3.7065 on both engines
    "q_mad_outliers" ->
      """WITH e AS (SELECT event_type, value FROM events),
          r AS (SELECT event_type, value,
              row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
              count(*) OVER (PARTITION BY event_type) AS n
            FROM e),
          med AS (SELECT event_type,
              min(CASE WHEN rn = (n - 1) // 2 + 1 THEN value END) AS med
            FROM r GROUP BY event_type),
          dv AS (SELECT e.event_type, m.med, abs(e.value - m.med) AS dev
            FROM e JOIN med m USING (event_type)),
          rr AS (SELECT event_type, dev,
              row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
              count(*) OVER (PARTITION BY event_type) AS n
            FROM dv),
          mad AS (SELECT event_type,
              min(CASE WHEN rn = (n - 1) // 2 + 1 THEN dev END) AS mad
            FROM rr GROUP BY event_type)
          SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
            round(min(d.med), 6) AS med, round(min(m.mad), 6) AS mad,
            CAST(sum(CASE WHEN d.dev > 3.7065 * m.mad THEN 1 ELSE 0 END)
              AS BIGINT) AS n_outliers
          FROM dv d JOIN mad m USING (event_type)
          GROUP BY d.event_type ORDER BY d.event_type""",
    // MERGE INTO semantics: latest-per-key base FULL OUTER latest-per-key
    // delta; checksum sums exact centi-value BIGINTs
    "q_merge_upsert" ->
      """WITH e AS (
            SELECT event_id, user_id, value, epoch_ns(ts) // 1000 AS ts_us
            FROM events WHERE event_type = 'purchase'),
          base AS (SELECT user_id, value AS base_value FROM (
              SELECT user_id, value, row_number() OVER (PARTITION BY user_id
                ORDER BY ts_us DESC, event_id DESC) AS rn
              FROM e WHERE ts_us < 1704412800000000) WHERE rn = 1),
          delta AS (SELECT user_id, value AS delta_value FROM (
              SELECT user_id, value, row_number() OVER (PARTITION BY user_id
                ORDER BY ts_us DESC, event_id DESC) AS rn
              FROM e WHERE ts_us >= 1704412800000000
                AND ts_us < 1704758400000000) WHERE rn = 1),
          m AS (SELECT
              CASE WHEN b.base_value IS NULL THEN 'insert'
                   WHEN d.delta_value IS NULL THEN 'retain'
                   ELSE 'update' END AS action,
              CAST(round(coalesce(d.delta_value, b.base_value) * 100, 0)
                AS BIGINT) AS final_cents
            FROM base b FULL OUTER JOIN delta d ON b.user_id = d.user_id)
          SELECT action, CAST(count(*) AS BIGINT) AS n_users,
            CAST(sum(final_cents) AS BIGINT) AS sum_cents
          FROM m GROUP BY action ORDER BY action""",
    // D maximized in cross-multiplied integer space (exact BIGINTs);
    // one division on the final row only
    "q_ks_drift" ->
      """WITH s AS (SELECT n_chars AS len,
              CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b'
                     THEN 'train'
                   WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c', 'd')
                     THEN 'val' END AS split
            FROM documents),
          c AS (SELECT len,
              CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS c_train,
              CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS c_val
            FROM s WHERE split IS NOT NULL GROUP BY len),
          w AS (SELECT len,
              sum(c_train) OVER (ORDER BY len
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_t,
              sum(c_val) OVER (ORDER BY len
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_v,
              sum(c_train) OVER () AS n_train,
              sum(c_val) OVER () AS n_val
            FROM c),
          dd AS (SELECT *,
              abs(cum_t * n_val - cum_v * n_train) AS d_num,
              max(abs(cum_t * n_val - cum_v * n_train)) OVER () AS max_d
            FROM w)
          SELECT CAST(n_train AS BIGINT) AS n_train,
            CAST(n_val AS BIGINT) AS n_val,
            CAST(min(len) AS BIGINT) AS at_len,
            round(CAST(max_d AS DOUBLE) / CAST(n_train * n_val AS DOUBLE), 6)
              AS ks_stat
          FROM dd WHERE d_num = max_d
          GROUP BY n_train, n_val, max_d ORDER BY at_len""",
    // PSI over exact integer length bins; p and q keep the same
    // expression tree as the engine (quotients first, then the ratio)
    "q_psi_drift" ->
      """WITH s AS (SELECT n_chars // 100 AS bin,
              CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b'
                     THEN 'train'
                   WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c', 'd')
                     THEN 'val' END AS split
            FROM documents),
          b AS (SELECT bin,
              CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
              CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val
            FROM s WHERE split IS NOT NULL GROUP BY bin),
          w AS (SELECT bin, n_train, n_val,
              sum(n_train) OVER () AS nt, sum(n_val) OVER () AS nv,
              count(*) OVER () AS nb
            FROM b)
          SELECT bin, n_train, n_val,
            round((n_train + 1.0) / (nt + nb), 6) AS p_train,
            round((n_val + 1.0) / (nv + nb), 6) AS p_val,
            round(((n_train + 1.0) / (nt + nb) - (n_val + 1.0) / (nv + nb))
              * ln(((n_train + 1.0) / (nt + nb)) / ((n_val + 1.0) / (nv + nb))), 6)
              AS psi_term
          FROM w ORDER BY bin""",
    // HHI/effective-count from exact BIGINT Σt and Σt² with one final
    // division each; entropy via H = ln T − Σ t·ln t / T
    "q_source_hhi" ->
      """WITH s AS (
            SELECT source,
              CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> '')))
                AS BIGINT) AS tokens
            FROM documents GROUP BY source),
          a AS (SELECT CAST(count(*) AS BIGINT) AS n_sources,
              CAST(sum(tokens) AS BIGINT) AS total_tokens,
              CAST(sum(tokens * tokens) AS BIGINT) AS sum_sq,
              CAST(max(tokens) AS BIGINT) AS max_tokens,
              sum(tokens * ln(CAST(tokens AS DOUBLE))) AS t_lnt
            FROM s)
          SELECT n_sources, total_tokens,
            round(sum_sq / CAST(total_tokens * total_tokens AS DOUBLE), 6) AS hhi,
            round(CAST(total_tokens * total_tokens AS DOUBLE) / sum_sq, 4)
              AS effective_sources,
            round(max_tokens / CAST(total_tokens AS DOUBLE), 6) AS top_share,
            round(ln(CAST(total_tokens AS DOUBLE)) - t_lnt / total_tokens, 6)
              AS entropy
          FROM a""",
    // two md5 hex digits mod 32 — the q_weighted_sample strpos expansion
    "q_shard_skew" ->
      """WITH d AS (SELECT
              ((strpos('0123456789abcdef',
                  substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                + (strpos('0123456789abcdef',
                    substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) % 32 AS shard,
              len(list_filter(string_split(text, ' '), x -> x <> '')) AS n
            FROM documents),
          g AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n) AS BIGINT) AS n_tokens
            FROM d GROUP BY shard),
          t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS td,
              CAST(sum(n_tokens) AS BIGINT) AS tt FROM g)
          SELECT CAST(shard AS BIGINT) AS shard, n_docs, n_tokens,
            round(CAST(n_docs * 32 AS DOUBLE) / td, 6) AS docs_skew,
            round(CAST(n_tokens * 32 AS DOUBLE) / tt, 6) AS tokens_skew
          FROM g CROSS JOIN t ORDER BY shard""",
    // exact rank-selected p05/p95 fences; values clamp against exact
    // doubles, only the final means round
    "q_winsorized" ->
      """WITH e AS (SELECT event_type, value FROM events),
          r AS (SELECT event_type, value,
              row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
              count(*) OVER (PARTITION BY event_type) AS n
            FROM e),
          f AS (SELECT event_type,
              min(CASE WHEN rn = (n - 1) * 5 // 100 + 1 THEN value END) AS lo,
              min(CASE WHEN rn = (n - 1) * 95 // 100 + 1 THEN value END) AS hi
            FROM r GROUP BY event_type)
          SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
            round(min(f.lo), 6) AS p05, round(min(f.hi), 6) AS p95,
            round(avg(e.value), 6) AS mean_raw,
            round(avg(least(greatest(e.value, f.lo), f.hi)), 6) AS mean_winsorized,
            CAST(sum(CASE WHEN e.value < f.lo OR e.value > f.hi
              THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
          FROM e JOIN f USING (event_type)
          GROUP BY e.event_type ORDER BY e.event_type""",
    // centroids quantized to 6 dp before the distance pass (the k-means
    // handoff discipline); fence is an exact per-label order statistic
    "q_centroid_outliers" ->
      """WITH e AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
              list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) AS nv2
            FROM embeddings),
          c AS (
            SELECT label, list(mu ORDER BY dim) AS cv FROM (
              SELECT label, dim, round(avg(v[CAST(dim + 1 AS INTEGER)]), 6) AS mu
              FROM (SELECT label, v, unnest(range(0, len(v))) AS dim FROM e)
              GROUP BY label, dim) GROUP BY label),
          d AS (
            SELECT e.label,
              round(e.nv2 + list_sum(list_transform(c.cv, x -> x * x))
                - 2.0 * list_sum(list_transform(range(1, len(e.v) + 1),
                    i -> e.v[CAST(i AS INTEGER)] * c.cv[CAST(i AS INTEGER)])), 6) AS dist2
            FROM e JOIN c USING (label)),
          r AS (SELECT label, dist2,
              row_number() OVER (PARTITION BY label ORDER BY dist2) AS rn,
              count(*) OVER (PARTITION BY label) AS n
            FROM d),
          f AS (SELECT label,
              min(CASE WHEN rn = (n - 1) * 95 // 100 + 1 THEN dist2 END) AS fence
            FROM r GROUP BY label)
          SELECT d.label, CAST(count(*) AS BIGINT) AS n_vectors,
            round(min(f.fence), 6) AS p95_dist2,
            CAST(sum(CASE WHEN d.dist2 > f.fence THEN 1 ELSE 0 END) AS BIGINT)
              AS n_outliers,
            round(max(d.dist2), 6) AS max_dist2
          FROM d JOIN f USING (label)
          GROUP BY d.label ORDER BY d.label""",
    // hapax set via the global term spectrum; rates are exact BIGINT
    // ratios with one division per source row
    "q_hapax_docs" ->
      """WITH t AS (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '),
              x -> x <> '')) AS term
            FROM documents),
          h AS (SELECT term FROM t GROUP BY term HAVING count(*) = 1),
          pd AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hapax
            FROM t WHERE term IN (SELECT term FROM h) GROUP BY doc_id),
          d AS (
            SELECT doc_id, source,
              CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                AS BIGINT) AS n_tokens
            FROM documents)
          SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(d.n_tokens) AS BIGINT) AS total_tokens,
            CAST(sum(coalesce(pd.n_hapax, 0)) AS BIGINT) AS total_hapax,
            round(sum(coalesce(pd.n_hapax, 0))
              / CAST(sum(d.n_tokens) AS DOUBLE), 6) AS hapax_rate,
            CAST(sum(CASE WHEN coalesce(pd.n_hapax, 0) > 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS docs_with_hapax,
            CAST(max(coalesce(pd.n_hapax, 0)) AS BIGINT) AS max_hapax
          FROM d LEFT JOIN pd ON pd.doc_id = d.doc_id
          GROUP BY d.source ORDER BY d.source""",
    // ---- round-5 divergence tier: identical smoothing grid (capped
    // vocabulary, add-one) and identical double arithmetic on both
    // engines; sums rounded at 6 dp
    "q_unigram_kl" ->
      """WITH tok AS (
            SELECT source, unnest(list_filter(string_split(text, ' '),
              x -> x <> '')) AS term
            FROM documents),
          st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
                 FROM tok GROUP BY 1, 2),
          vocab AS (
            SELECT term, CAST(sum(c) AS BIGINT) AS ct FROM st GROUP BY term
            ORDER BY ct DESC, term LIMIT 4096),
          stv AS (SELECT st.source, st.term, st.c FROM st JOIN vocab USING (term)),
          stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS ts
                   FROM stv GROUP BY source),
          tv AS (SELECT CAST(sum(ct) AS DOUBLE) AS t,
                   CAST(count(*) AS DOUBLE) AS v FROM vocab),
          grid AS (
            SELECT s.source, s.ts, vb.term, vb.ct, coalesce(c.c, 0) AS c0
            FROM stot s CROSS JOIN vocab vb
            LEFT JOIN stv c ON c.source = s.source AND c.term = vb.term)
          SELECT g.source, g.ts AS n_tokens,
            round(sum(((g.c0 + 1.0) / (g.ts + tv.v)) *
              log2(((g.c0 + 1.0) / (g.ts + tv.v)) /
                   ((g.ct + 1.0) / (tv.t + tv.v)))), 6) AS kl_bits
          FROM grid g CROSS JOIN tv
          GROUP BY g.source, g.ts ORDER BY g.source""",
    "q_keyness_g2" ->
      """WITH tok AS (
            SELECT source, unnest(list_filter(string_split(text, ' '),
              x -> x <> '')) AS term
            FROM documents),
          st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
                 FROM tok GROUP BY 1, 2),
          vocab AS (
            SELECT term, CAST(sum(c) AS BIGINT) AS ct FROM st GROUP BY term
            ORDER BY ct DESC, term LIMIT 4096),
          stv AS (SELECT st.source, st.term, st.c FROM st JOIN vocab USING (term)),
          stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS ts
                   FROM stv GROUP BY source),
          tv AS (SELECT CAST(sum(ct) AS DOUBLE) AS t FROM vocab),
          grid AS (
            SELECT s.source, s.ts, vb.term, vb.ct, coalesce(c.c, 0) AS c0
            FROM stot s CROSS JOIN vocab vb
            LEFT JOIN stv c ON c.source = s.source AND c.term = vb.term)
          SELECT g.source, g.term, g.c0 AS n_src,
            round(2.0 * (
              CASE WHEN g.c0 > 0 THEN CAST(g.c0 AS DOUBLE) *
                ln(CAST(g.c0 AS DOUBLE) /
                   (CAST(g.ts AS DOUBLE) * g.ct / tv.t)) ELSE 0.0 END +
              CASE WHEN g.ct - g.c0 > 0 THEN CAST(g.ct - g.c0 AS DOUBLE) *
                ln(CAST(g.ct - g.c0 AS DOUBLE) /
                   ((tv.t - g.ts) * g.ct / tv.t)) ELSE 0.0 END), 6) AS g2,
            CASE WHEN CAST(g.c0 AS DOUBLE) / CAST(g.ts AS DOUBLE) >
              g.ct / tv.t THEN 'over' ELSE 'under' END AS direction
          FROM grid g CROSS JOIN tv
          ORDER BY g.source, g.term""",
    "q_source_js" ->
      """WITH tok AS (
            SELECT source, unnest(list_filter(string_split(text, ' '),
              x -> x <> '')) AS term
            FROM documents),
          st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
                 FROM tok GROUP BY 1, 2),
          vocab AS (
            SELECT term, CAST(sum(c) AS BIGINT) AS ct FROM st GROUP BY term
            ORDER BY ct DESC, term LIMIT 4096),
          stv AS (SELECT st.source, st.term, st.c FROM st JOIN vocab USING (term)),
          stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS ts
                   FROM stv GROUP BY source),
          tv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM vocab),
          gp AS (
            SELECT s.source, vb.term,
              (coalesce(c.c, 0) + 1.0) / (s.ts + tv.v) AS p
            FROM stot s CROSS JOIN vocab vb CROSS JOIN tv
            LEFT JOIN stv c ON c.source = s.source AND c.term = vb.term)
          SELECT a.source AS src_a, b.source AS src_b,
            round(sum(
              0.5 * a.p * log2(a.p / ((a.p + b.p) / 2.0)) +
              0.5 * b.p * log2(b.p / ((a.p + b.p) / 2.0))), 6) AS js_bits
          FROM gp a JOIN gp b ON a.term = b.term AND a.source < b.source
          GROUP BY a.source, b.source ORDER BY src_a, src_b""",
    "q_lm_classify" ->
      """WITH tok AS (
            SELECT source, unnest(list_filter(string_split(text, ' '),
              x -> x <> '')) AS term
            FROM documents),
          st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
                 FROM tok GROUP BY 1, 2),
          vocab AS (
            SELECT term, CAST(sum(c) AS BIGINT) AS ct FROM st GROUP BY term
            ORDER BY ct DESC, term LIMIT 4096),
          stv AS (SELECT st.source, st.term, st.c FROM st JOIN vocab USING (term)),
          stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS ts
                   FROM stv GROUP BY source),
          tv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM vocab),
          lm AS (
            SELECT s.source AS cand, vb.term,
              ln((coalesce(c.c, 0) + 1.0) / (s.ts + tv.v)) AS lp
            FROM stot s CROSS JOIN vocab vb CROSS JOIN tv
            LEFT JOIN stv c ON c.source = s.source AND c.term = vb.term),
          dtok AS (
            SELECT doc_id, source, unnest(list_filter(string_split(text, ' '),
              x -> x <> '')) AS term
            FROM documents),
          dtf AS (SELECT doc_id, source, term, CAST(count(*) AS BIGINT) AS tf
                  FROM dtok GROUP BY 1, 2, 3),
          sc AS (
            SELECT d.doc_id, d.source, l.cand,
              round(sum(d.tf * l.lp), 6) AS score
            FROM dtf d JOIN lm l USING (term) GROUP BY 1, 2, 3),
          pred AS (
            SELECT doc_id, source, cand FROM (
              SELECT sc.*, row_number() OVER (PARTITION BY doc_id
                ORDER BY score DESC, cand) AS rn FROM sc)
            WHERE rn = 1)
          SELECT source AS actual_source, cand AS predicted_source,
            CAST(count(*) AS BIGINT) AS n_docs
          FROM pred GROUP BY 1, 2 ORDER BY 1, 2""",
    // centroids quantized at 6 dp before the distance (the k-means
    // handoff discipline) so both engines square identical doubles
    "q_centroid_dist" ->
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          x AS (SELECT label, unnest(range(0, len(v))) AS dim, v FROM e),
          cent AS (
            SELECT label, CAST(dim AS INTEGER) AS dim,
              round(avg(v[CAST(dim + 1 AS INTEGER)]), 6) AS mu
            FROM x GROUP BY label, dim)
          SELECT a.label AS label_a, b.label AS label_b,
            round(sqrt(sum((a.mu - b.mu) * (a.mu - b.mu))), 6) AS l2_dist,
            round(sum(a.mu * b.mu) /
              (sqrt(sum(a.mu * a.mu)) * sqrt(sum(b.mu * b.mu))), 6) AS cosine
          FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
          GROUP BY a.label, b.label ORDER BY label_a, label_b""",
    // ±1 sign from the parity of the 4th hex digit of md5("i:j") —
    // exactly the Spark-side character test; projected coordinates
    // quantized at 6 dp before the norm
    "q_jl_project" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          x AS (SELECT vec_id, unnest(range(0, len(v))) AS i, v FROM e),
          xi AS (SELECT vec_id, i, v[CAST(i + 1 AS INTEGER)] AS xv FROM x),
          norms AS (
            SELECT vec_id, sum(xv * xv) AS n2raw FROM xi GROUP BY vec_id),
          dd AS (SELECT CAST(max(len(v)) AS BIGINT) AS dmax FROM e),
          ii AS (SELECT unnest(range(0, dmax)) AS i FROM dd),
          jj AS (SELECT unnest(range(0, 16)) AS j),
          pm AS (
            SELECT ii.i, jj.j,
              CASE WHEN substr(md5(ii.i || ':' || jj.j), 4, 1) IN
                ('1','3','5','7','9','b','d','f') THEN -1.0 ELSE 1.0 END AS s
            FROM ii CROSS JOIN jj),
          proj AS (
            SELECT vec_id, sum(y * y) AS p2raw FROM (
              SELECT xi.vec_id, pm.j, round(sum(xi.xv * pm.s), 6) AS y
              FROM xi JOIN pm USING (i) GROUP BY xi.vec_id, pm.j)
            GROUP BY vec_id)
          SELECT n.vec_id, round(n.n2raw, 6) AS norm2,
            round(p.p2raw, 6) AS proj_norm2,
            round(p.p2raw / (16.0 * n.n2raw), 6) AS ratio
          FROM norms n JOIN proj p USING (vec_id) ORDER BY n.vec_id""",
    // tf-idf weighted cosine on the same capped band-collision
    // candidates as q_bucketed_jaccard; smooth idf keeps norms nonzero;
    // the cosine divides RAW weight sums (rounding-halves rule)
    "q_sparse_cosine" ->
      """WITH tok AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
          mh AS (
            SELECT doc_id, i,
              substring(min(md5(CAST(i AS VARCHAR) || '|' || t)), 1, 8) AS h
            FROM tok CROSS JOIN range(8) r(i) WHERE t <> '' GROUP BY doc_id, i),
          sig AS (
            SELECT doc_id, string_agg(h, ',' ORDER BY i) AS signature
            FROM mh GROUP BY doc_id),
          bands AS (
            SELECT doc_id, b,
              parts[CAST(b * 2 + 1 AS INTEGER)] || '|' || parts[CAST(b * 2 + 2 AS INTEGER)] AS bucket
            FROM (SELECT doc_id, string_split(signature, ',') AS parts FROM sig)
            CROSS JOIN range(4) r(b)),
          capped AS (
            SELECT doc_id, b, bucket FROM (
              SELECT doc_id, b, bucket,
                row_number() OVER (PARTITION BY b, bucket ORDER BY doc_id) AS rn
              FROM bands)
            WHERE rn <= 20),
          cand AS (
            SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
            FROM capped l JOIN capped r ON l.b = r.b AND l.bucket = r.bucket
            WHERE l.doc_id < r.doc_id),
          tok2 AS (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '),
              x -> x <> '')) AS term
            FROM documents),
          tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                 FROM tok2 GROUP BY 1, 2),
          dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
          nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
          wt AS (
            SELECT tf.doc_id, tf.term,
              tf.tf * (ln((nn.n + 1.0) / (dft.df + 1.0)) + 1.0) AS w
            FROM tf JOIN dft USING (term) CROSS JOIN nn),
          nrm AS (SELECT doc_id, sum(w * w) AS n2 FROM wt GROUP BY doc_id),
          dots AS (
            SELECT c.a_id, c.b_id, sum(wa.w * wb.w) AS dot
            FROM cand c
            JOIN wt wa ON wa.doc_id = c.a_id
            JOIN wt wb ON wb.doc_id = c.b_id AND wb.term = wa.term
            GROUP BY 1, 2)
          SELECT d.a_id, d.b_id, round(d.dot, 6) AS dot,
            round(d.dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS cosine
          FROM dots d JOIN nrm na ON na.doc_id = d.a_id
          JOIN nrm nb ON nb.doc_id = d.b_id
          ORDER BY d.a_id, d.b_id""",
    // grouped OLS trend over integer day counts; regr_* moments are
    // identical algebra on both engines at 4 dp
    "q_volume_trend" ->
      """WITH d AS (
            SELECT event_type, ((epoch_ns(ts) // 1000) // 86400000000) AS day
            FROM events),
          c AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS n
                FROM d GROUP BY 1, 2)
          SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
            round(regr_slope(n, day), 4) AS slope_per_day,
            round(regr_r2(n, day), 4) AS r2
          FROM c GROUP BY event_type ORDER BY event_type""",
    // Theil-Sen: median of pairwise slopes on the reduced day table;
    // exact lower median by rank on the rounded slope, (day, day)
    // tie-break
    "q_theilsen" ->
      """WITH d AS (
            SELECT event_type, ((epoch_ns(ts) // 1000) // 86400000000) AS day
            FROM events),
          c AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS n
                FROM d GROUP BY 1, 2),
          p AS (
            SELECT a.event_type,
              round(CAST(b.n - a.n AS DOUBLE) / (b.day - a.day), 6) AS slope,
              a.day AS a_day, b.day AS b_day
            FROM c a JOIN c b
              ON a.event_type = b.event_type AND a.day < b.day),
          r AS (
            SELECT event_type, slope,
              row_number() OVER (PARTITION BY event_type
                ORDER BY slope, a_day, b_day) AS rn,
              count(*) OVER (PARTITION BY event_type) AS np
            FROM p)
          SELECT event_type, CAST(np AS BIGINT) AS n_pairs, slope AS ts_slope
          FROM r WHERE rn = (np + 1) // 2 ORDER BY event_type""",
    // binary-segmentation changepoint: prefix sums give every candidate
    // split in one window pass; argmax on the ROUNDED gap, earliest-day
    // tie-break
    "q_changepoint" ->
      """WITH d AS (
            SELECT event_type, ((epoch_ns(ts) // 1000) // 86400000000) AS day
            FROM events),
          c AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS n
                FROM d GROUP BY 1, 2),
          w AS (SELECT event_type, day, n,
              row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
              sum(n) OVER (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
              sum(n) OVER (PARTITION BY event_type) AS t,
              count(*) OVER (PARTITION BY event_type) AS nd
            FROM c),
          s AS (SELECT *,
              round(abs(CAST(p AS DOUBLE) / i
                - CAST(t - p AS DOUBLE) / (nd - i)), 6) AS gap
            FROM w WHERE i < nd),
          r AS (SELECT *, row_number() OVER (PARTITION BY event_type
              ORDER BY gap DESC, day) AS rn FROM s)
          SELECT event_type, CAST(nd AS BIGINT) AS n_days,
            CAST(day AS BIGINT) AS split_day,
            round(CAST(p AS DOUBLE) / i, 6) AS mean_before,
            round(CAST(t - p AS DOUBLE) / (nd - i), 6) AS mean_after,
            round(CAST(t - p AS DOUBLE) / (nd - i) - CAST(p AS DOUBLE) / i, 6)
              AS level_shift
          FROM r WHERE rn = 1 ORDER BY event_type""",
    // consistent hash-of-key sampling applied identically on both
    // tables (4-nibble md5 prefix mod 100), so the joined sample keeps
    // referential integrity
    "q_consistent_sample" ->
      """WITH ev AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
            FROM events
            WHERE (((strpos('0123456789abcdef',
                  substring(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 4096
                + (strpos('0123456789abcdef',
                  substring(md5(CAST(user_id AS VARCHAR)), 2, 1)) - 1) * 256
                + (strpos('0123456789abcdef',
                  substring(md5(CAST(user_id AS VARCHAR)), 3, 1)) - 1) * 16
                + (strpos('0123456789abcdef',
                  substring(md5(CAST(user_id AS VARCHAR)), 4, 1)) - 1)) % 100) < 5
            GROUP BY user_id),
          cu AS (
            SELECT c_custkey AS user_id, c_acctbal
            FROM customer
            WHERE (((strpos('0123456789abcdef',
                  substring(md5(CAST(c_custkey AS VARCHAR)), 1, 1)) - 1) * 4096
                + (strpos('0123456789abcdef',
                  substring(md5(CAST(c_custkey AS VARCHAR)), 2, 1)) - 1) * 256
                + (strpos('0123456789abcdef',
                  substring(md5(CAST(c_custkey AS VARCHAR)), 3, 1)) - 1) * 16
                + (strpos('0123456789abcdef',
                  substring(md5(CAST(c_custkey AS VARCHAR)), 4, 1)) - 1)) % 100) < 5)
          SELECT coalesce(ev.user_id, cu.user_id) AS user_id,
            CAST(coalesce(ev.n_events, 0) AS BIGINT) AS n_events,
            round(coalesce(cu.c_acctbal, 0.0), 2) AS acctbal
          FROM ev FULL OUTER JOIN cu ON ev.user_id = cu.user_id
          ORDER BY user_id""",
    // the oracle computes the writer contract from row counts alone:
    // one source = one writer task => files = ceil(rows/100)
    "q_write_files_audit" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
            CAST(ceil(count(*) / 100.0) AS BIGINT) AS n_files
          FROM documents GROUP BY source ORDER BY source""",
    // one EG step of loss-proportional domain reweighting over the
    // shared smoothing grid; window algebra on the source-bounded frame
    "q_domain_reweight" ->
      """WITH tok AS (
            SELECT source, unnest(list_filter(string_split(text, ' '),
              x -> x <> '')) AS term
            FROM documents),
          st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
                 FROM tok GROUP BY 1, 2),
          vocab AS (
            SELECT term, CAST(sum(c) AS BIGINT) AS ct FROM st GROUP BY term
            ORDER BY ct DESC, term LIMIT 4096),
          stv AS (SELECT st.source, st.term, st.c FROM st JOIN vocab USING (term)),
          stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS ts
                   FROM stv GROUP BY source),
          tv AS (SELECT CAST(sum(ct) AS DOUBLE) AS t,
                   CAST(count(*) AS DOUBLE) AS v FROM vocab),
          grid AS (
            SELECT s.source, s.ts, vb.term, vb.ct, coalesce(c.c, 0) AS c0
            FROM stot s CROSS JOIN vocab vb
            LEFT JOIN stv c ON c.source = s.source AND c.term = vb.term),
          ps AS (
            SELECT g.source, g.ts,
              -sum(g.c0 * ln((g.ct + 1.0) / (tv.t + tv.v))) / g.ts AS nll,
              max(tv.t) AS t
            FROM grid g CROSS JOIN tv GROUP BY g.source, g.ts),
          w1 AS (SELECT ps.*, sum(ts * nll) OVER () / t AS nll_corpus FROM ps),
          w2 AS (SELECT *, nll - nll_corpus AS excess,
                   (ts / t) * exp(1.0 * (nll - nll_corpus)) AS unnorm
                 FROM w1),
          w3 AS (SELECT *, sum(unnorm) OVER () AS z FROM w2)
          SELECT source, ts AS n_tokens, round(nll, 6) AS avg_nll,
            round(excess, 6) AS excess_nll, round(ts / t, 6) AS raw_weight,
            round(unnorm / z, 6) AS doremi_weight
          FROM w3 ORDER BY source""",
    // PQ assignment: codebook = first-8 subvectors, round-before-rank
    // with codeword tie-break (the kmeans_step discipline)
    "q_pq_assign" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          dd AS (SELECT CAST(max(len(v)) AS BIGINT) AS dmax FROM e),
          xi AS (
            SELECT vec_id, i, i // (dd.dmax // 8) AS sub,
              v[CAST(i + 1 AS INTEGER)] AS x
            FROM (SELECT vec_id, unnest(range(0, len(v))) AS i, v FROM e)
            CROSS JOIN dd),
          cb AS (SELECT vec_id AS code, sub, i, x AS cx FROM xi WHERE vec_id < 8),
          dist AS (
            SELECT xi.vec_id, xi.sub, cb.code,
              round(sum((xi.x - cb.cx) * (xi.x - cb.cx)), 6) AS d2
            FROM xi JOIN cb ON xi.sub = cb.sub AND xi.i = cb.i
            GROUP BY 1, 2, 3),
          a AS (SELECT vec_id, sub, code, d2 FROM (
              SELECT dist.*, row_number() OVER (PARTITION BY vec_id, sub
                ORDER BY d2, code) AS rn FROM dist) WHERE rn = 1)
          SELECT sub, code, CAST(count(*) AS BIGINT) AS n_vectors,
            round(sum(d2), 6) AS sq_err
          FROM a GROUP BY sub, code ORDER BY sub, code""",
    // the bucketed co-located join must equal the plain join — the
    // layout changes the plan, never the result
    "q_bucketed_join" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
            round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_props_variant" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
            CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
            CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
            CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
          FROM events GROUP BY event_type ORDER BY event_type""",
    // the partitioned layout must equal the plain filtered aggregate —
    // pruning changes the scan, never the result
    "q_partitioned_scan" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
            round(sum(value), 2) AS total_value
          FROM events WHERE event_type IN ('click', 'purchase')
          GROUP BY event_type ORDER BY event_type""",
    // join-key fan-out histogram with cumulative key share; integer-
    // exact counts, one final division per row
    "q_join_skew" ->
      """WITH k AS (
            SELECT l_orderkey, CAST(count(*) AS BIGINT) AS fanout
            FROM lineitem GROUP BY l_orderkey),
          h AS (SELECT fanout, CAST(count(*) AS BIGINT) AS n_keys
                FROM k GROUP BY fanout)
          SELECT fanout, n_keys,
            round(CAST(sum(n_keys) OVER (ORDER BY fanout
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
              / CAST(sum(n_keys) OVER () AS DOUBLE), 6) AS cum_key_share
          FROM h ORDER BY fanout""",
    // weekly-from-daily-partials must equal weekly-from-raw — the
    // mergeable-aggregate contract itself
    // sketch audits: DuckDB computes the exact half; the realized error
    // bound is a deterministic boolean (seeded sketches, fixed data) and
    // is asserted `true` by construction on the oracle side
    "q_cms_counts" ->
      """WITH t AS (
            SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
          tt AS (SELECT source, term FROM t WHERE term <> ''),
          src AS (SELECT DISTINCT source FROM tt),
          probes AS (SELECT unnest(
            ['a','data','fast','query','row','table','the','value']) AS term)
          SELECT s.source, p.term,
            CAST(coalesce(cnt.n, 0) AS BIGINT) AS exact_n, true AS cms_ok
          FROM src s CROSS JOIN probes p
          LEFT JOIN (SELECT source, term, count(*) AS n FROM tt GROUP BY 1, 2) cnt
            ON cnt.source = s.source AND cnt.term = p.term
          ORDER BY s.source, p.term""",
    "q_hll_union" ->
      """SELECT event_type,
            CAST((epoch_ns(ts) // 1000) // 86400000000 AS BIGINT) AS day,
            CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
            true AS hll_ok
          FROM events GROUP BY 1, 2 ORDER BY event_type, day""",
    // HLL++ estimate has no SQL twin; the exact distinct + the realized
    // 3×rsd bound (deterministic for the seeded sketch on fixed data) do
    "q_approx_distinct" ->
      """SELECT event_type,
            CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
            true AS hll_ok
          FROM events GROUP BY 1 ORDER BY event_type""",
    // the GK-sketch ε guarantee holds under any merge order, so the
    // straddle booleans are deterministic facts; n anchors the hash
    "q_approx_percentiles" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            true AS p50_ok, true AS p90_ok
          FROM events GROUP BY 1 ORDER BY event_type""",
    // Misra–Gries: terms with exact freq > n/(k+1) are guaranteed in the
    // candidate set — the guaranteed list itself is exactly computable
    "q_heavy_hitters" ->
      """WITH t AS (
            SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents),
          tt AS (
            SELECT lang, term, CAST(count(*) AS BIGINT) AS c
            FROM t WHERE term <> '' GROUP BY 1, 2),
          n AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens FROM tt GROUP BY 1),
          g AS (
            SELECT tt.lang, string_agg(term, ',' ORDER BY term) AS guaranteed_terms
            FROM tt JOIN n USING (lang) WHERE c * 51 > n_tokens GROUP BY 1)
          SELECT n.lang, n.n_tokens,
            coalesce(g.guaranteed_terms, '') AS guaranteed_terms, true AS mg_ok
          FROM n LEFT JOIN g USING (lang) ORDER BY lang""",
    "q_reagg_rollup" ->
      """WITH e AS (
            SELECT event_type,
              ((epoch_ns(ts) // 1000) // 86400000000) AS day, value
            FROM events)
          SELECT event_type, day - (day % 7) AS week_start,
            CAST(count(*) AS BIGINT) AS n_events,
            round(sum(value), 2) AS total_value,
            round(sum(value) / count(*), 6) AS avg_value
          FROM e GROUP BY event_type, week_start
          ORDER BY event_type, week_start""",
    // runtime-pruned star join must equal the plain filtered join
    "q_dpp_join" ->
      """WITH w AS (
            SELECT * FROM (VALUES ('view', 1), ('click', 3), ('purchase', 10),
              ('signup', 5), ('error', 0)) AS t(event_type, weight)
            WHERE weight >= 3)
          SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_events,
            round(sum(e.value * w.weight), 2) AS weighted_value
          FROM events e JOIN w USING (event_type)
          GROUP BY e.event_type ORDER BY e.event_type""",
    // histogram rank-sum AUC: ranks come from the distinct-score table,
    // every rank term an exact multiple of 0.5 (no float drift)
    "q_auc" ->
      """WITH u AS (
            SELECT user_id,
              CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS score,
              CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 5
                        > count(*) THEN 1 ELSE 0 END AS pos
            FROM events GROUP BY user_id),
          s AS (SELECT score, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(pos) AS BIGINT) AS n_pos
                FROM u GROUP BY score),
          r AS (SELECT *, coalesce(sum(n) OVER (ORDER BY score
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
                FROM s),
          c AS (SELECT
                  sum(n_pos * (cum_before + (n + 1) / 2.0)) AS rank_pos,
                  CAST(sum(n_pos) AS BIGINT) AS n_pos,
                  CAST(sum(n - n_pos) AS BIGINT) AS n_neg
                FROM r)
          SELECT n_pos, n_neg,
            round((rank_pos - n_pos * (n_pos + 1) / 2.0)
              / CAST(n_pos * n_neg AS DOUBLE), 6) AS auc
          FROM c""",
    // power-of-two decay weights keep the weighted sums exact integers;
    // the 7-day fan-out is the same Expand shape as the Spark plan
    "q_decayed_daily" ->
      """WITH daily AS (
            SELECT event_type, ((epoch_ns(ts) // 1000) // 86400000000) AS day,
              CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2),
          contrib AS (
            SELECT event_type, day + age AS day,
              n * (CAST(1 AS BIGINT) << CAST(6 - age AS INTEGER)) AS w
            FROM daily CROSS JOIN range(7) r(age)),
          dec AS (
            SELECT event_type, day, CAST(sum(w) AS BIGINT) AS decayed
            FROM contrib GROUP BY 1, 2)
          SELECT d.event_type, CAST(d.day AS BIGINT) AS day, d.n, dec.decayed
          FROM daily d JOIN dec ON d.event_type = dec.event_type AND d.day = dec.day
          ORDER BY d.event_type, day""",
    // KMV bottom-k: both engines keep the same 64 md5-derived hashes,
    // so the ESTIMATOR itself is hash-checked, not just the rows
    "q_kmv_distinct" ->
      """WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
          h AS (
            SELECT event_type, CAST(list_sum(list_transform(range(8),
                i -> (strpos('0123456789abcdef', substring(
                  md5(CAST(user_id AS VARCHAR)), CAST(i + 1 AS INTEGER), 1)) - 1)
                  * 16 ** (7 - i))) AS BIGINT) AS h
            FROM du),
          r AS (SELECT event_type, h,
                  row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
                FROM h),
          sk AS (SELECT event_type, CAST(count(*) AS BIGINT) AS k_kept,
                   CAST(max(h) AS BIGINT) AS kth_hash
                 FROM r WHERE rn <= 64 GROUP BY event_type),
          ex AS (SELECT event_type,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
                 FROM events GROUP BY event_type)
          SELECT sk.event_type, k_kept, kth_hash, exact_users,
            round((k_kept - 1) * 4294967296.0 / kth_hash, 2) AS kmv_estimate,
            round(abs((k_kept - 1) * 4294967296.0 / kth_hash - exact_users)
              / exact_users, 4) AS rel_err
          FROM sk JOIN ex USING (event_type) ORDER BY event_type""",
    // corpus-level exact-content overlap: distinct (source, digest)
    // pairs, then an equi-join on digest — S² output rows
    "q_source_overlap" ->
      """WITH sd AS (SELECT DISTINCT source,
                  md5(substring(text, 1, 64)) AS digest FROM documents),
          ps AS (SELECT source, CAST(count(*) AS BIGINT) AS nd
                 FROM sd GROUP BY source),
          b AS (SELECT l.source AS src_a, r.source AS src_b,
                  CAST(count(*) AS BIGINT) AS n_shared
                FROM sd l JOIN sd r ON l.digest = r.digest AND l.source < r.source
                GROUP BY 1, 2)
          SELECT src_a, src_b, pa.nd AS n_a, pb.nd AS n_b, n_shared,
            round(n_shared / CAST(least(pa.nd, pb.nd) AS DOUBLE), 6) AS containment,
            round(n_shared / CAST(pa.nd + pb.nd - n_shared AS DOUBLE), 6) AS jaccard
          FROM b JOIN ps pa ON pa.source = src_a JOIN ps pb ON pb.source = src_b
          ORDER BY src_a, src_b""",
    // prefix-filter join: ceil(0.3·n) in INTEGER form ((3n+9)//10) on
    // both engines — float ceil overshoots on decimal-exact products
    "q_prefix_join" ->
      """WITH tok AS (
            SELECT DISTINCT doc_id, t FROM (
              SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
            WHERE t <> ''),
          dfq AS (SELECT t, count(*) AS df FROM tok GROUP BY t),
          sized AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
          ranked AS (
            SELECT tok.doc_id, tok.t,
              row_number() OVER (PARTITION BY tok.doc_id ORDER BY df, tok.t) AS pos,
              n
            FROM tok JOIN dfq USING (t) JOIN sized USING (doc_id)),
          pre AS (SELECT doc_id, t FROM ranked
                  WHERE pos <= n - (3 * n + 9) // 10 + 1),
          capped AS (SELECT doc_id, t FROM (
              SELECT doc_id, t,
                row_number() OVER (PARTITION BY t ORDER BY doc_id) AS rn
              FROM pre)
            WHERE rn <= 20),
          cand AS (SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
                   FROM capped l JOIN capped r
                     ON l.t = r.t AND l.doc_id < r.doc_id),
          sets AS (SELECT doc_id, list_sort(list(t)) AS toks, count(*) AS n
                   FROM tok GROUP BY doc_id)
          SELECT a_id, b_id, jaccard FROM (
            SELECT a_id, b_id,
              round(len(list_intersect(sa.toks, sb.toks)) * 1.0 /
                (sa.n + sb.n - len(list_intersect(sa.toks, sb.toks))), 6) AS jaccard
            FROM cand JOIN sets sa ON sa.doc_id = a_id
                      JOIN sets sb ON sb.doc_id = b_id)
          WHERE jaccard >= 0.3 ORDER BY a_id, b_id""",
    // rank-1 ALS half-sweep; the top-20 rank key is the ROUNDED factor
    // so the rank cliff cannot flip on ulp drift
    "q_als_step" ->
      """WITH rat AS (
            SELECT o_custkey AS usr, l_partkey AS item,
              CAST(l_quantity AS BIGINT) AS q
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          u AS (SELECT usr, sum(q) / (count(*) + 1.0) AS u FROM rat GROUP BY usr),
          i AS (SELECT item, CAST(count(*) AS BIGINT) AS n_ratings,
                  CAST(sum(rat.q) AS BIGINT) AS sum_r,
                  sum(rat.q * u.u) / (1.0 + sum(u.u * u.u)) AS v
                FROM rat JOIN u USING (usr) GROUP BY item),
          ranked AS (SELECT item, n_ratings, sum_r, round(v, 6) AS v_factor,
                  row_number() OVER (ORDER BY round(v, 6) DESC, item) AS rk
                FROM i)
          SELECT rk, item, n_ratings, sum_r, v_factor
          FROM ranked WHERE rk <= 20 ORDER BY rk""",
    // market-basket rules: pairs form through the order key (bounded
    // basket fan-out), counts integral until the three divisions
    "q_assoc_rules" ->
      """WITH basket AS (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS item FROM lineitem),
          n AS (SELECT count(DISTINCT o) AS n_orders FROM basket),
          sup AS (SELECT item, CAST(count(*) AS BIGINT) AS c
                  FROM basket GROUP BY item),
          p AS (SELECT l.item AS a_item, r.item AS b_item,
                  CAST(count(*) AS BIGINT) AS c_ab
                FROM basket l JOIN basket r ON l.o = r.o AND l.item < r.item
                GROUP BY 1, 2 HAVING count(*) >= 3),
          s AS (SELECT a_item, b_item, c_ab, sa.c AS c_a, sb.c AS c_b,
                  round(c_ab / CAST(sa.c AS DOUBLE), 6) AS conf_ab,
                  round(c_ab / CAST(sb.c AS DOUBLE), 6) AS conf_ba,
                  round(c_ab * (SELECT n_orders FROM n)
                    / CAST(sa.c * sb.c AS DOUBLE), 6) AS lift
                FROM p JOIN sup sa ON sa.item = a_item
                       JOIN sup sb ON sb.item = b_item),
          ranked AS (SELECT *, row_number()
                  OVER (ORDER BY lift DESC, a_item, b_item) AS rk FROM s)
          SELECT rk, a_item, b_item, c_ab, c_a, c_b, conf_ab, conf_ba, lift
          FROM ranked WHERE rk <= 50 ORDER BY rk""",
    // same-weekday z-score: moments from exact integer sums, the
    // degenerate-variance guard and the outlier filter both on exact /
    // rounded values so no boundary can flip cross-engine
    "q_weekday_anomaly" ->
      """WITH daily AS (
            SELECT event_type, ((epoch_ns(ts) // 1000) // 86400000000) AS day,
              CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2),
          d2 AS (SELECT *, day % 7 AS dow FROM daily),
          base AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS nd,
                     CAST(sum(n) AS BIGINT) AS sx,
                     CAST(sum(n * n) AS BIGINT) AS sxx
                   FROM d2 GROUP BY 1, 2)
          SELECT event_type, day, dow, n, dow_mean, z,
            abs(z) >= 1.5 AS is_anomaly
          FROM (
            SELECT d2.event_type, CAST(d2.day AS BIGINT) AS day,
              CAST(d2.dow AS BIGINT) AS dow, d2.n,
              round(CAST(sx AS DOUBLE) / nd, 4) AS dow_mean,
              round((d2.n - CAST(sx AS DOUBLE) / nd)
                / sqrt(CAST(sxx AS DOUBLE) / nd
                  - (CAST(sx AS DOUBLE) / nd) * (CAST(sx AS DOUBLE) / nd)), 4) AS z
            FROM d2 JOIN base ON d2.event_type = base.event_type
                             AND d2.dow = base.dow
            WHERE sxx * nd <> sx * sx)
          ORDER BY event_type, day""",
    // Gini from the activity histogram: the tie-group rank sum
    // c·(cum·m + m(m+1)/2) keeps everything BIGINT until the final G
    "q_gini" ->
      """WITH pu AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
                 FROM events GROUP BY 1, 2),
          h AS (SELECT event_type, c, CAST(count(*) AS BIGINT) AS m
                FROM pu GROUP BY 1, 2),
          w AS (SELECT *, coalesce(sum(m) OVER (PARTITION BY event_type
                  ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS cum
                FROM h),
          g AS (SELECT event_type, CAST(sum(m) AS BIGINT) AS n_users,
                  CAST(sum(c * m) AS BIGINT) AS total,
                  CAST(sum(c * (cum * m + (m * (m + 1)) // 2)) AS BIGINT) AS rix
                FROM w GROUP BY event_type)
          SELECT event_type, n_users, total,
            round(2.0 * rix / CAST(n_users * total AS DOUBLE)
              - CAST(n_users + 1 AS DOUBLE) / n_users, 6) AS gini
          FROM g ORDER BY event_type""",
    // TPC-H Q13 shape: LEFT join keeps the zero-order bucket
    "q_cust_order_dist" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
            SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey)
          GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",
    // MRR@3: first exact-top-k hit in the IVF list, 0 on a total miss —
    // same IVF/exact scaffold as q_ivf_ndcg
    "q_ivf_mrr" ->
      """WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
              sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nv
            FROM embeddings),
          c AS (SELECT vec_id AS c_id, v AS cv, nv AS nc FROM e WHERE vec_id < 8),
          scoredc AS (
            SELECT vec_id, v, nv, c_id,
              round(list_sum(list_transform(range(1, len(v) + 1),
                  i -> v[CAST(i AS INTEGER)] * cv[CAST(i AS INTEGER)])) / (nv * nc), 6) AS c_cos
            FROM e CROSS JOIN c),
          assigned AS (
            SELECT vec_id, v, nv, c_id AS cell FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY c_cos DESC, c_id) AS rn FROM scoredc)
            WHERE rn = 1),
          q AS (
            SELECT vec_id AS q_id, v AS qv, nv AS nq, cell AS q_cell
            FROM assigned WHERE vec_id >= 10 AND vec_id < 15),
          ivf AS (
            SELECT q_id, vec_id, rn FROM (
              SELECT q_id, a.vec_id,
                row_number() OVER (PARTITION BY q_id ORDER BY
                  round(list_sum(list_transform(range(1, len(v) + 1),
                    i -> v[CAST(i AS INTEGER)] * qv[CAST(i AS INTEGER)])) / (nv * nq), 6) DESC,
                  a.vec_id) AS rn
              FROM assigned a JOIN q ON a.cell = q.q_cell AND a.vec_id <> q.q_id)
            WHERE rn <= 3),
          exact AS (
            SELECT q_id, vec_id FROM (
              SELECT q_id, e.vec_id,
                row_number() OVER (PARTITION BY q_id ORDER BY
                  round(list_sum(list_transform(range(1, len(v) + 1),
                    i -> v[CAST(i AS INTEGER)] * qv[CAST(i AS INTEGER)])) / (nv * nq), 6) DESC,
                  e.vec_id) AS rn
              FROM e JOIN q ON e.vec_id <> q.q_id)
            WHERE rn <= 3),
          fh AS (
            SELECT ivf.q_id, min(ivf.rn) AS first_hit_rank
            FROM ivf JOIN exact
              ON ivf.q_id = exact.q_id AND ivf.vec_id = exact.vec_id
            GROUP BY ivf.q_id)
          SELECT q.q_id,
            CAST(coalesce(fh.first_hit_rank, 0) AS BIGINT) AS first_hit_rank,
            round(coalesce(1.0 / fh.first_hit_rank, 0.0), 6) AS reciprocal_rank
          FROM q LEFT JOIN fh ON q.q_id = fh.q_id ORDER BY q.q_id""",
    // dedup decision stage: text near-dup pairs -> connected components
    // (recursive CTE) -> keep the highest-quality member per cluster
    "q_cluster_canonical" ->
      """WITH RECURSIVE
          tok AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
          mh AS (
            SELECT doc_id, i,
              substring(min(md5(CAST(i AS VARCHAR) || '|' || t)), 1, 8) AS h
            FROM tok CROSS JOIN range(8) r(i) WHERE t <> '' GROUP BY doc_id, i),
          sig AS (
            SELECT doc_id, string_agg(h, ',' ORDER BY i) AS signature
            FROM mh GROUP BY doc_id),
          bands AS (
            SELECT doc_id, b,
              parts[CAST(b * 2 + 1 AS INTEGER)] || '|' || parts[CAST(b * 2 + 2 AS INTEGER)] AS bucket
            FROM (SELECT doc_id, string_split(signature, ',') AS parts FROM sig)
            CROSS JOIN range(4) r(b)),
          capped AS (
            SELECT doc_id, b, bucket FROM (
              SELECT doc_id, b, bucket,
                row_number() OVER (PARTITION BY b, bucket ORDER BY doc_id) AS rn
              FROM bands)
            WHERE rn <= 20),
          cand AS (
            SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
            FROM capped l JOIN capped r ON l.b = r.b AND l.bucket = r.bucket
            WHERE l.doc_id < r.doc_id),
          g AS (
            SELECT doc_id,
              list_distinct(list_transform(range(1, len(toks)),
                i -> toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i + 1 AS INTEGER)])) AS grams
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
          pairs AS (
            SELECT a_id, b_id FROM (
              SELECT a_id, b_id,
                round(len(list_intersect(ga.grams, gb.grams)) * 1.0 /
                  CASE WHEN len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams)) = 0
                       THEN 1
                       ELSE len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams)) END,
                  6) AS jaccard
              FROM cand JOIN g ga ON ga.doc_id = a_id JOIN g gb ON gb.doc_id = b_id)
            WHERE jaccard >= 0.1),
          edges AS (
            SELECT a_id AS a, b_id AS b FROM pairs
            UNION SELECT b_id, a_id FROM pairs),
          nodes AS (SELECT DISTINCT a AS node FROM edges),
          reach(node, label) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT ed.a, r.label FROM reach r JOIN edges ed ON ed.b = r.node),
          comp AS (
            SELECT node, min(label) AS component FROM reach GROUP BY node),
          qual AS (
            SELECT doc_id,
              round(least(1.0, len(toks2) / 100.0) * 0.5
                + (1.0 - len(list_filter(toks2, s -> s = 'the' OR s = 'a'))
                    * 1.0 / len(toks2)) * 0.5, 6) AS quality
            FROM (SELECT doc_id,
                    list_filter(string_split(text, ' '), x -> x <> '') AS toks2
                  FROM documents)),
          ranked AS (
            SELECT comp.component, comp.node, qual.quality,
              row_number() OVER (PARTITION BY comp.component
                ORDER BY qual.quality DESC, comp.node) AS rn
            FROM comp JOIN qual ON qual.doc_id = comp.node)
          SELECT component, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(min(CASE WHEN rn = 1 THEN node END) AS BIGINT) AS keep_id,
            min(CASE WHEN rn = 1 THEN quality END) AS keep_quality,
            CAST(count(*) - 1 AS BIGINT) AS n_dropped
          FROM ranked GROUP BY component ORDER BY component""",
    // Flesch reading ease on per-source EXACT aggregate counts; vowel
    // runs as the deterministic syllable surrogate
    "q_readability" ->
      """WITH d AS (
            SELECT source,
              greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS sents,
              len(list_filter(string_split(text, ' '), x -> x <> '')) AS words,
              len(regexp_extract_all(text, '[aeiou]+')) AS sylls
            FROM documents),
          s AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(sents) AS BIGINT) AS sentences,
              CAST(sum(words) AS BIGINT) AS words,
              CAST(sum(sylls) AS BIGINT) AS syllables
            FROM d GROUP BY source)
          SELECT source, n_docs, sentences, words, syllables,
            round(CAST(words AS DOUBLE) / sentences, 4) AS words_per_sentence,
            round(CAST(syllables AS DOUBLE) / words, 4) AS syllables_per_word,
            round(206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences)
              - 84.6 * (CAST(syllables AS DOUBLE) / words), 4) AS flesch
          FROM s ORDER BY source""",
    // MI(type; hour) from the 5x24 contingency table; entropy identities
    // as cell-row sums (sum_h c_th = c_t telescopes them)
    "q_type_hour_mi" ->
      """WITH cells AS (
            SELECT event_type,
              ((epoch_ns(ts) // 1000) // 3600000000) % 24 AS hour,
              CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2),
          e AS (
            SELECT c,
              sum(c) OVER (PARTITION BY event_type) AS ct,
              sum(c) OVER (PARTITION BY hour) AS ch,
              sum(c) OVER () AS n
            FROM cells),
          a AS (
            SELECT CAST(max(n) AS BIGINT) AS n_events,
              sum(CAST(c AS DOUBLE) / n * ln(c * n / CAST(ct * ch AS DOUBLE))) AS mi,
              sum(CAST(c AS DOUBLE) / n * ln(n / CAST(ct AS DOUBLE))) AS h_type,
              sum(CAST(c AS DOUBLE) / n * ln(n / CAST(ch AS DOUBLE))) AS h_hour
            FROM e)
          SELECT n_events, round(mi, 6) AS mi_nats, round(h_type, 6) AS h_type,
            round(h_hour, 6) AS h_hour,
            round(mi / sqrt(h_type * h_hour), 6) AS nmi
          FROM a""",
    // wide->long melt of the per-type stat row; one Expand either engine
    "q_unpivot" ->
      """WITH s AS (
            SELECT event_type, CAST(count(*) AS DOUBLE) AS n_events,
              round(sum(value), 2) AS total_value,
              round(max(value), 2) AS max_value
            FROM events GROUP BY event_type)
          SELECT event_type, metric, value
          FROM s UNPIVOT (value FOR metric IN (n_events, total_value, max_value))
          ORDER BY event_type, metric""",
    // correlated LATERAL top-2-per-region; both engines decorrelate it
    "q_lateral_topk" ->
      """SELECT r.r_name AS region, t.n_name AS nation, t.n_customers
          FROM region r,
          LATERAL (
            SELECT n.n_name, CAST(count(c.c_custkey) AS BIGINT) AS n_customers
            FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
            WHERE n.n_regionkey = r.r_regionkey
            GROUP BY n.n_name
            ORDER BY n_customers DESC, n.n_name
            LIMIT 2
          ) t
          ORDER BY region, n_customers DESC, nation""",
    // gap-and-cumsum sessionization, then the ordered funnel as three
    // chained conditional window minima over (user, session)
    "q_session_funnel" ->
      """WITH e AS (
            SELECT user_id, event_type, event_id,
              (epoch_ns(ts) // 1000) AS ts_us
            FROM events),
          s AS (
            SELECT *, CASE WHEN prev_ts IS NULL
                OR ts_us - prev_ts > 1800000000 THEN 1 ELSE 0 END AS new_session
            FROM (SELECT *, lag(ts_us) OVER (PARTITION BY user_id
                    ORDER BY ts_us, event_id) AS prev_ts FROM e)),
          s2 AS (
            SELECT *, sum(new_session) OVER (PARTITION BY user_id
              ORDER BY ts_us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session
            FROM s),
          f1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts_us END)
                   OVER (PARTITION BY user_id, session) AS fv FROM s2),
          f2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts_us > fv
                   THEN ts_us END)
                   OVER (PARTITION BY user_id, session) AS fc FROM f1),
          f3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_us > fc
                   THEN ts_us END)
                   OVER (PARTITION BY user_id, session) AS fp FROM f2),
          sess AS (SELECT DISTINCT user_id, session, fv, fc, fp FROM f3),
          a AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions,
                  CAST(sum(CASE WHEN fv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                    AS with_view,
                  CAST(sum(CASE WHEN fc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                    AS view_then_click,
                  CAST(sum(CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                    AS full_funnel
                FROM sess)
          SELECT n_sessions, with_view, view_then_click, full_funnel,
            round(view_then_click / CAST(nullif(with_view, 0) AS DOUBLE), 6)
              AS click_rate,
            round(full_funnel / CAST(nullif(view_then_click, 0) AS DOUBLE), 6)
              AS purchase_rate
          FROM a""",
    // lag-1 autocorrelation from exact integer sums; the mean divides
    // once in the assembled estimator
    "q_acf1" ->
      """WITH daily AS (
            SELECT event_type, ((epoch_ns(ts) // 1000) // 86400000000) AS day,
              CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2),
          lagged AS (
            SELECT *, lead(n) OVER (PARTITION BY event_type ORDER BY day) AS next_n
            FROM daily),
          s AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
              CAST(sum(n) AS BIGINT) AS sx,
              CAST(sum(n * n) AS BIGINT) AS sxx,
              CAST(sum(CASE WHEN next_n IS NOT NULL THEN n * next_n ELSE 0 END) AS BIGINT) AS sxy,
              CAST(sum(CASE WHEN next_n IS NOT NULL THEN n ELSE 0 END) AS BIGINT) AS sx_head,
              CAST(sum(coalesce(next_n, 0)) AS BIGINT) AS sx_tail
            FROM lagged GROUP BY event_type)
          SELECT event_type, nd AS n_days,
            round((sxy - (CAST(sx AS DOUBLE) / nd) * (sx_head + sx_tail)
                + (nd - 1) * (CAST(sx AS DOUBLE) / nd) * (CAST(sx AS DOUBLE) / nd))
              / (sxx - 2.0 * (CAST(sx AS DOUBLE) / nd) * sx
                + nd * (CAST(sx AS DOUBLE) / nd) * (CAST(sx AS DOUBLE) / nd)), 4)
              AS acf1
          FROM s ORDER BY event_type""",
    // t-interval from mergeable moments; identical expression order
    "q_mean_ci" ->
      """WITH s AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n,
              sum(value) AS sx, sum(value * value) AS sxx
            FROM events GROUP BY event_type),
          m AS (
            SELECT event_type, n, sx / n AS mean,
              sqrt((sxx - sx * sx / n) / (n - 1)) AS sd
            FROM s)
          SELECT event_type, n, round(mean, 4) AS mean_value,
            round(sd, 4) AS sd,
            round(mean - 1.96 * sd / sqrt(CAST(n AS DOUBLE)), 4) AS ci_lo,
            round(mean + 1.96 * sd / sqrt(CAST(n AS DOUBLE)), 4) AS ci_hi
          FROM m ORDER BY event_type""",
    // equal-frequency deciles; ntile ties broken by event_id on both
    // engines so the bucketing is a total order
    "q_equidepth_hist" ->
      """SELECT event_type, decile, CAST(count(*) AS BIGINT) AS n,
            round(min(value), 2) AS lo, round(max(value), 2) AS hi
          FROM (
            SELECT event_type, value,
              ntile(10) OVER (PARTITION BY event_type
                ORDER BY value, event_id) AS decile
            FROM events)
          GROUP BY event_type, decile ORDER BY event_type, decile""",
    // top-3 most-similar DIFFERENT-label vectors per probe — the
    // contrastive hard-negative miner on the constant-probe skeleton
    "q_hard_negatives" ->
      """WITH e AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
              sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                x -> x * x))) AS nv
            FROM embeddings),
          q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv, nv AS nq
                FROM e WHERE vec_id >= 10 AND vec_id < 15)
          SELECT q_id, q_label, rn, neg_id, neg_label, cosine FROM (
            SELECT q.q_id, q.q_label, e.vec_id AS neg_id, e.label AS neg_label,
              round(list_sum(list_transform(range(1, len(v) + 1),
                  i -> v[CAST(i AS INTEGER)] * qv[CAST(i AS INTEGER)]))
                / (nv * nq), 6) AS cosine,
              row_number() OVER (PARTITION BY q.q_id ORDER BY
                round(list_sum(list_transform(range(1, len(v) + 1),
                    i -> v[CAST(i AS INTEGER)] * qv[CAST(i AS INTEGER)]))
                  / (nv * nq), 6) DESC, e.vec_id) AS rn
            FROM e JOIN q ON e.vec_id <> q.q_id AND e.label <> q.q_label)
          WHERE rn <= 3 ORDER BY q_id, rn""",
    // cluster-aware split: near-dup components inherit ONE group key so
    // no cluster straddles a split; same thresholds as q_hash_split
    "q_leakage_split" ->
      """WITH RECURSIVE
          tok AS (
            SELECT DISTINCT doc_id, t FROM (
              SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
            WHERE t <> ''),
          mh AS (
            SELECT doc_id, i,
              substring(min(md5(CAST(i AS VARCHAR) || '|' || t)), 1, 8) AS h
            FROM tok CROSS JOIN range(8) r(i) GROUP BY doc_id, i),
          sig AS (
            SELECT doc_id, string_agg(h, ',' ORDER BY i) AS signature
            FROM mh GROUP BY doc_id),
          bands AS (
            SELECT doc_id, b,
              parts[CAST(b * 2 + 1 AS INTEGER)] || '|' || parts[CAST(b * 2 + 2 AS INTEGER)] AS bucket
            FROM (SELECT doc_id, string_split(signature, ',') AS parts FROM sig)
            CROSS JOIN range(4) r(b)),
          capped AS (
            SELECT doc_id, b, bucket FROM (
              SELECT doc_id, b, bucket,
                row_number() OVER (PARTITION BY b, bucket ORDER BY doc_id) AS rn
              FROM bands)
            WHERE rn <= 20),
          cand AS (
            SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
            FROM capped l JOIN capped r ON l.b = r.b AND l.bucket = r.bucket
            WHERE l.doc_id < r.doc_id),
          g AS (
            SELECT doc_id,
              list_distinct(list_transform(range(1, len(toks)),
                i -> toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i + 1 AS INTEGER)])) AS grams
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
          pairs AS (
            SELECT a_id, b_id FROM (
              SELECT a_id, b_id,
                round(len(list_intersect(ga.grams, gb.grams)) * 1.0 /
                  CASE WHEN len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams)) = 0
                       THEN 1
                       ELSE len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams)) END,
                  6) AS jaccard
              FROM cand JOIN g ga ON ga.doc_id = a_id JOIN g gb ON gb.doc_id = b_id)
            WHERE jaccard >= 0.1),
          edges AS (
            SELECT a_id AS a, b_id AS b FROM pairs
            UNION SELECT b_id, a_id FROM pairs),
          nodes AS (SELECT DISTINCT a AS node FROM edges),
          reach(node, label) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT ed.a, r.label FROM reach r JOIN edges ed ON ed.b = r.node),
          comp AS (
            SELECT node, min(label) AS component FROM reach GROUP BY node),
          docs AS (
            SELECT d.doc_id, coalesce(comp.component, d.doc_id) AS group_key,
              comp.node IS NOT NULL AS clustered
            FROM documents d LEFT JOIN comp ON d.doc_id = comp.node),
          s AS (
            SELECT CASE
                WHEN substring(md5(CAST(group_key AS VARCHAR)), 1, 1) <= 'b'
                  THEN 'train'
                WHEN substring(md5(CAST(group_key AS VARCHAR)), 1, 1) IN ('c', 'd')
                  THEN 'val'
                ELSE 'test' END AS split,
              clustered, group_key
            FROM docs)
          SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(CASE WHEN clustered THEN 1 ELSE 0 END) AS BIGINT)
              AS clustered_docs,
            CAST(count(DISTINCT CASE WHEN clustered THEN group_key END) AS BIGINT)
              AS n_clusters
          FROM s GROUP BY split ORDER BY split""",
    // index build: top-df terms, capped sorted posting lists as csv
    "q_inverted_index" ->
      """WITH dt AS (
            SELECT DISTINCT doc_id, t AS term FROM (
              SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
            WHERE t <> ''),
          top AS (
            SELECT term, df FROM (
              SELECT term, CAST(count(*) AS BIGINT) AS df,
                row_number() OVER (ORDER BY count(*) DESC, term) AS rk
              FROM dt GROUP BY term)
            WHERE rk <= 20),
          capped AS (
            SELECT term, df, doc_id FROM (
              SELECT dt.term, top.df, dt.doc_id,
                row_number() OVER (PARTITION BY dt.term ORDER BY dt.doc_id) AS rn
              FROM dt JOIN top USING (term))
            WHERE rn <= 10)
          SELECT term, df,
            string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
          FROM capped GROUP BY term, df
          ORDER BY df DESC, term""",
    // calendar spine gap fill: zeros materialize missing days, DoD
    // deltas computed over the DENSE series
    "q_dense_calendar" ->
      """WITH daily AS (
            SELECT event_type, ((epoch_ns(ts) // 1000) // 86400000000) AS day,
              CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2),
          spine AS (
            SELECT event_type, unnest(range(lo, hi + 1)) AS day FROM (
              SELECT event_type, min(day) AS lo, max(day) AS hi
              FROM daily GROUP BY event_type)),
          dense AS (
            SELECT s.event_type, s.day, coalesce(d.n, 0) AS n
            FROM spine s LEFT JOIN daily d
              ON s.event_type = d.event_type AND s.day = d.day),
          lagged AS (
            SELECT *, lag(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n
            FROM dense)
          SELECT event_type, CAST(day AS BIGINT) AS day, CAST(n AS BIGINT) AS n,
            CAST(n - prev_n AS BIGINT) AS dod_delta,
            round(CASE WHEN prev_n > 0
              THEN (n - prev_n) / CAST(prev_n AS DOUBLE) END, 4) AS dod_pct
          FROM lagged ORDER BY event_type, day""",
    // RFM quintiles on the per-user aggregate; monetary is summed as
    // per-row integer cents so no quintile boundary can flip on the
    // engines' float partial-aggregation order
    "q_rfm_segments" ->
      """WITH pu AS (
            SELECT user_id,
              CAST(max((epoch_ns(ts) // 1000) // 86400000000) AS BIGINT) AS last_day,
              CAST(count(*) AS BIGINT) AS freq,
              CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
            FROM events GROUP BY user_id),
          s AS (
            SELECT *,
              ntile(5) OVER (ORDER BY last_day DESC, user_id) AS r_score,
              ntile(5) OVER (ORDER BY freq DESC, user_id) AS f_score,
              ntile(5) OVER (ORDER BY cents DESC, user_id) AS m_score
            FROM pu)
          SELECT r_score, f_score, m_score,
            CAST(count(*) AS BIGINT) AS n_users,
            round(sum(cents) / (count(*) * 100.0), 2) AS avg_monetary
          FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    // SemDeDup: nearest of the first-8 centroids, per-cell cap 250 by
    // vec_id rank, within-cell cosine >= 0.3 pairs, min-label components,
    // keep = least-centroid-similar member (diversity-preserving choice)
    "q_semdedup" ->
      """WITH RECURSIVE
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          n AS (SELECT vec_id, v,
              sqrt(list_sum(list_transform(v, x -> x * x))) AS nv FROM e),
          c AS (SELECT vec_id AS c_id, v AS cv, nv AS nc FROM n WHERE vec_id < 8),
          a0 AS (
            SELECT n.vec_id, n.v, n.nv, c.c_id,
              round(list_sum(list_transform(range(1, len(n.v) + 1),
                  i -> n.v[CAST(i AS INTEGER)] * c.cv[CAST(i AS INTEGER)])) /
                (n.nv * c.nc), 6) AS c_cos
            FROM n CROSS JOIN c),
          asg AS (
            SELECT vec_id, v, nv, cell, cent_cos FROM (
              SELECT vec_id, v, nv, c_id AS cell, c_cos AS cent_cos,
                row_number() OVER (PARTITION BY vec_id
                  ORDER BY c_cos DESC, c_id) AS rn
              FROM a0) WHERE rn = 1),
          capped AS (
            SELECT vec_id, v, nv, cell, cent_cos FROM (
              SELECT *, row_number() OVER (PARTITION BY cell
                ORDER BY vec_id) AS crn
              FROM asg) WHERE crn <= 250),
          pairs AS (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id
            FROM capped a JOIN capped b
              ON a.cell = b.cell AND b.vec_id > a.vec_id
            WHERE round(list_sum(list_transform(range(1, len(a.v) + 1),
                i -> a.v[CAST(i AS INTEGER)] * b.v[CAST(i AS INTEGER)])) /
              (a.nv * b.nv), 6) >= 0.3),
          edges AS (
            SELECT a_id AS a, b_id AS b FROM pairs
            UNION SELECT b_id, a_id FROM pairs),
          nodes AS (SELECT DISTINCT a AS node FROM edges),
          reach(node, label) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT ed.a, r.label FROM reach r JOIN edges ed ON ed.b = r.node),
          comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node),
          mem AS (
            SELECT comp.component, comp.node, capped.cell, capped.cent_cos
            FROM comp JOIN capped ON capped.vec_id = comp.node)
          SELECT component AS cluster, node AS vec_id, cell, cent_cos,
            CAST(row_number() OVER (PARTITION BY component
              ORDER BY cent_cos ASC, node) = 1 AS INTEGER) AS keep
          FROM mem ORDER BY cluster, vec_id""",
    // margin = s1 - s2 of the 6-dp LM scores; width-0.25 bins capped at 9
    "q_margin_calibration" ->
      """WITH tok AS (
            SELECT source, unnest(list_filter(string_split(text, ' '),
              x -> x <> '')) AS term
            FROM documents),
          st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
                 FROM tok GROUP BY 1, 2),
          vocab AS (
            SELECT term, CAST(sum(c) AS BIGINT) AS ct FROM st GROUP BY term
            ORDER BY ct DESC, term LIMIT 4096),
          stv AS (SELECT st.source, st.term, st.c FROM st JOIN vocab USING (term)),
          stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS ts
                   FROM stv GROUP BY source),
          tv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM vocab),
          lm AS (
            SELECT s.source AS cand, vb.term,
              ln((coalesce(c.c, 0) + 1.0) / (s.ts + tv.v)) AS lp
            FROM stot s CROSS JOIN vocab vb CROSS JOIN tv
            LEFT JOIN stv c ON c.source = s.source AND c.term = vb.term),
          dtok AS (
            SELECT doc_id, source, unnest(list_filter(string_split(text, ' '),
              x -> x <> '')) AS term
            FROM documents),
          dtf AS (SELECT doc_id, source, term, CAST(count(*) AS BIGINT) AS tf
                  FROM dtok GROUP BY 1, 2, 3),
          sc AS (
            SELECT d.doc_id, d.source, l.cand,
              round(sum(d.tf * l.lp), 6) AS score
            FROM dtf d JOIN lm l USING (term) GROUP BY 1, 2, 3),
          top2 AS (
            SELECT doc_id, source, cand, score, rn FROM (
              SELECT sc.*, row_number() OVER (PARTITION BY doc_id
                ORDER BY score DESC, cand) AS rn FROM sc)
            WHERE rn <= 2),
          pd AS (
            SELECT doc_id, source,
              max(CASE WHEN rn = 1 THEN cand END) AS pred,
              max(CASE WHEN rn = 1 THEN score END) AS s1,
              max(CASE WHEN rn = 2 THEN score END) AS s2
            FROM top2 GROUP BY doc_id, source),
          pb AS (
            SELECT CAST(least(floor((s1 - s2) / 0.25), 9) AS INTEGER) AS margin_bin,
              CASE WHEN pred = source THEN 1 ELSE 0 END AS correct
            FROM pd)
          SELECT margin_bin, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(correct) AS BIGINT) AS n_correct,
            round(sum(correct) / CAST(count(*) AS DOUBLE), 6) AS accuracy
          FROM pb GROUP BY margin_bin ORDER BY margin_bin""",
    // footer-stats aggregate: DuckDB answers this from parquet metadata
    // too — the cross-engine check IS the zero-data-page contract
    "q_agg_pushdown" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
            min(l_orderkey) AS min_orderkey, max(l_orderkey) AS max_orderkey,
            min(l_linenumber) AS min_linenumber, max(l_linenumber) AS max_linenumber
          FROM lineitem""",
    // same quality formula as q_quality_score; ntile(8) on the rounded
    // quality desc with doc_id tie-break = the distributed ntile's order
    "q_curriculum_shards" ->
      """WITH d AS (
            SELECT doc_id,
              list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents),
          s AS (
            SELECT doc_id, len(toks) AS n_tokens,
              len(list_filter(toks, t -> t = 'the' OR t = 'a')) AS stop_hits
            FROM d),
          q AS (
            SELECT doc_id, n_tokens,
              round(least(1.0, n_tokens / 100.0) * 0.5
                + (1.0 - stop_hits / CAST(n_tokens AS DOUBLE)) * 0.5, 6) AS quality
            FROM s),
          t AS (
            SELECT doc_id, n_tokens, quality,
              ntile(8) OVER (ORDER BY quality DESC, doc_id) AS shard
            FROM q)
          SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
            round(max(quality), 6) AS max_quality,
            round(min(quality), 6) AS min_quality
          FROM t GROUP BY shard ORDER BY shard""",
    // the q_bpe_merges trainer chain carrying `term`, then the encode
    // join: per-source token/char/symbol mass under the learned merges
    "q_bpe_encode" ->
      """WITH tok AS (
            SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
            FROM documents),
          tc AS (SELECT term, count(*) AS n FROM tok GROUP BY term),
          v0 AS (
            SELECT term, n, array_to_string(list_transform(range(1, length(term) + 1),
              i -> substring(term, CAST(i AS INTEGER), 1)), ' ') AS repr
            FROM tc),
          p1 AS (
            SELECT syms[CAST(i AS INTEGER)] || ' ' || syms[CAST(i + 1 AS INTEGER)] AS pair, n
            FROM (SELECT n, syms, unnest(range(1, len(syms))) AS i
                  FROM (SELECT n, string_split(repr, ' ') AS syms FROM v0)
                  WHERE len(syms) >= 2)),
          m1 AS (
            SELECT string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[2] AS b
            FROM (SELECT pair, sum(n) AS cnt FROM p1 GROUP BY pair
                  ORDER BY cnt DESC, pair LIMIT 1)),
          v1 AS (
            SELECT v.term, v.n, trim(replace(replace(
                ' ' || replace(v.repr, ' ', '  ') || ' ',
                ' ' || m.a || '  ' || m.b || ' ',
                ' ' || m.a || m.b || ' '), '  ', ' ')) AS repr
            FROM v0 v CROSS JOIN m1 m),
          p2 AS (
            SELECT syms[CAST(i AS INTEGER)] || ' ' || syms[CAST(i + 1 AS INTEGER)] AS pair, n
            FROM (SELECT n, syms, unnest(range(1, len(syms))) AS i
                  FROM (SELECT n, string_split(repr, ' ') AS syms FROM v1)
                  WHERE len(syms) >= 2)),
          m2 AS (
            SELECT string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[2] AS b
            FROM (SELECT pair, sum(n) AS cnt FROM p2 GROUP BY pair
                  ORDER BY cnt DESC, pair LIMIT 1)),
          v2 AS (
            SELECT v.term, v.n, trim(replace(replace(
                ' ' || replace(v.repr, ' ', '  ') || ' ',
                ' ' || m.a || '  ' || m.b || ' ',
                ' ' || m.a || m.b || ' '), '  ', ' ')) AS repr
            FROM v1 v CROSS JOIN m2 m),
          p3 AS (
            SELECT syms[CAST(i AS INTEGER)] || ' ' || syms[CAST(i + 1 AS INTEGER)] AS pair, n
            FROM (SELECT n, syms, unnest(range(1, len(syms))) AS i
                  FROM (SELECT n, string_split(repr, ' ') AS syms FROM v2)
                  WHERE len(syms) >= 2)),
          m3 AS (
            SELECT string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[2] AS b
            FROM (SELECT pair, sum(n) AS cnt FROM p3 GROUP BY pair
                  ORDER BY cnt DESC, pair LIMIT 1)),
          v3 AS (
            SELECT v.term, v.n, trim(replace(replace(
                ' ' || replace(v.repr, ' ', '  ') || ' ',
                ' ' || m.a || '  ' || m.b || ' ',
                ' ' || m.a || m.b || ' '), '  ', ' ')) AS repr
            FROM v2 v CROSS JOIN m3 m),
          enc AS (
            SELECT term, len(string_split(repr, ' ')) AS n_syms,
              length(term) AS n_chars
            FROM v3),
          stok AS (
            SELECT source, unnest(list_filter(string_split(text, ' '),
              x -> x <> '')) AS term
            FROM documents),
          stf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS tf
                  FROM stok GROUP BY 1, 2)
          SELECT s.source, CAST(sum(s.tf) AS BIGINT) AS n_tokens,
            CAST(sum(s.tf * e.n_chars) AS BIGINT) AS total_chars,
            CAST(sum(s.tf * e.n_syms) AS BIGINT) AS total_symbols,
            round(sum(s.tf * e.n_syms) / CAST(sum(s.tf) AS DOUBLE), 6)
              AS syms_per_token,
            round(sum(s.tf * e.n_syms) / CAST(sum(s.tf * e.n_chars) AS DOUBLE), 6)
              AS compression
          FROM stf s JOIN enc e USING (term)
          GROUP BY s.source ORDER BY s.source""",
    // greedy top-down token-budget fill over quality deciles; all
    // accounting in exact BIGINT (budget = total * 50 div 100)
    "q_quality_schedule" ->
      """WITH d AS (
            SELECT doc_id,
              list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents),
          s AS (
            SELECT doc_id, len(toks) AS n_tokens,
              len(list_filter(toks, t -> t = 'the' OR t = 'a')) AS stop_hits
            FROM d),
          q AS (
            SELECT doc_id, n_tokens,
              round(least(1.0, n_tokens / 100.0) * 0.5
                + (1.0 - stop_hits / CAST(n_tokens AS DOUBLE)) * 0.5, 6) AS quality
            FROM s),
          t AS (
            SELECT doc_id, n_tokens,
              ntile(10) OVER (ORDER BY quality DESC, doc_id) AS decile
            FROM q),
          dec AS (
            SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_tokens) AS BIGINT) AS decile_tokens
            FROM t GROUP BY decile),
          g AS (
            SELECT decile, n_docs, decile_tokens,
              CAST(coalesce(sum(decile_tokens) OVER (ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                AS cum_before,
              CAST(sum(decile_tokens) OVER () AS BIGINT) AS total_tokens
            FROM dec)
          SELECT decile, n_docs, decile_tokens,
            CAST(greatest(0, least(decile_tokens,
              total_tokens * 50 // 100 - cum_before)) AS BIGINT) AS kept_tokens,
            round(greatest(0, least(decile_tokens,
              total_tokens * 50 // 100 - cum_before))
              / CAST(decile_tokens AS DOUBLE), 6) AS keep_rate
          FROM g ORDER BY decile""",
    // predicted |views ⋈ purchases by user| from per-key counts; top-5
    // contributing keys, totals carried on every row
    "q_join_cardinality" ->
      """WITH l AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_left FROM events
            WHERE event_type = 'view' GROUP BY user_id),
          r AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_right FROM events
            WHERE event_type = 'purchase' GROUP BY user_id),
          k AS (
            SELECT l.user_id, l.n_left, r.n_right,
              l.n_left * r.n_right AS pairs
            FROM l JOIN r USING (user_id)),
          t AS (SELECT CAST(sum(pairs) AS BIGINT) AS total_pairs,
              CAST(count(*) AS BIGINT) AS n_keys FROM k)
          SELECT k.user_id, k.n_left, k.n_right, CAST(k.pairs AS BIGINT) AS pairs,
            t.total_pairs, t.n_keys,
            round(k.pairs / CAST(t.total_pairs AS DOUBLE), 6) AS share
          FROM k CROSS JOIN t
          ORDER BY k.pairs DESC, k.user_id LIMIT 5""",
    // CUPED: exact BIGINT moments, scalar double algebra, one round each
    "q_cuped" ->
      """WITH e AS (
            SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, value FROM events),
          pu AS (
            SELECT user_id,
              CAST(sum(CASE WHEN ts_us < 1704412800000000
                THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
              CAST(sum(CASE WHEN ts_us >= 1704412800000000
                THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS y,
              substring(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7' AS in_a
            FROM e GROUP BY user_id),
          m AS (
            SELECT
              CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
              CAST(sum(CASE WHEN in_a THEN x ELSE 0 END) AS BIGINT) AS sx_a,
              CAST(sum(CASE WHEN in_a THEN y ELSE 0 END) AS BIGINT) AS sy_a,
              CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
              CAST(sum(CASE WHEN NOT in_a THEN x ELSE 0 END) AS BIGINT) AS sx_b,
              CAST(sum(CASE WHEN NOT in_a THEN y ELSE 0 END) AS BIGINT) AS sy_b,
              CAST(sum(x * x) AS BIGINT) AS sxx,
              CAST(sum(x * y) AS BIGINT) AS sxy,
              CAST(sum(y * y) AS BIGINT) AS syy
            FROM pu),
          d AS (
            SELECT n_a, n_b, sx_a, sx_b, sy_a, sy_b,
              CAST(n_a + n_b AS DOUBLE) AS n,
              CAST(sx_a + sx_b AS DOUBLE) AS sx,
              CAST(sy_a + sy_b AS DOUBLE) AS sy,
              CAST(sxx AS DOUBLE) AS dxx, CAST(sxy AS DOUBLE) AS dxy,
              CAST(syy AS DOUBLE) AS dyy
            FROM m),
          f AS (
            SELECT n_a, n_b,
              CAST(sy_a AS DOUBLE) / n_a / 100.0 AS mya,
              CAST(sy_b AS DOUBLE) / n_b / 100.0 AS myb,
              CAST(sx_a AS DOUBLE) / n_a / 100.0 AS mxa,
              CAST(sx_b AS DOUBLE) / n_b / 100.0 AS mxb,
              dxy - sx * sy / n AS covxy,
              dxx - sx * sx / n AS varx,
              dyy - sy * sy / n AS vary
            FROM d)
          SELECT n_a, n_b,
            round(mya, 6) AS mean_y_a, round(myb, 6) AS mean_y_b,
            round(mya - myb, 6) AS diff_raw,
            round(covxy / varx, 6) AS theta,
            round((mya - myb) - covxy / varx * (mxa - mxb), 6) AS diff_adj,
            round(covxy * covxy / (varx * vary), 6) AS var_reduction
          FROM f""",
    // one conditional-aggregate scan per table, unioned to rule rows;
    // the RI rule is a keyed left-join probe
    "q_dq_checks" ->
      """WITH ev AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS f1,
              CAST(sum(CASE WHEN value IS NULL OR value <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
              CAST(sum(CASE WHEN event_type NOT IN
                ('view','click','purchase','signup','error') THEN 1 ELSE 0 END) AS BIGINT) AS f3,
              CAST(sum(CASE WHEN value > 250 THEN 1 ELSE 0 END) AS BIGINT) AS f4
            FROM events),
          li AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
              CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS f2
            FROM lineitem),
          docs AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END) AS BIGINT) AS f1,
              CAST(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT) AS f2
            FROM documents),
          ri AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS f1
            FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey),
          rules AS (
            SELECT 'events_user_id_not_null' AS rule, 'events' AS table_name, n AS n_checked, f1 AS n_failed FROM ev
            UNION ALL SELECT 'events_value_positive', 'events', n, f2 FROM ev
            UNION ALL SELECT 'events_type_in_domain', 'events', n, f3 FROM ev
            UNION ALL SELECT 'events_value_under_250', 'events', n, f4 FROM ev
            UNION ALL SELECT 'lineitem_quantity_in_1_50', 'lineitem', n, f1 FROM li
            UNION ALL SELECT 'lineitem_discount_in_0_01', 'lineitem', n, f2 FROM li
            UNION ALL SELECT 'documents_text_nonempty', 'documents', n, f1 FROM docs
            UNION ALL SELECT 'documents_nchars_consistent', 'documents', n, f2 FROM docs
            UNION ALL SELECT 'orders_custkey_references_customer', 'orders', n, f1 FROM ri)
          SELECT rule, table_name, n_checked, n_failed,
            CAST(n_failed = 0 AS INTEGER) AS pass
          FROM rules ORDER BY rule""",
    // same capped-candidate Jaccard chain as q_bucketed_jaccard, swept
    // over literal thresholds; zero-pair taus kept by the left join
    "q_dedup_threshold_curve" ->
      """WITH tok AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
          mh AS (
            SELECT doc_id, i,
              substring(min(md5(CAST(i AS VARCHAR) || '|' || t)), 1, 8) AS h
            FROM tok CROSS JOIN range(8) r(i) WHERE t <> '' GROUP BY doc_id, i),
          sig AS (
            SELECT doc_id, string_agg(h, ',' ORDER BY i) AS signature
            FROM mh GROUP BY doc_id),
          bands AS (
            SELECT doc_id, b,
              parts[CAST(b * 2 + 1 AS INTEGER)] || '|' || parts[CAST(b * 2 + 2 AS INTEGER)] AS bucket
            FROM (SELECT doc_id, string_split(signature, ',') AS parts FROM sig)
            CROSS JOIN range(4) r(b)),
          capped AS (
            SELECT doc_id, b, bucket FROM (
              SELECT doc_id, b, bucket,
                row_number() OVER (PARTITION BY b, bucket ORDER BY doc_id) AS rn
              FROM bands)
            WHERE rn <= 20),
          cand AS (
            SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
            FROM capped l JOIN capped r ON l.b = r.b AND l.bucket = r.bucket
            WHERE l.doc_id < r.doc_id),
          g AS (
            SELECT doc_id,
              list_distinct(list_transform(range(1, len(toks)),
                i -> toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i + 1 AS INTEGER)])) AS grams
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
          scored AS (
            SELECT a_id, b_id,
              round(len(list_intersect(ga.grams, gb.grams)) * 1.0 /
                CASE WHEN len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams)) = 0
                     THEN 1
                     ELSE len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams)) END,
                6) AS jaccard
            FROM cand JOIN g ga ON ga.doc_id = a_id JOIN g gb ON gb.doc_id = b_id),
          taus AS (SELECT CAST(unnest([0.1, 0.2, 0.3, 0.4, 0.5]) AS DOUBLE) AS tau),
          q AS (
            SELECT t.tau, s.a_id, s.b_id FROM scored s
            JOIN taus t ON s.jaccard >= t.tau),
          p AS (SELECT tau, CAST(count(*) AS BIGINT) AS n_pairs FROM q GROUP BY tau),
          d AS (
            SELECT tau, CAST(count(*) AS BIGINT) AS n_docs_affected FROM (
              SELECT DISTINCT tau, d FROM (
                SELECT tau, a_id AS d FROM q UNION ALL SELECT tau, b_id FROM q))
            GROUP BY tau)
          SELECT t.tau, coalesce(p.n_pairs, 0) AS n_pairs,
            coalesce(d.n_docs_affected, 0) AS n_docs_affected
          FROM taus t LEFT JOIN p USING (tau) LEFT JOIN d USING (tau)
          ORDER BY t.tau""",
    // carry-forward last non-purchase touch per user; credit census
    "q_attribution" ->
      """WITH e AS (
            SELECT user_id, event_type, event_id,
              epoch_ns(ts) // 1000 AS ts_us, value
            FROM events),
          t AS (
            SELECT event_type, value,
              last_value(CASE WHEN event_type <> 'purchase'
                  THEN event_type END IGNORE NULLS)
                OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                AS last_touch
            FROM e)
          SELECT coalesce(last_touch, 'none') AS touch_type,
            CAST(count(*) AS BIGINT) AS n_conversions,
            CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS attributed_cents
          FROM t WHERE event_type = 'purchase'
          GROUP BY 1 ORDER BY touch_type""",
    // first-order Markov transition cells + row-normalized probabilities
    "q_transition_matrix" ->
      """WITH e AS (
            SELECT user_id, event_type, event_id,
              epoch_ns(ts) // 1000 AS ts_us
            FROM events),
          lagged AS (
            SELECT event_type,
              lag(event_type, 1) OVER (PARTITION BY user_id
                ORDER BY ts_us, event_id) AS prev
            FROM e),
          cells AS (
            SELECT prev AS from_type, event_type AS to_type,
              CAST(count(*) AS BIGINT) AS n
            FROM lagged WHERE prev IS NOT NULL GROUP BY 1, 2),
          totals AS (
            SELECT from_type, CAST(sum(n) AS BIGINT) AS row_total
            FROM cells GROUP BY from_type)
          SELECT c.from_type, c.to_type, c.n, t.row_total,
            round(c.n / CAST(t.row_total AS DOUBLE), 6) AS p
          FROM cells c JOIN totals t USING (from_type)
          ORDER BY c.from_type, c.to_type""",
    // ntile(10) by clicks desc; cumulative shares over the decile frame
    "q_lift_deciles" ->
      """WITH pu AS (
            SELECT user_id,
              CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
              CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases
            FROM events GROUP BY user_id),
          t AS (
            SELECT clicks, purchases,
              ntile(10) OVER (ORDER BY clicks DESC, user_id) AS decile
            FROM pu),
          dec AS (
            SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
              CAST(sum(clicks) AS BIGINT) AS clicks,
              CAST(sum(purchases) AS BIGINT) AS purchases
            FROM t GROUP BY decile),
          g AS (
            SELECT decile, n_users, clicks, purchases,
              CAST(sum(purchases) OVER (ORDER BY decile) AS BIGINT) AS cum_purchases,
              CAST(sum(purchases) OVER () AS BIGINT) AS total_purchases,
              CAST(sum(n_users) OVER (ORDER BY decile) AS BIGINT) AS cum_users,
              CAST(sum(n_users) OVER () AS BIGINT) AS total_users
            FROM dec)
          SELECT decile, n_users, clicks, purchases,
            round(purchases / CAST(n_users AS DOUBLE), 6) AS resp_per_user,
            round(cum_purchases / CAST(total_purchases AS DOUBLE), 6) AS cum_purchase_share,
            round(cum_users / CAST(total_users AS DOUBLE), 6) AS cum_user_share
          FROM g ORDER BY decile""",
    // MDE from exact cent moments; z quantiles inlined as literals
    "q_power_mde" ->
      """WITH pu AS (
            SELECT user_id,
              CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y,
              substring(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7' AS in_a
            FROM events GROUP BY user_id),
          m AS (
            SELECT
              CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
              CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
              CAST(sum(y) AS BIGINT) AS sy, CAST(sum(y * y) AS BIGINT) AS syy
            FROM pu),
          d AS (
            SELECT n_a, n_b,
              CAST(n_a + n_b AS DOUBLE) AS n, CAST(sy AS DOUBLE) AS sy,
              CAST(syy AS DOUBLE) AS syy
            FROM m),
          f AS (
            SELECT n_a, n_b, sy / n / 100.0 AS mean_dollars,
              (syy - sy * sy / n) / (n - 1.0) AS variance,
              2.801585 * sqrt((syy - sy * sy / n) / (n - 1.0)
                * (1.0 / n_a + 1.0 / n_b)) AS mde
            FROM d)
          SELECT n_a, n_b,
            round(mean_dollars, 6) AS mean_spend,
            round(sqrt(variance) / 100.0, 6) AS sd_spend,
            round(mde / 100.0, 6) AS mde_spend,
            round(mde / 100.0 / mean_dollars, 6) AS mde_relative
          FROM f""",
    // file counts derived from row arithmetic alone (writer contract):
    // 32 fragments in, ceil(rows/50000) out, content identical
    "q_compaction_audit" ->
      """WITH m AS (
            SELECT CAST(count(*) AS BIGINT) AS n FROM events)
          SELECT n AS rows_before,
            CAST(least(32, n) AS BIGINT) AS files_before,
            n AS rows_after,
            CAST(greatest(1, (n + 49999) // 50000) AS BIGINT) AS files_after,
            CAST(1 AS INTEGER) AS content_preserved
          FROM m""",
    // rolling 7-day distinct via the explode-to-window-end rewrite
    "q_dau_wau" ->
      """WITH du AS (
            SELECT DISTINCT
              (epoch_ns(ts) // 1000) // 86400000000 AS day, user_id
            FROM events),
          dau AS (
            SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY day),
          wau AS (
            SELECT day, CAST(count(*) AS BIGINT) AS wau FROM (
              SELECT DISTINCT CAST(unnest(range(day, day + 7)) AS BIGINT) AS day,
                user_id
              FROM du)
            GROUP BY day)
          SELECT CAST(dau.day AS BIGINT) AS day, dau.dau, wau.wau,
            round(dau.dau / CAST(wau.wau AS DOUBLE), 6) AS stickiness
          FROM dau JOIN wau USING (day) ORDER BY day""",
    // weekday index from cross-multiplied BIGINT masses, one division
    "q_seasonal_index" ->
      """WITH daily AS (
            SELECT event_type,
              (epoch_ns(ts) // 1000) // 86400000000 AS day,
              CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2),
          d2 AS (SELECT event_type, day, day % 7 AS dow, n FROM daily),
          spine AS (
            SELECT dow, CAST(count(*) AS BIGINT) AS days_dow FROM (
              SELECT DISTINCT day, dow FROM d2) GROUP BY dow),
          alldays AS (SELECT CAST(sum(days_dow) AS BIGINT) AS days_all FROM spine),
          bytype AS (
            SELECT event_type, CAST(sum(n) AS BIGINT) AS ev_all
            FROM d2 GROUP BY event_type),
          bydow AS (
            SELECT event_type, dow, CAST(sum(n) AS BIGINT) AS ev_dow
            FROM d2 GROUP BY 1, 2)
          SELECT b.event_type, CAST(b.dow AS BIGINT) AS dow,
            s.days_dow, b.ev_dow,
            round((b.ev_dow * a.days_all) /
              CAST(s.days_dow * t.ev_all AS DOUBLE), 6) AS seasonal_index
          FROM bydow b
          JOIN spine s USING (dow)
          JOIN bytype t USING (event_type)
          CROSS JOIN alldays a
          ORDER BY b.event_type, dow""",
    // scale-free integer cross-multiplied share threshold
    "q_scalar_subquery" ->
      """WITH pv AS (
           SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
               AS BIGINT)) AS BIGINT) AS rev_cents
           FROM lineitem GROUP BY l_partkey)
         SELECT l_partkey, rev_cents
         FROM pv
         WHERE rev_cents * (SELECT count(*) FROM pv) * 10 >
               (SELECT sum(rev_cents) FROM pv) * 14
         ORDER BY rev_cents DESC, l_partkey""",
    "q_not_exists" ->
      """WITH pos AS (
           SELECT CAST(count(*) AS BIGINT) AS n_pos,
             CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS cents_pos
           FROM customer WHERE c_acctbal > 0)
         SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS bal_cents
         FROM customer c
         WHERE CAST(round(c_acctbal * 100) AS BIGINT) *
                 (SELECT n_pos FROM pos) > (SELECT cents_pos FROM pos)
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderpriority = '1-URGENT')
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    // linked-list walk: acyclic, UNION ALL visits each order once
    "q_recursive_cte" ->
      """WITH RECURSIVE nxt AS (
           SELECT o_custkey, o_orderkey,
             lead(o_orderkey) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS next_key,
             lag(o_orderkey) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS prev_key
           FROM orders),
         walk AS (
           SELECT o_custkey, o_orderkey, next_key, 1 AS pos
           FROM nxt WHERE prev_key IS NULL
           UNION ALL
           SELECT n.o_custkey, n.o_orderkey, n.next_key, w.pos + 1
           FROM walk w JOIN nxt n ON n.o_orderkey = w.next_key)
         SELECT CAST(pos AS BIGINT) AS pos,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
         FROM walk GROUP BY pos ORDER BY pos""",
    "q_dwell_time" ->
      """WITH g AS (
           SELECT event_type,
             lead(epoch_ns(ts) // 1000) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) - epoch_ns(ts) // 1000 AS gap_us
           FROM events)
         SELECT event_type, CAST(count(gap_us) AS BIGINT) AS n_gaps,
           CAST(sum(gap_us) AS BIGINT) AS sum_gap_us,
           round(sum(gap_us) / (count(gap_us) * 1000000.0), 4) AS avg_gap_sec
         FROM g GROUP BY event_type ORDER BY event_type""",
    "q_timed_funnel" ->
      """WITH e AS (
           SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
         v AS (SELECT user_id, min(us) AS v_us FROM e
               WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, min(e.us) AS c_us
               FROM e JOIN v ON e.user_id = v.user_id
               WHERE e.event_type = 'click' AND e.us > v.v_us
                 AND e.us <= v.v_us + 259200000000
               GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(e.us) AS p_us
               FROM e JOIN c ON e.user_id = c.user_id
               WHERE e.event_type = 'purchase' AND e.us > c.c_us
                 AND e.us <= c.c_us + 259200000000
               GROUP BY e.user_id)
         SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS viewed,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS clicked_72h,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS purchased_72h,
           round((SELECT count(*) FROM c) /
             CAST((SELECT count(*) FROM v) AS DOUBLE), 6) AS view_to_click,
           round((SELECT count(*) FROM p) / greatest(
             CAST((SELECT count(*) FROM c) AS DOUBLE), 1.0), 6)
             AS click_to_purchase""",
    // Poisson(1) inverse-CDF boundaries: literals shared with the engine
    "q_bootstrap_ci" ->
      """WITH reps AS (SELECT unnest(range(1, 41)) AS rep),
         d AS (
           SELECT r.rep,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
             CAST(('0x' || substring(md5(CAST(o.o_orderkey AS VARCHAR) || '#'
               || CAST(r.rep AS VARCHAR)), 1, 6)) AS BIGINT) / 16777216.0 AS u
           FROM orders o CROSS JOIN reps r),
         wts AS (
           SELECT rep, cents,
             CASE WHEN u < 0.367879441171 THEN 0
                  WHEN u < 0.735758882343 THEN 1
                  WHEN u < 0.919698602929 THEN 2
                  WHEN u < 0.981011843123 THEN 3
                  WHEN u < 0.996340153246 THEN 4
                  WHEN u < 0.999405815182 THEN 5
                  WHEN u < 0.999916758850 THEN 6
                  ELSE 7 END AS w
           FROM d),
         means AS (
           SELECT rep, sum(w * cents) / (sum(w) * 100.0) AS m
           FROM wts GROUP BY rep),
         ranked AS (
           SELECT m, row_number() OVER (ORDER BY m, rep) AS rk FROM means),
         pt AS (
           SELECT sum(CAST(round(o_totalprice * 100) AS BIGINT)) /
             (count(*) * 100.0) AS mean_spend FROM orders)
         SELECT round((SELECT mean_spend FROM pt), 4) AS mean_spend,
           round((SELECT m FROM ranked WHERE rk = 2), 4) AS ci_lo,
           round((SELECT m FROM ranked WHERE rk = 39), 4) AS ci_hi,
           round((SELECT m FROM ranked WHERE rk = 39) -
                 (SELECT m FROM ranked WHERE rk = 2), 4) AS ci_width""",
    // relative k/10-of-max thresholds: scale-free operating points
    "q_pr_curve" ->
      """WITH u AS (
           SELECT user_id,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS score,
             CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
               END) * 5 > count(*) THEN 1 ELSE 0 END AS pos
           FROM events GROUP BY user_id),
         h AS (SELECT score, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(pos) AS BIGINT) AS n_pos FROM u GROUP BY score),
         mx AS (SELECT max(score) AS ms FROM h),
         t AS (SELECT unnest(range(1, 11)) AS k),
         cells AS (
           SELECT t.k,
             sum(CASE WHEN h.score * 10 >= (SELECT ms FROM mx) * t.k
               THEN h.n_pos ELSE 0 END) AS tp,
             sum(CASE WHEN h.score * 10 >= (SELECT ms FROM mx) * t.k
               THEN h.n - h.n_pos ELSE 0 END) AS fp,
             sum(CASE WHEN h.score * 10 < (SELECT ms FROM mx) * t.k
               THEN h.n_pos ELSE 0 END) AS fn
           FROM t CROSS JOIN h GROUP BY t.k)
         SELECT CAST(k AS BIGINT) AS k, CAST(tp AS BIGINT) AS tp,
           CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
           round(tp / greatest(CAST(tp + fp AS DOUBLE), 1.0), 6) AS precision,
           round(tp / greatest(CAST(tp + fn AS DOUBLE), 1.0), 6) AS recall,
           round(2 * tp / greatest(CAST(2 * tp + fp + fn AS DOUBLE), 1.0), 6)
             AS f1
         FROM cells ORDER BY k""",
    // three peel rounds unrolled; n_edges halves the both-ways edge list
    "q_kcore" ->
      """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         pr AS (
           SELECT a.l_partkey AS pa, b2.l_partkey AS pb
           FROM b a JOIN b b2 ON a.l_orderkey = b2.l_orderkey
             AND a.l_partkey < b2.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         ed0 AS (SELECT pa AS a, pb AS b FROM pr
                 UNION ALL SELECT pb, pa FROM pr),
         d1 AS (SELECT a, count(*) AS deg FROM ed0 GROUP BY a),
         al1 AS (SELECT a FROM d1 WHERE deg >= 2),
         e1 AS (SELECT ed.a, ed.b FROM ed0 ed JOIN al1 x ON ed.a = x.a
                JOIN al1 y ON ed.b = y.a),
         d2 AS (SELECT a, count(*) AS deg FROM e1 GROUP BY a),
         al2 AS (SELECT a FROM d2 WHERE deg >= 2),
         e2 AS (SELECT ed.a, ed.b FROM e1 ed JOIN al2 x ON ed.a = x.a
                JOIN al2 y ON ed.b = y.a),
         d3 AS (SELECT a, count(*) AS deg FROM e2 GROUP BY a),
         al3 AS (SELECT a FROM d3 WHERE deg >= 2),
         e3 AS (SELECT ed.a, ed.b FROM e2 ed JOIN al3 x ON ed.a = x.a
                JOIN al3 y ON ed.b = y.a)
         SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS round,
             (SELECT CAST(count(*) AS BIGINT) FROM al1) AS n_alive,
             (SELECT CAST(count(*) // 2 AS BIGINT) FROM e1) AS n_edges
           UNION ALL
           SELECT 2, (SELECT count(*) FROM al2),
             (SELECT count(*) // 2 FROM e2)
           UNION ALL
           SELECT 3, (SELECT count(*) FROM al3),
             (SELECT count(*) // 2 FROM e3))
         ORDER BY round""",
    // sqrt(c)*sqrt(sqrt(c)) is an exactly-rounded c^0.75 on both engines
    "q_negative_samples" ->
      """WITH tok AS (
           SELECT doc_id, unnest(list_filter(string_split(text, ' '),
             x -> x <> '')) AS term
           FROM documents),
         vocab AS (
           SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY term
           ORDER BY cnt DESC, term LIMIT 50),
         wts AS (
           SELECT term, cnt,
             CAST(round(sqrt(CAST(cnt AS DOUBLE)) *
               sqrt(sqrt(CAST(cnt AS DOUBLE))) * 1000000) AS BIGINT) AS w
           FROM vocab),
         cum AS (
           SELECT term, cnt, w,
             CAST(coalesce(sum(w) OVER (ORDER BY cnt DESC, term
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cumlo,
             CAST(sum(w) OVER (ORDER BY cnt DESC, term
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumhi
           FROM wts),
         tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM wts),
         draws AS (
           SELECT doc_id, j,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '~' ||
               CAST(j AS VARCHAR)), 1, 12)) AS BIGINT)
               % (SELECT tw FROM tot) AS t
           FROM documents CROSS JOIN (SELECT unnest(range(1, 4)) AS j) reps),
         hit AS (
           SELECT c.term, count(*) AS n
           FROM draws d JOIN cum c ON d.t >= c.cumlo AND d.t < c.cumhi
           GROUP BY c.term)
         SELECT c.term, c.cnt, CAST(coalesce(h.n, 0) AS BIGINT) AS n_draws,
           round(c.w / CAST((SELECT tw FROM tot) AS DOUBLE), 6)
             AS expected_share,
           round(coalesce(h.n, 0) /
             CAST((SELECT count(*) FROM draws) AS DOUBLE), 6)
             AS realized_share
         FROM cum c LEFT JOIN hit h ON h.term = c.term
         ORDER BY c.term""",
    // quantized per-(label, dim) moments; z2 summed in fixed index order
    "q_mahalanobis" ->
      """WITH e AS (
           SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         dims AS (SELECT unnest(range(1, (SELECT max(len(v)) FROM e) + 1)) AS i),
         st AS (
           SELECT label, i, round(avg(v[CAST(i AS INTEGER)]), 6) AS mu,
             round(stddev_samp(v[CAST(i AS INTEGER)]), 4) AS sd
           FROM e CROSS JOIN dims GROUP BY label, i),
         mv AS (
           SELECT label, list(mu ORDER BY i) AS muv,
             list(sd ORDER BY i) AS sdv
           FROM st GROUP BY label),
         z AS (
           SELECT e.label, round(list_sum(list_transform(range(1, len(v) + 1),
               i -> ((v[CAST(i AS INTEGER)] - muv[CAST(i AS INTEGER)]) /
                     sdv[CAST(i AS INTEGER)])
                  * ((v[CAST(i AS INTEGER)] - muv[CAST(i AS INTEGER)]) /
                     sdv[CAST(i AS INTEGER)]))), 6) AS z2
           FROM e JOIN mv USING (label)),
         f AS (
           SELECT label, z2,
             row_number() OVER (PARTITION BY label ORDER BY z2) AS rn,
             count(*) OVER (PARTITION BY label) AS n FROM z),
         fe AS (
           SELECT label, min(CASE WHEN rn = (n - 1) * 95 // 100 + 1
             THEN z2 END) AS fence
           FROM f GROUP BY label)
         SELECT z.label, CAST(count(*) AS BIGINT) AS n_vectors,
           round(min(fence), 6) AS p95_z2,
           CAST(sum(CASE WHEN z2 > fence THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           round(max(z2), 6) AS max_z2
         FROM z JOIN fe USING (label) GROUP BY z.label ORDER BY z.label""",
    // dau = new + retained + resurrected; churn ledger capped at max day
    "q_growth_accounting" ->
      """WITH du AS (
           SELECT DISTINCT (epoch_ns(ts) // 1000) // 86400000000 AS day,
             user_id FROM events),
         l AS (SELECT day, user_id,
                 lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
                 lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
               FROM du),
         mx AS (SELECT max(day) AS mxd FROM du),
         act AS (
           SELECT CAST(day AS BIGINT) AS day,
             CAST(count(*) AS BIGINT) AS dau,
             CAST(sum(CASE WHEN prev_day IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_new,
             CAST(sum(CASE WHEN prev_day = day - 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_retained,
             CAST(sum(CASE WHEN prev_day IS NOT NULL AND prev_day < day - 1
               THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
           FROM l GROUP BY day),
         churn AS (
           SELECT CAST(day + 1 AS BIGINT) AS day,
             CAST(count(*) AS BIGINT) AS n_churned
           FROM l WHERE (next_day IS NULL OR next_day > day + 1)
             AND day + 1 <= (SELECT mxd FROM mx)
           GROUP BY day + 1)
         SELECT a.day, a.dau, a.n_new, a.n_retained, a.n_resurrected,
           CAST(coalesce(c.n_churned, 0) AS BIGINT) AS n_churned
         FROM act a LEFT JOIN churn c ON a.day = c.day ORDER BY a.day""",
    // lifetime histogram collapse: spine × spans, never spine × users
    "q_survival_curve" ->
      """WITH du AS (
           SELECT user_id,
             min((epoch_ns(ts) // 1000) // 86400000000) AS fd,
             max((epoch_ns(ts) // 1000) // 86400000000) AS ld
           FROM events GROUP BY user_id),
         lt AS (SELECT CAST(ld - fd AS BIGINT) AS lifetime,
                  CAST(count(*) AS BIGINT) AS n FROM du GROUP BY 1),
         mx AS (SELECT max(lifetime) AS ml, CAST(sum(n) AS BIGINT) AS total
                FROM lt),
         spine AS (SELECT unnest(range(0, (SELECT ml FROM mx) + 1)) AS d)
         SELECT CAST(d AS BIGINT) AS d,
           CAST((SELECT sum(n) FROM lt WHERE lifetime >= d) AS BIGINT)
             AS survivors,
           round((SELECT sum(n) FROM lt WHERE lifetime >= d) /
             CAST((SELECT total FROM mx) AS DOUBLE), 6) AS survival
         FROM spine ORDER BY d""",
    // plain ntile(10) — bit-identical to the engine's distributed ntile
    "q_quantile_norm" ->
      """WITH g AS (
           SELECT doc_id, source, n_chars,
             ntile(10) OVER (ORDER BY n_chars, doc_id) AS gq
           FROM documents),
         bounds AS (
           SELECT CAST(gq AS BIGINT) AS decile,
             CAST(max(n_chars) AS BIGINT) AS ref_chars FROM g GROUP BY gq),
         s AS (
           SELECT source, n_chars,
             ntile(10) OVER (PARTITION BY source ORDER BY n_chars, doc_id)
               AS decile
           FROM documents)
         SELECT s.source, CAST(s.decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(s.n_chars) AS BIGINT) AS sum_chars,
           b.ref_chars
         FROM s JOIN bounds b ON s.decile = b.decile
         GROUP BY s.source, s.decile, b.ref_chars
         ORDER BY s.source, decile""",
    "q_pseudonymize" ->
      """WITH e AS (
           SELECT substring(md5('pepper|' || CAST(user_id AS VARCHAR)), 1, 16) AS pid,
             event_type, CAST(floor(value / 50.0) AS BIGINT) * 50 AS value_band
           FROM events)
         SELECT pid, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
           min(value_band) AS min_band, max(value_band) AS max_band
         FROM e GROUP BY pid ORDER BY pid""",
    "q_kanon_cells" ->
      """WITH c AS (
           SELECT event_type, (epoch_ns(ts) // 3600000000000) % 24 AS hr,
             CAST(floor(value / 100.0) AS BIGINT) AS vband,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
           FROM events GROUP BY 1, 2, 3)
         SELECT event_type, hr, vband, n_users, n_users >= 5 AS released,
           CASE WHEN n_users >= 5 THEN n_rows END AS released_rows
         FROM c ORDER BY event_type, hr, vband""",
    "q_fuzzy_join" ->
      """WITH b AS (
           SELECT p_partkey, p_name, string_split(p_name, ' ')[2] AS noun,
             row_number() OVER (PARTITION BY string_split(p_name, ' ')[2]
               ORDER BY p_partkey) AS rn
           FROM part),
         c AS (SELECT noun, p_partkey, p_name FROM b WHERE rn <= 40)
         SELECT l.p_partkey AS a_key, r.p_partkey AS b_key,
           l.p_name AS a_name, r.p_name AS b_name,
           CAST(levenshtein(l.p_name, r.p_name) AS BIGINT) AS dist,
           round(1.0 - levenshtein(l.p_name, r.p_name) * 1.0 /
             greatest(length(l.p_name), length(r.p_name)), 6) AS sim
         FROM c l JOIN c r ON l.noun = r.noun AND l.p_partkey < r.p_partkey
         WHERE levenshtein(l.p_name, r.p_name) <= 3
         ORDER BY a_key, b_key""",
    "q_snm_neardup" ->
      """WITH d AS (
           SELECT doc_id, lang, substring(text, 1, 40) AS pre,
             list_distinct(list_filter(string_split(text, ' '), t -> t <> '')) AS toks
           FROM documents),
         s AS (
           SELECT doc_id, toks,
             lag(doc_id, 1) OVER w AS p1_id, lag(toks, 1) OVER w AS p1_t,
             lag(doc_id, 2) OVER w AS p2_id, lag(toks, 2) OVER w AS p2_t,
             lag(doc_id, 3) OVER w AS p3_id, lag(toks, 3) OVER w AS p3_t
           FROM d WINDOW w AS (PARTITION BY lang ORDER BY pre, doc_id)),
         pairs AS (
           SELECT doc_id AS r_id, p1_id AS l_id, toks AS rt, p1_t AS lt FROM s WHERE p1_id IS NOT NULL
           UNION ALL SELECT doc_id, p2_id, toks, p2_t FROM s WHERE p2_id IS NOT NULL
           UNION ALL SELECT doc_id, p3_id, toks, p3_t FROM s WHERE p3_id IS NOT NULL),
         scored AS (
           SELECT least(l_id, r_id) AS a_id, greatest(l_id, r_id) AS b_id,
             round(len(list_intersect(lt, rt)) * 1.0 /
               (len(lt) + len(rt) - len(list_intersect(lt, rt))), 6) AS jaccard
           FROM pairs)
         SELECT a_id, b_id, max(jaccard) AS jaccard FROM scored GROUP BY 1, 2
         HAVING max(jaccard) >= 0.6 ORDER BY a_id, b_id""",
    "q_ewma_daily" ->
      """WITH daily AS (
           SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
             CAST(count(*) AS BIGINT) AS cnt
           FROM events GROUP BY 1, 2),
         idx AS (
           SELECT event_type, day, cnt,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
           FROM daily)
         SELECT event_type, day, cnt,
           round(sum(cnt * pow(2.0, i)) OVER (PARTITION BY event_type ORDER BY i
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
             / pow(2.0, i + 1) / (1 - pow(0.5, least(i, 20))), 6) AS ewma
         FROM idx ORDER BY event_type, day""",
    "q_ohlc_daily" ->
      """WITH e AS (
           SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
             epoch_ns(ts) AS tsn, event_id, value
           FROM events)
         SELECT event_type, day,
           round(first(value ORDER BY tsn, event_id), 6) AS open,
           round(max(value), 6) AS high, round(min(value), 6) AS low,
           round(last(value ORDER BY tsn, event_id), 6) AS close,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value * value) / sum(value), 6) AS vwap
         FROM e GROUP BY 1, 2 ORDER BY event_type, day""",
    "q_logistic_step" ->
      """WITH f AS (
           SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
             len(list_filter(string_split(text, ' '), t -> t <> '')) * 0.01 AS x1,
             len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) * 1.0 /
               len(list_filter(string_split(text, ' '), t -> t <> '')) AS x2,
             n_chars * 0.001 AS x3
           FROM documents),
         g AS (
           SELECT sum((0.5 - y) * 1.0) / count(*) AS g0,
             sum((0.5 - y) * x1) / count(*) AS g1,
             sum((0.5 - y) * x2) / count(*) AS g2,
             sum((0.5 - y) * x3) / count(*) AS g3
           FROM f),
         w AS (SELECT -1.0 * g0 AS w0, -1.0 * g1 AS w1, -1.0 * g2 AS w2, -1.0 * g3 AS w3 FROM g),
         l AS (
           SELECT round(avg(-(y * ln(p) + (1 - y) * ln(1 - p))), 6) AS log_loss,
             round(avg(CASE WHEN (p >= 0.5) = (y = 1.0) THEN 1.0 ELSE 0.0 END), 6) AS acc
           FROM (SELECT y,
               1.0 / (1.0 + exp(-(w.w0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3))) AS p
             FROM f, w))
         SELECT round(w0, 6) AS w0, round(w1, 6) AS w1, round(w2, 6) AS w2,
           round(w3, 6) AS w3, log_loss, acc
         FROM w, l""",
    "q_skyline" ->
      """WITH pts AS (
           SELECT l_partkey AS pk,
             CAST(round(min(l_extendedprice) * 100, 0) AS BIGINT) AS x,
             CAST(sum(l_quantity) AS BIGINT) AS y
           FROM lineitem GROUP BY 1),
         atx AS (SELECT x, max(y) AS ymax FROM pts GROUP BY x),
         pre AS (
           SELECT x, ymax,
             max(ymax) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ylt
           FROM atx)
         SELECT p.pk, p.x, p.y
         FROM pts p JOIN pre ON p.x = pre.x
         WHERE p.y = pre.ymax AND (pre.ylt IS NULL OR pre.ylt < p.y)
         ORDER BY p.x, p.pk""",
    "q_benford" ->
      """WITH c AS (
           SELECT substring(CAST(CAST(round(value * 100, 0) AS BIGINT) AS VARCHAR), 1, 1) AS digit
           FROM events WHERE value > 0),
         obs AS (SELECT CAST(digit AS BIGINT) AS d, CAST(count(*) AS BIGINT) AS n_obs
           FROM c GROUP BY 1),
         tot AS (SELECT sum(n_obs) AS n FROM obs)
         SELECT d, n_obs,
           round(n_obs * 1.0 / n, 6) AS obs_share,
           round(log10(1 + 1.0 / d), 6) AS benford_p,
           round(pow(n_obs - n * log10(1 + 1.0 / d), 2) / (n * log10(1 + 1.0 / d)), 6) AS chi2_term
         FROM obs, tot ORDER BY d""",
    "q_ols2" ->
      """WITH daily AS (
           SELECT epoch_ns(ts) // 86400000000000 AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
           FROM events GROUP BY 1),
         f AS (
           SELECT day - (SELECT min(day) FROM daily) AS d,
             CASE WHEN day % 7 IN (2, 3) THEN 1 ELSE 0 END AS w, y
           FROM daily),
         m AS (
           SELECT CAST(count(*) AS BIGINT) AS n, sum(d) AS sd, sum(w) AS sw,
             sum(d * d) AS sdd, sum(d * w) AS sdw, sum(w * w) AS sww,
             sum(y) AS sy, sum(d * y) AS sdy, sum(w * y) AS swy
           FROM f),
         det AS (
           SELECT n,
             n * (sdd * sww - sdw * sdw) - sd * (sd * sww - sdw * sw)
               + sw * (sd * sdw - sdd * sw) AS dm,
             sy * (sdd * sww - sdw * sdw) - sd * (sdy * sww - sdw * swy)
               + sw * (sdy * sdw - sdd * swy) AS d0,
             n * (sdy * sww - sdw * swy) - sy * (sd * sww - sdw * sw)
               + sw * (sd * swy - sdy * sw) AS d1,
             n * (sdd * swy - sdy * sdw) - sd * (sd * swy - sdy * sw)
               + sy * (sd * sdw - sdd * sw) AS d2
           FROM m)
         SELECT n AS n_days,
           round(d0 * 1.0 / dm / 100, 4) AS b_intercept,
           round(d1 * 1.0 / dm / 100, 4) AS b_day,
           round(d2 * 1.0 / dm / 100, 4) AS b_weekend
         FROM det""",
    "q_path_trigrams" ->
      """WITH e AS (
           SELECT user_id, event_type, epoch_ns(ts) AS tsn, event_id FROM events),
         s AS (
           SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS t2, lead(event_type, 2) OVER w AS t3
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id)),
         g AS (
           SELECT event_type || '>' || t2 || '>' || t3 AS trigram,
             CAST(count(*) AS BIGINT) AS n
           FROM s WHERE t3 IS NOT NULL GROUP BY 1)
         SELECT trigram, n FROM g ORDER BY n DESC, trigram LIMIT 20""",
    "q_chi2_independence" ->
      """WITH c AS (
           SELECT event_type, (epoch_ns(ts) // 86400000000000) % 7 AS wd,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         tot AS (SELECT sum(n) AS t FROM c),
         rm AS (SELECT event_type, sum(n) AS rn FROM c GROUP BY 1),
         cm AS (SELECT wd, sum(n) AS cn FROM c GROUP BY 1)
         SELECT c.event_type, c.wd, c.n,
           round(rn * cn * 1.0 / t, 6) AS expected,
           round(pow(c.n - rn * cn * 1.0 / t, 2) / (rn * cn * 1.0 / t), 6) AS chi2_term
         FROM c JOIN rm USING (event_type) JOIN cm USING (wd) CROSS JOIN tot
         ORDER BY c.event_type, c.wd""",
    "q_interpolate_gaps" ->
      """WITH daily AS (
           SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
           FROM events GROUP BY 1, 2),
         spine AS (
           SELECT event_type, unnest(range(lo, hi + 1)) AS day FROM (
             SELECT event_type, min(day) AS lo, max(day) AS hi
             FROM daily GROUP BY event_type)),
         obs AS (SELECT event_type, day, cents FROM daily WHERE day % 3 = 0),
         j AS (
           SELECT s.event_type, s.day, o.cents,
             last_value(o.cents IGNORE NULLS) OVER w AS prev_v,
             last_value(CASE WHEN o.cents IS NOT NULL THEN s.day END IGNORE NULLS) OVER w AS prev_d,
             first_value(o.cents IGNORE NULLS) OVER w2 AS next_v,
             first_value(CASE WHEN o.cents IS NOT NULL THEN s.day END IGNORE NULLS) OVER w2 AS next_d
           FROM spine s LEFT JOIN obs o ON s.event_type = o.event_type AND s.day = o.day
           WINDOW w AS (PARTITION BY s.event_type ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             w2 AS (PARTITION BY s.event_type ORDER BY s.day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT event_type, CAST(day AS BIGINT) AS day,
           cents IS NOT NULL AS observed,
           round(CASE
             WHEN cents IS NOT NULL THEN cents * 1.0
             WHEN prev_v IS NULL THEN next_v * 1.0
             WHEN next_v IS NULL THEN prev_v * 1.0
             ELSE prev_v + (next_v - prev_v) * (day - prev_d) * 1.0 / (next_d - prev_d)
           END / 100, 4) AS filled
         FROM j ORDER BY event_type, day""",
    "q_kwic" ->
      """WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         hits AS (
           SELECT doc_id, CAST(i AS BIGINT) AS pos,
             list_slice(ts, greatest(1, CAST(i AS BIGINT) - 2),
               least(len(ts), CAST(i AS BIGINT) + 2)) AS ctx
           FROM toks, unnest(range(1, len(ts) + 1)) r(i)
           WHERE ts[CAST(i AS INTEGER)] = 'spark')
         SELECT doc_id, pos, array_to_string(ctx, ' ') AS context
         FROM hits ORDER BY doc_id, pos""",
    "q_median_of_means" ->
      """WITH b AS (
           SELECT CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
             % 32 AS g, value
           FROM events),
         m AS (SELECT g, round(avg(value), 6) AS mean_v FROM b GROUP BY g),
         r AS (SELECT *, row_number() OVER (ORDER BY mean_v, g) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS kk
           FROM m)
         SELECT kk AS k_groups, mean_v AS mom_estimate FROM r WHERE rk = (kk + 1) // 2""",
    "q_bounce_rate" ->
      """WITH e AS (
           SELECT user_id, epoch_ns(ts) // 1000000000 AS ts_s, event_id FROM events),
         l AS (
           SELECT user_id, ts_s, event_id,
             CASE WHEN ts_s - lag(ts_s) OVER w >= 1800 OR lag(ts_s) OVER w IS NULL
               THEN 1 ELSE 0 END AS brk
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
         s AS (
           SELECT user_id, ts_s, sum(brk) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM l),
         sess AS (
           SELECT user_id, sid, min(ts_s) AS start_s, count(*) AS n
           FROM s GROUP BY 1, 2)
         SELECT start_s // 86400 AS day, CAST(count(*) AS BIGINT) AS sessions,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bounces,
           round(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS bounce_rate
         FROM sess GROUP BY 1 ORDER BY day""",
    "q_cohort_ltv" ->
      """WITH e AS (
           SELECT user_id, epoch_ns(ts) // 86400000000000 AS day, event_type, value
           FROM events),
         cohort AS (
           SELECT user_id, min(day) AS cd FROM e WHERE event_type = 'purchase' GROUP BY 1),
         sizes AS (SELECT cd, CAST(count(*) AS BIGINT) AS n_users FROM cohort GROUP BY 1),
         rev AS (
           SELECT c.cd, (e.day - c.cd) // 7 AS wk,
             CAST(sum(CAST(round(e.value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
           FROM e JOIN cohort c USING (user_id)
           WHERE e.event_type = 'purchase' GROUP BY 1, 2),
         cum AS (
           SELECT cd, wk, CAST(sum(cents) OVER (PARTITION BY cd ORDER BY wk
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
           FROM rev)
         SELECT cd AS cohort_day, wk, cum_cents, n_users,
           round(cum_cents / (n_users * 100.0), 4) AS ltv
         FROM cum JOIN sizes USING (cd) ORDER BY cohort_day, wk""",
    "q_markov_steps" ->
      """WITH e AS (
           SELECT user_id, event_type, epoch_ns(ts) AS tsn, event_id FROM events),
         tr AS (
           SELECT event_type AS a,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS b
           FROM e),
         cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n
           FROM tr WHERE b IS NOT NULL GROUP BY 1, 2),
         marg AS (SELECT a, sum(n) AS na FROM cells GROUP BY 1),
         T AS (SELECT a, b, n * 1.0 / na AS p FROM cells JOIN marg USING (a)),
         states AS (SELECT DISTINCT a AS s FROM cells),
         k AS (SELECT count(*) AS kk FROM states),
         p0 AS (SELECT s, 1.0 / kk AS p FROM states, k),
         p1 AS (SELECT T.b AS s, sum(p0.p * T.p) AS p FROM p0 JOIN T ON p0.s = T.a GROUP BY 1),
         p2 AS (SELECT T.b AS s, sum(p1.p * T.p) AS p FROM p1 JOIN T ON p1.s = T.a GROUP BY 1),
         p3 AS (SELECT T.b AS s, sum(p2.p * T.p) AS p FROM p2 JOIN T ON p2.s = T.a GROUP BY 1)
         SELECT p1.s AS state, round(p1.p, 6) AS p_step1,
           round(p2.p, 6) AS p_step2, round(p3.p, 6) AS p_step3
         FROM p1 JOIN p2 ON p1.s = p2.s JOIN p3 ON p1.s = p3.s ORDER BY state""",
    "q_mutual_information" ->
      """WITH f AS (
           SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             len(list_filter(string_split(text, ' '), t -> t <> '')) AS ntok, n_chars
           FROM documents),
         binned AS (
           SELECT 'n_chars' AS feature,
             ntile(10) OVER (ORDER BY n_chars, doc_id) AS bin, y FROM f
           UNION ALL
           SELECT 'n_tokens', ntile(10) OVER (ORDER BY ntok, doc_id), y FROM f),
         cells AS (SELECT feature, CAST(bin AS BIGINT) AS bin, y,
             CAST(count(*) AS BIGINT) AS c
           FROM binned GROUP BY 1, 2, 3),
         bm AS (SELECT feature, bin, sum(c) AS cb FROM cells GROUP BY 1, 2),
         ym AS (SELECT feature, y, sum(c) AS cy FROM cells GROUP BY 1, 2),
         tot AS (SELECT feature, sum(c) AS n FROM cells GROUP BY 1)
         SELECT feature,
           round(sum(c * 1.0 / n * ln(c * 1.0 * n / (cb * cy))), 6) AS mi_nats
         FROM cells JOIN bm USING (feature, bin) JOIN ym USING (feature, y)
           JOIN tot USING (feature)
         GROUP BY feature ORDER BY feature""",
    "q_seasonal_decompose" ->
      """WITH daily AS (
           SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
           FROM events GROUP BY 1, 2),
         tr AS (
           SELECT event_type, day, cents,
             CASE WHEN count(*) OVER w = 7 THEN sum(cents) OVER w / 7.0 END AS trend
           FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         se AS (
           SELECT event_type AS et, day % 7 AS wd, avg(cents - trend) AS seas_raw
           FROM tr WHERE trend IS NOT NULL GROUP BY 1, 2)
         SELECT t.event_type, CAST(t.day AS BIGINT) AS day, t.cents,
           round(t.trend / 100, 4) AS trend,
           round(s.seas_raw / 100, 4) AS seasonal,
           round((t.cents - t.trend - s.seas_raw) / 100, 4) AS residual
         FROM tr t JOIN se s ON t.event_type = s.et AND t.day % 7 = s.wd
         WHERE t.trend IS NOT NULL
         ORDER BY t.event_type, day""",
    "q_class_balance" ->
      """WITH sizes AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_before
           FROM documents GROUP BY 1),
         mn AS (SELECT min(n_before) AS m FROM sizes),
         ranked AS (
           SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents),
         kept AS (SELECT lang, doc_id FROM ranked, mn WHERE rk <= m)
         SELECT s.lang, s.n_before, CAST(count(k.doc_id) AS BIGINT) AS n_after
         FROM sizes s LEFT JOIN kept k ON s.lang = k.lang
         GROUP BY s.lang, s.n_before ORDER BY s.lang""",
    "q_rolling_corr" ->
      """WITH daily AS (
           SELECT epoch_ns(ts) // 86400000000000 AS day,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
           FROM events GROUP BY 1),
         win AS (
           SELECT day, x, y,
             count(*) OVER w AS n, sum(x) OVER w AS sx, sum(y) OVER w AS sy,
             sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy,
             sum(x * y) OVER w AS sxy
           FROM daily WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 7 FOLLOWING))
         SELECT CAST(day AS BIGINT) AS day, CAST(n AS BIGINT) AS n_days,
           round(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
             THEN (n * sxy - sx * sy) /
               (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
                sqrt(CAST(n * syy - sy * sy AS DOUBLE))) END, 6) AS r
         FROM win ORDER BY day""",
    "q_temporal_join" ->
      """WITH st AS (
           SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us, event_id
           FROM events WHERE event_type IN ('signup', 'error')),
         runs AS (
           SELECT user_id, event_type, ts_us, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                 OR lag(event_type) OVER w <> event_type
               THEN 1 ELSE 0 END AS chg
           FROM st WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         seq AS (
           SELECT user_id, event_type, ts_us,
             sum(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
           FROM runs),
         iv AS (
           SELECT user_id, event_type AS status, min(ts_us) AS from_us,
             lead(min(ts_us)) OVER (PARTITION BY user_id ORDER BY s) AS to_us
           FROM seq GROUP BY user_id, s, event_type),
         p AS (
           SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, value
           FROM events WHERE event_type = 'purchase'),
         j AS (
           SELECT p.user_id, p.value, iv.status
           FROM p LEFT JOIN iv ON p.user_id = iv.user_id
             AND p.ts_us >= iv.from_us AND (iv.to_us IS NULL OR p.ts_us < iv.to_us))
         SELECT coalesce(status, 'none') AS status,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS spend_cents
         FROM j GROUP BY 1 ORDER BY status""",
    "q_journey_edit" ->
      """WITH e AS (
           SELECT user_id, substring(event_type, 1, 1) AS c,
             epoch_ns(ts) // 1000000000 AS ts_s, event_id
           FROM events),
         l AS (
           SELECT user_id, c, ts_s, event_id,
             CASE WHEN ts_s - lag(ts_s) OVER w >= 1800 OR lag(ts_s) OVER w IS NULL
               THEN 1 ELSE 0 END AS brk
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
         s AS (
           SELECT user_id, c, ts_s, event_id,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM l),
         sj AS (
           SELECT user_id, sid,
             substring(string_agg(c, '' ORDER BY ts_s, event_id), 1, 20) AS journey
           FROM s GROUP BY 1, 2),
         pairs AS (
           SELECT user_id, journey,
             lag(journey) OVER (PARTITION BY user_id ORDER BY sid) AS prev_j
           FROM sj)
         SELECT CAST(levenshtein(journey, prev_j) AS BIGINT) AS dist,
           CAST(count(*) AS BIGINT) AS n_pairs
         FROM pairs WHERE prev_j IS NOT NULL GROUP BY 1 ORDER BY dist""",
    "q_vector_drift" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         x AS (SELECT label, vec_id % 2 AS half, v,
             unnest(range(0, len(v))) AS dim FROM e),
         mu AS (
           SELECT label, dim,
             round(avg(CASE WHEN half = 0 THEN v[CAST(dim + 1 AS INTEGER)] END), 6) AS mu_a,
             round(avg(CASE WHEN half = 1 THEN v[CAST(dim + 1 AS INTEGER)] END), 6) AS mu_b
           FROM x GROUP BY 1, 2),
         n AS (SELECT label AS nl,
             CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
           FROM e GROUP BY 1)
         SELECT label, n_a, n_b,
           round(sqrt(sum((mu_a - mu_b) * (mu_a - mu_b))), 6) AS drift_l2
         FROM mu JOIN n ON mu.label = n.nl
         GROUP BY label, n_a, n_b ORDER BY label""",
    "q_asof_native" ->
      """WITH p AS (SELECT user_id, epoch_ns(ts) AS tsn, value
           FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id AS c_user, epoch_ns(ts) AS c_tsn, value AS c_value
           FROM events WHERE event_type = 'click')
         SELECT (p.tsn // 3600000000000) % 24 AS hr,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(count(c_tsn) AS BIGINT) AS n_matched,
           CAST(coalesce(sum(CASE WHEN c_tsn IS NOT NULL
             THEN CAST(round(c_value * 100, 0) AS BIGINT) END), 0) AS BIGINT) AS matched_cents
         FROM p ASOF LEFT JOIN c ON p.user_id = c.c_user AND p.tsn >= c.c_tsn
         GROUP BY 1 ORDER BY hr""",
    "q_stopwords" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         tf AS (SELECT t, CAST(count(*) AS BIGINT) AS cf FROM tok WHERE t <> '' GROUP BY 1),
         dfreq AS (SELECT t, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
           FROM tok WHERE t <> '' GROUP BY 1),
         nd AS (SELECT count(*) AS n FROM documents),
         mass AS (SELECT sum(cf) AS m FROM tf)
         SELECT tf.t AS term, df, cf,
           round(df * 1.0 / n, 6) AS doc_share,
           round(cf * 1.0 / m, 6) AS mass_share
         FROM tf JOIN dfreq ON tf.t = dfreq.t CROSS JOIN nd CROSS JOIN mass
         WHERE df * 2 > n
         ORDER BY df DESC, term""",
    "q_ols_forecast" ->
      """WITH daily AS (
           SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
             CAST(count(*) AS BIGINT) AS y
           FROM events GROUP BY 1, 2),
         base AS (SELECT event_type, min(day) AS d0 FROM daily GROUP BY 1),
         f AS (SELECT d.event_type, d.day - b.d0 AS x, y
           FROM daily d JOIN base b ON d.event_type = b.event_type),
         m AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
             sum(x * x) AS sxx, sum(y) AS sy, sum(x * y) AS sxy
           FROM f GROUP BY 1),
         fit AS (
           SELECT *, (n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx) AS b1,
             (sy - (n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx) * sx) / n AS b0
           FROM m),
         res AS (
           SELECT fit.event_type, n, sx, sxx, b0, b1,
             (SELECT sum(pow(f2.y - (fit.b0 + fit.b1 * f2.x), 2))
              FROM f f2 WHERE f2.event_type = fit.event_type) AS sse
           FROM fit),
         fc AS (
           SELECT event_type, n, b0, b1, sse, sx, sxx,
             CAST(n - 1 + k AS BIGINT) AS x_new
           FROM res CROSS JOIN (SELECT unnest([1, 2, 3]) AS k))
         SELECT event_type, x_new AS day_index,
           round(b0 + b1 * x_new, 4) AS forecast,
           round(1.96 * sqrt(sse / (n - 2) * (1 + 1.0 / n +
             pow(x_new - sx * 1.0 / n, 2) / (sxx - sx * sx * 1.0 / n))), 4) AS pi95
         FROM fc ORDER BY event_type, day_index""",
    "q_gap_percentiles" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us, event_id
           FROM events),
         g AS (
           SELECT event_type,
             ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS gap_us,
             user_id, event_id
           FROM e),
         r AS (
           SELECT event_type, gap_us,
             row_number() OVER (PARTITION BY event_type
               ORDER BY gap_us, user_id, event_id) AS rk,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM g WHERE gap_us IS NOT NULL)
         SELECT event_type, CAST(max(n) AS BIGINT) AS n_gaps,
           CAST(max(CASE WHEN rk = (n + 1) // 2 THEN gap_us END) AS BIGINT) AS p50_us,
           CAST(max(CASE WHEN rk = (n * 95 + 99) // 100 THEN gap_us END) AS BIGINT) AS p95_us
         FROM r GROUP BY event_type ORDER BY event_type""",
    "q_burn_rate" ->
      """WITH h AS (
           SELECT epoch_ns(ts) // 3600000000000 AS hr,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errs
           FROM events GROUP BY 1),
         w AS (
           SELECT hr, n, errs,
             sum(n) OVER w6 AS n6, sum(errs) OVER w6 AS e6
           FROM h WINDOW w6 AS (ORDER BY hr ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
         SELECT CAST(hr AS BIGINT) AS hr, n, errs,
           round(errs * 1.0 / n / 0.25, 6) AS burn_1h,
           round(e6 * 1.0 / n6 / 0.25, 6) AS burn_6h,
           (errs * 4 > n AND e6 * 4 > n6) AS paging
         FROM w ORDER BY hr""",
    "q_daily_bands" ->
      """WITH e AS (
           SELECT epoch_ns(ts) // 86400000000000 AS day, value, event_id FROM events),
         r AS (
           SELECT day, value,
             row_number() OVER (PARTITION BY day ORDER BY value, event_id) AS rk,
             count(*) OVER (PARTITION BY day) AS n
           FROM e)
         SELECT CAST(day AS BIGINT) AS day, CAST(max(n) AS BIGINT) AS n,
           round(max(CASE WHEN rk = (n + 9) // 10 THEN value END), 2) AS p10,
           round(max(CASE WHEN rk = (n + 1) // 2 THEN value END), 2) AS p50,
           round(max(CASE WHEN rk = (n * 9 + 9) // 10 THEN value END), 2) AS p90
         FROM r GROUP BY day ORDER BY day""",
    "q_hampel" ->
      """WITH daily AS (
           SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT event_type, day, cents,
             list(cents) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS win
           FROM daily),
         m AS (
           SELECT event_type, day, cents, win,
             list_sort(win)[(len(win) + 1) // 2] AS med
           FROM w WHERE len(win) = 7),
         h AS (
           SELECT event_type, day, cents, med,
             list_sort(list_transform(win, v -> abs(v - med)))[(len(win) + 1) // 2] AS mad
           FROM m)
         SELECT event_type, CAST(day AS BIGINT) AS day,
           round(cents / 100.0, 2) AS spend,
           round(med / 100.0, 2) AS roll_med,
           round(mad / 100.0, 2) AS roll_mad,
           (abs(cents - med) > 3 * mad) AS outlier
         FROM h ORDER BY event_type, day""",
    "q_wilson_ci" ->
      """WITH h AS (
           SELECT (epoch_ns(ts) // 3600000000000) % 24 AS hr,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN event_type IN ('click', 'purchase') THEN 1 ELSE 0 END) AS BIGINT) AS n
           FROM events GROUP BY 1)
         SELECT hr, x, n,
           round(x * 1.0 / n, 6) AS p_hat,
           round((x + 1.9208) / (n + 3.8416)
             - 1.96 * sqrt(x * 1.0 * (n - x) / n + 0.9604) / (n + 3.8416), 6) AS wilson_lo,
           round((x + 1.9208) / (n + 3.8416)
             + 1.96 * sqrt(x * 1.0 * (n - x) / n + 0.9604) / (n + 3.8416), 6) AS wilson_hi
         FROM h ORDER BY hr""",
    "q_mann_kendall" ->
      """WITH daily AS (
           SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
             CAST(count(*) AS BIGINT) AS y
           FROM events GROUP BY 1, 2),
         p AS (
           SELECT a.event_type,
             CAST(sum(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END)
               AS BIGINT) AS s
           FROM daily a JOIN daily b
             ON a.event_type = b.event_type AND a.day < b.day
           GROUP BY 1),
         n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd FROM daily GROUP BY 1)
         SELECT p.event_type, s, nd,
           round((CASE WHEN s > 0 THEN s - 1 WHEN s < 0 THEN s + 1 ELSE 0 END) /
             sqrt(nd * (nd - 1.0) * (2 * nd + 5) / 18), 6) AS z
         FROM p JOIN n ON p.event_type = n.event_type ORDER BY p.event_type""",
    "q_welch_t" ->
      """WITH arms AS (
           SELECT CASE WHEN CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 8))
               AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             CAST(round(o_totalprice, 0) AS BIGINT) AS d
           FROM orders),
         m AS (
           SELECT arm, CAST(count(*) AS BIGINT) AS n, sum(d) AS sx, sum(d * d) AS sxx
           FROM arms GROUP BY 1),
         w AS (
           SELECT
             max(CASE WHEN arm = 'A' THEN n END) AS na,
             max(CASE WHEN arm = 'B' THEN n END) AS nb,
             max(CASE WHEN arm = 'A' THEN sx END) AS sa,
             max(CASE WHEN arm = 'B' THEN sx END) AS sb,
             max(CASE WHEN arm = 'A' THEN sxx END) AS qa,
             max(CASE WHEN arm = 'B' THEN sxx END) AS qb
           FROM m),
         v AS (
           SELECT na, nb, sa, sb,
             (qa - sa * 1.0 / na * sa) / (na - 1.0) / na AS va,
             (qb - sb * 1.0 / nb * sb) / (nb - 1.0) / nb AS vb
           FROM w)
         SELECT na, nb,
           round(sa * 1.0 / na, 2) AS mean_a,
           round(sb * 1.0 / nb, 2) AS mean_b,
           round((sa * 1.0 / na - sb * 1.0 / nb) / sqrt(va + vb), 6) AS welch_t,
           round(pow(va + vb, 2) /
             (pow(va, 2) / (na - 1.0) + pow(vb, 2) / (nb - 1.0)), 2) AS welch_df
         FROM v""",
    "q_entity_clusters" ->
      """WITH RECURSIVE b AS (
           SELECT p_partkey, p_name, string_split(p_name, ' ')[2] AS noun,
             row_number() OVER (PARTITION BY string_split(p_name, ' ')[2]
               ORDER BY p_partkey) AS rn
           FROM part),
         c AS (SELECT noun, p_partkey, p_name FROM b WHERE rn <= 40),
         pairs AS (
           SELECT l.p_partkey AS a_id, r.p_partkey AS b_id
           FROM c l JOIN c r ON l.noun = r.noun AND l.p_partkey < r.p_partkey
           WHERE levenshtein(l.p_name, r.p_name) <= 2),
         edges AS (SELECT a_id AS a, b_id AS b FROM pairs UNION SELECT b_id, a_id FROM pairs),
         nodes AS (SELECT DISTINCT a AS node FROM edges),
         reach(node, label) AS (
           SELECT node, node FROM nodes
           UNION
           SELECT ed.a, r.label FROM reach r JOIN edges ed ON ed.b = r.node),
         comp AS (SELECT node, min(label) AS entity FROM reach GROUP BY node),
         named AS (
           SELECT comp.node, comp.entity, p.p_name
           FROM comp JOIN part p ON comp.node = p.p_partkey)
         SELECT entity, CAST(count(*) AS BIGINT) AS n_members,
           min(CASE WHEN node = entity THEN p_name END) AS canonical_name
         FROM named GROUP BY entity ORDER BY entity""",
    "q_doc_novelty" ->
      """WITH g AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(t)),
               i -> t[CAST(i AS INTEGER)] || ' ' || t[CAST(i + 1 AS INTEGER)])) AS grams
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
         x AS (SELECT doc_id, unnest(grams) AS gram FROM g),
         fs AS (SELECT gram, min(doc_id) AS first_doc FROM x GROUP BY 1),
         nv AS (
           SELECT x.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN fs.first_doc = x.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS novel
           FROM x JOIN fs ON x.gram = fs.gram GROUP BY 1)
         SELECT CAST(doc_id // 100 AS BIGINT) AS cohort,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(n_grams) AS BIGINT) AS grams,
           CAST(sum(novel) AS BIGINT) AS novel,
           round(sum(novel) * 1.0 / sum(n_grams), 6) AS novelty
         FROM nv GROUP BY 1 ORDER BY cohort""",
    "q_runs_test" ->
      """WITH daily AS (
           SELECT epoch_ns(ts) // 86400000000000 AS day, CAST(count(*) AS BIGINT) AS y
           FROM events GROUP BY 1),
         d AS (
           SELECT day, CASE WHEN y > lag(y) OVER (ORDER BY day) THEN 1
             WHEN y < lag(y) OVER (ORDER BY day) THEN 0 END AS up
           FROM daily),
         s AS (SELECT day, up, lag(up) OVER (ORDER BY day) AS pu FROM d WHERE up IS NOT NULL),
         m AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(up) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN pu IS NULL OR up <> pu THEN 1 ELSE 0 END) AS BIGINT) AS runs
           FROM s)
         SELECT n, n1, n - n1 AS n0, runs,
           round((runs - (2.0 * n1 * (n - n1) / n + 1)) /
             sqrt(2.0 * n1 * (n - n1) * (2.0 * n1 * (n - n1) - n) /
               (n * n * (n - 1.0))), 6) AS z
         FROM m""",
    "q_acf_lags" ->
      """WITH daily AS (
           SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
             CAST(count(*) AS BIGINT) AS y
           FROM events GROUP BY 1, 2),
         lags AS (SELECT unnest(range(1, 8)) AS k),
         p AS (
           SELECT a.event_type, l.k,
             CAST(count(*) AS BIGINT) AS n, sum(a.y) AS sx, sum(b.y) AS sy,
             sum(a.y * b.y) AS sxy, sum(a.y * a.y) AS sxx, sum(b.y * b.y) AS syy
           FROM daily a JOIN lags l ON true JOIN daily b
             ON a.event_type = b.event_type AND b.day = a.day + l.k
           GROUP BY 1, 2)
         SELECT event_type, CAST(k AS BIGINT) AS lag, n,
           round(CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
             THEN (n * sxy - sx * sy) /
               (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
                sqrt(CAST(n * syy - sy * sy AS DOUBLE))) END, 6) AS r
         FROM p ORDER BY event_type, lag""",
    // regex scrub census; patterns are Java-regex ∩ RE2 so they run
    // verbatim in both engines ('g' = replace-all, Spark's default)
    "q_redaction_audit" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN len(regexp_extract_all(text, '\bcustomer\b')) > 0
             THEN 1 ELSE 0 END) AS BIGINT) AS docs_entity,
           CAST(sum(len(regexp_extract_all(text, '\bcustomer\b'))) AS BIGINT) AS n_entity,
           CAST(sum(len(regexp_extract_all(text, '\bspark\b'))) AS BIGINT) AS n_product,
           CAST(sum(length(regexp_replace(regexp_replace(text,
             '\bcustomer\b', '[ENTITY]', 'g'), '\bspark\b', '[PRODUCT]', 'g')))
             AS BIGINT) AS redacted_len
         FROM documents GROUP BY 1 ORDER BY source""",
    "q_crosslang_dups" ->
      """WITH fp AS (
           SELECT doc_id, lang,
             md5(array_to_string(list_sort(list_distinct(
               list_filter(string_split(text, ' '), x -> x <> ''))), ' ')) AS tokenset_md5
           FROM documents)
         SELECT tokenset_md5, CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(*) AS BIGINT) AS n_docs,
           array_to_string(list_sort(list(DISTINCT lang)), ',') AS langs,
           CAST(min(doc_id) AS BIGINT) AS first_doc
         FROM fp GROUP BY 1 HAVING count(DISTINCT lang) >= 2
         ORDER BY tokenset_md5""",
    // prefix-dim kNN recall vs the full-width exact top-10; cosines
    // 6-dp-quantized before ranking, vec_id tie-break (the cross-engine
    // rank discipline of every exact-topk oracle here)
    "q_matryoshka_recall" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n AS (
           SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS n64,
             sqrt(list_sum(list_transform(list_slice(v, 1, 8), x -> x * x))) AS n8,
             sqrt(list_sum(list_transform(list_slice(v, 1, 16), x -> x * x))) AS n16,
             sqrt(list_sum(list_transform(list_slice(v, 1, 32), x -> x * x))) AS n32
           FROM e),
         q AS (SELECT vec_id AS q_id, v AS qv, n64 AS qn64, n8 AS qn8,
             n16 AS qn16, n32 AS qn32 FROM n WHERE vec_id < 5),
         p AS (
           SELECT n.vec_id, q.q_id,
             round(list_sum(list_transform(range(1, len(v) + 1),
               i -> v[CAST(i AS INTEGER)] * qv[CAST(i AS INTEGER)])) / (n64 * qn64), 6) AS c64,
             round(list_sum(list_transform(range(1, 9),
               i -> v[CAST(i AS INTEGER)] * qv[CAST(i AS INTEGER)])) / (n8 * qn8), 6) AS c8,
             round(list_sum(list_transform(range(1, 17),
               i -> v[CAST(i AS INTEGER)] * qv[CAST(i AS INTEGER)])) / (n16 * qn16), 6) AS c16,
             round(list_sum(list_transform(range(1, 33),
               i -> v[CAST(i AS INTEGER)] * qv[CAST(i AS INTEGER)])) / (n32 * qn32), 6) AS c32
           FROM n CROSS JOIN q WHERE n.vec_id <> q.q_id),
         r AS (
           SELECT *,
             row_number() OVER (PARTITION BY q_id ORDER BY c64 DESC, vec_id) AS rn64,
             row_number() OVER (PARTITION BY q_id ORDER BY c8 DESC, vec_id) AS rn8,
             row_number() OVER (PARTITION BY q_id ORDER BY c16 DESC, vec_id) AS rn16,
             row_number() OVER (PARTITION BY q_id ORDER BY c32 DESC, vec_id) AS rn32
           FROM p)
         SELECT q_id,
           round(sum(CASE WHEN rn8 <= 10 THEN 1 ELSE 0 END) / 10.0, 6) AS recall_8,
           round(sum(CASE WHEN rn16 <= 10 THEN 1 ELSE 0 END) / 10.0, 6) AS recall_16,
           round(sum(CASE WHEN rn32 <= 10 THEN 1 ELSE 0 END) / 10.0, 6) AS recall_32
         FROM r WHERE rn64 <= 10 GROUP BY 1 ORDER BY q_id""",
    // int8 reconstruction error in order-independent integer ppm cells
    "q_int8_quant" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         s AS (SELECT vec_id, label, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
         c AS (
           SELECT label, vec_id,
             CASE WHEN scale = 0 THEN 0.0
               ELSE abs(x - round(x / scale, 0) * scale) END AS err
           FROM (SELECT label, vec_id, scale, unnest(v) AS x FROM s))
         SELECT label, CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vectors,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(CAST(round(err * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS total_err_ppm,
           round(max(err), 6) AS max_err,
           round(CAST(sum(CAST(round(err * 1000000.0, 0) AS BIGINT)) AS BIGINT)
             / (count(*) * 1000000.0), 6) AS mean_abs_err
         FROM c GROUP BY 1 ORDER BY label""",
    // binary-sign Hamming ranking vs exact cosine top-10; Hamming ranks
    // are exact integers (no quantization discipline needed)
    "q_hamming_recall" ->
      """WITH e AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nv,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS bits
           FROM embeddings),
         q AS (SELECT vec_id AS q_id, v AS qv, nv AS nq, bits AS qbits
           FROM e WHERE vec_id < 5),
         p AS (
           SELECT e.vec_id, q.q_id,
             round(list_sum(list_transform(range(1, len(v) + 1),
               i -> v[CAST(i AS INTEGER)] * qv[CAST(i AS INTEGER)])) / (nv * nq), 6) AS cosine,
             list_sum(list_transform(range(1, len(bits) + 1),
               i -> CASE WHEN bits[CAST(i AS INTEGER)] <> qbits[CAST(i AS INTEGER)]
                 THEN 1 ELSE 0 END)) AS hamming
           FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
         r AS (
           SELECT *,
             row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rnc,
             row_number() OVER (PARTITION BY q_id ORDER BY hamming, vec_id) AS rnh
           FROM p)
         SELECT q_id,
           round(sum(CASE WHEN rnh <= 10 THEN 1 ELSE 0 END) / 10.0, 6) AS recall_hamming,
           round(sum(hamming) / 10.0, 6) AS top_mean_hamming
         FROM r WHERE rnc <= 10 GROUP BY 1 ORDER BY q_id""",
    // same assignment CTE as q_kmeans_step; purity from exact counts
    "q_cluster_purity" ->
      """WITH e AS (
           SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) AS nv2
           FROM embeddings),
         c AS (SELECT vec_id AS c_id, v AS cv, nv2 AS nc2 FROM e WHERE vec_id < 8),
         d AS (
           SELECT e.vec_id, e.label, c_id,
             round(nv2 + nc2 - 2.0 * list_sum(list_transform(range(1, len(v) + 1),
               i -> v[CAST(i AS INTEGER)] * cv[CAST(i AS INTEGER)])), 6) AS dist2
           FROM e CROSS JOIN c),
         a AS (
           SELECT vec_id, label, c_id AS cell FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
               ORDER BY dist2, c_id) AS rn FROM d)
           WHERE rn = 1),
         cl AS (SELECT cell, label, CAST(count(*) AS BIGINT) AS n FROM a GROUP BY 1, 2),
         t AS (SELECT *, row_number() OVER (PARTITION BY cell
           ORDER BY n DESC, label) AS rtop FROM cl)
         SELECT cell, CAST(sum(n) AS BIGINT) AS n_vectors,
           min(CASE WHEN rtop = 1 THEN label END) AS top_label,
           CAST(max(CASE WHEN rtop = 1 THEN n END) AS BIGINT) AS top_n,
           round(max(CASE WHEN rtop = 1 THEN n END) * 1.0 / sum(n), 6) AS purity
         FROM t GROUP BY 1 ORDER BY cell""",
    // linear canonical attribution, never pairwise within dup groups
    "q_source_dedup_matrix" ->
      """WITH fp AS (
           SELECT doc_id, source,
             md5(array_to_string(list_sort(list_distinct(
               list_filter(string_split(text, ' '), x -> x <> ''))), ' ')) AS fp
           FROM documents),
         c AS (SELECT fp, min(doc_id) AS canon_id FROM fp
           GROUP BY 1 HAVING count(*) >= 2),
         canon AS (SELECT c.fp, c.canon_id, f.source AS canon_source
           FROM c JOIN fp f ON f.doc_id = c.canon_id)
         SELECT canon_source, f.source AS dup_source,
           CAST(count(*) AS BIGINT) AS n_dup_docs
         FROM fp f JOIN canon ON f.fp = canon.fp AND f.doc_id <> canon.canon_id
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // KM estimator: risk sets from a bounded day-grid join; the
    // survival product is an ORDERED running sum of ln(1-h) — identical
    // sequential FP addition in both engines
    "q_survival_km" ->
      """WITH u AS (
           SELECT user_id, min(epoch_ns(ts)) AS t0,
             min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END) AS tp
           FROM events GROUP BY 1),
         dur AS (
           SELECT CASE WHEN tp IS NOT NULL AND (tp - t0) // 86400000000000 <= 7
               THEN (tp - t0) // 86400000000000 ELSE 7 END AS t,
             CASE WHEN tp IS NOT NULL AND (tp - t0) // 86400000000000 <= 7
               THEN 1 ELSE 0 END AS ev
           FROM u),
         g AS (SELECT unnest(range(0, 8)) AS day),
         km AS (
           SELECT day, CAST(count(*) AS BIGINT) AS at_risk,
             CAST(sum(CASE WHEN t = day AND ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_events,
             CAST(sum(CASE WHEN t = day AND ev = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_censored
           FROM dur JOIN g ON t >= day GROUP BY 1)
         SELECT CAST(day AS BIGINT) AS day, at_risk, n_events, n_censored,
           round(n_events / at_risk, 6) AS hazard,
           round(exp(sum(CASE WHEN n_events < at_risk
               THEN ln(1.0 - n_events / at_risk) ELSE -1e9 END) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS survival
         FROM km ORDER BY day""",
    // zone-map pruning payoff over the q_zorder_layout bucket table
    "q_zonemap_skip" ->
      """WITH o AS (
            SELECT CAST(o_custkey % 256 AS BIGINT) AS x,
              CAST((EXTRACT(year FROM o_orderdate) * 12
                    + EXTRACT(month FROM o_orderdate)) % 256 AS BIGINT) AS y
            FROM orders),
          z AS (
            SELECT x, y,
              ((x >> 0) & 1) * 1 + ((y >> 0) & 1) * 2
              + ((x >> 1) & 1) * 4 + ((y >> 1) & 1) * 8
              + ((x >> 2) & 1) * 16 + ((y >> 2) & 1) * 32
              + ((x >> 3) & 1) * 64 + ((y >> 3) & 1) * 128
              + ((x >> 4) & 1) * 256 + ((y >> 4) & 1) * 512
              + ((x >> 5) & 1) * 1024 + ((y >> 5) & 1) * 2048
              + ((x >> 6) & 1) * 4096 + ((y >> 6) & 1) * 8192
              + ((x >> 7) & 1) * 16384 + ((y >> 7) & 1) * 32768 AS zkey
            FROM o),
          layout AS (
            SELECT zkey >> 8 AS zbucket, count(*) AS n_orders,
              min(x) AS min_x, max(x) AS max_x,
              min(y) AS min_y, max(y) AS max_y
            FROM z GROUP BY 1),
          probes AS (SELECT * FROM (VALUES
            (1, 'x', 32, 63), (2, 'x', 128, 191), (3, 'y', 0, 63))
            AS t(probe_id, dim, lo, hi)),
          sk AS (
            SELECT probe_id, n_orders,
              CASE WHEN dim = 'x' THEN max_x < lo OR min_x > hi
                ELSE max_y < lo OR min_y > hi END AS skip
            FROM layout CROSS JOIN probes)
          SELECT CAST(probe_id AS BIGINT) AS probe_id,
            CAST(count(*) AS BIGINT) AS n_buckets,
            CAST(sum(CASE WHEN skip THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped_buckets,
            CAST(sum(CASE WHEN skip THEN n_orders ELSE 0 END) AS BIGINT) AS rows_skipped,
            CAST(sum(n_orders) AS BIGINT) AS rows_total,
            round(sum(CASE WHEN skip THEN n_orders ELSE 0 END) * 1.0
              / sum(n_orders), 6) AS skip_ratio
          FROM sk GROUP BY 1 ORDER BY 1""",
    // Each snapshot recomputed from the raw table + the deterministic
    // md5 membership predicate — matching rows proves the commit log
    // reconstructs exactly the committed states.
    "q_time_travel" ->
      """WITH v0 AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents
            WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b'
            GROUP BY source),
          v1 AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents GROUP BY source)
          SELECT CAST(0 AS BIGINT) AS version, source, n_docs, total_chars FROM v0
          UNION ALL
          SELECT CAST(1 AS BIGINT) AS version, source, n_docs, total_chars FROM v1
          ORDER BY version, source""",
    // Net change set over the commit window (0, 2]: v1's append is added
    // and removed inside the window (cancels), v0 surfaces as deletes,
    // the v2 quality re-freeze as inserts — recomputed here from the raw
    // table and the same membership predicates.
    "q_change_feed" ->
      """WITH ins AS (
            SELECT 'insert' AS change_type, source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents WHERE n_chars >= 300 GROUP BY 2),
          del AS (
            SELECT 'delete' AS change_type, source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents
            WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b'
            GROUP BY 2)
          SELECT * FROM ins UNION ALL SELECT * FROM del
          ORDER BY change_type, source""",
    // the v2 snapshot re-read through the DSv2 batch provider with a
    // pushed doc_id range — recomputed here from the raw table and the
    // same predicates the commits encode
    "q_versioned_scan" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
         FROM documents WHERE n_chars >= 300 AND doc_id < 250
         GROUP BY source ORDER BY source""",
    // the table head after delete [100,199] + merge of re-scored low-id
    // docs + the v5 string-IN source delete + the v6 merge-on-read
    // needle delete, rebuilt relationally: kept survivors UNION the
    // upserts, minus both delete predicates
    "q_lake_upsert" ->
      """WITH kept AS (
           SELECT doc_id, source, n_chars FROM documents
           WHERE n_chars >= 300 AND doc_id NOT BETWEEN 100 AND 199
             AND doc_id >= 50),
         upd AS (
           SELECT doc_id, source, n_chars + 10000 AS n_chars
           FROM documents WHERE doc_id < 50),
         state AS (SELECT * FROM kept UNION ALL SELECT * FROM upd),
         survivors AS (
           SELECT * FROM state
           WHERE source NOT IN ('src4', 'src17')
             AND NOT (doc_id % 101 = 5))
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM survivors GROUP BY source ORDER BY source""",
    // a lang = 'en' probe over the lang-clustered versioned table: the
    // string-zone-map pruned read must census exactly the raw table's
    // 'en' rows (skipping is the engine's job; exactness is the gate's)
    "q_string_zonemap" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents WHERE lang = 'en'
         GROUP BY source ORDER BY source""",
    // a lang BETWEEN 'de' AND 'es' probe over the same lang-clustered
    // table: the string-RANGE pruned read (truncated byte bounds,
    // unsigned-lex overlap) must census exactly the raw table's rows in
    // the range — the prefix-scan/interval-drop shape equality/IN can't
    // express
    "q_string_range" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents WHERE lang BETWEEN 'de' AND 'es'
         GROUP BY lang ORDER BY lang""",
    // both null-probe censuses over the null-skewed layout recompute
    // from the raw table: en_chars IS NULL ⇔ lang ≠ 'en' (the derived
    // column is n_chars for English docs, NULL otherwise) — the pruned
    // reads must be exact however many files the null counts skipped
    "q_null_partition" ->
      """WITH base AS (
           SELECT source, n_chars,
             CASE WHEN lang = 'en' THEN n_chars END AS en_chars
           FROM documents)
         SELECT 'isnull' AS probe, source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM base WHERE en_chars IS NULL GROUP BY 2
         UNION ALL
         SELECT 'notnull' AS probe, source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM base WHERE en_chars IS NOT NULL GROUP BY 2
         ORDER BY probe, source""",
    // the streaming change-feed drain: every ingested row surfaces
    // exactly once as an insert, every merge-on-read-deleted row
    // (doc_id % 10 = 3) exactly once as a delete — recomputed from the
    // raw table and the delete predicate
    "q_stream_changes" ->
      """WITH ins AS (
           SELECT 'insert' AS change_type, source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
           FROM documents GROUP BY 2),
         del AS (
           SELECT 'delete' AS change_type, source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
           FROM documents WHERE doc_id % 10 = 3 GROUP BY 2)
         SELECT * FROM ins UNION ALL SELECT * FROM del
         ORDER BY change_type, source""",
    // the head after a deletion-vector needle delete must equal the raw
    // table minus the predicate — positions subtracted at read time,
    // zero files rewritten (the spec pins the no-rewrite property)
    "q_mor_delete" ->
      """SELECT o_orderpriority AS pri, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
         FROM orders WHERE NOT (o_orderkey % 1000 = 7)
         GROUP BY 1 ORDER BY pri""",
    // the head after good freeze -> corrupted overwrite -> RESTORE must
    // equal the raw table exactly: the rollback resurrected nothing and
    // lost nothing
    "q_lake_restore" ->
      """SELECT o_orderpriority AS pri, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT)
             AS total_cents
         FROM orders GROUP BY 1 ORDER BY pri""",
    // OPTIMIZE ZORDER is a logical no-op and its per-dimension pruned
    // reads are exact: all three censuses recompute from the raw table
    "q_zorder_compact" ->
      """WITH base AS (
           SELECT o_custkey % 100 AS ck,
             year(o_orderdate)*12 + month(o_orderdate) AS mo,
             CAST(round(o_totalprice*100,0) AS BIGINT) AS cents
           FROM orders)
         SELECT 'all' AS probe, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS total_cents FROM base
         UNION ALL
         SELECT 'ck', CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
         FROM base WHERE ck BETWEEN 10 AND 19
         UNION ALL
         SELECT 'mo', CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
         FROM base WHERE mo BETWEEN 23953 AND 23964
         ORDER BY probe""",
    // the composed curation pipeline: quality gate -> exact dedup ->
    // decontaminate -> md5 split -> per-split census
    "q_corpus_freeze" ->
      """WITH t AS (
           SELECT doc_id, source,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         q AS (
           SELECT doc_id, source, toks, len(toks) AS n_tokens
           FROM t WHERE len(toks) BETWEEN 20 AND 1000),
         fp AS (
           SELECT *, md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
           FROM q),
         dedup AS (
           SELECT * FROM fp
           QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1),
         g AS (
           SELECT doc_id, unnest(list_distinct(list_transform(
             range(1, greatest(1, len(toks) - 1)),
             i -> array_to_string(list_slice(toks, CAST(i AS INTEGER),
               CAST(i + 2 AS INTEGER)), ' ')))) AS gram
           FROM t),
         bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < 5),
         contaminated AS (
           SELECT DISTINCT g.doc_id FROM g JOIN bench USING (gram)
           WHERE g.doc_id >= 5),
         clean AS (
           SELECT d.* FROM dedup d LEFT JOIN contaminated c USING (doc_id)
           WHERE c.doc_id IS NULL AND d.doc_id >= 5)
         SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b'
             THEN 'train'
           WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c', 'd')
             THEN 'val' ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
         FROM clean GROUP BY 1 ORDER BY split""",
    // per-row integer micro-units keep bucket means order-independent
    "q_quality_dup_lift" ->
      """WITH fp AS (
           SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
             list_filter(string_split(text, ' '), x -> x <> ''))), ' ')) AS fp
           FROM documents),
         g AS (SELECT fp, CAST(count(*) AS BIGINT) AS dup_count FROM fp GROUP BY 1),
         t AS (
           SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         q AS (
           SELECT doc_id,
             round(least(1.0, len(toks) / 100.0) * 0.5
               + (1.0 - len(list_filter(toks, s -> s = 'the' OR s = 'a')) * 1.0
                 / len(toks)) * 0.5, 6) AS quality
           FROM t),
         b AS (
           SELECT CASE WHEN dup_count = 1 THEN 'unique'
               WHEN dup_count <= 4 THEN '2-4' ELSE '5+' END AS dup_bucket,
             CAST(round(quality * 1000000.0, 0) AS BIGINT) AS q_micro
           FROM fp JOIN g USING (fp) JOIN q USING (doc_id))
         SELECT dup_bucket, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(q_micro) AS BIGINT) AS q_micro_sum,
           round(CAST(sum(q_micro) AS BIGINT) / (count(*) * 1000000.0), 6) AS mean_quality
         FROM b GROUP BY 1 ORDER BY dup_bucket""",
    // fragmentation-vs-padding readout over the concat-and-chop packing
    "q_packing_audit" ->
      """WITH t AS (
           SELECT source, doc_id,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
           FROM documents),
         o AS (
           SELECT source, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start_off
           FROM t),
         m AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             CAST((sum(n_tokens) + 511) // 512 AS BIGINT) AS n_bins,
             CAST(sum(CASE WHEN n_tokens > 0 AND start_off // 512 <>
                 (start_off + n_tokens - 1) // 512 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_split_docs
           FROM o GROUP BY 1)
         SELECT source, n_docs, total_tokens, n_bins,
           round(total_tokens / (n_bins * 512.0), 6) AS fill_rate,
           n_split_docs,
           round(n_split_docs * 1.0 / n_docs, 6) AS split_rate
         FROM m ORDER BY source""",
    // per-source PSI attribution: full-corpus vs md5 5%-sample shares
    "q_sample_psi" ->
      """WITH cells AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n_full,
             CAST(sum(CASE WHEN (((strpos('0123456789abcdef',
                   substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
                 + (strpos('0123456789abcdef',
                   substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
                 + (strpos('0123456789abcdef',
                   substring(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
                 + (strpos('0123456789abcdef',
                   substring(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 100) < 5
               THEN 1 ELSE 0 END) AS BIGINT) AS n_sample
           FROM documents GROUP BY 1),
         tot AS (
           SELECT CAST(sum(n_full) AS BIGINT) AS nf,
             CAST(sum(n_sample) AS BIGINT) AS ns,
             CAST(count(*) AS BIGINT) AS k
           FROM cells)
         SELECT source, n_full, n_sample,
           round((n_full + 1.0) / (nf + k), 6) AS p_full,
           round((n_sample + 1.0) / (ns + k), 6) AS p_sample,
           round(((n_full + 1.0) / (nf + k) - (n_sample + 1.0) / (ns + k))
             * ln(((n_full + 1.0) / (nf + k)) / ((n_sample + 1.0) / (ns + k))), 6)
             AS psi_term
         FROM cells CROSS JOIN tot ORDER BY source""",
    // syndication detector: source/lang span per text near-dup cluster
    // (same CC skeleton as q_cluster_canonical, span census tail)
    "q_cluster_span" ->
      """WITH RECURSIVE
          tok AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
          mh AS (
            SELECT doc_id, i,
              substring(min(md5(CAST(i AS VARCHAR) || '|' || t)), 1, 8) AS h
            FROM tok CROSS JOIN range(8) r(i) WHERE t <> '' GROUP BY doc_id, i),
          sig AS (
            SELECT doc_id, string_agg(h, ',' ORDER BY i) AS signature
            FROM mh GROUP BY doc_id),
          bands AS (
            SELECT doc_id, b,
              parts[CAST(b * 2 + 1 AS INTEGER)] || '|' || parts[CAST(b * 2 + 2 AS INTEGER)] AS bucket
            FROM (SELECT doc_id, string_split(signature, ',') AS parts FROM sig)
            CROSS JOIN range(4) r(b)),
          capped AS (
            SELECT doc_id, b, bucket FROM (
              SELECT doc_id, b, bucket,
                row_number() OVER (PARTITION BY b, bucket ORDER BY doc_id) AS rn
              FROM bands)
            WHERE rn <= 20),
          cand AS (
            SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
            FROM capped l JOIN capped r ON l.b = r.b AND l.bucket = r.bucket
            WHERE l.doc_id < r.doc_id),
          g AS (
            SELECT doc_id,
              list_distinct(list_transform(range(1, len(toks)),
                i -> toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i + 1 AS INTEGER)])) AS grams
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
          pairs AS (
            SELECT a_id, b_id FROM (
              SELECT a_id, b_id,
                round(len(list_intersect(ga.grams, gb.grams)) * 1.0 /
                  CASE WHEN len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams)) = 0
                       THEN 1
                       ELSE len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams)) END,
                  6) AS jaccard
              FROM cand JOIN g ga ON ga.doc_id = a_id JOIN g gb ON gb.doc_id = b_id)
            WHERE jaccard >= 0.1),
          edges AS (
            SELECT a_id AS a, b_id AS b FROM pairs
            UNION SELECT b_id, a_id FROM pairs),
          nodes AS (SELECT DISTINCT a AS node FROM edges),
          reach(node, label) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT ed.a, r.label FROM reach r JOIN edges ed ON ed.b = r.node),
          comp AS (
            SELECT node, min(label) AS component FROM reach GROUP BY node),
          meta AS (SELECT doc_id, source, lang FROM documents)
          SELECT component, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(count(DISTINCT m.source) AS BIGINT) AS n_sources,
            CAST(count(DISTINCT m.lang) AS BIGINT) AS n_langs,
            CAST(min(node) AS BIGINT) AS first_doc
          FROM comp JOIN meta m ON m.doc_id = comp.node
          GROUP BY component ORDER BY component""",
    // ---- round 9 (driver) ----
    // Gap-constrained 2-sequence support: next-occurrence-per-type via
    // five mins over ONE shared forward window, then distinct
    // (user, a, b). ts compares at µs (the engine-wide granularity).
    "q_seq_mining" ->
      """WITH e AS (
            SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us,
              event_id
            FROM events),
          nxt AS (
            SELECT user_id, event_type AS a_type, ts_us,
              min(CASE WHEN event_type = 'click' THEN ts_us END) OVER w AS n_click,
              min(CASE WHEN event_type = 'error' THEN ts_us END) OVER w AS n_error,
              min(CASE WHEN event_type = 'purchase' THEN ts_us END) OVER w AS n_purchase,
              min(CASE WHEN event_type = 'signup' THEN ts_us END) OVER w AS n_signup,
              min(CASE WHEN event_type = 'view' THEN ts_us END) OVER w AS n_view
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
          pairs AS (
            SELECT DISTINCT user_id, a_type, b.b_type
            FROM nxt, LATERAL (VALUES
                ('click', n_click), ('error', n_error),
                ('purchase', n_purchase), ('signup', n_signup),
                ('view', n_view)) AS b(b_type, b_us)
            WHERE b.b_us IS NOT NULL AND b.b_us - ts_us <= 1800000000),
          u AS (SELECT count(DISTINCT user_id) AS n_users FROM e)
          SELECT a_type, b_type, CAST(count(*) AS BIGINT) AS support,
            round(count(*) / CAST((SELECT n_users FROM u) AS DOUBLE), 6)
              AS support_ratio
          FROM pairs GROUP BY a_type, b_type ORDER BY a_type, b_type""",
    // gaps-and-islands RLE: break flag -> running-sum run ids -> run
    // lengths -> (type, length) histogram; all integer counts
    "q_event_runs" ->
      """WITH e AS (
            SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us,
              event_id
            FROM events),
          flag AS (
            SELECT user_id, event_type, ts_us, event_id,
              CASE WHEN lag(event_type) OVER
                  (PARTITION BY user_id ORDER BY ts_us, event_id)
                IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS brk
            FROM e),
          runs AS (
            SELECT user_id, event_type,
              CAST(sum(brk) OVER (PARTITION BY user_id
                ORDER BY ts_us, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
            FROM flag),
          rl AS (
            SELECT user_id, event_type, run_id,
              CAST(count(*) AS BIGINT) AS run_len
            FROM runs GROUP BY user_id, event_type, run_id)
          SELECT event_type, run_len, CAST(count(*) AS BIGINT) AS n_runs
          FROM rl GROUP BY event_type, run_len
          ORDER BY event_type, run_len""",
    // truncated two-sided geometric mechanism, alpha = 1/2: integer
    // inverse-CDF walk over exact thresholds at grain 3*2^20 — band k
    // spans grain/(3*2^k), outcomes ordered 0, +1, -1, ..., +-10, the
    // 2048-grain tail clipping to 0. No float log/exp on either engine.
    "q_dp_release" ->
      """WITH cnt AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS true_n
            FROM events GROUP BY event_type),
          draw AS (
            SELECT event_type, true_n,
              CAST(('0x' || substring(md5('dp:' || event_type), 1, 12))
                AS BIGINT) % 3145728 AS u
            FROM cnt),
          noise AS (
            SELECT event_type, true_n,
              CASE
                WHEN u < 1048576 THEN 0
                WHEN u < 1572864 THEN 1    WHEN u < 2097152 THEN -1
                WHEN u < 2359296 THEN 2    WHEN u < 2621440 THEN -2
                WHEN u < 2752512 THEN 3    WHEN u < 2883584 THEN -3
                WHEN u < 2949120 THEN 4    WHEN u < 3014656 THEN -4
                WHEN u < 3047424 THEN 5    WHEN u < 3080192 THEN -5
                WHEN u < 3096576 THEN 6    WHEN u < 3112960 THEN -6
                WHEN u < 3121152 THEN 7    WHEN u < 3129344 THEN -7
                WHEN u < 3133440 THEN 8    WHEN u < 3137536 THEN -8
                WHEN u < 3139584 THEN 9    WHEN u < 3141632 THEN -9
                WHEN u < 3142656 THEN 10   WHEN u < 3143680 THEN -10
                ELSE 0 END AS k
            FROM draw)
          SELECT event_type, true_n,
            CAST(true_n + k AS BIGINT) AS noisy_n,
            CAST(abs(k) AS BIGINT) AS abs_err,
            abs(k) * 200 <= true_n AS within_half_pct
          FROM noise ORDER BY event_type""",
    // rolling-origin backtest: integer-cents daily revenue on the DENSE
    // calendar spine (order-less days are zero-revenue rows, keeping
    // lag(7) weekday-aligned), lag-1/lag-7 forecasts, integer MAE
    "q_backtest" ->
      """WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                AS cents
            FROM orders GROUP BY 1),
          spine AS (
            SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
              AS DATE) AS d
            FROM (SELECT min(d) AS lo, max(d) AS hi FROM daily)),
          dense AS (
            SELECT s.d, coalesce(daily.cents, 0) AS cents
            FROM spine s LEFT JOIN daily ON daily.d = s.d),
          lagged AS (
            SELECT d, cents,
              lag(cents, 1) OVER (ORDER BY d) AS naive_f,
              lag(cents, 7) OVER (ORDER BY d) AS snaive_f
            FROM dense)
          SELECT m.model, CAST(count(*) AS BIGINT) AS n_origins,
            CAST(sum(abs(cents - f)) AS BIGINT) AS sum_abs_err_cents,
            CAST(sum(abs(cents - f)) // count(*) AS BIGINT) AS mae_cents
          FROM lagged, LATERAL (VALUES ('naive', naive_f),
            ('snaive7', snaive_f)) AS m(model, f)
          WHERE f IS NOT NULL GROUP BY m.model ORDER BY m.model""",
    // HITS hubs/authorities, 2 integer power iterations over the
    // customer-nation -> supplier-nation trade graph; floor division by
    // 2^10 per iteration replaces the float normalization (positive
    // values, so DuckDB // and Spark div agree)
    "q_hits" ->
      """WITH edges AS (
            SELECT cn.n_name AS src, sn.n_name AS dst,
              CAST(count(*) AS BIGINT) AS w
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation cn ON c.c_nationkey = cn.n_nationkey
            JOIN nation sn ON s.s_nationkey = sn.n_nationkey
            GROUP BY 1, 2),
          h1 AS (SELECT src, CAST(sum(w) AS BIGINT) AS h
                 FROM edges GROUP BY src),
          a1 AS (SELECT dst, CAST(sum(w * h1.h) // 1024 AS BIGINT) AS a
                 FROM edges JOIN h1 ON edges.src = h1.src GROUP BY dst),
          h2 AS (SELECT src, CAST(sum(w * a1.a) // 1024 AS BIGINT) AS h
                 FROM edges JOIN a1 ON edges.dst = a1.dst GROUP BY src),
          a2 AS (SELECT dst, CAST(sum(w * h2.h) // 1024 AS BIGINT) AS a
                 FROM edges JOIN h2 ON edges.src = h2.src GROUP BY dst)
          SELECT coalesce(h2.src, a2.dst) AS nation,
            coalesce(h2.h, 0) AS hub_score,
            coalesce(a2.a, 0) AS auth_score
          FROM h2 FULL OUTER JOIN a2 ON h2.src = a2.dst
          ORDER BY nation""",
    // positional trigram census (native ngram_pos generator on the
    // Spark side); pos is the 1-based trigram start index
    "q_udtf_ngrams" ->
      """WITH t AS (
            SELECT doc_id,
              list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents),
          g AS (
            SELECT doc_id, CAST(i AS BIGINT) AS pos,
              array_to_string(list_slice(toks, CAST(i AS INTEGER),
                CAST(i + 2 AS INTEGER)), ' ') AS gram
            FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
                  FROM t WHERE len(toks) >= 3))
          SELECT gram, CAST(count(*) AS BIGINT) AS n_occ,
            CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
            CAST(min(pos) AS BIGINT) AS min_pos,
            CAST(max(pos) AS BIGINT) AS max_pos
          FROM g GROUP BY gram HAVING count(*) >= 3
          ORDER BY n_occ DESC, gram LIMIT 40""",
    // SAX symbolization by exact rank binning (ntile over (cents, d))
    // on the dense day spine, then sliding 3-day motif census; null
    // motifs are the last 2 days
    "q_sax_motifs" ->
      """WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                AS cents
            FROM orders GROUP BY 1),
          spine AS (
            SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
              AS DATE) AS d
            FROM (SELECT min(d) AS lo, max(d) AS hi FROM daily)),
          dense AS (
            SELECT s.d, coalesce(daily.cents, 0) AS cents
            FROM spine s LEFT JOIN daily ON daily.d = s.d),
          sym AS (
            SELECT d, chr(CAST(96 + ntile(4) OVER (ORDER BY cents, d)
              AS INTEGER)) AS s
            FROM dense),
          words AS (
            SELECT s || lead(s, 1) OVER (ORDER BY d)
                     || lead(s, 2) OVER (ORDER BY d) AS motif
            FROM sym)
          SELECT motif, CAST(count(*) AS BIGINT) AS n
          FROM words WHERE motif IS NOT NULL
          GROUP BY motif ORDER BY motif""",
    // decision stump: all candidate splits in ONE aggregate row, gini
    // assembled row-locally from exact BIGINT counts, argmin on the
    // 6-dp-rounded key with the threshold tie-break
    "q_decision_stump" ->
      """WITH agg AS (
            SELECT count(*) AS n,
              sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p,
              sum(CASE WHEN value <= 50 THEN 1 ELSE 0 END) AS nl_50,
              sum(CASE WHEN value <= 50 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS pl_50,
              sum(CASE WHEN value <= 100 THEN 1 ELSE 0 END) AS nl_100,
              sum(CASE WHEN value <= 100 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS pl_100,
              sum(CASE WHEN value <= 150 THEN 1 ELSE 0 END) AS nl_150,
              sum(CASE WHEN value <= 150 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS pl_150,
              sum(CASE WHEN value <= 200 THEN 1 ELSE 0 END) AS nl_200,
              sum(CASE WHEN value <= 200 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS pl_200,
              sum(CASE WHEN value <= 250 THEN 1 ELSE 0 END) AS nl_250,
              sum(CASE WHEN value <= 250 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS pl_250,
              sum(CASE WHEN value <= 300 THEN 1 ELSE 0 END) AS nl_300,
              sum(CASE WHEN value <= 300 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS pl_300,
              sum(CASE WHEN value <= 350 THEN 1 ELSE 0 END) AS nl_350,
              sum(CASE WHEN value <= 350 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS pl_350,
              sum(CASE WHEN value <= 400 THEN 1 ELSE 0 END) AS nl_400,
              sum(CASE WHEN value <= 400 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS pl_400,
              sum(CASE WHEN value <= 450 THEN 1 ELSE 0 END) AS nl_450,
              sum(CASE WHEN value <= 450 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS pl_450
            FROM events),
          cand AS (
            SELECT CAST(t.th AS BIGINT) AS threshold,
              CAST(t.nl AS BIGINT) AS n_left, CAST(t.pl AS BIGINT) AS pos_left,
              CAST(agg.n - t.nl AS BIGINT) AS n_right,
              CAST(agg.p - t.pl AS BIGINT) AS pos_right
            FROM agg, LATERAL (VALUES
              (50, nl_50, pl_50), (100, nl_100, pl_100), (150, nl_150, pl_150),
              (200, nl_200, pl_200), (250, nl_250, pl_250), (300, nl_300, pl_300),
              (350, nl_350, pl_350), (400, nl_400, pl_400), (450, nl_450, pl_450))
              AS t(th, nl, pl)),
          sc AS (
            SELECT threshold, n_left, pos_left, n_right, pos_right,
              round(2.0 * pos_left * (n_left - pos_left) / n_left
                  + 2.0 * pos_right * (n_right - pos_right) / n_right, 6) AS gini
            FROM cand WHERE n_left > 0 AND n_right > 0)
          SELECT threshold, n_left, pos_left, n_right, pos_right, gini,
            rank() OVER (ORDER BY gini, threshold) = 1 AS is_best
          FROM sc ORDER BY threshold""",
    // tokenizer fertility by language: words, chars, ceil(len/4) pieces
    "q_token_fertility" ->
      """WITH tok AS (
            SELECT doc_id, lang,
              unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
            FROM documents),
          per AS (
            SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
              CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(sum(len(t)) AS BIGINT) AS n_chars,
              CAST(sum((len(t) + 3) // 4) AS BIGINT) AS n_pieces
            FROM tok GROUP BY lang)
          SELECT lang, n_docs, n_tokens, n_chars, n_pieces,
            round(n_chars / CAST(n_tokens AS DOUBLE), 6) AS chars_per_token,
            round(n_pieces / CAST(n_tokens AS DOUBLE), 6) AS pieces_per_token
          FROM per ORDER BY lang""",
    // interval union: merge overlapping 5-min activity intervals per
    // user via the running-max-of-ends sweep, then histogram by island
    // count; exact integer microseconds
    "q_interval_union" ->
      """WITH e AS (
            SELECT user_id, epoch_ns(ts) // 1000 AS s_us,
              epoch_ns(ts) // 1000 + 300000000 AS e_us, event_id
            FROM events),
          m AS (
            SELECT user_id, s_us, e_us, event_id,
              max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
            FROM e),
          isl AS (
            SELECT user_id, s_us, e_us,
              CAST(sum(CASE WHEN prev_max IS NULL OR s_us > prev_max
                  THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY s_us, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
            FROM m),
          per_island AS (
            SELECT user_id, island, max(e_us) - min(s_us) AS busy_us
            FROM isl GROUP BY user_id, island),
          per_user AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
              CAST(sum(busy_us) AS BIGINT) AS busy_us
            FROM per_island GROUP BY user_id)
          SELECT n_islands, CAST(count(*) AS BIGINT) AS n_users,
            CAST(sum(busy_us) AS BIGINT) AS total_busy_us
          FROM per_user GROUP BY n_islands ORDER BY n_islands""",
    // first-touch reach curve: per-user min hour, then a running sum
    // over the hour-bounded frame (the distributable spelling of
    // count(DISTINCT user) OVER cumulative)
    "q_cumulative_reach" ->
      """WITH fh AS (
            SELECT user_id, min(epoch_ns(ts) // 3600000000000) AS first_hr
            FROM events GROUP BY user_id),
          per AS (
            SELECT first_hr AS hr, CAST(count(*) AS BIGINT) AS new_users
            FROM fh GROUP BY first_hr)
          SELECT hr, new_users,
            CAST(sum(new_users) OVER (ORDER BY hr ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS reach
          FROM per ORDER BY hr""",
    // MoM + YoY growth from exact monthly cents; months without a full
    // 12-month lookback excluded so both rates are always defined
    "q_mom_growth" ->
      """WITH m AS (
            SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                AS cents,
              CAST(count(*) AS BIGINT) AS n_orders
            FROM orders GROUP BY 1),
          g AS (
            SELECT month, n_orders, cents,
              lag(cents, 1) OVER (ORDER BY month) AS prev_cents,
              lag(cents, 12) OVER (ORDER BY month) AS yoy_cents
            FROM m)
          SELECT month, n_orders, cents,
            round((cents - prev_cents) / CAST(prev_cents AS DOUBLE), 6)
              AS mom_growth,
            round((cents - yoy_cents) / CAST(yoy_cents AS DOUBLE), 6)
              AS yoy_growth
          FROM g WHERE yoy_cents IS NOT NULL ORDER BY month""",
    // CUSUM mean-shift detection on daily purchase cents, scaled through
    // the day count so S stays exact integer; argmax |S| flagged
    "q_cusum" ->
      """WITH daily AS (
            SELECT (epoch_ns(ts) // 1000) // 86400000000 AS day,
              CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase' GROUP BY 1),
          tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n_days,
              CAST(sum(cents) AS BIGINT) AS total FROM daily),
          cu AS (
            SELECT day, cents,
              CAST(sum(cents * (SELECT n_days FROM tot) - (SELECT total FROM tot))
                OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_scaled
            FROM daily)
          SELECT day, cents, s_scaled,
            CAST(CASE WHEN abs(s_scaled) = (SELECT max(abs(s_scaled)) FROM cu)
              THEN 1 ELSE 0 END AS BIGINT) AS is_changepoint
          FROM cu ORDER BY day""",
    // peak concurrent 30-min-gap sessions per day: +1/-1 boundary sweep
    // in (t, starts-before-ends, user, session) order
    "q_peak_concurrency" ->
      """WITH e AS (
            SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id FROM events),
          s AS (
            SELECT user_id, ts_us, event_id,
              CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
                  IS NULL OR ts_us - lag(ts_us)
                  OVER (PARTITION BY user_id ORDER BY ts_us, event_id) > 1800000000
                THEN 1 ELSE 0 END AS brk
            FROM e),
          sess AS (
            SELECT user_id, ts_us,
              CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
            FROM s),
          iv AS (
            SELECT user_id, sid, min(ts_us) AS t0, max(ts_us) AS t1
            FROM sess GROUP BY 1, 2),
          pts AS (
            SELECT t0 AS t, 1 AS delta, user_id, sid,
              (t0 // 1000) // 86400000 AS day FROM iv
            UNION ALL SELECT t1, -1, user_id, sid,
              (t1 // 1000) // 86400000 FROM iv),
          runs AS (
            SELECT day, t, delta,
              CAST(sum(delta) OVER (PARTITION BY day
                ORDER BY t, delta DESC, user_id, sid
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
            FROM pts),
          dayagg AS (
            SELECT day, CAST(max(run) AS BIGINT) AS max_run,
              CAST(sum(delta) AS BIGINT) AS net,
              CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_started
            FROM runs GROUP BY 1),
          fin AS (
            SELECT day,
              coalesce(CAST(sum(net) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
                0) AS carry_in,
              max_run, n_started
            FROM dayagg)
          SELECT day,
            CAST(greatest(carry_in, carry_in + max_run) AS BIGINT)
              AS peak_concurrent,
            n_started AS n_sessions_started
          FROM fin ORDER BY day""",
    // difference-in-differences on purchase spend: md5-parity arms,
    // 2024-01-16 rollout boundary, exact integer micro-cent cell means
    "q_did" ->
      """WITH e AS (
            SELECT
              CASE WHEN ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) % 2 = 1
                THEN 1 ELSE 0 END AS treat,
              CASE WHEN (epoch_ns(ts) // 1000) // 86400000000 >= 19738
                THEN 1 ELSE 0 END AS post,
              CAST(round(value * 100, 0) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'),
          m AS (
            SELECT
              CASE WHEN sum(CASE WHEN treat=1 AND post=1 THEN 1 ELSE 0 END) = 0 THEN NULL
                ELSE CAST(sum(CASE WHEN treat=1 AND post=1 THEN cents ELSE 0 END) * 1000000
                  // sum(CASE WHEN treat=1 AND post=1 THEN 1 ELSE 0 END) AS BIGINT) END AS t_post,
              CASE WHEN sum(CASE WHEN treat=1 AND post=0 THEN 1 ELSE 0 END) = 0 THEN NULL
                ELSE CAST(sum(CASE WHEN treat=1 AND post=0 THEN cents ELSE 0 END) * 1000000
                  // sum(CASE WHEN treat=1 AND post=0 THEN 1 ELSE 0 END) AS BIGINT) END AS t_pre,
              CASE WHEN sum(CASE WHEN treat=0 AND post=1 THEN 1 ELSE 0 END) = 0 THEN NULL
                ELSE CAST(sum(CASE WHEN treat=0 AND post=1 THEN cents ELSE 0 END) * 1000000
                  // sum(CASE WHEN treat=0 AND post=1 THEN 1 ELSE 0 END) AS BIGINT) END AS c_post,
              CASE WHEN sum(CASE WHEN treat=0 AND post=0 THEN 1 ELSE 0 END) = 0 THEN NULL
                ELSE CAST(sum(CASE WHEN treat=0 AND post=0 THEN cents ELSE 0 END) * 1000000
                  // sum(CASE WHEN treat=0 AND post=0 THEN 1 ELSE 0 END) AS BIGINT) END AS c_pre
            FROM e)
          SELECT t_post, t_pre, c_post, c_pre,
            (t_post - t_pre) - (c_post - c_pre) AS did_micro FROM m""",
    // Qini uplift curve on post-period purchase revenue over exact
    // pre-period-activity deciles; control arm scaled by integer division
    "q_qini" ->
      """WITH u AS (
            SELECT user_id,
              max(CASE WHEN ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) % 2 = 1
                THEN 1 ELSE 0 END) AS treat,
              CAST(count(CASE WHEN (epoch_ns(ts) // 1000) // 86400000000 < 19738
                THEN 1 END) AS BIGINT) AS score,
              CAST(coalesce(sum(CASE
                WHEN (epoch_ns(ts) // 1000) // 86400000000 >= 19738
                  AND event_type = 'purchase'
                THEN CAST(round(value * 100, 0) AS BIGINT) END), 0) AS BIGINT) AS cents
            FROM events GROUP BY 1),
          d AS (
            SELECT *, ntile(10) OVER (ORDER BY score DESC, user_id) AS decile FROM u),
          per AS (
            SELECT decile,
              CAST(sum(CASE WHEN treat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
              CAST(sum(CASE WHEN treat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
              CAST(sum(CASE WHEN treat = 1 THEN cents ELSE 0 END) AS BIGINT) AS y_t,
              CAST(sum(CASE WHEN treat = 0 THEN cents ELSE 0 END) AS BIGINT) AS y_c
            FROM d GROUP BY 1),
          run AS (
            SELECT decile,
              CAST(sum(n_t) OVER w AS BIGINT) AS cn_t,
              CAST(sum(n_c) OVER w AS BIGINT) AS cn_c,
              CAST(sum(y_t) OVER w AS BIGINT) AS cy_t,
              CAST(sum(y_c) OVER w AS BIGINT) AS cy_c
            FROM per WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING))
          SELECT decile, cn_t, cn_c, cy_t, cy_c,
            CASE WHEN cn_c = 0 THEN NULL
              ELSE cy_t - (cy_c * cn_t) // cn_c END AS qini_cents
          FROM run ORDER BY decile""",
    // U-shaped multi-touch attribution: 40/20/40 in exact basis points,
    // middle pool divided remainder-to-earliest; purchase cents credited
    // by integer bps division
    "q_multitouch" ->
      """WITH e AS (
            SELECT user_id, event_type, event_id, epoch_ns(ts) // 1000 AS ts_us,
              CAST(round(value * 100, 0) AS BIGINT) AS cents
            FROM events),
          seq AS (
            SELECT *,
              first_value(CASE WHEN event_type = 'purchase' THEN event_id END
                  IGNORE NULLS)
                OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                  ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_pid
            FROM e),
          touches AS (
            SELECT event_type, event_id, ts_us, next_pid
            FROM seq WHERE event_type <> 'purchase' AND next_pid IS NOT NULL),
          pc AS (SELECT event_id AS next_pid, cents FROM e
                 WHERE event_type = 'purchase'),
          tt AS (
            SELECT t.event_type, pc.cents,
              row_number() OVER (PARTITION BY t.next_pid
                ORDER BY t.ts_us, t.event_id) AS rn,
              CAST(count(*) OVER (PARTITION BY t.next_pid) AS BIGINT) AS n
            FROM touches t JOIN pc USING (next_pid)),
          credit AS (
            SELECT event_type, cents,
              CASE WHEN n = 1 THEN 10000 WHEN n = 2 THEN 5000
                WHEN rn = 1 OR rn = n THEN 4000
                ELSE 2000 // (n - 2)
                  + CASE WHEN rn - 1 <= 2000 % (n - 2) THEN 1 ELSE 0 END
              END AS bps
            FROM tt)
          SELECT event_type AS touch_type, CAST(count(*) AS BIGINT) AS n_touches,
            CAST(sum(bps) AS BIGINT) AS total_bps,
            CAST(sum(cents * bps // 10000) AS BIGINT) AS credited_cents
          FROM credit GROUP BY 1 ORDER BY touch_type""",
    // user-grouped 5-fold CV of the per-type mean model: out-of-fold
    // means from one aggregate, exact integer cents errors
    "q_cv_folds" ->
      """WITH e AS (
            SELECT user_id % 5 AS fold, event_type,
              CAST(round(value * 100, 0) AS BIGINT) AS cents
            FROM events),
          ft AS (SELECT fold, event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(cents) AS BIGINT) AS s
                 FROM e GROUP BY 1, 2),
          g AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS ng,
                  CAST(sum(s) AS BIGINT) AS sg FROM ft GROUP BY 1),
          pred AS (
            SELECT ft.fold, ft.event_type,
              CASE WHEN g.ng = ft.n THEN NULL
                ELSE (g.sg - ft.s) // (g.ng - ft.n) END AS mean_oof
            FROM ft JOIN g USING (event_type)),
          err AS (
            SELECT e.fold, abs(e.cents - p.mean_oof) AS ae
            FROM e JOIN pred p ON e.fold = p.fold AND e.event_type = p.event_type)
          SELECT fold, CAST(count(*) AS BIGINT) AS n_eval,
            CAST(sum(ae) AS BIGINT) AS total_abs_err_cents,
            CAST(sum(ae) * 100 // count(*) AS BIGINT) AS mae_centicents
          FROM err GROUP BY 1 ORDER BY fold""",
    // split conformal: even-day per-type mean, odd-day calibration, q_hat
    // as the exact rank-selected 90% residual, realized coverage in bps
    "q_conformal" ->
      """WITH e AS (
            SELECT event_type, event_id,
              ((epoch_ns(ts) // 1000) // 86400000000) % 2 AS cal,
              CAST(round(value * 100, 0) AS BIGINT) AS cents
            FROM events),
          mu AS (
            SELECT event_type,
              CAST(sum(cents) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_cents
            FROM e WHERE cal = 0 GROUP BY 1),
          ranked AS (
            SELECT event_type, r,
              row_number() OVER (PARTITION BY event_type ORDER BY r, event_id) AS rn,
              CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
            FROM (
              SELECT e.event_type, abs(e.cents - mu.mean_cents) AS r, e.event_id
              FROM e JOIN mu USING (event_type) WHERE e.cal = 1)),
          qh AS (
            SELECT event_type,
              CAST(min(CASE WHEN rn = ((n + 1) * 9) // 10 THEN r END) AS BIGINT)
                AS q_hat,
              CAST(min(n) AS BIGINT) AS n_cal
            FROM ranked GROUP BY 1)
          SELECT q.event_type, q.n_cal, q.q_hat,
            CAST(sum(CASE WHEN rk.r <= q.q_hat THEN 1 ELSE 0 END) * 10000
              // q.n_cal AS BIGINT) AS coverage_bps
          FROM qh q JOIN ranked rk USING (event_type)
          GROUP BY 1, 2, 3 ORDER BY event_type""",
    // RAKE keyphrases: corpus-discovered top-5-df stopwords delimit
    // candidate runs (<=4 tokens); score = sum of deg*1e6 div freq
    "q_rake_phrases" ->
      """WITH tok AS MATERIALIZED (
            SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[CAST(i AS INTEGER)] AS word
            FROM (SELECT doc_id,
                    list_filter(string_split(text, ' '), x -> x <> '') AS toks
                  FROM documents),
                 unnest(range(1, len(toks) + 1)) AS r(i)),
          stop AS MATERIALIZED (
            SELECT word FROM (
              SELECT word, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1)
            ORDER BY df DESC, word LIMIT 5),
          grp AS MATERIALIZED (
            SELECT doc_id, pos, word, g FROM (
              SELECT m.doc_id, m.pos, m.word, m.is_stop,
                CAST(sum(m.is_stop) OVER (PARTITION BY m.doc_id ORDER BY m.pos
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS g
              FROM (SELECT t.doc_id, t.pos, t.word,
                      CASE WHEN s.word IS NOT NULL THEN 1 ELSE 0 END AS is_stop
                    FROM tok t LEFT JOIN stop s ON t.word = s.word) m)
            WHERE is_stop = 0),
          ph AS MATERIALIZED (
            SELECT doc_id, g, CAST(count(*) AS BIGINT) AS plen,
              string_agg(word, ' ' ORDER BY pos) AS phrase
            FROM grp GROUP BY 1, 2),
          kept AS MATERIALIZED (
            SELECT gr.doc_id, gr.g, gr.word, ph.plen, ph.phrase
            FROM grp gr JOIN ph ON gr.doc_id = ph.doc_id AND gr.g = ph.g
            WHERE ph.plen <= 4),
          stats AS MATERIALIZED (
            SELECT word, CAST(count(*) AS BIGINT) AS freq,
              CAST(sum(plen) AS BIGINT) AS deg
            FROM kept GROUP BY 1),
          scored AS (
            SELECT k.doc_id, k.g, k.phrase,
              CAST(sum(s.deg * 1000000 // s.freq) AS BIGINT) AS score_micro
            FROM kept k JOIN stats s ON k.word = s.word
            GROUP BY 1, 2, 3)
          SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ,
            CAST(min(score_micro) AS BIGINT) AS score_micro
          FROM scored GROUP BY 1 ORDER BY score_micro DESC, phrase LIMIT 20""",
    // linear vs z-order clustering: 64 rank-cut files per layout, 8
    // probe ranges per dimension, candidate files under min/max zone maps
    "q_cluster_compare" ->
      """WITH base AS MATERIALIZED (
            SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber,
              CAST(ntile(64) OVER (ORDER BY l_partkey, l_orderkey, l_linenumber)
                - 1 AS BIGINT) AS bxv,
              CAST(ntile(64) OVER (ORDER BY l_suppkey, l_orderkey, l_linenumber)
                - 1 AS BIGINT) AS byv
            FROM lineitem),
          s1 AS MATERIALIZED (
            SELECT *, (bxv | (bxv << 8)) & 16711935 AS x1,
              (byv | (byv << 8)) & 16711935 AS y1 FROM base),
          s2 AS MATERIALIZED (
            SELECT *, (x1 | (x1 << 4)) & 252645135 AS x2,
              (y1 | (y1 << 4)) & 252645135 AS y2 FROM s1),
          s3 AS MATERIALIZED (
            SELECT *, (x2 | (x2 << 2)) & 858993459 AS x3,
              (y2 | (y2 << 2)) & 858993459 AS y3 FROM s2),
          s4 AS MATERIALIZED (
            SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber, bxv,
              (((x3 | (x3 << 1)) & 1431655765)
                | (((y3 | (y3 << 1)) & 1431655765) * 2)) AS morton
            FROM s3),
          files AS MATERIALIZED (
            SELECT l_partkey, l_suppkey,
              CAST(bxv + 1 AS BIGINT) AS f_linear,
              CAST(ntile(64) OVER (ORDER BY morton, l_orderkey, l_linenumber)
                AS BIGINT) AS f_zorder
            FROM s4),
          stats AS MATERIALIZED (
            SELECT 'linear' AS layout, f_linear AS f,
              CAST(min(l_partkey) AS BIGINT) AS p_lo,
              CAST(max(l_partkey) AS BIGINT) AS p_hi,
              CAST(min(l_suppkey) AS BIGINT) AS s_lo,
              CAST(max(l_suppkey) AS BIGINT) AS s_hi
            FROM files GROUP BY 2
            UNION ALL
            SELECT 'zorder', f_zorder,
              CAST(min(l_partkey) AS BIGINT), CAST(max(l_partkey) AS BIGINT),
              CAST(min(l_suppkey) AS BIGINT), CAST(max(l_suppkey) AS BIGINT)
            FROM files GROUP BY 2),
          dimstats AS MATERIALIZED (
            SELECT layout, 'partkey' AS dim, p_lo AS lo, p_hi AS hi FROM stats
            UNION ALL
            SELECT layout, 'suppkey', s_lo, s_hi FROM stats),
          dom AS MATERIALIZED (
            SELECT CAST(max(l_partkey) AS BIGINT) AS pmax,
              CAST(max(l_suppkey) AS BIGINT) AS smax FROM files),
          ranges AS MATERIALIZED (
            SELECT 'partkey' AS dim, CAST(k AS BIGINT) AS range_id,
              k * ((pmax + 8) // 8) AS r_lo, (k + 1) * ((pmax + 8) // 8) - 1 AS r_hi
            FROM dom, unnest(range(0, 8)) AS r(k)
            UNION ALL
            SELECT 'suppkey', CAST(k AS BIGINT),
              k * ((smax + 8) // 8), (k + 1) * ((smax + 8) // 8) - 1
            FROM dom, unnest(range(0, 8)) AS r(k))
          SELECT s.layout, s.dim,
            CAST(count(*) * 100 // 8 AS BIGINT) AS avg_candidate_files_x100
          FROM dimstats s JOIN ranges r ON s.dim = r.dim
          WHERE s.hi >= r.r_lo AND s.lo <= r.r_hi
          GROUP BY 1, 2 ORDER BY s.layout, s.dim""",
    // Neyman allocation: exact centered-integer stratum variance, one
    // IEEE sqrt per stratum, ordered running total, rounded allocation
    "q_neyman_alloc" ->
      """WITH e AS (
            SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents
            FROM events),
          mu AS (
            SELECT event_type,
              CAST(sum(cents) AS BIGINT) // CAST(count(*) AS BIGINT) AS mu
            FROM e GROUP BY 1),
          ssd AS (
            SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_h,
              CAST(sum((e.cents - mu.mu) * (e.cents - mu.mu)) AS BIGINT) AS ssd
            FROM e JOIN mu USING (event_type) GROUP BY 1),
          w AS (
            SELECT event_type, n_h, ssd,
              CASE WHEN n_h > 1
                THEN n_h * sqrt(CAST(ssd AS DOUBLE) / CAST(n_h - 1 AS DOUBLE))
                ELSE 0 END AS wgt
            FROM ssd),
          tw AS (
            SELECT event_type, n_h, ssd, wgt,
              sum(wgt) OVER (ORDER BY event_type ROWS UNBOUNDED PRECEDING) AS run_w
            FROM w)
          SELECT event_type, n_h, ssd,
            CAST(round(10000 * wgt / (SELECT max(run_w) FROM tw), 0) AS BIGINT)
              AS alloc_of_10000
          FROM tw ORDER BY event_type""",
    // A-ES weighted sampling: md5-derived uniform, key = -ln(u)/w rounded
    // to 6 dp before ranking, 20 smallest keys are the sample
    "q_aes_sample" ->
      """WITH e AS (
            SELECT event_id, CAST(round(value * 100, 0) AS BIGINT) + 1 AS w,
              (CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 13))
                AS BIGINT) + 1) / 4503599627370497.0 AS u
            FROM events),
          k AS (
            SELECT event_id, w,
              round(-ln(u) / CAST(w AS DOUBLE) * 1000000, 6) AS key_scaled
            FROM e)
          SELECT event_id, w, key_scaled,
            CAST(row_number() OVER (ORDER BY key_scaled, event_id) AS BIGINT)
              AS rank
          FROM k ORDER BY key_scaled, event_id LIMIT 20""",
    // semantic decontamination: corpus items above cosine 0.3 to any of
    // the 5 benchmark probe vectors, per-probe census
    "q_sem_decontaminate" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
          p AS (
            SELECT q_id, vec_id,
              round(list_sum(list_transform(range(1, len(v) + 1),
                  i -> v[CAST(i AS INTEGER)] * qv[CAST(i AS INTEGER)])) /
                (sqrt(list_sum(list_transform(v, x -> x * x))) *
                 sqrt(list_sum(list_transform(qv, x -> x * x)))), 6) AS cosine
            FROM e CROSS JOIN q WHERE vec_id >= 5)
          SELECT q_id, CAST(count(*) AS BIGINT) AS n_checked,
            CAST(sum(CASE WHEN cosine >= 0.3 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_flagged,
            max(cosine) AS max_cosine,
            CAST(min(CASE WHEN cosine >= 0.3 THEN vec_id END) AS BIGINT)
              AS first_flagged_id
          FROM p GROUP BY 1 ORDER BY q_id""",
    // subclassification ATE: 5 exact score strata, per-stratum arm mean
    // diff in integer micro-cents, stratum 0 = pooled + weighted numerator
    "q_propensity_strata" ->
      """WITH u AS (
            SELECT user_id,
              max(CASE WHEN ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) % 2 = 1
                THEN 1 ELSE 0 END) AS treat,
              CAST(count(CASE WHEN (epoch_ns(ts) // 1000) // 86400000000 < 19738
                THEN 1 END) AS BIGINT) AS score,
              CAST(coalesce(sum(CASE
                WHEN (epoch_ns(ts) // 1000) // 86400000000 >= 19738
                  AND event_type = 'purchase'
                THEN CAST(round(value * 100, 0) AS BIGINT) END), 0) AS BIGINT) AS cents
            FROM events GROUP BY 1),
          d AS (
            SELECT *, ntile(5) OVER (ORDER BY score DESC, user_id) AS stratum FROM u),
          s AS (
            SELECT stratum,
              CAST(sum(CASE WHEN treat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
              CAST(sum(CASE WHEN treat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
              CAST(sum(CASE WHEN treat = 1 THEN cents ELSE 0 END) AS BIGINT) AS y_t,
              CAST(sum(CASE WHEN treat = 0 THEN cents ELSE 0 END) AS BIGINT) AS y_c
            FROM d GROUP BY 1),
          s2 AS (
            SELECT *, CASE WHEN n_t = 0 OR n_c = 0 THEN NULL
              ELSE y_t * 1000000 // n_t - y_c * 1000000 // n_c END AS diff_micro
            FROM s),
          s3 AS (SELECT *, (n_t + n_c) * diff_micro AS w_num FROM s2)
          SELECT stratum, n_t, n_c, y_t, y_c, diff_micro, w_num FROM s3
          UNION ALL
          SELECT 0, CAST(sum(n_t) AS BIGINT), CAST(sum(n_c) AS BIGINT),
            CAST(sum(y_t) AS BIGINT), CAST(sum(y_c) AS BIGINT),
            CASE WHEN sum(n_t) = 0 OR sum(n_c) = 0 THEN NULL
              ELSE CAST(sum(y_t) AS BIGINT) * 1000000 // CAST(sum(n_t) AS BIGINT)
                - CAST(sum(y_c) AS BIGINT) * 1000000 // CAST(sum(n_c) AS BIGINT) END,
            CAST(sum(w_num) AS BIGINT)
          FROM s3 ORDER BY stratum""",
    // Simpson's-paradox audit: exact integer slope signs (centered weeks
    // x whole dollars), per priority stratum + the pooled ALL row
    "q_simpson" ->
      """WITH o AS (
            SELECT o_orderpriority AS grp,
              CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) // 7
                AS wk,
              CAST(round(o_totalprice, 0) AS BIGINT) AS dollars
            FROM orders),
          b AS (SELECT CAST(min(wk) AS BIGINT) AS w0 FROM o),
          c AS (SELECT grp, wk - (SELECT w0 FROM b) AS x, dollars AS y FROM o),
          per AS (
            SELECT grp, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
              CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy
            FROM c GROUP BY 1),
          uni AS (
            SELECT grp, n, sx, sy, sxy FROM per
            UNION ALL
            SELECT 'ALL', CAST(sum(n) AS BIGINT), CAST(sum(sx) AS BIGINT),
              CAST(sum(sy) AS BIGINT), CAST(sum(sxy) AS BIGINT)
            FROM per)
          SELECT grp, n,
            CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
              AS VARCHAR) AS slope_num,
            CAST(sign(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
              AS BIGINT) AS slope_sign
          FROM uni ORDER BY grp""",
    // BFS two-hop reach over the top-100 strongest trade edges (self
    // loops excluded); per origin: 1-hop partners and <=2-hop reach
    "q_twohop_reach" ->
      """WITH ew AS MATERIALIZED (
            SELECT cn.n_name AS src, sn.n_name AS dst, CAST(count(*) AS BIGINT) AS w
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation cn ON c.c_nationkey = cn.n_nationkey
            JOIN nation sn ON s.s_nationkey = sn.n_nationkey
            GROUP BY 1, 2),
          edges AS MATERIALIZED (
            SELECT src, dst FROM ew WHERE src <> dst
            ORDER BY w DESC, src, dst LIMIT 100),
          hop2 AS (
            SELECT DISTINCT a.src, b.dst FROM edges a JOIN edges b ON a.dst = b.src
            WHERE b.dst <> a.src),
          reach AS MATERIALIZED (
            SELECT src, dst FROM edges UNION SELECT src, dst FROM hop2)
          SELECT n.n_name AS nation,
            CAST(coalesce(h1.c, 0) AS BIGINT) AS n_1hop,
            CAST(coalesce(r.c, 0) AS BIGINT) AS n_2hop
          FROM nation n
          LEFT JOIN (SELECT src, count(*) AS c FROM edges GROUP BY 1) h1
            ON h1.src = n.n_name
          LEFT JOIN (SELECT src, count(*) AS c FROM reach GROUP BY 1) r
            ON r.src = n.n_name
          ORDER BY nation""",
    // format round-trip faces: the oracle recomputes the census from the
    // RAW parquet + the same six adversarial rows (four escaping hazards
    // + the empty-string/NULL pair) injected on the Spark side — the
    // VALUES below and FileFormatOps.advRows must stay mirrored
    // byte-for-byte — so a lossy CSV quote / JSON escape / ORC mapping
    // leg flips the digest
    "q_csv_roundtrip" -> formatRoundtripOracle("csv"),
    "q_jsonl_roundtrip" -> formatRoundtripOracle("jsonl"),
    "q_orc_roundtrip" -> formatRoundtripOracle("orc"),
  )
}
