package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see SURVEY.md §2 for the operator inventory each query
  * key maps to, and Oracles for the matching DuckDB SQL. */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Gold.salesSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // gold layer (reference: src/etl/gold/spark_gold.py)
    "sales_summary"    -> ((s, d) => Gold.salesSummary(s, d)),
    "product_analysis" -> ((s, d) => Gold.productAnalysis(s, d)),
    "rfm_segments"     -> ((s, d) => Gold.rfmSegments(s, d)),
    "daily_metrics"    -> ((s, d) => Gold.dailyMetrics(s, d)),
    "cohort_analysis"  -> ((s, d) => Gold.cohortAnalysis(s, d)),
    "rollup_sales"     -> ((s, d) => Gold.rollupSales(s, d)),
    "exec_kpis"        -> ((s, d) => ExecKpis.revenueKpis(s, d)),
    "customer_segments" -> ((s, d) => Segments.customerSegments(s, d)),
    "rfm_segment_rollup" -> ((s, d) => Segments.rfmSegmentRollup(s, d)),
    // materialized-view suite (reference: materialized_views_manager.py:263,490,801,921)
    "operational_kpis" -> ((s, d) => Views.operationalKpis(s, d)),
    "financial_kpis"   -> ((s, d) => Views.financialKpis(s, d)),
    "daily_sales_kpi"  -> ((s, d) => Views.dailySalesKpi(s, d)),
    "anomaly_kpis"     -> ((s, d) => Views.anomalyKpis(s, d)),
    "realtime_metrics" -> ((s, d) => Views.realtimeMetrics(s, d)),
    // quality-dimension scorecard (reference: data_quality_engine.py:739-815)
    "quality_scorecard" -> ((s, d) => QualityScore.scorecard(s, d)),
    // per-group OLS forecast (reference: src/analytics/ml/predictor.py)
    "sales_forecast"   -> ((s, d) => Forecast.salesForecast(s, d)),
    // silver layer + data quality (reference: src/etl/silver/spark_silver.py)
    "silver_clean"     -> ((s, d) => Silver.cleanLineitem(s, d)),
    "dq_profile"       -> ((s, d) => Quality.dqProfileOrders(s, d)),
    "anomaly_orders"   -> ((s, d) => Quality.anomalyOrders(s, d)),
    "mad_outliers"     -> ((s, d) => Quality.madOutliers(s, d)),
    "rare_categories"  -> ((s, d) => Quality.rareCategories(s, d)),
    "date_gaps"        -> ((s, d) => Quality.dateGaps(s, d)),
    "drift_check"      -> ((s, d) => Quality.driftCheck(s, d)),
    "corr_matrix"      -> ((s, d) => Stats.corrMatrix(s, d)),
    "corr_significance" -> ((s, d) => Stats.corrSignificance(s, d)),
    "corr_clusters"    -> ((s, d) => Stats.corrClusters(s, d)),
    "trend_detection"  -> ((s, d) => Stats.trendDetection(s, d)),
    "descriptive_stats" -> ((s, d) => Stats.descriptiveStats(s, d)),
    "stationarity_check" -> ((s, d) => Stats.stationarityCheck(s, d)),
    "enriched_sales"   -> ((s, d) => Enrichment.enrichedSales(s, d)),
    "validation_report" -> ((s, d) => Validation.validationReport(s, d)),
    "suggested_rules" -> ((s, d) => Validation.suggestedRules(s, d)),
    // transformations (reference: src/etl/transformations/)
    "scd2_customer"    -> ((s, d) => Scd2.scd2Customer(s, d)),
    "scd2_merge"       -> ((s, d) => Scd2.scd2Merge(s, d)),
    "running_totals"   -> ((s, d) => Windowing.runningTotals(s, d)),
    "pivot_priority"   -> ((s, d) => Pivot.revenueByPriority(s, d)),
    // feature engineering (reference: src/etl/transformations/advanced_features.py)
    "basket_features"   -> ((s, d) => AdvancedFeatures.basketFeatures(s, d)),
    "customer_behavior" -> ((s, d) => AdvancedFeatures.customerBehavior(s, d)),
    "seasonality"       -> ((s, d) => AdvancedFeatures.seasonality(s, d)),
    "iqr_outliers"      -> ((s, d) => AdvancedFeatures.iqrOutliers(s, d)),
    "median_prices"     -> ((s, d) => AdvancedFeatures.medianPrices(s, d)),
    "feature_matrix"    -> ((s, d) => FeatureEng.customerFeatures(s, d)),
    // star schema (reference: src/etl/gold/star_schema_builder.py)
    "dim_date"         -> ((s, d) => StarSchema.dimDate(s, d)),
    "fact_sales"       -> ((s, d) => StarSchema.factSales(s, d)),
    // bucketed-layout pair: identical rollup, shuffled vs exchange-free
    "fact_join_shuffled" -> ((s, d) => graft.sources.Bucketed.factJoinShuffled(s, d)),
    "fact_join_bucketed" -> ((s, d) => graft.sources.Bucketed.factJoinBucketed(s, d)),
    // z-order vs natural layout: per-bucket min/max + probe-box pruning
    "zorder_layout" -> ((s, d) => Layout.zorderLayout(s, d)),
    // streaming batch analogs + CDC + as-of (reference: src/streaming/)
    "events_windowed"  -> ((s, d) => Events.windowedAgg(s, d)),
    "events_sessions"  -> ((s, d) => Events.sessions(s, d)),
    "event_funnel"     -> ((s, d) => Funnel.eventFunnel(s, d)),
    "streaming_funnel_replay" -> ((s, d) =>
      graft.streaming.StreamingFunnel.streamingFunnelReplay(s, d)),
    "event_attribution" -> ((s, d) => Funnel.attribution(s, d)),
    "graph_pagerank"   -> ((s, d) => GraphOps.pageRank(s, d)),
    "graph_pagerank_incremental" -> ((s, d) => GraphOps.pageRankIncremental(s, d)),
    "events_json"      -> ((s, d) => Events.jsonStats(s, d)),
    "cdc_apply"        -> ((s, d) => Cdc.cdcApply(s, d)),
    "incremental_events" -> ((s, d) => Incremental.incrementalEvents(s, d)),
    "snapshot_diff"    -> ((s, d) => Incremental.snapshotDiffCustomers(s, d)),
    "asof_join"        -> ((s, d) => AsOf.eventsAsofOrders(s, d)),
    "asof_native"      -> ((s, d) => AsOf.eventsAsofOrdersNative(s, d)),
    // point-in-time feature retrieval (reference: feature_store.py:440-523)
    "training_matrix"  -> ((s, d) => FeatureStore.trainingMatrix(s, d)),
    // LLM-pipeline: text analysis (SURVEY §2 #29-32)
    "text_stats"       -> ((s, d) => graft.text.TextOps.textStats(s, d)),
    "token_counts"     -> ((s, d) => graft.text.TextOps.tokenCounts(s, d)),
    "lang_id"          -> ((s, d) => graft.text.TextOps.langId(s, d)),
    "doc_fingerprint"  -> ((s, d) => graft.text.TextOps.fingerprints(s, d)),
    "vocab_topk"       -> ((s, d) => graft.text.TextOps.vocabTopK(s, d)),
    "bpe_vocab"        -> ((s, d) => graft.text.Bpe.bpeMerges(s, d)),
    "bpe_encode"       -> ((s, d) => graft.text.Bpe.bpeEncode(s, d)),
    "ngram_perplexity" -> ((s, d) => graft.text.Perplexity.perplexityBuckets(s, d)),
    "entity_resolution" -> ((s, d) => EntityRes.resolveParts(s, d)),
    "entity_resolution_multipass" -> ((s, d) => EntityRes.resolvePartsMultipass(s, d)),
    "dsir_selection"   -> ((s, d) => graft.text.Dsir.dsirSelection(s, d)),
    "tfidf_topterms"   -> ((s, d) => graft.text.TextOps.tfidfTopTerms(s, d)),
    "curation_keep"    -> ((s, d) => graft.text.Curation.qualityKeep(s, d)),
    "token_histogram"  -> ((s, d) => graft.text.Curation.tokenHistogram(s, d)),
    // chunking + deterministic embedding (reference: text_embeddings.py:137,56)
    "doc_chunks"       -> ((s, d) => graft.text.Chunking.docChunks(s, d)),
    "chunk_embeddings" -> ((s, d) => graft.text.Chunking.chunkEmbeddings(s, d)),
    // LLM-pipeline: dedup (SURVEY §2 #21-24)
    "dedup_exact"      -> ((s, d) => graft.dedup.Dedup.exactDedup(s, d)),
    "dedup_minhash"    -> ((s, d) => graft.dedup.MinHashLsh.nearDupPairs(s, d)),
    // the doc-bounded decision-frame DEFAULT (pair list = audit surface)
    "dedup_minhash_keepers" -> ((s, d) => graft.dedup.MinHashLsh.nearDupKeepers(s, d)),
    "minhash_recall"   -> ((s, d) => graft.dedup.MinHashLsh.minhashRecallAudit(s, d)),
    "dedup_simhash"    -> ((s, d) => graft.dedup.SimHash.nearDupPairs(s, d)),
    "dedup_report"     -> ((s, d) => graft.dedup.DedupReport.report(s, d)),
    "dedup_clusters"   -> ((s, d) => graft.dedup.DedupClusters.clusters(s, d)),
    "cluster_keepers"  -> ((s, d) => graft.dedup.DedupClusters.clusterKeepers(s, d)),
    "dup_spans"        -> ((s, d) => graft.dedup.DupSpans.dupSpans(s, d)),
    "span_removal"     -> ((s, d) => graft.dedup.DupSpans.spanRemoval(s, d)),
    "incremental_dedup" -> ((s, d) => graft.dedup.IncrementalDedup.incrementalDedup(s, d)),
    "incremental_neardup" -> ((s, d) => graft.dedup.IncrementalDedup.incrementalNearDup(s, d)),
    "semdedup"         -> ((s, d) => graft.dedup.SemDeDup.semDedup(s, d)),
    "semdedup_incremental" -> ((s, d) => graft.dedup.SemDeDup.semDedupIncremental(s, d)),
    "streaming_neardup_replay" -> ((s, d) => graft.streaming.StreamingNearDup.streamingNearDupReplay(s, d)),
    // LLM-pipeline: similarity search + multimodal (SURVEY §2 #25-28)
    "ann_topk"         -> ((s, d) => graft.ann.Ann.annTopK(s, d)),
    "ann_filtered"     -> ((s, d) => graft.ann.Ann.annFiltered(s, d)),
    "faceted_search"   -> ((s, d) => graft.text.Search.facetedSearch(s, d)),
    "advanced_search"  -> ((s, d) => graft.text.Search.advancedSearch(s, d)),
    "ann_lsh"          -> ((s, d) => graft.ann.Ann.annLshTopK(s, d)),
    "ann_ivf"          -> ((s, d) => graft.ann.Ann.annIvfTopK(s, d)),
    "ann_ivf_indexed"  -> ((s, d) => graft.ann.Ann.annIvfIndexed(s, d)),
    "ann_pq"           -> ((s, d) => graft.ann.Pq.annPq(s, d)),
    "ann_pq_indexed"   -> ((s, d) => graft.ann.Pq.annPqIndexed(s, d)),
    "ann_ivfpq"        -> ((s, d) => graft.ann.IvfPq.annIvfPq(s, d)),
    "ann_ivfpq_indexed" -> ((s, d) => graft.ann.IvfPq.annIvfPqIndexed(s, d)),
    "ann_ivfpq_append" -> ((s, d) => graft.ann.IvfPq.annIvfPqAppend(s, d)),
    "streaming_ivfpq_append_replay" -> ((s, d) =>
      graft.streaming.StreamingVectorIndex.appendReplay(s, d, graft.ann.VectorIndex.Kind.IvfAdc)),
    // the ANN lambda arc: settled fit + assign-only exactly-once appends
    "ann_ivf_append"   -> ((s, d) => graft.ann.Ann.annIvfAppend(s, d)),
    // streaming twin: the appended fifth through the foreachBatch sink as
    // id-ordered micro-batches (batch-boundary-invariant => same oracle)
    "streaming_ivf_append_replay" -> ((s, d) =>
      graft.streaming.StreamingVectorIndex.appendReplay(s, d, graft.ann.VectorIndex.Kind.Ivf)),
    "ann_recall"       -> ((s, d) => graft.ann.Ann.annRecall(s, d)),
    "ann_auto"         -> ((s, d) => graft.ann.Ann.annAuto(s, d)),
    "embed_neardup"    -> ((s, d) => graft.ann.Ann.embeddingNearDups(s, d)),
    "multimodal_features" -> ((s, d) => graft.multimodal.Multimodal.features(s, d)),
    "multimodal_signal" -> ((s, d) => graft.multimodal.Multimodal.signal(s, d)),
    "multimodal_video" -> ((s, d) => graft.multimodal.Multimodal.video(s, d)),
    "multimodal_mjpeg" -> ((s, d) => graft.multimodal.Multimodal.mjpeg(s, d)),
    "ets_forecast"     -> ((s, d) => graft.operators.EtsForecast.etsForecast(s, d)),
    "ets_incremental"  -> ((s, d) => graft.operators.EtsForecast.etsIncremental(s, d)),
    "seasonal_decompose" -> ((s, d) => graft.operators.SeasonalDecompose.seasonalDecompose(s, d)),
    "ar_forecast"      -> ((s, d) => graft.operators.ArForecast.arForecast(s, d)),
    // ML segmentation (reference: advanced_features.py:364 sklearn KMeans)
    "customer_clusters" -> ((s, d) => graft.ml.Clustering.customerClusters(s, d)),

    "churn_risk"       -> ((s, d) => Churn.churnRisk(s, d)),
    "customer_clv"     -> ((s, d) => Churn.customerClv(s, d)),

    "change_points"    -> ((s, d) => TimeSeries.changePoints(s, d)),
    "anomalous_periods" -> ((s, d) => TimeSeries.anomalousPeriods(s, d)),
    "seasonality_check" -> ((s, d) => TimeSeries.seasonalityCheck(s, d)),
    "normality_check"  -> ((s, d) => Stats.normalityCheck(s, d)),
    "dagostino_check"  -> ((s, d) => Stats.dagostinoCheck(s, d)),

    "vault_model"      -> ((s, d) => Vault.vaultModel(s, d)),
    "vault_integrity"  -> ((s, d) => Vault.vaultIntegrity(s, d)),
    "referential_integrity" -> ((s, d) => Integrity.referentialIntegrity(s, d)),
    // partitioning advisor: per-column profile + suitability ladder +
    // strategy recommendation (operators/PartitionAdvisor.scala)
    "partition_advice" -> ((s, d) => PartitionAdvisor.partitionAdvice(s, d)),
    "behavioral_analytics" -> ((s, d) => Behavior.behavioralAnalytics(s, d)),

    "distribution_profile" -> ((s, d) => Stats.distributionProfile(s, d)),
    "ab_test_results"  -> ((s, d) => Experiment.abTestResults(s, d)),

    "pii_scan"         -> ((s, d) => graft.text.Dlp.piiScan(s, d)),
    "pii_redact"       -> ((s, d) => graft.text.Dlp.piiRedact(s, d)),

    "quality_trends"   -> ((s, d) => Monitoring.qualityTrends(s, d)),
    "subject_erasure"  -> ((s, d) => Monitoring.subjectErasure(s, d)),

    // ML feature-pipeline transformers (reference: feature_pipeline.py:95,148,200)
    "time_features"        -> ((s, d) => FeaturePipeline.timeFeatures(s, d)),
    "group_ratio_features" -> ((s, d) => FeaturePipeline.groupRatioFeatures(s, d)),
    "interaction_features" -> ((s, d) => FeaturePipeline.interactionFeatures(s, d)),
    // drift detection (reference: model_monitor.py:144-260)
    "ks_drift"         -> ((s, d) => Drift.ksDrift(s, d)),
    "js_drift"         -> ((s, d) => Drift.jsDrift(s, d)),
    "cat_drift"        -> ((s, d) => Drift.catDrift(s, d)),
    "psi_drift"        -> ((s, d) => Drift.psiDrift(s, d)),
    "prediction_drift" -> ((s, d) => Drift.predictionDrift(s, d)),
    // dbt data-quality macros + retention (data_quality_checks.sql, data_retention.sql)
    "table_health"     -> ((s, d) => TableHealth.tableHealth(s, d)),
    "retention_policy" -> ((s, d) => Retention.retentionPolicy(s, d)),
    // ensemble anomaly vote (reference: predictive_engine.py:673-826)
    "anomaly_ensemble" -> ((s, d) => Ensemble.anomalyEnsemble(s, d)),
    // ML-model anomaly detection (reference: anomaly_detection.py:435-557
    // IsolationForest/DBSCAN — KMeans-distance analog, rows-only)
    "anomaly_ml"          -> ((s, d) => graft.ml.MlAnomaly.mlAnomaly(s, d)),
    "anomaly_ensemble_ml" -> ((s, d) => Ensemble.anomalyEnsembleMl(s, d)),
    // supervised GBT training/eval report (reference: model_trainer.py, rows-only)
    "model_eval"          -> ((s, d) => graft.ml.ModelEval.modelEval(s, d)),
    // lagged supervised matrix (reference: predictive_engine.py:379)
    "lagged_features"  -> ((s, d) => FeaturePipeline.laggedFeatures(s, d)),
    // business alert ladders (reference: bi_dashboard_integration.py:138)
    "business_alerts"  -> ((s, d) => Alerts.businessAlerts(s, d)),
    // realtime feature catalog + rule composite (realtime_analytics_ml.py:167,952)
    "product_features" -> ((s, d) => RealtimeFeatures.productFeatures(s, d)),
    "event_anomalies"  -> ((s, d) => RealtimeFeatures.eventAnomalies(s, d)),
    // cross-dataset consistency (smart_validator.py:580)
    "cross_consistency" -> ((s, d) => CrossConsistency.crossConsistency(s, d)),
    // training-corpus prep (beyond-reference LLM-pipeline ops; text/TrainPrep.scala)
    "hash_split"          -> ((s, d) => graft.text.TrainPrep.hashSplit(s, d)),
    "class_balance"       -> ((s, d) => graft.text.TrainPrep.classBalance(s, d)),
    "contamination_check" -> ((s, d) => graft.text.TrainPrep.contaminationCheck(s, d)),
    "semantic_contamination" -> ((s, d) => graft.text.Decontamination.semanticContamination(s, d)),
    "repetition_filter"   -> ((s, d) => graft.text.TrainPrep.repetitionFilter(s, d)),
    "sequence_packing"    -> ((s, d) => graft.text.TrainPrep.sequencePacking(s, d)),
    "mixing_weights"      -> ((s, d) => graft.text.TrainPrep.mixingWeights(s, d)),
    "training_shuffle"    -> ((s, d) => graft.text.TrainPrep.trainingShuffle(s, d)),
    "temperature_sample"  -> ((s, d) => graft.text.TrainPrep.temperatureSample(s, d)),
    "lm_quality_score"    -> ((s, d) => graft.text.TrainPrep.lmQualityScore(s, d)),
    "curation_funnel"     -> ((s, d) => graft.text.TrainPrep.curationFunnel(s, d)),
    "curated_corpus"      -> ((s, d) => graft.text.TrainPrep.curatedCorpus(s, d)),
    "corpus_stats"        -> ((s, d) => graft.text.TrainPrep.corpusStats(s, d)),
    "dataset_card"        -> ((s, d) => graft.text.TrainPrep.datasetCard(s, d)),
    "stratified_sample"   -> ((s, d) => graft.text.TrainPrep.stratifiedSample(s, d)),
    // hybrid lexical+vector retrieval with RRF fusion (text/HybridSearch.scala)
    "hybrid_search"       -> ((s, d) => graft.text.HybridSearch.hybridSearch(s, d)),
    // the persisted-index scale paths: exact persisted-vector leg, and the
    // SRP bucket-probed sublinear leg (text/HybridSearch.scala)
    "hybrid_search_indexed" -> ((s, d) => graft.text.HybridSearch.hybridSearchPersisted(s, d)),
    "hybrid_search_probe" -> ((s, d) => graft.text.HybridSearch.hybridSearchProbe(s, d)),
    "hybrid_search_auto" -> ((s, d) => graft.text.HybridSearch.hybridSearchAuto(s, d)),
    // retrieval-quality dashboard: nDCG/RR/P@10 for lexical vs vector vs
    // fused rankings against the dual-evidence relevance standard
    "retrieval_metrics" -> ((s, d) => graft.text.HybridSearch.retrievalMetrics(s, d)),
    // streaming ingest arc replay: sink + in-sink compaction + append-union
    // read, hash-gated through the flat oracle (bit-parity by construction)
    "streaming_hybrid_index_replay" -> ((s, d) =>
      graft.streaming.StreamingHybridIndex.streamingHybridIndexReplay(s, d))
  )

  /** DuckDB-equivalent SQL per query key (see Oracles). Keys absent here are
    * non-SQL-expressible (hash-function-dependent LSH etc.) and get the
    * driver's rows-only check plus ScalaTest coverage. */
  def oracleSql: Map[String, String] = Oracles.sql

  /** Bench-only approximate scale twins (operators/Approx.scala): measured
    * alongside their exact forms so the 100 TB recommendation (HLL distincts
    * instead of the countDistinct Expand) is a benchmarked number, not an
    * assertion. NOT part of `queries`: an HLL sketch has no cross-engine
    * oracle (Spark and DuckDB implement different estimators), and the
    * accuracy bounds are ApproxSpec's job. */
  def benchOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sales_summary_approx"    -> ((s, d) => graft.operators.Approx.salesSummaryApprox(s, d)),
    "product_analysis_approx" -> ((s, d) => graft.operators.Approx.productAnalysisApprox(s, d)),
    "partition_advice_sampled" -> ((s, d) =>
      graft.operators.PartitionAdvisor.partitionAdviceSampled(s, d))
  )
}
