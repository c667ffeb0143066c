package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._
import graft.operators.Parity.r4

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  private def bars(s: SparkSession, dir: String): DataFrame =
    Bars.ohlcv(Tables.events(s, dir))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1(Tables.lineitem(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A. ingestion / preprocessing
    "q_bars_ohlcv" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      bars(s, d).select(col("symbol"), col("bar_ts"), col("open"), col("high"),
        col("low"), col("close"), col("volume"), r4(col("vsum")).as("vsum"))
        .orderBy(col("symbol"), col("bar_ts"))
    }),
    "q_preprocess_mavg" -> ((s, d) => Indicators.preprocess(bars(s, d))),
    "q_gap_fill" -> ((s, d) => Bars.gapFill(bars(s, d))),
    "q_dedup_latest" -> ((s, d) => Relational.dedupLatest(Tables.events(s, d))),
    "q_latest_ts" -> ((s, d) => Relational.latestTs(Tables.events(s, d))),
    "q_fetch_guard" -> ((s, d) => Relational.fetchGuard(Tables.events(s, d))),
    "q_time_filter" -> ((s, d) =>
      Relational.timeFilter(Tables.eventsFrom(s, d, "2024-01-20 00:00:00"))),
    "q_validate_clean" -> ((s, d) => Relational.validateClean(Tables.events(s, d))),
    "q_validate_bars" -> ((s, d) => Bars.validateOhlc(bars(s, d))),
    "q_market_hours" -> ((s, d) => Market.marketHours(bars(s, d))),
    "q_eod_ma5" -> ((s, d) => Market.eodMa5(bars(s, d))),
    "q_missing_report" -> ((s, d) => Market.missingReport(bars(s, d))),
    "q_processed_table" -> ((s, d) => Market.processedTable(bars(s, d))),
    // B. technical indicators
    "q_sma" -> ((s, d) => Indicators.sma(bars(s, d))),
    "q_bollinger" -> ((s, d) => Indicators.bollinger(bars(s, d))),
    "q_rsi" -> ((s, d) => Indicators.rsi(bars(s, d))),
    "q_macd" -> ((s, d) => Ema.macd(bars(s, d))),
    "q_atr" -> ((s, d) => Indicators.atr(bars(s, d))),
    "q_stochastic" -> ((s, d) => Indicators.stochastic(bars(s, d))),
    "q_vwap" -> ((s, d) => Indicators.vwap(bars(s, d))),
    "q_obv" -> ((s, d) => Indicators.obv(bars(s, d))),
    "q_williams_r" -> ((s, d) => Indicators.williamsR(bars(s, d))),
    "q_momentum" -> ((s, d) => Indicators.momentum(bars(s, d))),
    "q_summary_stats" -> ((s, d) => Indicators.summaryStats(bars(s, d))),
    "q_weekly_range" -> ((s, d) => Indicators.weeklyRange(bars(s, d))),
    "q_volume_heatmap" -> ((s, d) => Indicators.volumeHeatmap(bars(s, d))),
    "q_seasonality" -> ((s, d) => Indicators.seasonality(bars(s, d))),
    "q_volume_pivot" -> ((s, d) => Indicators.volumePivot(bars(s, d))),
    "q_volume_unpivot" -> ((s, d) => Indicators.volumeUnpivot(bars(s, d))),
    "q_latest_metrics" -> ((s, d) => Indicators.latestMetrics(bars(s, d))),
    "q_donchian" -> ((s, d) => Indicators.donchian(bars(s, d))),
    "q_mfi" -> ((s, d) => Indicators.mfi(bars(s, d))),
    "q_candles" -> ((s, d) => Indicators.candlePatterns(bars(s, d))),
    "q_pivot_points" -> ((s, d) => Indicators.pivotPoints(bars(s, d))),
    "q_swing_points" -> ((s, d) => Indicators.swingPoints(bars(s, d))),
    "q_up_streaks" -> ((s, d) => Indicators.upStreaks(bars(s, d))),
    // B-ext. second-wave indicators
    "q_aroon" -> ((s, d) => IndicatorsExt.aroon(bars(s, d))),
    "q_cci" -> ((s, d) => IndicatorsExt.cci(bars(s, d))),
    "q_cmf" -> ((s, d) => IndicatorsExt.cmf(bars(s, d))),
    "q_ultimate_osc" -> ((s, d) => IndicatorsExt.ultimateOsc(bars(s, d))),
    "q_keltner" -> ((s, d) => IndicatorsExt.keltner(bars(s, d))),
    "q_heikin_ashi" -> ((s, d) => IndicatorsExt.heikinAshi(bars(s, d))),
    "q_adx" -> ((s, d) => IndicatorsExt.adx(bars(s, d))),
    "q_trix" -> ((s, d) => IndicatorsExt.trix(bars(s, d))),
    "q_ad_line" -> ((s, d) => IndicatorsExt.adLine(bars(s, d))),
    "q_ichimoku" -> ((s, d) => IndicatorsExt.ichimoku(bars(s, d))),
    "q_holt" -> ((s, d) => IndicatorsExt.holt(bars(s, d))),
    "q_ewma_chart" -> ((s, d) => IndicatorsExt.ewmaChart(bars(s, d))),
    "q_winsorize" -> ((s, d) => IndicatorsExt.winsorize(bars(s, d))),
    "q_roll_spread" -> ((s, d) => IndicatorsExt.rollSpread(bars(s, d))),
    "q_rolling_corr" -> ((s, d) => IndicatorsExt.rollingCorr(bars(s, d))),
    "q_pagerank" -> ((s, d) => Relational.pagerankTransitions(Tables.events(s, d))),
    "q_cusum" -> ((s, d) => IndicatorsExt.cusum(bars(s, d))),
    // T. temporal / warehouse ops over the tick stream
    "q_twap" -> ((s, d) => Temporal.twap(Tables.events(s, d))),
    "q_scd2" -> ((s, d) => Temporal.scd2(Tables.events(s, d))),
    "q_active_users" -> ((s, d) => Temporal.activeUsers(Tables.events(s, d))),
    "q_incremental_merge" -> ((s, d) => Temporal.incrementalMerge(Tables.events(s, d))),
    "q_incremental_distinct" -> ((s, d) => Temporal.incrementalDistinct(Tables.events(s, d))),
    "q_incremental_topk" -> ((s, d) => Temporal.incrementalTopk(Tables.events(s, d))),
    "q_cdc_apply" -> ((s, d) => Temporal.cdcApply(Tables.events(s, d))),
    "q_dim_snapshot" -> ((s, d) => Temporal.dimSnapshot(Tables.events(s, d))),
    "q_snapshot_diff" -> ((s, d) => Temporal.snapshotDiff(Tables.events(s, d))),
    "q_cluster_sources" -> ((s, d) => Similarity.clusterSourceProfile(
      Tables.embeddings(s, d), Tables.documents(s, d))),
    // C. relational core
    "q1_agg" -> ((s, d) => Relational.q1(Tables.lineitem(s, d))),
    "q_join_agg" -> ((s, d) => Relational.joinAgg(Tables.orders(s, d),
      Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d))),
    "q_rollup_revenue" -> ((s, d) => Relational.rollupRevenue(Tables.orders(s, d),
      Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d))),
    "q_topk_per_group" -> ((s, d) => Relational.topkPerGroup(Tables.orders(s, d))),
    "q_sessionize" -> ((s, d) => Relational.sessionize(Tables.events(s, d))),
    "q_funnel" -> ((s, d) => Relational.funnel(Tables.events(s, d))),
    "q_cohort_retention" -> ((s, d) => Relational.cohortRetention(Tables.events(s, d))),
    "q_rfm" -> ((s, d) => Relational.rfmSegments(Tables.events(s, d))),
    "q_event_transitions" -> ((s, d) => Relational.eventTransitions(Tables.events(s, d))),
    "q_shipping_priority" -> ((s, d) => Relational.shippingPriority(
      Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q_grouping_sets" -> ((s, d) => Relational.groupingSetsQty(Tables.lineitem(s, d))),
    "q_local_supplier" -> ((s, d) => Relational.localSupplierVolume(
      Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
      Tables.supplier(s, d), Tables.nation(s, d), Tables.region(s, d))),
    "q_large_orders" -> ((s, d) => Relational.largeOrderCustomers(
      Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q_quantiles_approx" -> ((s, d) => Relational.quantilesApproxContract(
      Tables.lineitem(s, d))),
    "q_sql_pricing" -> ((s, d) => SqlSurface.pricingSummarySql(s, d)),
    "q_sql_region_rev" -> ((s, d) => SqlSurface.regionRevenueSql(s, d)),
    "q_sql_window" -> ((s, d) => SqlSurface.segmentTopOrdersSql(s, d)),
    "q_sql_exists" -> ((s, d) => SqlSurface.priorityReturnsSql(s, d)),
    "q_sql_in" -> ((s, d) => SqlSurface.promoSuppliersSql(s, d)),
    "q_sql_union" -> ((s, d) => SqlSurface.orderSlicesUnionSql(s, d)),
    "q_sql_recursive" -> ((s, d) => SqlSurface.reachabilitySql(s, d)),
    "q_sql_setops" -> ((s, d) => SqlSurface.orderSlicesSetOpsSql(s, d)),
    "q_sql_scalar" -> ((s, d) => SqlSurface.priorityRevenueScalarSql(s, d)),
    "q_sql_groupingsets" -> ((s, d) => SqlSurface.groupingSetsSql(s, d)),
    "q_nation_volume" -> ((s, d) => Relational.nationVolume(
      Tables.supplier(s, d), Tables.lineitem(s, d), Tables.orders(s, d),
      Tables.customer(s, d), Tables.nation(s, d))),
    "q_market_share" -> ((s, d) => Relational.marketShare(
      Tables.part(s, d), Tables.supplier(s, d), Tables.lineitem(s, d),
      Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d),
      Tables.region(s, d))),
    // C-ext. correlated-subquery decorrelation shapes
    "q_small_qty_orders" -> ((s, d) => Relational.smallQtyOrders(
      Tables.lineitem(s, d), Tables.part(s, d))),
    "q_revenue_share" -> ((s, d) => Relational.revenueShareParts(Tables.lineitem(s, d))),
    "q_promo_share" -> ((s, d) => Relational.promoShare(
      Tables.lineitem(s, d), Tables.part(s, d))),
    "q_top_supplier" -> ((s, d) => Relational.topSupplier(
      Tables.lineitem(s, d), Tables.supplier(s, d))),
    "q_sole_late_supplier" -> ((s, d) => Relational.soleLateSupplier(
      Tables.lineitem(s, d), Tables.orders(s, d), Tables.supplier(s, d))),
    "q_returned_losses" -> ((s, d) => Relational.returnedLosses(
      Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
      Tables.nation(s, d))),
    "q_priority_returns" -> ((s, d) => Relational.priorityReturns(
      Tables.orders(s, d), Tables.lineitem(s, d))),
    "q_idle_customers" -> ((s, d) => Relational.idleCustomers(
      Tables.customer(s, d), Tables.orders(s, d), Tables.nation(s, d))),
    "q_order_count_dist" -> ((s, d) => Relational.orderCountDistribution(
      Tables.customer(s, d), Tables.orders(s, d))),
    "q_disjunctive_revenue" -> ((s, d) => Relational.disjunctiveRevenue(
      Tables.lineitem(s, d), Tables.part(s, d))),
    "q_skew_profile" -> ((s, d) => Skew.skewProfile(Tables.events(s, d))),
    "q_zorder_layout" -> ((s, d) => Layout.zorderLayout(Tables.part(s, d))),
    "q_hilbert_layout" -> ((s, d) => Layout.hilbertLayout(Tables.part(s, d))),
    // 4 KB test-scale target (production default 128 MB) so the plan is
    // multi-file at every gate SF
    "q_compaction_plan" -> ((s, d) => Layout.compactionPlan(
      Tables.orders(s, d), targetBytes = 4096L)),
    "q_prune_sim" -> ((s, d) => Layout.pruneSimulation(Tables.part(s, d))),
    "q_layout_compare" -> ((s, d) => Layout.layoutCompare(Tables.part(s, d))),
    "q_distinct_approx" -> ((s, d) => Relational.distinctApproxContract(
      Tables.events(s, d))),
    "q_skyline" -> ((s, d) => Relational.skylineParts(Tables.part(s, d))),
    "q_keyword_search" -> ((s, d) => TextAnalysis.keywordSearch(Tables.documents(s, d))),
    "q_bm25" -> ((s, d) => TextAnalysis.bm25(Tables.documents(s, d))),
    "q_incremental_ingest" -> ((s, d) => {
      val ev = Tables.events(s, d)
      import org.apache.spark.sql.functions._
      Relational.incrementalIngest(ev,
        ev.filter(col("ts") < lit("2024-01-15 00:00:00").cast("timestamp")))
    }),
    "q_count_distinct" -> ((s, d) => Relational.countDistinct_(Tables.events(s, d))),
    "q_asof_join" -> ((s, d) =>
      AsofJoin.eventsToLastBar(Tables.events(s, d), bars(s, d))),
    "q_salted_join" -> ((s, d) => Relational.saltedSymbolJoin(Tables.events(s, d))),
    "q_range_join" -> ((s, d) => RangeJoin.priceBands(bars(s, d))),
    "q_quantiles" -> ((s, d) => Indicators.volumeQuantiles(bars(s, d))),
    "q_price_corr" -> ((s, d) => Indicators.priceCorr(bars(s, d))),
    "q_window_ranks" -> ((s, d) => Indicators.windowRanks(bars(s, d))),
    "q_drawdown" -> ((s, d) => Indicators.drawdown(bars(s, d))),
    "q_daily_returns" -> ((s, d) => Indicators.dailyReturns(bars(s, d))),
    "q_zscore_anomaly" -> ((s, d) => Indicators.zscoreAnomaly(bars(s, d))),
    "q_iqr_outliers" -> ((s, d) => Indicators.iqrOutliers(bars(s, d))),
    "q_beta" -> ((s, d) => Indicators.marketBeta(bars(s, d))),
    // D. dedup family
    "q_dedup_exact_docs" -> ((s, d) => Dedup.exactDocs(Tables.documents(s, d))),
    "q_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(Tables.documents(s, d))),
    "q_dedup_minhash" -> ((s, d) => Dedup.minhashSignatures(Tables.documents(s, d))),
    "q_dedup_minhash_pairs" -> ((s, d) => Dedup.minhashLshPairs(Tables.documents(s, d))),
    "q_ngram_containment" -> ((s, d) => Dedup.ngramContainment(Tables.documents(s, d))),
    "q_dedup_clusters" -> ((s, d) => Dedup.dedupClusters(Tables.documents(s, d))),
    "q_cluster_stats" -> ((s, d) => Dedup.clusterStats(Tables.documents(s, d))),
    "q_seg_dedup" -> ((s, d) => Dedup.segDedup(Tables.documents(s, d))),
    "q_intradoc_repeats" -> ((s, d) => Dedup.intradocRepeats(Tables.documents(s, d))),
    "q_substring_dup" -> ((s, d) => Dedup.substringDup(Tables.documents(s, d))),
    "q_winnow_dup" -> ((s, d) => Dedup.winnowFingerprints(Tables.documents(s, d))),
    "q_minhash_est" -> ((s, d) => Dedup.minhashEstimate(Tables.documents(s, d))),
    // parameter selection is data-independent by design (it configures
    // the corpus pass; it doesn't read one) — the dir is ignored
    "q_lsh_tuning" -> ((s, _) => Dedup.lshTuning(s)),
    "q_dedup_simhash" -> ((s, d) => Dedup.simhash(Tables.documents(s, d))),
    "q_dedup_simhash_pairs" -> ((s, d) => Dedup.simhashPairs(Tables.documents(s, d))),
    "q_embed_neardup" -> ((s, d) => Similarity.embedNeardup(Tables.embeddings(s, d))),
    "q_semdedup" -> ((s, d) => Similarity.semDedup(Tables.embeddings(s, d))),
    "q_knn_classify" -> ((s, d) => Similarity.knnClassify(Tables.embeddings(s, d))),
    "q_embed_neardup_lsh" -> ((s, d) => Similarity.embedNeardupLsh(Tables.embeddings(s, d))),
    // E. similarity search
    "q_ann_bruteforce" -> ((s, d) => Similarity.annBruteforce(Tables.embeddings(s, d))),
    "q_ann_lsh" -> ((s, d) => Similarity.annLsh(Tables.embeddings(s, d))),
    "q_ann_lsh_multiprobe" -> ((s, d) => Similarity.annLshMultiprobe(Tables.embeddings(s, d))),
    "q_ann_ivf" -> ((s, d) => Similarity.annIvf(Tables.embeddings(s, d))),
    "q_ann_ivf_lloyd" -> ((s, d) => Similarity.annIvfLloyd(Tables.embeddings(s, d))),
    "q_embed_quantize" -> ((s, d) => Similarity.embedQuantize(Tables.embeddings(s, d))),
    "q_pq_codes" -> ((s, d) => Similarity.pqCodes(Tables.embeddings(s, d))),
    "q_ann_pq" -> ((s, d) => Similarity.annPq(Tables.embeddings(s, d))),
    "q_ann_pq_t" -> ((s, d) => Similarity.annPqTrained(Tables.embeddings(s, d))),
    "q_ann_ivfpq" -> ((s, d) => Similarity.annIvfPq(Tables.embeddings(s, d))),
    "q_ann_ivfpq_res" -> ((s, d) => Similarity.annIvfPqResidual(Tables.embeddings(s, d))),
    "q_ann_ivf_refine" -> ((s, d) => Similarity.annIvfPqRefine(Tables.embeddings(s, d))),
    "q_ann_recall_report" -> ((s, d) => Similarity.annRecallReport(Tables.embeddings(s, d))),
    "q_ivf_tuning" -> ((s, d) => Similarity.ivfTuning(Tables.embeddings(s, d))),
    "q_ann_graph" -> ((s, d) => Similarity.annGraph(Tables.embeddings(s, d))),
    // F. text analysis
    "q_lang_id" -> ((s, d) => TextAnalysis.langId(Tables.documents(s, d))),
    "q_text_quality" -> ((s, d) => TextAnalysis.quality(Tables.documents(s, d))),
    "q_token_count" -> ((s, d) => TextAnalysis.tokenCount(Tables.documents(s, d))),
    "q_tokenize" -> ((s, d) => TextAnalysis.tokenize(Tables.documents(s, d))),
    "q_bpe_merges" -> ((s, d) => Bpe.bpeMerges(Tables.documents(s, d))),
    "q_unigram_vocab" -> ((s, d) => Unigram.unigramVocab(Tables.documents(s, d))),
    "q_vocab_coverage" -> ((s, d) => TextAnalysis.vocabCoverage(Tables.documents(s, d))),
    "q_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(Tables.documents(s, d))),
    "q_repetition" -> ((s, d) => TextAnalysis.repetition(Tables.documents(s, d))),
    "q_top_ngrams" -> ((s, d) => TextAnalysis.topNgrams(Tables.documents(s, d))),
    "q_quality_filter" -> ((s, d) => TextAnalysis.qualityFilter(Tables.documents(s, d))),
    "q_distinctive_terms" -> ((s, d) => TextAnalysis.distinctiveTerms(Tables.documents(s, d))),
    "q_corpus_stats" -> ((s, d) => TextAnalysis.corpusStats(Tables.documents(s, d))),
    "q_token_hist" -> ((s, d) => TextAnalysis.tokenHist(Tables.documents(s, d))),
    "q_ngram_novelty" -> ((s, d) => TextAnalysis.ngramNovelty(Tables.documents(s, d))),
    "q_stratified_sample" -> ((s, d) => TextAnalysis.stratifiedSample(Tables.documents(s, d))),
    // F2. training-data export
    "q_train_split" -> ((s, d) => TrainingData.trainSplit(Tables.documents(s, d))),
    "q_doc_chunk" -> ((s, d) => TrainingData.docChunk(Tables.documents(s, d))),
    "q_shard_pack" -> ((s, d) => TrainingData.shardPack(Tables.documents(s, d))),
    "q_decontaminate" -> ((s, d) => TrainingData.decontaminate(Tables.documents(s, d))),
    "q_decontam_bloom" -> ((s, d) => TrainingData.decontamBloomContract(Tables.documents(s, d))),
    "q_contam_report" -> ((s, d) => TrainingData.contamReport(Tables.documents(s, d))),
    "q_redact" -> ((s, d) => TrainingData.redact(Tables.documents(s, d))),
    "q_data_mix" -> ((s, d) => TrainingData.dataMix(Tables.documents(s, d))),
    "q_export_plan" -> ((s, d) => TrainingData.exportPlan(Tables.documents(s, d))),
    "q_temperature_mix" -> ((s, d) => TrainingData.temperatureMix(Tables.documents(s, d))),
    "q_pack_efficiency" -> ((s, d) => TrainingData.packEfficiency(Tables.documents(s, d))),
    "q_inverted_index" -> ((s, d) => TextAnalysis.invertedIndex(Tables.documents(s, d))),
    "q_lexical_diversity" -> ((s, d) => TextAnalysis.lexicalDiversity(Tables.documents(s, d))),
    "q_lm_score" -> ((s, d) => TextAnalysis.lmScore(Tables.documents(s, d))),
    "q_ccnet_buckets" -> ((s, d) => TextAnalysis.ccnetBuckets(Tables.documents(s, d))),
    "q_dup_ratio" -> ((s, d) => Dedup.dupRatioBySource(Tables.documents(s, d))),
    "q_source_overlap" -> ((s, d) => Dedup.crossSourceOverlap(Tables.documents(s, d))),
    "q_graph_cc" -> ((s, d) => Dedup.graphCc(Tables.documents(s, d))),
    "q_split_leakage" -> ((s, d) => TrainingData.splitLeakage(Tables.documents(s, d))),
    "q_domain_quota" -> ((s, d) => TrainingData.domainQuota(Tables.documents(s, d))),
    "q_dsir" -> ((s, d) => TrainingData.dsirWeights(Tables.documents(s, d))),
    "q_quality_classifier" -> ((s, d) => TrainingData.qualityClassifier(Tables.documents(s, d))),
    // G. multimodal
    "q_multimodal_meta" -> ((s, d) => Multimodal.extractMeta(Tables.documents(s, d))),
    "q_media_quarantine" -> ((s, d) => Multimodal.mediaQuarantine(Tables.documents(s, d))),
    "q_audio_energy" -> ((s, d) => Multimodal.audioEnergy(Tables.documents(s, d))),
    "q_media_phash" -> ((s, d) => Multimodal.mediaPhash(Tables.documents(s, d))),
    "q_multimodal_frames" -> ((s, d) => Multimodal.sampleFrames(Tables.documents(s, d))),
    "q_multimodal_stats" -> ((s, d) => Multimodal.mediaStats(Tables.documents(s, d))),
    // J. semi-structured (JSON props column)
    "q_props_extract" -> ((s, d) => SemiStructured.propsExtract(Tables.events(s, d))),
    "q_props_agg" -> ((s, d) => SemiStructured.propsAgg(Tables.events(s, d))),
    "q_props_hist" -> ((s, d) => SemiStructured.propsHist(Tables.events(s, d))),
    "q_props_top_values" -> ((s, d) => SemiStructured.propsTopValues(Tables.events(s, d))),
    "q_attribution" -> ((s, d) => Relational.attribution(Tables.events(s, d))),
    "q_profile_events" -> ((s, d) => Relational.profileEvents(Tables.events(s, d))),
    "q_profile_approx" -> ((s, d) => Relational.profileApprox(Tables.events(s, d))),
    // H. streaming (batch-equivalent of the structured-streaming pipeline)
    "q_stream_window" -> ((s, d) =>
      graft.streaming.StreamPipelines.windowedAgg(Tables.events(s, d))
        .orderBy("win_start", "event_type")),
    "q_stream_sliding" -> ((s, d) =>
      graft.streaming.StreamPipelines.slidingAgg(Tables.events(s, d))
        .orderBy("win_start", "event_type")),
    // serialize→parse→extract→window: the reference's publish-to-load
    // JSON path as one plan; same code runs the streaming variant
    "q_stream_props" -> ((s, d) =>
      graft.streaming.StreamPipelines.propsWindowAgg(Tables.events(s, d))
        .orderBy("win_start", "event_type")),
    // batch run of the native session_window aggregate (streaming runs
    // the same plan on the session-window state store, spec-replayed)
    "q_stream_sessions" -> ((s, d) =>
      graft.streaming.StreamPipelines.sessionWindowAgg(Tables.events(s, d))
        .orderBy("user_id", "session_start")),
    // batch run of the SAME stream-stream join plan (the watermark
    // nodes are no-ops in batch) — the one-semantics-two-latencies
    // claim, oracle-gated; the bridging spec additionally proves the
    // per-purchase argmax over these candidates equals q_attribution
    "q_stream_attribution" -> ((s, d) =>
      graft.streaming.StreamPipelines.clickAttribution(Tables.events(s, d))
        .orderBy("p_event", "c_event"))
  )

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = OracleSql.all
}
