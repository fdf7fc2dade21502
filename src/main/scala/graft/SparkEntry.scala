package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.multimodal.Multimodal

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  * Every implemented operator has a `queries` entry; every
  * SQL-expressible one has a matching DuckDB mirror in [[OracleSql]].
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * batch k-NN (the reference's core retrieve, app.py:84-86).
    */
  def entry(spark: SparkSession): DataFrame =
    KnnSearch.knnJoin(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // E. relational / analytics core
    "q1_agg" -> ((s, d) => Relational.q1(s, d)),
    "q3_join" -> ((s, d) => Relational.q3(s, d)),
    "q_window" -> ((s, d) => Relational.windowFuncs(s, d)),
    "q_window_range" -> ((s, d) => Relational.windowRange(s, d)),
    "q_pivot" -> ((s, d) => Relational.pivotLang(s, d)),
    "q_topn_group" -> ((s, d) => Relational.topNPerGroup(s, d)),
    "q_rollup" -> ((s, d) => Relational.rollupAgg(s, d)),
    "q_semi_anti" -> ((s, d) => Relational.semiAnti(s, d)),
    "q_cube" -> ((s, d) => Relational.cubeAgg(s, d)),
    "q_grouping_sets" -> ((s, d) => Relational.groupingSets(s, d)),
    "q_setops" -> ((s, d) => Relational.setOps(s, d)),
    "q_corr" -> ((s, d) => Relational.corrStats(s, d)),
    "q_fuzzy" -> ((s, d) => Relational.fuzzyTokens(s, d)),
    "q_conditional_agg" -> ((s, d) => Relational.conditionalAgg(s, d)),
    "q_percentiles" -> ((s, d) => Relational.percentiles(s, d)),
    "q_events_sessionize" -> ((s, d) => EventOps.sessionize(s, d)),
    "q_events_funnel" -> ((s, d) => EventOps.funnel(s, d)),
    "q_events_attribution" -> ((s, d) => EventOps.attribution(s, d)),
    "q_events_retention" -> ((s, d) => EventOps.retention(s, d)),
    "q_json" -> ((s, d) => EventOps.jsonAgg(s, d)),
    "q_approx_distinct" -> ((s, d) => Relational.approxDistinct(s, d)), // exact cols + bound bool oracle
    "q_approx_quantile" -> ((s, d) => Relational.approxQuantiles(s, d)), // exact cols + bound bool oracle
    // B. document pipeline
    "doc_chunk" -> ((s, d) => Chunker.chunk(s, d)),
    "doc_chunk_cdc" -> ((s, d) => Chunker.chunkCdc(s, d)),
    "doc_parse" -> ((s, d) => Chunker.parse(s, d)),
    "doc_clean" -> ((s, d) => Chunker.clean(s, d)),
    "doc_stats" -> ((s, d) => Chunker.stats(s, d)),
    // D. text analysis
    "text_langid" -> ((s, d) => TextAnalysis.langId(s, d)),
    "text_quality" -> ((s, d) => TextAnalysis.quality(s, d)),
    "text_tokens" -> ((s, d) => TextAnalysis.tokenCounts(s, d)),
    "text_bpe_tokens" -> ((s, d) => TextAnalysis.bpeTokens(s, d)),
    "text_bpe_ids" -> ((s, d) => TextAnalysis.bpeIdTokens(s, d)),
    "text_fingerprint" -> ((s, d) => TextAnalysis.fingerprints(s, d)),
    "text_heavy_hitters" -> ((s, d) => TextAnalysis.heavyHitters(s, d)),
    "text_sample_bottomk" -> ((s, d) => TextAnalysis.bottomKSample(s, d)),
    "dedup_drop" -> ((s, d) => Dedup.dropDecisions(s, d)),
    // A. vector search
    "vs_norm" -> ((s, d) => KnnSearch.normalize(s, d)),
    "vs_quantize" -> ((s, d) => KnnSearch.quantize(s, d)),
    "vs_quantized_search" -> ((s, d) => KnnSearch.quantizedSearch(s, d)),
    "vs_knn_topk" -> ((s, d) => KnnSearch.topK(s, d)),
    "vs_knn_join" -> ((s, d) => KnnSearch.knnJoin(s, d)),
    "vs_range_search" -> ((s, d) => KnnSearch.rangeSearch(s, d)),
    "vs_rerank" -> ((s, d) => KnnSearch.rerank(s, d)),
    "vs_filtered_search" -> ((s, d) => KnnSearch.filteredSearch(s, d)),
    "vs_filtered_date" -> ((s, d) => KnnSearch.filteredDateSearch(s, d)),
    "vs_centroids" -> ((s, d) => IvfIndex.centroidStats(s, d)),
    "vs_ivf_ann" -> ((s, d) => IvfIndex.search(s, d)),
    "vs_ivf_batch" -> ((s, d) => IvfIndex.searchBatch(s, d)),
    "vs_ivf_recall" -> ((s, d) => IvfIndex.recallReport(s, d)),
    "vs_ndcg" -> ((s, d) => IvfIndex.ndcgReport(s, d)),
    "vs_lsh_ndcg" -> ((s, d) => LshAnn.ndcgReport(s, d)),
    "vs_pq_recall" -> ((s, d) => PqIndex.pqRecallReport(s, d)),
    "dedup_report" -> ((s, d) => Dedup.report(s, d)),
    "dedup_sweep" -> ((s, d) => Dedup.thresholdSweep(s, d)),
    "vs_ivf_kmeans" -> ((s, d) => IvfIndex.kmeansStats(s, d)),
    "vs_lsh_ann" -> ((s, d) => LshAnn.search(s, d)),
    "vs_lsh_recall" -> ((s, d) => LshAnn.recallReport(s, d)),
    "vs_pq" -> ((s, d) => PqIndex.search(s, d)),
    "vs_pq_rerank" -> ((s, d) => PqIndex.searchRerank(s, d)),
    // C. dedup
    "dedup_exact" -> ((s, d) => Dedup.exactChunks(s, d)),
    "dedup_minhash" -> ((s, d) => Dedup.minhashLsh(s, d)),
    "dedup_ngram" -> ((s, d) => Dedup.ngramJaccard(s, d)),
    "dedup_simhash" -> ((s, d) => Dedup.simhashPairs(s, d)),
    "dedup_components" -> ((s, d) => Dedup.components(s, d)),
    "dedup_embed" -> ((s, d) => Dedup.embedCosine(s, d)),
    // A+. lexical / hybrid search
    "vs_bm25" -> ((s, d) => LexicalSearch.bm25(s, d)),
    // persisted-path twin: same oracle, served from the bucket-pruned
    // posting index (built once per corpus fingerprint) — r12
    "vs_bm25_idx" -> ((s, d) => LexIndex.bm25IndexedQuery(s, d)),
    "vs_hybrid_rrf" -> ((s, d) => LexicalSearch.hybridRrf(s, d)),
    // fully-indexed twin: both arms off persisted layouts, same oracle
    "vs_hybrid_idx" -> ((s, d) => LexIndex.hybridIndexedQuery(s, d)),
    // batch serving facade: a query SET through searchManyIndexed in
    // one plan, oracle re-derives encode → top-k → rerank — r13
    "vs_search_many" -> ((s, d) => SearchApi.searchManyQuery(s, d)),
    "vs_search_many_hybrid" -> ((s, d) => SearchApi.searchManyHybridQuery(s, d)),
    // C+. training-set assembly
    "text_pii" -> ((s, d) => TextAnalysis.piiScrub(s, d)),
    "q_pack_sequences" -> ((s, d) => TrainingMix.packSequences(s, d)),
    // tokenizer-budget packing under the committed BPE artifact — r13
    "q_pack_bpe" -> ((s, d) => TrainingMix.packSequencesBpe(s, d)),
    "q_mix_weighted" -> ((s, d) => TrainingMix.mixWeighted(s, d)),
    "pipeline_filter" -> ((s, d) => TrainingMix.corpusFilter(s, d)),
    // A++. quantized / truncated / composed search modes
    "vs_binary_search" -> ((s, d) => KnnSearch.binarySearch(s, d)),
    "vs_matryoshka" -> ((s, d) => KnnSearch.matryoshkaSearch(s, d)),
    "vs_ivf_pq" -> ((s, d) => PqIndex.searchIvfPq(s, d)),
    "vs_mmr" -> ((s, d) => KnnSearch.mmrSearch(s, d)),
    "vs_multivec" -> ((s, d) => KnnSearch.multivecSearch(s, d)),
    "vs_drift" -> ((s, d) => KnnSearch.driftReport(s, d)),
    "vs_pca_iter" -> ((s, d) => KnnSearch.pcaIter(s, d)),
    "q_range_join" -> ((s, d) => EventOps.rangeJoinPairs(s, d)),
    "vs_knn_classify" -> ((s, d) => KnnSearch.knnClassify(s, d)),
    "vs_rocchio" -> ((s, d) => KnnSearch.rocchioSearch(s, d)),
    "q_histogram" -> ((s, d) => Relational.histogram(s, d)),
    "q_minhash_est" -> ((s, d) => Dedup.minhashEstimate(s, d)),
    "q_pagerank" -> ((s, d) => GraphOps.pagerank(s, d)),
    "q_hits" -> ((s, d) => GraphOps.hits(s, d)),
    // D+. corpus scoring / hygiene
    "text_tfidf" -> ((s, d) => TextAnalysis.tfidfKeywords(s, d)),
    "text_lm_score" -> ((s, d) => TextAnalysis.lmScore(s, d)),
    "text_dsir" -> ((s, d) => TextAnalysis.dsirWeights(s, d)),
    "text_ppl_buckets" -> ((s, d) => TextAnalysis.pplBuckets(s, d)),
    "q_shard_shuffle" -> ((s, d) => TrainingMix.shardShuffle(s, d)),
    "text_contamination" -> ((s, d) => Decontam.contamination(s, d)),
    // E+. analytics
    "q_anomaly" -> ((s, d) => Relational.anomaly(s, d)),
    "q_events_path" -> ((s, d) => EventOps.eventPaths(s, d)),
    // G. multimodal plumbing (no SQL oracle — rows-only check)
    "mm_binary" -> ((s, d) => Multimodal.decodeFeatures(s, d)),

    "text_gopher" -> ((s, d) => TextAnalysis.gopherRules(s, d)),
    "dedup_substring" -> ((s, d) => Dedup.substringDupes(s, d)),
    "q_events_ab" -> ((s, d) => EventOps.abTest(s, d)),
    "q_events_markov" -> ((s, d) => EventOps.markovTransitions(s, d)),
    "vs_cluster_purity" -> ((s, d) => IvfIndex.clusterPurity(s, d)),
    "text_entropy" -> ((s, d) => TextAnalysis.entropyScore(s, d)),
    "text_bigram_lm" -> ((s, d) => TextAnalysis.bigramLm(s, d)),
    "q_funnel_windowed" -> ((s, d) => EventOps.windowedFunnel(s, d)),
    "q_skew_agg" -> ((s, d) => EventOps.skewAgg(s, d)),
    "q_rfm" -> ((s, d) => EventOps.rfmSegments(s, d)),
    "vs_ood_score" -> ((s, d) => IvfIndex.oodScores(s, d)),
    "text_heavy_sketch" -> ((s, d) => TextAnalysis.heavySketch(s, d)), // no oracle: sketch
    "vs_index_rebalance" -> ((s, d) => IvfIndex.rebalancePlan(s, d)),
    "q_dataset_card" -> ((s, d) => TrainingMix.datasetCard(s, d)),
    "q_changepoint" -> ((s, d) => EventOps.changepoint(s, d)),
    "vs_quantize_trained" -> ((s, d) => KnnSearch.quantizeTrained(s, d)),
    "q5_join" -> ((s, d) => Relational.q5(s, d)),
    "q_dau_mau" -> ((s, d) => EventOps.dauMau(s, d)),
    "q_basket_lift" -> ((s, d) => Relational.basketLift(s, d)),
    "mm_phash" -> ((s, d) => Multimodal.phashDedup(s, d)),
    "mm_frames" -> ((s, d) => Multimodal.framesQuery(s, d)),
    "mm_resize" -> ((s, d) => Multimodal.resizeQuery(s, d)),
    "mm_energy" -> ((s, d) => Multimodal.energyQuery(s, d)),
    // real RIFF/WAVE round trip through the batched decode seam (r9)
    "mm_wav" -> ((s, d) => Multimodal.wavEnergyQuery(s, d)),
    "mm_bmp" -> ((s, d) => Multimodal.bmpFeaturesQuery(s, d)),
    "mm_bmp_resample" -> ((s, d) => Multimodal.bmpResampleQuery(s, d)),
    "vs_ivfpq_residual" -> ((s, d) => PqIndex.searchIvfPqResidual(s, d)),
    // persisted-path twin: same oracle, served from the partition-pruned
    // codes-only residual index (built once per corpus fingerprint)
    "vs_ivfpq_residual_idx" -> ((s, d) => PqIndex.searchIvfPqResidual(s, d)),
    "q_forecast_sma" -> ((s, d) => EventOps.forecastSma(s, d)),
    "q_rolling_median" -> ((s, d) => EventOps.rollingMedian(s, d)),
    "q_outer_join" -> ((s, d) => Relational.outerCoverage(s, d)),
    "q_unpivot" -> ((s, d) => Relational.unpivotStats(s, d)),
    "q_streaks" -> ((s, d) => EventOps.activityStreaks(s, d)),
    "q_asof_join" -> ((s, d) => EventOps.asofJoin(s, d)),
    "q_gapfill" -> ((s, d) => EventOps.gapFill(s, d)),
    "text_repetition" -> ((s, d) => TextAnalysis.repetition(s, d)),
    "text_readability" -> ((s, d) => TextAnalysis.readability(s, d)),
    "q_stratified_sample" -> ((s, d) => TrainingMix.stratifiedSample(s, d)),
    "q_scd2" -> ((s, d) => EventOps.scd2(s, d)),
    "q_triangles" -> ((s, d) => GraphOps.triangles(s, d)),
    "q_bfs_hops" -> ((s, d) => GraphOps.bfsHops(s, d)),
    "q_common_neighbors" -> ((s, d) => GraphOps.commonNeighbors(s, d)),
    "q_label_prop" -> ((s, d) => GraphOps.labelProp(s, d)),
    "q_skyline" -> ((s, d) => Relational.skyline(s, d)),
    "q_decile_lift" -> ((s, d) => Relational.decileLift(s, d)),
    "q_survival" -> ((s, d) => EventOps.survival(s, d)),
    "dedup_containment" -> ((s, d) => Dedup.containment(s, d)),
    "dedup_incremental" -> ((s, d) => DedupIndex.incrementalQuery(s, d)),
    "dedup_drop_incremental" -> ((s, d) => DedupIndex.dropIncrementalQuery(s, d)),
    "q_profile" -> ((s, d) => Relational.profile(s, d)),
    "q_bootstrap_ci" -> ((s, d) => Relational.bootstrapCi(s, d)),
    "q_event_ngrams" -> ((s, d) => EventOps.eventNgrams(s, d)),
    "q_lag_features" -> ((s, d) => EventOps.lagFeatures(s, d)),
    "q_benford" -> ((s, d) => Relational.benford(s, d)),
    "text_zipf" -> ((s, d) => TextAnalysis.zipf(s, d)),
    "q_concurrency" -> ((s, d) => EventOps.concurrency(s, d)),
    "q_decay_ltv" -> ((s, d) => EventOps.decayLtv(s, d)),
    "text_dup_lines" -> ((s, d) => TextAnalysis.dupLines(s, d)),
    "text_pmi" -> ((s, d) => TextAnalysis.pmi(s, d)),
    "q_weighted_sample" -> ((s, d) => TrainingMix.weightedSample(s, d)),
    "q_gini" -> ((s, d) => EventOps.gini(s, d)),
    "q_lorenz" -> ((s, d) => EventOps.lorenz(s, d)),
    "q_user_overlap" -> ((s, d) => EventOps.userOverlap(s, d)),
    "q_mad_outliers" -> ((s, d) => EventOps.madOutliers(s, d)),
    "q_forecast_holt" -> ((s, d) => EventOps.forecastHolt(s, d)),
    "q_degree_dist" -> ((s, d) => GraphOps.degreeDist(s, d)),
    "q_kcore" -> ((s, d) => GraphOps.kcore(s, d)),
    "q_new_returning" -> ((s, d) => EventOps.newVsReturning(s, d)),
    "q_ship_delay" -> ((s, d) => Relational.shipDelay(s, d)),
    "q_seasonal_dow" -> ((s, d) => EventOps.seasonalDow(s, d)),
    "q_funnel_time" -> ((s, d) => EventOps.funnelTime(s, d)),
    "text_length_profile" -> ((s, d) => TextAnalysis.lengthProfile(s, d)),
    "q_repeat_purchase" -> ((s, d) => EventOps.repeatPurchase(s, d)),
    "q_cohort_ltv" -> ((s, d) => EventOps.cohortLtv(s, d)),
    "text_js_divergence" -> ((s, d) => TextAnalysis.jsDivergence(s, d)),
    "text_hapax" -> ((s, d) => TextAnalysis.hapaxProfile(s, d)),
    "text_vocab_overlap" -> ((s, d) => TextAnalysis.vocabOverlap(s, d)),
    "vs_dim_variance" -> ((s, d) => KnnSearch.dimVariance(s, d)),
    "text_novelty" -> ((s, d) => TextAnalysis.novelty(s, d)),
    "text_heaps" -> ((s, d) => TextAnalysis.heaps(s, d)),
    // B2. faithful newsletter ingest (reference utils.py:93-187,
    // markdown_assets.py:64-91)
    "doc_parse_md" -> ((s, d) => Newsletter.parseMdQuery(s, d)),
    "doc_html_md" -> ((s, d) => Newsletter.htmlMdQuery(s, d)),
    // the composed end-to-end curation pipeline (one decision scan →
    // drop-list join → shard packing)
    "pipeline_e2e" -> ((s, d) => Pipeline.run(s, d)),
  )

  /** DuckDB mirrors (see OracleSql). `mm_binary` is intentionally
    * omitted (stubbed model decode — not SQL-expressible).
    */
  def oracleSql: Map[String, String] = OracleSql.all
}
