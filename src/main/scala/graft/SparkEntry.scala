package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{EventQueries, PipelineQueries, Relational, StreamingQueries, TextQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] has a DuckDB twin in [[oracleSql]] with
  * IDENTICAL column names and types (the driver sorts columns by name and
  * hash-compares values). Determinism rules in FIXTURES.md: total explicit
  * ordering per query, exact-integer aggregation for anything float-summed.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.revenueByNation(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 / §7.4. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- relational surface (SURVEY §7.3) ---
    "q_pricing_summary" -> (Relational.pricingSummary _),
    "q_revenue_by_nation" -> (Relational.revenueByNation _),
    "q_customers_with_orders" -> (Relational.customersWithOrders _),
    "q_customers_without_orders" -> (Relational.customersWithoutOrders _),
    "q_top_orders" -> (Relational.topOrders _),
    "q_top_suppliers_per_nation" -> (Relational.topSuppliersPerNation _),
    "q_active_custkeys" -> (Relational.activeCustkeys _),
    "q_orders_rollup" -> (Relational.ordersRollup _),
    "q_shipping_priority" -> (Relational.shippingPriority _),
    "q_order_priority" -> (Relational.orderPriority _),
    "q_big_customers" -> (Relational.bigCustomers _),
    "q_value_percentiles" -> (Relational.valuePercentiles _),
    "q_value_histogram" -> (Relational.valueHistogram _),
    "q_bloom_prune" -> (Relational.bloomPrune _),
    "q_topk_rewrite" -> (Relational.topkRewrite _),
    // --- text operators (SURVEY §2.2, §7.4) ---
    "q_clean_text" -> (TextQueries.cleanText _),
    "q_token_estimate" -> (TextQueries.tokenEstimate _),
    "q_fingerprint" -> (TextQueries.fingerprint _),
    "q_dedup_exact" -> (TextQueries.dedupExact _),
    "q_lang_stats" -> (TextQueries.langStats _),
    "q_sentence_explode" -> (TextQueries.sentenceExplode _),
    "q_fim_transform" -> (TextQueries.fimTransform _),
    "q_dialogue_pairs" -> (EventQueries.dialoguePairs _),
    "q_sft_pack" -> (EventQueries.sftPack _),
    "q_split_audit" -> (PipelineQueries.splitAudit _),
    "q_dedup_explain" -> (PipelineQueries.dedupExplain _),
    "q_lang_consistency" -> (PipelineQueries.langConsistency _),
    "q_canary_scan" -> (PipelineQueries.canaryScan _),
    "q_stream_canary" -> (StreamingQueries.streamCanary _),
    // --- event/transcript operators (SURVEY §2.3, §2.5) ---
    "q_distinct_actors" -> (EventQueries.distinctActors _),
    "q_span" -> (EventQueries.span _),
    "q_format_hms" -> (EventQueries.formatHms _),
    "q_run_groups" -> (EventQueries.runGroups _),
    "q_run_merge" -> (EventQueries.runMerge _),
    "q_run_groups_keyed" -> (EventQueries.runGroupsKeyed _),
    "q_run_merge_keyed" -> (EventQueries.runMergeKeyed _),
    "q_interval_agg" -> (EventQueries.intervalAgg _),
    "q_sessionize" -> (EventQueries.sessionize _),
    "q_asof_attribution" -> (EventQueries.asofAttribution _),
    "q_chunk_prefix" -> (EventQueries.chunkPrefix _),
    "q_mock_summarize" -> (EventQueries.mockSummarize _),
    "q_tree_concat" -> (EventQueries.treeConcat _),
    "q_cost_rollup" -> (EventQueries.costRollup _),
    // --- training-data pipeline extensions (dedup/similarity/analysis) ---
    "q_dedup_minhash" -> (PipelineQueries.dedupMinhash _),
    "q_simhash" -> (PipelineQueries.simhashValues _),
    "q_dedup_simhash" -> (PipelineQueries.dedupSimhash _),
    "q_ngram_jaccard" -> (PipelineQueries.ngramJaccard _),
    "q_decontaminate" -> (PipelineQueries.decontaminate _),
    "q_dsir_weights" -> (PipelineQueries.dsirWeights _),
    "q_corpus_overlap" -> (PipelineQueries.corpusOverlap _),
    "q_intradoc_dedup" -> (PipelineQueries.intraDocDedup _),
    "q_boilerplate" -> (PipelineQueries.boilerplateQ _),
    "q_sentence_dedup" -> (PipelineQueries.sentenceDedupQ _),
    "q_sentence_dedup_inc" -> (PipelineQueries.sentenceDedupIncQ _),
    "q_sentence_commit" -> (PipelineQueries.sentenceCommit _),
    "q_sentence_retract" -> (PipelineQueries.sentenceRetract _),
    "q_pagerank_keeplist" -> (PipelineQueries.pagerankKeeplist _),
    "q_pagerank_incremental" -> (PipelineQueries.pagerankIncremental _),
    "q_pagerank_residual" -> (PipelineQueries.pagerankResidual _),
    "q_stream_sentence" -> (StreamingQueries.streamSentence _),
    "q_stream_sentence_commit" ->
      (StreamingQueries.streamSentenceCommit _),
    "q_stream_sentence_retract" ->
      (StreamingQueries.streamSentenceRetract _),
    "q_stream_dialogue" -> (StreamingQueries.streamDialogue _),
    "q_stream_sft_pack" -> (StreamingQueries.streamSftPack _),
    "q_stream_embedding_quality" ->
      (StreamingQueries.streamEmbeddingQuality _),
    "q_ngram_novelty" -> (PipelineQueries.ngramNovelty _),
    "q_hamming_sweep" -> (PipelineQueries.hammingSweep _),
    "q_curation_pipeline" -> (PipelineQueries.curationPipeline _),
    "q_incremental_dedup" -> (PipelineQueries.incrementalDedup _),
    "q_incremental_minhash" -> (PipelineQueries.minhashIncrementalQ _),
    "q_incremental_clusters" -> (PipelineQueries.incrementalClusters _),
    "q_jaccard_sweep" -> (PipelineQueries.jaccardSweep _),
    "q_lsh_planner" -> (PipelineQueries.lshPlanner _),
    "q_corpus_commit" -> (PipelineQueries.corpusCommit _),
    "q_corpus_diff" -> (PipelineQueries.corpusDiffQ _),
    "q_corpus_retract" -> (PipelineQueries.corpusRetract _),
    "q_corpus_card" -> (PipelineQueries.corpusCard _),
    "q_incremental_simhash" -> (PipelineQueries.simhashIncrementalQ _),
    "q_sim_topk" -> (PipelineQueries.simTopK _),
    "q_sim_topk_lsh" -> (PipelineQueries.simTopKLsh _),
    "q_lang_id" -> (PipelineQueries.langId _),
    "q_quality_score" -> (PipelineQueries.qualityScore _),
    "q_quality_sweep" -> (PipelineQueries.qualitySweep _),
    "q_rolling_fingerprint" -> (PipelineQueries.rollingFingerprint _),
    "q_unicode_nfc" -> (PipelineQueries.unicodeNfc _),
    "q_dedup_cosine" -> (PipelineQueries.cosineDuplicates _),
    "q_minhash_signatures" -> (PipelineQueries.minhashSignatures _),
    "q_curation_verdict" -> (PipelineQueries.curationVerdict _),
    "q_media_features" -> (PipelineQueries.mediaFeatures _),
    "q_imgtext_align" -> (PipelineQueries.imgtextAlign _),
    "q_audiotext_align" -> (PipelineQueries.audiotextAlign _),
    "q_aligned_pack" -> (PipelineQueries.alignedPack _),
    "q_frame_decode" -> (PipelineQueries.frameDecode _),
    "q_image_decode" -> (PipelineQueries.imageDecode _),
    "q_image_phash" -> (PipelineQueries.imagePhash _),
    "q_frame_phash" -> (PipelineQueries.framePhash _),
    "q_frame_phash_inc" -> (PipelineQueries.framePhashInc _),
    "q_video_neardup" -> (PipelineQueries.videoNeardup _),
    "q_audio_phash" -> (PipelineQueries.audioPhash _),
    "q_audio_phash_inc" -> (PipelineQueries.audioPhashInc _),
    "q_audio_neardup" -> (PipelineQueries.audioNeardup _),
    "q_audio_commit" -> (PipelineQueries.audioCommit _),
    "q_frame_commit" -> (PipelineQueries.frameCommit _),
    "q_media_commit" -> (PipelineQueries.mediaCommit _),
    "q_media_retract" -> (PipelineQueries.mediaRetract _),
    "q_index_retract" -> (PipelineQueries.indexRetract _),
    "q_pq_distortion" -> (PipelineQueries.pqDistortionQ _),
    "q_crossmodal_topk" -> (PipelineQueries.crossmodalTopK _),
    "q_crossmodal_ivf" -> (PipelineQueries.crossmodalIvf _),
    "q_image_resize" -> (PipelineQueries.imageResize _),
    "q_dedup_keeplist" -> (PipelineQueries.dedupKeeplist _),
    "q_leakage_safe_split" -> (PipelineQueries.leakageSafeSplit _),
    "q_sim_topk_q8" -> (PipelineQueries.simTopKQ8 _),
    "q_stream_hourly" -> (StreamingQueries.streamHourly _),
    "q_stream_join" -> (StreamingQueries.streamJoin _),
    "q_stream_dedup_keys" -> (StreamingQueries.streamDedupKeys _),
    "q_stream_sessions" -> (StreamingQueries.streamSessions _),
    "q_stream_sessions_ooo" -> (StreamingQueries.streamSessionsOoo _),
    "q_stream_runs" -> (StreamingQueries.streamRuns _),
    "q_lang_centroid" -> (PipelineQueries.langCentroid _),
    "q_ivf_topk" -> (PipelineQueries.ivfTopK _),
    "q_ann_recall" -> (PipelineQueries.annRecall _),
    "q_ivf_trained_topk" -> (PipelineQueries.ivfTrainedTopK _),
    "q_kmeans_train" -> (PipelineQueries.kmeansTrain _),
    "q_dup_spans" -> (PipelineQueries.dupSpans _),
    "q_dedup_spans_rewrite" -> (PipelineQueries.dedupSpansRewrite _),
    "q_incremental_spans" -> (PipelineQueries.incrementalSpans _),
    "q_clean_pack" -> (PipelineQueries.cleanPack _),
    "q_budget_select" -> (PipelineQueries.budgetSelect _),
    "q_source_scorecard" -> (PipelineQueries.sourceScorecard _),
    "q_mix_select" -> (PipelineQueries.mixSelect _),
    "q_epoch_schedule" -> (TextQueries.epochSchedule _),
    "q_image_phash_inc" -> (PipelineQueries.imagePhashInc _),
    "q_domain_quota" -> (TextQueries.domainQuota _),
    "q_lm_bigram" -> (TextQueries.lmBigram _),
    "q_audio_decode" -> (PipelineQueries.audioDecode _),
    "q_recursive_ancestors" -> (Relational.recursiveAncestors _),
    "q_lateral_topn" -> (Relational.lateralTopSuppliers _),
    "q_session_window" -> (EventQueries.sessionWindowBatch _),
    "q_zorder" -> (EventQueries.zorderStats _),
    "q_stream_enrich" -> (StreamingQueries.streamStaticEnrich _),
    "q_audio_segments" -> (PipelineQueries.audioSegments _),
    "q_semantic_dedup" -> (PipelineQueries.semanticDedup _),
    "q_semantic_decontam" -> (PipelineQueries.semanticDecontam _),
    "q_incremental_semantic" -> (PipelineQueries.semanticDedupIncrementalQ _),
    "q_semantic_commit" -> (PipelineQueries.semanticCommit _),
    "q_semantic_retract" -> (PipelineQueries.semanticRetract _),
    "q_quality_drift" -> (PipelineQueries.qualityDrift _),
    "q_source_drift" -> (PipelineQueries.sourceDrift _),
    "q_stream_source_drift" -> (StreamingQueries.streamSourceDrift _),
    "q_knn_graph" -> (PipelineQueries.knnGraph _),
    "q_knn_graph_inc" -> (PipelineQueries.knnGraphInc _),
    "q_knn_retract" -> (PipelineQueries.knnRetract _),
    "q_stream_knn_retract" -> (StreamingQueries.streamKnnRetract _),
    "q_semantic_clusters" -> (PipelineQueries.semanticClusters _),
    "q_semantic_keeplist" -> (PipelineQueries.semanticKeeplist _),
    "q_semantic_quality_keeplist" -> (PipelineQueries.semanticQualityKeeplist _),
    "q_graph_stats" -> (PipelineQueries.graphStats _),
    "q_graph_pagerank" -> (PipelineQueries.graphPagerank _),
    "q_embedding_quality" -> (PipelineQueries.embeddingQuality _),
    "q_graph_drift" -> (PipelineQueries.graphDrift _),
    "q_cell_drift" -> (PipelineQueries.cellDrift _),
    "q_incremental_ngram" -> (PipelineQueries.ngramJaccardIncrementalQ _),
    // --- round-7 widening: mixing, batching, mining, sliding/outer stream ---
    "q_mix_weights" -> (TextQueries.mixWeights _),
    "q_length_batches" -> (TextQueries.lengthBatches _),
    "q_hard_negatives" -> (PipelineQueries.hardNegatives _),
    "q_stream_sliding" -> (StreamingQueries.streamSliding _),
    "q_stream_join_outer" -> (StreamingQueries.streamJoinOuter _),
    // --- round-8 widening: corpus-scale mining, PQ, quality battery ---
    "q_hard_negatives_ivf" -> (PipelineQueries.hardNegativesIvf _),
    "q_ivf_pq" -> (PipelineQueries.ivfPq _),
    "q_gopher_filters" -> (PipelineQueries.gopherFiltersQ _),
    "q_token_bpe_4k" -> (TextQueries.tokenBpe4k _),
    "q_hybrid_rrf" -> (TextQueries.hybridRrf _),
    "q_filter_attribution" -> (PipelineQueries.filterAttribution _),
    "q_contrastive_triplets" -> (PipelineQueries.contrastiveTriplets _),
    "q_incremental_pq" -> (PipelineQueries.ivfPqIncremental _),
    "q_index_commit" -> (PipelineQueries.indexCommit _),
    "q_repetition_filters" -> (PipelineQueries.repetitionFiltersQ _),
    "q_stream_dedup_corpus" -> (StreamingQueries.streamDedupCorpus _),
    "q_stream_quality" -> (StreamingQueries.streamQuality _),
    "q_stream_quality_drift" -> (StreamingQueries.streamQualityDrift _),
    "q_stream_fertility_drift" -> (StreamingQueries.streamFertilityDrift _),
    "q_stream_decontam" -> (StreamingQueries.streamDecontam _),
    "q_stream_neardup" -> (StreamingQueries.streamNearDup _),
    "q_stream_align" -> (StreamingQueries.streamAlign _),
    "q_stream_simhash" -> (StreamingQueries.streamSimhash _),
    "q_stream_commit" -> (StreamingQueries.streamCommit _),
    "q_stream_retract" -> (StreamingQueries.streamRetract _),
    "q_stream_lifecycle" -> (StreamingQueries.streamLifecycle _),
    "q_stream_manifest" -> (StreamingQueries.streamManifest _),
    "q_stream_phash" -> (StreamingQueries.streamPhash _),
    "q_stream_audio" -> (StreamingQueries.streamAudio _),
    "q_stream_ann" -> (StreamingQueries.streamAnn _),
    "q_stream_index_commit" -> (StreamingQueries.streamIndexCommit _),
    "q_stream_index_compact" -> (StreamingQueries.streamIndexCompact _),
    "q_stream_index_refresh" -> (StreamingQueries.streamIndexRefresh _),
    "q_stream_index_refresh_subs" ->
      (StreamingQueries.streamIndexRefreshSubs _),
    "q_stream_index_retract" -> (StreamingQueries.streamIndexRetract _),
    "q_stream_knn" -> (StreamingQueries.streamKnn _),
    "q_stream_knn_compact" -> (StreamingQueries.streamKnnCompact _),
    "q_stream_knn_refresh" -> (StreamingQueries.streamKnnRefresh _),
    "q_stream_knn_refresh_cells" ->
      (StreamingQueries.streamKnnRefreshCells _),
    "q_stream_semantic_commit" -> (StreamingQueries.streamSemanticCommit _),
    "q_stream_attribution" -> (StreamingQueries.streamAttribution _),
    "q_stream_video" -> (StreamingQueries.streamVideo _),
    "q_stream_ngram" -> (StreamingQueries.streamNgram _),
    "q_stream_novelty" -> (StreamingQueries.streamNovelty _),
    "q_stream_shard" -> (StreamingQueries.streamShard _),
    "q_stream_cell_drift" -> (StreamingQueries.streamCellDrift _),
    "q_quality_keeplist" -> (PipelineQueries.qualityKeeplist _),
    "q_curation_funnel" -> (PipelineQueries.curationFunnel _),
    "q_truncated_rerank" -> (PipelineQueries.simTopKTruncated _),
    "q_ivf_pq_probe" -> (PipelineQueries.ivfPqProbe _),
    "q_ivf_pq_residual" -> (PipelineQueries.ivfPqResidual _),
    "q_dup_histogram" -> (PipelineQueries.dupHistogram _),
    "q_dup_downweight" -> (PipelineQueries.dupDownweight _),
    "q_source_overlap" -> (PipelineQueries.sourceOverlap _),
    "q_weighted_sample" -> (PipelineQueries.weightedSample _),
    "q_token_fertility" -> (TextQueries.tokenFertility _),
    "q_fertility_drift" -> (TextQueries.fertilityDrift _),
    // --- round-2 widening: set ops, cube, vocab, sampling, BPE tokens ---
    "q_setop_funnel" -> (EventQueries.setopFunnel _),
    "q_skew_agg" -> (EventQueries.skewAgg _),
    "q_skew_join" -> (EventQueries.skewJoin _),
    "q_hll_distinct" -> (EventQueries.hllDistinct _),
    "q_topk_heap" -> (EventQueries.topkHeap _),
    "q_json_extract" -> (EventQueries.jsonExtract _),
    "q_cms_freq" -> (EventQueries.cmsFreq _),
    "q_window_family" -> (EventQueries.windowFamily _),
    "q_range_frame" -> (EventQueries.rangeFrameSum _),
    "q_map_ops" -> (EventQueries.mapOps _),
    "q_full_outer" -> (Relational.fullOuterBalance _),
    "q_unpivot" -> (Relational.unpivotMeasures _),
    "q_time_breakdown" -> (EventQueries.timeBreakdown _),
    "q_pivot" -> (EventQueries.pivotCounts _),
    "q_except_all" -> (EventQueries.exceptAllTypes _),
    "q_range_interval" -> (EventQueries.rangeInterval _),
    "q_corr_stats" -> (EventQueries.corrStats _),
    "q_orders_cube" -> (Relational.ordersCube _),
    "q_orders_grouping_sets" -> (Relational.ordersGroupingSets _),
    "q_vocab_topk" -> (TextQueries.vocabTopK _),
    "q_tfidf_topk" -> ((s, d) => TextQueries.tfidfTopTerms(s, d)),
    "q_bm25" -> ((s, d) => TextQueries.bm25(s, d)),
    "q_bm25_queries" -> ((s, d) => TextQueries.bm25Queries(s, d)),
    "q_lm_score" -> (TextQueries.lmScore _),
    "q_pack_docs" -> (TextQueries.packDocs _),
    "q_sample_hash" -> (TextQueries.sampleHash _),
    "q_stratified_sample" -> (TextQueries.stratifiedSample _),
    "q_token_bpe" -> (TextQueries.tokenBpe _),
    "q_dup_clusters" -> (PipelineQueries.dupClusters _),
    "q_word_repetition" -> (TextQueries.wordRepetition _),
    "q_redact_pii" -> (TextQueries.redactPii _),
    "q_split_assign" -> (TextQueries.splitAssign _),
    "q_token_ids" -> (TextQueries.tokenIds _),
    "q_token_bpe_merges" -> (TextQueries.tokenBpeMerges _),
    "q_token_decode" -> (TextQueries.tokenDecode _),
    "q_seq_decode" -> (TextQueries.seqDecode _),
    "q_token_bpe_512" -> (TextQueries.tokenBpe512 _),
    "q_train_sequences" -> (TextQueries.trainSequences _),
    "q_interleaved_pack" -> (TextQueries.interleavedPack _),
    "q_shard_assign" -> (TextQueries.shardAssign _),
    "q_release_manifest" -> (TextQueries.releaseManifest _),
    "q_manifest_commit" -> (TextQueries.manifestCommit _),
    "q_manifest_retract" -> (TextQueries.manifestRetractQ _),
    "q_passage_chunks" -> (TextQueries.passageChunks _),
    "q_bm25_passages" -> (TextQueries.bm25Passages _),
    "q_ccnet_buckets" -> (TextQueries.ccnetBuckets _)
  )

  /** DuckDB oracle SQL, column-name- and type-aligned with [[queries]]. */
  def oracleSql: Map[String, String] = Map(
    "q_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        | CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        | CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100,0) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_revenue_by_nation" ->
      """SELECT r_name, n_name,
        | CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100,0) AS BIGINT)) AS BIGINT) AS revenue_cents,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q_customers_with_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin,
    "q_topk_rewrite" ->
      """SELECT o_orderpriority, CAST(rn AS BIGINT) AS rnk, o_orderkey,
        | CAST(round(o_totalprice*100,0) AS BIGINT) AS price_cents
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) t WHERE rn <= 3
        |ORDER BY o_orderpriority, rnk""".stripMargin,
    "q_bloom_prune" ->
      """SELECT l_returnflag,
        | CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS BIGINT) AS revenue_cents,
        | count(*) AS n_items
        |FROM lineitem
        |WHERE l_suppkey IN (
        |  SELECT s_suppkey FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE')
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_customers_without_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_top_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin,
    "q_top_suppliers_per_nation" ->
      """SELECT s_nationkey, rnk, s_suppkey, s_name FROM (
        | SELECT s_nationkey, s_suppkey, s_name,
        |  row_number() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey ASC) AS rnk
        | FROM supplier) WHERE rnk <= 3
        |ORDER BY s_nationkey, rnk""".stripMargin,
    "q_active_custkeys" ->
      """SELECT custkey FROM (
        | SELECT o_custkey AS custkey FROM orders
        | INTERSECT
        | SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0)
        |ORDER BY custkey""".stripMargin,
    "q_orders_rollup" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        | coalesce(o_orderpriority, 'ALL') AS priority,
        | count(*) AS n_orders,
        | CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "q_shipping_priority" ->
      """SELECT l_orderkey,
        | CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100,0) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey
        |ORDER BY revenue_cents DESC, l_orderkey ASC LIMIT 10""".stripMargin,
    "q_big_customers" ->
      """SELECT o_custkey, count(*) AS n_orders,
        | CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders GROUP BY o_custkey HAVING count(*) >= 15
        |ORDER BY o_custkey""".stripMargin,
    "q_value_percentiles" ->
      """SELECT event_type, count(*) AS n_events,
        | round(quantile_cont(value, 0.5), 4) AS median_value,
        | round(quantile_cont(value, 0.9), 4) AS p90_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_value_histogram" ->
      """SELECT CAST(floor(value/5) AS BIGINT) AS bucket, count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_clean_text" ->
      """SELECT doc_id,
        | regexp_replace(trim(regexp_replace(text || '  trailing.Tail  end', '\s+', ' ', 'g')), '([.!?])([A-Za-z])', '\1 \2', 'g') AS clean_text
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_token_estimate" ->
      """SELECT doc_id,
        | CAST(CASE WHEN text IS NULL OR length(text) = 0 THEN 0
        |      ELSE greatest(1, CAST(floor(length(text)/4) AS INTEGER)) END AS INTEGER) AS n_tokens_est,
        | CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INTEGER) AS n_tokens_word
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id,
        | md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(substr(text, 1, 50)) AS dup_key,
        | min(doc_id) AS keep_doc_id, count(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY dup_key""".stripMargin,
    "q_lang_stats" ->
      """SELECT lang, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | round(avg(n_chars), 2) AS avg_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_sentence_explode" ->
      """SELECT doc_id, trim(s) AS sentence FROM (
        | SELECT doc_id, unnest(string_split_regex(text || '. tail one. tail two! done?', '[.!?]+\s+')) AS s
        | FROM documents)
        |WHERE length(trim(s)) > 0 ORDER BY doc_id, sentence""".stripMargin,
    "q_fim_transform" -> TextQueries.fimTransformOracle,
    "q_dialogue_pairs" -> EventQueries.dialoguePairsOracle,
    "q_sft_pack" -> EventQueries.sftPackOracle,
    "q_split_audit" -> PipelineQueries.splitAuditOracle,
    "q_dedup_explain" -> PipelineQueries.dedupExplainOracle,
    "q_lang_consistency" -> PipelineQueries.langConsistencyOracle,
    "q_canary_scan" -> PipelineQueries.canaryScanOracle,
    "q_stream_canary" -> StreamingQueries.streamCanaryOracle,
    "q_distinct_actors" ->
      "SELECT DISTINCT event_type FROM events ORDER BY event_type",
    "q_span" ->
      """SELECT CAST(floor((epoch_ms(max(ts)) - epoch_ms(min(ts)))/1000) AS BIGINT) AS span_sec,
        | count(*) AS n_events, min(event_id) AS first_event, max(event_id) AS last_event
        |FROM events""".stripMargin,
    "q_format_hms" ->
      """SELECT event_id,
        | CASE WHEN h > 0 THEN printf('%02d:%02d:%02d', h, m, s)
        |      ELSE printf('%02d:%02d', m, s) END AS hms
        |FROM (SELECT event_id,
        |  CAST(floor(value*1000) AS BIGINT) // 3600 AS h,
        |  (CAST(floor(value*1000) AS BIGINT) % 3600) // 60 AS m,
        |  CAST(floor(value*1000) AS BIGINT) % 60 AS s
        | FROM events) ORDER BY event_id""".stripMargin,
    "q_run_groups" ->
      """SELECT event_id,
        | CAST(sum(chg) OVER (ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
        |FROM (SELECT event_id, ts,
        |  CASE WHEN event_type = lag(event_type) OVER (ORDER BY ts, event_id) THEN 0 ELSE 1 END AS chg
        | FROM events)
        |ORDER BY event_id""".stripMargin,
    "q_run_merge" ->
      """WITH runs AS (
        | SELECT *, CAST(sum(chg) OVER (ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
        | FROM (SELECT *, CASE WHEN event_type = lag(event_type) OVER (ORDER BY ts, event_id) THEN 0 ELSE 1 END AS chg FROM events))
        |SELECT run_id, min(event_id) AS first_event, max(event_id) AS last_event,
        | count(*) AS n_events, min(event_type) AS event_type,
        | CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS value_cents,
        | string_agg(props, ' | ' ORDER BY event_id) AS merged_props
        |FROM runs GROUP BY run_id ORDER BY run_id""".stripMargin,
    "q_run_groups_keyed" ->
      """SELECT event_id, user_id,
        | CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_seq
        |FROM (SELECT event_id, user_id, ts,
        |  CASE WHEN event_type = lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) THEN 0 ELSE 1 END AS chg
        | FROM events)
        |ORDER BY event_id""".stripMargin,
    "q_run_merge_keyed" ->
      """WITH runs AS (
        | SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_seq
        | FROM (SELECT *, CASE WHEN event_type = lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) THEN 0 ELSE 1 END AS chg FROM events))
        |SELECT user_id, run_seq, min(event_id) AS first_event, max(event_id) AS last_event,
        | count(*) AS n_events, min(event_type) AS event_type,
        | CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS value_cents,
        | string_agg(props, ' | ' ORDER BY event_id) AS merged_props
        |FROM runs GROUP BY user_id, run_seq ORDER BY user_id, run_seq""".stripMargin,
    "q_interval_agg" ->
      s"""SELECT ${EventQueries.HourBucketSql} AS hour_id,
        | count(*) AS n_events, count(DISTINCT user_id) AS n_users,
        | CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS value_cents,
        | string_agg(event_type, ',' ORDER BY event_id) AS types_seq
        |FROM events GROUP BY 1 ORDER BY hour_id""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (SELECT event_id, user_id, ts, epoch_ms(ts) AS ms,
        |  lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
        | FROM events)
        |SELECT event_id, user_id,
        | CAST(sum(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END)
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM e ORDER BY event_id""".stripMargin,
    "q_asof_attribution" ->
      """WITH u AS (
        | SELECT user_id, ts, event_id, 1 AS side,
        |  CAST(NULL AS BIGINT) AS view_id, CAST(NULL AS BIGINT) AS view_ms
        | FROM events WHERE event_type = 'click'
        | UNION ALL
        | SELECT user_id, ts, event_id, 0, event_id, epoch_ms(ts)
        | FROM events WHERE event_type = 'view'),
        |m AS (SELECT user_id, ts, event_id, side,
        |  last_value(view_id IGNORE NULLS) OVER w AS view_event_id,
        |  last_value(view_ms IGNORE NULLS) OVER w AS view_ms
        | FROM u
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, view_event_id,
        | epoch_ms(ts) - view_ms AS gap_ms
        |FROM m WHERE side = 1 ORDER BY event_id""".stripMargin,
    "q_chunk_prefix" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(CASE WHEN text IS NULL OR length(text) = 0 THEN 0
        |       ELSE greatest(1, CAST(floor(length(text)/4) AS INTEGER)) END AS INTEGER) AS n_tok
        | FROM documents),
        |c AS (SELECT doc_id, n_tok,
        |  CAST(sum(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
        | FROM t)
        |SELECT doc_id, n_tok, CAST(floor((cum_tok - n_tok)/500) AS BIGINT) AS chunk_id
        |FROM c ORDER BY doc_id""".stripMargin,
    "q_mock_summarize" ->
      s"""SELECT chunk_id,
        | 'SUMMARY[' || chunk_id || ']: events=' || n_events || ', speakers=' || speakers AS summary
        |FROM (SELECT ${EventQueries.HourBucketSql} AS chunk_id,
        |  count(*) AS n_events,
        |  string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS speakers
        | FROM events GROUP BY 1)
        |ORDER BY chunk_id""".stripMargin,
    "q_tree_concat" ->
      """WITH level1 AS (
        | SELECT CAST(floor(doc_id/10) AS BIGINT) AS batch_id, count(*) AS n_docs,
        |  string_agg('D' || doc_id, ' ' ORDER BY doc_id) AS batch_summary
        | FROM documents GROUP BY 1)
        |SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs,
        | string_agg('B' || batch_id || '(' || batch_summary || ')', ' | ' ORDER BY batch_id) AS final_summary
        |FROM level1""".stripMargin,
    "q_cost_rollup" ->
      """WITH t AS (SELECT doc_id,
        |  CASE WHEN text IS NULL OR length(text) = 0 THEN 0
        |       ELSE greatest(1, CAST(floor(length(text)/4) AS INTEGER)) END AS prompt_tokens
        | FROM documents),
        |t2 AS (SELECT doc_id, prompt_tokens,
        |  greatest(1, CAST(floor(prompt_tokens/4) AS INTEGER)) AS completion_tokens,
        |  CASE WHEN doc_id % 3 = 0 THEN 'gpt-4'
        |       WHEN doc_id % 3 = 1 THEN 'gpt-3.5-turbo'
        |       ELSE 'claude-3-sonnet' END AS model
        | FROM t)
        |SELECT model, count(*) AS n_requests,
        | CAST(sum(prompt_tokens) AS BIGINT) AS sum_prompt_tokens,
        | CAST(sum(completion_tokens) AS BIGINT) AS sum_completion_tokens,
        | CAST(sum(CASE WHEN model = 'gpt-4' THEN prompt_tokens*30000 + completion_tokens*60000
        |               WHEN model = 'gpt-3.5-turbo' THEN prompt_tokens*1000 + completion_tokens*2000
        |               ELSE prompt_tokens*3000 + completion_tokens*15000 END) AS BIGINT) AS total_cost_nanousd
        |FROM t2 GROUP BY model ORDER BY model""".stripMargin,
    "q_dedup_minhash" -> PipelineQueries.minhashOracle,
    "q_simhash" -> PipelineQueries.simhashOracle,
    "q_dedup_simhash" -> PipelineQueries.simhashPairsOracle,
    "q_ngram_jaccard" -> PipelineQueries.ngramJaccardOracle,
    "q_decontaminate" -> PipelineQueries.decontaminateOracle,
    "q_dsir_weights" -> PipelineQueries.dsirWeightsOracle,
    "q_corpus_overlap" -> PipelineQueries.corpusOverlapOracle,
    "q_intradoc_dedup" -> PipelineQueries.intraDocDedupOracle,
    "q_boilerplate" -> PipelineQueries.boilerplateOracle,
    "q_sentence_dedup" -> PipelineQueries.sentenceDedupOracle,
    "q_sentence_dedup_inc" -> PipelineQueries.sentenceDedupIncOracle,
    "q_sentence_commit" -> PipelineQueries.sentenceCommitOracle,
    "q_sentence_retract" -> PipelineQueries.sentenceRetractOracle,
    "q_pagerank_keeplist" -> PipelineQueries.pagerankKeeplistOracle,
    "q_pagerank_incremental" -> PipelineQueries.pagerankIncrementalOracle,
    "q_pagerank_residual" -> PipelineQueries.pagerankResidualOracle,
    "q_stream_sentence" -> StreamingQueries.streamSentenceOracle,
    "q_stream_sentence_commit" ->
      StreamingQueries.streamSentenceCommitOracle,
    "q_stream_sentence_retract" ->
      StreamingQueries.streamSentenceRetractOracle,
    "q_stream_dialogue" -> StreamingQueries.streamDialogueOracle,
    "q_stream_sft_pack" -> StreamingQueries.streamSftPackOracle,
    "q_stream_embedding_quality" ->
      StreamingQueries.streamEmbeddingQualityOracle,
    "q_ngram_novelty" -> PipelineQueries.ngramNoveltyOracle,
    "q_hamming_sweep" -> PipelineQueries.hammingSweepOracle,
    "q_curation_pipeline" -> PipelineQueries.curationPipelineOracle,
    "q_incremental_dedup" -> PipelineQueries.incrementalDedupOracle,
    "q_incremental_minhash" -> PipelineQueries.minhashIncrementalOracle,
    "q_incremental_clusters" -> PipelineQueries.incrementalClustersOracle,
    "q_jaccard_sweep" -> PipelineQueries.jaccardSweepOracle,
    "q_lsh_planner" -> PipelineQueries.lshPlannerOracle,
    "q_corpus_commit" -> PipelineQueries.corpusCommitOracle,
    "q_corpus_diff" -> PipelineQueries.corpusDiffOracle,
    "q_corpus_retract" -> PipelineQueries.corpusRetractOracle,
    "q_corpus_card" -> PipelineQueries.corpusCardOracle,
    "q_incremental_simhash" -> PipelineQueries.simhashIncrementalOracle,
    "q_sim_topk" -> PipelineQueries.simTopKOracle,
    "q_sim_topk_lsh" -> PipelineQueries.simTopKLshOracle,
    "q_lang_id" -> PipelineQueries.langIdOracle,
    "q_quality_score" -> PipelineQueries.qualityOracle,
    "q_quality_sweep" -> PipelineQueries.qualitySweepOracle,
    "q_rolling_fingerprint" -> PipelineQueries.rollingFingerprintOracle,
    "q_unicode_nfc" -> PipelineQueries.unicodeNfcOracle,
    "q_dedup_cosine" -> PipelineQueries.cosineDuplicatesOracle,
    "q_minhash_signatures" -> PipelineQueries.minhashSignaturesOracle,
    "q_curation_verdict" -> PipelineQueries.curationVerdictOracle,
    "q_media_features" -> PipelineQueries.mediaFeaturesOracle,
    "q_imgtext_align" -> PipelineQueries.imgtextAlignOracle,
    "q_audiotext_align" -> PipelineQueries.audiotextAlignOracle,
    "q_aligned_pack" -> PipelineQueries.alignedPackOracle,
    "q_frame_decode" -> PipelineQueries.frameDecodeOracle,
    "q_image_decode" -> PipelineQueries.imageDecodeOracle,
    "q_image_phash" -> PipelineQueries.imagePhashOracle,
    "q_frame_phash" -> PipelineQueries.framePhashOracle,
    "q_frame_phash_inc" -> PipelineQueries.framePhashIncOracle,
    "q_video_neardup" -> PipelineQueries.videoNeardupOracle,
    "q_audio_phash" -> PipelineQueries.audioPhashOracle,
    "q_audio_phash_inc" -> PipelineQueries.audioPhashIncOracle,
    "q_audio_neardup" -> PipelineQueries.audioNeardupOracle,
    "q_audio_commit" -> PipelineQueries.audioCommitOracle,
    "q_frame_commit" -> PipelineQueries.frameCommitOracle,
    "q_media_commit" -> PipelineQueries.mediaCommitOracle,
    "q_media_retract" -> PipelineQueries.mediaRetractOracle,
    "q_index_retract" -> PipelineQueries.indexRetractOracle,
    "q_pq_distortion" -> PipelineQueries.pqDistortionOracle,
    "q_crossmodal_topk" -> PipelineQueries.crossmodalTopKOracle,
    "q_crossmodal_ivf" -> PipelineQueries.crossmodalIvfOracle,
    "q_image_resize" -> PipelineQueries.imageResizeOracle,
    "q_tfidf_topk" -> TextQueries.tfidfTopTermsOracle(),
    "q_bm25" -> TextQueries.bm25Oracle(),
    "q_bm25_queries" -> TextQueries.bm25QueriesOracle(),
    "q_lm_score" -> TextQueries.lmScoreOracle,
    "q_pack_docs" -> TextQueries.packDocsOracle,
    "q_stratified_sample" -> TextQueries.stratifiedSampleOracle,
    "q_dedup_keeplist" -> PipelineQueries.dedupKeeplistOracle,
    "q_leakage_safe_split" -> PipelineQueries.leakageSafeSplitOracle,
    "q_sim_topk_q8" -> PipelineQueries.simTopKQ8Oracle,
    "q_stream_hourly" -> StreamingQueries.streamHourlyOracle,
    "q_stream_dedup_keys" -> StreamingQueries.streamDedupKeysOracle,
    "q_stream_sessions" -> StreamingQueries.streamSessionsOracle,
    "q_stream_sessions_ooo" -> StreamingQueries.streamSessionsOooOracle,
    "q_stream_runs" -> StreamingQueries.streamRunsOracle,
    "q_stream_join" -> StreamingQueries.streamJoinOracle,
    "q_lang_centroid" -> PipelineQueries.langCentroidOracle,
    "q_ivf_topk" -> PipelineQueries.ivfTopKOracle,
    "q_ann_recall" -> PipelineQueries.annRecallOracle,
    "q_ivf_trained_topk" -> PipelineQueries.ivfTrainedTopKOracle,
    "q_kmeans_train" -> PipelineQueries.kmeansTrainOracle,
    "q_dup_spans" -> PipelineQueries.dupSpansOracle,
    "q_dedup_spans_rewrite" -> PipelineQueries.dedupSpansRewriteOracle,
    "q_incremental_spans" -> PipelineQueries.incrementalSpansOracle,
    "q_clean_pack" -> PipelineQueries.cleanPackOracle,
    "q_budget_select" -> PipelineQueries.budgetSelectOracle,
    "q_source_scorecard" -> PipelineQueries.sourceScorecardOracle,
    "q_mix_select" -> PipelineQueries.mixSelectOracle,
    "q_epoch_schedule" -> TextQueries.epochScheduleOracle,
    "q_image_phash_inc" -> PipelineQueries.imagePhashIncOracle,
    "q_domain_quota" -> TextQueries.domainQuotaOracle,
    "q_lm_bigram" -> TextQueries.lmBigramOracle,
    "q_audio_decode" -> PipelineQueries.audioDecodeOracle,
    "q_recursive_ancestors" -> Relational.recursiveAncestorsOracle,
    "q_lateral_topn" -> Relational.lateralTopSuppliersOracle,
    "q_session_window" -> EventQueries.sessionWindowBatchOracle,
    "q_zorder" -> EventQueries.zorderStatsOracle,
    "q_stream_enrich" -> StreamingQueries.streamStaticEnrichOracle,
    "q_audio_segments" -> PipelineQueries.audioSegmentsOracle,
    "q_semantic_dedup" -> PipelineQueries.semanticDedupOracle,
    "q_semantic_decontam" -> PipelineQueries.semanticDecontamOracle,
    "q_incremental_semantic" -> PipelineQueries.semanticDedupIncrementalOracle,
    "q_semantic_commit" -> PipelineQueries.semanticCommitOracle,
    "q_semantic_retract" -> PipelineQueries.semanticRetractOracle,
    "q_quality_drift" -> PipelineQueries.qualityDriftOracle,
    "q_source_drift" -> PipelineQueries.sourceDriftOracle,
    "q_stream_source_drift" -> StreamingQueries.streamSourceDriftOracle,
    "q_knn_graph" -> PipelineQueries.knnGraphOracle,
    "q_knn_graph_inc" -> PipelineQueries.knnGraphIncOracle,
    "q_knn_retract" -> PipelineQueries.knnRetractOracle,
    "q_stream_knn_retract" -> StreamingQueries.streamKnnRetractOracle,
    "q_semantic_clusters" -> PipelineQueries.semanticClustersOracle,
    "q_semantic_keeplist" -> PipelineQueries.semanticKeeplistOracle,
    "q_semantic_quality_keeplist" -> PipelineQueries.semanticQualityKeeplistOracle,
    "q_graph_stats" -> PipelineQueries.graphStatsOracle,
    "q_graph_pagerank" -> PipelineQueries.graphPagerankOracle,
    "q_embedding_quality" -> PipelineQueries.embeddingQualityOracle,
    "q_graph_drift" -> PipelineQueries.graphDriftOracle,
    "q_cell_drift" -> PipelineQueries.cellDriftOracle,
    "q_incremental_ngram" -> PipelineQueries.ngramJaccardIncrementalOracle,
    "q_mix_weights" -> TextQueries.mixWeightsOracle,
    "q_length_batches" -> TextQueries.lengthBatchesOracle,
    "q_hard_negatives" -> PipelineQueries.hardNegativesOracle,
    "q_hard_negatives_ivf" -> PipelineQueries.hardNegativesIvfOracle,
    "q_ivf_pq" -> PipelineQueries.ivfPqOracle,
    "q_gopher_filters" -> PipelineQueries.gopherFiltersOracle,
    "q_token_bpe_4k" -> TextQueries.tokenBpe4kOracle,
    "q_hybrid_rrf" -> TextQueries.hybridRrfOracle,
    "q_filter_attribution" -> PipelineQueries.filterAttributionOracle,
    "q_contrastive_triplets" -> PipelineQueries.contrastiveTripletsOracle,
    "q_incremental_pq" -> PipelineQueries.ivfPqIncrementalOracle,
    "q_index_commit" -> PipelineQueries.indexCommitOracle,
    "q_repetition_filters" -> PipelineQueries.repetitionFiltersOracle,
    "q_stream_dedup_corpus" -> StreamingQueries.streamDedupCorpusOracle,
    "q_stream_quality" -> StreamingQueries.streamQualityOracle,
    "q_stream_quality_drift" -> StreamingQueries.streamQualityDriftOracle,
    "q_stream_fertility_drift" -> StreamingQueries.streamFertilityDriftOracle,
    "q_stream_decontam" -> StreamingQueries.streamDecontamOracle,
    "q_stream_neardup" -> StreamingQueries.streamNearDupOracle,
    "q_stream_align" -> StreamingQueries.streamAlignOracle,
    "q_stream_simhash" -> StreamingQueries.streamSimhashOracle,
    "q_stream_commit" -> StreamingQueries.streamCommitOracle,
    "q_stream_retract" -> StreamingQueries.streamRetractOracle,
    "q_stream_lifecycle" -> StreamingQueries.streamLifecycleOracle,
    "q_stream_manifest" -> StreamingQueries.streamManifestOracle,
    "q_stream_phash" -> StreamingQueries.streamPhashOracle,
    "q_stream_audio" -> StreamingQueries.streamAudioOracle,
    "q_stream_ann" -> StreamingQueries.streamAnnOracle,
    "q_stream_index_commit" -> StreamingQueries.streamIndexCommitOracle,
    "q_stream_index_compact" -> StreamingQueries.streamIndexCompactOracle,
    "q_stream_index_refresh" -> StreamingQueries.streamIndexRefreshOracle,
    "q_stream_index_refresh_subs" ->
      StreamingQueries.streamIndexRefreshSubsOracle,
    "q_stream_index_retract" -> StreamingQueries.streamIndexRetractOracle,
    "q_stream_knn" -> StreamingQueries.streamKnnOracle,
    "q_stream_knn_compact" -> StreamingQueries.streamKnnCompactOracle,
    "q_stream_knn_refresh" -> StreamingQueries.streamKnnRefreshOracle,
    "q_stream_knn_refresh_cells" ->
      StreamingQueries.streamKnnRefreshCellsOracle,
    "q_stream_semantic_commit" -> StreamingQueries.streamSemanticCommitOracle,
    "q_stream_attribution" -> StreamingQueries.streamAttributionOracle,
    "q_stream_video" -> StreamingQueries.streamVideoOracle,
    "q_stream_ngram" -> StreamingQueries.streamNgramOracle,
    "q_stream_novelty" -> StreamingQueries.streamNoveltyOracle,
    "q_stream_shard" -> StreamingQueries.streamShardOracle,
    "q_stream_cell_drift" -> StreamingQueries.streamCellDriftOracle,
    "q_quality_keeplist" -> PipelineQueries.qualityKeeplistOracle,
    "q_curation_funnel" -> PipelineQueries.curationFunnelOracle,
    "q_truncated_rerank" -> PipelineQueries.simTopKTruncatedOracle,
    "q_ivf_pq_probe" -> PipelineQueries.ivfPqProbeOracle,
    "q_ivf_pq_residual" -> PipelineQueries.ivfPqResidualOracle,
    "q_dup_histogram" -> PipelineQueries.dupHistogramOracle,
    "q_dup_downweight" -> PipelineQueries.dupDownweightOracle,
    "q_source_overlap" -> PipelineQueries.sourceOverlapOracle,
    "q_weighted_sample" -> PipelineQueries.weightedSampleOracle,
    "q_token_fertility" -> TextQueries.tokenFertilityOracle,
    "q_fertility_drift" -> TextQueries.fertilityDriftOracle,
    "q_stream_sliding" -> StreamingQueries.streamSlidingOracle,
    "q_stream_join_outer" -> StreamingQueries.streamJoinOuterOracle,
    "q_setop_funnel" ->
      """WITH v AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
        |c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
        |p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        |SELECT user_id FROM (
        | (SELECT user_id FROM v INTERSECT SELECT user_id FROM c)
        | EXCEPT SELECT user_id FROM p)
        |ORDER BY user_id""".stripMargin,
    "q_map_ops" ->
      """SELECT user_id,
        | CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        | CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        | CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_range_frame" ->
      """WITH e AS (SELECT event_id, user_id,
        |  CAST(floor(epoch_ms(ts)/1000) AS BIGINT) AS ts_sec,
        |  CAST(round(value*100,0) AS BIGINT) AS value_cents FROM events)
        |SELECT event_id, user_id,
        | CAST(sum(value_cents) OVER (PARTITION BY user_id ORDER BY ts_sec
        |   RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT) AS hour_cents
        |FROM e ORDER BY event_id""".stripMargin,
    "q_full_outer" ->
      """WITH act AS (
        |  SELECT o_custkey, count(*) AS n_orders,
        |    CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT) AS spend_cents
        |  FROM orders WHERE date_part('year', o_orderdate) = 1995 GROUP BY o_custkey),
        |cust AS (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 5000)
        |SELECT coalesce(c_custkey, o_custkey) AS custkey, c_name,
        | coalesce(n_orders, 0) AS n_orders,
        | coalesce(spend_cents, CAST(0 AS BIGINT)) AS spend_cents
        |FROM cust FULL OUTER JOIN act ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin,
    "q_unpivot" ->
      """WITH m AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(round(l_quantity*100,0) AS BIGINT) AS quantity,
        |    CAST(round(l_extendedprice*100,0) AS BIGINT) AS extendedprice,
        |    CAST(round(l_discount*100,0) AS BIGINT) AS discount,
        |    CAST(round(l_tax*100,0) AS BIGINT) AS tax
        |  FROM lineitem WHERE l_orderkey % 500 = 0)
        |SELECT l_orderkey, l_linenumber, measure, value_cents FROM (
        |  SELECT l_orderkey, l_linenumber, 'quantity' AS measure, quantity AS value_cents FROM m
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'extendedprice', extendedprice FROM m
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'discount', discount FROM m
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'tax', tax FROM m)
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin,
    "q_window_family" ->
      """SELECT event_id, event_type, value_cents,
        | lag(value_cents, 1) OVER w AS prev_cents,
        | lead(value_cents, 1) OVER w AS next_cents,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        | round(cume_dist() OVER w, 6) AS cume
        |FROM (SELECT event_id, event_type,
        |  CAST(round(value*100,0) AS BIGINT) AS value_cents FROM events)
        |WINDOW w AS (PARTITION BY event_type ORDER BY event_id)
        |ORDER BY event_id""".stripMargin,
    "q_time_breakdown" ->
      """SELECT CAST(date_part('year', ts) AS BIGINT) AS y,
        | CAST(date_part('month', ts) AS BIGINT) AS m,
        | CAST(date_part('day', ts) AS BIGINT) AS day,
        | CAST(date_part('hour', ts) AS BIGINT) AS h,
        | count(*) AS n_events
        |FROM events GROUP BY 1, 2, 3, 4 ORDER BY y, m, day, h""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        | count(*) FILTER (event_type = 'click') AS n_click,
        | count(*) FILTER (event_type = 'error') AS n_error,
        | count(*) FILTER (event_type = 'purchase') AS n_purchase,
        | count(*) FILTER (event_type = 'signup') AS n_signup,
        | count(*) FILTER (event_type = 'view') AS n_view
        |FROM events WHERE user_id < 50
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_except_all" ->
      """SELECT event_type, count(*) AS n FROM (
        | SELECT event_type FROM events WHERE user_id % 3 = 0
        | EXCEPT ALL
        | SELECT event_type FROM events WHERE user_id % 3 = 1)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_cms_freq" ->
      """WITH rb AS (
        |  SELECT hrow,
        |    CAST('0x' || substr(md5('cms' || hrow || ':' || event_type),1,8) AS BIGINT) % 32 AS bucket,
        |    event_type
        |  FROM events CROSS JOIN (SELECT unnest(range(0,4)) AS hrow)),
        |sketch AS (SELECT hrow, bucket, count(*) AS cnt FROM rb GROUP BY 1, 2),
        |ib AS (
        |  SELECT DISTINCT event_type, hrow,
        |    CAST('0x' || substr(md5('cms' || hrow || ':' || event_type),1,8) AS BIGINT) % 32 AS bucket
        |  FROM events CROSS JOIN (SELECT unnest(range(0,4)) AS hrow)),
        |est AS (
        |  SELECT ib.event_type, CAST(min(cnt) AS BIGINT) AS n_cms
        |  FROM ib JOIN sketch ON ib.hrow = sketch.hrow AND ib.bucket = sketch.bucket
        |  GROUP BY ib.event_type),
        |ex AS (SELECT event_type, count(*) AS n_exact FROM events GROUP BY 1)
        |SELECT ex.event_type AS event_type, n_exact, n_cms
        |FROM ex JOIN est ON ex.event_type = est.event_type
        |ORDER BY event_type""".stripMargin,
    "q_json_extract" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
        | CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_topk_heap" ->
      """SELECT event_type, rnk, event_id, value_cents FROM (
        | SELECT event_type, event_id,
        |  CAST(round(value*100,0) AS BIGINT) AS value_cents,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY CAST(round(value*100,0) AS BIGINT) DESC, event_id ASC) AS rnk
        | FROM events)
        |WHERE rnk <= 3 ORDER BY event_type, rnk""".stripMargin,
    "q_hll_distinct" ->
      """WITH h AS (
        |  SELECT event_type,
        |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),1,15) AS BIGINT) AS hv
        |  FROM events),
        |r AS (
        |  SELECT event_type, hv % 64 AS reg,
        |    CASE WHEN hv // 64 = 0 THEN 55 ELSE 55 - length(bin(hv // 64)) END AS rank
        |  FROM h),
        |mx AS (SELECT event_type, reg, max(rank) AS mr FROM r GROUP BY 1, 2),
        |regs AS (
        |  SELECT e.event_type, g.reg, coalesce(mx.mr, 0) AS mr
        |  FROM (SELECT DISTINCT event_type FROM events) e
        |  CROSS JOIN (SELECT unnest(range(0, 64)) AS reg) g
        |  LEFT JOIN mx ON mx.event_type = e.event_type AND mx.reg = g.reg),
        |agg AS (
        |  SELECT event_type,
        |    CAST(sum(CAST(1 AS BIGINT) << (55 - mr)) AS BIGINT) AS s,
        |    CAST(sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zeros
        |  FROM regs GROUP BY event_type),
        |est AS (
        |  SELECT event_type, zeros,
        |    CAST(0.709 AS DOUBLE) * 64.0 * 64.0 * 36028797018963968.0 / s AS raw
        |  FROM agg),
        |ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events GROUP BY 1)
        |SELECT ex.event_type AS event_type, ex.n_exact AS n_exact,
        |  round(CASE WHEN raw <= 160.0 AND zeros > 0
        |             THEN 64.0 * ln(64.0 / zeros) ELSE raw END, 4) AS n_approx
        |FROM ex JOIN est ON ex.event_type = est.event_type
        |ORDER BY event_type""".stripMargin,
    "q_range_interval" ->
      """WITH ev AS (
        | SELECT user_id, value, epoch_ms(ts) AS start_ms,
        |  epoch_ms(ts) + CAST(round(value*1000,0) AS BIGINT) AS end_ms
        | FROM events),
        |b AS (SELECT CAST(floor(min(start_ms)/3600000) AS BIGINT) AS h0,
        |             CAST(floor(max(start_ms)/3600000) AS BIGINT) AS h1 FROM ev),
        |h2 AS (SELECT hour_id, hour_id*3600000 AS hs, (hour_id+1)*3600000 AS he
        |       FROM (SELECT unnest(range(h0, h1+1)) AS hour_id FROM b))
        |SELECT hour_id, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
        | CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM ev JOIN h2
        | ON (hs <= start_ms AND start_ms < he) OR (start_ms <= hs AND end_ms > hs)
        |GROUP BY hour_id ORDER BY hour_id""".stripMargin,
    "q_skew_agg" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_skew_join" ->
      """WITH dim AS (
        | SELECT event_type,
        |  CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS type_total_cents
        | FROM events GROUP BY event_type)
        |SELECT e.event_type, count(*) AS n, min(d.type_total_cents) AS type_total_cents
        |FROM events e JOIN dim d ON e.event_type = d.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "q_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_corr_stats" ->
      """WITH s AS (
        | SELECT event_type, count(*) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(y*y) AS BIGINT) AS syy,
        |  CAST(sum(x*y) AS BIGINT) AS sxy
        | FROM (SELECT event_type,
        |   CAST(round(value*100,0) AS BIGINT) AS x, user_id AS y FROM events)
        | GROUP BY event_type)
        |SELECT event_type, n,
        | CASE WHEN sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
        |            * (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))) = 0
        |  THEN NULL
        |  ELSE round((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |   / sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
        |        * (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 6)
        |  END AS corr_value_user
        |FROM s ORDER BY event_type""".stripMargin,
    "q_orders_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        | coalesce(o_orderpriority, 'ALL') AS priority,
        | count(*) AS n_orders,
        | CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "q_orders_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        | coalesce(o_orderpriority, 'ALL') AS priority,
        | count(*) AS n_orders,
        | CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY status, priority""".stripMargin,
    "q_vocab_topk" ->
      """SELECT word, count(*) AS df FROM (
        | SELECT DISTINCT doc_id, word FROM (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS word
        |  FROM documents)
        | WHERE word <> '')
        |GROUP BY word ORDER BY df DESC, word ASC LIMIT 50""".stripMargin,
    "q_sample_hash" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 20 = 0
        |ORDER BY doc_id""".stripMargin,
    "q_token_bpe" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+')) AS BIGINT) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_token_bpe_merges" -> TextQueries.tokenBpeMergesOracle,
    "q_token_decode" -> TextQueries.tokenDecodeOracle,
    "q_seq_decode" -> TextQueries.seqDecodeOracle,
    "q_token_bpe_512" -> TextQueries.tokenBpe512Oracle,
    "q_train_sequences" -> TextQueries.trainSequencesOracle,
    "q_interleaved_pack" -> TextQueries.interleavedPackOracle,
    "q_shard_assign" -> TextQueries.shardAssignOracle,
    "q_release_manifest" -> TextQueries.releaseManifestOracle,
    "q_manifest_commit" -> TextQueries.manifestCommitOracle,
    "q_manifest_retract" -> TextQueries.manifestRetractOracle,
    "q_passage_chunks" -> TextQueries.passageChunksOracle,
    "q_bm25_passages" -> TextQueries.bm25PassagesOracle,
    "q_ccnet_buckets" -> TextQueries.ccnetBucketsOracle,
    "q_dup_clusters" -> PipelineQueries.dupClustersOracle,
    "q_word_repetition" ->
      """WITH cnt AS (
        |  SELECT doc_id, word, count(*) AS freq FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS word
        |    FROM documents)
        |  WHERE word <> '' GROUP BY doc_id, word),
        |r AS (
        |  SELECT doc_id, word, freq,
        |    CAST(sum(freq) OVER (PARTITION BY doc_id) AS BIGINT) AS n_words,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY freq DESC, word ASC) AS rn
        |  FROM cnt)
        |SELECT doc_id, n_words, word AS top_word, freq AS top_freq,
        |  round(freq / n_words, 6) AS top_ratio
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q_redact_pii" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com or 555-' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS dirty
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(dirty, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(dirty, '\b555-[0-9]{4}\b')) AS BIGINT) AS n_phones,
        |  regexp_replace(
        |    regexp_replace(dirty, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b555-[0-9]{4}\b', '<PHONE>', 'g') AS redacted
        |FROM d ORDER BY doc_id""".stripMargin,
    "q_token_ids" ->
      """WITH tok AS (
        |  SELECT doc_id, generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS tok FROM (
        |    SELECT doc_id, regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+') AS l
        |    FROM documents)),
        |vocab AS (
        |  SELECT tok, tid FROM (
        |    SELECT tok, CAST(row_number() OVER (ORDER BY cnt DESC, tok ASC) - 1 AS BIGINT) AS tid
        |    FROM (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok))
        |  WHERE tid < 256),
        |enc AS (
        |  SELECT t.doc_id, t.pos, coalesce(v.tid, -1) AS tid
        |  FROM tok t LEFT JOIN vocab v ON t.tok = v.tok)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN tid = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
        |  string_agg(CAST(tid AS VARCHAR), '_' ORDER BY pos) AS token_ids
        |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_split_assign" ->
      """SELECT lang,
        | CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split,
        | count(*) AS n_docs
        |FROM (SELECT lang,
        |  CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 100 AS h
        | FROM documents)
        |GROUP BY 1, 2 ORDER BY lang, split""".stripMargin
  )
}
