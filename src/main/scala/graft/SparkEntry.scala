package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.llm.{CorpusStats, Dedup, Multimodal, Packing, QualitySignals, Retrieval, Similarity, TextAnalysis}
import graft.ops.{Advanced, Analytics, Execution, Relational}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps one entry per implemented operator (SURVEY.md §2 +
  * extensions); `oracleSql` carries the DuckDB-equivalent ANSI SQL for the
  * driver's differential check. Column names/types are aligned on both sides
  * (the driver sorts columns by name before hashing). Non-integral
  * double aggregates go through DECIMAL so results are independent of
  * summation order — see graft.ops.Analytics scaladoc.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.factSongplays(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // M1 — reference surface (SURVEY.md §2)
    "q_songs_dim" -> (Relational.songsDim _),
    "q_artists_dim" -> (Relational.artistsDim _),
    "q_users_dim" -> (Relational.usersDim _),
    "q_time_dim" -> (Relational.timeDim _),
    "q_filter_events" -> (Relational.filterEvents _),
    "q_epoch_ms" -> (Relational.epochMs _),
    "q_groupby_count" -> (Relational.groupbyCount _),
    "q_paid_free_join" -> (Relational.paidFreeJoin _),
    "q_user_level_listen" -> (Relational.userLevelListen _),
    "q_fact_songplays" -> (Relational.factSongplays _),
    "q_distinct_flags" -> (Relational.distinctFlags _),
    "q_global_count" -> (Relational.globalCount _),
    "q_csv_roundtrip" -> (Relational.csvRoundtrip _),
    "q_objectstore_roundtrip" -> (Relational.objectStoreRoundtrip _),
    "q_log_parse" -> (Relational.logParse _),
    "q_orc_roundtrip" -> (Relational.orcRoundtrip _),
    "q_xml_roundtrip" -> (Relational.xmlRoundtrip _),
    "q_zorder_layout" -> (graft.ops.Layout.zOrderLayout _),
    "q_dpp_join" -> (graft.ops.Layout.dppJoin _),
    "q_partitioned_parquet" -> (Relational.partitionedParquetRoundtrip _),
    // M2 — analytics breadth
    "q1_agg" -> (Analytics.q1Agg _),
    "q5_shape" -> (Analytics.q5Shape _),
    "q_rollup" -> (Analytics.rollupAgg _),
    "q_cube" -> (Analytics.cubeAgg _),
    "q_grouping_sets" -> (Analytics.groupingSets _),
    "q_join_left" -> (Analytics.joinLeftOuter _),
    "q_join_semi" -> (Analytics.joinSemi _),
    "q_join_anti" -> (Analytics.joinAnti _),
    "q_set_union" -> (Analytics.setUnion _),
    "q_set_intersect" -> (Analytics.setIntersect _),
    "q_set_except" -> (Analytics.setExcept _),
    "q_set_except_all" -> (Analytics.setExceptAll _),
    "q_set_intersect_all" -> (Analytics.setIntersectAll _),
    "q_join_full" -> (Analytics.joinFull _),
    "q_topk" -> (Analytics.topK _),
    "q_window_lag" -> (Analytics.windowLag _),
    "q_window_running" -> (Analytics.windowRunning _),
    "q_window_range_frame" -> (Analytics.windowRangeFrame _),
    "q_window_rank" -> (Analytics.windowRank _),
    "q_window_distribution" -> (Analytics.windowDistribution _),
    "q_window_first_last" -> (Analytics.windowFirstLast _),
    "q_conditional_agg" -> (Analytics.conditionalAgg _),
    "q_date_arithmetic" -> (Analytics.dateArithmetic _),
    "q_mode" -> (Analytics.modeAgg _),
    "q_json_extract" -> (Analytics.jsonExtract _),
    "q_variant_extract" -> (Analytics.variantExtract _),
    "q_sql_udf" -> (Analytics.sqlUdf _),
    "q_collation" -> (Analytics.collationGroup _),
    "q_window_nth" -> (Analytics.windowNth _),
    "q_array_funcs" -> (Analytics.arrayFuncs _),
    "q_string_funcs" -> (Analytics.stringFuncs _),
    "q_case_math" -> (Analytics.caseMath _),
    "q_having" -> (Analytics.havingAgg _),
    "q_above_avg" -> (Analytics.aboveAvgCustomers _),
    "q_tumbling_window" -> (Analytics.tumblingWindow _),
    "q_sessionize" -> (Analytics.sessionize _),
    "q_agg_suite" -> (Analytics.aggSuite _),
    // M3 — LLM-data-pipeline operators
    "q_dedup_exact" -> (Dedup.exactDedup _),
    "q_dedup_fingerprint" -> (Dedup.fingerprintDedup _),
    "q_dedup_minhash" -> (Dedup.minhashPairs _),
    "q_dedup_simhash" -> (Dedup.simhashPairs _),
    "q_dedup_ngram_jaccard" -> (Dedup.ngramJaccardPairs _),
    "q_containment" -> (Dedup.containmentPairs _),
    "q_ngram_novelty" -> (Dedup.ngramNovelty _),
    "q_dup_spans" -> (Dedup.dupSpans _),
    "q_dedup_savings" -> (Dedup.dedupSavings _),
    "q_winnow_fps" -> (Dedup.winnowFingerprints _),
    "q_dedup_winnow" -> (Dedup.winnowPairs _),
    "q_cdc_chunks" -> (Dedup.cdcChunkMap _),
    "q_cdc_shared" -> (Dedup.cdcSharedChunks _),
    "q_dedup_clusters" -> (Dedup.dedupClusters _),
    "q_dedup_canonical" -> (Dedup.canonicalKeep _),
    "q_vec_quantize" -> (Similarity.quantizeVectors _),
    "q_rand_projection" -> (Similarity.randProjection _),
    "q_cluster_profile" -> (Similarity.clusterProfile _),
    "q_hard_negatives" -> (Similarity.hardNegatives _),
    "q_pmi_pairs" -> (TextAnalysis.pmiPairs _),
    "q_len_hist" -> (TextAnalysis.lenHist _),
    "q_dq_detect" -> (graft.ops.Quality.dqDetect _),
    "q_ann_topk" -> (Similarity.annTopK _),
    "q_ann_lsh" -> (Similarity.annLsh _),
    "q_ann_ivf" -> (Similarity.annIvf _),
    "q_ann_ivf_standing" -> (graft.llm.AnnIndex.annIvfStanding _),
    "q_ann_ivf_append" -> (graft.llm.AnnIndex.annIvfAppendStanding _),
    "q_ann_ivf_delete" -> (graft.llm.AnnIndex.annIvfDeleteStanding _),
    "q_ann_ivf_rescore" -> (Similarity.annIvfRescore _),
    "q_mmr_rerank" -> (Similarity.mmrRerank _),
    "q_bm25_topk" -> (Retrieval.bm25TopK _),
    "q_bm25_standing" -> (Retrieval.bm25TopKStanding _),
    "q_bm25_standing_delete" -> (Retrieval.bm25TopKStandingDelete _),
    "q_hybrid_rrf" -> (Retrieval.hybridRrf _),
    "q_tfidf_top" -> (TextAnalysis.tfidfTop _),
    "q_pii_scrub" -> (TextAnalysis.piiScrub _),
    "q_boilerplate_scrub" -> (TextAnalysis.boilerplateScrub _),
    "q_repetition" -> (TextAnalysis.repetition _),
    "q_contamination" -> (TextAnalysis.contamination _),
    "q_token_budget" -> (TextAnalysis.tokenBudgetSample _),
    "q_train_split" -> (TextAnalysis.trainSplit _),
    "q_shard_manifest" -> (TextAnalysis.shardManifest _),
    "q_source_overlap" -> (Dedup.sourceOverlap _),
    "q_mixture_rebalance" -> (TextAnalysis.mixtureRebalance _),
    "q_lm_perplexity" -> (TextAnalysis.lmPerplexity _),
    "q_lm_ppl_openvocab" -> (TextAnalysis.lmPerplexityOpenVocab _),
    "q_ppl_buckets" -> (TextAnalysis.pplBuckets _),
    "q_source_scorecard" -> (TextAnalysis.sourceScorecard _),
    "q_seq_pack" -> (Packing.seqPack _),
    "q_doc_chunks" -> (Packing.docChunks _),
    "q_pad_waste" -> (Packing.padWaste _),
    "q_cosine_pairs" -> (Similarity.cosinePairs _),
    "q_semdedup" -> (Similarity.semDedup _),
    "q_diverse_sample" -> (Similarity.diverseSample _),
    "q_text_quality" -> (TextAnalysis.quality _),
    "q_gopher_rules" -> (QualitySignals.gopherRules _),
    "q_word_entropy" -> (QualitySignals.wordEntropy _),
    "q_dsir_weights" -> (QualitySignals.dsirWeights _),
    "q_source_drift" -> (QualitySignals.sourceDrift _),
    "q_quality_sample" -> (QualitySignals.qualityWeightedSample _),
    "q_zipf_slope" -> (CorpusStats.zipfSlope _),
    "q_bpe_pairs" -> (CorpusStats.bpePairs _),
    "q_lang_id" -> (TextAnalysis.langId _),
    "q_token_counts" -> (TextAnalysis.tokenCounts _),
    "q_bpe_merges" -> (graft.llm.Bpe.bpeMerges _),
    "q_bpe_apply" -> (graft.llm.Bpe.bpeApply _),
    "q_bpe_standing" -> (graft.llm.Bpe.bpeStandingApply _),
    "q_bpe_exhaustion" -> (graft.llm.Bpe.bpeExhaustion _),
    "q_hash_sample" -> (TextAnalysis.hashSample _),
    "q_stratified_sample" -> ((s: SparkSession, d: String) =>
      TextAnalysis.stratifiedSample(s, d)),
    "q_media_meta" -> (Multimodal.mediaMeta _),
    "q_media_features" -> (Multimodal.mediaFeatures _),
    "q_media_frames" -> (Multimodal.mediaFrames _),
    "q_media_motion" -> (Multimodal.mediaMotion _),
    "q_media_audio" -> (Multimodal.mediaAudio _),
    // Execution control, generators, custom aggregator, streaming
    "q_cached_fanout" -> (Execution.cachedFanout _),
    "q_surrogate_ids" -> (Execution.surrogateIds _),
    "q_pivot" -> (Execution.pivotCounts _),
    "q_explode_words" -> (Execution.explodeTopWords _),
    "q_variance_agg" -> (Execution.varianceAgg _),
    "q_compaction" -> (Execution.compaction _),
    "q_stream_tumbling" -> (graft.streaming.EventStreams.tumblingWindowStream _),
    "q_stream_static_join" -> (graft.streaming.EventStreams.streamStaticJoin _),
    "q_stream_dedup" -> (graft.streaming.EventStreams.streamingDedup _),
    "q_stream_stream_join" -> (graft.streaming.EventStreams.streamStreamJoin _),
    "q_stream_stream_outer" -> (graft.streaming.EventStreams.streamStreamOuter _),
    "q_stream_session_window" -> (graft.streaming.EventStreams.sessionWindowStream _),
    "q_stream_file_sink" -> (graft.streaming.EventStreams.streamFileSink _),
    "q_stream_cdc_apply" -> (graft.streaming.EventStreams.streamCdcApply _),
    "q_stream_ingest_dedup" -> (graft.streaming.DocStreams.streamIngestDedup _),
    "q_stream_dedup_evolving" -> (graft.streaming.DocStreams.streamDedupEvolving _),
    "q_stream_quality_gate" -> (graft.streaming.DocStreams.streamQualityGate _),
    "q_stream_decontam" -> (graft.streaming.DocStreams.streamDecontam _),
    "q_stream_decontam_evolving" -> (graft.streaming.DocStreams.streamDecontamEvolving _),
    "q_stream_decontam_evolving_dist" ->
      ((s, d) => graft.streaming.DocStreams.streamDecontamEvolvingUnder(s, d, 0L)),
    "q_decontam_evolving_dist_delete" -> (graft.streaming.DocStreams.decontamEvolvingDistDelete _),
    "q_stream_vec_ingest" -> (graft.streaming.VecStreams.streamVecIngest _),
    "q_stream_anomaly_gate" -> (graft.streaming.EventStreams.streamAnomalyGate _),
    "q_range_join" -> (Advanced.rangeJoin _),
    "q_sliding_window" -> (Analytics.slidingWindow _),
    "q_basket_pairs" -> (Analytics.basketPairs _),
    // Advanced: JSON source, as-of join, deterministic order stats
    "q_json_roundtrip" -> (Advanced.jsonRoundtrip _),
    "q_asof_join" -> (Advanced.asofJoin _),
    "q_asof_native" -> (Advanced.asofNative _),
    "q_median" -> (Advanced.median _),
    "q_corr" -> (Advanced.corr2 _),
    "q_salted_join" -> (Advanced.saltedJoin _),
    "q_bucketed_join" -> (Advanced.bucketedJoin _),
    "q_topk_per_key" -> (Advanced.topKPerKeyQuery _),
    "q_dq_report" -> (graft.ops.Quality.dqReport _),
    "q_scd2" -> (graft.ops.Quality.scd2Build _),
    "q_merge_upsert" -> (graft.ops.Quality.mergeUpsert _),
    "q_skew_report" -> (graft.ops.Quality.skewReport _),
    "q_approx_distinct" -> (Advanced.approxDistinct _),
    // Sketch-pruned exact operators + iterative graph analytics
    "q_heavy_hitters" -> (graft.ops.Sketches.heavyHitters _),
    "q_bloom_join" -> (graft.ops.Sketches.bloomSemiJoin _),
    "q_approx_quantile" -> (graft.ops.Sketches.approxQuantile _),
    "q_pagerank" -> ((s, d) => graft.ops.Graph.pageRank(s, d, "broadcast")),
    "q_pagerank_dist" -> ((s, d) => graft.ops.Graph.pageRank(s, d, "shuffle_hash")),
    "q_reach_bfs" -> ((s, d) => graft.ops.Graph.reachBfs(s, d, "broadcast")),
    "q_reach_bfs_dist" -> ((s, d) => graft.ops.Graph.reachBfs(s, d, "shuffle_hash")),
    // Continuous-ingest curation surface
    "q_dedup_incremental" -> (Dedup.incrementalDedup _),
    "q_dedup_standing" -> (Dedup.standingIngestDedup _),
    "q_dedup_standing_commit" -> (Dedup.standingCommitIngest _),
    "q_dedup_standing_delete" -> (Dedup.standingDeleteIngest _),
    "q_dup_ngram_fraction" -> (Dedup.dupNgramFraction _),
    "q_curation_funnel" -> (TextAnalysis.curationFunnel _),
    // Product/event analytics over the event stream
    "q_event_funnel" -> (graft.ops.EventAnalytics.eventFunnel _),
    "q_event_paths" -> (graft.ops.EventAnalytics.eventPaths _),
    "q_funnel_windowed" -> (graft.ops.EventAnalytics.funnelWindowed _),
    "q_ab_test" -> (graft.ops.EventAnalytics.abTest _),
    "q_cohort_retention" -> (graft.ops.EventAnalytics.cohortRetention _),
    "q_event_transitions" -> (graft.ops.EventAnalytics.eventTransitions _),
    "q_gap_fill" -> (graft.ops.EventAnalytics.gapFill _),
    "q_anomaly_mad" -> (graft.ops.EventAnalytics.anomalyMad _),
    "q_rfm_segments" -> (graft.ops.EventAnalytics.rfmSegments _),
    // Record linkage / entity resolution
    "q_fuzzy_join" -> (graft.ops.Linkage.fuzzyJoin _),
    "q_jw_linkage" -> (graft.ops.Linkage.jwLinkage _),
    "q_entity_resolve" -> (graft.ops.Linkage.resolveEntities _),
    // ANALYZE-style statistics collection
    "q_table_stats" -> (graft.ops.Stats.tableStats _),
    "q_equidepth_hist" -> (graft.ops.Stats.equidepthHist _),
    // Round-8 batch 4: graph density, change-points, versioning, evolution
    "q_triangle_count" -> (graft.ops.Graph.triangleCounts _),
    "q_cusum_shift" -> (graft.ops.EventAnalytics.cusumShift _),
    "q_funnel_latency" -> (graft.ops.EventAnalytics.funnelLatency _),
    "q_attribution" -> (graft.ops.EventAnalytics.lastTouchAttribution _),
    "q_snapshot_diff" -> (graft.ops.Quality.snapshotDiff _),
    "q_incr_agg" -> (graft.ops.Quality.incrAgg _),
    "q_schema_merge" -> (Relational.schemaMergeRoundtrip _),
  )

  def oracleSql: Map[String, String] = Map(
    "q_songs_dim" ->
      """SELECT DISTINCT p_partkey, p_name, p_brand, p_type,
         coalesce(CASE WHEN p_size % 7 = 0 THEN NULL ELSE p_retailprice END,
                  CAST(0 AS DOUBLE)) AS retail_w
         FROM part ORDER BY p_partkey""",
    "q_artists_dim" ->
      """SELECT DISTINCT s_suppkey AS artist_id, s_name AS name,
         s_nationkey AS location, s_acctbal AS balance
         FROM supplier ORDER BY artist_id""",
    "q_users_dim" ->
      """SELECT DISTINCT c_custkey AS user_id, c_name AS name,
         c_mktsegment AS level, c_nationkey AS nation_key
         FROM customer ORDER BY user_id""",
    "q_time_dim" ->
      """SELECT ts AS start_time,
         CAST(day(ts) AS INT) AS day, CAST(month(ts) AS INT) AS month,
         CAST(year(ts) AS INT) AS year, CAST(hour(ts) AS INT) AS hour,
         CAST(minute(ts) AS INT) AS minute, CAST(second(ts) AS INT) AS second,
         CAST(weekofyear(ts) AS INT) AS week,
         CAST(dayofweek(ts) + 1 AS INT) AS weekday
         FROM (SELECT DISTINCT ts FROM events) ORDER BY start_time""",
    "q_filter_events" ->
      """SELECT event_id, user_id, value FROM events
         WHERE event_type = 'click' ORDER BY event_id""",
    "q_epoch_ms" ->
      """SELECT event_id, epoch_ms(ts) AS ms,
         make_timestamp(epoch_ms(ts) * 1000) AS ts_ms
         FROM events ORDER BY event_id""",
    "q_groupby_count" ->
      """SELECT user_id, count(*) AS count FROM events
         WHERE event_type = 'click' GROUP BY user_id ORDER BY user_id""",
    "q_paid_free_join" ->
      """WITH paid AS (SELECT user_id, count(*) AS paid_cnt FROM events
                       WHERE event_type = 'purchase' GROUP BY user_id),
              free AS (SELECT user_id, count(*) AS free_cnt FROM events
                       WHERE event_type = 'view' GROUP BY user_id)
         SELECT p.user_id, p.paid_cnt, f.free_cnt
         FROM paid p JOIN free f ON p.user_id = f.user_id
         WHERE p.user_id <> 0 ORDER BY p.user_id""",
    "q_user_level_listen" ->
      """WITH paid AS (SELECT user_id, count(*) AS paid_cnt FROM events
                       WHERE event_type = 'purchase' GROUP BY user_id),
              free AS (SELECT user_id, count(*) AS free_cnt FROM events
                       WHERE event_type = 'view' GROUP BY user_id),
              ull AS (SELECT p.user_id, p.paid_cnt, f.free_cnt
                      FROM paid p JOIN free f ON p.user_id = f.user_id
                      WHERE p.user_id <> 0)
         SELECT DISTINCT c.c_name || ' ' || c.c_mktsegment AS full_name,
                ull.paid_cnt, ull.free_cnt
         FROM customer c JOIN ull ON c.c_custkey = ull.user_id
         ORDER BY full_name, paid_cnt, free_cnt""",
    "q_fact_songplays" ->
      """SELECT e.event_id, e.ts AS start_time, e.user_id, e.event_type,
                e.value, c.c_name AS user_name, c.c_mktsegment AS level,
                n.n_name AS nation, r.r_name AS region,
                CAST(year(e.ts) AS INT) AS year,
                CAST(month(e.ts) AS INT) AS month,
                CAST(row_number() OVER (ORDER BY e.event_id) AS INT) AS num
         FROM events e
         JOIN customer c ON e.user_id = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         ORDER BY event_id""",
    "q_distinct_flags" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus""",
    "q_global_count" ->
      "SELECT count(*) AS cnt FROM lineitem",
    "q_log_parse" -> Relational.logParseSql,
    "q_csv_roundtrip" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "q_objectstore_roundtrip" -> Relational.objectStoreRoundtripSql,
    "q_orc_roundtrip" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
         max(o_orderdate) AS last_order
         FROM orders GROUP BY o_orderstatus, o_orderpriority
         ORDER BY o_orderstatus, o_orderpriority""",
    "q_xml_roundtrip" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         count(DISTINCT o_custkey) AS n_cust,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
         max(o_orderdate) AS last_order
         FROM orders GROUP BY o_orderstatus, o_orderpriority
         ORDER BY o_orderstatus, o_orderpriority""",
    "q_zorder_layout" -> graft.ops.Layout.zOrderLayoutSql,
    "q_dpp_join" -> graft.ops.Layout.dppJoinSql,
    "q_partitioned_parquet" ->
      """SELECT event_type, count(*) AS cnt FROM events
         WHERE year(ts) = 2024 AND month(ts) = 1
         GROUP BY event_type ORDER BY event_type""",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         sum(l_quantity) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
         sum(l_quantity) / count(*) AS avg_qty,
         count(*) AS cnt
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
         sum(l_quantity) AS sum_qty,
         CAST(grouping(l_returnflag, l_linestatus) AS INT) AS gid
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
         CAST(grouping(o_orderstatus, o_orderpriority) AS INT) AS gid
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
         CAST(grouping(o_orderstatus, o_orderpriority) AS INT) AS gid
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "q_join_left" ->
      """SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
         FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
         GROUP BY c.c_custkey ORDER BY c_custkey""",
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders)
         ORDER BY c_custkey""",
    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         ORDER BY c_custkey""",
    "q_set_union" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
         UNION
         SELECT user_id FROM events WHERE event_type = 'purchase'
         ORDER BY user_id""",
    "q_set_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
         INTERSECT
         SELECT user_id FROM events WHERE event_type = 'purchase'
         ORDER BY user_id""",
    "q_set_except" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
         EXCEPT
         SELECT user_id FROM events WHERE event_type = 'purchase'
         ORDER BY user_id""",
    "q5_shape" -> Analytics.q5ShapeSql,
    "q_set_except_all" -> Analytics.setExceptAllSql,
    "q_set_intersect_all" -> Analytics.setIntersectAllSql,
    "q_join_full" -> Analytics.joinFullSql,
    "q_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q_window_lag" ->
      """SELECT event_id, user_id, value,
         lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
         lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
         FROM events ORDER BY event_id""",
    "q_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
         sum(l_quantity) OVER (PARTITION BY l_suppkey
           ORDER BY l_shipdate, l_orderkey, l_linenumber,
                    l_partkey, l_quantity, l_extendedprice
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
         FROM lineitem
         ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber, running_qty""",
    "q_window_range_frame" -> Analytics.windowRangeFrameSql,
    "q_window_rank" ->
      """SELECT c_custkey, c_nationkey, c_acctbal,
         CAST(rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS INT) AS bal_rank,
         CAST(dense_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS INT) AS bal_dense_rank
         FROM customer ORDER BY c_custkey""",
    "q_window_distribution" -> Analytics.windowDistributionSql,
    "q_window_first_last" -> Analytics.windowFirstLastSql,
    "q_conditional_agg" -> Analytics.conditionalAggSql,
    "q_date_arithmetic" -> Analytics.dateArithmeticSql,
    "q_mode" -> Analytics.modeAggSql,
    "q_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
         FROM events ORDER BY event_id""",
    "q_variant_extract" -> Analytics.variantExtractSql,
    "q_sql_udf" -> Analytics.sqlUdfSql,
    "q_collation" -> Analytics.collationGroupSql,
    "q_window_nth" -> Analytics.windowNthSql,
    "q_array_funcs" ->
      """SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
         embedding[1] AS first_val, embedding[64] AS last_val, label
         FROM embeddings ORDER BY vec_id""",
    "q_string_funcs" ->
      """SELECT p_partkey, upper(p_name) AS uname, substr(p_name, 1, 5) AS prefix5,
         CAST(length(p_name) AS INT) AS name_len,
         replace(p_brand, '#', '-') AS brand_dash,
         (p_type LIKE '%ECO%') AS is_economy
         FROM part ORDER BY p_partkey""",
    "q_case_math" ->
      """SELECT o_orderkey,
         CASE WHEN o_totalprice >= 200000 THEN 'large'
              WHEN o_totalprice >= 100000 THEN 'medium'
              ELSE 'small' END AS bucket,
         round(o_totalprice, 0) AS price_rounded,
         CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
         CAST(ceil(o_totalprice) AS BIGINT) AS price_ceil,
         abs(o_totalprice - 150000.0) AS dist_150k,
         sqrt(o_totalprice) AS price_sqrt,
         o_orderkey % 10 AS key_mod
         FROM orders ORDER BY o_orderkey""",
    "q_having" ->
      """SELECT o_custkey, count(*) AS n FROM orders
         GROUP BY o_custkey HAVING count(*) >= 15 ORDER BY o_custkey""",
    "q_above_avg" ->
      """SELECT c_custkey, c_nationkey, c_acctbal FROM customer c
         WHERE c_acctbal > (
           SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
           FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
         ORDER BY c_custkey""",
    "q_tumbling_window" ->
      """SELECT date_trunc('hour', ts) AS win_start, count(*) AS cnt,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1 ORDER BY win_start""",
    "q_sessionize" ->
      """WITH e AS (
           SELECT user_id, event_id, ts,
             lag(epoch_ms(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
           FROM events),
         m AS (
           SELECT user_id, event_id, ts,
             CASE WHEN prev_ms IS NULL OR epoch_ms(ts) - prev_ms > 1800000
                  THEN 1 ELSE 0 END AS new_sess
           FROM e),
         sx AS (
           SELECT user_id, event_id, ts,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
           FROM m)
         SELECT user_id, sess_id, count(*) AS n_events,
                min(ts) AS sess_start, max(ts) AS sess_end
         FROM sx GROUP BY user_id, sess_id ORDER BY user_id, sess_id""",
    "q_agg_suite" ->
      """SELECT l_returnflag, min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
         sum(l_quantity) / count(*) AS avg_qty,
         count(DISTINCT l_partkey) AS n_parts,
         max(l_shipdate) AS last_ship
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_dedup_exact" -> Dedup.exactDedupSql,
    "q_dedup_fingerprint" -> Dedup.fingerprintDedupSql,
    "q_dedup_minhash" -> Dedup.minhashPairsSql,
    "q_dedup_simhash" -> Dedup.simhashPairsSql,
    "q_dedup_ngram_jaccard" -> Dedup.ngramJaccardPairsSql,
    "q_containment" -> Dedup.containmentPairsSql,
    "q_ngram_novelty" -> Dedup.ngramNoveltySql,
    "q_dup_spans" -> Dedup.dupSpansSql,
    "q_dedup_savings" -> Dedup.dedupSavingsSql,
    "q_winnow_fps" -> Dedup.winnowFingerprintsSql,
    "q_dedup_winnow" -> Dedup.winnowPairsSql,
    "q_cdc_chunks" -> Dedup.cdcChunkMapSql,
    "q_cdc_shared" -> Dedup.cdcSharedChunksSql,
    "q_dedup_clusters" -> Dedup.dedupClustersSql,
    "q_dedup_canonical" -> Dedup.canonicalKeepSql,
    "q_vec_quantize" -> Similarity.quantizeVectorsSql,
    "q_rand_projection" -> Similarity.randProjectionSql,
    "q_cluster_profile" -> Similarity.clusterProfileSql,
    "q_hard_negatives" -> Similarity.hardNegativesSql,
    "q_pmi_pairs" -> TextAnalysis.pmiPairsSql,
    "q_len_hist" -> TextAnalysis.lenHistSql,
    "q_dq_detect" -> graft.ops.Quality.dqDetectSql,
    "q_ann_topk" -> Similarity.annTopKSql,
    "q_ann_lsh" -> Similarity.annLshSql,
    "q_ann_ivf" -> Similarity.annIvfSql,
    // The standing index moves the cost regime (build-once bucketed
    // parquet, probe-only queries), never the semantics — same oracle.
    "q_ann_ivf_standing" -> Similarity.annIvfSql,
    "q_ann_ivf_append" -> graft.llm.AnnIndex.annIvfAppendSql,
    "q_ann_ivf_delete" -> graft.llm.AnnIndex.annIvfDeleteSql,
    "q_ann_ivf_rescore" -> Similarity.annIvfRescoreSql,
    "q_mmr_rerank" -> Similarity.mmrRerankSql,
    "q_bm25_topk" -> Retrieval.bm25Sql,
    // Standing index: persistence moves the cost regime (build-once
    // bucketed postings, partition-pruned probes), never the semantics.
    "q_bm25_standing" -> Retrieval.bm25Sql,
    "q_bm25_standing_delete" -> Retrieval.bm25DeleteSql,
    "q_hybrid_rrf" -> Retrieval.hybridRrfSql,
    "q_tfidf_top" -> TextAnalysis.tfidfTopSql,
    "q_pii_scrub" -> TextAnalysis.piiScrubSql,
    "q_boilerplate_scrub" -> TextAnalysis.boilerplateScrubSql,
    "q_repetition" -> TextAnalysis.repetitionSql,
    "q_contamination" -> TextAnalysis.contaminationSql,
    "q_token_budget" -> TextAnalysis.tokenBudgetSampleSql,
    "q_train_split" -> TextAnalysis.trainSplitSql,
    "q_shard_manifest" -> TextAnalysis.shardManifestSql,
    "q_source_overlap" -> Dedup.sourceOverlapSql,
    "q_mixture_rebalance" -> TextAnalysis.mixtureRebalanceSql,
    "q_lm_perplexity" -> TextAnalysis.lmPerplexitySql,
    // Same result relation as q_lm_perplexity by design — the open-vocab
    // path changes the physical join strategy, not the arithmetic.
    "q_lm_ppl_openvocab" -> TextAnalysis.lmPerplexitySql,
    "q_ppl_buckets" -> TextAnalysis.pplBucketsSql,
    "q_source_scorecard" -> TextAnalysis.sourceScorecardSql,
    "q_seq_pack" -> Packing.seqPackSql,
    "q_doc_chunks" -> Packing.docChunksSql,
    "q_pad_waste" -> Packing.padWasteSql,
    "q_cosine_pairs" -> Similarity.cosinePairsSql,
    "q_semdedup" -> Similarity.semDedupSql,
    "q_diverse_sample" -> Similarity.diverseSampleSql,
    "q_text_quality" -> TextAnalysis.qualitySql,
    "q_gopher_rules" -> QualitySignals.gopherRulesSql,
    "q_word_entropy" -> QualitySignals.wordEntropySql,
    "q_dsir_weights" -> QualitySignals.dsirWeightsSql,
    "q_source_drift" -> QualitySignals.sourceDriftSql,
    "q_quality_sample" -> QualitySignals.qualityWeightedSampleSql,
    "q_zipf_slope" -> CorpusStats.zipfSlopeSql,
    "q_bpe_pairs" -> CorpusStats.bpePairsSql,
    "q_lang_id" -> TextAnalysis.langIdSql,
    "q_token_counts" -> TextAnalysis.tokenCountsSql,
    "q_bpe_merges" -> graft.llm.Bpe.bpeMergesSql,
    "q_bpe_apply" -> graft.llm.Bpe.bpeApplySql,
    "q_bpe_standing" -> graft.llm.Bpe.bpeApplySql,
    "q_bpe_exhaustion" -> graft.llm.Bpe.bpeExhaustionSql,
    "q_hash_sample" -> TextAnalysis.hashSampleSql,
    "q_stratified_sample" -> TextAnalysis.stratifiedSampleSql,
    "q_media_meta" -> Multimodal.mediaMetaSql,
    "q_media_features" -> Multimodal.mediaFeaturesSql,
    "q_media_frames" -> Multimodal.mediaFramesSql,
    "q_media_motion" -> Multimodal.mediaMotionSql,
    "q_media_audio" -> Multimodal.mediaAudioSql,
    "q_cached_fanout" -> Execution.cachedFanoutSql,
    "q_surrogate_ids" -> Execution.surrogateIdsSql,
    "q_pivot" -> Execution.pivotCountsSql,
    "q_explode_words" -> Execution.explodeTopWordsSql,
    "q_variance_agg" -> Execution.varianceAggSql,
    "q_compaction" -> Execution.compactionSql,
    // streaming complete-mode window agg == the batch tumbling window
    "q_stream_tumbling" ->
      """SELECT date_trunc('hour', ts) AS win_start, count(*) AS cnt,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1 ORDER BY win_start""",
    "q_stream_static_join" -> graft.streaming.EventStreams.streamStaticJoinSql,
    "q_stream_dedup" -> graft.streaming.EventStreams.streamingDedupSql,
    "q_stream_stream_join" -> graft.streaming.EventStreams.streamStreamJoinSql,
    "q_stream_stream_outer" -> graft.streaming.EventStreams.streamStreamOuterSql,
    "q_stream_session_window" -> graft.streaming.EventStreams.sessionWindowStreamSql,
    "q_stream_file_sink" -> graft.streaming.EventStreams.streamFileSinkSql,
    "q_stream_cdc_apply" -> graft.streaming.EventStreams.streamCdcApplySql,
    "q_stream_ingest_dedup" -> graft.streaming.DocStreams.streamIngestDedupSql,
    "q_stream_dedup_evolving" -> graft.streaming.DocStreams.streamDedupEvolvingSql,
    "q_stream_quality_gate" -> graft.streaming.DocStreams.streamQualityGateSql,
    "q_stream_decontam" -> graft.streaming.DocStreams.streamDecontamSql,
    "q_stream_decontam_evolving" -> graft.streaming.DocStreams.streamDecontamEvolvingSql,
    // Same oracle as the auto row: the forced distributed regime
    // (bucketed-posting-append index) moves the plan, not the semantics.
    "q_stream_decontam_evolving_dist" -> graft.streaming.DocStreams.streamDecontamEvolvingSql,
    "q_decontam_evolving_dist_delete" -> graft.streaming.DocStreams.decontamEvolvingDistDeleteSql,
    "q_stream_vec_ingest" -> graft.streaming.VecStreams.streamVecIngestSql,
    "q_stream_anomaly_gate" -> graft.streaming.EventStreams.streamAnomalyGateSql,
    "q_range_join" -> Advanced.rangeJoinSql,
    "q_sliding_window" -> Analytics.slidingWindowSql,
    "q_basket_pairs" -> Analytics.basketPairsSql,
    "q_json_roundtrip" -> Advanced.jsonRoundtripSql,
    "q_asof_join" -> Advanced.asofJoinSql,
    "q_asof_native" -> Advanced.asofJoinSql,
    "q_median" -> Advanced.medianSql,
    "q_corr" -> Advanced.corr2Sql,
    "q_salted_join" -> Advanced.saltedJoinSql,
    "q_bucketed_join" -> Advanced.bucketedJoinSql,
    "q_topk_per_key" -> Advanced.topKPerKeySql,
    "q_dq_report" -> graft.ops.Quality.dqReportSql,
    "q_scd2" -> graft.ops.Quality.scd2BuildSql,
    "q_merge_upsert" -> graft.ops.Quality.mergeUpsertSql,
    "q_skew_report" -> graft.ops.Quality.skewReportSql,
    // HLL sketch internals are engine-specific; the portable surface is the
    // exact count + the error-bound boolean, both verified by DuckDB.
    "q_approx_distinct" -> Advanced.approxDistinctSql,
    "q_heavy_hitters" -> graft.ops.Sketches.heavyHittersSql,
    "q_bloom_join" -> graft.ops.Sketches.bloomSemiJoinSql,
    "q_approx_quantile" -> graft.ops.Sketches.approxQuantileSql,
    "q_pagerank" -> graft.ops.Graph.pageRankSql,
    // Same oracle on purpose: the _dist rows differ from their broadcast
    // twins only by join hint, so their output must be identical.
    "q_pagerank_dist" -> graft.ops.Graph.pageRankSql,
    "q_reach_bfs" -> graft.ops.Graph.reachBfsSql,
    "q_reach_bfs_dist" -> graft.ops.Graph.reachBfsSql,
    "q_dedup_incremental" -> Dedup.incrementalDedupSql,
    // Standing index: persistence moves the cost regime (build-once
    // bucketed shingle postings, joint-df-cap reconciled probes), never
    // the semantics.
    "q_dedup_standing" -> Dedup.incrementalDedupSql,
    "q_dedup_standing_commit" -> Dedup.standingCommitIngestSql,
    "q_dedup_standing_delete" -> Dedup.standingDeleteSql,
    "q_dup_ngram_fraction" -> Dedup.dupNgramFractionSql,
    "q_curation_funnel" -> TextAnalysis.curationFunnelSql,
    "q_event_funnel" -> graft.ops.EventAnalytics.eventFunnelSql,
    "q_event_paths" -> graft.ops.EventAnalytics.eventPathsSql,
    "q_funnel_windowed" -> graft.ops.EventAnalytics.funnelWindowedSql,
    "q_ab_test" -> graft.ops.EventAnalytics.abTestSql,
    "q_cohort_retention" -> graft.ops.EventAnalytics.cohortRetentionSql,
    "q_event_transitions" -> graft.ops.EventAnalytics.eventTransitionsSql,
    "q_gap_fill" -> graft.ops.EventAnalytics.gapFillSql,
    "q_anomaly_mad" -> graft.ops.EventAnalytics.anomalyMadSql,
    "q_rfm_segments" -> graft.ops.EventAnalytics.rfmSegmentsSql,
    "q_fuzzy_join" -> graft.ops.Linkage.fuzzyJoinSql,
    "q_jw_linkage" -> graft.ops.Linkage.jwLinkageSql,
    "q_entity_resolve" -> graft.ops.Linkage.resolveEntitiesSql,
    "q_table_stats" -> graft.ops.Stats.tableStatsSql,
    "q_equidepth_hist" -> graft.ops.Stats.equidepthHistSql,
    "q_triangle_count" -> graft.ops.Graph.triangleCountsSql,
    "q_cusum_shift" -> graft.ops.EventAnalytics.cusumShiftSql,
    "q_funnel_latency" -> graft.ops.EventAnalytics.funnelLatencySql,
    "q_attribution" -> graft.ops.EventAnalytics.lastTouchAttributionSql,
    "q_snapshot_diff" -> graft.ops.Quality.snapshotDiffSql,
    "q_incr_agg" -> graft.ops.Quality.incrAggSql,
    "q_schema_merge" -> Relational.schemaMergeRoundtripSql,
  )
}
