package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{EtlQueries, ScaleQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator/query from SURVEY.md §2; the
  * matching entry in [[oracleSql]] is ANSI SQL (DuckDB dialect) over the
  * same parquet fixture tables that recomputes the expected result exactly.
  * Column names and types are aligned on both sides (BIGINT for computed
  * ints, DOUBLE for money after exact DECIMAL sums, explicit ORDER BY).
  */
object SparkEntry {

  /** The fixture set [[entry]] reads; also `graft.Dev`'s default. */
  val entrySfDir = "/root/testdata/sf0.001"

  /** Flagship query on [[entrySfDir]]; its smoke check is rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    EtlQueries.qJoinFx(spark, entrySfDir)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_load_fb" -> (EtlQueries.qLoadFb _),
    "q_load_fx" -> (EtlQueries.qLoadFx _),
    "q_join_fx" -> (EtlQueries.qJoinFx _),
    "q_join_fx_asof" -> (EtlQueries.qJoinFxAsof _),
    "q_unnest" -> (EtlQueries.qUnnest _),
    "q_roas" -> (EtlQueries.qRoas _),
    "q_daily" -> (EtlQueries.qDaily _),
    "q_topk" -> (EtlQueries.qTopK _),
    "q_window" -> (EtlQueries.qWindow _),
    "q_window_native" -> (EtlQueries.qWindowNative _),
    "q_rollup" -> (EtlQueries.qRollup _),
    "q_prune" -> (EtlQueries.qPrune _),
    "q_idem" -> (EtlQueries.qIdem _),
    "q_idem_keyed" -> (EtlQueries.qIdemKeyed _),
    // X-* extension operators (SURVEY.md §2.7 / builder mandate)
    "x_text_stats" -> (llm.TextAnalysis.qualityByLang _),
    "x_token_count" -> (llm.TextAnalysis.tokenCounts _),
    "x_lang_id" -> (llm.TextAnalysis.langId _),
    "x_fingerprint" -> (llm.TextAnalysis.fingerprints _),
    "x_hash_features" -> (llm.TextAnalysis.hashFeatures _),
    "x_dedup_exact" -> (llm.Dedup.exact _),
    "x_dedup_minhash" -> (llm.Dedup.minhashPairs _),
    "x_contrastive" -> (llm.Dedup.contrastivePairs _),
    "x_dedup_simhash" -> (llm.Dedup.simhashPairs _),
    "x_ngram_jaccard" -> (llm.Dedup.ngramJaccard _),
    "x_sim_brute" -> (llm.Similarity.bruteTopK _),
    "x_sim_lsh" -> (llm.Similarity.lshTopK _),
    "x_events_daily" -> (llm.Events.daily _),
    "x_latest" -> (llm.Events.latest _),
    "x_funnel" -> (llm.Events.funnel _),
    "x_events_sessions" -> (llm.Events.sessions _),
    "x_stream_daily" -> (llm.Events.streamingDaily _),
    "x_hll" -> (llm.Events.approxDistinct _),
    "x_mm_meta" -> (llm.Multimodal.meta _),
    "x_mm_features" -> (llm.Multimodal.features _),
    "x_mm_frames" -> (llm.Multimodal.frames _),
    "x_sim_ivf" -> (llm.Similarity.ivfTopK _),
    "x_sim_ivfpq" -> (llm.Similarity.ivfpqTopK _),
    "x_sim_pq_serve" -> (graft.queries.AnnServe.pqServe _),
    "x_sim_filtered" -> (graft.queries.AnnServe.simFiltered _),
    "x_sim_filtered_pq" -> (graft.queries.AnnServe.filteredPqServe _),
    "x_ann_compact" -> (graft.queries.AnnServe.compactServe _),
    "x_ann_delete" -> (graft.queries.AnnServe.deleteServe _),
    "x_ann_stats" -> (llm.Similarity.annStats _),
    "x_ann_rebalance" -> (llm.Similarity.annRebalance _),
    "x_curriculum" -> (llm.TextAnalysis.curriculum _),
    "x_sim_incr" -> (llm.Similarity.simIncrTopK _),
    "x_sim_rrf" -> (llm.Similarity.rrfTopK _),
    "x_rank_metrics" -> (llm.Similarity.rankMetrics _),
    "x_hubness" -> (llm.Similarity.hubness _),
    "x_kcenter" -> (llm.Similarity.kcenter _),
    "x_mmr" -> (llm.Similarity.mmrRerank _),
    "q_msg" -> (etl.Trigger.dispatch _),
    "q_trigger_date" -> (etl.Trigger.currencyTrigger _),
    "q_fx_gate" -> (etl.RatesSource.gateStats _),
    "q_dsv2" -> (EtlQueries.qDsv2 _),
    "q_sink_dsv2" -> (EtlQueries.qSinkDsv2 _),
    "q_dsv2_agg" -> (EtlQueries.qDsv2Agg _),
    "q_stream_load" -> (EtlQueries.qStreamLoad _),
    "q_stream_dsv2" -> (EtlQueries.qStreamDsv2 _),
    "q_stream_sink" -> (EtlQueries.qStreamSink _),
    "x_hll_merge" -> (llm.Events.approxDistinctMerged _),
    "x_stream_sessions" -> (llm.Events.streamingSessions _),
    "x_stream_sessions_inc" -> (llm.Events.streamingSessionsIncremental _),
    "x_skew_salted" -> (ScaleQueries.saltedAgg _),
    "x_skew_join" -> (ScaleQueries.saltedJoin _),
    "x_dedup_embed" -> (ScaleQueries.embedDups _),
    "x_bucket_join" -> (ScaleQueries.bucketedJoin _),
    "x_quality_filter" -> (llm.TextAnalysis.qualityFilter _),
    "x_pr_curve" -> (llm.TextAnalysis.prCurve _),
    "x_kanon" -> (llm.Profile.kanon _),
    "x_priority_sample" -> (llm.Sampling.prioritySample _),
    "x_group_split" -> (llm.Sampling.groupSplit _),
    "x_rebalance" -> (llm.Sampling.rebalance _),
    "x_changepoint" -> (llm.Analytics.changepoint _),
    "x_autocorr" -> (llm.Analytics.autocorr _),
    "x_did" -> (llm.Analytics.did _),
    "x_conformal" -> (llm.Analytics.conformal _),
    "x_chi2_drift" -> (llm.Analytics.chi2Drift _),
    "x_mann_whitney" -> (llm.Analytics.mannWhitney _),
    "x_theilsen" -> (llm.Analytics.theilSen _),
    "x_survival" -> (llm.Analytics.survival _),
    "x_cuped" -> (llm.Analytics.cuped _),
    "x_stream_anomaly" -> (llm.StreamingOps.streamingAnomaly _),
    "x_bootstrap" -> (llm.Analytics.bootstrapCi _),
    "x_source_sim" -> (llm.Dedup.sourceSimilarity _),
    "x_dedup_pipeline" -> (llm.Dedup.dedupPipeline _),
    "x_dedup_cluster" -> (llm.Dedup.dedupCluster _),
    "x_canonical" -> (llm.Dedup.canonical _),
    "x_vocab" -> (llm.TextAnalysis.vocabulary _),
    "x_split" -> (llm.Sampling.split _),
    "x_token_budget" -> (llm.Sampling.tokenBudget _),
    "x_decontam" -> (llm.Sampling.decontamination _),
    "x_clean_split" -> (llm.Sampling.cleanSplit _),
    "x_range_join" -> (ScaleQueries.rangeJoin _),
    "x_quantiles" -> (llm.Events.quantiles _),
    "x_pivot" -> (llm.Events.pivotDaily _),
    "x_unpivot" -> (llm.Events.unpivotDaily _),
    "x_cube" -> (llm.Events.cubeMonthly _),
    "x_retention" -> (llm.Events.retention _),
    "x_sliding" -> (llm.Events.slidingDaily _),
    "x_stream_dedup" -> (llm.StreamingOps.streamingDedup _),
    "x_stream_neardup" -> (llm.StreamingOps.streamingNearDup _),
    "x_stream_sim" -> (llm.StreamingOps.streamingSimIngest _),
    "x_stream_ann_delete" -> (llm.StreamingOps.streamingAnnDelete _),
    "x_stream_mm" -> (llm.StreamingOps.streamingMediaIngest _),
    "x_stream_join" -> (llm.StreamingOps.streamingJoin _),
    "x_connected" -> (llm.Graph.components _),
    "x_stratified" -> (llm.Sampling.stratified _),
    "x_heavy_hitters" -> (llm.TextAnalysis.heavyHitters _),
    "x_stream_upsert" -> (etl.Cdc.streamUpsert _),
    "q_delete" -> (etl.Cdc.delete _),
    "q_compact" -> (EtlQueries.qCompact _),
    "q_merge" -> (EtlQueries.qMerge _),
    "x_window_range" -> (llm.Events.rangeWindow _),
    "x_zorder" -> (ScaleQueries.zorderQuery _),
    "x_file_skip" -> (ScaleQueries.fileSkip _),
    "x_bloom_join" -> (ScaleQueries.bloomJoin _),
    "x_scd2" -> (EtlQueries.qScd2 _),
    "x_graph_degree" -> (llm.Graph.degrees _),
    "x_pack" -> (llm.Sampling.pack _),
    "x_kmeans" -> (llm.Similarity.kmeansAssign _),
    "x_vec_avg" -> (llm.Similarity.labelCentroids _),
    "q_sql" -> (EtlQueries.qSql _),
    "x_time_travel" -> (etl.Cdc.timeTravel _),
    "x_tfidf" -> (llm.TextAnalysis.tfidf _),
    "x_cms" -> (llm.TextAnalysis.cmsEstimates _),
    "x_pii" -> (llm.TextAnalysis.piiStats _),
    "x_text_norm" -> (llm.TextAnalysis.normalizeStats _),
    "q_dsv2_sql" -> (EtlQueries.qDsv2Sql _),
    "x_histogram" -> (llm.Analytics.histogram _),
    "x_incr_agg" -> (llm.Analytics.incrementalAgg _),
    "x_overlap" -> (llm.Analytics.overlap _),
    "x_kmeans_iter" -> (llm.Similarity.kmeansIter _),
    "x_semdedup" -> (llm.Similarity.semanticDedup _),
    "x_bm25" -> (llm.TextAnalysis.bm25 _),
    "x_hybrid_rrf" -> (llm.TextAnalysis.hybridRrf _),
    "x_anomaly" -> (llm.Analytics.anomaly _),
    "q_csv" -> (etl.CsvIngest.qCsv _),
    "q_orc" -> (etl.OrcIngest.qOrc _),
    "x_chunk" -> (llm.TextAnalysis.chunk _),
    "x_ngram_lm" -> (llm.TextAnalysis.ngramLm _),
    "x_interleave" -> (llm.Sampling.interleave _),
    "x_mad" -> (llm.Analytics.mad _),
    "x_diversity" -> (llm.TextAnalysis.charDiversity _),
    "x_vacuum" -> (etl.Cdc.vacuum _),
    "q_evolve" -> (etl.SchemaEvolve.qEvolve _),
    "x_change_feed" -> (etl.Cdc.changeFeed _),
    "x_embed_quant" -> (llm.Quantize.embedQuant _),
    "x_rand_proj" -> (llm.Quantize.randProj _),
    "x_pca" -> (llm.Pca.pca _),
    "x_sim_multiprobe" -> (llm.Similarity.multiprobeTopK _),
    "x_sim_knngraph" -> (llm.Similarity.knngraphTopK _),
    "x_knngraph_stats" -> (llm.Similarity.knngraphStats _),
    "x_profile" -> (llm.Profile.profile _),
    "x_optout" -> (etl.OptOut.optOut _),
    "x_boilerplate" -> (llm.TextAnalysis.boilerplate _),
    "x_vocab_coverage" -> (llm.TextAnalysis.vocabCoverage _),
    "x_pagerank" -> (llm.Graph.pageRank _),
    "x_labelprop" -> (llm.Graph.labelProp _),
    "x_grouping_sets" -> (llm.Events.groupingSets _),
    "x_window_funcs" -> (llm.Events.windowFuncs _),
    "x_cooccur" -> (llm.TextAnalysis.cooccur _),
    "x_sample_topk" -> (llm.Sampling.sampleTopK _),
    "x_rep_ngram" -> (llm.TextAnalysis.repNgram _),
    "x_gopher" -> (llm.TextAnalysis.gopherRules _),
    "x_triangles" -> (llm.Graph.triangles _),
    "x_global_ids" -> (llm.Sampling.globalIds _),
    "x_fuzzy_join" -> (llm.Dedup.fuzzyJoin _),
    "x_decay" -> (llm.Events.decayed _),
    "x_transitions" -> (llm.Events.transitions _),
    "q_join_fx_asof_tol" -> (EtlQueries.qJoinFxAsofTol _),
    "x_shortest_path" -> (llm.Graph.shortestPaths _),
    "x_rfm" -> (llm.Analytics.rfm _),
    "x_dsir" -> (llm.Sampling.dsir _),
    "x_mixture" -> (llm.Sampling.mixture _),
    "x_shard_manifest" -> (llm.Sampling.shardManifest _),
    "x_novelty" -> (llm.TextAnalysis.ngramNovelty _),
    "x_bpe" -> (llm.TextAnalysis.bpeMerges _),
    "x_gini" -> (llm.TextAnalysis.gini _),
    "x_drift" -> (llm.Analytics.drift _),
    "x_embed_drift" -> (llm.Analytics.embedDrift _),
    "x_freshness" -> (llm.Events.freshness _),
    "x_soft_dedup" -> (llm.Dedup.softDedup _),
    "x_knn_classify" -> (llm.Similarity.knnClassify _),
    "x_proto_prune" -> (llm.Similarity.protoPrune _),
    "x_ann_curve" -> (llm.Similarity.annCurve _),
    "x_dataset_card" -> (llm.Pipeline.datasetCard _),
    "x_stream_pipeline" -> (llm.StreamingOps.streamingPipeline _),
    "x_maxsim" -> (llm.TextAnalysis.maxsim _),
    "x_betweenness" -> (llm.Graph.betweenness _),
    "x_equidepth" -> (llm.Analytics.equidepth _),
    "x_attrib_last" -> (llm.Attribution.lastTouch _),
    "x_attrib_pos" -> (llm.Attribution.positionCredit _),
    "x_attrib_decay" -> (llm.Attribution.timeDecayCredit _),
    "x_incr_join" -> (llm.Analytics.incrementalJoin _),
    "x_stream_attrib" -> (llm.Attribution.streamingAttribution _),
    "x_interval_merge" -> (llm.Attribution.intervalMerge _),
    "x_freq_cap" -> (llm.Attribution.freqCap _),
    "x_stream_enrich" -> (llm.StreamingOps.streamingEnrich _),
    "x_decontam_ngram" -> (llm.Sampling.decontaminationNgram _),
    "x_bpe_apply" -> (llm.TextAnalysis.bpeApply _),
    "x_linreg" -> (llm.Analytics.linreg _),
    "x_winsorize" -> (llm.Analytics.winsorize _),
    "x_observe" -> (llm.Analytics.observeMetrics _),
    "x_gapfill" -> (llm.Analytics.gapfill _),
    "x_bitmap_distinct" -> (llm.Events.bitmapDistinct _),
    "x_kmv" -> (llm.Events.kmvSketch _),
    "x_dup_spans" -> (llm.Dedup.dupSpans _),
    "x_dup_spans_cut" -> (llm.Dedup.dupSpansCut _),
    "x_stream_join_outer" -> (llm.StreamingOps.streamingJoinOuter _),
    "x_basket" -> (llm.Analytics.basket _),
    "x_ab_test" -> (llm.Analytics.abTest _),
    "x_skyline" -> (ScaleQueries.skyline _),
    "x_join_card" -> (ScaleQueries.joinCard _),
    "x_path_topk" -> (llm.Events.pathTopK _),
    "x_temp_mix" -> (llm.Sampling.tempMix _),
    "x_containment" -> (llm.Dedup.containment _),
    "x_mm_dedup" -> (llm.Multimodal.payloadDedup _),
    "x_mm_neardup" -> (llm.Multimodal.payloadNearDup _),
    "x_mm_cluster" -> (llm.Multimodal.payloadCluster _),
    "x_mm_pipeline" -> (llm.Multimodal.mmPipeline _),
    "x_mm_text_join" -> (llm.Multimodal.mmTextJoin _),
    "x_quantile_sketch" -> (llm.QuantileSketch.quantileSketch _),
    "x_kcore" -> (llm.Graph.kcore _),
    "x_link_pred" -> (llm.Graph.linkPred _),
    "x_stream_kmv" -> (llm.StreamingOps.streamingKmv _),
    "x_ltv" -> (llm.Events.ltv _),
    "x_time_to_convert" -> (llm.Events.timeToConvert _),
    "x_ab_srm" -> (llm.Analytics.abSrm _),
    "x_bloom_fpr" -> (llm.Events.bloomFpr _),
    "x_marginal_coverage" -> (llm.Dedup.marginalCoverage _),
    "x_impute" -> (llm.Analytics.impute _),
    "x_target_enc" -> (llm.Analytics.targetEnc _),
    "x_closeness" -> (llm.Graph.closeness _),
    "x_modularity" -> (llm.Graph.modularity _),
    "x_lsh_curve" -> (llm.Dedup.lshCurve _),
    "x_ab_power" -> (llm.Analytics.abPower _),
    "x_mm_resize" -> (llm.Multimodal.resize _),
    "x_eval_metrics" -> (llm.TextAnalysis.evalMetrics _),
    "x_json_extract" -> (llm.Events.jsonExtract _),
    "x_cohort" -> (llm.Events.cohort _),
    "x_star_join" -> (ScaleQueries.starJoin _),
    "x_lsh_recall" -> (llm.Dedup.lshRecall _),
    "x_stream_late" -> (llm.StreamingOps.streamingLateMetrics _),
    "x_expectations" -> (etl.Expectations.expectations _),
    "x_sessions_dynamic" -> (llm.Events.sessionsDynamic _),
    "x_dedup_incr" -> (llm.Dedup.dedupIncremental _),
    "x_pipeline" -> (llm.Pipeline.stageCounts _),
    "q_dsv2_fn" -> (EtlQueries.qDsv2Fn _),
    "q_dsv2_aggfn" -> (EtlQueries.qDsv2AggFn _),
    "x_dau" -> (llm.Events.dauWauMau _),
    "x_seasonality" -> (llm.Events.seasonality _),
    "x_scd2_join" -> (EtlQueries.qScd2Join _),
  )

  /** Shared CTE chain for the thresholded undirected trade graph
    * (x_kcore, x_link_pred, x_closeness): above-mean edges by the exact
    * integer cross-multiply, self-loops dropped, symmetrized + dedup'd.
    * `e` MATERIALIZED: the unrolled rounds reference it many times.
    */
  private val strongUndCtes: String =
    """e AS MATERIALIZED (
      |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
      |         CAST(count(*) AS BIGINT) AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  GROUP BY 1, 2),
      |t AS (SELECT CAST(sum(w) AS BIGINT) AS sw, CAST(count(*) AS BIGINT) AS ne FROM e),
      |st AS (SELECT src, dst FROM e, t WHERE w * ne > sw AND src <> dst),
      |u AS (SELECT DISTINCT a, b FROM (
      |        SELECT src AS a, dst AS b FROM st
      |        UNION ALL SELECT dst AS a, src AS b FROM st))""".stripMargin

  /** Shared LPA CTE chain (x_labelprop, x_modularity): the weighted
    * symmetrized graph + the unrolled label-propagation rounds.
    * Materialized per the DuckDB re-inlining hazard.
    */
  private def lpaRound(i: Int): String = {
    val p = s"l${i - 1}"
    s"""s$i AS (
       |  SELECT und.src AS nid, $p.lab AS lab, sum(und.w) AS wsum
       |  FROM und JOIN $p ON und.dst = $p.id GROUP BY 1, 2),
       |a$i AS (
       |  SELECT nid AS id, lab FROM (
       |    SELECT nid, lab,
       |           row_number() OVER (PARTITION BY nid
       |             ORDER BY wsum DESC, lab) AS rn
       |    FROM s$i) WHERE rn = 1),
       |l$i AS (
       |  SELECT nodes.id, coalesce(a$i.lab, nodes.id) AS lab
       |  FROM nodes LEFT JOIN a$i ON a$i.id = nodes.id)""".stripMargin
  }

  private val lpaLast: String = s"l${llm.Graph.LpRounds}"

  private val lpaCtes: String =
    s"""e0 AS MATERIALIZED (
       |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
       |         CAST(count(*) AS BIGINT) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  GROUP BY 1, 2),
       |und AS MATERIALIZED (
       |  SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM (
       |    SELECT src, dst, w FROM e0 WHERE src <> dst
       |    UNION ALL
       |    SELECT dst AS src, src AS dst, w FROM e0 WHERE src <> dst)
       |  GROUP BY 1, 2),
       |nodes AS (SELECT DISTINCT src AS id FROM und),
       |l0 AS (SELECT id, id AS lab FROM nodes),
       |${(1 to llm.Graph.LpRounds).map(lpaRound).mkString(",\n")}""".stripMargin

  /** Shared CTE: the insights-shaped rows FbInsightsSource derives from
    * lineitem×orders, recomputed in SQL (FIXTURES.md §B1 derivation).
    */
  /** Shared by x_mm_dedup (batch) and x_stream_mm (the ingest-time
    * sibling, which must land on the identical manifest).
    */
  private val mmDedupOracleSql: String =
    """WITH p AS (
      |  SELECT doc_id, source, md5(text) AS payload_md5,
      |         CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
      |  FROM documents)
      |SELECT payload_md5, CAST(count(*) AS BIGINT) AS n_copies,
      |       CAST(min(doc_id) AS BIGINT) AS keeper_id,
      |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      |       CAST(sum(n_bytes) AS BIGINT) AS bytes_total
      |FROM p GROUP BY payload_md5
      |ORDER BY payload_md5""".stripMargin

  private val fbCte: String =
    """WITH fb AS (
      |  SELECT CAST(o.o_orderdate AS DATE) AS date,
      |         'a-' || l.l_orderkey || '-' || l.l_linenumber AS ad_id,
      |         'ad ' || l.l_orderkey || '-' || l.l_linenumber AS ad_name,
      |         's-' || l.l_suppkey AS adset_id,
      |         'adset ' || l.l_suppkey AS adset_name,
      |         'c-' || (l.l_partkey % 100) AS campaign_id,
      |         'campaign ' || (l.l_partkey % 100) AS campaign_name,
      |         CAST(floor(l.l_quantity) AS BIGINT) AS clicks,
      |         CAST(floor(l.l_quantity) AS BIGINT) * 100 + l.l_linenumber AS impressions,
      |         l.l_extendedprice AS spend,
      |         (l.l_returnflag <> 'N') AS has_actions,
      |         (l.l_linestatus = 'F') AS has_conv,
      |         l.l_linenumber AS ln
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
      |""".stripMargin

  private val ratesCte: String =
    """rates AS (
      |  SELECT DISTINCT CAST(o_orderdate AS DATE) AS date,
      |         'USDUAH' AS currencies,
      |         CAST(20 AS DOUBLE)
      |           + CAST((EXTRACT(DAY FROM o_orderdate) * 37
      |                   + EXTRACT(MONTH FROM o_orderdate) * 11) % 100 AS DOUBLE)
      |             / CAST(100 AS DOUBLE) AS rate
      |  FROM orders)
      |""".stripMargin

  private val flatCols: String =
    """date, ad_id, ad_name, adset_id, adset_name, campaign_id, campaign_name,
      |       clicks, impressions, spend,
      |       CAST(CASE WHEN has_actions THEN 2 ELSE 0 END AS BIGINT) AS n_actions,
      |       CAST(CASE WHEN has_conv THEN 1 ELSE 0 END AS BIGINT) AS n_conversions,
      |       CASE WHEN has_actions THEN 'link_click' END AS first_action_type,
      |       CASE WHEN has_actions THEN CAST(clicks AS VARCHAR) END AS first_action_value,
      |       CASE WHEN has_conv THEN CAST(ln AS VARCHAR) END AS first_conv_value""".stripMargin

  /** Gaps-and-islands sessionization — shared by the session_window batch
    * query and the flatMapGroupsWithState streaming variant (same gap
    * rule, same output).
    */
  private val sessionsSql: String =
    """WITH o AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |         lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      |  FROM events),
      |m AS (
      |  SELECT user_id, ts,
      |         CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE
      |              THEN 1 ELSE 0 END AS new_s
      |  FROM o),
      |g AS (
      |  SELECT user_id,
      |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM m),
      |per AS (SELECT user_id, sid, count(*) AS n FROM g GROUP BY 1, 2)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
      |       CAST(sum(n) AS BIGINT) AS n_events,
      |       CAST(max(n) AS BIGINT) AS max_session_events
      |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → weaker rows-only check.
    */
  def oracleSql: Map[String, String] = Map(
    "q_load_fb" ->
      s"""${fbCte}SELECT $flatCols FROM fb ORDER BY ad_id""",
    "q_load_fx" ->
      s"""WITH $ratesCte SELECT date, currencies, rate FROM rates ORDER BY date""",
    "q_join_fx" ->
      s"""$fbCte, $ratesCte
         |SELECT fb.date AS date, ad_id, campaign_id, spend, rate,
         |       spend * rate AS spend_uah
         |FROM fb JOIN rates ON fb.date = rates.date
         |ORDER BY ad_id""".stripMargin,
    "q_roas" ->
      s"""$fbCte, $ratesCte,
         |j AS (
         |  SELECT campaign_id,
         |         CAST(spend AS DECIMAL(18,2)) * CAST(rate AS DECIMAL(18,2)) AS spend_uah,
         |         CAST(CASE WHEN has_conv THEN ln ELSE 0 END AS BIGINT) AS conv_value,
         |         CAST(CASE WHEN has_conv THEN 1 ELSE 0 END AS BIGINT) AS n_conv
         |  FROM fb JOIN rates ON fb.date = rates.date)
         |SELECT campaign_id,
         |       CAST(sum(spend_uah) AS DOUBLE) AS spend_uah,
         |       CAST(sum(conv_value) AS BIGINT) AS conv_value,
         |       CAST(sum(n_conv) AS BIGINT) AS n_conversions,
         |       CAST(CAST(sum(spend_uah) * 10000 AS BIGINT) // nullif(sum(conv_value), 0) AS BIGINT)
         |         AS cost_per_value_e4
         |FROM j GROUP BY campaign_id ORDER BY campaign_id""".stripMargin,
    // as-of = forward-filled daily dim + equi-join; oracle mirrors the
    // fill with last_value IGNORE NULLS over the same date order
    "q_join_fx_asof" ->
      s"""$fbCte, $ratesCte,
         |g AS (SELECT date, rate FROM rates WHERE EXTRACT(DAY FROM date) % 7 <> 0),
         |filled AS (
         |  SELECT r.date,
         |         last_value(g.rate IGNORE NULLS) OVER (ORDER BY r.date
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rate_asof,
         |         (g.rate IS NULL) AS carried
         |  FROM rates r LEFT JOIN g ON g.date = r.date),
         |f2 AS (SELECT date, rate_asof, carried FROM filled WHERE rate_asof IS NOT NULL)
         |SELECT strftime(fb.date, '%Y-%m') AS month,
         |       CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(CASE WHEN carried THEN 1 ELSE 0 END) AS BIGINT) AS n_carried,
         |       CAST(sum(CAST(spend AS DECIMAL(18,2)) * CAST(rate_asof AS DECIMAL(18,2))) AS DOUBLE) AS spend_uah
         |FROM fb JOIN f2 ON fb.date = f2.date
         |GROUP BY 1 ORDER BY month""".stripMargin,
    // as-of with a staleness bound: same fill, but conversions beyond
    // the tolerance are voided and counted/summed separately
    "q_join_fx_asof_tol" ->
      s"""$fbCte, $ratesCte,
         |g AS (SELECT date, rate FROM rates
         |      WHERE EXTRACT(DAY FROM date) % 7 NOT IN (0, 1)),
         |filled AS (
         |  SELECT r.date,
         |         last_value(g.rate IGNORE NULLS) OVER w AS rate_asof,
         |         r.date - last_value(CASE WHEN g.rate IS NOT NULL THEN g.date END
         |           IGNORE NULLS) OVER w AS staleness
         |  FROM rates r LEFT JOIN g ON g.date = r.date
         |  WINDOW w AS (ORDER BY r.date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |j AS (
         |  SELECT strftime(fb.date, '%Y-%m') AS month, spend, rate_asof, staleness,
         |         (rate_asof IS NOT NULL AND staleness <= ${EtlQueries.AsofToleranceDays}) AS ok
         |  FROM fb JOIN filled ON fb.date = filled.date)
         |SELECT month, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(CASE WHEN ok AND staleness >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_carried,
         |       CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_stale,
         |       CAST(sum(CASE WHEN ok THEN CAST(spend AS DECIMAL(18,2)) * CAST(rate_asof AS DECIMAL(18,2))
         |                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS spend_uah,
         |       CAST(sum(CASE WHEN ok THEN CAST(0 AS DECIMAL(18,2))
         |                     ELSE CAST(spend AS DECIMAL(18,2)) END) AS DOUBLE) AS unpriced_spend
         |FROM j GROUP BY 1 ORDER BY month""".stripMargin,
    "q_unnest" ->
      s"""$fbCte
         |SELECT * FROM (
         |  SELECT 'link_click' AS action_type, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(clicks) AS BIGINT) AS total_value
         |  FROM fb WHERE has_actions
         |  UNION ALL
         |  SELECT 'page_view', CAST(count(*) AS BIGINT), CAST(sum(ln) AS BIGINT)
         |  FROM fb WHERE has_actions
         |  UNION ALL
         |  SELECT NULL, CAST(count(*) AS BIGINT), CAST(NULL AS BIGINT)
         |  FROM fb WHERE NOT has_actions)
         |ORDER BY action_type NULLS FIRST""".stripMargin,
    "q_daily" ->
      s"""$fbCte
         |SELECT date, campaign_id, campaign_name,
         |       CAST(sum(clicks) AS BIGINT) AS clicks,
         |       CAST(sum(impressions) AS BIGINT) AS impressions,
         |       CAST(sum(CAST(spend AS DECIMAL(18,2))) AS DOUBLE) AS spend
         |FROM fb GROUP BY 1, 2, 3
         |ORDER BY date, campaign_id""".stripMargin,
    "q_topk" ->
      s"""$fbCte
         |SELECT campaign_id,
         |       CAST(sum(CAST(spend AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
         |       CAST(sum(clicks) AS BIGINT) AS total_clicks
         |FROM fb GROUP BY 1
         |ORDER BY total_spend DESC, campaign_id LIMIT 10""".stripMargin,
    "q_window" ->
      s"""$fbCte, daily AS (
         |  SELECT date, campaign_id,
         |         CAST(sum(CAST(spend AS DECIMAL(18,2))) AS DOUBLE) AS spend
         |  FROM fb GROUP BY 1, 2)
         |SELECT date, campaign_id, spend, rn FROM (
         |  SELECT date, campaign_id, spend,
         |         CAST(row_number() OVER (PARTITION BY date
         |                ORDER BY spend DESC, campaign_id) AS BIGINT) AS rn
         |  FROM daily) t
         |WHERE rn <= 3 ORDER BY date, rn""".stripMargin,
    "q_window_native" ->
      s"""$fbCte, daily AS (
         |  SELECT date, campaign_id,
         |         CAST(sum(CAST(spend AS DECIMAL(18,2))) AS DOUBLE) AS spend
         |  FROM fb GROUP BY 1, 2)
         |SELECT date, campaign_id, spend, rn FROM (
         |  SELECT date, campaign_id, spend,
         |         CAST(row_number() OVER (PARTITION BY date
         |                ORDER BY spend DESC, campaign_id) AS BIGINT) AS rn
         |  FROM daily) t
         |WHERE rn <= 3 ORDER BY date, rn""".stripMargin,
    "q_rollup" ->
      s"""$fbCte
         |SELECT coalesce(strftime(date, '%Y-%m'), 'ALL') AS month,
         |       coalesce(campaign_id, 'ALL') AS campaign_id,
         |       CAST(GROUPING(strftime(date, '%Y-%m')) * 2
         |            + GROUPING(campaign_id) AS BIGINT) AS gid,
         |       CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(clicks) AS BIGINT) AS clicks,
         |       CAST(sum(CAST(spend AS DECIMAL(18,2))) AS DOUBLE) AS spend
         |FROM fb
         |GROUP BY ROLLUP (strftime(date, '%Y-%m'), campaign_id)
         |ORDER BY month, campaign_id, gid""".stripMargin,
    "q_prune" ->
      s"""${fbCte}SELECT $flatCols FROM fb
         |WHERE date = (SELECT min(CAST(o_orderdate AS DATE)) FROM orders)
         |ORDER BY ad_id""".stripMargin,
    "q_idem" ->
      """SELECT CAST(count(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT) AS n_first,
        |       CAST(2 * count(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT) AS n_second
        |FROM orders""".stripMargin,
    "q_idem_keyed" ->
      """SELECT CAST(count(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT) AS n_first,
        |       CAST(count(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT) AS n_second
        |FROM orders""".stripMargin,
    "x_text_stats" ->
      """WITH feats AS (
        |  SELECT lang,
        |         CAST(length(text) AS BIGINT) AS n_chars,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) AS BIGINT) AS n_tokens,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |           t -> t IN ('the','a','an','and','of','to','in','is','on','for'))) AS BIGINT) AS n_stop,
        |         CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS n_punct
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS chars,
        |       CAST(sum(n_tokens) AS BIGINT) AS tokens,
        |       CAST(sum(n_stop) AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE) AS stopword_ratio,
        |       CAST(sum(n_punct) AS DOUBLE) / CAST(sum(n_chars) AS DOUBLE) AS punct_ratio
        |FROM feats GROUP BY lang ORDER BY lang""".stripMargin,
    "x_token_count" ->
      """WITH t AS (
        |  SELECT source,
        |         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_ws
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
        |       CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
        |       CAST(max(n_bpe) AS BIGINT) AS max_bpe
        |FROM t GROUP BY source ORDER BY source""".stripMargin,
    "x_quality_filter" ->
      """WITH feats AS (
        |  SELECT lang,
        |         CAST(length(text) AS BIGINT) AS n_chars,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) AS BIGINT) AS n_tokens,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |           t -> t IN ('the','a','an','and','of','to','in','is','on','for'))) AS BIGINT) AS n_stop,
        |         CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS n_punct
        |  FROM documents),
        |k AS (
        |  SELECT lang, n_chars,
        |         (n_tokens >= 20 AND n_tokens <= 2000
        |          AND CAST(n_stop AS DOUBLE) <= CAST(n_tokens AS DOUBLE) * 0.5
        |          AND CAST(n_punct AS DOUBLE) <= CAST(n_chars AS DOUBLE) * 0.1) AS keep
        |  FROM feats)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(sum(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin,
    "x_autocorr" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         sum(CAST(CAST(value AS DECIMAL(18, 2)) * 100 AS BIGINT)) AS x
        |  FROM events GROUP BY 1, 2),
        |led AS (
        |  SELECT event_type, CAST(x AS HUGEINT) AS x,
        |         CAST(lead(x, 1) OVER w AS HUGEINT) AS x1,
        |         CAST(lead(x, 2) OVER w AS HUGEINT) AS x2,
        |         CAST(lead(x, 3) OVER w AS HUGEINT) AS x3
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |agg AS (
        |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |         sum(x) AS s, sum(x * x) AS c,
        |         sum(x * x1) AS a1, sum(x * x2) AS a2, sum(x * x3) AS a3,
        |         sum(CASE WHEN x1 IS NOT NULL THEN x + x1 END) AS b1,
        |         sum(CASE WHEN x2 IS NOT NULL THEN x + x2 END) AS b2,
        |         sum(CASE WHEN x3 IS NOT NULL THEN x + x3 END) AS b3,
        |         sum(CASE WHEN x1 IS NOT NULL THEN CAST(1 AS HUGEINT) END) AS m1,
        |         sum(CASE WHEN x2 IS NOT NULL THEN CAST(1 AS HUGEINT) END) AS m2,
        |         sum(CASE WHEN x3 IS NOT NULL THEN CAST(1 AS HUGEINT) END) AS m3
        |  FROM led GROUP BY event_type),
        |lk AS (
        |  SELECT event_type, n, s, c,
        |         unnest([CAST(1 AS BIGINT), 2, 3]) AS lag,
        |         unnest([a1, a2, a3]) AS a,
        |         unnest([b1, b2, b3]) AS b,
        |         unnest([m1, m2, m3]) AS m
        |  FROM agg)
        |SELECT event_type, lag, CAST(n AS BIGINT) AS n_days,
        |       CAST(coalesce(
        |         CASE WHEN n * n * a - n * s * b + m * s * s < 0 THEN -1 ELSE 1 END
        |           * ((abs(n * n * a - n * s * b + m * s * s) * 1000000)
        |              // nullif(n * n * c - n * s * s, 0)), 0) AS BIGINT) AS acf_ppm
        |FROM lk ORDER BY event_type, lag""".stripMargin,
    "x_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         sum(CAST(CAST(value AS DECIMAL(18, 2)) * 100 AS BIGINT)) AS x
        |  FROM events GROUP BY 1, 2),
        |pre AS (
        |  SELECT event_type, day, x,
        |         sum(x) OVER (PARTITION BY event_type ORDER BY day) AS p,
        |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS t,
        |         sum(x) OVER (PARTITION BY event_type) AS s,
        |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM daily),
        |dev AS (
        |  SELECT *, abs(n * p - t * s) AS dev,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY abs(n * p - t * s) DESC, day) AS rn
        |  FROM pre)
        |SELECT event_type, day AS cp_day, CAST(dev AS BIGINT) AS dev,
        |       n AS n_days,
        |       CAST(p // t AS BIGINT) AS mean_before_cents,
        |       CAST(coalesce((s - p) // nullif(n - t, 0), 0) AS BIGINT) AS mean_after_cents
        |FROM dev WHERE rn = 1 ORDER BY event_type""".stripMargin,
    "x_group_split" -> {
      val m = llm.Sampling.GroupSplitM; val t = llm.Sampling.GroupSplitTrainLt
      s"""WITH s AS (
        |  SELECT CASE WHEN (user_id * 2654435761) % $m < $t THEN 'train' ELSE 'test' END AS split,
        |         user_id, event_type,
        |         coalesce(CAST(CAST(value AS DECIMAL(18, 2)) * 100 AS BIGINT), 0) AS cents
        |  FROM events)
        |SELECT split, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
        |       CAST(sum(cents) AS BIGINT) AS value_cents
        |FROM s GROUP BY split ORDER BY split""".stripMargin
    },
    "x_rebalance" -> {
      val m = llm.Sampling.RebalanceM
      s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
         |c AS (SELECT label, count(*) AS n_label FROM e GROUP BY label),
         |mn AS (SELECT min(n_label) AS n_min FROM c),
         |k AS (
         |  SELECT e.label, e.vec_id, c.n_label
         |  FROM e JOIN c ON e.label = c.label, mn
         |  WHERE ((e.vec_id * 2654435761) % $m) * c.n_label < mn.n_min * $m)
         |SELECT label, CAST(max(n_label) AS BIGINT) AS n_before,
         |       CAST(count(*) AS BIGINT) AS n_kept,
         |       CAST(sum(vec_id) AS BIGINT) AS kept_checksum
         |FROM k GROUP BY label ORDER BY label""".stripMargin
    },
    "x_kanon" ->
      s"""WITH qi AS (
         |  SELECT lang, source, n_chars // 100 AS len_bucket, count(*) AS class_size
         |  FROM documents GROUP BY 1, 2, 3)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_classes,
         |       CAST(sum(CASE WHEN class_size = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
         |       CAST(sum(CASE WHEN class_size < ${llm.Profile.KanonK} THEN class_size ELSE 0 END) AS BIGINT) AS at_risk_docs,
         |       CAST(min(class_size) AS BIGINT) AS min_class,
         |       CAST(max(class_size) AS BIGINT) AS max_class
         |FROM qi GROUP BY source ORDER BY source""".stripMargin,
    "x_priority_sample" -> {
      val n = llm.Sampling.PrioritySampleN
      val m = llm.Sampling.PriorityM
      s"""WITH pr AS (
         |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w,
         |         (doc_id * 2654435761) % $m + 1 AS h
         |  FROM documents),
         |pp AS (
         |  SELECT doc_id, source, w,
         |         CAST(w AS DOUBLE) * CAST($m AS DOUBLE) / CAST(h AS DOUBLE) AS p
         |  FROM pr),
         |r AS (SELECT *, row_number() OVER (ORDER BY p DESC, doc_id) AS rn FROM pp),
         |tau AS (
         |  SELECT coalesce(max(CASE WHEN rn = ${n + 1} THEN p END), CAST(0 AS DOUBLE)) AS tau
         |  FROM r WHERE rn <= ${n + 1})
         |SELECT doc_id, source, w, round(p, 4) AS priority,
         |       round(greatest(CAST(w AS DOUBLE), tau), 4) AS w_est
         |FROM r, tau WHERE rn <= $n ORDER BY doc_id""".stripMargin
    },
    "x_pr_curve" -> {
      val thrs = llm.TextAnalysis.PrThresholds.mkString(", ")
      s"""WITH feats AS (
         |  SELECT CAST(length(text) AS BIGINT) AS n_chars,
         |         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS BIGINT) AS n_tokens,
         |         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |           t -> t IN ('the','a','an','and','of','to','in','is','on','for'))) AS BIGINT) AS n_stop,
         |         CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS n_punct
         |  FROM documents),
         |s AS (
         |  SELECT CASE WHEN n_tokens = 0 THEN 0 ELSE n_stop * 1000 // n_tokens END AS score,
         |         (n_tokens >= 20 AND n_tokens <= 2000
         |          AND CAST(n_stop AS DOUBLE) <= CAST(n_tokens AS DOUBLE) * 0.5
         |          AND CAST(n_punct AS DOUBLE) <= CAST(n_chars AS DOUBLE) * 0.1) AS label
         |  FROM feats),
         |h AS (SELECT score, label, count(*) AS n FROM s GROUP BY score, label),
         |t AS (SELECT unnest([$thrs]) AS thr),
         |c AS (
         |  SELECT t.thr,
         |         CAST(coalesce(sum(CASE WHEN h.score >= t.thr AND h.label THEN h.n END), 0) AS BIGINT) AS tp,
         |         CAST(coalesce(sum(CASE WHEN h.score >= t.thr AND NOT h.label THEN h.n END), 0) AS BIGINT) AS fp,
         |         CAST(coalesce(sum(CASE WHEN h.score < t.thr AND h.label THEN h.n END), 0) AS BIGINT) AS fn,
         |         CAST(coalesce(sum(CASE WHEN h.score < t.thr AND NOT h.label THEN h.n END), 0) AS BIGINT) AS tn
         |  FROM t CROSS JOIN h GROUP BY t.thr),
         |p AS (
         |  SELECT *, coalesce(tp * 1000000 // nullif(tp + fp, 0), 0) AS precision_ppm,
         |         coalesce(tp * 1000000 // nullif(tp + fn, 0), 0) AS recall_ppm
         |  FROM c)
         |SELECT CAST(thr AS BIGINT) AS thr, tp, fp, fn, tn,
         |       CAST(precision_ppm AS BIGINT) AS precision_ppm,
         |       CAST(recall_ppm AS BIGINT) AS recall_ppm,
         |       CAST(coalesce(2 * precision_ppm * recall_ppm
         |              // nullif(precision_ppm + recall_ppm, 0), 0) AS BIGINT) AS f1_ppm
         |FROM p ORDER BY thr""".stripMargin
    },
    "x_dedup_exact" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS keep_id,
        |       CAST(count(*) AS BIGINT) AS n_copies,
        |       CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    "x_ngram_jaccard" ->
      """WITH g AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, length(text) - 1),
        |           i -> substr(text, CAST(i AS INT), 3))) AS grams
        |  FROM documents WHERE length(text) >= 3)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS n_common,
        |       CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS BIGINT) AS n_union,
        |       CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |         / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) AS jaccard
        |FROM g a JOIN g b ON b.doc_id = a.doc_id + 1 ORDER BY id_a""".stripMargin,
    "x_sim_brute" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_sum(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |c AS (SELECT * FROM e WHERE nrm > 0),
        |q AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qn FROM c WHERE vec_id % 200 = 0),
        |s AS (
        |  SELECT q.qid, c.vec_id AS cid,
        |         list_sum(list_transform(range(1, 65),
        |           i -> CAST(q.qv[CAST(i AS INT)] AS DOUBLE)
        |                * CAST(c.embedding[CAST(i AS INT)] AS DOUBLE)))
        |           / (q.qn * c.nrm) AS cosine
        |  FROM c, q WHERE c.vec_id <> q.qid),
        |r AS (
        |  SELECT qid, cid, cosine,
        |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS BIGINT) AS rank
        |  FROM s)
        |SELECT qid, rank, cid, round(cosine, 6) AS cosine
        |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    "x_events_daily" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "x_stream_daily" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    // latest-per-key: the oracle's window formulation must equal the
    // engine's struct-max aggregate (event_id uniqueness pins ties)
    // same chained running-min windows over the same (ts, event_id)
    // total order — µs truncation in a CTE before any window
    "x_funnel" ->
      """WITH b AS (
        |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        |w1 AS (
        |  SELECT user_id, event_id, event_type, ts,
        |         min(CASE WHEN event_type = 'signup' THEN ts END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s0
        |  FROM b),
        |w2 AS (
        |  SELECT user_id, event_id, event_type, ts, s0,
        |         min(CASE WHEN event_type = 'click' AND s0 IS NOT NULL
        |                       AND ts > s0 THEN ts END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c0
        |  FROM w1),
        |w3 AS (
        |  SELECT user_id, event_id, event_type, ts, s0, c0,
        |         min(CASE WHEN event_type = 'purchase' AND c0 IS NOT NULL
        |                       AND ts > c0 THEN ts END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p0
        |  FROM w2),
        |last AS (
        |  SELECT user_id, s0, c0, p0,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM w3)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(count(s0) AS BIGINT) AS n_signup,
        |       CAST(count(c0) AS BIGINT) AS n_click_after,
        |       CAST(count(p0) AS BIGINT) AS n_purchase_after
        |FROM last WHERE rn = 1""".stripMargin,
    // the µs truncation happens in a CTE BEFORE the window so the
    // ordering uses the same microsecond precision the engine compares
    // (an ORDER BY in the defining SELECT would bind to the raw ns column)
    "x_latest" ->
      """WITH b AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type, value
        |  FROM events),
        |r AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY ts DESC, event_id DESC) AS rn,
        |         count(*) OVER (PARTITION BY user_id) AS n_events
        |  FROM b)
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
        |       ts AS last_ts, event_type AS last_event_type, value AS last_value
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "x_stream_sessions" -> sessionsSql,
    "x_stream_sessions_inc" -> sessionsSql,
    "x_events_sessions" -> sessionsSql,
    // X-HLL: the sketch estimate is engine-specific, so the checked
    // surface is exact counts + within-10%-of-exact booleans (0/1) that
    // the oracle asserts as literal 1
    "x_hll" ->
      """SELECT event_type,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |       CAST(1 AS BIGINT) AS approx_within_10pct,
        |       CAST(1 AS BIGINT) AS approx_events_within_10pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "x_skew_salted" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // oracle = the PLAIN (unsalted) join — salting must be value-identical
    "x_skew_join" ->
      """WITH dim AS (
        |  SELECT DISTINCT event_type,
        |         CAST(length(event_type) % 5 + 1 AS BIGINT) AS weight
        |  FROM events)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(e.value AS DECIMAL(18,2)) * d.weight) AS DOUBLE) AS weighted_value
        |FROM events e JOIN dim d ON e.event_type = d.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    // LSH-candidate near-dup pairs + exact cosine verify; the bucket
    // computation is mirrored sign-for-sign in SQL (see OracleLlm)
    "x_dedup_embed" -> OracleLlm.embedDupsSql,
    "x_bucket_join" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_dsv2" ->
      """WITH mind AS (SELECT min(CAST(o_orderdate AS DATE)) AS d0 FROM orders),
        |fb AS (
        |  SELECT CAST(o.o_orderdate AS DATE) AS date,
        |         CAST(floor(l.l_quantity) AS BIGINT) AS clicks,
        |         l.l_extendedprice AS spend
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT date, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(clicks) AS BIGINT) AS clicks,
        |       CAST(sum(CAST(spend AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM fb, mind WHERE date >= d0 AND date <= d0 + 29
        |GROUP BY date ORDER BY date""".stripMargin,
    // write→read round trip through the DSv2 sink is lossless ⇒ same
    // oracle as q_load_fb
    "q_sink_dsv2" ->
      s"""${fbCte}SELECT $flatCols FROM fb ORDER BY ad_id""",
    // streaming load == batch load, byte for byte ⇒ same oracle
    "q_stream_load" ->
      s"""${fbCte}SELECT $flatCols FROM fb ORDER BY ad_id""",
    // DSv2 micro-batch load == batch load ⇒ same oracle
    "q_stream_dsv2" ->
      s"""${fbCte}SELECT $flatCols FROM fb ORDER BY ad_id""",
    // streaming read → streaming write round trip through the connector
    // is lossless ⇒ same oracle
    "q_stream_sink" ->
      s"""${fbCte}SELECT $flatCols FROM fb ORDER BY ad_id""",
    // SQL-DDL round trip (CREATE TABLE / INSERT INTO / SELECT through the
    // TableCatalog) is the same lossless write→read path ⇒ same oracle
    "q_dsv2_sql" ->
      s"""${fbCte}SELECT $flatCols FROM fb ORDER BY ad_id""",
    // merged daily sketches must estimate the range distinct within 10%
    "x_hll_merge" ->
      """SELECT event_type,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |       CAST(1 AS BIGINT) AS merged_within_10pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_dsv2_agg" ->
      """WITH mind AS (SELECT min(CAST(o_orderdate AS DATE)) AS d0 FROM orders),
        |fb AS (
        |  SELECT CAST(o.o_orderdate AS DATE) AS date
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT date, CAST(count(*) AS BIGINT) AS n
        |FROM fb, mind WHERE date >= d0 AND date <= d0 + 29
        |GROUP BY date ORDER BY date""".stripMargin,
    "q_msg" ->
      """WITH m AS (
        |  SELECT to_base64(encode(CASE WHEN o_orderkey % 3 = 0
        |           THEN 'get_currency' ELSE 'get_facebook' END)) AS data,
        |         CASE WHEN o_orderkey % 5 = 0
        |           THEN strftime(o_orderdate, '%Y-%m-%d') END AS date_attr
        |  FROM orders),
        |d AS (
        |  SELECT decode(from_base64(data)) AS pipeline,
        |         CAST(date_attr AS DATE) AS date_override
        |  FROM m)
        |SELECT pipeline, 'p1.graft.fb_stat' AS table_ref,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(date_override) AS BIGINT) AS n_with_date,
        |       min(date_override) AS min_override,
        |       max(date_override) AS max_override
        |FROM d GROUP BY pipeline ORDER BY pipeline""".stripMargin,
    "x_vocab" ->
      """WITH t AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |           x -> x <> '')) AS token
        |  FROM documents)
        |SELECT token, CAST(count(*) AS BIGINT) AS freq
        |FROM t GROUP BY token ORDER BY freq DESC, token LIMIT 50""".stripMargin,
    "x_mm_frames" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         CAST(floor(octet_length(encode(text)) / 1024.0) + 1 AS BIGINT) AS nf
        |  FROM documents)
        |SELECT doc_id, frame_id, (doc_id * 31 + frame_id) % 997 AS frame_feature
        |FROM (SELECT doc_id, unnest(range(1, nf + 1)) AS frame_id FROM m) t
        |ORDER BY doc_id, frame_id""".stripMargin,
    "x_mm_meta" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       CAST(floor(octet_length(encode(text)) / 1024.0) + 1 AS BIGINT) AS n_frames,
        |       'image/fake' AS media_type
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Signature-family oracles: the poly-hash arithmetic is re-derived
    // exactly in SQL (see OracleLlm) — signatures, band keys, candidate
    // pairs and estimates all hash-match, not rows-only.
    "x_dedup_minhash" -> OracleLlm.minhashPairsSql,
    "x_contrastive" -> OracleLlm.contrastiveSql,
    "x_dedup_simhash" -> OracleLlm.simhashPairsSql,
    "x_dedup_pipeline" -> OracleLlm.dedupPipelineSql,
    "x_dedup_cluster" -> OracleLlm.dedupClusterSql,
    "x_canonical" -> OracleLlm.canonicalSql,
    "x_hubness" -> OracleLlm.hubnessSql,
    "x_source_sim" -> OracleLlm.sourceSimSql,
    "x_fingerprint" -> OracleLlm.fingerprintSql,
    "x_hash_features" -> OracleLlm.hashFeaturesSql,
    "x_lang_id" -> OracleLlm.langIdSql,
    "x_mm_features" -> OracleLlm.mmFeaturesSql,
    "x_sim_lsh" -> OracleLlm.simLshSql,
    "x_sim_multiprobe" -> OracleLlm.simMultiprobeSql,
    "x_sim_knngraph" -> OracleLlm.simKnngraphSql,
    "x_knngraph_stats" -> OracleLlm.knngraphStatsSql,
    "x_sim_ivf" -> OracleLlm.simIvfSql,
    "x_sim_ivfpq" -> OracleLlm.simIvfpqSql,
    "x_sim_pq_serve" -> OracleLlm.simPqServeSql,
    "x_sim_filtered" -> OracleLlm.simFilteredSql,
    "x_sim_filtered_pq" -> OracleLlm.simFilteredPqSql,
    "x_ann_compact" -> OracleLlm.simPqServeSql,
    "x_ann_delete" -> OracleLlm.annDeleteSql,
    // the streamed tombstone purge must serve EXACTLY the CoW answer —
    // one oracle, two implementations (x_ann_delete's proof structure)
    "x_stream_ann_delete" -> OracleLlm.annDeleteSql,
    "x_ann_stats" -> OracleLlm.annStatsSql,
    "x_ann_rebalance" -> OracleLlm.annRebalanceSql,
    "x_curriculum" -> OracleLlm.curriculumSql,
    "x_sim_incr" -> OracleLlm.simIncrSql,
    "x_sim_rrf" -> OracleLlm.rrfSql,
    "x_rank_metrics" -> OracleLlm.rankMetricsSql,
    "x_kcenter" -> OracleLlm.kcenterSql,
    "x_mmr" -> OracleLlm.mmrSql,
    "x_split" -> OracleLlm.splitSql,
    "x_token_budget" -> OracleLlm.tokenBudgetSql,
    "x_dsir" -> OracleLlm.dsirSql,
    "x_decontam_ngram" -> OracleLlm.decontamNgramSql,
    "x_mixture" -> OracleLlm.mixtureSql,
    "x_temp_mix" -> OracleLlm.tempMixSql,
    "x_containment" -> OracleLlm.containmentSql,
    // binary payloads dedup on the md5 digest — identical lowercase hex
    // on both engines; UTF-8 bytes of the text ARE the payload
    "x_mm_dedup" -> mmDedupOracleSql,
    "x_stream_mm" -> mmDedupOracleSql,
    "x_stream_kmv" -> OracleLlm.streamKmvSql,
    "x_mm_neardup" -> OracleLlm.mmNearDupSql,
    "x_mm_cluster" -> OracleLlm.mmClusterSql,
    "x_mm_pipeline" -> OracleLlm.mmPipelineSql,
    "x_mm_text_join" -> OracleLlm.mmTextJoinSql,
    "x_quantile_sketch" -> OracleLlm.quantileSketchSql,
    "x_bloom_fpr" -> OracleLlm.bloomFprSql,
    "x_marginal_coverage" -> OracleLlm.marginalCoverageSql,
    "x_lsh_curve" -> OracleLlm.lshCurveSql,
    // strided-byte downsample reproduced with substr arithmetic (ASCII
    // payload: 1 byte per char); md5 pins the exact resized artifact
    "x_mm_resize" -> {
      val s = llm.Multimodal.ResizeStride
      s"""SELECT doc_id,
         |       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes_in,
         |       CAST((octet_length(CAST(text AS BLOB)) + ${s - 1}) // $s AS BIGINT) AS n_bytes_out,
         |       md5(array_to_string(list_transform(range(1, length(text) + 1, $s),
         |             ri -> substr(text, CAST(ri AS INT), 1)), '')) AS out_md5
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    // two-proportion sample-size formula: exact counts + pinned-literal
    // quantiles, the IEEE chain mirrored verbatim; feasibility is integer
    "x_ab_power" -> {
      val pbm = llm.Analytics.PowerBuyerMin
      val za = llm.Analytics.PowerZAlpha; val zb = llm.Analytics.PowerZBeta
      s"""WITH u AS (
         |  SELECT user_id,
         |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
         |  FROM events GROUP BY user_id),
         |b AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
         |             CAST(sum(CASE WHEN np >= $pbm THEN 1 ELSE 0 END) AS BIGINT) AS n_conv
         |      FROM u),
         |g AS (SELECT CAST(unnest(range(1, 11)) AS BIGINT) AS mde_pct),
         |r AS (
         |  SELECT g.mde_pct, b.n_users, b.n_conv,
         |         CAST(ceil(($za + $zb) * ($za + $zb)
         |             * (2.0 * (CAST(b.n_conv AS DOUBLE) / CAST(b.n_users AS DOUBLE))
         |                * (1.0 - CAST(b.n_conv AS DOUBLE) / CAST(b.n_users AS DOUBLE)))
         |             / ((CAST(g.mde_pct AS DOUBLE) / 100.0)
         |                * (CAST(g.mde_pct AS DOUBLE) / 100.0))) AS BIGINT) AS n_per_arm
         |  FROM g, b)
         |SELECT mde_pct, n_users, n_conv, n_per_arm,
         |       CAST(CASE WHEN n_per_arm * 2 <= n_users THEN 1 ELSE 0 END AS BIGINT) AS feasible
         |FROM r ORDER BY mde_pct""".stripMargin
    },
    // semantic missingness (error rows carry no valid amount) backfilled
    // with the exact per-weekday percentile_disc median
    "x_impute" ->
      """WITH base AS (
        |  SELECT CAST(dayofweek(ts) AS BIGINT) AS dow, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN CAST(CAST(value AS DECIMAL(18, 2)) * 100 AS BIGINT) END AS cents
        |  FROM events),
        |nn AS (SELECT * FROM base WHERE cents IS NOT NULL),
        |r AS (SELECT dow, cents,
        |             row_number() OVER (PARTITION BY dow ORDER BY cents, event_id) AS rn,
        |             count(*) OVER (PARTITION BY dow) AS cnt
        |      FROM nn),
        |med AS (SELECT dow, cents AS median_cents FROM r WHERE rn = (cnt + 1) // 2)
        |SELECT base.dow, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CASE WHEN base.cents IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed,
        |       CAST(max(med.median_cents) AS BIGINT) AS median_cents,
        |       CAST(sum(coalesce(base.cents, med.median_cents)) AS BIGINT) AS filled_sum_cents
        |FROM base JOIN med USING (dow)
        |GROUP BY base.dow ORDER BY base.dow""".stripMargin,
    // leave-one-out target encoding: per-row exact integer expression;
    // 1-row categories pinned NULL via nullif(n-1, 0)
    "x_target_enc" ->
      """WITH base AS (
        |  SELECT event_type, CAST(dayofweek(ts) AS BIGINT) AS dow,
        |         CAST(CAST(value AS DECIMAL(18, 2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |cat AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n_cat,
        |               CAST(sum(cents) AS BIGINT) AS s_cat
        |        FROM base GROUP BY 1, 2),
        |enc AS (
        |  SELECT base.event_type, base.dow, cat.n_cat, cat.s_cat,
        |         (cat.s_cat - base.cents) // nullif(cat.n_cat - 1, 0) AS enc
        |  FROM base JOIN cat USING (event_type, dow))
        |SELECT event_type, dow, CAST(max(n_cat) AS BIGINT) AS n,
        |       CAST(max(s_cat) AS BIGINT) AS target_sum_cents,
        |       CAST(min(enc) AS BIGINT) AS enc_min,
        |       CAST(max(enc) AS BIGINT) AS enc_max,
        |       CAST(sum(enc) AS BIGINT) AS enc_sum
        |FROM enc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // common-neighbor link prediction on the same thresholded graph as
    // x_kcore: wedge self-join + anti-join non-edges + degree Jaccard
    "x_link_pred" -> {
      val k = llm.Graph.LinkPredTopK
      s"""WITH $strongUndCtes,
         |deg AS (SELECT a, CAST(count(*) AS BIGINT) AS deg FROM u GROUP BY a),
         |w AS (
         |  SELECT u1.a AS id_a, u2.b AS id_b, CAST(count(*) AS BIGINT) AS cn
         |  FROM u u1 JOIN u u2 ON u1.b = u2.a AND u1.a < u2.b
         |  GROUP BY u1.a, u2.b),
         |ne2 AS (SELECT * FROM w WHERE NOT EXISTS (
         |          SELECT 1 FROM u WHERE u.a = w.id_a AND u.b = w.id_b))
         |SELECT CAST(ne2.id_a AS BIGINT) AS id_a, CAST(ne2.id_b AS BIGINT) AS id_b,
         |       ne2.cn, da.deg AS deg_a, db.deg AS deg_b,
         |       CAST(ne2.cn * 1000000 // (da.deg + db.deg - ne2.cn) AS BIGINT) AS jaccard_ppm
         |FROM ne2 JOIN deg da ON da.a = ne2.id_a JOIN deg db ON db.a = ne2.id_b
         |ORDER BY ne2.cn DESC, id_a, id_b LIMIT $k""".stripMargin
    },
    // k-core: above-mean edge sparsification (exact integer cross-multiply)
    // + 8 unrolled peel rounds, 1:1 with the Spark loop
    "x_kcore" -> {
      val k = llm.Graph.KcoreK
      def peel(i: Int): String =
        s"""a$i AS (
           |  SELECT u.a AS id FROM u
           |  JOIN a${i - 1} x ON u.a = x.id JOIN a${i - 1} y ON u.b = y.id
           |  GROUP BY u.a HAVING count(*) >= $k)""".stripMargin
      val rounds = (1 to llm.Graph.KcoreRounds).map(peel).mkString(",\n")
      val last = s"a${llm.Graph.KcoreRounds}"
      s"""WITH $strongUndCtes,
         |a0 AS (SELECT DISTINCT a AS id FROM u),
         |$rounds,
         |core AS (
         |  SELECT u.a, CAST(count(*) AS BIGINT) AS core_degree FROM u
         |  JOIN $last x ON u.a = x.id JOIN $last y ON u.b = y.id
         |  GROUP BY u.a)
         |SELECT n.n_name, core.core_degree
         |FROM core JOIN nation n ON n.n_nationkey = core.a
         |ORDER BY n.n_name""".stripMargin
    },
    "x_shard_manifest" -> OracleLlm.shardManifestSql,
    // same 30-min-gap sessionization as x_events_sessions; the path is
    // the first-5 prefix in the exact (ts, event_id) total order
    "x_path_topk" ->
      s"""WITH o AS (
        |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
        |         lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, event_type, ts,
        |         CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM o),
        |g AS (
        |  SELECT user_id, event_id, event_type, ts,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM m),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, sid
        |        ORDER BY ts, event_id) AS rn FROM g),
        |p AS (SELECT user_id, sid,
        |             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |      FROM r WHERE rn <= ${llm.Events.PathPrefixLen} GROUP BY user_id, sid)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path LIMIT ${llm.Events.PathTopK}""".stripMargin,
    // per-key count products forecast the join size; never runs the join
    "x_join_card" ->
      s"""WITH c AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n
        |           FROM lineitem GROUP BY l_partkey),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |             CAST(sum(n) AS BIGINT) AS n_rows,
        |             CAST(sum(n * n) AS BIGINT) AS join_rows FROM c),
        |k AS (SELECT * FROM c ORDER BY n DESC, l_partkey LIMIT ${ScaleQueries.JoinCardTopK})
        |SELECT k.l_partkey, k.n, k.n * k.n AS pair_rows,
        |       CAST(k.n * k.n * 1000000 // t.join_rows AS BIGINT) AS contrib_ppm,
        |       t.n_keys, t.n_rows, t.join_rows
        |FROM k, t ORDER BY k.n DESC, k.l_partkey""".stripMargin,
    "x_novelty" -> OracleLlm.noveltySql,
    "x_bpe" -> OracleLlm.bpeSql,
    "x_bpe_apply" -> OracleLlm.bpeApplySql,
    "x_gini" -> OracleLlm.giniSql,
    "x_drift" -> OracleLlm.driftSql,
    "x_embed_drift" -> OracleLlm.embedDriftSql,
    "x_freshness" -> OracleLlm.freshnessSql,
    "x_soft_dedup" -> OracleLlm.softDedupSql,
    "x_knn_classify" -> OracleLlm.knnClassifySql,
    "x_proto_prune" -> OracleLlm.protoPruneSql,
    "x_ann_curve" -> OracleLlm.annCurveSql,
    "x_dataset_card" -> OracleLlm.datasetCardSql,
    "x_stream_pipeline" -> OracleLlm.streamPipelineSql,
    "x_maxsim" -> OracleLlm.maxsimSql,
    "x_equidepth" -> OracleLlm.equidepthSql,
    "x_attrib_last" -> OracleLlm.attribLastSql,
    // the streaming form must reproduce the batch report bit-for-bit
    "x_stream_attrib" -> OracleLlm.attribLastSql,
    "x_attrib_pos" -> OracleLlm.attribPosSql,
    "x_attrib_decay" -> OracleLlm.attribDecaySql,
    // oracle = the FULL recompute: incremental maintenance must be
    // value-identical
    "x_incr_join" ->
      """WITH uc AS (
        |  SELECT user_id,
        |         CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS c,
        |         CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS p
        |  FROM events GROUP BY user_id)
        |SELECT user_id % 16 AS bucket,
        |       CAST(sum(c * p) AS BIGINT) AS n_pairs,
        |       CAST(count(*) FILTER (c * p > 0) AS BIGINT) AS n_users_with_pairs,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM uc GROUP BY bucket ORDER BY bucket""".stripMargin,
    "x_interval_merge" -> OracleLlm.intervalMergeSql,
    "x_freq_cap" -> OracleLlm.freqCapSql,
    // the stream-static enrichment drains to a sink whose rollup must
    // equal the plain batch join over the single-copy table
    "x_stream_enrich" ->
      """WITH dim AS (
        |  SELECT DISTINCT event_type,
        |         CAST(length(event_type) % 5 + 1 AS BIGINT) AS weight
        |  FROM events)
        |SELECT e.event_type, d.weight, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(e.value AS DECIMAL(18, 2)) * d.weight) AS DOUBLE) AS weighted_value
        |FROM events e JOIN dim d USING (event_type)
        |GROUP BY 1, 2 ORDER BY e.event_type""".stripMargin,
    "x_decontam" -> OracleLlm.decontamSql,
    "x_clean_split" -> OracleLlm.cleanSplitSql,
    "x_interleave" -> OracleLlm.interleaveSql,
    // oracle is the PLAIN interval join — bucketing must be value-identical
    "x_range_join" ->
      s"""WITH $ratesCte,
         |li AS (
         |  SELECT CAST(l_shipdate AS DATE) AS lo,
         |         CAST(l_shipdate AS DATE) + (CAST(floor(l_quantity) AS INT) % 14) AS hi
         |  FROM lineitem)
         |SELECT strftime(lo, '%Y-%m') AS ship_month,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(sum(CAST(rate AS DECIMAL(18,2))) AS DOUBLE) AS sum_rate
         |FROM li JOIN rates ON rates.date >= lo AND rates.date <= hi
         |GROUP BY 1 ORDER BY ship_month""".stripMargin,
    "x_pivot" ->
      """SELECT CAST(ts AS DATE) AS day,
        |       CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
        |       CAST(sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS error,
        |       CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase,
        |       CAST(sum(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS signup,
        |       CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS view
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
    "x_retention" ->
      """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |l AS (SELECT user_id, day,
        |        lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev
        |      FROM a)
        |SELECT day, CAST(count(*) AS BIGINT) AS n_active,
        |       CAST(sum(CASE WHEN prev = day - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained
        |FROM l GROUP BY day ORDER BY day""".stripMargin,
    // sliding windows expand to an explicit window-start × event range join
    "x_sliding" ->
      """WITH b AS (SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events),
        |ws AS (SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |                CAST(d1 - 6 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS win_start
        |       FROM b),
        |e AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |             CAST(value AS DECIMAL(18,2)) AS v
        |      FROM events)
        |SELECT win_start, event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(v) AS DOUBLE) AS total_value
        |FROM ws JOIN e ON e.day >= win_start AND e.day <= win_start + 6
        |GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    // melt of the pivot = the long form (NULL cells drop on both sides)
    "x_unpivot" ->
      """SELECT CAST(ts AS DATE) AS day, event_type,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "x_cube" ->
      """SELECT coalesce(event_type, 'ALL') AS event_type,
        |       coalesce(strftime(ts, '%Y-%m'), 'ALL') AS month,
        |       CAST(GROUPING(event_type) * 2 + GROUPING(strftime(ts, '%Y-%m')) AS BIGINT) AS gid,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY CUBE (event_type, strftime(ts, '%Y-%m'))
        |ORDER BY event_type, month, gid""".stripMargin,
    // exact percentiles over integer cents (identical interpolation
    // inputs); the approx sketch's closeness flag asserted as literal 1
    "x_quantiles" ->
      """WITH c AS (
        |  SELECT event_type,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       round(quantile_cont(cents, 0.5) / 100.0, 6) AS p50,
        |       round(quantile_cont(cents, 0.9) / 100.0, 6) AS p90,
        |       CAST(1 AS BIGINT) AS approx_p50_close
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    // at-least-once delivery deduped by event_id ⇒ the single-copy
    // aggregate: the oracle reads the original table once
    "x_stream_dedup" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // ingest-time banding against the persisted index emits exactly the
    // delta-touching pair set — the oracle is x_dedup_incr's, verbatim
    // (batch ≡ stream)
    "x_stream_neardup" -> OracleLlm.dedupIncrSql,
    "x_stream_sim" -> OracleLlm.simIncrSql,
    // the same event-time range join in plain SQL (ns→µs truncation on
    // both sides, per the sessions-oracle precedent)
    "x_stream_join" ->
      """WITH s AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |           WHERE event_type = 'signup'),
        |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
        |      WHERE event_type = 'purchase')
        |SELECT CAST(p.ts AS DATE) AS day,
        |       CAST(count(*) AS BIGINT) AS n_attributed,
        |       CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users,
        |       CAST(sum(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS attributed_value
        |FROM p JOIN s ON p.user_id = s.user_id
        |           AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 7 DAY
        |GROUP BY 1 ORDER BY day""".stripMargin,
    "x_connected" -> OracleLlm.componentsSql,
    "x_shortest_path" -> OracleLlm.shortestPathSql,
    "x_stratified" -> OracleLlm.stratifiedSql,
    // the SpaceSaving guarantee (presence of every > N/capacity token) is
    // deterministic under any merge order; raw estimates are not — so the
    // oracle checks exact top-10 counts + the presence flag as literal 1
    "x_heavy_hitters" ->
      """WITH t AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |           x -> x <> '')) AS token
        |  FROM documents)
        |SELECT token, CAST(count(*) AS BIGINT) AS freq,
        |       CAST(1 AS BIGINT) AS in_sketch
        |FROM t GROUP BY token ORDER BY freq DESC, token LIMIT 10""".stripMargin,
    // the streamed foreachBatch upsert's final snapshot == the batch
    // MERGE (one change per key, so batching cannot reorder an outcome)
    "x_stream_upsert" ->
      s"""WITH $ratesCte,
         |mx AS (SELECT max(date) AS md FROM rates),
         |upd AS (SELECT date, currencies AS u_currencies, rate + 0.5 AS u_rate
         |        FROM rates WHERE EXTRACT(DAY FROM date) % 3 = 0),
         |ins AS (SELECT md + CAST(i AS INT) AS date, 'USDUAH' AS u_currencies,
         |               30.0 + i AS u_rate
         |        FROM mx, (SELECT unnest(range(1, 6)) AS i)),
         |ch AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
         |m AS (SELECT coalesce(r.date, c.date) AS date,
         |        coalesce(c.u_currencies, r.currencies) AS currencies,
         |        coalesce(c.u_rate, r.rate) AS rate
         |      FROM rates r FULL OUTER JOIN ch c ON r.date = c.date)
         |SELECT date, currencies, rate FROM m ORDER BY date""".stripMargin,
    // copy-on-write delete must be value-exact: the anti-filter over the
    // raw table
    "q_delete" ->
      """WITH v AS (SELECT min(user_id) + 3 AS victim FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events, v WHERE user_id <> victim
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // compaction is lossless: per-month rollup of the compacted table ==
    // the source's
    "q_compact" ->
      s"""$fbCte
         |SELECT strftime(date, '%Y-%m') AS month,
         |       CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(clicks) AS BIGINT) AS clicks,
         |       CAST(sum(CAST(spend AS DECIMAL(18,2))) AS DOUBLE) AS spend
         |FROM fb GROUP BY 1 ORDER BY month""".stripMargin,
    // the same deterministic change set merged in SQL via FULL OUTER JOIN
    "q_merge" ->
      s"""WITH $ratesCte,
         |mx AS (SELECT max(date) AS md FROM rates),
         |upd AS (SELECT date, currencies AS u_currencies, rate + 0.5 AS u_rate
         |        FROM rates WHERE EXTRACT(DAY FROM date) % 3 = 0),
         |ins AS (SELECT md + CAST(i AS INT) AS date, 'USDUAH' AS u_currencies,
         |               30.0 + i AS u_rate
         |        FROM mx, (SELECT unnest(range(1, 6)) AS i)),
         |ch AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
         |m AS (SELECT coalesce(r.date, c.date) AS date,
         |        coalesce(c.u_currencies, r.currencies) AS currencies,
         |        coalesce(c.u_rate, r.rate) AS rate,
         |        CASE WHEN r.date IS NOT NULL AND c.date IS NOT NULL THEN 'update'
         |             WHEN r.date IS NULL THEN 'insert' ELSE 'keep' END AS action
         |      FROM rates r FULL OUTER JOIN ch c ON r.date = c.date)
         |SELECT date, currencies, rate, action FROM m ORDER BY date""".stripMargin,
    // DuckDB's native interval RANGE frame == Spark's numeric rangeBetween
    // over days-since-epoch
    "x_window_range" ->
      """WITH d AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS n,
        |         sum(CAST(value AS DECIMAL(18,2))) AS v
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, day,
        |       CAST(sum(n) OVER w AS BIGINT) AS n7,
        |       CAST(sum(v) OVER w AS DOUBLE) AS v7
        |FROM d
        |WINDOW w AS (PARTITION BY user_id ORDER BY day
        |             RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, day""".stripMargin,
    // the z-ordered copy must be value-neutral: same box predicate on the
    // raw table
    "x_zorder" ->
      """WITH b AS (SELECT min(CAST(ts AS DATE)) AS dmin, min(user_id) AS umin,
        |                  max(user_id) AS umax FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events, b
        |WHERE CAST(ts AS DATE) >= dmin + 7 AND CAST(ts AS DATE) <= dmin + 13
        |  AND user_id >= umin AND user_id <= umin + (umax - umin) // 10
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // oracle = the PLAIN whole-table filter: manifest-driven file
    // skipping must change no values
    "x_file_skip" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        |         AS value_cents
        |FROM events
        |WHERE user_id BETWEEN (SELECT max(user_id) // 4 FROM events)
        |                  AND (SELECT max(user_id) // 2 FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // oracle = the PLAIN join: the bloom pre-filter (false positives
    // killed by the exact join) must be value-identical
    "x_bloom_join" ->
      """WITH dim AS (
        |  SELECT DISTINCT user_id FROM events
        |  WHERE event_type = 'purchase'
        |    AND CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) % 17 = 0)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
        |       CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events e JOIN dim d ON e.user_id = d.user_id
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    // gaps-and-islands SCD2 build mirrored window-for-window
    "x_scd2" ->
      s"""WITH $ratesCte,
         |l AS (SELECT date, currencies, rate,
         |        lag(rate) OVER (PARTITION BY currencies ORDER BY date) AS prev
         |      FROM rates),
         |m AS (SELECT date, currencies, rate,
         |        CASE WHEN prev IS NULL OR prev <> rate THEN 1 ELSE 0 END AS chg
         |      FROM l),
         |g AS (SELECT date, currencies, rate,
         |        sum(chg) OVER (PARTITION BY currencies ORDER BY date
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |      FROM m),
         |i AS (SELECT currencies, island, min(date) AS valid_from,
         |        min(rate) AS rate
         |      FROM g GROUP BY 1, 2),
         |f AS (SELECT currencies, rate, valid_from,
         |        lead(valid_from) OVER (PARTITION BY currencies
         |          ORDER BY valid_from) - 1 AS valid_to
         |      FROM i)
         |SELECT currencies, rate, valid_from, valid_to,
         |       CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
         |FROM f ORDER BY currencies, valid_from""".stripMargin,
    "x_graph_degree" -> OracleLlm.degreesSql,
    "x_cms" -> OracleLlm.cmsSql,
    "x_kmeans" -> OracleLlm.kmeansSql,
    "x_kmeans_iter" -> OracleLlm.kmeansIterSql,
    "x_semdedup" -> OracleLlm.semDedupSql,
    "x_bm25" -> OracleLlm.bm25Sql,
    "x_hybrid_rrf" -> OracleLlm.hybridRrfSql,
    // floor(x*1024) quantization is exact (power-of-two multiply), so
    // the whole centroid aggregate is integer arithmetic on both sides
    "x_vec_avg" ->
      """WITH q AS (
        |  SELECT label, i - 1 AS dim,
        |         CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1024) AS BIGINT) AS q
        |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i)),
        |d AS (SELECT label, dim, sum(q) AS s, count(*) AS n
        |      FROM q GROUP BY 1, 2)
        |SELECT label, CAST(max(n) AS BIGINT) AS n_vectors,
        |       CAST(sum(s) AS BIGINT) AS sum_q,
        |       CAST(sum(s * (dim + 1)) AS BIGINT) AS pos_checksum,
        |       CAST(min(s) AS BIGINT) AS min_dim_sum,
        |       CAST(max(s) AS BIGINT) AS max_dim_sum
        |FROM d GROUP BY label ORDER BY label""".stripMargin,
    // the SQL-surface rollup == the DataFrame rollup ⇒ q_daily's oracle
    "q_sql" ->
      s"""$fbCte
         |SELECT date, campaign_id, campaign_name,
         |       CAST(sum(clicks) AS BIGINT) AS clicks,
         |       CAST(sum(impressions) AS BIGINT) AS impressions,
         |       CAST(sum(CAST(spend AS DECIMAL(18,2))) AS DOUBLE) AS spend
         |FROM fb GROUP BY 1, 2, 3
         |ORDER BY date, campaign_id""".stripMargin,
    // v0 = the original rates load; v1 = the post-MERGE state — both
    // re-derived in SQL and compared per version
    "x_time_travel" ->
      s"""WITH $ratesCte,
         |mx AS (SELECT max(date) AS md FROM rates),
         |upd AS (SELECT date, currencies AS u_currencies, rate + 0.5 AS u_rate
         |        FROM rates WHERE EXTRACT(DAY FROM date) % 3 = 0),
         |ins AS (SELECT md + CAST(i AS INT) AS date, 'USDUAH' AS u_currencies,
         |               30.0 + i AS u_rate
         |        FROM mx, (SELECT unnest(range(1, 6)) AS i)),
         |ch AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
         |m AS (SELECT coalesce(r.date, c.date) AS date,
         |        coalesce(c.u_rate, r.rate) AS rate
         |      FROM rates r FULL OUTER JOIN ch c ON r.date = c.date),
         |v0 AS (SELECT CAST(0 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n,
         |         min(date) AS min_date, max(date) AS max_date,
         |         CAST(sum(CAST(rate AS DECIMAL(18,2))) AS DOUBLE) AS sum_rate
         |       FROM rates),
         |v1 AS (SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n,
         |         min(date) AS min_date, max(date) AS max_date,
         |         CAST(sum(CAST(rate AS DECIMAL(18,2))) AS DOUBLE) AS sum_rate
         |       FROM m)
         |SELECT * FROM v0 UNION ALL SELECT * FROM v1 ORDER BY version""".stripMargin,
    // concatenate-then-chunk packing profile: all exact integer
    // arithmetic over a per-source running token offset
    "x_pack" ->
      s"""WITH t AS (
         |  SELECT source, doc_id,
         |         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |           x -> x <> '')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |o AS (
         |  SELECT source, n_tokens,
         |         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_off
         |  FROM t),
         |s AS (
         |  SELECT source, n_tokens, end_off,
         |         end_off - n_tokens AS start_off,
         |         CASE WHEN (end_off - n_tokens) // ${llm.Sampling.SeqLen}
         |                   <> (end_off - 1) // ${llm.Sampling.SeqLen}
         |              THEN 1 ELSE 0 END AS straddles
         |  FROM o)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |       CAST((max(end_off) + ${llm.Sampling.SeqLen - 1}) // ${llm.Sampling.SeqLen} AS BIGINT) AS n_chunks,
         |       CAST(sum(straddles) AS BIGINT) AS n_straddlers,
         |       CAST(max(end_off) - ((max(end_off) + ${llm.Sampling.SeqLen - 1}) // ${llm.Sampling.SeqLen} - 1)
         |            * ${llm.Sampling.SeqLen} AS BIGINT) AS tail_fill
         |FROM s GROUP BY source ORDER BY source""".stripMargin,
    // rational idf (N-df+0.5)/(df+0.5): all-IEEE arithmetic, so scores
    // hash-match bit-for-bit with no ln() libm dependence
    "x_tfidf" ->
      s"""WITH t AS (
         |  SELECT source, unnest(list_filter(regexp_split_to_array(text, '\\s+'),
         |           x -> x <> '')) AS token
         |  FROM documents),
         |tf AS (SELECT source, token, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         |ns AS (SELECT CAST(count(DISTINCT source) AS DOUBLE) AS n FROM documents),
         |s AS (SELECT tf.source, tf.token, tf.tf, df.df,
         |        tf.tf * ((ns.n - df.df + 0.5) / (df.df + 0.5)) AS score
         |      FROM tf JOIN df USING (token), ns),
         |r AS (SELECT source, token, tf, df, score,
         |        CAST(row_number() OVER (PARTITION BY source
         |          ORDER BY score DESC, token) AS BIGINT) AS rank
         |      FROM s)
         |SELECT source, rank, token, CAST(tf AS BIGINT) AS tf,
         |       CAST(df AS BIGINT) AS df, score
         |FROM r WHERE rank <= ${llm.TextAnalysis.TfIdfTopK}
         |ORDER BY source, rank""".stripMargin,
    // the synthetic contact line is injected by the SAME expression on
    // both sides, so detection/redaction counts are real regexp work
    "x_pii" ->
      s"""WITH a AS (
         |  SELECT source,
         |         text || CASE WHEN doc_id % 7 = 0
         |           THEN ' contact user' || doc_id || '@example.com or call +1-555-'
         |                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |           ELSE '' END AS t2
         |  FROM documents),
         |f AS (
         |  SELECT source,
         |         CAST(len(regexp_extract_all(t2, '${llm.TextAnalysis.EmailPat}')) AS BIGINT) AS n_em,
         |         CAST(len(regexp_extract_all(t2, '${llm.TextAnalysis.PhonePat}')) AS BIGINT) AS n_ph,
         |         CAST(length(regexp_replace(regexp_replace(t2,
         |           '${llm.TextAnalysis.EmailPat}', '[EMAIL]', 'g'),
         |           '${llm.TextAnalysis.PhonePat}', '[PHONE]', 'g')) AS BIGINT) AS rlen
         |  FROM a)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN n_em + n_ph > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii,
         |       CAST(sum(n_em) AS BIGINT) AS n_emails,
         |       CAST(sum(n_ph) AS BIGINT) AS n_phones,
         |       CAST(sum(rlen) AS BIGINT) AS redacted_chars
         |FROM f GROUP BY source ORDER BY source""".stripMargin,
    "x_text_norm" ->
      s"""WITH n AS (
        |  SELECT source, text,
        |         substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
        |           1, ${llm.TextAnalysis.MaxDocChars}) AS norm
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN norm <> text THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |       CAST(sum(length(text)) AS BIGINT) AS chars_before,
        |       CAST(sum(length(norm)) AS BIGINT) AS chars_after
        |FROM n GROUP BY source ORDER BY source""".stripMargin,
    // fixed-bin histogram: the bucket division `value / 25.0` is the SAME
    // single IEEE op on both sides, so bucket assignment hash-matches;
    // NULL/NaN excluded by the same predicate the engine applies
    "x_histogram" ->
      s"""WITH f AS (
         |  SELECT event_type,
         |         CAST(least(greatest(floor(value / ${llm.Analytics.BinWidth}), 0.0),
         |                    ${(llm.Analytics.NumBins - 1).toDouble}) AS BIGINT) AS bucket,
         |         value
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value))
         |SELECT event_type, bucket,
         |       CAST(bucket AS DOUBLE) * ${llm.Analytics.BinWidth} AS bin_lo,
         |       CAST(bucket + 1 AS DOUBLE) * ${llm.Analytics.BinWidth} AS bin_hi,
         |       CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         |FROM f GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin,
    // incremental view maintenance: the oracle is the FULL RECOMPUTE over
    // all events — merged partial state must be value-identical (DECIMAL
    // sums are exact, so merge order cannot drift)
    "x_incr_agg" ->
      """SELECT CAST(ts AS DATE) AS day, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |         / CAST(count(*) AS DOUBLE) AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    // audience overlap: intersection counts are exact integers; jaccard is
    // one IEEE division over integer-derived doubles on both sides
    "x_overlap" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |sizes AS (SELECT event_type, count(*) AS nu FROM ut GROUP BY 1),
        |inter AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         count(*) AS n_common
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |                     AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b,
        |       CAST(sa.nu AS BIGINT) AS n_a, CAST(sb.nu AS BIGINT) AS n_b,
        |       CAST(n_common AS BIGINT) AS n_common,
        |       CAST(n_common AS DOUBLE)
        |         / CAST(sa.nu + sb.nu - n_common AS DOUBLE) AS jaccard
        |FROM inter JOIN sizes sa ON sa.event_type = type_a
        |           JOIN sizes sb ON sb.event_type = type_b
        |ORDER BY type_a, type_b""".stripMargin,
    // robust location/scale: integer-cents order statistics interpolate
    // to exact .0/.5 doubles, so median and MAD carry no float drift
    "x_mad" ->
      s"""WITH v AS (
         |  SELECT event_type,
         |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
         |m AS (SELECT event_type, quantile_cont(cents, 0.5) AS medc
         |      FROM v GROUP BY 1),
         |d AS (SELECT v.event_type, m.medc,
         |             abs(CAST(v.cents AS DOUBLE) - m.medc) AS dev
         |      FROM v JOIN m USING (event_type))
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |       round(medc / 100.0, 6) AS median,
         |       round(quantile_cont(dev, 0.5) / 100.0, 6) AS mad
         |FROM d GROUP BY event_type, medc ORDER BY event_type""".stripMargin,
    // z-score anomaly bands: moments come from EXACT decimal sums (square
    // multiplied in the decimal domain), so mean/sd are the same one-op
    // IEEE chains on both sides and the 3-sigma predicate cannot drift
    "x_anomaly" ->
      s"""WITH v AS (
         |  SELECT event_type, value FROM events
         |  WHERE value IS NOT NULL AND NOT isnan(value)),
         |m AS (
         |  SELECT event_type, count(*) AS n,
         |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s,
         |         CAST(sum(CAST(value AS DECIMAL(18,2))
         |                  * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS ssq
         |  FROM v GROUP BY 1),
         |b AS (
         |  SELECT event_type, n, s / n AS mean,
         |         sqrt(greatest(ssq / n - (s / n) * (s / n), 0.0)) AS sd
         |  FROM m)
         |SELECT v.event_type, CAST(b.n AS BIGINT) AS n, b.mean, b.sd,
         |       CAST(sum(CASE WHEN abs(v.value - b.mean)
         |                          > ${llm.Analytics.AnomalySigmas} * b.sd
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
         |       CAST(sum(CASE WHEN abs(v.value - b.mean)
         |                          > ${llm.Analytics.AnomalySigmas} * b.sd
         |                     THEN CAST(v.value AS DECIMAL(18,2))
         |                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS outlier_sum
         |FROM v JOIN b USING (event_type)
         |GROUP BY v.event_type, b.n, b.mean, b.sd
         |ORDER BY v.event_type""".stripMargin,
    // CSV load: the oracle reads the ORIGINAL parquet, so a green row
    // proves the stage->write->read->parse CSV pipeline is lossless;
    // the corrupt count is pinned to the injected constant
    "q_csv" ->
      s"""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |       min(CAST(o_orderdate AS DATE)) AS min_day,
         |       CAST(${etl.CsvIngest.CorruptLines} AS BIGINT) AS n_corrupt
         |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // overlapping token windows: stride grid + list slice, mirrored with
    // range() + 1-based inclusive list slicing (both clamp at the end)
    "x_chunk" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
         |  FROM documents),
         |x AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
         |s AS (SELECT doc_id, toks, n,
         |             unnest(range(0, n, ${llm.TextAnalysis.ChunkStride})) AS start
         |      FROM x),
         |c AS (SELECT doc_id,
         |             CAST(start // ${llm.TextAnalysis.ChunkStride} AS BIGINT) AS chunk_id,
         |             toks[CAST(start + 1 AS INT):CAST(start + ${llm.TextAnalysis.ChunkSize} AS INT)] AS chunk
         |      FROM s)
         |SELECT doc_id, chunk_id, CAST(len(chunk) AS BIGINT) AS n_tokens,
         |       CAST(length(array_to_string(chunk, ' ')) AS BIGINT) AS n_chars,
         |       chunk[1] AS first_token, chunk[len(chunk)] AS last_token
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    // char collision probability: integer numerator/denominator, ONE
    // division - bit-identical, no rounding needed
    "x_diversity" ->
      s"""WITH s AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id % ${llm.TextAnalysis.LmSampleStride} = 0 AND length(text) >= 2),
         |ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM s),
         |cc AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
         |a AS (SELECT doc_id, sum(c) AS n_chars, count(*) AS n_distinct,
         |             sum(c * (c - 1)) AS coll_num
         |      FROM cc GROUP BY 1)
         |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         |       CAST(n_distinct AS BIGINT) AS n_distinct,
         |       CAST(coll_num AS DOUBLE)
         |         / CAST(n_chars * (n_chars - 1) AS DOUBLE) AS collision
         |FROM a ORDER BY doc_id""".stripMargin,
    // template-shingle profile: distinct per-doc bigrams, (source, gram)
    // doc frequency, integer 20% threshold (df*5 >= n_docs)
    "x_boilerplate" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT source, doc_id,
        |         list_distinct(list_transform(range(1, len(toks)),
        |           i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)])) AS grams
        |  FROM t WHERE len(toks) >= 2),
        |x AS (SELECT source, unnest(grams) AS gram FROM g),
        |df AS (SELECT source, gram, count(*) AS df FROM x GROUP BY 1, 2),
        |nd AS (SELECT source, count(*) AS n_docs FROM t GROUP BY 1)
        |SELECT df.source AS source, CAST(max(nd.n_docs) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS n_grams,
        |       CAST(sum(CASE WHEN df.df * 5 >= nd.n_docs THEN 1 ELSE 0 END) AS BIGINT) AS n_template,
        |       CAST(sum(CASE WHEN df.df * 5 >= nd.n_docs THEN df.df ELSE 0 END) AS BIGINT) AS template_df_sum,
        |       CAST(max(df.df) AS BIGINT) AS max_df
        |FROM df JOIN nd ON df.source = nd.source
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // vocabulary coverage curve: per-K conditional sums over the exact
    // (c DESC, token) rank — integer sums, ONE division per checkpoint
    "x_vocab_coverage" -> {
      val ks = llm.TextAnalysis.CoverageKs
      s"""WITH tok AS (
         |  SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
         |           x -> x <> '')) AS token
         |  FROM documents),
         |cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
         |tot AS (SELECT sum(c) AS total_tokens, count(*) AS n_types FROM cnt),
         |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, token) AS rank FROM cnt)
         |""".stripMargin +
        ks.map(k =>
          s"""SELECT CAST($k AS BIGINT) AS k,
             |       CAST(sum(CASE WHEN rank <= $k THEN c ELSE 0 END) AS BIGINT) AS covered_tokens,
             |       CAST(max(tot.total_tokens) AS BIGINT) AS total_tokens,
             |       CAST(max(tot.n_types) AS BIGINT) AS n_types,
             |       CAST(sum(CASE WHEN rank <= $k THEN c ELSE 0 END) AS DOUBLE)
             |         / CAST(max(tot.total_tokens) AS DOUBLE) AS coverage
             |FROM r, tot""".stripMargin).mkString("\nUNION ALL\n") +
        "\nORDER BY k"
    },
    // suppression-list split: anti (kept) and semi (audit) sides both
    // recomputed with NOT IN / IN over the same deterministic list
    "x_optout" ->
      """WITH opt AS (SELECT c_custkey FROM customer WHERE c_custkey % 7 = 0)
        |SELECT o_orderstatus,
        |       CAST(sum(CASE WHEN o_custkey NOT IN (SELECT c_custkey FROM opt)
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(sum(CASE WHEN o_custkey IN (SELECT c_custkey FROM opt)
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_suppressed,
        |       CAST(sum(CASE WHEN o_custkey NOT IN (SELECT c_custkey FROM opt)
        |                THEN CAST(o_totalprice AS DECIMAL(18,2))
        |                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS kept_total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // table profile: per-column null/exact-distinct counts over the
    // deterministically null-injected view (same injection both engines)
    "x_profile" -> {
      val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
      val per = cols.map { c =>
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |       CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct
           |FROM e""".stripMargin
      }
      s"""WITH e AS (
         |  SELECT event_id, ts, user_id, event_type,
         |         CASE WHEN event_id % 17 = 0 THEN NULL ELSE value END AS value,
         |         CASE WHEN event_id % 23 = 0 THEN NULL ELSE props END AS props
         |  FROM events)
         |""".stripMargin + per.mkString("\nUNION ALL\n") + "\nORDER BY col_name"
    },
    // per-dimension int8 quantization: calibration min/max, floor(·+0.5)
    // quantize, integer row-local folds summed (order-independent), max
    // reconstruction error — every IEEE chain mirrored left-to-right
    "x_embed_quant" ->
      """WITH dims AS (
        |  SELECT d, min(x) AS mn, max(x) AS mx FROM (
        |    SELECT unnest(range(1, len(embedding) + 1)) AS d,
        |           unnest(list_transform(range(1, len(embedding) + 1),
        |             i -> CAST(embedding[CAST(i AS INT)] AS DOUBLE))) AS x
        |    FROM embeddings) GROUP BY d),
        |st AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs FROM dims),
        |per AS (
        |  SELECT label, mns, mxs, embedding,
        |    list_transform(range(1, len(embedding) + 1), i ->
        |      CASE WHEN mxs[CAST(i AS INT)] = mns[CAST(i AS INT)] THEN CAST(0 AS BIGINT)
        |           ELSE CAST(floor((CAST(embedding[CAST(i AS INT)] AS DOUBLE) - mns[CAST(i AS INT)])
        |                / (mxs[CAST(i AS INT)] - mns[CAST(i AS INT)]) * 255 + 0.5) AS BIGINT) END) AS q
        |  FROM embeddings, st),
        |pv AS (
        |  SELECT label,
        |    list_sum(q) AS q_sum,
        |    list_sum(list_transform(range(1, len(q) + 1), i -> q[CAST(i AS INT)] * i)) AS q_pos,
        |    len(list_filter(q, v -> v = 0 OR v = 255)) AS n_sat,
        |    list_max(list_transform(range(1, len(q) + 1), i ->
        |      abs(CAST(q[CAST(i AS INT)] AS DOUBLE) / 255 * (mxs[CAST(i AS INT)] - mns[CAST(i AS INT)])
        |          + mns[CAST(i AS INT)] - CAST(embedding[CAST(i AS INT)] AS DOUBLE)))) AS max_err
        |  FROM per)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
        |       CAST(sum(q_sum) AS BIGINT) AS sum_q,
        |       CAST(sum(q_pos) AS BIGINT) AS sum_qpos,
        |       CAST(sum(n_sat) AS BIGINT) AS n_saturated,
        |       round(max(max_err), 6) AS worst_err
        |FROM pv GROUP BY label ORDER BY label""".stripMargin,
    // exact-integer power-iteration PCA: scatter matrix in HUGEINT, the
    // same 5 unrolled renormalized rounds, Rayleigh variance + v checksum
    "x_pca" -> {
      def round(r: Int): String = {
        val p = s"v${r - 1}"
        s"""w$r AS (
           |  SELECT c.i, sum(c.v * $p.l[CAST(c.j + 1 AS INT)]) AS w
           |  FROM c, $p GROUP BY c.i),
           |m$r AS (SELECT max(abs(w)) AS m FROM w$r),
           |v$r AS (
           |  SELECT list(CASE WHEN m$r.m = 0 THEN CAST(0 AS HUGEINT)
           |              ELSE (CASE WHEN w < 0 THEN -1 ELSE 1 END)
           |                   * ((abs(w) * ${llm.Pca.VScale}) // m$r.m) END
           |              ORDER BY i) AS l
           |  FROM w$r, m$r)""".stripMargin
      }
      val last = s"v${llm.Pca.Rounds}"
      val d = llm.Pca.Dims
      s"""WITH q AS (
         |  SELECT label, list_transform(embedding,
         |           x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS q
         |  FROM embeddings),
         |st AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM q),
         |cells AS (
         |  SELECT ti.i AS i, tj.i AS j,
         |         CAST(sum(CAST(q[CAST(ti.i + 1 AS INT)] AS HUGEINT)
         |                   * q[CAST(tj.i + 1 AS INT)]) AS HUGEINT) AS sqq
         |  FROM q, range(0, $d) ti(i), range(0, $d) tj(i)
         |  GROUP BY 1, 2),
         |sums AS (
         |  SELECT t.i AS i, CAST(sum(q[CAST(t.i + 1 AS INT)]) AS HUGEINT) AS s
         |  FROM q, range(0, $d) t(i) GROUP BY 1),
         |c AS (
         |  SELECT cells.i, cells.j, st.n * cells.sqq - si.s * sj.s AS v
         |  FROM cells
         |  JOIN sums si ON si.i = cells.i
         |  JOIN sums sj ON sj.i = cells.j
         |  CROSS JOIN st),
         |v0 AS (SELECT list_transform(range(0, $d),
         |         x -> CAST(${llm.Pca.VScale} AS HUGEINT)) AS l),
         |${(1 to llm.Pca.Rounds).map(round).mkString(",\n")},
         |vt AS (SELECT list_sum(list_transform(range(0, $d),
         |         dd -> l[CAST(dd + 1 AS INT)] * l[CAST(dd + 1 AS INT)])) AS vtv
         |       FROM $last),
         |vcv AS (SELECT sum(c.v * $last.l[CAST(c.i + 1 AS INT)]
         |                       * $last.l[CAST(c.j + 1 AS INT)]) AS vtcv
         |        FROM c, $last),
         |lam AS (SELECT CASE WHEN vt.vtv = 0 THEN 0
         |               ELSE vcv.vtcv // vt.vtv END AS lambda
         |        FROM vcv, vt),
         |vp AS (SELECT CASE WHEN st.n = 0 THEN 0
         |              ELSE lam.lambda // (st.n * st.n) END AS var_pc
         |       FROM lam, st),
         |chk AS (SELECT list_sum(list_transform(range(0, $d),
         |          dd -> l[CAST(dd + 1 AS INT)] * (dd + 1))) AS vchk
         |        FROM $last),
         |proj AS (
         |  SELECT label, list_sum(list_transform(range(0, $d),
         |           dd -> q[CAST(dd + 1 AS INT)] * l[CAST(dd + 1 AS INT)])) AS p
         |  FROM q, $last)
         |SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
         |       CAST(sum(p) AS BIGINT) AS proj_sum,
         |       CAST(min(p) AS BIGINT) AS proj_min,
         |       CAST(max(p) AS BIGINT) AS proj_max,
         |       CAST(vp.var_pc AS BIGINT) AS var_pc,
         |       CAST(chk.vchk AS BIGINT) AS vec_checksum
         |FROM proj, vp, chk
         |GROUP BY label, vp.var_pc, chk.vchk
         |ORDER BY label""".stripMargin
    },
    // Rademacher JL projection: pinned ±1 sign literal, row-local integer
    // folds, exact ppm distortion ratio + positional projection checksum
    "x_rand_proj" ->
      s"""WITH sg AS (SELECT ${llm.Quantize.projSigns.mkString("[", ", ", "]")} AS s),
        |q AS (
        |  SELECT label,
        |         list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS q
        |  FROM embeddings),
        |qq AS (
        |  SELECT label, q, list_sum(list_transform(q, x -> x * x)) AS qsq
        |  FROM q),
        |p AS (
        |  SELECT label, qsq,
        |         list_transform(range(0, ${llm.Quantize.ProjDims}), j ->
        |           list_sum(list_transform(range(0, 64),
        |             d -> s[CAST(j * 64 + d + 1 AS INT)] * q[CAST(d + 1 AS INT)]))) AS p
        |  FROM qq, sg WHERE qsq > 0),
        |v AS (
        |  SELECT label,
        |         list_sum(list_transform(p, x -> x * x)) * 1000000
        |           // (${llm.Quantize.ProjDims} * qsq) AS ppm,
        |         list_sum(list_transform(range(0, ${llm.Quantize.ProjDims}),
        |           j -> p[CAST(j + 1 AS INT)] * (j + 1))) AS p_pos
        |  FROM p)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
        |       CAST(sum(ppm) // count(*) AS BIGINT) AS avg_ppm,
        |       CAST(min(ppm) AS BIGINT) AS min_ppm,
        |       CAST(max(ppm) AS BIGINT) AS max_ppm,
        |       CAST(sum(p_pos) AS BIGINT) AS proj_checksum
        |FROM v GROUP BY label ORDER BY label""".stripMargin,
    // CDC change feed: diff of the v0/v1 snapshot states re-derived from
    // the fixture; unchanged rows are NOT emitted (sparse by contract)
    "x_change_feed" ->
      s"""WITH $ratesCte,
         |mx AS (SELECT max(date) AS md FROM rates),
         |upd AS (SELECT date, rate + 0.5 AS u_rate
         |        FROM rates WHERE EXTRACT(DAY FROM date) % 3 = 0),
         |ins AS (SELECT md + CAST(i AS INT) AS date, 30.0 + i AS u_rate
         |        FROM mx, (SELECT unnest(range(1, 6)) AS i)),
         |ch AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
         |m AS (SELECT coalesce(r.date, c.date) AS date,
         |             r.rate AS old_rate,
         |             coalesce(c.u_rate, r.rate) AS new_rate
         |      FROM rates r FULL OUTER JOIN ch c ON r.date = c.date),
         |t AS (SELECT date, old_rate, new_rate,
         |        CASE WHEN old_rate IS NULL THEN 'insert'
         |             WHEN new_rate IS NULL THEN 'delete'
         |             WHEN old_rate <> new_rate THEN 'update'
         |             ELSE 'nochange' END AS change_type
         |      FROM m)
         |SELECT date, old_rate, new_rate, change_type
         |FROM t WHERE change_type <> 'nochange' ORDER BY date""".stripMargin,
    // schema-evolution read: epoch1 (even keys) predates the channel
    // column, so its rows must surface as 'legacy'; the oracle derives
    // the same two-epoch split from the ORIGINAL table
    "q_evolve" ->
      """SELECT CASE WHEN o_orderkey % 2 = 1 THEN
        |         CASE WHEN o_orderkey % 3 = 0 THEN 'web'
        |              WHEN o_orderkey % 3 = 1 THEN 'store'
        |              ELSE 'app' END
        |       ELSE 'legacy' END AS channel,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |       min(CAST(o_orderdate AS DATE)) AS min_day,
        |       max(CAST(o_orderdate AS DATE)) AS max_day
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // snapshot retention profile: expired versions carry NULL stats
    // (their data is gone by construction); kept versions' stats are
    // recomputed from the DERIVED chain content the oracle mirrors
    "x_vacuum" -> {
      val per = (0 until etl.Cdc.VacuumVersions).map { k =>
        val kept = k >= etl.Cdc.VacuumVersions - etl.Cdc.VacuumKeep
        if (!kept)
          s"""SELECT CAST($k AS BIGINT) AS version, false AS kept,
             |       CAST(NULL AS BIGINT) AS n, CAST(NULL AS DATE) AS min_date,
             |       CAST(NULL AS DATE) AS max_date, CAST(NULL AS DOUBLE) AS sum_rate""".stripMargin
        else
          s"""SELECT CAST($k AS BIGINT) AS version, true AS kept,
             |       CAST(count(*) AS BIGINT) AS n, min(date) AS min_date,
             |       max(date) AS max_date,
             |       CAST(sum(CAST(rate AS DECIMAL(18,2))) AS DOUBLE) AS sum_rate
             |FROM (
             |  SELECT date,
             |         rate + (CASE WHEN EXTRACT(DAY FROM date) % 3 = 0
             |                 THEN ${k * 0.25} ELSE 0.0 END) AS rate
             |  FROM rates
             |  UNION ALL
             |  SELECT md + CAST(i AS INT) AS date, 30.0 + i AS rate
             |  FROM mx, (SELECT unnest(range(1, ${k + 1})) AS i))""".stripMargin
      }
      s"WITH $ratesCte, mx AS (SELECT max(date) AS md FROM rates)\n" +
        per.mkString("\nUNION ALL\n") + "\nORDER BY version"
    },
    // bigram LM quality score: rational mean-probability (no libm ln);
    // per-doc sum folds in position order, one division per addend
    "x_ngram_lm" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
         |  FROM documents),
         |x AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
         |b AS (SELECT doc_id, i - 1 AS pos,
         |             toks[CAST(i AS INT)] AS w1, toks[CAST(i + 1 AS INT)] AS w2
         |      FROM (SELECT doc_id, toks, generate_subscripts(toks, 1) AS i FROM x)
         |      WHERE i < len(toks)),
         |c2 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
         |c1 AS (SELECT w1, sum(c12) AS c1 FROM c2 GROUP BY 1),
         |p AS (SELECT b.doc_id, b.pos,
         |             CAST(c2.c12 AS DOUBLE) / CAST(c1.c1 AS DOUBLE) AS p
         |      FROM b JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
         |      WHERE b.doc_id % ${llm.TextAnalysis.LmSampleStride} = 0),
         |a AS (SELECT doc_id, count(*) AS n_bigrams,
         |             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |               list(p ORDER BY pos)), (acc, x) -> acc + x) AS s
         |      FROM p GROUP BY 1)
         |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
         |       round(s / n_bigrams, 6) AS score
         |FROM a ORDER BY doc_id""".stripMargin,
    // ORC load: oracle reads the ORIGINAL parquet with the same filter —
    // a green row proves the ORC round-trip lossless; the spec separately
    // asserts the price predicate lands in the ORC scan's PushedFilters
    "q_orc" ->
      s"""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |       max(CAST(o_orderdate AS DATE)) AS max_day
         |FROM orders WHERE o_totalprice >= ${etl.OrcIngest.PriceFloor}
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // get_currency attribute surface + the yesterday-default branch
    // (S-SUBD): "today" is injected as max(o_orderdate)+1 on both sides
    "q_trigger_date" ->
      """WITH t AS (SELECT max(CAST(o_orderdate AS DATE)) + 1 AS today FROM orders),
        |m AS (
        |  SELECT 'key-' || (o_orderkey % 7) AS api_key,
        |         'USD' || (CASE WHEN o_orderkey % 2 = 0 THEN 'UAH' ELSE 'EUR' END) AS source,
        |         CASE WHEN o_orderkey % 5 = 0 THEN CAST(o_orderdate AS DATE) END AS dov
        |  FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT source,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(dov) AS BIGINT) AS n_override,
        |       CAST(sum(CASE WHEN dov IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_defaulted,
        |       CAST(count(DISTINCT api_key) AS BIGINT) AS n_keys,
        |       min(coalesce(dov, today - 1)) AS min_date,
        |       max(coalesce(dov, today - 1)) AS max_date
        |FROM m, t GROUP BY source ORDER BY source""".stripMargin,
    // S-CHK with a REJECTING branch: day-of-month % 7 = 0 responds
    // success:false; extraction must run only on passing documents
    "q_fx_gate" ->
      """WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders),
        |c AS (SELECT d, (EXTRACT(DAY FROM d) % 7 <> 0) AS ok,
        |        CAST(20 AS DOUBLE)
        |          + CAST((EXTRACT(DAY FROM d) * 37
        |                  + EXTRACT(MONTH FROM d) * 11) % 100 AS DOUBLE)
        |            / CAST(100 AS DOUBLE) AS rate
        |      FROM d)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
        |       CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_rejected,
        |       CAST(sum(CAST(CASE WHEN ok THEN rate ELSE 0 END AS DECIMAL(18,2))) AS DOUBLE) AS sum_ok_rate,
        |       max(CASE WHEN ok THEN NULL ELSE 'historical rate not supported' END) AS reject_info
        |FROM c""".stripMargin,
    // weighted PageRank, 3 unrolled iterations — identical IEEE chains
    // per term (0.15/0.85 as literals on BOTH sides, same division
    // order); only the cross-term summation order differs → round 6
    // sequential z² gap monitor: the stream's running (n, S, Q) state IS
    // the batch prefix window over prior gaps; predicate exact in HUGEINT
    "x_stream_anomaly" ->
      s"""WITH ev AS (
        |  SELECT event_type, event_id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |g AS (
        |  SELECT event_type, event_id, us,
        |         (us - lag(us) OVER (PARTITION BY event_type
        |            ORDER BY us, event_id)) // 1000000 AS gap
        |  FROM ev),
        |p AS (
        |  SELECT event_type, event_id, CAST(gap AS HUGEINT) AS gh,
        |         CAST(count(*) OVER wp AS HUGEINT) AS n,
        |         CAST(coalesce(sum(gap) OVER wp, 0) AS HUGEINT) AS s,
        |         CAST(coalesce(sum(gap * gap) OVER wp, 0) AS HUGEINT) AS q
        |  FROM g WHERE gap IS NOT NULL
        |  WINDOW wp AS (PARTITION BY event_type ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |f AS (
        |  SELECT event_type, event_id FROM p
        |  WHERE n >= ${llm.StreamingOps.AnomalyWarmup}
        |    AND (n * gh - s) * (n * gh - s)
        |        > ${llm.StreamingOps.AnomalyZsq} * (n * q - s * s)),
        |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
        |      FROM events GROUP BY 1),
        |fa AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_flagged,
        |              CAST(sum(event_id) AS BIGINT) AS flagged_id_sum
        |       FROM f GROUP BY 1)
        |SELECT t.event_type, t.n_events,
        |       coalesce(fa.n_flagged, 0) AS n_flagged,
        |       coalesce(fa.flagged_id_sum, 0) AS flagged_id_sum
        |FROM t LEFT JOIN fa USING (event_type)
        |ORDER BY t.event_type""".stripMargin,
    // weighted synchronous LPA, rounds unrolled as CTEs; argmax is the
    // exact (wsum DESC, lab) window on both engines
    "x_labelprop" ->
      s"""WITH $lpaCtes,
         |sz AS (SELECT lab, CAST(count(*) AS BIGINT) AS comm_size
         |       FROM $lpaLast GROUP BY lab)
         |SELECT nat.n_name, CAST($lpaLast.lab AS BIGINT) AS community, sz.comm_size
         |FROM $lpaLast
         |JOIN sz ON sz.lab = $lpaLast.lab
         |JOIN nation nat ON nat.n_nationkey = $lpaLast.id
         |ORDER BY n_name""".stripMargin,
    // Newman modularity of the SAME LPA partition: exact integer
    // numerator e_c·W − d_c², one IEEE division per community row
    "x_modularity" ->
      s"""WITH $lpaCtes,
         |wt AS (SELECT CAST(sum(w) AS BIGINT) AS W FROM und),
         |degs AS (SELECT src AS id, CAST(sum(w) AS BIGINT) AS k FROM und GROUP BY 1),
         |dc AS (SELECT $lpaLast.lab, CAST(count(*) AS BIGINT) AS n_nodes,
         |              CAST(sum(degs.k) AS BIGINT) AS d_c
         |       FROM $lpaLast JOIN degs ON degs.id = $lpaLast.id GROUP BY 1),
         |ec AS (SELECT la.lab, CAST(sum(und.w) AS BIGINT) AS e_c
         |       FROM und JOIN $lpaLast la ON la.id = und.src
         |                JOIN $lpaLast lb ON lb.id = und.dst AND lb.lab = la.lab
         |       GROUP BY 1)
         |SELECT CAST(dc.lab AS BIGINT) AS community, dc.n_nodes, dc.d_c,
         |       CAST(coalesce(ec.e_c, 0) AS BIGINT) AS e_c,
         |       CAST(coalesce(ec.e_c, 0) * wt.W - dc.d_c * dc.d_c AS DOUBLE)
         |         / CAST(wt.W * wt.W AS DOUBLE) AS q_contrib
         |FROM dc LEFT JOIN ec ON ec.lab = dc.lab, wt
         |ORDER BY community""".stripMargin,
    // simultaneous multi-source BFS, rounds unrolled 1:1 with the loop
    "x_closeness" -> {
      def bfs(i: Int): String =
        s"""d$i AS (SELECT src, id, CAST(min(d) AS BIGINT) AS d FROM (
           |  SELECT src, id, d FROM d${i - 1}
           |  UNION ALL
           |  SELECT p.src, u.b AS id, p.d + 1 AS d
           |  FROM d${i - 1} p JOIN u ON u.a = p.id)
           |  GROUP BY 1, 2)""".stripMargin
      val last = s"d${llm.Graph.ClosenessRounds}"
      s"""WITH $strongUndCtes,
         |d0 AS (SELECT a AS src, a AS id, CAST(0 AS BIGINT) AS d
         |       FROM (SELECT DISTINCT a FROM u)),
         |${(1 to llm.Graph.ClosenessRounds).map(bfs).mkString(",\n")},
         |agg AS (SELECT src, CAST(count(*) AS BIGINT) AS n_reached,
         |               CAST(sum(d) AS BIGINT) AS sum_dist,
         |               CAST(max(d) AS BIGINT) AS eccentricity
         |        FROM $last GROUP BY src)
         |SELECT n.n_name, agg.n_reached, agg.sum_dist, agg.eccentricity,
         |       CAST((agg.n_reached - 1) * 1000000 // nullif(agg.sum_dist, 0) AS BIGINT) AS closeness_ppm
         |FROM agg JOIN nation n ON n.n_nationkey = agg.src
         |ORDER BY n.n_name""".stripMargin
    },
    // stress centrality: the closeness BFS rounds widened with per-level
    // path counts over the settled DAG, then the interior self-join
    "x_betweenness" -> {
      def bfs(i: Int): String =
        s"""d$i AS (SELECT src, id, CAST(min(d) AS BIGINT) AS d FROM (
           |  SELECT src, id, d FROM d${i - 1}
           |  UNION ALL
           |  SELECT p.src, u.b AS id, p.d + 1 AS d
           |  FROM d${i - 1} p JOIN u ON u.a = p.id)
           |  GROUP BY 1, 2)""".stripMargin
      // dl/uu/ds MATERIALIZED: the sigma levels and the pair self-join
      // reference them 7+ times — re-inlining the whole BFS chain (or
      // the fact-sized edge build under u) per reference is the
      // x_pagerank CTE hazard, measured as a multi-minute blowup here
      def sg(i: Int): String =
        s"""s$i AS (SELECT p.src, uu.b AS id, CAST(sum(p.sigma) AS BIGINT) AS sigma
           |  FROM s${i - 1} p JOIN uu ON uu.a = p.id
           |  JOIN dl t ON t.src = p.src AND t.id = uu.b AND t.d = $i
           |  GROUP BY 1, 2)""".stripMargin
      val sgUnion = (0 to llm.Graph.ClosenessRounds)
        .map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")
      s"""WITH $strongUndCtes,
         |uu AS MATERIALIZED (SELECT * FROM u),
         |d0 AS (SELECT a AS src, a AS id, CAST(0 AS BIGINT) AS d
         |       FROM (SELECT DISTINCT a FROM uu)),
         |${(1 to llm.Graph.ClosenessRounds).map(bfs).mkString(",\n")},
         |dl AS MATERIALIZED (SELECT * FROM d${llm.Graph.ClosenessRounds}),
         |s0 AS (SELECT src, id, CAST(1 AS BIGINT) AS sigma FROM dl WHERE d = 0),
         |${(1 to llm.Graph.ClosenessRounds).map(sg).mkString(",\n")},
         |sg AS (SELECT * FROM ($sgUnion)),
         |ds AS MATERIALIZED (
         |  SELECT dd.src, dd.id, dd.d, sg.sigma
         |  FROM dl dd JOIN sg ON sg.src = dd.src AND sg.id = dd.id),
         |th AS (
         |  SELECT a.id AS v, CAST(sum(a.sigma * b.sigma) AS BIGINT) AS stress,
         |         CAST(count(*) AS BIGINT) AS n_pairs_on
         |  FROM ds a
         |  JOIN ds b ON b.id = a.id AND a.src < b.src
         |  JOIN ds st ON st.src = a.src AND st.id = b.src
         |  WHERE a.d > 0 AND b.d > 0 AND a.d + b.d = st.d
         |  GROUP BY a.id)
         |SELECT n.n_name,
         |       CAST(coalesce(th.stress, 0) AS BIGINT) AS stress,
         |       CAST(coalesce(th.n_pairs_on, 0) AS BIGINT) AS n_pairs_on
         |FROM (SELECT DISTINCT a AS v FROM u) nodes
         |LEFT JOIN th ON th.v = nodes.v
         |JOIN nation n ON n.n_nationkey = nodes.v
         |ORDER BY n.n_name""".stripMargin
    },
    "x_pagerank" -> {
      val d = llm.Graph.PrDamping
      val rest = llm.Graph.PrRest
      def iter(i: Int): String = {
        val p = s"r${i - 1}"
        s"""c$i AS (
           |  SELECT e.dst AS id, sum($p.r * CAST(e.w AS DOUBLE) / ow.outw) AS c
           |  FROM e JOIN $p ON $p.id = e.src JOIN ow ON ow.src = e.src
           |  GROUP BY e.dst),
           |d$i AS (SELECT coalesce(sum(r), 0.0) AS dang FROM $p
           |        WHERE id NOT IN (SELECT src FROM e)),
           |r$i AS (
           |  SELECT nodes.id,
           |         $rest / nn.n + $d * (coalesce(c$i.c, 0.0) + d$i.dang / nn.n) AS r
           |  FROM nodes CROSS JOIN nn CROSS JOIN d$i
           |  LEFT JOIN c$i ON c$i.id = nodes.id)""".stripMargin
      }
      val last = s"r${llm.Graph.PrIterations}"
      // e MATERIALIZED: same per-reference CTE inlining hazard as
      // x_labelprop's e0 — the rank rounds reference the fact join ~10×
      s"""WITH e AS MATERIALIZED (
         |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
         |         CAST(count(*) AS BIGINT) AS w
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  GROUP BY 1, 2),
         |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |ow AS (SELECT src, CAST(sum(w) AS DOUBLE) AS outw FROM e GROUP BY src),
         |r0 AS (SELECT id, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
         |${(1 to llm.Graph.PrIterations).map(iter).mkString(",\n")},
         |iw AS (SELECT dst, CAST(sum(w) AS BIGINT) AS in_w FROM e GROUP BY dst),
         |o2 AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w FROM e GROUP BY src)
         |SELECT nat.n_name,
         |       CAST(coalesce(iw.in_w, 0) AS BIGINT) AS in_w,
         |       CAST(coalesce(o2.out_w, 0) AS BIGINT) AS out_w,
         |       round($last.r, 6) AS "rank"
         |FROM $last
         |JOIN nation nat ON nat.n_nationkey = $last.id
         |LEFT JOIN iw ON iw.dst = $last.id
         |LEFT JOIN o2 ON o2.src = $last.id
         |ORDER BY n_name""".stripMargin
    },
    // grouping sets: Spark dayofweek is 1=Sunday..7; DuckDB's is 0-based
    "x_grouping_sets" ->
      """WITH e AS (
        |  SELECT event_type, CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
        |         CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events)
        |SELECT coalesce(event_type, 'ALL') AS event_type,
        |       CAST(coalesce(dow, -1) AS BIGINT) AS dow,
        |       CAST(GROUPING(event_type) * 2 + GROUPING(dow) AS BIGINT) AS gid,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(v) AS DOUBLE) AS total_value
        |FROM e
        |GROUP BY GROUPING SETS ((event_type, dow), (event_type), (dow), ())
        |ORDER BY event_type, dow, gid""".stripMargin,
    // analytic-window breadth: every rank function over the same total
    // order (value, event_id); NULL lag-gap rows fall to the 0 branch on
    // both sides
    "x_window_funcs" ->
      """WITH v AS (
        |  SELECT event_type, event_id, CAST(value AS DECIMAL(18,2)) AS value
        |  FROM events WHERE value IS NOT NULL),
        |w AS (
        |  SELECT event_type, value,
        |         ntile(4) OVER win AS q,
        |         percent_rank() OVER win AS pr,
        |         cume_dist() OVER win AS cd,
        |         CAST(value - lag(value, 1) OVER win AS DOUBLE) AS gap
        |  FROM v WINDOW win AS (PARTITION BY event_type ORDER BY value, event_id))
        |SELECT event_type, CAST(q AS BIGINT) AS q, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(value) AS DOUBLE) AS total_value,
        |       round(avg(pr), 6) AS mean_pr,
        |       max(cd) AS max_cd,
        |       CAST(sum(CASE WHEN gap > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_big_gaps
        |FROM w GROUP BY 1, 2 ORDER BY event_type, q""".stripMargin,
    "x_cooccur" -> OracleLlm.cooccurSql,
    "x_sample_topk" -> OracleLlm.sampleTopKSql,
    "x_rep_ngram" -> OracleLlm.repNgramSql,
    "x_gopher" -> OracleLlm.gopherRulesSql,
    "x_triangles" -> OracleLlm.trianglesSql,
    "x_global_ids" -> OracleLlm.globalIdsSql,
    "x_fuzzy_join" -> OracleLlm.fuzzyJoinSql,
    // per-user ordered transition counts; rate is one division of two
    // exact BIGINTs (deterministic), ties pinned by (ts, event_id)
    // stepped half-life decay: 2^-h weights are exact dyadic doubles on
    // both engines; only the summation order differs -> round 6
    "x_decay" ->
      s"""WITH e AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |m AS (SELECT max(day) AS d1 FROM e),
        |w AS (
        |  SELECT event_type, day, cents,
        |         1.0 / CAST(CAST(1 AS BIGINT) << least((d1 - day) // 7, ${llm.Events.DecayCapHalfLives}) AS DOUBLE) AS w
        |  FROM e CROSS JOIN m)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       max(day) AS last_day,
        |       round(sum(w), 6) AS decayed_n,
        |       round(sum(CAST(cents AS DOUBLE) * w), 6) AS decayed_cents
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin,
    // RFM grid: all three metrics exact integers (days/counts/cents);
    // every ntile's ORDER BY ends in custkey -> unique total order, so
    // quartile assignment is engine-independent
    "x_rfm" ->
      """WITH o AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |mx AS (SELECT max(day) AS max_day FROM o),
        |pc AS (
        |  SELECT o_custkey,
        |         CAST((SELECT max_day FROM mx) - max(day) AS BIGINT) AS recency_days,
        |         CAST(count(*) AS BIGINT) AS frequency,
        |         CAST(sum(cents) AS BIGINT) AS monetary_cents
        |  FROM o GROUP BY o_custkey),
        |sc AS (
        |  SELECT c.c_mktsegment, pc.o_custkey, pc.monetary_cents,
        |         CAST(ntile(4) OVER (PARTITION BY c.c_mktsegment
        |           ORDER BY pc.recency_days ASC, pc.o_custkey ASC) AS BIGINT) AS r_tile,
        |         CAST(ntile(4) OVER (PARTITION BY c.c_mktsegment
        |           ORDER BY pc.frequency DESC, pc.o_custkey ASC) AS BIGINT) AS f_tile,
        |         CAST(ntile(4) OVER (PARTITION BY c.c_mktsegment
        |           ORDER BY pc.monetary_cents DESC, pc.o_custkey ASC) AS BIGINT) AS m_tile
        |  FROM pc JOIN customer c ON pc.o_custkey = c.c_custkey)
        |SELECT c_mktsegment, r_tile, f_tile, m_tile,
        |       CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(min(o_custkey) AS BIGINT) AS min_custkey,
        |       CAST(sum(monetary_cents) AS BIGINT) AS cell_cents
        |FROM sc GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin,
    "x_transitions" ->
      """WITH s AS (
        |  SELECT user_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |m AS (
        |  SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
        |  FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |t AS (
        |  SELECT prev_type, next_type, n,
        |         CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS row_total
        |  FROM m)
        |SELECT prev_type, next_type, n, row_total,
        |       CAST(n AS DOUBLE) / CAST(row_total AS DOUBLE) AS rate
        |FROM t ORDER BY prev_type, next_type""".stripMargin,
    // OLS moments exact BIGINT; slope/intercept are the identical IEEE
    // expression over correctly-rounded BIGINT->double casts
    // 2x|types| contingency from one exact agg; expected cells and the
    // per-type chi-square contribution are verbatim-mirrored IEEE chains
    "x_chi2_drift" ->
      """WITH c AS (
        |  SELECT event_type,
        |         CAST(sum(CASE WHEN CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) % 2 = 0
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |         CAST(sum(CASE WHEN CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) % 2 = 1
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM events GROUP BY event_type),
        |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS t_a, CAST(sum(n_b) AS BIGINT) AS t_b,
        |             CAST(sum(n_a + n_b) AS BIGINT) AS t FROM c)
        |SELECT event_type, n_a, n_b,
        |       (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) * CAST(t_a AS DOUBLE) / CAST(t AS DOUBLE) AS e_a,
        |       (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) * CAST(t_b AS DOUBLE) / CAST(t AS DOUBLE) AS e_b,
        |       (CAST(n_a AS DOUBLE) - (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) * CAST(t_a AS DOUBLE) / CAST(t AS DOUBLE))
        |         * (CAST(n_a AS DOUBLE) - (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) * CAST(t_a AS DOUBLE) / CAST(t AS DOUBLE))
        |         / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) * CAST(t_a AS DOUBLE) / CAST(t AS DOUBLE))
        |       + (CAST(n_b AS DOUBLE) - (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) * CAST(t_b AS DOUBLE) / CAST(t AS DOUBLE))
        |         * (CAST(n_b AS DOUBLE) - (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) * CAST(t_b AS DOUBLE) / CAST(t AS DOUBLE))
        |         / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) * CAST(t_b AS DOUBLE) / CAST(t AS DOUBLE)) AS chi2_contrib
        |FROM c, t ORDER BY event_type""".stripMargin,
    // doubled-rank-domain U statistic: exact BIGINT rank sums + tie mass;
    // z is one verbatim-mirrored IEEE chain (sqrt is correctly-rounded)
    "x_mann_whitney" ->
      """WITH pv AS (
        |  SELECT event_type,
        |         CAST(CAST(value AS DECIMAL(18, 2)) * 100 AS BIGINT) AS cents,
        |         CAST(sum(CASE WHEN CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) % 2 = 0
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |         CAST(sum(CASE WHEN CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) % 2 = 1
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |w AS (
        |  SELECT *, COALESCE(sum(ca + cb) OVER (PARTITION BY event_type ORDER BY cents
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
        |  FROM pv),
        |s AS (
        |  SELECT event_type,
        |         CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
        |         CAST(sum(ca * (2 * bef + ca + cb + 1)) AS BIGINT) AS r2_a,
        |         CAST(sum((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb)) AS BIGINT) AS tie_cube,
        |         CAST(count(*) AS BIGINT) AS n_vals
        |  FROM w GROUP BY event_type HAVING sum(ca) > 0 AND sum(cb) > 0)
        |SELECT event_type, n_a, n_b,
        |       r2_a - n_a * (n_a + 1) AS u2_a,
        |       2 * n_a * n_b - (r2_a - n_a * (n_a + 1)) AS u2_b,
        |       tie_cube,
        |       CASE WHEN n_vals > 1 THEN
        |         CAST(r2_a - n_a * (n_a + 1) - n_a * n_b AS DOUBLE)
        |           / (2.0 * sqrt(CAST(n_a * n_b AS DOUBLE) / 12.0
        |               * (CAST(n_a + n_b + 1 AS DOUBLE)
        |                  - CAST(tie_cube AS DOUBLE) / CAST((n_a + n_b) * (n_a + n_b - 1) AS DOUBLE))))
        |       END AS z
        |FROM s ORDER BY event_type""".stripMargin,
    // calendar-bounded pair domain; median selected on the deterministic
    // (IEEE slope, exact dy, dx, xi) total order — slope division mirrored
    "x_theilsen" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
        |         CAST(sum(CAST(CAST(value AS DECIMAL(18, 2)) * 100 AS BIGINT)) AS BIGINT) AS y
        |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL GROUP BY 1),
        |pairs AS (
        |  SELECT a.x AS xi, b.y - a.y AS dy, b.x - a.x AS dx,
        |         CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
        |  FROM daily a JOIN daily b ON b.x > a.x),
        |ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY slope, dy, dx, xi) AS rn,
        |         CAST(count(*) OVER () AS BIGINT) AS np
        |  FROM pairs),
        |med AS (SELECT dy AS med_dy, dx AS med_dx, slope, np AS n_pairs
        |        FROM ranked WHERE rn = (np + 1) // 2),
        |resid AS (
        |  SELECT d.x, m.med_dy, m.med_dx, m.slope, m.n_pairs,
        |         CAST(d.y AS DOUBLE) - m.slope * CAST(d.x AS DOUBLE) AS ic
        |  FROM daily d, med m),
        |rr AS (SELECT *, row_number() OVER (ORDER BY ic, x) AS rn,
        |              CAST(count(*) OVER () AS BIGINT) AS nd FROM resid)
        |SELECT nd AS n_days, n_pairs, med_dy, med_dx, slope, ic AS intercept
        |FROM rr WHERE rn = (nd + 1) // 2""".stripMargin,
    // split-conformal: exact-moment OLS on train folds, q-hat = the
    // ceil(0.9*(n+1))-th calibration residual (orderkey tie-break),
    // honest coverage on the disjoint test fold — all IEEE chains mirrored
    "x_conformal" ->
      s"""WITH base AS (
        |  SELECT c.c_mktsegment, o.o_orderkey,
        |         CAST(CAST(o.o_orderdate AS DATE) - DATE '${llm.Analytics.LinregEpoch}' AS BIGINT) AS x,
        |         CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
        |         o.o_orderkey % 4 AS fold
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |m AS (
        |  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_train,
        |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM base WHERE fold <= 1 GROUP BY c_mktsegment),
        |sl AS (
        |  SELECT *,
        |         (CAST(n_train AS DOUBLE) * CAST(sxy AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |           / (CAST(n_train AS DOUBLE) * CAST(sxx AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope
        |  FROM m),
        |md AS (
        |  SELECT c_mktsegment, n_train, slope,
        |         (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
        |           / CAST(n_train AS DOUBLE) AS intercept
        |  FROM sl),
        |cal AS (
        |  SELECT b.c_mktsegment, b.o_orderkey,
        |         abs(CAST(b.y AS DOUBLE)
        |             - (md.slope * CAST(b.x AS DOUBLE) + md.intercept)) AS r
        |  FROM base b JOIN md USING (c_mktsegment) WHERE b.fold = 2),
        |cr AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY c_mktsegment
        |            ORDER BY r, o_orderkey) AS BIGINT) AS rk
        |  FROM cal),
        |nc AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cal
        |       FROM cal GROUP BY c_mktsegment),
        |qh AS (
        |  SELECT cr.c_mktsegment, nc.n_cal, cr.r AS q_hat
        |  FROM cr JOIN nc USING (c_mktsegment)
        |  WHERE cr.rk = least((${llm.Analytics.ConformalPct} * (nc.n_cal + 1) + 99) // 100,
        |                      nc.n_cal)),
        |t AS (
        |  SELECT b.c_mktsegment, CAST(count(*) AS BIGINT) AS n_test,
        |         CAST(sum(CASE WHEN abs(CAST(b.y AS DOUBLE)
        |               - (md.slope * CAST(b.x AS DOUBLE) + md.intercept)) <= qh.q_hat
        |             THEN 1 ELSE 0 END) AS BIGINT) AS covered
        |  FROM base b JOIN md USING (c_mktsegment) JOIN qh USING (c_mktsegment)
        |  WHERE b.fold = 3 GROUP BY b.c_mktsegment)
        |SELECT md.c_mktsegment, md.n_train, qh.n_cal, t.n_test,
        |       md.slope, md.intercept, qh.q_hat, t.covered,
        |       CAST(t.covered * 1000000 // t.n_test AS BIGINT) AS coverage_ppm
        |FROM md JOIN qh USING (c_mktsegment) JOIN t USING (c_mktsegment)
        |ORDER BY md.c_mktsegment""".stripMargin,
    "x_linreg" ->
      s"""WITH o AS (
        |  SELECT o_custkey,
        |         CAST(CAST(o_orderdate AS DATE) - DATE '${llm.Analytics.LinregEpoch}' AS BIGINT) AS x,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        |  FROM orders),
        |m AS (
        |  SELECT c.c_mktsegment,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(x) AS BIGINT) AS sx,
        |         CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(x * y) AS BIGINT) AS sxy,
        |         CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY c.c_mktsegment),
        |s AS (
        |  SELECT *,
        |         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope
        |  FROM m)
        |SELECT c_mktsegment, n, sx, sy, sxy, sxx, slope,
        |       (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
        |         AS intercept
        |FROM s ORDER BY c_mktsegment""".stripMargin,
    // percentile_disc bounds at 1-based rank ceil(p*n) over the unique
    // (cents, custkey) order; clamped sum stays exact BIGINT
    "x_winsorize" ->
      s"""WITH b AS (
        |  SELECT c_mktsegment,
        |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |         c_custkey
        |  FROM customer),
        |r AS (
        |  SELECT *,
        |         CAST(row_number() OVER (PARTITION BY c_mktsegment
        |           ORDER BY cents, c_custkey) AS BIGINT) AS rn,
        |         CAST(count(*) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS cnt
        |  FROM b),
        |bd AS (
        |  SELECT c_mktsegment,
        |         max(CASE WHEN rn = (cnt * ${llm.Analytics.WinsorPct} + 99) // 100
        |             THEN cents END) AS lo_cents,
        |         max(CASE WHEN rn = (cnt * ${100 - llm.Analytics.WinsorPct} + 99) // 100
        |             THEN cents END) AS hi_cents
        |  FROM r GROUP BY c_mktsegment)
        |SELECT b.c_mktsegment,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(max(bd.lo_cents) AS BIGINT) AS lo_cents,
        |       CAST(max(bd.hi_cents) AS BIGINT) AS hi_cents,
        |       CAST(sum(greatest(least(b.cents, bd.hi_cents), bd.lo_cents)) AS BIGINT)
        |         AS win_sum_cents,
        |       CAST(sum(b.cents) AS BIGINT) AS raw_sum_cents,
        |       CAST(sum(greatest(least(b.cents, bd.hi_cents), bd.lo_cents)) AS DOUBLE)
        |         / CAST(count(*) AS DOUBLE) AS win_mean
        |FROM b JOIN bd USING (c_mktsegment)
        |GROUP BY b.c_mktsegment ORDER BY b.c_mktsegment""".stripMargin,
    // observe() metrics are the pass-through aggregates stated directly
    "x_observe" ->
      s"""SELECT 'in' AS stage, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        |         AS sum_cents
        |FROM orders
        |UNION ALL
        |SELECT 'out' AS stage, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        |         AS sum_cents
        |FROM orders WHERE ${llm.Analytics.ObservePredicate}
        |ORDER BY stage""".stripMargin,
    // forward fill mirrored with the engine-agnostic count-over (fill
    // group id) + max-per-group trick; spine via generate_series
    "x_gapfill" ->
      s"""WITH j AS (
        |  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders
        |  WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |          > ${llm.Analytics.JumboCents}),
        |d AS (
        |  SELECT priority, day, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(cents) AS BIGINT) AS day_cents
        |  FROM j GROUP BY priority, day),
        |s0 AS (SELECT priority, min(day) AS d0, max(day) AS d1 FROM d GROUP BY priority),
        |sp AS (
        |  SELECT priority,
        |         CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM s0),
        |f AS (
        |  SELECT sp.priority, sp.day, d.n, d.day_cents
        |  FROM sp LEFT JOIN d USING (priority, day)),
        |g AS (
        |  SELECT *, count(day_cents) OVER (PARTITION BY priority ORDER BY day) AS grp
        |  FROM f)
        |SELECT priority, day,
        |       coalesce(n, CAST(0 AS BIGINT)) AS n,
        |       coalesce(day_cents, CAST(0 AS BIGINT)) AS day_cents,
        |       CAST(max(day_cents) OVER (PARTITION BY priority, grp) AS BIGINT)
        |         AS ffill_cents,
        |       (n IS NULL) AS is_gap
        |FROM g ORDER BY priority, day""".stripMargin,
    // bitmap merge is exact set union -> both the naive additive rollup
    // and the merged exact count are plain COUNT(DISTINCT) mirrors
    "x_bitmap_distinct" ->
      """WITH pd AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |         CAST(count(DISTINCT user_id) AS BIGINT) AS nd
        |  FROM events GROUP BY event_type, day),
        |ex AS (
        |  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS nu
        |  FROM events GROUP BY event_type)
        |SELECT pd.event_type,
        |       CAST(count(*) AS BIGINT) AS n_days,
        |       CAST(sum(pd.nd) AS BIGINT) AS daily_distinct_sum,
        |       CAST(max(ex.nu) AS BIGINT) AS distinct_exact
        |FROM pd JOIN ex USING (event_type)
        |GROUP BY pd.event_type ORDER BY pd.event_type""".stripMargin,
    "x_kmv" -> OracleLlm.kmvSql,
    "x_dup_spans" -> OracleLlm.dupSpansSql,
    "x_dup_spans_cut" -> OracleLlm.dupSpansCutSql,
    // streaming left-outer join == the identical batch LEFT JOIN once the
    // sentinel-driven watermark has flushed every real outer row
    "x_stream_join_outer" ->
      """WITH s AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |           WHERE event_type = 'signup'),
        |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
        |      WHERE event_type = 'purchase')
        |SELECT CAST(p.ts AS DATE) AS day,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CASE WHEN s.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_matched,
        |       CAST(sum(CASE WHEN s.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_unmatched,
        |       CAST(sum(CASE WHEN s.user_id IS NULL
        |                THEN CAST(p.value AS DECIMAL(18,2))
        |                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |         AS unattributed_value
        |FROM p LEFT JOIN s ON p.user_id = s.user_id
        |           AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 7 DAY
        |GROUP BY 1 ORDER BY day""".stripMargin,
    // pair/marginal counts exact BIGINT; lift casts the integer products
    "x_basket" ->
      s"""WITH ob AS (
        |  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |no AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders FROM ob),
        |m AS (SELECT brand, CAST(count(*) AS BIGINT) AS nb FROM ob GROUP BY brand),
        |pr AS (
        |  SELECT a.brand AS brand_a, b.brand AS brand_b,
        |         CAST(count(*) AS BIGINT) AS n_ab
        |  FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
        |  GROUP BY 1, 2)
        |SELECT pr.brand_a, pr.brand_b, pr.n_ab,
        |       ma.nb AS n_a, mb.nb AS n_b, no.n_orders,
        |       CAST(no.n_orders * pr.n_ab AS DOUBLE)
        |         / CAST(ma.nb * mb.nb AS DOUBLE) AS lift
        |FROM pr
        |JOIN m ma ON ma.brand = pr.brand_a
        |JOIN m mb ON mb.brand = pr.brand_b, no
        |ORDER BY n_ab DESC, brand_a, brand_b
        |LIMIT ${llm.Analytics.BasketTopN}""".stripMargin,
    // Kaplan-Meier: suffix-window risk set, exact ppm product fold over
    // day-ordered steps (encoded n*2^31+d so list_reduce folds BIGINTs)
    "x_survival" ->
      s"""WITH days AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |hz AS (SELECT max(day) AS max_day FROM days),
        |pu AS (
        |  SELECT CAST(u.ex - u.en AS BIGINT) AS t,
        |         CASE WHEN u.ex >= hz.max_day - ${llm.Analytics.CensorLastDays}
        |              THEN 1 ELSE 0 END AS cens
        |  FROM (SELECT user_id, min(day) AS en, max(day) AS ex
        |        FROM days GROUP BY user_id) u, hz),
        |bt AS (SELECT t, CAST(sum(1 - cens) AS BIGINT) AS d,
        |              CAST(sum(cens) AS BIGINT) AS c
        |       FROM pu GROUP BY t),
        |rk AS (SELECT t, d, c,
        |              CAST(sum(d + c) OVER (ORDER BY t DESC
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |                AS BIGINT) AS n_at_risk
        |       FROM bt),
        |st AS (SELECT list(n_at_risk * 2147483648 + d ORDER BY t) AS steps,
        |              list(t ORDER BY t) AS ts FROM rk WHERE d > 0)
        |SELECT rk.t, rk.n_at_risk, rk.d AS n_deaths, rk.c AS n_censored,
        |       CAST(list_reduce(list_prepend(CAST(1000000 AS BIGINT),
        |              [st.steps[CAST(i AS INT)] FOR i IN range(1, len(st.steps) + 1)
        |               IF st.ts[CAST(i AS INT)] <= rk.t]),
        |            (acc, x) -> acc * ((x // 2147483648) - (x % 2147483648))
        |                        // (x // 2147483648)) AS BIGINT) AS survival_ppm
        |FROM rk, st ORDER BY rk.t""".stripMargin,
    // CUPED: exact per-user (pre, post) moments, theta / diffs / rho2 as
    // fixed IEEE expressions over BIGINT sums, verbatim on both engines
    "x_cuped" -> {
      val covS = "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
      val varxS = "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
      val varyS = "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
      val rawS = "(CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE))"
      val preS = "(CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE))"
      s"""WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         CASE WHEN event_type = 'purchase'
        |              THEN CAST(CAST(value AS DECIMAL(18, 2)) * 100 AS BIGINT)
        |              ELSE 0 END AS cents
        |  FROM events),
        |pu AS (
        |  SELECT user_id,
        |         sum(CASE WHEN day < DATE '${llm.Analytics.DidCutoff}' THEN cents ELSE 0 END) AS x,
        |         sum(CASE WHEN day >= DATE '${llm.Analytics.DidCutoff}' THEN cents ELSE 0 END) AS y
        |  FROM ev GROUP BY user_id),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(x * y) AS BIGINT) AS sxy,
        |         CAST(sum(x * x) AS BIGINT) AS sxx,
        |         CAST(sum(y * y) AS BIGINT) AS syy,
        |         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |         CAST(sum(CASE WHEN user_id % 2 = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
        |         CAST(sum(CASE WHEN user_id % 2 = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
        |         CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |         CAST(sum(CASE WHEN user_id % 2 = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_b,
        |         CAST(sum(CASE WHEN user_id % 2 = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b
        |  FROM pu)
        |SELECT n, n_a, n_b,
        |       $covS / $varxS AS theta,
        |       $rawS AS diff_raw,
        |       $rawS - ($covS / $varxS) * $preS AS diff_cuped,
        |       ($covS * $covS) / ($varxS * $varyS) AS rho2
        |FROM m""".stripMargin
    },
    // four exact cells from one per-user-period agg; the DiD point
    // estimate is one fixed IEEE expression over exact BIGINT cells
    "x_did" ->
      s"""WITH up AS (
        |  SELECT user_id,
        |         CASE WHEN CAST(ts AS DATE) >= DATE '${llm.Analytics.DidCutoff}'
        |              THEN 'post' ELSE 'pre' END AS period,
        |         sum(CASE WHEN event_type = 'purchase'
        |             THEN CAST(CAST(value AS DECIMAL(18, 2)) * 100 AS BIGINT)
        |             ELSE 0 END) AS cents
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT
        |    CAST(sum(CASE WHEN user_id % 2 = 1 AND period = 'pre' THEN 1 ELSE 0 END) AS BIGINT) AS n_t_pre,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 AND period = 'pre' THEN cents ELSE 0 END) AS BIGINT) AS c_t_pre,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 AND period = 'post' THEN 1 ELSE 0 END) AS BIGINT) AS n_t_post,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 AND period = 'post' THEN cents ELSE 0 END) AS BIGINT) AS c_t_post,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 AND period = 'pre' THEN 1 ELSE 0 END) AS BIGINT) AS n_c_pre,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 AND period = 'pre' THEN cents ELSE 0 END) AS BIGINT) AS c_c_pre,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 AND period = 'post' THEN 1 ELSE 0 END) AS BIGINT) AS n_c_post,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 AND period = 'post' THEN cents ELSE 0 END) AS BIGINT) AS c_c_post
        |  FROM up)
        |SELECT n_t_pre, c_t_pre, n_t_post, c_t_post,
        |       n_c_pre, c_c_pre, n_c_post, c_c_post,
        |       (CAST(c_t_post AS DOUBLE) / CAST(nullif(n_t_post, 0) AS DOUBLE)
        |          - CAST(c_t_pre AS DOUBLE) / CAST(nullif(n_t_pre, 0) AS DOUBLE))
        |       - (CAST(c_c_post AS DOUBLE) / CAST(nullif(n_c_post, 0) AS DOUBLE)
        |          - CAST(c_c_pre AS DOUBLE) / CAST(nullif(n_c_pre, 0) AS DOUBLE)) AS did_cents
        |FROM g""".stripMargin,
    // deterministic hash-Poisson replica weights against pinned CDF
    // literals; CI = exact order statistics of the 64 replicate diffs
    "x_bootstrap" ->
      s"""WITH u0 AS (
        |  SELECT user_id,
        |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
        |  FROM events GROUP BY user_id),
        |u AS (
        |  SELECT user_id,
        |         CASE WHEN np >= ${llm.Analytics.PowerBuyerMin}
        |              THEN CAST(1 AS BIGINT) ELSE 0 END AS conv,
        |         user_id % 2 AS variant
        |  FROM u0),
        |h AS (
        |  SELECT u.variant, u.conv, b.b,
        |         (${OracleLlm.polyHashSql("concat(u.user_id, ':', b.b)", 131)}
        |            * ${llm.Analytics.ScrambleMul} + ${llm.Analytics.ScrambleAdd})
        |           % ${llm.Analytics.HashMod} AS h
        |  FROM u, (SELECT unnest(range(0, ${llm.Analytics.BootstrapB})) AS b) b),
        |ww AS (
        |  SELECT b, variant, conv,
        |         CASE WHEN h < ${llm.Analytics.PoissonThresholds(0)} THEN 0
        |              WHEN h < ${llm.Analytics.PoissonThresholds(1)} THEN 1
        |              WHEN h < ${llm.Analytics.PoissonThresholds(2)} THEN 2
        |              WHEN h < ${llm.Analytics.PoissonThresholds(3)} THEN 3
        |              WHEN h < ${llm.Analytics.PoissonThresholds(4)} THEN 4
        |              ELSE 5 END AS w
        |  FROM h),
        |reps AS (
        |  SELECT b,
        |         sum(CASE WHEN variant = 0 THEN w ELSE 0 END) AS n_a,
        |         sum(CASE WHEN variant = 0 THEN w * conv ELSE 0 END) AS c_a,
        |         sum(CASE WHEN variant = 1 THEN w ELSE 0 END) AS n_b,
        |         sum(CASE WHEN variant = 1 THEN w * conv ELSE 0 END) AS c_b
        |  FROM ww GROUP BY b),
        |d AS (
        |  SELECT b, (c_a * 1000000 // nullif(n_a, 0))
        |           - (c_b * 1000000 // nullif(n_b, 0)) AS diff_ppm
        |  FROM reps),
        |r AS (SELECT b, diff_ppm,
        |             row_number() OVER (ORDER BY diff_ppm, b) AS r FROM d),
        |pt AS (
        |  SELECT (sum(CASE WHEN variant = 0 THEN conv ELSE 0 END) * 1000000
        |            // nullif(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END), 0))
        |       - (sum(CASE WHEN variant = 1 THEN conv ELSE 0 END) * 1000000
        |            // nullif(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END), 0)) AS point_ppm
        |  FROM u)
        |SELECT CAST(count(*) AS BIGINT) AS n_replicates,
        |       CAST(pt.point_ppm AS BIGINT) AS point_ppm,
        |       CAST(min(CASE WHEN r.r = 2 THEN diff_ppm END) AS BIGINT) AS lo_ppm,
        |       CAST(min(CASE WHEN r.r = ${llm.Analytics.BootstrapB - 1} THEN diff_ppm END) AS BIGINT) AS hi_ppm
        |FROM r, pt GROUP BY pt.point_ppm""".stripMargin,
    // one per-user agg then exact counts; z2 is one fixed IEEE expression
    "x_ab_test" ->
      s"""WITH u0 AS (
        |  SELECT user_id,
        |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
        |  FROM events GROUP BY user_id),
        |u AS (
        |  SELECT user_id,
        |         CASE WHEN np >= ${llm.Analytics.PowerBuyerMin} THEN 1 ELSE 0 END AS conv,
        |         user_id % 2 AS variant
        |  FROM u0),
        |g AS (
        |  SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |         CAST(sum(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
        |         CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |         CAST(sum(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_b
        |  FROM u)
        |SELECT n_a, c_a, n_b, c_b,
        |       CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
        |       CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
        |       CASE WHEN c_a + c_b = 0 OR c_a + c_b = n_a + n_b THEN 0.0
        |       ELSE ((CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |          - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |        * (CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |          - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE)))
        |       / ((CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |          * (1.0 - CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |          * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
        |       END AS z2
        |FROM g""".stripMargin,
    // oracle is the O(n^2) dominance NOT EXISTS (fine at fixture scale);
    // exact (price, size) ties dedup to the min partkey on both sides
    "x_skyline" ->
      """WITH pp AS (
        |  SELECT p_partkey,
        |         CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents,
        |         CAST(p_size AS BIGINT) AS size
        |  FROM part)
        |SELECT a.p_partkey, a.price_cents, a.size
        |FROM pp a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pp q
        |  WHERE (q.price_cents <= a.price_cents AND q.size >= a.size
        |         AND (q.price_cents < a.price_cents OR q.size > a.size))
        |     OR (q.price_cents = a.price_cents AND q.size = a.size
        |         AND q.p_partkey < a.p_partkey))
        |ORDER BY price_cents, p_partkey""".stripMargin,
    "x_eval_metrics" -> OracleLlm.evalMetricsSql,
    // typed JSON extraction mirror: json_extract_string + cast
    "x_json_extract" ->
      """WITH e AS (
        |  SELECT event_type,
        |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(k) AS BIGINT) AS n_with_k,
        |       CAST(sum(k) AS BIGINT) AS sum_k,
        |       CAST(min(k) AS BIGINT) AS min_k,
        |       CAST(max(k) AS BIGINT) AS max_k,
        |       CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
    // weekly cohort triangle: week = date_trunc both engines, offset an
    // exact integer day difference over 7
    "x_cohort" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
        |  FROM events),
        |a AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id),
        |sz AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_n
        |       FROM a GROUP BY cohort_week),
        |m AS (
        |  SELECT a.cohort_week,
        |         CAST((uw.week - a.cohort_week) // 7 AS BIGINT) AS week_offset,
        |         CAST(count(*) AS BIGINT) AS n_active
        |  FROM uw JOIN a USING (user_id)
        |  GROUP BY 1, 2)
        |SELECT m.cohort_week, m.week_offset, m.n_active, sz.cohort_n,
        |       CAST(m.n_active AS DOUBLE) / CAST(sz.cohort_n AS DOUBLE) AS rate
        |FROM m JOIN sz USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin,
    // digit-count log10 bucketing: string length of an exact integer, no
    // float log anywhere; µs arithmetic stays integral end to end
    "x_time_to_convert" ->
      """WITH per AS (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'signup'
        |             THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS s_us,
        |         min(CASE WHEN event_type = 'purchase'
        |             THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS p_us
        |  FROM events GROUP BY user_id),
        |d AS (SELECT (p_us - s_us) // 1000000 AS delta_s FROM per
        |      WHERE s_us IS NOT NULL AND p_us IS NOT NULL AND p_us >= s_us)
        |SELECT CAST(length(CAST(delta_s AS VARCHAR)) AS BIGINT) AS magnitude,
        |       CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(min(delta_s) AS BIGINT) AS min_s,
        |       CAST(max(delta_s) AS BIGINT) AS max_s,
        |       CAST(sum(delta_s) AS BIGINT) AS total_s
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    // 2-cell goodness-of-fit collapsed to ONE division over exact ints;
    // the alarm is a cross-multiplied integer comparison, no float cut
    "x_ab_srm" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |g AS (SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_0,
        |             CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_1
        |      FROM u)
        |SELECT n_0, n_1,
        |       CAST(n_0 * 1000000 // (n_0 + n_1) AS BIGINT) AS share_0_ppm,
        |       CAST((n_0 - n_1) * (n_0 - n_1) AS DOUBLE)
        |         / CAST(n_0 + n_1 AS DOUBLE) AS chi2,
        |       CAST(CASE WHEN (n_0 - n_1) * (n_0 - n_1) * 100 > 384 * (n_0 + n_1)
        |            THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
        |FROM g""".stripMargin,
    // the X-COHORT anchor with purchase value riding along; cumulative
    // window over the calendar-bounded offset domain, exact integers
    "x_ltv" ->
      """WITH uw AS (
        |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week,
        |         CAST(sum(CASE WHEN event_type = 'purchase'
        |             THEN CAST(CAST(value AS DECIMAL(18, 2)) * 100 AS BIGINT)
        |             ELSE 0 END) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id),
        |sz AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_n
        |       FROM a GROUP BY cohort_week),
        |wk AS (
        |  SELECT a.cohort_week,
        |         CAST((uw.week - a.cohort_week) // 7 AS BIGINT) AS week_offset,
        |         CAST(sum(uw.cents) AS BIGINT) AS week_cents
        |  FROM uw JOIN a USING (user_id)
        |  GROUP BY 1, 2),
        |c AS (SELECT cohort_week, week_offset, week_cents,
        |             CAST(sum(week_cents) OVER (PARTITION BY cohort_week
        |               ORDER BY week_offset) AS BIGINT) AS cum_cents
        |      FROM wk)
        |SELECT c.cohort_week, c.week_offset, sz.cohort_n, c.week_cents, c.cum_cents,
        |       CAST(c.cum_cents // sz.cohort_n AS BIGINT) AS ltv_cents_per_user
        |FROM c JOIN sz USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin,
    // TPC-H Q5 shape: revenue in exact scale-4 DECIMAL, one final cast
    "x_star_join" ->
      s"""SELECT n.n_name, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
        |           * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2))))
        |         AS DOUBLE) AS revenue
        |FROM customer c, orders o, lineitem l, supplier s, nation n, region r
        |WHERE c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
        |  AND l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        |  AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
        |  AND r.r_name = '${ScaleQueries.StarRegion}'
        |  AND o.o_orderdate >= TIMESTAMP '${ScaleQueries.StarYearStart}'
        |  AND o.o_orderdate < TIMESTAMP '${ScaleQueries.StarYearEnd}'
        |GROUP BY n.n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "x_lsh_recall" -> OracleLlm.lshRecallSql,
    // the drop counter must equal the re-delivered first day's row count;
    // the sink rollup must equal the single-copy batch aggregate
    "x_stream_late" ->
      """WITH b AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_cells,
        |       (SELECT CAST(sum(n) AS BIGINT) FROM b) AS n_events,
        |       (SELECT CAST(count(*) AS BIGINT) FROM events
        |        WHERE ts < (SELECT date_trunc('day', min(ts)) + INTERVAL 1 DAY
        |                    FROM events)) AS n_dropped""".stripMargin,
    // mirrored deterministic corruption (all CASEs key on the ORIGINAL
    // o_orderkey), then the same five rule counts
    "x_expectations" ->
      s"""WITH inj AS (
        |  SELECT CASE WHEN o_orderkey % 113 = 0 THEN o_orderkey + 1
        |              ELSE o_orderkey END AS o_orderkey,
        |         CASE WHEN o_orderkey % 103 = 0 THEN -o_custkey
        |              ELSE o_custkey END AS o_custkey,
        |         CASE WHEN o_orderkey % 97 = 0 THEN 'X'
        |              ELSE o_orderstatus END AS o_orderstatus,
        |         CASE WHEN o_orderkey % 101 = 0 THEN -o_totalprice
        |              ELSE o_totalprice END AS o_totalprice,
        |         CASE WHEN o_orderkey % 109 = 0 THEN TIMESTAMP '1970-01-01'
        |              ELSE o_orderdate END AS o_orderdate
        |  FROM orders),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
        |         CAST(sum(CASE WHEN o_orderstatus NOT IN
        |             (${etl.Expectations.ValidStatuses.map(s => s"'$s'").mkString(", ")})
        |           THEN 1 ELSE 0 END) AS BIGINT) AS status_viol,
        |         CAST(sum(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS price_viol,
        |         CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '${etl.Expectations.DateLo}'
        |             OR o_orderdate >= TIMESTAMP '${etl.Expectations.DateHi}'
        |           THEN 1 ELSE 0 END) AS BIGINT) AS date_viol
        |  FROM inj),
        |fk AS (
        |  SELECT CAST(count(*) AS BIGINT) AS fk_viol FROM inj
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                    WHERE c.c_custkey = inj.o_custkey))
        |SELECT rule, n_checked, n_violations, n_violations = 0 AS passed FROM (
        |  SELECT 'date_in_range' AS rule, a.n AS n_checked,
        |         a.date_viol AS n_violations FROM a
        |  UNION ALL SELECT 'fk_custkey', a.n, fk.fk_viol FROM a, fk
        |  UNION ALL SELECT 'positive_price', a.n, a.price_viol FROM a
        |  UNION ALL SELECT 'status_domain', a.n, a.status_viol FROM a
        |  UNION ALL SELECT 'unique_orderkey', a.n, a.n - a.n_keys FROM a) t
        |ORDER BY rule""".stripMargin,
    // dynamic-gap sessions = merged interval union of [ts, ts+gap) per
    // user: new session exactly when ts >= every preceding horizon
    "x_sessions_dynamic" ->
      """WITH e AS (
        |  SELECT user_id, ts,
        |         ts + CASE WHEN event_type = 'purchase' THEN INTERVAL 60 MINUTE
        |                   ELSE INTERVAL 30 MINUTE END AS endt
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, endt,
        |         max(endt) OVER (PARTITION BY user_id ORDER BY ts, endt
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM e),
        |g AS (
        |  SELECT user_id, ts, endt,
        |         sum(CASE WHEN prev_max IS NULL OR ts >= prev_max THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY ts, endt) AS grp
        |  FROM s),
        |sess AS (
        |  SELECT user_id, grp, CAST(count(*) AS BIGINT) AS n_events,
        |         min(ts) AS st, max(endt) AS en
        |  FROM g GROUP BY user_id, grp)
        |SELECT user_id,
        |       CAST(count(*) AS BIGINT) AS n_sessions,
        |       CAST(sum(n_events) AS BIGINT) AS n_events,
        |       CAST(max(n_events) AS BIGINT) AS max_session_events,
        |       CAST(sum(epoch_us(en) - epoch_us(st)) AS BIGINT) AS total_session_us
        |FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin,
    "x_dedup_incr" -> OracleLlm.dedupIncrSql,
    "x_pipeline" -> OracleLlm.pipelineSql,
    // V2 catalog function == the PolyHash expression == the SQL fold
    "q_dsv2_fn" ->
      s"""$fbCte
        |SELECT campaign_id,
        |       ${OracleLlm.polyHashSql("campaign_id", 131L)} AS h,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM fb GROUP BY campaign_id ORDER BY campaign_id""".stripMargin,
    // the V2 aggregate's per-row DECIMAL(18,2) cents rounding mirrored
    // by the oracle's cast chain
    "q_dsv2_aggfn" ->
      s"""$fbCte
        |SELECT campaign_id,
        |       CAST(sum(CAST(CAST(spend AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        |         AS spend_cents,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM fb GROUP BY campaign_id ORDER BY campaign_id""".stripMargin,
    // rolling distinct via the same contribution explode; report days =
    // days with a DAU row (inner join), mirroring the engine
    "x_dau" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        |  FROM events),
        |dau AS (SELECT day AS rday, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |        FROM ud GROUP BY day),
        |w AS (
        |  SELECT rday, CAST(count(DISTINCT user_id) AS BIGINT) AS wau FROM (
        |    SELECT user_id, CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
        |      CAST(day AS TIMESTAMP) + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS rday
        |    FROM ud) q GROUP BY rday),
        |m AS (
        |  SELECT rday, CAST(count(DISTINCT user_id) AS BIGINT) AS mau FROM (
        |    SELECT user_id, CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
        |      CAST(day AS TIMESTAMP) + INTERVAL 29 DAY, INTERVAL 1 DAY)) AS DATE) AS rday
        |    FROM ud) q GROUP BY rday)
        |SELECT dau.rday AS day, dau.dau, w.wau, m.mau,
        |       CAST(dau.dau AS DOUBLE) / CAST(m.mau AS DOUBLE) AS stickiness
        |FROM dau JOIN w USING (rday) JOIN m USING (rday)
        |ORDER BY day""".stripMargin,
    // weekday numbering aligned: DuckDB dayofweek (0=Sun) == Spark
    // dayofweek - 1
    "x_seasonality" ->
      """WITH b AS (
        |  SELECT event_type, CAST(dayofweek(ts) AS BIGINT) AS dow,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |g AS (
        |  SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(cents) AS BIGINT) AS dow_cents
        |  FROM b GROUP BY event_type, dow),
        |t AS (
        |  SELECT event_type, CAST(sum(n) AS BIGINT) AS n_total,
        |         CAST(sum(dow_cents) AS BIGINT) AS total_cents
        |  FROM g GROUP BY event_type)
        |SELECT g.event_type, g.dow, g.n, g.dow_cents,
        |       CAST(g.dow_cents * t.n_total AS DOUBLE)
        |         / CAST(g.n * t.total_cents AS DOUBLE) AS dow_index
        |FROM g JOIN t USING (event_type)
        |ORDER BY event_type, dow""".stripMargin,
    // point-in-time join: same SCD2 interval chain, one version per fact
    "x_scd2_join" ->
      s"""WITH $ratesCte,
         |l AS (SELECT date, currencies, rate,
         |        lag(rate) OVER (PARTITION BY currencies ORDER BY date) AS prev
         |      FROM rates),
         |m AS (SELECT date, currencies, rate,
         |        CASE WHEN prev IS NULL OR prev <> rate THEN 1 ELSE 0 END AS chg
         |      FROM l),
         |g AS (SELECT date, currencies, rate,
         |        sum(chg) OVER (PARTITION BY currencies ORDER BY date
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |      FROM m),
         |i AS (SELECT currencies, island, min(date) AS valid_from,
         |        min(rate) AS rate
         |      FROM g GROUP BY 1, 2),
         |v AS (SELECT rate, valid_from,
         |        lead(valid_from) OVER (PARTITION BY currencies
         |          ORDER BY valid_from) - 1 AS valid_to
         |      FROM i WHERE currencies = 'USDUAH'),
         |o AS (SELECT CAST(o_orderdate AS DATE) AS day,
         |        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         |      FROM orders)
         |SELECT v.valid_from, v.valid_to, v.rate,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       CAST(sum(o.cents) AS BIGINT) AS sum_cents,
         |       CAST(sum(o.cents) AS DOUBLE) / (v.rate * 100.0) AS converted
         |FROM o JOIN v ON o.day >= v.valid_from
         |             AND (v.valid_to IS NULL OR o.day <= v.valid_to)
         |GROUP BY 1, 2, 3 ORDER BY valid_from""".stripMargin,
  )
}
