package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ml.MlOps
import graft.operators.{CorpusOps, Dedup, FrameOps, GraphOps, Multimodal, Recommend, SimilaritySearch, TextOps, WordItemApp}
import graft.streaming.StreamOps

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  * Every implemented operator has a `queries` entry; every
  * SQL-expressible one also has an `oracleSql` entry (DuckDB dialect)
  * whose column names match the Spark result exactly.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    FrameOps.pricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> FrameOps.pricingSummary _,
    "q02_filter_project" -> FrameOps.filterProject _,
    "q03_top_revenue" -> FrameOps.topRevenue _,
    "q04_group_collect" -> FrameOps.groupCollect _,
    "q05_one_hot" -> FrameOps.oneHot _,
    "q06_train_test_split" -> FrameOps.trainTestSplit _,
    "q07_window_running" -> FrameOps.windowRunning _,
    "q08_extract_dict" -> FrameOps.extractFirstPerKey _,
    "q166_extract_list" -> FrameOps.extractList _,
    "q09_anti_semi_join" -> FrameOps.antiJoinCustomers _,
    "q10_sessionize" -> FrameOps.sessionize _,
    "q11_event_rollup" -> FrameOps.eventRollup _,
    "q170_pseudonymize" -> FrameOps.pseudonymize _,
    "q124_rfm_segments" -> FrameOps.rfmSegments _,
    "q125_session_transitions" -> FrameOps.sessionTransitions _,
    "q12_source_roundtrip" -> graft.sources.Sources.roundTrip _,
    "q13_categorize" -> FrameOps.categorize _,
    "q14_median_by_group" -> FrameOps.medianByGroup _,
    "q68_median_sketch" -> FrameOps.medianSketch _,
    "q15_asof_join" -> FrameOps.asofJoin _,
    "q16_distinct_exact" -> FrameOps.distinctExact _,
    "q17_distinct_sketch" -> FrameOps.distinctSketch _,
    "q18_asof_custom" -> FrameOps.asofJoinCustom _,
    "q127_interval_join" -> FrameOps.intervalJoin _,
    "q132_zorder_scan" -> graft.sources.ZOrder.zorderScan _,
    "q134_zorder_append" -> graft.sources.ZOrder.zorderAppendScan _,
    "q135_profile" -> FrameOps.profile _,
    "q167_profile_sketch" -> FrameOps.profileSketch _,
    "q136_decayed_recency" -> FrameOps.decayedRecency _,
    "q137_histogram" -> FrameOps.histogram _,
    "q133_interval_matches" -> FrameOps.intervalMatches _,
    "q129_resample_ffill" -> FrameOps.resampleFfill _,
    "q130_cohort_retention" -> FrameOps.cohortRetention _,
    "q131_session_window" -> FrameOps.sessionWindow _,
    "q19_partitioned_sink" -> graft.sources.Sources.partitionedSink _,
    "q28_json_extract" -> FrameOps.jsonExtract _,
    "q29_sql_api" -> FrameOps.sqlApi _,
    "q20_token_stats" -> TextOps.tokenStats _,
    "q21_quality_score" -> TextOps.qualityScore _,
    "q22_top_terms" -> TextOps.topTerms _,
    "q23_dictionary" -> TextOps.dictionary _,
    "q24_tfidf" -> TextOps.tfidf _,
    "q25_langid" -> TextOps.langId _,
    "q26_fingerprint" -> TextOps.fingerprint _,
    "q27_bpe_tokens" -> TextOps.bpeTokens _,
    "q115_bpe_train" -> TextOps.bpeTrain _,
    "q118_bpe_encode" -> TextOps.bpeEncode _,
    "q121_pmi_collocations" -> TextOps.pmiCollocations _,
    "q122_keyness" -> TextOps.keyness _,
    "q72_gopher_rules" -> TextOps.gopherRules _,
    "q73_repetition" -> TextOps.repetition _,
    "q228_repetition_battery" -> TextOps.repetitionBattery _,
    "q229_tokenizer_fertility" -> TextOps.tokenizerFertility _,
    "q232_bpe_merge_curve" -> TextOps.bpeMergeCurve _,
    "q30_dedup_exact" -> Dedup.exact _,
    // q31 serves the shared disk artifact (== jaccard(s, d) content,
    // written once per session); re-applies the query's deterministic
    // ORDER BY — parquet re-reads don't preserve row order
    "q172_dup_flow" -> ((s: SparkSession, d: String) => Dedup.dupFlow(s, d)),
    "q31_dedup_jaccard" -> ((s: SparkSession, d: String) =>
      Dedup.jaccardPairs(s, d)
        .orderBy(org.apache.spark.sql.functions.col("doc_a"),
          org.apache.spark.sql.functions.col("doc_b"))),
    "q32_dedup_minhash" -> Dedup.minhash _,
    "q33_dedup_simhash" -> Dedup.simhash _,
    // q34 serves the shared embedding-pair artifact (== embedNearDup
    // content) with the deterministic ORDER BY re-applied
    "q34_dedup_embed" -> ((s: SparkSession, d: String) =>
      Dedup.embedPairs(s, d)
        .orderBy(org.apache.spark.sql.functions.col("vec_a"),
          org.apache.spark.sql.functions.col("vec_b"))),
    "q35_dedup_clusters" -> Dedup.clusters _,
    "q234_cluster_size_dist" -> Dedup.clusterSizeDist _,
    "q238_dedup_order" -> Dedup.dedupOrderRoi _,
    "q40_knn_brute" -> SimilaritySearch.knnBrute _,
    "q116_knn_sq8" -> SimilaritySearch.knnSq8 _,
    "q120_range_search" -> ((s: SparkSession, d: String) => SimilaritySearch.rangeSearch(s, d)),
    "q41_knn_ivf" -> ((s: SparkSession, d: String) => SimilaritySearch.knnIvf(s, d)),
    "q42_dim_reduction" -> SimilaritySearch.dimReduction _,
    "q67_knn_pq" -> SimilaritySearch.knnPq _,
    "q69_knn_ivfpq" -> ((s: SparkSession, d: String) => SimilaritySearch.knnIvfPq(s, d)),
    "q71_stream_minhash" -> graft.streaming.StreamOps.minhashCandidateBatch _,
    "q74_ivfpq_disk" -> ((s: SparkSession, d: String) => SimilaritySearch.knnIvfPqPersisted(s, d)),
    "q75_stream_verified_dedup" -> ((s: SparkSession, d: String) =>
      graft.streaming.StreamOps.minhashVerifiedBatch(s, d)),
    "q43_pairwise_sim" -> MlOps.pairwiseSimilarity _,
    "q44_doc_embedding" -> MlOps.docEmbedding _,
    "q45_word_item" -> MlOps.wordItemSearch _,
    "q46_keyword_match" -> WordItemApp.keywordMatch _,
    "q47_click_train" -> WordItemApp.clickTrainData _,
    "q48_similarity_data" -> WordItemApp.similarityData _,
    "q49_filter_by_similarity" -> MlOps.filterBySimilarity _,
    "q50_word2vec" -> MlOps.word2vec _,
    "q51_lda" -> MlOps.lda _,
    "q52_als_mf" -> MlOps.alsRecommend _,
    "q53_fm" -> MlOps.fmRegression _,
    "q54_classification" -> MlOps.classify _,
    "q55_scdv" -> MlOps.scdv _,
    "q56_mc_bias" -> Recommend.biasBaseline _,
    "q57_cv_tuning" -> MlOps.cvTuning _,
    "q108_adaptive_tuning" -> MlOps.adaptiveTuning _,
    "q169_tpe_tuning" -> MlOps.tpeTuning _,
    "q110_subword_oov" -> MlOps.subwordOov _,
    "q227_doc2vec" -> MlOps.doc2vecNeighbors _,
    "q58_binary_classification" -> MlOps.binaryClassify _,
    "q59_lda_doc_topics" -> MlOps.ldaDocTopics _,
    "q63_mf_item_sim" -> ((s: SparkSession, d: String) => MlOps.mfItemSimilarity(s, d)),
    "q64_feature_agg_sim" -> MlOps.featureAggSimilarity _,
    "q65_gcmc_conv" -> MlOps.gcmcConv _,
    "q66_early_stopping" -> MlOps.earlyStopTrain _,
    "q107_gcmc_predict" -> MlOps.gcmcPredict _,
    "q226_gcmc_cold_start" -> MlOps.gcmcColdStart _,
    "q230_classifier_calibration" -> MlOps.classifierCalibration _,
    "q231_gcmc_features" -> MlOps.gcmcFeatures _,
    "q60_multimodal_meta" -> Multimodal.assetMeta _,
    "q61_multimodal_decode" -> ((s: SparkSession, d: String) => Multimodal.decodeFeatures(s, d)),
    "q62_frame_sample" -> ((s: SparkSession, d: String) => Multimodal.frameSample(s, d)),
    "q70_stream_rollup" -> StreamOps.rollup10m _,
    "q76_contamination" -> CorpusOps.contamination _,
    "q173_fuzzy_contam" -> CorpusOps.fuzzyContam _,
    "q77_chunk_pack" -> CorpusOps.chunkPack _,
    "q78_sample_balance" -> CorpusOps.sampleBalance _,
    "q128_weighted_sample" -> CorpusOps.weightedSample _,
    "q79_bigram_lm" -> CorpusOps.bigramLm _,
    "q80_cluster_best" -> CorpusOps.clusterBest _,
    "q81_chunk_dedup" -> CorpusOps.chunkDedup _,
    "q175_cdc_chunks" -> CorpusOps.cdcChunks _,
    "q176_incremental_cdc" -> CorpusOps.incrementalCdc _,
    "q178_curriculum" -> CorpusOps.curriculum _,
    "q82_pack_bins" -> CorpusOps.packBins _,
    "q83_contam_flag" -> StreamOps.contamFlagBatch _,
    "q84_window_dedup" -> CorpusOps.windowDedup _,
    "q85_curation_funnel" -> CorpusOps.curationFunnel _,
    "q86_incremental_dedup" -> CorpusOps.incrementalDedup _,
    "q87_frame_dedup" -> ((s: SparkSession, d: String) => Multimodal.frameDedup(s, d)),
    "q126_phash_dedup" -> ((s: SparkSession, d: String) => Multimodal.perceptualDedup(s, d)),
    "q179_asset_cdc" -> Multimodal.assetCdc _,
    "q88_embed_balance" -> SimilaritySearch.cellBalance _,
    "q89_bm25" -> TextOps.bm25 _,
    "q90_leakage_split" -> CorpusOps.leakageSplit _,
    "q91_curated_sink" -> CorpusOps.curatedSink _,
    "q92_incremental_funnel" -> CorpusOps.incrementalFunnel _,
    "q109_curated_append" -> CorpusOps.curatedAppend _,
    "q111_mix_weights" -> ((s: SparkSession, d: String) => CorpusOps.mixWeights(s, d)),
    "q233_temperature_mix" -> CorpusOps.temperatureMix _,
    "q236_partition_plan" -> CorpusOps.partitionPlan _,
    "q237_skew_audit" -> FrameOps.skewAudit _,
    "q112_mix_apply" -> CorpusOps.mixApply _,
    "q117_mix_admit" -> CorpusOps.mixAdmit _,
    "q113_curated_compact" -> CorpusOps.curatedCompact _,
    "q114_index_compact" -> SimilaritySearch.indexCompact _,
    "q93_minhash_lsh_exact" -> Dedup.minhashExact _,
    "q94_boilerplate" -> CorpusOps.boilerplate _,
    "q119_span_dedup" -> CorpusOps.spanDedup _,
    "q123_incremental_span" -> CorpusOps.incrementalSpanDedup _,
    "q95_ccnet_buckets" -> CorpusOps.ccnetBuckets _,
    "q96_ccnet_admission" -> CorpusOps.ccnetAdmission _,
    "q97_heavy_hitters" -> ((s: SparkSession, d: String) => TextOps.heavyHitterGrams(s, d)),
    "q98_stable_ids" -> FrameOps.stableIds _,
    "q99_bloom_dedup" -> CorpusOps.bloomDedup _,
    "q100_semantic_clusters" -> Dedup.semanticClusters _,
    "q101_semantic_ingest" -> StreamOps.semanticCandidateBatch _,
    "q102_index_upsert" -> ((s: SparkSession, d: String) => SimilaritySearch.indexUpsert(s, d)),
    "q103_frame_ingest" -> ((s: SparkSession, d: String) => StreamOps.frameCandidateBatch(s, d)),
    "q104_rollup" -> FrameOps.rollupSummary _,
    "q105_pivot" -> FrameOps.pivotLangMix _,
    "q106_set_algebra" -> CorpusOps.setAlgebra _,
    "q138_scd2_intervals" -> FrameOps.scd2Intervals _,
    "q139_hopping_window" -> FrameOps.hoppingWindow _,
    "q140_psi_drift" -> CorpusOps.psiDrift _,
    "q141_trending" -> FrameOps.trendingTypes _,
    "q142_cooccur_sim" -> WordItemApp.coClickCosine _,
    "q143_anomaly_mad" -> FrameOps.anomalyMad _,
    "q144_funnel_steps" -> FrameOps.funnelSteps _,
    "q145_pagerank" -> GraphOps.pagerank _,
    "q146_snapshot_diff" -> FrameOps.snapshotDiffDocs _,
    "q147_cube" -> FrameOps.cubeSummary _,
    "q148_edit_dedup" -> ((s: SparkSession, d: String) => Dedup.editDedup(s, d)),
    "q149_dsir_weights" -> CorpusOps.dsirWeights _,
    "q150_cond_entropy" -> CorpusOps.condEntropy _,
    "q151_token_budget" -> CorpusOps.tokenBudget _,
    "q152_ngram_coverage" -> CorpusOps.ngramCoverage _,
    "q153_hits" -> GraphOps.hits _,
    "q154_quantile_bands" -> FrameOps.quantileBands _,
    "q155_degree_profile" -> GraphOps.degreeProfile _,
    "q177_triangle_census" -> GraphOps.triangleCensus _,
    "q156_tfidf_cosine" -> ((s: SparkSession, d: String) => Dedup.tfidfCosine(s, d)),
    "q157_rec_eval" -> WordItemApp.recEval _,
    "q158_lsh_quality" -> Dedup.lshQuality _,
    "q159_session_paths" -> FrameOps.sessionPaths _,
    "q160_expectations" -> FrameOps.expectations _,
    "q161_quarantine" -> StreamOps.quarantineBatch _,
    "q162_dataset_card" -> CorpusOps.datasetCard _,
    "q171_release_manifest" -> CorpusOps.releaseManifest _,
    "q163_anomaly_flags" -> FrameOps.anomalyFlags _,
    "q164_time_travel" -> graft.sources.Sources.timeTravel _,
    "q165_version_diff" -> graft.sources.Sources.versionDiff _,
    "q168_vacuum_read" -> graft.sources.Sources.vacuumRead _,
    "q174_forget_audit" -> graft.sources.Sources.forgetAudit _,
    "q180_chunk_delta" -> graft.sources.Sources.chunkDelta _,
    "q181_index_forget" -> CorpusOps.indexForget _,
    "q182_pii_scrub" -> CorpusOps.piiScrubReport _,
    "q183_zipf_slope" -> TextOps.zipfSlope _,
    "q184_distinct_ngrams" -> TextOps.distinctNgrams _,
    "q185_source_overlap" -> CorpusOps.sourceOverlap _,
    "q186_embed_outliers" -> SimilaritySearch.embedOutliers _,
    "q187_signal_corr" -> TextOps.signalCorr _,
    "q188_lsh_calibration" -> ((s: SparkSession, d: String) =>
      Dedup.lshCalibration(s, d)),
    "q189_dedup_savings" -> CorpusOps.dedupSavings _,
    "q190_embed_admit" -> SimilaritySearch.embedAdmit _,
    "q191_rec_ndcg" -> WordItemApp.recNdcg _,
    "q192_embed_drift" -> SimilaritySearch.embedDrift _,
    "q193_unicode_norm" -> TextOps.unicodeNorm _,
    "q194_lang_mismatch" -> TextOps.langMismatch _,
    "q195_dim_truncation" -> SimilaritySearch.dimTruncation _,
    "q196_neg_sampling" -> TextOps.negSampling _,
    "q197_token_len_ks" -> TextOps.tokenLenKs _,
    "q198_anchor_health" -> CorpusOps.anchorHealth _,
    "q199_simhash_exact" -> Dedup.simhashExact _,
    "q200_term_burstiness" -> TextOps.termBurstiness _,
    "q201_temporal_split" -> WordItemApp.temporalSplit _,
    "q202_bot_audit" -> FrameOps.botAudit _,
    "q203_source_scorecard" -> CorpusOps.sourceScorecard _,
    "q204_ivf_recall_curve" -> SimilaritySearch.ivfRecallCurve _,
    "q205_dedup_threshold_curve" -> Dedup.dedupThresholdCurve _,
    "q206_contam_sensitivity" -> CorpusOps.contamSensitivity _,
    "q207_embed_separation" -> SimilaritySearch.embedSeparation _,
    "q208_store_growth" -> graft.sources.Sources.storeGrowth _,
    "q235_store_quality_drift" -> graft.sources.Sources.storeQualityDrift _,
    "q209_hard_negatives" -> SimilaritySearch.hardNegatives _,
    "q210_label_vote" -> SimilaritySearch.labelVote _,
    "q211_review_queue" -> TextOps.reviewQueue _,
    "q212_pack_efficiency" -> CorpusOps.packEfficiency _,
    "q213_epoch_plan" -> CorpusOps.epochPlan _,
    "q214_eval_decontam" -> CorpusOps.evalDecontam _,
    "q215_quality_trainset" -> CorpusOps.qualityTrainset _,
    "q216_embed_contam" -> SimilaritySearch.embedContam _,
    "q217_mix_quality" -> CorpusOps.mixQuality _,
    "q218_leak_gate" -> SimilaritySearch.leakGate _,
    "q219_dedup_review" -> Dedup.dedupReviewQueue _,
    "q220_rule_impact" -> TextOps.ruleChangeImpact _,
    "q221_sq8_distortion" -> SimilaritySearch.sq8Distortion _,
    "q222_quality_classifier" -> MlOps.qualityClassifier _,
    "q223_learned_admission" -> MlOps.learnedAdmission _,
    "q224_budget_curve" -> CorpusOps.budgetCurve _,
    "q225_pq_distortion" -> SimilaritySearch.pqDistortion _,
  )

  /** DuckDB oracle for each SQL-expressible query. Numeric parity:
    * float aggregates go through DECIMAL(18,4) in BOTH engines (exact,
    * order-independent) and are cast back to DOUBLE; integer sums are
    * cast to BIGINT (DuckDB SUM(int) is HUGEINT otherwise). */
  /** The q85 funnel CTE (all stages through the per-doc `f4` flag
    * frame) — shared verbatim by the q85 report oracle and the q91
    * curated-sink oracle. */
  private val FunnelCte: String =
    (s"""WITH RECURSIVE tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(nfc_normalize(text)), '\\s+')) AS tok,
        |         generate_subscripts(string_split_regex(trim(nfc_normalize(text)), '\\s+'), 1) AS ord
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, tok || ' ' || lead1 || ' ' || lead2 AS sh FROM (
        |    SELECT doc_id, tok,
        |      LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS lead1,
        |      LEAD(tok, 2) OVER (PARTITION BY doc_id ORDER BY ord) AS lead2
        |    FROM tok) WHERE lead2 IS NOT NULL),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jac AS (
        |  SELECT doc_a, doc_b
        |  FROM cand
        |  JOIN sizes sa ON cand.doc_a = sa.doc_id
        |  JOIN sizes sb ON cand.doc_b = sb.doc_id
        |  WHERE round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) >= 0.5),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM jac
        |  UNION ALL
        |  SELECT doc_b, doc_a FROM jac),
        |cc(id, label) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, cc.label FROM edges e JOIN cc ON e.dst = cc.id),
        |lab AS (SELECT id, MIN(label) AS cluster_id FROM cc GROUP BY id),
        |m AS (
        |  SELECT l.cluster_id, l.id AS doc_id,
        |    len(regexp_replace(lower(trim(nfc_normalize(d.text))), '\\s+', ' ', 'g')) AS norm_len
        |  FROM lab l JOIN documents d ON l.id = d.doc_id),
        |r AS (
        |  SELECT doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY norm_len DESC, doc_id) AS rn
        |  FROM m),
        |reps AS (SELECT doc_id FROM r WHERE rn = 1),
        |hsh AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(nfc_normalize(text))), '\\s+', ' ', 'g')) AS h
        |  FROM documents),
        |keepers AS (SELECT h, MIN(doc_id) AS keep_id FROM hsh GROUP BY h),
        |g5 AS (
        |  SELECT doc_id, source,
        |    toks[CAST(i AS BIGINT)] || ' ' || toks[CAST(i AS BIGINT)+1] || ' ' ||
        |    toks[CAST(i AS BIGINT)+2] || ' ' || toks[CAST(i AS BIGINT)+3] || ' ' ||
        |    toks[CAST(i AS BIGINT)+4] AS g
        |  FROM (SELECT doc_id, source, string_split_regex(trim(nfc_normalize(text)), '\\s+') AS toks
        |        FROM documents), UNNEST(range(1, len(toks)-3)) AS u(i)),
        |ev AS (SELECT DISTINCT g FROM g5 WHERE source = '${CorpusOps.EvalSource}'),
        |hits AS (
        |  SELECT tg.doc_id, COUNT(*) AS n_hit
        |  FROM (SELECT DISTINCT doc_id, g FROM g5 WHERE source <> '${CorpusOps.EvalSource}') tg
        |  JOIN ev ON tg.g = ev.g GROUP BY 1),
        |base AS (
        |  SELECT t.doc_id, t.source, t.lang,
        |    CAST(len(toks) AS BIGINT) AS n_tok,
        |    CAST(list_sum(list_transform(toks, w -> len(w))) AS DOUBLE) / len(toks) AS mean_wlen,
        |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
        |    len(list_filter(['the','a','of','and','to','in','is'], s -> list_contains(toks, s))) AS n_stop_kinds,
        |    (t.doc_id = k.keep_id) AS exact_keep,
        |    (lm.id IS NOT NULL AND rp.doc_id IS NULL) AS nd_drop,
        |    COALESCE(ht.n_hit, 0) AS n_hit,
        |    (t.doc_id % ${CorpusOps.SampleHashP} * ${CorpusOps.SampleHashC}) % ${CorpusOps.SampleHashP} AS pr
        |  FROM (SELECT doc_id, source, lang, string_split_regex(trim(nfc_normalize(text)), '\\s+') AS toks
        |        FROM documents WHERE source <> '${CorpusOps.EvalSource}') t
        |  JOIN hsh ON t.doc_id = hsh.doc_id
        |  JOIN keepers k ON hsh.h = k.h
        |  LEFT JOIN lab lm ON t.doc_id = lm.id
        |  LEFT JOIN reps rp ON t.doc_id = rp.doc_id
        |  LEFT JOIN hits ht ON t.doc_id = ht.doc_id),
        |f1 AS (SELECT *, (exact_keep AND NOT nd_drop) AS dedup_keep FROM base),
        |f2 AS (SELECT *, (dedup_keep AND n_tok BETWEEN 50 AND 100000
        |  AND mean_wlen BETWEEN 3 AND 10 AND ttr >= 0.2
        |  AND n_stop_kinds >= 2) AS quality FROM f1),
        |f3 AS (SELECT *, (quality AND n_hit = 0) AS clean FROM f2),
        |rates AS (SELECT lang, COUNT(*) AS n_cnt FROM f3 WHERE clean GROUP BY lang),
        |tgt AS (SELECT MIN(n_cnt) AS target FROM rates),
        |f4 AS (
        |  SELECT f.*, (clean AND pr % n_cnt < target) AS sampled
        |  FROM f3 f LEFT JOIN rates ON f.lang = rates.lang CROSS JOIN tgt)
        |""").stripMargin

  /** q92's full oracle (CTE chain + per-source rollup) as a val so
    * q109 can re-compose its verified CTE chain. */
  private val IncFunnelSql: String =
    s"""WITH b AS (SELECT * FROM documents WHERE ((doc_id % ${CorpusOps.SampleHashP} * ${CorpusOps.SampleHashC}) % ${CorpusOps.SampleHashP}) % 10 = 3),
        |s AS (SELECT * FROM documents WHERE ((doc_id % ${CorpusOps.SampleHashP} * ${CorpusOps.SampleHashC}) % ${CorpusOps.SampleHashP}) % 10 <> 3),
        |bh AS (SELECT doc_id, md5(regexp_replace(lower(trim(nfc_normalize(text))), '\\s+', ' ', 'g')) AS h FROM b),
        |sh0 AS (SELECT doc_id, md5(regexp_replace(lower(trim(nfc_normalize(text))), '\\s+', ' ', 'g')) AS h FROM s),
        |ex AS (SELECT bh.doc_id, MIN(sh0.doc_id) AS exact_ref
        |       FROM bh JOIN sh0 ON bh.h = sh0.h GROUP BY 1),
        |tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(nfc_normalize(text)), '\\s+')) AS tok,
        |         generate_subscripts(string_split_regex(trim(nfc_normalize(text)), '\\s+'), 1) AS ord
        |  FROM documents),
        |tri AS (
        |  SELECT DISTINCT doc_id, tok || ' ' || lead1 || ' ' || lead2 AS sh FROM (
        |    SELECT doc_id, tok,
        |      LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS lead1,
        |      LEAD(tok, 2) OVER (PARTITION BY doc_id ORDER BY ord) AS lead2
        |    FROM tok) WHERE lead2 IS NOT NULL),
        |bsh AS (SELECT t.doc_id, t.sh FROM tri t JOIN b ON t.doc_id = b.doc_id),
        |ssh AS (SELECT t.doc_id AS sid, t.sh FROM tri t JOIN s ON t.doc_id = s.doc_id),
        |bsz AS (SELECT doc_id, COUNT(*) AS nb FROM bsh GROUP BY 1),
        |ssz AS (SELECT sid, COUNT(*) AS ns FROM ssh GROUP BY 1),
        |i AS (SELECT bsh.doc_id, ssh.sid, COUNT(*) AS inter
        |      FROM bsh JOIN ssh ON bsh.sh = ssh.sh GROUP BY 1, 2),
        |jac AS (
        |  SELECT i.doc_id, i.sid,
        |    round(CAST(inter AS DOUBLE) / (nb + ns - inter), 6) AS j
        |  FROM i JOIN bsz ON i.doc_id = bsz.doc_id JOIN ssz ON i.sid = ssz.sid),
        |near AS (SELECT DISTINCT doc_id FROM jac WHERE j >= 0.5),
        |dec AS (
        |  SELECT b.doc_id,
        |    CASE WHEN ex.exact_ref IS NOT NULL OR near.doc_id IS NOT NULL
        |      THEN 'dup' ELSE 'new' END AS decision
        |  FROM b
        |  LEFT JOIN ex ON b.doc_id = ex.doc_id
        |  LEFT JOIN near ON b.doc_id = near.doc_id),
        |bt AS (
        |  SELECT doc_id, source, string_split_regex(trim(nfc_normalize(text)), '\\s+') AS toks
        |  FROM b WHERE source <> '${CorpusOps.EvalSource}'),
        |q AS (
        |  SELECT doc_id,
        |    (CAST(len(toks) AS BIGINT) BETWEEN 50 AND 100000
        |     AND (CAST(list_sum(list_transform(toks, w -> len(w))) AS DOUBLE) / len(toks)) BETWEEN 3 AND 10
        |     AND (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) >= 0.2
        |     AND len(list_filter(['the','a','of','and','to','in','is'], x -> list_contains(toks, x))) >= 2) AS q_ok
        |  FROM bt),
        |sg AS (
        |  SELECT toks[CAST(i AS BIGINT)] || ' ' || toks[CAST(i AS BIGINT)+1] || ' ' ||
        |    toks[CAST(i AS BIGINT)+2] || ' ' || toks[CAST(i AS BIGINT)+3] || ' ' ||
        |    toks[CAST(i AS BIGINT)+4] AS g
        |  FROM (SELECT string_split_regex(trim(nfc_normalize(text)), '\\s+') AS toks
        |        FROM s WHERE source = '${CorpusOps.EvalSource}'), UNNEST(range(1, len(toks)-3)) AS u(i)),
        |ev AS (SELECT DISTINCT g FROM sg),
        |bg AS (
        |  SELECT DISTINCT doc_id,
        |    toks[CAST(i AS BIGINT)] || ' ' || toks[CAST(i AS BIGINT)+1] || ' ' ||
        |    toks[CAST(i AS BIGINT)+2] || ' ' || toks[CAST(i AS BIGINT)+3] || ' ' ||
        |    toks[CAST(i AS BIGINT)+4] AS g
        |  FROM bt, UNNEST(range(1, len(toks)-3)) AS u(i)),
        |h AS (SELECT bg.doc_id, COUNT(*) AS n_hit FROM bg JOIN ev ON bg.g = ev.g GROUP BY 1),
        |f AS (
        |  SELECT bt.doc_id, bt.source,
        |    CASE WHEN dec.decision <> 'new' THEN 'dup'
        |         WHEN NOT q.q_ok THEN 'low_quality'
        |         WHEN COALESCE(h.n_hit, 0) > 0 THEN 'contaminated'
        |         ELSE 'admitted' END AS outcome
        |  FROM bt
        |  JOIN dec ON bt.doc_id = dec.doc_id
        |  JOIN q ON bt.doc_id = q.doc_id
        |  LEFT JOIN h ON bt.doc_id = h.doc_id)
        |SELECT source, COUNT(*) AS n_batch,
        |  CAST(SUM(CASE WHEN outcome = 'dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  CAST(SUM(CASE WHEN outcome = 'low_quality' THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
        |  CAST(SUM(CASE WHEN outcome = 'contaminated' THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |  CAST(SUM(CASE WHEN outcome = 'admitted' THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted
        |FROM f GROUP BY source ORDER BY source""".stripMargin

  /** q109's oracle, COMPOSED from its two verified fragments (the
    * CLAUDE.md promote-to-oracle lever: generate, don't hand-copy):
    * the q85 funnel CTE chain (store side) UNION ALL the q92
    * admission CTE chain. The q92 chain's CTE names are uniformly
    * z-prefixed (a pure whole-word rename of each name everywhere in
    * the fragment — tables, aliases, and columns alike stay
    * consistent; the lookbehind protects the `s` inside regex
    * literals like '\s+') so the two WITH chains compose without
    * capture. */
  private val CuratedAppendSql: String = {
    val chain = IncFunnelSql.stripPrefix("WITH ")
      .split("\nSELECT source, COUNT\\(\\*\\) AS n_batch")(0)
    val renamed = Seq("bh", "sh0", "ex", "tok", "tri", "bsh", "ssh", "bsz",
      "ssz", "near", "dec", "bt", "sg", "ev", "bg", "jac", "b", "s", "i",
      "q", "h", "f")
      .foldLeft(chain)((sql, n) =>
        sql.replaceAll("(?<!\\\\)\\b" + n + "\\b", "z" + n))
    FunnelCte.stripSuffix("\n") + ",\n" + renamed + "\n" +
      s"""SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CAST(ceil(n_tok / 64.0) AS BIGINT)) AS BIGINT) AS n_chunks
        |FROM (
        |  SELECT source, n_tok FROM f4
        |  WHERE sampled AND ((doc_id % ${CorpusOps.SampleHashP} * ${CorpusOps.SampleHashC}) % ${CorpusOps.SampleHashP}) % 10 <> 3
        |  UNION ALL
        |  SELECT zbt.source, CAST(len(zbt.toks) AS BIGINT) AS n_tok
        |  FROM zf JOIN zbt ON zf.doc_id = zbt.doc_id
        |  WHERE zf.outcome = 'admitted')
        |GROUP BY source ORDER BY source""".stripMargin
  }

  private val zorderBoxSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, value,
      |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
      |  FROM events),
      |s AS (SELECT min(user_id) AS umin, max(user_id) AS umax,
      |             min(sec) AS tmin, max(sec) AS tmax FROM e),
      |b AS (SELECT umin + (umax - umin) // 4 AS ulo,
      |             umin + (umax - umin) // 2 AS uhi,
      |             tmin + (tmax - tmin) // 4 AS tlo,
      |             tmin + (tmax - tmin) // 2 AS thi FROM s)
      |SELECT event_type, COUNT(*) AS n,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS total_value
      |FROM e, b
      |WHERE user_id BETWEEN b.ulo AND b.uhi
      |  AND sec BETWEEN b.tlo AND b.thi
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-31 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_project" ->
      """SELECT p_partkey AS part_id, p_name AS part_name, p_retailprice AS price
        |FROM part
        |WHERE p_size BETWEEN 10 AND 20 AND p_type = 'PROMO'
        |ORDER BY part_id""".stripMargin,
    "q03_top_revenue" ->
      """SELECT o_orderkey, o_orderdate, o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 20""".stripMargin,
    "q04_group_collect" ->
      """SELECT c_nationkey, COUNT(*) AS n_customers,
        |  COALESCE(STRING_AGG(c_name, ',' ORDER BY c_name), '') AS names
        |FROM customer
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,
    "q05_one_hot" ->
      """SELECT c_nationkey,
        |  CAST(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS seg_automobile,
        |  CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS seg_building,
        |  CAST(SUM(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END) AS BIGINT) AS seg_furniture,
        |  CAST(SUM(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END) AS BIGINT) AS seg_household,
        |  CAST(SUM(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS seg_machinery
        |FROM customer
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,
    "q06_train_test_split" ->
      """SELECT CASE WHEN o_orderkey % 10 < 8 THEN 'train' ELSE 'test' END AS split,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
        |FROM orders
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q07_window_running" ->
      """SELECT o_custkey, o_orderkey, rn, run_total FROM (
        |  SELECT o_custkey, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS run_total
        |  FROM orders)
        |WHERE rn <= 5
        |ORDER BY o_custkey, rn""".stripMargin,
    "q08_extract_dict" ->
      """SELECT o_custkey, o_orderkey AS first_orderkey, o_orderdate AS first_orderdate FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin,
    // q166: key-range-chunked ordered list extraction; chunk width
    // INTERPOLATED from FrameOps.ListChunk
    "q166_extract_list" ->
      s"""SELECT c_custkey // ${FrameOps.ListChunk} AS chunk_id,
        |  COUNT(*) AS n_values,
        |  STRING_AGG(c_name, ',' ORDER BY c_custkey) AS vals
        |FROM customer
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q09_anti_semi_join" ->
      """SELECT n_name, COUNT(*) AS n_customers_no_orders
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q10_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
        |    LAG(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_sec
        |  FROM events)
        |SELECT user_id,
        |  CAST(SUM(CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  COUNT(*) AS n_events
        |FROM e
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    // q124: per-user RFM quintiles — ntile over the user-bounded
    // aggregate with user_id tie-breaks; monetary re-scaled to
    // DECIMAL(18,4) before the double cast (q104 rule)
    "q124_rfm_segments" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(MAX(epoch(date_trunc('second', ts))) AS BIGINT) AS last_sec,
        |    COUNT(*) AS n_events,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS mon
        |  FROM events GROUP BY 1),
        |s AS (
        |  SELECT user_id, n_events, mon, last_sec,
        |    CAST(NTILE(5) OVER (ORDER BY last_sec, user_id) AS BIGINT) AS r_score,
        |    CAST(NTILE(5) OVER (ORDER BY n_events, user_id) AS BIGINT) AS f_score,
        |    CAST(NTILE(5) OVER (ORDER BY mon, user_id) AS BIGINT) AS m_score
        |  FROM u)
        |SELECT user_id, n_events,
        |  CAST(CAST(mon AS DECIMAL(18,4)) AS DOUBLE) AS monetary, last_sec,
        |  r_score, f_score, m_score,
        |  r_score*100 + f_score*10 + m_score AS segment
        |FROM s ORDER BY user_id""".stripMargin,
    // q125: first-order Markov transitions within q10's verified
    // session rule (explicit ROWS frame == Spark's rowsBetween)
    "q125_session_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, ts,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
        |    LAG(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_sec
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id, event_type, ts,
        |    SUM(CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM e),
        |p AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id, session_id ORDER BY ts, event_id) AS to_type
        |  FROM s),
        |c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(CAST(n AS DOUBLE) / CAST(CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS DOUBLE), 6) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin,
    "q11_event_rollup" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    // q170: pseudonym + k-anonymity gate; hash family + floor
    // INTERPOLATED from the operators' constants; exact ints
    "q170_pseudonymize" ->
      s"""WITH e AS (
        |  SELECT event_id, user_id, event_type, date_trunc('day', ts) AS day
        |  FROM events),
        |g AS (
        |  SELECT event_type, day, COUNT(DISTINCT user_id) AS n_users
        |  FROM e GROUP BY 1, 2)
        |SELECT e.event_id,
        |  ((e.user_id % ${CorpusOps.SampleHashP}) * ${CorpusOps.SampleHashC})
        |    % ${CorpusOps.SampleHashP} AS pid,
        |  e.event_type, e.day, CAST(g.n_users AS BIGINT) AS n_users_in_group,
        |  g.n_users >= ${FrameOps.AnonK} AS released
        |FROM e JOIN g USING (event_type, day)
        |ORDER BY e.event_id""".stripMargin,
    "q12_source_roundtrip" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q13_categorize" ->
      """WITH cats AS (
        |  SELECT category, CAST(ROW_NUMBER() OVER (ORDER BY category) - 1 AS BIGINT) AS category_id
        |  FROM (SELECT DISTINCT c_mktsegment AS category FROM customer))
        |SELECT category, category_id, COUNT(*) AS n_rows
        |FROM customer JOIN cats ON c_mktsegment = category
        |GROUP BY category, category_id
        |ORDER BY category_id""".stripMargin,
    "q14_median_by_group" ->
      """WITH ranked AS (
        |  SELECT c_mktsegment, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice, o_orderkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY c_mktsegment) AS cnt
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT c_mktsegment,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS median_price,
        |  CAST(MIN(cnt) AS BIGINT) AS n_orders
        |FROM ranked
        |WHERE rn = (cnt + 1) // 2 OR rn = cnt // 2 + 1
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "q15_asof_join" ->
      """WITH u AS (
        |  SELECT o_custkey AS user_id, o_orderdate AS t, 0 AS side, o_orderkey AS ref FROM orders
        |  UNION ALL
        |  SELECT user_id, date_trunc('second', ts), 1, event_id FROM events),
        |m AS (
        |  SELECT user_id, side,
        |    LAST_VALUE(CASE WHEN side = 0 THEN ref END IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY t, side, ref
        |      ROWS UNBOUNDED PRECEDING) AS last_order
        |  FROM u)
        |SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN last_order IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_prior_order,
        |  MAX(last_order) AS latest_order_seen
        |FROM m WHERE side = 1
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // q127: the oracle states the SEMANTICS as a plain range-predicate
    // join (DuckDB's IEJoin handles it at oracle scale); the Spark
    // side is the bucketed equi-join — same answer, scalable plan
    "q127_interval_join" ->
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
        |  FROM events),
        |w AS (SELECT event_id AS w_id, sec AS w_sec FROM e WHERE event_type = 'error'),
        |m AS (
        |  SELECT e.event_id, e.event_type, CAST(COUNT(*) AS BIGINT) AS n_windows
        |  FROM e JOIN w ON abs(e.sec - w.w_sec) <= 900
        |  GROUP BY 1, 2),
        |t AS (SELECT event_type, COUNT(*) AS n_events FROM e GROUP BY 1),
        |i AS (SELECT event_type, COUNT(*) AS n_in_window,
        |    CAST(SUM(n_windows) AS BIGINT) AS n_matches
        |  FROM m GROUP BY 1)
        |SELECT t.event_type, t.n_events,
        |  COALESCE(i.n_in_window, 0) AS n_in_window,
        |  COALESCE(i.n_matches, 0) AS n_matches
        |FROM t LEFT JOIN i USING (event_type)
        |ORDER BY event_type""".stripMargin,
    // q132: the oracle computes the SAME box (min + range//4 ..
    // min + range//2, exact integer arithmetic — truncating div ==
    // DuckDB // on non-negative ranges) over the ORIGINAL events
    // table; Spark answers it from the z-ordered re-layout, proving
    // the layout content-preserving. Skipping is measured in
    // SourcesSkewSpec, not here. q134 answers the SAME box from the
    // store+delta appended layout (store ∪ batch = whole table) —
    // one oracle, two write paths, like q15/q18.
    "q132_zorder_scan" -> zorderBoxSql,
    "q134_zorder_append" -> zorderBoxSql,
    // q135: the oracle states the same metrics column-by-column; the
    // Spark side computes ALL of them in one scan (EXPAND distincts)
    "q135_profile" ->
      """WITH a AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS qty_null,
        |    COUNT(DISTINCT l_quantity) AS qty_distinct,
        |    MIN(l_quantity) AS qty_min, MAX(l_quantity) AS qty_max,
        |    CAST(SUM(l_quantity) AS BIGINT) AS qty_sum,
        |    CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS price_null,
        |    COUNT(DISTINCT l_extendedprice) AS price_distinct,
        |    MIN(l_extendedprice) AS price_min, MAX(l_extendedprice) AS price_max,
        |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS price_sum,
        |    CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS disc_null,
        |    COUNT(DISTINCT l_discount) AS disc_distinct,
        |    MIN(l_discount) AS disc_min, MAX(l_discount) AS disc_max,
        |    CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS disc_sum
        |  FROM lineitem)
        |SELECT 'l_discount' AS col_name, CAST(n AS DOUBLE) AS n,
        |  CAST(disc_null AS DOUBLE) AS n_null, CAST(disc_distinct AS DOUBLE) AS n_distinct,
        |  CAST(disc_min AS DOUBLE) AS min_v, CAST(disc_max AS DOUBLE) AS max_v, disc_sum AS sum_v
        |FROM a
        |UNION ALL SELECT 'l_extendedprice', CAST(n AS DOUBLE),
        |  CAST(price_null AS DOUBLE), CAST(price_distinct AS DOUBLE),
        |  price_min, price_max, price_sum FROM a
        |UNION ALL SELECT 'l_quantity', CAST(n AS DOUBLE),
        |  CAST(qty_null AS DOUBLE), CAST(qty_distinct AS DOUBLE),
        |  CAST(qty_min AS DOUBLE), CAST(qty_max AS DOUBLE),
        |  CAST(qty_sum AS DOUBLE) FROM a
        |ORDER BY col_name""".stripMargin,
    // q133: per-event granularity of q127's range join (the oracle
    // states the plain range predicate; Spark runs the bucketed
    // equi-join — same shared rule as q127)
    "q133_interval_matches" ->
      s"""WITH e AS (
        |  SELECT event_id, event_type,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
        |  FROM events),
        |w AS (SELECT event_id AS w_id, sec AS w_sec FROM e WHERE event_type = 'error')
        |SELECT e.event_id, e.event_type, CAST(COUNT(*) AS BIGINT) AS n_windows
        |FROM e JOIN w ON abs(e.sec - w.w_sec) <= ${FrameOps.intervalW}
        |GROUP BY 1, 2 ORDER BY e.event_id""".stripMargin,
    // q136: newest-first age via ROW_NUMBER (same tie-break), decay
    // weights 0.1*0.9^age over the trailing 8 events only — the
    // bounded term count is what makes round(,6) absorb both pow's
    // 1-ulp cross-engine risk and double-sum order variance
    "q136_decayed_recency" ->
      """WITH e AS (
        |  SELECT user_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) - 1 AS age
        |  FROM events)
        |SELECT user_id, COUNT(*) AS n_events,
        |  round(SUM(CASE WHEN age < 8 THEN 0.1 * pow(0.9, age) * value ELSE 0.0 END), 6) AS decay_score
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,
    // q137: integer bucket arithmetic (// == div on the 1..50
    // domain); share = IEEE division of two exact ints (correctly
    // rounded, bit-identical cross-engine)
    "q137_histogram" ->
      """WITH b AS (
        |  SELECT CAST(floor((l_quantity - 1) / 5) AS BIGINT) AS bucket, COUNT(*) AS n
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM b)
        |SELECT bucket, CAST(bucket * 5 + 1 AS BIGINT) AS lo,
        |  CAST(bucket * 5 + 5 AS BIGINT) AS hi,
        |  CAST(n AS BIGINT) AS n,
        |  CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share
        |FROM b, t ORDER BY bucket""".stripMargin,
    // q129: hour grid = range(h0, h1+1) (exclusive end == Spark's
    // inclusive sequence); the argmax is ROW_NUMBER desc == Spark's
    // max_by struct ordering; h0 always has an observation so ffill
    // never sees a leading null
    "q129_resample_ffill" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
        |    CAST(floor(CAST(epoch(date_trunc('second', ts)) AS BIGINT) / 3600) AS BIGINT) AS hid
        |  FROM events),
        |o AS (
        |  SELECT user_id, hid, value AS obs_value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, hid ORDER BY sec DESC, event_id DESC) AS rn
        |  FROM e),
        |obs AS (SELECT user_id, hid, obs_value FROM o WHERE rn = 1),
        |g AS (SELECT user_id, MIN(hid) AS h0, MAX(hid) AS h1 FROM e GROUP BY 1),
        |grid AS (SELECT user_id, CAST(u.h AS BIGINT) AS hid
        |  FROM g, UNNEST(range(h0, h1 + 1)) AS u(h)),
        |f AS (
        |  SELECT grid.user_id, grid.hid, obs.obs_value,
        |    LAST_VALUE(obs.obs_value IGNORE NULLS) OVER (
        |      PARTITION BY grid.user_id ORDER BY grid.hid
        |      ROWS UNBOUNDED PRECEDING) AS ffill_value
        |  FROM grid LEFT JOIN obs ON grid.user_id = obs.user_id AND grid.hid = obs.hid)
        |SELECT user_id, COUNT(*) AS n_hours,
        |  CAST(SUM(CASE WHEN obs_value IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_observed,
        |  CAST(SUM(CASE WHEN obs_value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
        |  CAST(CAST(SUM(CAST(ffill_value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS filled_sum
        |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin,
    // q131: session_window merges ADJACENT windows — an event at
    // exactly prev+gap lands in the same session (merge iff gap <=
    // 1800, split iff > 1800; the same boundary as q10's lag rule) —
    // verified at sf0.1 where an exact-1800s gap occurs; duration =
    // last - first + 1800 (window end = last + gap)
    "q131_session_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, value, sec,
        |    CASE WHEN sec - LAG(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) > 1800
        |      OR LAG(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) IS NULL
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |s AS (
        |  SELECT user_id, event_id, value, sec,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM m),
        |p AS (
        |  SELECT user_id, sid, COUNT(*) AS n_events_w,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS val_w,
        |    MAX(sec) - MIN(sec) + 1800 AS dur_secs
        |  FROM s GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_sessions,
        |  CAST(SUM(n_events_w) AS BIGINT) AS n_events,
        |  CAST(MAX(dur_secs) AS BIGINT) AS longest_secs,
        |  CAST(CAST(SUM(val_w) AS DECIMAL(18,4)) AS DOUBLE) AS total_value
        |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin,
    // q130: retention divides two exact longs; denominator via a
    // window over the bounded (cohort, offset) table (q125's lever)
    "q130_cohort_retention" ->
      """WITH w AS (
        |  SELECT DISTINCT user_id,
        |    CAST(floor(CAST(epoch(date_trunc('second', ts)) AS BIGINT) / 604800) AS BIGINT) AS wk
        |  FROM events),
        |c AS (
        |  SELECT user_id, wk, MIN(wk) OVER (PARTITION BY user_id) AS cohort_wk
        |  FROM w),
        |a AS (
        |  SELECT cohort_wk, CAST(wk - cohort_wk AS BIGINT) AS week_offset,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
        |  FROM c GROUP BY 1, 2),
        |s AS (
        |  SELECT cohort_wk, week_offset, n_active,
        |    CAST(MAX(CASE WHEN week_offset = 0 THEN n_active END)
        |      OVER (PARTITION BY cohort_wk) AS BIGINT) AS cohort_size
        |  FROM a)
        |SELECT cohort_wk, week_offset, n_active, cohort_size,
        |  round(CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE), 6) AS retention
        |FROM s ORDER BY cohort_wk, week_offset""".stripMargin,
    "q16_distinct_exact" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_orderkey) AS n_orders,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // q18 = same semantics/oracle as q15, through the custom
    // AsOfJoinExec physical operator instead of union+window
    "q18_asof_custom" ->
      """WITH u AS (
        |  SELECT o_custkey AS user_id, o_orderdate AS t, 0 AS side, o_orderkey AS ref FROM orders
        |  UNION ALL
        |  SELECT user_id, date_trunc('second', ts), 1, event_id FROM events),
        |m AS (
        |  SELECT user_id, side,
        |    LAST_VALUE(CASE WHEN side = 0 THEN ref END IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY t, side, ref
        |      ROWS UNBOUNDED PRECEDING) AS last_order
        |  FROM u)
        |SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN last_order IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_prior_order,
        |  MAX(last_order) AS latest_order_seen
        |FROM m WHERE side = 1
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q19_partitioned_sink" ->
      """SELECT event_type, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE event_type IN ('click', 'purchase')
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q20_token_stats" ->
      """WITH d AS (
        |  SELECT lang, CAST(len(string_split_regex(trim(nfc_normalize(text)), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens,
        |  CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    "q21_quality_score" ->
      """WITH d AS (
        |  SELECT source,
        |    CAST(len(string_split_regex(trim(nfc_normalize(text)), '\s+')) AS BIGINT) AS n_tok,
        |    CAST(len(list_filter(string_split_regex(trim(nfc_normalize(text)), '\s+'),
        |      t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS n_stop
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
        |  CAST(SUM(n_stop) AS DOUBLE) / SUM(n_tok) AS stop_ratio,
        |  CAST(SUM(CASE WHEN n_tok < 60 THEN 1 ELSE 0 END) AS BIGINT) AS n_short
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "q22_top_terms" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(nfc_normalize(text)), '\s+')) AS term FROM documents)
        |SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
        |FROM t GROUP BY term ORDER BY tf DESC, term LIMIT 20""".stripMargin,
    "q23_dictionary" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(nfc_normalize(text)), '\s+')) AS term FROM documents),
        |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT term, df,
        |  CAST(ROW_NUMBER() OVER (ORDER BY df DESC, term) - 1 AS BIGINT) AS token_id
        |FROM df, n WHERE df >= 5 AND df <= 0.9 * n_docs
        |ORDER BY token_id""".stripMargin,
    "q24_tfidf" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(nfc_normalize(text)), '\s+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
        |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    round(tf.tf * log2(CAST(n_docs AS DOUBLE) / df.df), 6) AS tfidf
        |  FROM tf JOIN df ON tf.term = df.term, n),
        |ranked AS (
        |  SELECT doc_id, term, tfidf,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS BIGINT) AS "rank"
        |  FROM scored)
        |SELECT doc_id, term, tfidf, "rank" FROM ranked WHERE "rank" <= 3
        |ORDER BY doc_id, "rank"""".stripMargin,
    // q72 SQL lives in TextOps (gopherRulesOracleSql) so q203's
    // scorecard composes the SAME fragment
    "q72_gopher_rules" -> operators.TextOps.gopherRulesOracleSql,
    "q73_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, source, string_split_regex(trim(nfc_normalize(text)), '\s+') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, source, toks[CAST(i AS BIGINT)] || ' ' || toks[CAST(i AS BIGINT)+1] AS g
        |  FROM t, UNNEST(range(1, len(toks))) AS u(i)),
        |c AS (SELECT doc_id, source, g, COUNT(*) AS c FROM g GROUP BY 1, 2, 3),
        |p AS (SELECT doc_id, source, MAX(c) AS top_c, CAST(SUM(c) AS BIGINT) AS n_grams FROM c GROUP BY 1, 2),
        |b AS (SELECT source, CAST(top_c AS DOUBLE)/n_grams AS share,
        |  CAST(round(CAST(top_c AS DOUBLE)/n_grams*10000, 0) AS BIGINT) AS bps FROM p)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN share > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
        |  CAST(SUM(bps) AS DOUBLE)/COUNT(*) AS avg_top2_bps,
        |  CAST(MAX(bps) AS BIGINT) AS max_top2_bps
        |FROM b GROUP BY source ORDER BY source""".stripMargin,
    // profile VALUES generated from TextOps.LangProfiles — the same
    // constant the Spark chain and q194's row-local rule read
    "q25_langid" ->
      s"""WITH prof(word, plang) AS (VALUES
        |  ${operators.TextOps.LangProfiles.flatMap { case (l, ws) =>
             ws.map(w => s"('$w','$l')") }.mkString(",")}),
        |t AS (
        |  SELECT doc_id, lang, unnest(string_split_regex(trim(nfc_normalize(text)), '\\s+')) AS word
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id, plang, COUNT(*) AS hits
        |  FROM t JOIN prof USING (word) GROUP BY 1, 2),
        |best AS (
        |  SELECT doc_id, plang AS predicted FROM (
        |    SELECT doc_id, plang,
        |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, plang) AS rn
        |    FROM hits) WHERE rn = 1)
        |SELECT d.lang, COALESCE(b.predicted, 'unknown') AS predicted, COUNT(*) AS n_docs
        |FROM documents d LEFT JOIN best b USING (doc_id)
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "q26_fingerprint" ->
      s"""WITH f AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(list_filter(string_split(text, ''), fc -> fc != ''), c -> CAST(ord(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % ${graft.plans.RollingHash.Mod}) AS fp
        |  FROM documents),
        |c AS (SELECT fp, COUNT(*) AS cluster_size FROM f GROUP BY fp)
        |SELECT f.doc_id, f.fp, c.cluster_size
        |FROM f JOIN c USING (fp) ORDER BY doc_id""".stripMargin,
    // q87: promoted to the oracle gate (round 7) by switching the
    // codec's default frame fingerprint to q26's poly-31 family —
    // the 32-char frame slices are byte-exact because the corpus is
    // ASCII (verified at all three scales); frames at offsets
    // q179: every Rabin window hash recomputed from the char slice
    // (ASCII payloads: byte == codepoint, q87's precedent); chunk
    // indices are exact-integer window sums; chunk fps from substr
    // slices via the verified poly-31 fragment; constants
    // interpolated from the operator
    "q179_asset_cdc" ->
      s"""WITH d AS (SELECT doc_id, source, text, len(text) AS n FROM documents),
        |pos AS (
        |  SELECT doc_id, source, text, CAST(i AS BIGINT) AS pos
        |  FROM d, UNNEST(range(1, n + 1)) AS u(i)),
        |a AS (
        |  SELECT doc_id, source, pos,
        |    CASE WHEN pos >= ${operators.Multimodal.CdcWindow} AND
        |      list_reduce(
        |        list_prepend(CAST(0 AS BIGINT),
        |          list_transform(list_filter(string_split(substr(text,
        |            CAST(pos - ${operators.Multimodal.CdcWindow} + 1 AS BIGINT),
        |            ${operators.Multimodal.CdcWindow}), ''), fc -> fc != ''),
        |            c -> CAST(ord(c) AS BIGINT))),
        |        (acc, c) -> (acc * 31 + c) % ${graft.plans.RollingHash.Mod})
        |      % ${operators.Multimodal.CdcByteMod} = ${operators.Multimodal.CdcByteRem}
        |    THEN 1 ELSE 0 END AS anchor
        |  FROM pos),
        |cidx AS (
        |  SELECT doc_id, source, pos,
        |    SUM(anchor) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - anchor AS chunk_idx
        |  FROM a),
        |ch AS (
        |  SELECT doc_id, source, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |    CAST(COUNT(*) AS BIGINT) AS n_bytes, CAST(MIN(pos) AS BIGINT) AS st
        |  FROM cidx GROUP BY 1, 2, 3),
        |fps AS (
        |  SELECT ch.doc_id, ch.source, ch.chunk_idx, ch.n_bytes,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(list_filter(string_split(substr(d.text, ch.st, ch.n_bytes), ''), fc -> fc != ''),
        |          c -> CAST(ord(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % ${graft.plans.RollingHash.Mod}) AS fp
        |  FROM ch JOIN d USING (doc_id)),
        |keep AS (SELECT fp, MIN({'doc_id': doc_id, 'chunk_idx': chunk_idx}) AS keeper
        |  FROM fps GROUP BY fp)
        |SELECT f.source, COUNT(*) AS n_chunks,
        |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
        |  CAST(SUM(CASE WHEN NOT (f.doc_id = (k.keeper).doc_id
        |    AND f.chunk_idx = (k.keeper).chunk_idx) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_chunks,
        |  CAST(SUM(CASE WHEN NOT (f.doc_id = (k.keeper).doc_id
        |    AND f.chunk_idx = (k.keeper).chunk_idx) THEN n_bytes ELSE 0 END) AS BIGINT)
        |    AS bytes_saved
        |FROM fps f JOIN keep k USING (fp)
        |GROUP BY f.source ORDER BY f.source""".stripMargin,
    // f*32, f in range(0, len//32, 4), mirror sampleFrames exactly
    "q87_frame_dedup" ->
      s"""WITH fr AS (
        |  SELECT d.doc_id, d.source,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(list_filter(string_split(substr(d.text, CAST(u.f * 32 + 1 AS BIGINT), 32), ''), fc -> fc != ''),
        |          c -> CAST(ord(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % ${graft.plans.RollingHash.Mod}) AS fhash
        |  FROM documents d, UNNEST(range(0, len(d.text) // 32, 4)) AS u(f)),
        |sh AS (SELECT fhash, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_with
        |  FROM fr GROUP BY 1)
        |SELECT fr.source, COUNT(*) AS n_frames,
        |  CAST(SUM(CASE WHEN sh.n_docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_frames,
        |  CAST(COUNT(DISTINCT CASE WHEN sh.n_docs_with > 1 THEN fr.doc_id END) AS BIGINT) AS n_assets_with_dup
        |FROM fr JOIN sh USING (fhash)
        |GROUP BY fr.source ORDER BY fr.source""".stripMargin,
    // q126: promoted to the oracle gate (round-5 judge item 5, lever
    // (a)): the default codec's pixel model is fully specified, so
    // the aHash is reproducible arithmetic — under the tiling model
    // the 8×8 resize samples plane positions base=3·(sy·w+sx) with
    // plane(i)=payload(i mod n), integer gray, threshold vs the
    // exact sum/64 mean (power-of-2 division — exact double both
    // engines). The oracle keys on the 64-char BITSTRING instead of
    // the packed long: hash ↔ bit pattern is a bijection, so every
    // equality class (and thus every output COUNT) is identical
    // while sidestepping 1<<63 sign arithmetic (lever (h): the gate
    // checks values, not plan/key shape). fp = q26's verified
    // poly-31 list_reduce fragment; ASCII corpus ⇒ ord(char) ==
    // payload byte (q87's precedent, verified at all scales).
    "q126_phash_dedup" ->
      s"""WITH da AS (
        |  SELECT doc_id, source, text, len(text) AS n,
        |    64 + len(text) % 512 AS w,
        |    64 + (len(text) * 7) % 512 AS h
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, n, text, u.y * 8 + v.x AS bit,
        |    3 * (((u.y * h) // 8) * w + ((v.x * w) // 8)) AS base
        |  FROM da, UNNEST(range(0, 8)) AS u(y), UNNEST(range(0, 8)) AS v(x)),
        |gr AS (
        |  SELECT doc_id, bit,
        |    CASE WHEN n = 0 THEN 0 ELSE
        |      (ord(text[CAST(base % n + 1 AS BIGINT)]) +
        |       ord(text[CAST((base + 1) % n + 1 AS BIGINT)]) +
        |       ord(text[CAST((base + 2) % n + 1 AS BIGINT)])) // 3 END AS gray
        |  FROM pos),
        |mn AS (SELECT doc_id, CAST(SUM(gray) AS DOUBLE) / 64 AS mean FROM gr GROUP BY 1),
        |ak AS (
        |  SELECT gr.doc_id,
        |    STRING_AGG(CASE WHEN gr.gray > mn.mean THEN '1' ELSE '0' END, ''
        |      ORDER BY gr.bit) AS akey
        |  FROM gr JOIN mn USING (doc_id) GROUP BY gr.doc_id),
        |fpt AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(list_filter(string_split(text, ''), fc -> fc != ''), c -> CAST(ord(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % ${graft.plans.RollingHash.Mod}) AS fp
        |  FROM documents),
        |hx AS (
        |  SELECT da.doc_id, da.source, ak.akey, fpt.fp
        |  FROM da JOIN ak USING (doc_id) JOIN fpt USING (doc_id)),
        |ba AS (SELECT akey, COUNT(DISTINCT doc_id) AS n_docs_ahash FROM hx GROUP BY 1),
        |bf AS (SELECT fp, COUNT(DISTINCT doc_id) AS n_docs_fp FROM hx GROUP BY 1)
        |SELECT hx.source, COUNT(*) AS n_assets,
        |  COUNT(DISTINCT hx.akey) AS n_hash_values,
        |  CAST(SUM(CASE WHEN ba.n_docs_ahash > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_perceptual_dup,
        |  CAST(SUM(CASE WHEN bf.n_docs_fp > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup
        |FROM hx JOIN ba USING (akey) JOIN bf USING (fp)
        |GROUP BY hx.source ORDER BY hx.source""".stripMargin,
    // q115: the oracle SQL is GENERATED from the operator's own
    // constants (TextOps.bpeOracleSql) — k unrolled pair-count/argmax/
    // merge CTE blocks; every merge decision is value-checked
    "q115_bpe_train" -> TextOps.bpeOracleSql,
    // q118: the same generated chain carrying word through the merge
    // CTEs, closed by the corpus join — train + apply value-checked
    "q118_bpe_encode" -> TextOps.bpeEncodeOracleSql,
    // q121: generated from TextOps' PMI constants — skip-gram pair
    // counts, broadcast unigram joins, one double chain, round-then-rank
    "q121_pmi_collocations" -> TextOps.pmiOracleSql,
    // q122: generated G² keyness chain — four CASE-guarded double
    // terms, broadcast joins, round-then-rank per source
    "q122_keyness" -> TextOps.keynessOracleSql,
    // q119: generated from CorpusOps.SpanK — Lee-et-al-style exact
    // substring-span dedup; coverage, cut counts, and the reassembled
    // clean_text all value-checked
    "q119_span_dedup" -> CorpusOps.spanDedupOracleSql,
    // q123: the q119 chain against the store gram set (steady-state
    // scrub), generated from the same constants
    "q123_incremental_span" -> CorpusOps.incrementalSpanOracleSql,
    "q27_bpe_tokens" ->
      """WITH d AS (
        |  SELECT source,
        |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpe,
        |    CAST(len(string_split_regex(trim(nfc_normalize(text)), '\s+')) AS BIGINT) AS n_ws
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
        |  CAST(SUM(n_ws) AS BIGINT) AS total_ws_tokens,
        |  CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_ws) AS bpe_per_word
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "q28_json_extract" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(NULLIF(regexp_extract(props, '"k": (\d+)', 1), '') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n,
        |  COUNT(DISTINCT k) AS n_distinct_k,
        |  CAST(SUM(k) AS BIGINT) AS sum_k
        |FROM e WHERE k IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q29_sql_api" ->
      """SELECT n_name, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
        |FROM customer
        |JOIN orders ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    // the digest rule's SQL mirror lives in Dedup.normTextDigestSql
    // (q213's unique-supply chain interpolates the same string)
    "q30_dedup_exact" ->
      s"""WITH h AS (
        |  SELECT doc_id,
        |    ${Dedup.normTextDigestSql} AS content_hash
        |  FROM documents)
        |SELECT content_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS cluster_size
        |FROM h GROUP BY content_hash ORDER BY content_hash""".stripMargin,
    // q172: q31's verified pair CTE + source labels + a bounded
    // rollup; max over rounded jaccards is an exact value pick. The
    // pair CTE carries the operator's hot-posting df cap (q148's
    // rule: sizes stay UNCAPPED — the cap drops postings from pair
    // GENERATION only, set sizes are the true per-doc counts)
    "q172_dup_flow" ->
      s"""WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(nfc_normalize(text)), '\\s+')) AS tok,
        |         generate_subscripts(string_split_regex(trim(nfc_normalize(text)), '\\s+'), 1) AS ord
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, tok || ' ' || lead1 || ' ' || lead2 AS sh FROM (
        |    SELECT doc_id, tok,
        |      LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS lead1,
        |      LEAD(tok, 2) OVER (PARTITION BY doc_id ORDER BY ord) AS lead2
        |    FROM tok) WHERE lead2 IS NOT NULL),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |keep AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= ${Dedup.defaultMaxDf}),
        |shc AS (SELECT s.doc_id, s.sh FROM sh s JOIN keep USING (sh)),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        |  FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |adm AS (
        |  SELECT doc_a, doc_b,
        |    round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
        |  FROM pairs
        |  JOIN sizes sa ON pairs.doc_a = sa.doc_id
        |  JOIN sizes sb ON pairs.doc_b = sb.doc_id
        |  WHERE round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) >= 0.5),
        |lab AS (
        |  SELECT least(da.source, db.source) AS source_x,
        |    greatest(da.source, db.source) AS source_y, jaccard
        |  FROM adm JOIN documents da ON adm.doc_a = da.doc_id
        |           JOIN documents db ON adm.doc_b = db.doc_id)
        |SELECT source_x, source_y, source_x <> source_y AS cross_source,
        |  COUNT(*) AS n_pairs, max(jaccard) AS max_jaccard
        |FROM lab GROUP BY 1, 2
        |ORDER BY source_x, source_y""".stripMargin,
    // The pair CTE carries the operator's hot-posting df cap (set
    // sizes stay uncapped — the cap affects pair GENERATION only);
    // non-binding at test SFs, diverge-proof where it binds
    // q31 SQL lives in Dedup (jaccardOracleSql) so q205's threshold
    // curve composes the SAME fragment
    "q31_dedup_jaccard" -> Dedup.jaccardOracleSql,
    // q35 = connected components over the q31 pair graph; the
    // min-label-propagation fixpoint is expressed as a recursive CTE
    // (label set per node = labels reachable via any path; component
    // id = MIN) — exact, so the cluster table is hash-checkable
    "q35_dedup_clusters" -> Dedup.clustersOracleSql,
    "q234_cluster_size_dist" -> Dedup.clusterSizeDistOracleSql,
    "q238_dedup_order" -> Dedup.dedupOrderRoiOracleSql,
    "q40_knn_brute" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(len(embedding)),
        |        i -> CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE))),
        |      (acc, v) -> acc + v)) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qnrm FROM e WHERE vec_id < 10),
        |c AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    round(
        |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(len(e.embedding)),
        |          i -> CAST(e.embedding[i+1] AS DOUBLE) * CAST(q.qv[i+1] AS DOUBLE))),
        |        (acc, v) -> acc + v) / (e.nrm * q.qnrm), 6) AS cosine
        |  FROM e, q WHERE e.vec_id != q.query_id),
        |r AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS "rank"
        |  FROM c)
        |SELECT query_id, neighbor_id, cosine, "rank" FROM r WHERE "rank" <= 5
        |ORDER BY query_id, "rank"""".stripMargin,
    // q120: q40's verified cosine fragment with a radius cut in place
    // of the top-k; exact, so the radius variant stays oracle-gated
    "q120_range_search" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(len(embedding)),
        |        i -> CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE))),
        |      (acc, v) -> acc + v)) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qnrm FROM e WHERE vec_id < 10),
        |c AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    round(
        |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(len(e.embedding)),
        |          i -> CAST(e.embedding[i+1] AS DOUBLE) * CAST(q.qv[i+1] AS DOUBLE))),
        |        (acc, v) -> acc + v) / (e.nrm * q.qnrm), 6) AS cosine
        |  FROM e, q WHERE e.vec_id != q.query_id),
        |h AS (SELECT query_id, neighbor_id, cosine FROM c WHERE cosine >= 0.3)
        |SELECT query_id, neighbor_id, cosine,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS "rank"
        |FROM h ORDER BY query_id, "rank"""".stripMargin,
    // q116: SQ8 is deterministic arithmetic (per-dim min/max bounds +
    // floor-rounding), so unlike the trained-quantizer ANN variants it
    // joins the oracle gate: DuckDB reconstructs the same quantized
    // vectors and the cosine/rank chain is q40's verified fragment
    // q116: the SQ8 reconstruction prefix lives in SimilaritySearch
    // (sq8DequantCteSql) so q221's distortion card composes the SAME
    // fragment (shared-rule discipline)
    "q116_knn_sq8" ->
      s"""WITH ${SimilaritySearch.sq8DequantCteSql},
        |n AS (
        |  SELECT vec_id, dq,
        |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(len(dq)), i -> dq[i+1] * dq[i+1])), (acc,v) -> acc + v)) AS nrm
        |  FROM e),
        |q AS (SELECT vec_id AS query_id, dq AS qv, nrm AS qnrm FROM n WHERE vec_id < 10),
        |c AS (
        |  SELECT q.query_id, n.vec_id AS neighbor_id,
        |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(len(n.dq)), i -> n.dq[i+1] * q.qv[i+1])), (acc,v) -> acc + v)
        |      / (n.nrm * q.qnrm), 6) AS cosine
        |  FROM n, q WHERE n.vec_id != q.query_id),
        |r AS (SELECT query_id, neighbor_id, cosine,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS "rank" FROM c)
        |SELECT query_id, neighbor_id, cosine, "rank" FROM r WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin,
    "q42_dim_reduction" ->
      """WITH u AS (
        |  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
        |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS q
        |  FROM embeddings)
        |SELECT dim, CAST(SUM(q * q) AS BIGINT) AS importance
        |FROM u GROUP BY dim
        |ORDER BY importance DESC, dim LIMIT 16""".stripMargin,
    "q46_keyword_match" ->
      """WITH kw(keyword) AS (VALUES ('widget'),('bolt'),('anvil'),('gear'),('red'),('blue')),
        |it AS (SELECT p_partkey, p_retailprice, unnest(string_split(p_name, ' ')) AS tok FROM part)
        |SELECT keyword, COUNT(*) AS n_items, MIN(p_partkey) AS first_part,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_price
        |FROM it JOIN kw ON tok = keyword
        |GROUP BY keyword ORDER BY keyword""".stripMargin,
    "q47_click_train" ->
      """WITH clicks AS (
        |  SELECT user_id,
        |    CAST(NULLIF(regexp_extract(props, '"k": (\d+)', 1), '') AS BIGINT) AS item
        |  FROM events WHERE event_type = 'click'),
        |pos AS (
        |  SELECT user_id, item, COUNT(*) AS n_clicks FROM clicks
        |  WHERE item IS NOT NULL GROUP BY 1, 2),
        |neg AS (
        |  SELECT u.user_id, i.item
        |  FROM (SELECT DISTINCT user_id FROM clicks WHERE item IS NOT NULL) u
        |  CROSS JOIN (SELECT DISTINCT item FROM clicks WHERE item IS NOT NULL) i
        |  WHERE (u.user_id * 31 + i.item) % 20 = 0
        |    AND NOT EXISTS (SELECT 1 FROM pos
        |      WHERE pos.user_id = u.user_id AND pos.item = i.item))
        |SELECT * FROM (
        |  SELECT 'pos' AS split, COUNT(*) AS n_examples,
        |    COUNT(DISTINCT user_id) AS n_users, COUNT(DISTINCT item) AS n_items,
        |    CAST(SUM(n_clicks) AS BIGINT) AS total_clicks
        |  FROM pos
        |  UNION ALL
        |  SELECT 'neg', COUNT(*), COUNT(DISTINCT user_id), COUNT(DISTINCT item), 0
        |  FROM neg)
        |ORDER BY split""".stripMargin,
    "q48_similarity_data" ->
      """WITH ui AS (
        |  SELECT DISTINCT user_id,
        |    CAST(NULLIF(regexp_extract(props, '"k": (\d+)', 1), '') AS BIGINT) AS item
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT a.item AS item_a, b.item AS item_b
        |  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
        |  WHERE a.item IS NOT NULL AND b.item IS NOT NULL)
        |SELECT item_a, item_b, COUNT(*) AS support
        |FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY 1, 2""".stripMargin,
    "q56_mc_bias" ->
      """WITH r AS (
        |  SELECT o_custkey AS "user", l_partkey AS item,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS rating
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |train AS (SELECT * FROM r WHERE ("user" * 31 + item) % 10 < 8),
        |g AS (
        |  SELECT COUNT(*) AS n_global,
        |    CAST(SUM(CAST(rating AS DECIMAL(18,4))) AS DOUBLE) AS sum_global
        |  FROM train),
        |by_user AS (
        |  SELECT "user", COUNT(*) AS n_train,
        |    CAST(SUM(CAST(rating AS DECIMAL(18,4))) AS DOUBLE) AS sum_user
        |  FROM train GROUP BY 1)
        |SELECT "user", n_train,
        |  round(sum_user / n_train - sum_global / n_global, 6) AS bias
        |FROM by_user, g
        |ORDER BY bias DESC, "user" LIMIT 20""".stripMargin,
    "q60_multimodal_meta" ->
      """WITH a AS (
        |  SELECT doc_id, source,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |    CAST(64 + n_chars % 512 AS BIGINT) AS width,
        |    CAST(64 + (n_chars * 7) % 512 AS BIGINT) AS height,
        |    CAST(1 + doc_id % 30 AS BIGINT) AS frames
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_assets,
        |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
        |  CAST(SUM(width) AS DOUBLE) / COUNT(*) AS avg_width,
        |  CAST(MAX(frames) AS BIGINT) AS max_frames
        |FROM a GROUP BY source ORDER BY source""".stripMargin,
    "q70_stream_rollup" ->
      """SELECT
        |  make_timestamp(CAST(floor(epoch(date_trunc('second', ts)) / 600) * 600 * 1000000 AS BIGINT)) AS window_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    // q76: word 5-grams via the same range-index pattern as q73;
    // eval set = EvalSource (interpolated), per-doc DISTINCT grams, left join keeps
    // zero-hit docs
    "q76_contamination" ->
      s"""WITH t AS (
        |  SELECT doc_id, source, string_split_regex(trim(nfc_normalize(text)), '\\s+') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, source,
        |    toks[CAST(i AS BIGINT)] || ' ' || toks[CAST(i AS BIGINT)+1] || ' ' ||
        |    toks[CAST(i AS BIGINT)+2] || ' ' || toks[CAST(i AS BIGINT)+3] || ' ' ||
        |    toks[CAST(i AS BIGINT)+4] AS g
        |  FROM t, UNNEST(range(1, len(toks)-3)) AS u(i)),
        |ev AS (SELECT DISTINCT g FROM g WHERE source = '${CorpusOps.EvalSource}'),
        |tg AS (SELECT DISTINCT doc_id, source, g FROM g WHERE source <> '${CorpusOps.EvalSource}'),
        |h AS (
        |  SELECT tg.doc_id, COUNT(*) AS n_hit
        |  FROM tg JOIN ev ON tg.g = ev.g GROUP BY 1),
        |d AS (
        |  SELECT t.doc_id, t.source, COALESCE(h.n_hit, 0) AS n_hit
        |  FROM t LEFT JOIN h ON t.doc_id = h.doc_id WHERE t.source <> '${CorpusOps.EvalSource}')
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |  CAST(SUM(n_hit) AS BIGINT) AS total_hits,
        |  CAST(MAX(n_hit) AS BIGINT) AS max_hits
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    // q173: q31's verified pair CTE restricted BIPARTITE (train side
    // × eval side only); τ and the train-side df cap interpolated
    // from the operator's constants; best-match pick is a rank the
    // oracle may STATE while the Spark plan uses the partial-agg
    // struct max (lever (h) — value equality is what the gate checks)
    "q173_fuzzy_contam" ->
      s"""WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(nfc_normalize(text)), '\\s+')) AS tok,
        |         generate_subscripts(string_split_regex(trim(nfc_normalize(text)), '\\s+'), 1) AS ord
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, tok || ' ' || lead1 || ' ' || lead2 AS sh FROM (
        |    SELECT doc_id, ord, tok,
        |      LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS lead1,
        |      LEAD(tok, 2) OVER (PARTITION BY doc_id ORDER BY ord) AS lead2
        |    FROM tok) WHERE lead2 IS NOT NULL),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |d AS (SELECT doc_id, source FROM documents),
        |tr AS (SELECT s.doc_id, s.sh FROM sh s JOIN d USING (doc_id)
        |       WHERE d.source <> '${CorpusOps.EvalSource}'),
        |ev AS (SELECT s.doc_id, s.sh FROM sh s JOIN d USING (doc_id)
        |       WHERE d.source = '${CorpusOps.EvalSource}'),
        |keep AS (SELECT sh FROM tr GROUP BY sh
        |         HAVING COUNT(*) <= ${CorpusOps.FuzzyMaxDf}),
        |pairs AS (
        |  SELECT t.doc_id AS doc_id, e.doc_id AS eval_doc_id, COUNT(*) AS inter
        |  FROM tr t JOIN keep USING (sh) JOIN ev e ON t.sh = e.sh
        |  GROUP BY 1, 2),
        |adm AS (
        |  SELECT p.doc_id, p.eval_doc_id,
        |    round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
        |  FROM pairs p
        |  JOIN sizes sa ON p.doc_id = sa.doc_id
        |  JOIN sizes sb ON p.eval_doc_id = sb.doc_id),
        |best AS (
        |  SELECT doc_id, eval_doc_id, jaccard,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY jaccard DESC, eval_doc_id) AS rn
        |  FROM adm)
        |SELECT b.doc_id, d.source, b.eval_doc_id, b.jaccard,
        |  b.jaccard >= ${CorpusOps.FuzzyTau} AS contaminated
        |FROM best b JOIN d USING (doc_id) WHERE rn = 1
        |ORDER BY b.doc_id""".stripMargin,
    // q77: DuckDB list slice [a:b] is 1-based inclusive and clips at
    // the end — same element window as Spark's slice(t, a, 64)
    "q77_chunk_pack" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(nfc_normalize(text)), '\s+') AS toks FROM documents),
        |c AS (
        |  SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx, toks,
        |    CAST(len(toks) AS BIGINT) AS n_tok
        |  FROM t, UNNEST(range(0, CAST(ceil(len(toks) / 64.0) AS BIGINT))) AS u(ci))
        |SELECT doc_id, chunk_idx,
        |  CAST(least(64, n_tok - chunk_idx * 64) AS BIGINT) AS chunk_tokens,
        |  md5(array_to_string(toks[CAST(chunk_idx*64+1 AS BIGINT):CAST(chunk_idx*64+64 AS BIGINT)], ' ')) AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    // q78: multiplicative-hash rate sampling — identical BIGINT
    // arithmetic in both engines, no overflow at any test SF
    "q78_sample_balance" ->
      s"""WITH c AS (SELECT lang, COUNT(*) AS n_before FROM documents GROUP BY lang),
        |tgt AS (SELECT MIN(n_before) AS target FROM c),
        |d AS (
        |  SELECT doc_id, dd.lang, (doc_id % ${CorpusOps.SampleHashP} * ${CorpusOps.SampleHashC}) % ${CorpusOps.SampleHashP} AS pr,
        |    c.n_before, tgt.target
        |  FROM documents dd JOIN c ON dd.lang = c.lang, tgt)
        |SELECT lang, CAST(MIN(n_before) AS BIGINT) AS n_before,
        |  CAST(SUM(CASE WHEN pr % n_before < target THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN pr % n_before < target THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    // q128: the oracle STATES the selection as a window rank; the
    // Spark plan computes the same set via the bounded-heap TopK
    // aggregate (no per-source sort). u is the same exact rational in
    // both engines; ln's 1-ulp risk absorbed by round(,12) pre-rank
    "q128_weighted_sample" ->
      s"""WITH d AS (
        |  SELECT doc_id, source,
        |    round(-ln((CAST((doc_id % ${CorpusOps.SampleHashP} * ${CorpusOps.SampleHashC}) % ${CorpusOps.SampleHashP} AS DOUBLE) + 1.0) / ${CorpusOps.SampleHashP + 1}.0)
        |      / CAST(n_chars AS DOUBLE), 12) AS prio
        |  FROM documents WHERE n_chars > 0),
        |r AS (
        |  SELECT source, doc_id, prio,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY prio, doc_id) AS rn
        |  FROM d)
        |SELECT source, CAST(rn AS BIGINT) AS smp_rank, doc_id, prio
        |FROM r WHERE rn <= 5
        |ORDER BY source, smp_rank""".stripMargin,
    // q79: per-bigram nll rounded then summed as DECIMAL so every
    // mean is order-independent (CLAUDE.md float-parity rules);
    // divisions happen in DOUBLE on exact decimal sums in both engines
    "q79_bigram_lm" ->
      """WITH t AS (
        |  SELECT doc_id, source, string_split_regex(trim(nfc_normalize(text)), '\s+') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, source, toks[CAST(i AS BIGINT)] || ' ' || toks[CAST(i AS BIGINT)+1] AS g,
        |    toks[CAST(i AS BIGINT)] AS w1
        |  FROM t, UNNEST(range(1, len(toks))) AS u(i)),
        |c2 AS (SELECT g, COUNT(*) AS c2 FROM g GROUP BY g),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM g GROUP BY w1),
        |v AS (SELECT COUNT(DISTINCT tok) AS v FROM (SELECT unnest(toks) AS tok FROM t)),
        |nll AS (
        |  SELECT g.doc_id, g.source,
        |    CAST(round(-log2(CAST(c2.c2 + 1 AS DOUBLE) / (c1.c1 + v.v)), 6) AS DECIMAL(18,6)) AS nll
        |  FROM g JOIN c2 ON g.g = c2.g JOIN c1 ON g.w1 = c1.w1, v),
        |pd AS (
        |  SELECT doc_id, source,
        |    CAST(round(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS DECIMAL(18,6)) AS doc_nll
        |  FROM nll GROUP BY 1, 2)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(CAST(SUM(doc_nll) AS DECIMAL(18,6)) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE) AS avg_nll,
        |  round(CAST(MAX(doc_nll) AS DOUBLE), 4) AS max_nll
        |FROM pd GROUP BY source ORDER BY source""".stripMargin,
    // q80: q35's recursive-CTE component labels + per-cluster argmax
    // by (n_chars desc, doc_id)
    "q80_cluster_best" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(nfc_normalize(text)), '\s+')) AS tok,
        |         generate_subscripts(string_split_regex(trim(nfc_normalize(text)), '\s+'), 1) AS ord
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, tok || ' ' || lead1 || ' ' || lead2 AS sh FROM (
        |    SELECT doc_id, tok,
        |      LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS lead1,
        |      LEAD(tok, 2) OVER (PARTITION BY doc_id ORDER BY ord) AS lead2
        |    FROM tok) WHERE lead2 IS NOT NULL),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jac AS (
        |  SELECT doc_a, doc_b
        |  FROM cand
        |  JOIN sizes sa ON cand.doc_a = sa.doc_id
        |  JOIN sizes sb ON cand.doc_b = sb.doc_id
        |  WHERE round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) >= 0.5),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM jac
        |  UNION ALL
        |  SELECT doc_b, doc_a FROM jac),
        |cc(id, label) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, cc.label FROM edges e JOIN cc ON e.dst = cc.id),
        |lab AS (SELECT id, MIN(label) AS cluster_id FROM cc GROUP BY id),
        |cl AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_id),
        |m AS (
        |  SELECT l.cluster_id, cl.cluster_size, l.id AS doc_id, d.n_chars,
        |    len(regexp_replace(lower(trim(nfc_normalize(d.text))), '\s+', ' ', 'g')) AS norm_len
        |  FROM lab l JOIN cl ON l.cluster_id = cl.cluster_id
        |  JOIN documents d ON l.id = d.doc_id),
        |r AS (
        |  SELECT cluster_id, cluster_size, doc_id, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY norm_len DESC, doc_id) AS rn
        |  FROM m)
        |SELECT cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size,
        |  doc_id AS rep_doc_id, n_chars AS rep_n_chars,
        |  CAST(cluster_size - 1 AS BIGINT) AS n_dropped
        |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin,
    // q81: chunk grid identical to q77; keeper = min (doc_id,
    // chunk_idx) per hash group
    "q81_chunk_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, source, string_split_regex(trim(nfc_normalize(text)), '\s+') AS toks FROM documents),
        |c AS (
        |  SELECT doc_id, source, CAST(ci AS BIGINT) AS chunk_idx,
        |    md5(array_to_string(toks[CAST(ci*64+1 AS BIGINT):CAST(ci*64+64 AS BIGINT)], ' ')) AS chunk_hash
        |  FROM t, UNNEST(range(0, CAST(ceil(len(toks) / 64.0) AS BIGINT))) AS u(ci)),
        |g AS (
        |  SELECT chunk_hash, COUNT(*) AS n_copies,
        |    MIN({'doc_id': doc_id, 'chunk_idx': chunk_idx}) AS keeper
        |  FROM c GROUP BY chunk_hash)
        |SELECT source, COUNT(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN c.doc_id = (g.keeper).doc_id AND c.chunk_idx = (g.keeper).chunk_idx
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_dup_groups,
        |  CAST(MAX(n_copies) AS BIGINT) AS max_copies
        |FROM c JOIN g USING (chunk_hash)
        |GROUP BY source ORDER BY source""".stripMargin,
    // q175: the generated chunk CTE chain (one producer —
    // CorpusOps.cdcChunkCteSql — shared with q176/q180); `pos` not
    // `ord` for the position column (the lambda calls the ord()
    // FUNCTION — don't shadow it)
    "q175_cdc_chunks" ->
      ("WITH " + CorpusOps.cdcChunkCteSql("documents", "text", "") +
        """
        |SELECT doc_id, chunk_idx, n_tok, fp,
        |  CAST(COUNT(*) OVER (PARTITION BY fp) AS BIGINT) AS n_copies,
        |  ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, chunk_idx) = 1 AS kept
        |FROM ch
        |ORDER BY doc_id, chunk_idx""".stripMargin),
    // q176: the shared generated chunk CTE split by q86's batch
    // residue; store side collapses to DISTINCT fps; keeper = min
    // struct per fp
    "q176_incremental_cdc" ->
      ("WITH " + CorpusOps.cdcChunkCteSql("documents", "text", "") +
      s""",
        |bch AS (SELECT * FROM ch
        |  WHERE ((doc_id % ${CorpusOps.SampleHashP} * ${CorpusOps.SampleHashC}) % ${CorpusOps.SampleHashP}) % 10 = 3),
        |sfp AS (SELECT DISTINCT fp FROM ch
        |  WHERE ((doc_id % ${CorpusOps.SampleHashP} * ${CorpusOps.SampleHashC}) % ${CorpusOps.SampleHashP}) % 10 <> 3),
        |keep AS (SELECT fp, MIN({'doc_id': doc_id, 'chunk_idx': chunk_idx}) AS keeper
        |  FROM bch GROUP BY fp),
        |dec AS (
        |  SELECT bch.doc_id, bch.n_tok,
        |    CASE WHEN s.fp IS NOT NULL THEN 'dup_store'
        |         WHEN NOT (bch.doc_id = (k.keeper).doc_id
        |                   AND bch.chunk_idx = (k.keeper).chunk_idx) THEN 'dup_batch'
        |         ELSE 'new' END AS decision
        |  FROM bch JOIN keep k USING (fp) LEFT JOIN sfp s ON bch.fp = s.fp)
        |SELECT doc_id, COUNT(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN decision = 'dup_store' THEN 1 ELSE 0 END) AS BIGINT) AS n_store_dup,
        |  CAST(SUM(CASE WHEN decision = 'dup_batch' THEN 1 ELSE 0 END) AS BIGINT) AS n_batch_dup,
        |  CAST(SUM(CASE WHEN decision = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |  CAST(SUM(CASE WHEN decision = 'new' THEN n_tok ELSE 0 END) AS BIGINT) AS new_tokens
        |FROM dec GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // q82: identical exclusive-running-sum packing rule; integer
    // arithmetic end to end
    "q82_pack_bins" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(trim(nfc_normalize(text)), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |b AS (
        |  SELECT source, n_tok,
        |    CAST(floor((SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok) / 2048.0) AS BIGINT) AS bin_id
        |  FROM d)
        |SELECT source, bin_id, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
        |FROM b GROUP BY source, bin_id
        |ORDER BY source, bin_id""".stripMargin,
    // q83: q76's gram pipeline rolled up per contaminated doc
    "q83_contam_flag" ->
      s"""WITH t AS (
        |  SELECT doc_id, source, string_split_regex(trim(nfc_normalize(text)), '\\s+') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, source,
        |    toks[CAST(i AS BIGINT)] || ' ' || toks[CAST(i AS BIGINT)+1] || ' ' ||
        |    toks[CAST(i AS BIGINT)+2] || ' ' || toks[CAST(i AS BIGINT)+3] || ' ' ||
        |    toks[CAST(i AS BIGINT)+4] AS g
        |  FROM t, UNNEST(range(1, len(toks)-3)) AS u(i)),
        |ev AS (SELECT DISTINCT g FROM g WHERE source = '${CorpusOps.EvalSource}'),
        |tg AS (SELECT DISTINCT doc_id, source, g FROM g WHERE source <> '${CorpusOps.EvalSource}')
        |SELECT tg.doc_id, tg.source, COUNT(*) AS n_hit
        |FROM tg JOIN ev ON tg.g = ev.g
        |GROUP BY 1, 2 ORDER BY tg.doc_id""".stripMargin,
    // q84: the shared overlapping-window grid (generated fragment —
    // q185 consumes the same one); md5 digests stand in for window
    // text
    "q84_window_dedup" ->
      s"""WITH ${CorpusOps.windowCteSql},
        |s AS (SELECT wh, COUNT(DISTINCT doc_id) AS n_docs_with FROM w GROUP BY wh),
        |p AS (
        |  SELECT doc_id, source, COUNT(*) AS n_win,
        |    SUM(CASE WHEN n_docs_with > 1 THEN 1 ELSE 0 END) AS n_dup
        |  FROM w JOIN s USING (wh) GROUP BY 1, 2),
        |b AS (SELECT source, n_win, n_dup,
        |  CAST(round(n_dup * 10000.0 / n_win, 0) AS BIGINT) AS dup_bps FROM p)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_win) AS BIGINT) AS n_windows,
        |  CAST(SUM(n_dup) AS BIGINT) AS n_dup_windows,
        |  CAST(SUM(CASE WHEN dup_bps > 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_mostly_dup
        |FROM b GROUP BY source ORDER BY source""".stripMargin,
    // q85: every stage reuses the already-verified rule of its
    // standalone oracle (q30 digests, q35/q80 cluster CTE, q72
    // quality rules, q76 eval grams, q78 hash sampling, q77 chunks)
    "q85_curation_funnel" -> (FunnelCte +
      """SELECT source, COUNT(*) AS n_raw,
        |  CAST(SUM(CASE WHEN dedup_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
        |  CAST(SUM(CASE WHEN quality THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
        |  CAST(SUM(CASE WHEN clean THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
        |  CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        |  CAST(SUM(CASE WHEN sampled THEN CAST(ceil(n_tok / 64.0) AS BIGINT) ELSE 0 END) AS BIGINT) AS n_chunks
        |FROM f4 GROUP BY source ORDER BY source""".stripMargin),
    // q91: the SAME funnel CTE restricted to the sampled (written)
    // docs — write+read sink fidelity is checked against the exact
    // SQL that gates q85
    "q91_curated_sink" -> (FunnelCte +
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CAST(ceil(n_tok / 64.0) AS BIGINT)) AS BIGINT) AS n_chunks
        |FROM f4 WHERE sampled GROUP BY source ORDER BY source""".stripMargin),
    // q86: batch = hash residue 3 (q78's hash family), store = the
    // rest; q30's digest
    // rule then q31's shingle-Jaccard rule against the store only
    "q86_incremental_dedup" ->
      s"""WITH b AS (SELECT * FROM documents WHERE ((doc_id % ${CorpusOps.SampleHashP} * ${CorpusOps.SampleHashC}) % ${CorpusOps.SampleHashP}) % 10 = 3),
        |s AS (SELECT * FROM documents WHERE ((doc_id % ${CorpusOps.SampleHashP} * ${CorpusOps.SampleHashC}) % ${CorpusOps.SampleHashP}) % 10 <> 3),
        |bh AS (SELECT doc_id, md5(regexp_replace(lower(trim(nfc_normalize(text))), '\\s+', ' ', 'g')) AS h FROM b),
        |sh0 AS (SELECT doc_id, md5(regexp_replace(lower(trim(nfc_normalize(text))), '\\s+', ' ', 'g')) AS h FROM s),
        |ex AS (SELECT bh.doc_id, MIN(sh0.doc_id) AS exact_ref
        |       FROM bh JOIN sh0 ON bh.h = sh0.h GROUP BY 1),
        |tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(nfc_normalize(text)), '\\s+')) AS tok,
        |         generate_subscripts(string_split_regex(trim(nfc_normalize(text)), '\\s+'), 1) AS ord
        |  FROM documents),
        |tri AS (
        |  SELECT DISTINCT doc_id, tok || ' ' || lead1 || ' ' || lead2 AS sh FROM (
        |    SELECT doc_id, tok,
        |      LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS lead1,
        |      LEAD(tok, 2) OVER (PARTITION BY doc_id ORDER BY ord) AS lead2
        |    FROM tok) WHERE lead2 IS NOT NULL),
        |bsh AS (SELECT t.doc_id, t.sh FROM tri t JOIN b ON t.doc_id = b.doc_id),
        |ssh AS (SELECT t.doc_id AS sid, t.sh FROM tri t JOIN s ON t.doc_id = s.doc_id),
        |bsz AS (SELECT doc_id, COUNT(*) AS nb FROM bsh GROUP BY 1),
        |ssz AS (SELECT sid, COUNT(*) AS ns FROM ssh GROUP BY 1),
        |i AS (SELECT bsh.doc_id, ssh.sid, COUNT(*) AS inter
        |      FROM bsh JOIN ssh ON bsh.sh = ssh.sh GROUP BY 1, 2),
        |jac AS (
        |  SELECT i.doc_id, i.sid,
        |    round(CAST(inter AS DOUBLE) / (nb + ns - inter), 6) AS j
        |  FROM i JOIN bsz ON i.doc_id = bsz.doc_id JOIN ssz ON i.sid = ssz.sid),
        |nbest AS (
        |  SELECT doc_id, sid AS near_ref FROM (
        |    SELECT doc_id, sid,
        |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY j DESC, sid) AS rn
        |    FROM jac WHERE j >= 0.5) WHERE rn = 1)
        |SELECT b.doc_id,
        |  CASE WHEN ex.exact_ref IS NOT NULL THEN 'exact_dup'
        |       WHEN nbest.near_ref IS NOT NULL THEN 'near_dup'
        |       ELSE 'new' END AS decision,
        |  CAST(COALESCE(ex.exact_ref, nbest.near_ref, -1) AS BIGINT) AS ref_id
        |FROM b
        |LEFT JOIN ex ON b.doc_id = ex.doc_id
        |LEFT JOIN nbest ON b.doc_id = nbest.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    // q92: q86's dedup decision + q72's quality rules + store-eval
    // contamination, in pipeline precedence order
    "q92_incremental_funnel" -> IncFunnelSql,
    "q109_curated_append" -> CuratedAppendSql,
    // q113: compaction must be content-invariant — gated by the SAME
    // composed oracle as the layout it compacts
    "q113_curated_compact" -> CuratedAppendSql,
    // q111: τ=2 source mixing — the Σ of per-source sqrt weights goes
    // through DECIMAL(18,6) in both engines (associative, partition-
    // order-independent); every derived float is rounded before the
    // next arithmetic step so the IEEE chains can't diverge
    // q111/q112/q117/q213/q217 all interpolate the ONE generated mix
    // chain (CorpusOps.mixChainCteSql / mixAdmitCteSql) — the chain
    // had drifted into five hand-kept copies before round 15
    "q111_mix_weights" ->
      s"""WITH ${CorpusOps.mixChainCteSql(100000L)}
        |SELECT source, n_docs, n_tokens, weight, token_target, rate
        |FROM mix ORDER BY source""".stripMargin,
    // q112: the chain at budget 10000, applied as the q78-family
    // doc-granularity hash filter; fill divides two exact longs
    "q112_mix_apply" ->
      s"""WITH ${CorpusOps.mixAdmitCteSql(10000L)}
        |SELECT adm.source, COUNT(*) AS n_docs_sampled,
        |  CAST(SUM(adm.n_tok) AS BIGINT) AS n_tokens_sampled,
        |  MIN(mix.token_target) AS token_target,
        |  round(CAST(CAST(SUM(adm.n_tok) AS BIGINT) AS DOUBLE) / MIN(mix.token_target), 3) AS fill
        |FROM adm JOIN mix ON adm.source = mix.source
        |GROUP BY adm.source ORDER BY adm.source""".stripMargin,
    // q117: the q112 admission chain at DOC level (same CTE fragments,
    // final select per admitted doc instead of the per-source rollup)
    "q117_mix_admit" ->
      s"""WITH ${CorpusOps.mixAdmitCteSql(10000L)}
        |SELECT doc_id, source, n_tok FROM adm ORDER BY doc_id""".stripMargin,
    // q89: Robertson/Lucene BM25, k1=1.2 b=0.75; per-term
    // contributions rounded to 8dp and summed as DECIMAL so the
    // score is term-order-independent in both engines; the exact sum
    // is rounded to 6dp BEFORE the double cast (rounding the double
    // splits the engines at a half: 2.08231150 → 2.082312 vs 2.082311)
    "q89_bm25" ->
      """WITH q(term) AS (VALUES ('spark'),('table'),('join'),('data'),('query')),
        |dl AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(nfc_normalize(text)), '\s+')) AS BIGINT) AS dl
        |  FROM documents),
        |stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_dl FROM dl),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(nfc_normalize(text)), '\s+')) AS term
        |    FROM documents) t JOIN q USING (term)
        |  GROUP BY doc_id, term),
        |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
        |c AS (
        |  SELECT tf.doc_id,
        |    CAST(round(
        |      ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
        |      (tf * 2.2) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / (CAST(total_dl AS DOUBLE) / n_docs))),
        |      8) AS DECIMAL(18,8)) AS c
        |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats),
        |s AS (
        |  SELECT doc_id, CAST(round(SUM(c), 6) AS DOUBLE) AS score
        |  FROM c GROUP BY doc_id
        |  ORDER BY score DESC, doc_id LIMIT 10)
        |SELECT doc_id, score,
        |  CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS "rank"
        |FROM s ORDER BY "rank"""".stripMargin,
    // q90: q35's cluster CTE gives the split unit; the oracle
    // RECOMPUTES cross_pairs from the pair list, so the zero-leakage
    // guarantee is hash-checked, not just asserted
    "q90_leakage_split" ->
      s"""WITH RECURSIVE tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(nfc_normalize(text)), '\\s+')) AS tok,
        |         generate_subscripts(string_split_regex(trim(nfc_normalize(text)), '\\s+'), 1) AS ord
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, tok || ' ' || lead1 || ' ' || lead2 AS sh FROM (
        |    SELECT doc_id, tok,
        |      LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS lead1,
        |      LEAD(tok, 2) OVER (PARTITION BY doc_id ORDER BY ord) AS lead2
        |    FROM tok) WHERE lead2 IS NOT NULL),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jac AS (
        |  SELECT doc_a, doc_b
        |  FROM cand
        |  JOIN sizes sa ON cand.doc_a = sa.doc_id
        |  JOIN sizes sb ON cand.doc_b = sb.doc_id
        |  WHERE round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) >= 0.5),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM jac
        |  UNION ALL
        |  SELECT doc_b, doc_a FROM jac),
        |cc(id, label) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, cc.label FROM edges e JOIN cc ON e.dst = cc.id),
        |lab AS (SELECT id, MIN(label) AS cluster_id FROM cc GROUP BY id),
        |s AS (
        |  SELECT d.doc_id, d.source,
        |    ((COALESCE(lab.cluster_id, d.doc_id) % ${CorpusOps.SampleHashP} * ${CorpusOps.SampleHashC}) % ${CorpusOps.SampleHashP}) % 10 < 8 AS is_train
        |  FROM documents d LEFT JOIN lab ON d.doc_id = lab.id),
        |x AS (
        |  SELECT COUNT(*) AS cross_pairs
        |  FROM jac
        |  JOIN s sa ON jac.doc_a = sa.doc_id
        |  JOIN s sb ON jac.doc_b = sb.doc_id
        |  WHERE sa.is_train <> sb.is_train)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        |  CAST(SUM(CASE WHEN NOT is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
        |  CAST(MIN(cross_pairs) AS BIGINT) AS cross_pairs
        |FROM s, x GROUP BY source ORDER BY source""".stripMargin,
    // q93: the ENTIRE MinHash+LSH pipeline (poly-31 base hash, K=16
    // affine perms, 4×4 banding, bucket candidates, exact-Jaccard
    // verify) value-checked in DuckDB. The 16 MIN lines and the band
    // predicate are GENERATED from the same Scala constants the Spark
    // operator uses (graft.operators.Dedup.{pmhK,pmhR,minhashC,
    // minhashP}) so the two engines' hash families cannot drift.
    "q93_minhash_lsh_exact" ->
      (s"""$PmhChain
        |SELECT c.doc_a, c.doc_b,
        |  round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
        |FROM cand c
        |JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
        |JOIN sizes sa ON c.doc_a = sa.doc_id
        |JOIN sizes sb ON c.doc_b = sb.doc_id
        |WHERE round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) >= 0.5
        |ORDER BY c.doc_a, c.doc_b""").stripMargin,
    // q158: the SAME generated q93 chain, closed by the exact-pair
    // left join — recall report on the oracle gate (shared fl CTE
    // with q188)
    "q158_lsh_quality" ->
      (s"""$LshFoundCte
        |SELECT doc_a, doc_b, jaccard, found FROM fl
        |ORDER BY doc_a, doc_b""").stripMargin,
    // q188: the same classified-pair chain, closed by the S-curve
    // bucket rollup; exponent chains GENERATED from pmhR/pmhK (one
    // family, lever (s)); pure IEEE multiplies, no pow()
    "q188_lsh_calibration" -> {
      val sChain = Seq.fill(graft.operators.Dedup.pmhR)("jaccard").mkString(" * ")
      val qChain = Seq.fill(
        graft.operators.Dedup.pmhK / graft.operators.Dedup.pmhR)("qq")
        .mkString(" * ")
      (s"""$LshFoundCte,
        |k AS (
        |  SELECT CAST(floor(jaccard * 20) AS BIGINT) AS bucket, found,
        |    CAST(1 AS DOUBLE) - $sChain AS qq
        |  FROM fl),
        |p AS (
        |  SELECT bucket, found,
        |    CAST(round(CAST(1 AS DOUBLE) - $qChain, 6) AS DECIMAL(18,6)) AS p
        |  FROM k),
        |g AS (
        |  SELECT bucket, COUNT(*) AS n_pairs,
        |    CAST(SUM(CASE WHEN found THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
        |    CAST(CAST(SUM(p) AS DECIMAL(18,6)) AS DOUBLE) AS expected_found
        |  FROM p GROUP BY bucket)
        |SELECT bucket, n_pairs, n_found, expected_found,
        |  CAST(n_found AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS found_rate,
        |  expected_found / CAST(n_pairs AS DOUBLE) AS expected_rate
        |FROM g ORDER BY bucket""").stripMargin
    },
    // q159: q10's verified session fragment + in-session lead guard;
    // counts exact, one IEEE share division; top-N INTERPOLATED from
    // FrameOps.PathTopN
    "q159_session_paths" ->
      s"""WITH e AS (
        |  SELECT user_id, event_id, event_type, ts,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
        |    LAG(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_sec
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id, event_type, ts,
        |    SUM(CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM e),
        |p AS (
        |  SELECT session_id, event_type,
        |    LEAD(event_type, 1) OVER w AS t2,
        |    LEAD(event_type, 2) OVER w AS t3,
        |    LEAD(session_id, 2) OVER w AS s3
        |  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |c AS (
        |  SELECT event_type || ' > ' || t2 || ' > ' || t3 AS path, COUNT(*) AS n
        |  FROM p WHERE s3 = session_id GROUP BY 1),
        |t AS (
        |  SELECT path, n, CAST(SUM(n) OVER () AS BIGINT) AS total,
        |    ROW_NUMBER() OVER (ORDER BY n DESC, path) AS rank
        |  FROM c)
        |SELECT rank, path, CAST(n AS BIGINT) AS n,
        |  CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share
        |FROM t WHERE rank <= ${FrameOps.PathTopN} ORDER BY rank""".stripMargin,
    // q160: exact violation counts; two checks fail by design so
    // both verdict branches are value-checked
    "q160_expectations" ->
      """WITH li AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS qty_null,
        |    CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS qty_range,
        |    CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS disc_range,
        |    CAST(SUM(CASE WHEN l_quantity > 40 THEN 1 ELSE 0 END) AS BIGINT) AS qty_gt40
        |  FROM lineitem),
        |o AS (
        |  SELECT CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS pk_dupes,
        |    CAST(SUM(CASE WHEN o_orderstatus NOT IN ('P','O','F') THEN 1 ELSE 0 END) AS BIGINT) AS status_dom
        |  FROM orders),
        |f AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS fk_orphans FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o2 WHERE o2.o_orderkey = l.l_orderkey)),
        |e AS (
        |  SELECT CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS val_null,
        |    CAST(SUM(CASE WHEN value > 400 THEN 1 ELSE 0 END) AS BIGINT) AS val_gt400
        |  FROM events)
        |SELECT * FROM (
        |  SELECT 'events_value_complete' AS check_name, val_null AS metric, val_null = 0 AS passed FROM e
        |  UNION ALL SELECT 'events_value_le_400', val_gt400, val_gt400 = 0 FROM e
        |  UNION ALL SELECT 'lineitem_discount_in_range', disc_range, disc_range = 0 FROM li
        |  UNION ALL SELECT 'lineitem_fk_orders', fk_orphans, fk_orphans = 0 FROM f
        |  UNION ALL SELECT 'lineitem_nonempty', n, n > 0 FROM li
        |  UNION ALL SELECT 'lineitem_quantity_complete', qty_null, qty_null = 0 FROM li
        |  UNION ALL SELECT 'lineitem_quantity_in_range', qty_range, qty_range = 0 FROM li
        |  UNION ALL SELECT 'lineitem_quantity_le_40', qty_gt40, qty_gt40 = 0 FROM li
        |  UNION ALL SELECT 'orders_orderkey_unique', pk_dupes, pk_dupes = 0 FROM o)
        |ORDER BY check_name""".stripMargin,
    // q161: null-skipping concat_ws of CASE markers — identical
    // semantics in both engines; fixed check order
    "q161_quarantine" ->
      """WITH r AS (
        |  SELECT event_id, concat_ws(',',
        |    CASE WHEN value IS NULL THEN 'value_null' END,
        |    CASE WHEN value > 400 THEN 'value_gt400' END,
        |    CASE WHEN event_type NOT IN ('click','signup','error','view','purchase')
        |      THEN 'type_unknown' END) AS reasons
        |  FROM events)
        |SELECT event_id,
        |  CASE WHEN reasons = '' THEN 'valid' ELSE 'quarantined' END AS verdict,
        |  CASE WHEN reasons = '' THEN 'ok' ELSE reasons END AS reasons
        |FROM r ORDER BY event_id""".stripMargin,
    // q162: the verified funnel CTE joined to q79's verified NLL
    // chain (disjoint CTE names — lever (d)); shares are raw
    // quotients, avg_nll = q79's rule (DECIMAL(18,6)-rescaled sum
    // before the double cast — q104's wide-decimal rule — then a
    // raw quotient of exact operands, levers c/k)
    "q162_dataset_card" ->
      (FunnelCte +
      """,t9 AS (
        |  SELECT doc_id, source, string_split_regex(trim(nfc_normalize(text)), '\s+') AS toks FROM documents),
        |g9 AS (
        |  SELECT doc_id, toks[CAST(i AS BIGINT)] || ' ' || toks[CAST(i AS BIGINT)+1] AS g,
        |    toks[CAST(i AS BIGINT)] AS w1
        |  FROM t9, UNNEST(range(1, len(toks))) AS u(i)),
        |c29 AS (SELECT g, COUNT(*) AS c2 FROM g9 GROUP BY g),
        |c19 AS (SELECT w1, COUNT(*) AS c1 FROM g9 GROUP BY w1),
        |v9 AS (SELECT COUNT(DISTINCT tok9) AS v FROM (SELECT unnest(toks) AS tok9 FROM t9)),
        |nll9 AS (
        |  SELECT g9.doc_id,
        |    CAST(round(-log2(CAST(c29.c2 + 1 AS DOUBLE) / (c19.c1 + v9.v)), 6) AS DECIMAL(18,6)) AS nll
        |  FROM g9 JOIN c29 ON g9.g = c29.g JOIN c19 ON g9.w1 = c19.w1, v9),
        |pd9 AS (
        |  SELECT doc_id,
        |    CAST(round(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS DECIMAL(18,6)) AS doc_nll
        |  FROM nll9 GROUP BY 1)
        |SELECT f4.source,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  COUNT(DISTINCT lang) AS n_langs,
        |  CAST(SUM(CASE WHEN dedup_keep THEN 0 ELSE 1 END) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE) AS dup_share,
        |  CAST(SUM(CASE WHEN quality THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE) AS quality_rate,
        |  CAST(SUM(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE) AS contam_share,
        |  CAST(CAST(SUM(doc_nll) AS DECIMAL(18,6)) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE) AS avg_nll
        |FROM f4 JOIN pd9 ON f4.doc_id = pd9.doc_id
        |GROUP BY f4.source ORDER BY f4.source""".stripMargin),
    // q171: order-invariant checksum = exact HUGEINT/DECIMAL(38,0)
    // sum of q26's verified poly-31 fingerprints, reduced mod the
    // operator's interpolated modulus; ROLLUP leaves + total
    "q171_release_manifest" ->
      s"""WITH f AS (
        |  SELECT source, doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(list_filter(string_split(text, ''), fc -> fc != ''), c -> CAST(ord(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % ${graft.plans.RollingHash.Mod}) AS fp,
        |    CAST(len(string_split_regex(trim(nfc_normalize(text)), '\\s+')) AS BIGINT) AS tok
        |  FROM documents)
        |SELECT COALESCE(source, '__total__') AS source_key,
        |  CAST(GROUPING(source) AS BIGINT) AS is_total,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(tok) AS BIGINT) AS n_tokens,
        |  CAST(SUM(fp) % ${CorpusOps.ChecksumMod} AS BIGINT) AS content_checksum,
        |  COUNT(DISTINCT fp) AS n_distinct_fp
        |FROM f GROUP BY ROLLUP(source)
        |ORDER BY is_total, source_key""".stripMargin,
    // q163: q143's verified med/mad fragment + per-event flag; the
    // 3·mad compare is exact IEEE on identical operands
    "q163_anomaly_flags" ->
      """WITH e AS (SELECT event_type, event_id, value FROM events),
        |m1 AS (
        |  SELECT event_type, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM e),
        |med AS (
        |  SELECT event_type, (MIN(value) + MAX(value)) / 2 AS med
        |  FROM m1 WHERE rn = (cnt + 1) // 2 OR rn = cnt // 2 + 1
        |  GROUP BY event_type),
        |d AS (
        |  SELECT e.event_type, e.event_id, med.med,
        |    abs(e.value - med.med) AS dev
        |  FROM e JOIN med USING (event_type)),
        |m2 AS (
        |  SELECT event_type, event_id, dev,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM d),
        |mad AS (
        |  SELECT event_type, (MIN(dev) + MAX(dev)) / 2 AS mad
        |  FROM m2 WHERE rn = (cnt + 1) // 2 OR rn = cnt // 2 + 1
        |  GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.value,
        |  abs(e.value - med.med) > 3.0 * mad.mad AS is_outlier
        |FROM e JOIN med USING (event_type) JOIN mad USING (event_type)
        |ORDER BY e.event_id""".stripMargin,
    // q164: the as-of-commit-2 state derived directly from the raw
    // corpus with the store's own %-rules (deletes win at v2, the v3
    // restore invisible); md5 hex byte-identical
    "q164_time_travel" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 13 = 1 THEN 2 ELSE 1 END AS since_version,
        |  md5(CASE WHEN doc_id % 13 = 1 THEN text || ' rev' ELSE text END) AS fp
        |FROM documents WHERE doc_id % 17 <> 3
        |ORDER BY doc_id""".stripMargin,
    // q165: both as-of states derived from the raw corpus with the
    // store's %-rules; v1 = base, v3 = restore+revisions; all keys
    // survive, so the feed is changed/unchanged only
    "q165_version_diff" ->
      """WITH v1 AS (SELECT doc_id, md5(text) AS old_fp FROM documents),
        |v3 AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 17 = 3 THEN text || ' back'
        |             WHEN doc_id % 13 = 1 THEN text || ' rev'
        |             ELSE text END) AS new_fp
        |  FROM documents)
        |SELECT v1.doc_id,
        |  CASE WHEN old_fp <> new_fp THEN 'changed' ELSE 'unchanged' END AS status,
        |  old_fp, new_fp
        |FROM v1 JOIN v3 USING (doc_id)
        |ORDER BY v1.doc_id""".stripMargin,
    // q168: the post-vacuum as-of-3 state derived from the raw
    // corpus with the store's %-rules — since_version must be each
    // row's TRUE original commit (the checkpoint preserved
    // src_version), so a vacuum that forgot provenance fails the gate
    "q168_vacuum_read" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 17 = 3 THEN 3
        |       WHEN doc_id % 13 = 1 THEN 2 ELSE 1 END AS since_version,
        |  md5(CASE WHEN doc_id % 17 = 3 THEN text || ' back'
        |           WHEN doc_id % 13 = 1 THEN text || ' rev'
        |           ELSE text END) AS fp
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    // q181: the shared generated chunk CTE + the interpolated forget
    // rule; keeper = min struct carrying source; vanished vs
    // re-elected split on whether any survivor copy remains
    "q181_index_forget" ->
      ("WITH " + CorpusOps.cdcChunkCteSql("documents", "text", "") +
      s""",
        |chs AS (
        |  SELECT ch.doc_id, d.source, ch.chunk_idx, ch.n_tok, ch.fp,
        |    ch.doc_id % ${graft.sources.Sources.ForgetMod} = ${graft.sources.Sources.ForgetRem} AS fg
        |  FROM ch JOIN (SELECT doc_id, source FROM documents) d USING (doc_id)),
        |dr AS (
        |  SELECT source, COUNT(*) AS chunks_dropped,
        |    CAST(SUM(n_tok) AS BIGINT) AS tokens_dropped
        |  FROM chs WHERE fg GROUP BY source),
        |fpx AS (
        |  SELECT fp,
        |    MIN({'doc_id': doc_id, 'chunk_idx': chunk_idx, 'source': source}) AS ok,
        |    COUNT(*) AS n_total,
        |    SUM(CASE WHEN fg THEN 1 ELSE 0 END) AS n_fg
        |  FROM chs GROUP BY fp),
        |cls AS (
        |  SELECT (ok).source AS source,
        |    CAST(SUM(CASE WHEN n_fg = n_total THEN 1 ELSE 0 END) AS BIGINT) AS fps_vanished,
        |    CAST(SUM(CASE WHEN n_fg < n_total THEN 1 ELSE 0 END) AS BIGINT) AS keepers_reelected
        |  FROM fpx
        |  WHERE (ok).doc_id % ${graft.sources.Sources.ForgetMod} = ${graft.sources.Sources.ForgetRem}
        |  GROUP BY 1)
        |SELECT COALESCE(dr.source, cls.source) AS source,
        |  CAST(COALESCE(chunks_dropped, 0) AS BIGINT) AS chunks_dropped,
        |  CAST(COALESCE(tokens_dropped, 0) AS BIGINT) AS tokens_dropped,
        |  COALESCE(fps_vanished, 0) AS fps_vanished,
        |  COALESCE(keepers_reelected, 0) AS keepers_reelected
        |FROM dr FULL JOIN cls ON dr.source = cls.source
        |ORDER BY source""".stripMargin),
    // q182: planting rule mirrored verbatim (products reduced mod m
    // before multiplying — the sampleHash overflow rule), counts via
    // regexp_extract_all lengths, redaction via the same ORDERED
    // regexp_replace chain (DuckDB needs the 'g' flag — it replaces
    // the first match only by default; Spark replaces all), redacted
    // bytes value-checked through the q171 checksum discipline
    "q182_pii_scrub" ->
      s"""WITH planted AS (
        |  SELECT doc_id, source,
        |    text ||
        |    CASE WHEN doc_id % ${CorpusOps.PiiEmailMod} = 0
        |      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % ${CorpusOps.PiiIpMod} = 0
        |      THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
        |        CAST(((doc_id % 256) * 7) % 256 AS VARCHAR)
        |      ELSE '' END ||
        |    CASE WHEN doc_id % ${CorpusOps.PiiPhoneMod} = 0
        |      THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
        |        '-' || lpad(CAST(((doc_id % 10000) * 3) % 10000 AS VARCHAR), 4, '0')
        |      ELSE '' END AS text
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, source, text,
        |    len(regexp_extract_all(text, '${CorpusOps.PiiEmailRe}')) AS n_email,
        |    len(regexp_extract_all(text, '${CorpusOps.PiiIpv4Re}')) AS n_ipv4,
        |    len(regexp_extract_all(text, '${CorpusOps.PiiPhoneRe}')) AS n_phone,
        |    regexp_replace(regexp_replace(regexp_replace(text,
        |      '${CorpusOps.PiiEmailRe}', '<EMAIL>', 'g'),
        |      '${CorpusOps.PiiIpv4Re}', '<IP>', 'g'),
        |      '${CorpusOps.PiiPhoneRe}', '<PHONE>', 'g') AS scrubbed
        |  FROM planted),
        |f AS (
        |  SELECT source, n_email, n_ipv4, n_phone,
        |    len(text) - len(scrubbed) AS chars_removed,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(list_filter(string_split(scrubbed, ''), fc -> fc != ''), c -> CAST(ord(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % ${graft.plans.RollingHash.Mod}) AS fp
        |  FROM s)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN n_email + n_ipv4 + n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(SUM(n_email) AS BIGINT) AS n_email,
        |  CAST(SUM(n_ipv4) AS BIGINT) AS n_ipv4,
        |  CAST(SUM(n_phone) AS BIGINT) AS n_phone,
        |  CAST(SUM(chars_removed) AS BIGINT) AS chars_removed,
        |  CAST(SUM(fp) % ${graft.plans.RollingHash.Mod} AS BIGINT) AS scrub_checksum
        |FROM f GROUP BY source ORDER BY source""".stripMargin,
    // q183: the oracle STATES the head via a rank window (lever (h):
    // the Spark plan selects it with the bounded TopKByKey heap —
    // value equality is what the gate checks); tie order inside an
    // equal-count block differs by engine but the (rank, count)
    // multiset the OLS sums consume is tie-invariant. x/y rounded
    // ln's as DECIMAL(18,6) (lever (i)) scaled ×1e6 into exact int64
    // fixed-point (lever (m)); the n·Σxy − Σx·Σy combination runs
    // entirely in BIGINT (a downscaling decimal cast is NOT portable:
    // DuckDB truncates DECIMAL(30,12)→(18,6), Spark rounds HALF_UP —
    // split live at sf0.01); slope = one raw IEEE division of
    // identically-rounded int64→double casts (lever (c))
    "q183_zipf_slope" ->
      s"""WITH t AS (
        |  SELECT source, unnest(string_split_regex(trim(nfc_normalize(text)), '\\s+')) AS term
        |  FROM documents),
        |c AS (SELECT source, term, COUNT(*) AS cnt FROM t GROUP BY 1, 2),
        |r AS (
        |  SELECT source, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY cnt DESC, term) AS rk
        |  FROM c),
        |h AS (
        |  SELECT source,
        |    CAST(CAST(round(ln(CAST(rk AS DOUBLE)), 6) AS DECIMAL(18,6))
        |      * 1000000 AS BIGINT) AS x6,
        |    CAST(CAST(round(ln(CAST(cnt AS DOUBLE)), 6) AS DECIMAL(18,6))
        |      * 1000000 AS BIGINT) AS y6
        |  FROM r WHERE rk <= ${TextOps.ZipfTopK}),
        |a AS (
        |  SELECT source, COUNT(*) AS n,
        |    CAST(SUM(x6) AS BIGINT) AS sx,
        |    CAST(SUM(y6) AS BIGINT) AS sy,
        |    CAST(SUM(x6*y6) AS BIGINT) AS sxy,
        |    CAST(SUM(x6*x6) AS BIGINT) AS sxx
        |  FROM h GROUP BY 1),
        |b AS (
        |  SELECT source, n, n * sxy - sx * sy AS num, n * sxx - sx * sx AS den
        |  FROM a)
        |SELECT source, CAST(n AS BIGINT) AS n_terms,
        |  CASE WHEN den = 0 THEN NULL
        |    ELSE CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS zipf_slope
        |FROM b ORDER BY source""".stripMargin,
    // q184: gram CTEs are the q152 fragment at orders 1/2/3 (1-based
    // inclusive slices, range(1, len-k+2) empty for short docs on
    // both sides); TTR = raw quotient of exact longs (lever c)
    "q184_distinct_ngrams" ->
      s"""WITH t AS (
        |  SELECT source, string_split_regex(trim(nfc_normalize(text)), '\\s+') AS toks
        |  FROM documents),
        |g1 AS (
        |  SELECT source, 1 AS n, toks[CAST(i AS BIGINT)] AS g
        |  FROM t, UNNEST(range(1, len(toks) + 1)) AS u(i)),
        |g2 AS (
        |  SELECT source, 2 AS n,
        |    toks[CAST(i AS BIGINT)] || ' ' || toks[CAST(i AS BIGINT)+1] AS g
        |  FROM t, UNNEST(range(1, len(toks))) AS u(i)),
        |g3 AS (
        |  SELECT source, 3 AS n,
        |    toks[CAST(i AS BIGINT)] || ' ' || toks[CAST(i AS BIGINT)+1] || ' ' ||
        |    toks[CAST(i AS BIGINT)+2] AS g
        |  FROM t, UNNEST(range(1, len(toks) - 1)) AS u(i)),
        |u AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2 UNION ALL SELECT * FROM g3),
        |cg AS (SELECT source, n, g, COUNT(*) AS c FROM u GROUP BY 1, 2, 3)
        |SELECT source, n, CAST(SUM(c) AS BIGINT) AS n_grams,
        |  COUNT(*) AS n_types,
        |  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS ttr
        |FROM cg GROUP BY 1, 2 ORDER BY source, n""".stripMargin,
    // q185: the q84 window grid (same generated fragment), distinct
    // per (source, digest), self-joined on the digest; fractions are
    // raw IEEE divisions of exact longs (lever (c))
    "q185_source_overlap" ->
      s"""WITH ${CorpusOps.windowCteSql},
        |c AS (SELECT DISTINCT source, wh FROM w),
        |n AS (SELECT source, COUNT(*) AS n_win FROM c GROUP BY 1),
        |sh AS (
        |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared_windows
        |  FROM c a JOIN c b ON a.wh = b.wh AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, shared_windows,
        |  na.n_win AS windows_a, nb.n_win AS windows_b,
        |  CAST(shared_windows AS DOUBLE) / CAST(na.n_win AS DOUBLE) AS frac_a,
        |  CAST(shared_windows AS DOUBLE) / CAST(nb.n_win AS DOUBLE) AS frac_b
        |FROM sh JOIN n na ON sh.src_a = na.source
        |        JOIN n nb ON sh.src_b = nb.source
        |ORDER BY src_a, src_b""".stripMargin,
    // q186: generated over the 64 dims from the operator constants
    // (floor fixed-point rule, integer centroid, HUGEINT τ-compare)
    "q186_embed_outliers" -> SimilaritySearch.embedOutliersOracleSql,
    // q189: three verified granularity fragments composed (lever (d))
    "q189_dedup_savings" -> CorpusOps.dedupSavingsOracleSql,
    // q190: q186's generated fragments + the q86 residue split; LEFT
    // JOIN keeps the fail-closed rule
    "q190_embed_admit" -> SimilaritySearch.embedAdmitOracleSql,
    // q192: the shared fragments instantiated for both residue sides
    "q192_embed_drift" -> SimilaritySearch.embedDriftOracleSql,
    // q193: planted-unicode normalization; codepoint checksum
    "q193_unicode_norm" -> TextOps.unicodeNormOracleSql,
    // q194: row-local langid argmax + mismatch audit; oracle
    // generated from the SAME LangProfiles constant as q25's
    "q194_lang_mismatch" -> TextOps.langMismatchOracleSql,
    // q195: generated from TruncDims + q40's verified cosine fold
    "q195_dim_truncation" -> SimilaritySearch.dimTruncationOracleSql,
    // q196: x^0.75 as sqrt(sqrt(x^3)) — correctly-rounded IEEE chain,
    // no libm pow; weights fixed-point-quantized before any sum
    "q196_neg_sampling" -> TextOps.negSamplingOracleSql,
    // q197: exact-int CDFs, sup-norm over identical doubles
    "q197_token_len_ks" -> TextOps.tokenLenKsOracleSql,
    // q198: anchor rule audited via the same hash family + 3σ bound
    "q198_anchor_health" -> CorpusOps.anchorHealthOracleSql,
    // q199: the q33 simhash family promoted onto the gate (poly dual
    // fold + bitstring keying; generated from PolySimHash constants)
    "q199_simhash_exact" -> Dedup.simhashExactOracleSql,
    // q200: burst = tf/df exact-int division; global head stated as
    // ORDER BY ... LIMIT (Spark plans TakeOrderedAndProject — same
    // values, bounded heaps instead of a sort)
    "q200_term_burstiness" -> TextOps.termBurstinessOracleSql,
    // q201: integer epoch boundary from interpolated constants;
    // LEFT-JOIN cold detection (null-safe, mirrors the Spark join)
    "q201_temporal_split" -> WordItemApp.temporalSplitOracleSql,
    // q202: identical keyed lag window + hour bucketing; flag rules
    // interpolated
    "q202_bot_audit" -> FrameOps.botAuditOracleSql,
    // q203: the four verified audit fragments (q72/q194/q197/q198)
    // composed VERBATIM as derived tables + interpolated thresholds
    "q203_source_scorecard" -> CorpusOps.sourceScorecardOracleSql,
    // q205: q31's verified pair fragment + generated grid (lever ff)
    "q205_dedup_threshold_curve" -> Dedup.dedupThresholdCurveOracleSql,
    // q206: per-order CTEs generated from ContamNGrid with q76's
    // gram-construction fragment
    "q206_contam_sensitivity" -> CorpusOps.contamSensitivityOracleSql,
    // q207: the q186 generated fragments + a global centroid stage
    // re-rolled from the per-label sums
    "q207_embed_separation" -> SimilaritySearch.embedSeparationOracleSql,
    // q208: live states re-derived from the raw corpus with the
    // store's %-rules (q168's pattern); deltas via LAG over 3 rows
    "q208_store_growth" -> graft.sources.Sources.storeGrowthOracleSql,
    "q235_store_quality_drift" -> graft.sources.Sources.storeQualityDriftOracleSql,
    // q209/q210: one shared labeled-kNN CTE front (q40's verified
    // cosine fold + labels); rank stated as windows (lever (h))
    "q209_hard_negatives" -> SimilaritySearch.hardNegativesOracleSql,
    "q210_label_vote" -> SimilaritySearch.labelVoteOracleSql,
    // q211: shared per-doc gopher chain + generated axis unions; the
    // deterministic sample stated as a hash rank window (lever (h))
    "q211_review_queue" -> TextOps.reviewQueueOracleSql,
    // q228: per-n UNNEST chains + line/paragraph splits generated from
    // the SAME threshold constants as the Spark predicate (lever (jj));
    // the DuckDB hash value-checks the RepExprs kernel (lever (ii))
    "q228_repetition_battery" -> TextOps.repetitionBatteryOracleSql,
    // q229: q118's generated merge chain (ONE shared producer, lever
    // (t)) closed per (source, lang) with byte mass — fertility as a
    // raw quotient of exact longs
    "q229_tokenizer_fertility" -> TextOps.tokenizerFertilityOracleSql,
    "q232_bpe_merge_curve" -> TextOps.bpeMergeCurveOracleSql,
    "q233_temperature_mix" -> CorpusOps.temperatureMixOracleSql,
    "q236_partition_plan" -> CorpusOps.partitionPlanOracleSql,
    "q237_skew_audit" -> FrameOps.skewAuditOracleSql,
    // q212: generated from PackGrid — per-level integer chunk sums in
    // ONE per-source agg, grid union over the aggregated table;
    // efficiency = raw IEEE quotient of exact longs (lever (c))
    "q212_pack_efficiency" -> CorpusOps.packEfficiencyOracleSql,
    // q213: q111's verified weight chain + q30's verified keep-first
    // rule composed; epochs = raw IEEE quotient of exact longs, cap
    // verdicts pure int64 (levers (c)/(ff))
    "q213_epoch_plan" -> CorpusOps.epochPlanOracleSql,
    // q214: q76's verified gram fragment, rollup flipped to the eval
    // side; coverage = raw IEEE quotient of exact longs (lever (c))
    "q214_eval_decontam" -> CorpusOps.evalDecontamOracleSql,
    // q215: the gopher doc chain + the q95 bucket chain composed as
    // derived tables (lever (ff)); label rule + hash sample window
    // interpolated from the operator's constants
    "q215_quality_trainset" -> CorpusOps.qualityTrainsetOracleSql,
    // q216: the q209/q210 shared labeled-kNN fragment; argmax stated
    // as a rank window (lever (h)); τ compare exact on rounded
    // cosines (lever (c))
    "q216_embed_contam" -> SimilaritySearch.embedContamOracleSql,
    // q217: q112's verified admission chain + the shared q95 bucket
    // chain as derived tables (lever (ff)); share normalizer = a
    // window over the aggregated rows (lever (g))
    "q217_mix_quality" -> CorpusOps.mixQualityOracleSql,
    // q218: the shared labeled-kNN fragment, argmax flipped to the
    // vector side; the codegen kernel replays the declarative chain
    // (casts, fold order, HALF_UP round) so the gate value-checks it
    "q218_leak_gate" -> SimilaritySearch.leakGateOracleSql,
    // q219: q31's verified pair fragment + generated band CASE; the
    // deterministic sample stated as a hash rank window (lever (h))
    "q219_dedup_review" -> Dedup.dedupReviewQueueOracleSql,
    // q220: the shared gopher signal chain with BOTH bound sets
    // interpolated from the one predicate def (lever (t))
    "q220_rule_impact" -> TextOps.ruleChangeImpactOracleSql,
    // q221: the shared SQ8 reconstruction prefix + the lever-(w)
    // quantized error fold — the DuckDB hash value-checks the kernel
    "q221_sq8_distortion" -> SimilaritySearch.sq8DistortionOracleSql,
    // q224: the shared q151 cumsum chain + grid sums generated from
    // BudgetGrid — the whole curve from one pass (lever (gg))
    "q224_budget_curve" -> CorpusOps.budgetCurveOracleSql,
    // q187: generated from the sampling-hash family + clamps; the
    // oracle states the sample as a rank window (lever (h))
    "q187_signal_corr" -> TextOps.signalCorrOracleSql,
    // q180: both sides of the v1→v2 transition derived from the raw
    // corpus with the store's %-rules (q165's pattern), re-chunked
    // through the SAME generated CTE as q175/q176 (prefixed twice),
    // multiset reuse = Σ LEAST(c_old, c_new) per (doc, fp)
    "q180_chunk_delta" ->
      ("""WITH chg AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 17 = 3 THEN 'delete' ELSE 'revise' END AS kind,
        |    text AS old_text,
        |    CASE WHEN doc_id % 17 <> 3 THEN text || ' rev' END AS new_text
        |  FROM documents
        |  WHERE doc_id % 17 = 3 OR (doc_id % 13 = 1 AND doc_id % 17 <> 3)),
        |""".stripMargin +
        CorpusOps.cdcChunkCteSql("chg", "old_text", "o") + ",\n" +
        CorpusOps.cdcChunkCteSql(
          "(SELECT doc_id, new_text FROM chg WHERE new_text IS NOT NULL) nsrc",
          "new_text", "n") +
        """,
        |ofp AS (SELECT doc_id, fp, COUNT(*) AS c_old FROM och GROUP BY 1, 2),
        |nfp AS (SELECT doc_id, fp, COUNT(*) AS c_new FROM nch GROUP BY 1, 2),
        |m AS (
        |  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |    COALESCE(c_old, 0) AS c_old, COALESCE(c_new, 0) AS c_new
        |  FROM ofp o FULL JOIN nfp n ON o.doc_id = n.doc_id AND o.fp = n.fp),
        |pd AS (
        |  SELECT doc_id, SUM(c_old) AS n_old, SUM(c_new) AS n_new,
        |    SUM(LEAST(c_old, c_new)) AS reused
        |  FROM m GROUP BY doc_id)
        |SELECT chg.kind, COUNT(*) AS n_docs,
        |  CAST(SUM(COALESCE(n_old, 0) - COALESCE(reused, 0)) AS BIGINT) AS chunks_removed,
        |  CAST(SUM(COALESCE(n_new, 0) - COALESCE(reused, 0)) AS BIGINT) AS chunks_added,
        |  CAST(SUM(COALESCE(reused, 0)) AS BIGINT) AS chunks_reused
        |FROM chg LEFT JOIN pd USING (doc_id)
        |GROUP BY chg.kind ORDER BY chg.kind""".stripMargin),
    // q174: every audit number derived from the raw corpus + the
    // store's deterministic commit rules (commit 2 = deletes for the
    // %17 set + revisions for the %13 set, commit 3 = restores);
    // forget rule interpolated. n_forgotten_visible is asserted 0 by
    // the gate — the Spark side COMPUTES it from the erased store,
    // the oracle states the Art. 17 requirement.
    "q174_forget_audit" ->
      s"""WITH f AS (
        |  SELECT doc_id,
        |    doc_id % ${graft.sources.Sources.ForgetMod} = ${graft.sources.Sources.ForgetRem} AS fg,
        |    doc_id % 17 = 3 AS del,
        |    (doc_id % 17 <> 3 AND doc_id % 13 = 1) AS rev
        |  FROM documents),
        |c AS (
        |  SELECT 1 AS version,
        |    COUNT(*) FILTER (fg) AS n_purged,
        |    COUNT(*) FILTER (NOT fg) AS n_retained FROM f
        |  UNION ALL
        |  SELECT 2, COUNT(*) FILTER ((del OR rev) AND fg),
        |    COUNT(*) FILTER ((del OR rev) AND NOT fg) FROM f
        |  UNION ALL
        |  SELECT 3, COUNT(*) FILTER (del AND fg),
        |    COUNT(*) FILTER (del AND NOT fg) FROM f),
        |l AS (
        |  SELECT 1 AS version, COUNT(*) FILTER (NOT fg) AS n_live FROM f
        |  UNION ALL
        |  SELECT 2, COUNT(*) FILTER (NOT fg AND NOT del) FROM f
        |  UNION ALL
        |  SELECT 3, COUNT(*) FILTER (NOT fg) FROM f)
        |SELECT CAST(c.version AS BIGINT) AS version,
        |  CAST(c.n_purged AS BIGINT) AS n_purged,
        |  CAST(c.n_retained AS BIGINT) AS n_retained,
        |  CAST(l.n_live AS BIGINT) AS n_live,
        |  CAST(0 AS BIGINT) AS n_forgotten_visible
        |FROM c JOIN l USING (version)
        |ORDER BY version""".stripMargin,
    "q94_boilerplate" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(nfc_normalize(text)), '\s+')) AS tok,
        |         generate_subscripts(string_split_regex(trim(nfc_normalize(text)), '\s+'), 1) AS ord
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, tok || ' ' || lead1 || ' ' || lead2 AS g FROM (
        |    SELECT doc_id, tok,
        |      LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS lead1,
        |      LEAD(tok, 2) OVER (PARTITION BY doc_id ORDER BY ord) AS lead2
        |    FROM tok) WHERE lead2 IS NOT NULL),
        |boiler AS (
        |  SELECT g FROM (SELECT g, COUNT(*) AS df FROM g GROUP BY g) WHERE df >= 5),
        |hits AS (SELECT doc_id, COUNT(*) AS n_boiler FROM g JOIN boiler USING (g) GROUP BY doc_id),
        |ng AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY doc_id)
        |SELECT doc_id, n_grams, n_boiler, boiler_frac,
        |  CAST(CASE WHEN boiler_frac < 0.5 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM (
        |  SELECT d.doc_id,
        |    CAST(COALESCE(ng.n_grams, 0) AS BIGINT) AS n_grams,
        |    CAST(COALESCE(h.n_boiler, 0) AS BIGINT) AS n_boiler,
        |    CASE WHEN COALESCE(ng.n_grams, 0) = 0 THEN 0.0
        |         ELSE round(CAST(COALESCE(h.n_boiler, 0) AS DOUBLE) / ng.n_grams, 6)
        |    END AS boiler_frac
        |  FROM documents d
        |  LEFT JOIN ng ON d.doc_id = ng.doc_id
        |  LEFT JOIN hits h ON d.doc_id = h.doc_id)
        |ORDER BY doc_id""".stripMargin,
    // q95: CCNet head/middle/tail — pd is q79's verified doc_nll
    // fragment verbatim; percent_rank is (rank-1)/(n-1) as the same
    // IEEE double in both engines, so the raw tercile compare is exact.
    "q95_ccnet_buckets" ->
      s"""WITH ${CorpusOps.nllDocCteSql},
        |r AS (
        |  SELECT doc_id, source, doc_nll,
        |    percent_rank() OVER (PARTITION BY source ORDER BY doc_nll ASC, doc_id ASC) AS pr
        |  FROM pd)
        |SELECT doc_id, source, round(CAST(doc_nll AS DOUBLE), 6) AS doc_nll,
        |  CASE WHEN pr <= 0.3 THEN 'head' WHEN pr <= 0.7 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM r ORDER BY doc_id""".stripMargin,
    // q178: q95's verified bucket chain phased 1/2/3 + the shared
    // sampling-hash shard + a (3 × shards)-bounded rollup;
    // shard_share = exact ints through one IEEE division over a
    // window on the AGGREGATED table (levers (c)/(g))
    "q178_curriculum" ->
      s"""WITH ${CorpusOps.nllDocCteSql},
        |r AS (
        |  SELECT doc_id,
        |    percent_rank() OVER (PARTITION BY source ORDER BY doc_nll ASC, doc_id ASC) AS pr
        |  FROM pd),
        |ph AS (
        |  SELECT doc_id,
        |    CASE WHEN pr <= 0.3 THEN 1 WHEN pr <= 0.7 THEN 2 ELSE 3 END AS phase
        |  FROM r),
        |tk AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok FROM t),
        |pl AS (
        |  SELECT phase,
        |    ((doc_id % ${CorpusOps.SampleHashP} * ${CorpusOps.SampleHashC}) % ${CorpusOps.SampleHashP})
        |      % ${CorpusOps.CurriculumShards} AS shard,
        |    COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |  FROM ph JOIN tk USING (doc_id) GROUP BY 1, 2)
        |SELECT CAST(phase AS BIGINT) AS phase, CAST(shard AS BIGINT) AS shard,
        |  n_docs, n_tokens,
        |  CAST(n_tokens AS DOUBLE) /
        |    CAST(SUM(n_tokens) OVER (PARTITION BY phase) AS DOUBLE) AS shard_share
        |FROM pl ORDER BY phase, shard""".stripMargin,
    // q96: the batch split is q86's membership rule; the store LM is
    // q79's model restricted to store docs; store thresholds use q95's
    // percent_rank form; batch scoring adds the OOV left joins.
    // Threshold compares are DECIMAL(18,6) = DECIMAL(18,6), exact in
    // both engines.
    "q96_ccnet_admission" ->
      s"""WITH t AS (
        |  SELECT doc_id, source, string_split_regex(trim(nfc_normalize(text)), '\\s+') AS toks,
        |    ((doc_id % ${CorpusOps.SampleHashP} * ${CorpusOps.SampleHashC}) % ${CorpusOps.SampleHashP}) % 10 = 3 AS is_batch
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source, is_batch,
        |    toks[CAST(i AS BIGINT)] || ' ' || toks[CAST(i AS BIGINT)+1] AS g,
        |    toks[CAST(i AS BIGINT)] AS w1
        |  FROM t, UNNEST(range(1, len(toks))) AS u(i)),
        |c2 AS (SELECT g, COUNT(*) AS c2 FROM g WHERE NOT is_batch GROUP BY g),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM g WHERE NOT is_batch GROUP BY w1),
        |v AS (SELECT COUNT(DISTINCT tok) AS v
        |  FROM (SELECT unnest(toks) AS tok FROM t WHERE NOT is_batch)),
        |snll AS (
        |  SELECT g.doc_id, g.source,
        |    CAST(round(-log2(CAST(c2.c2 + 1 AS DOUBLE) / (c1.c1 + v.v)), 6) AS DECIMAL(18,6)) AS nll
        |  FROM g JOIN c2 ON g.g = c2.g JOIN c1 ON g.w1 = c1.w1, v
        |  WHERE NOT g.is_batch),
        |spd AS (
        |  SELECT doc_id, source,
        |    CAST(round(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS DECIMAL(18,6)) AS doc_nll
        |  FROM snll GROUP BY 1, 2),
        |r AS (
        |  SELECT doc_id, source, doc_nll,
        |    percent_rank() OVER (PARTITION BY source ORDER BY doc_nll ASC, doc_id ASC) AS pr
        |  FROM spd),
        |th AS (
        |  SELECT source,
        |    MAX(CASE WHEN pr <= 0.3 THEN doc_nll END) AS t30,
        |    MAX(CASE WHEN pr <= 0.7 THEN doc_nll END) AS t70
        |  FROM r GROUP BY source),
        |bnll AS (
        |  SELECT g.doc_id, g.source,
        |    CAST(round(-log2(CAST(COALESCE(c2.c2, 0) + 1 AS DOUBLE) /
        |      (COALESCE(c1.c1, 0) + v.v)), 6) AS DECIMAL(18,6)) AS nll
        |  FROM g LEFT JOIN c2 ON g.g = c2.g LEFT JOIN c1 ON g.w1 = c1.w1, v
        |  WHERE g.is_batch),
        |bpd AS (
        |  SELECT doc_id, source,
        |    CAST(round(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS DECIMAL(18,6)) AS doc_nll
        |  FROM bnll GROUP BY 1, 2)
        |SELECT b.doc_id, b.source, round(CAST(b.doc_nll AS DOUBLE), 6) AS doc_nll,
        |  CASE WHEN b.doc_nll <= th.t30 THEN 'head'
        |       WHEN b.doc_nll <= th.t70 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM bpd b JOIN th ON b.source = th.source
        |ORDER BY b.doc_id""".stripMargin,
    // q97 is rows-only (Misra–Gries eviction is arrival-order
    // dependent); its lower-bound and heavy-hitter-recall guarantees
    // are spec-asserted against exact counts.
    "q98_stable_ids" ->
      """SELECT doc_id, source,
        |  CAST(ROW_NUMBER() OVER (ORDER BY source, doc_id) AS BIGINT) AS new_id
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q99: the bloom prefilter has no false negatives and the exact
    // join decides, so the oracle is just q86's exact-digest stage —
    // the probabilistic structure is invisible in the output.
    "q99_bloom_dedup" ->
      s"""WITH b AS (
        |  SELECT doc_id, md5(regexp_replace(lower(trim(nfc_normalize(text))), '\\s+', ' ', 'g')) AS h
        |  FROM documents WHERE ((doc_id % ${CorpusOps.SampleHashP} * ${CorpusOps.SampleHashC}) % ${CorpusOps.SampleHashP}) % 10 = 3),
        |s AS (
        |  SELECT doc_id, md5(regexp_replace(lower(trim(nfc_normalize(text))), '\\s+', ' ', 'g')) AS h
        |  FROM documents WHERE ((doc_id % ${CorpusOps.SampleHashP} * ${CorpusOps.SampleHashC}) % ${CorpusOps.SampleHashP}) % 10 <> 3),
        |m AS (SELECT b.doc_id, MIN(s.doc_id) AS ref FROM b JOIN s ON b.h = s.h GROUP BY 1)
        |SELECT b.doc_id,
        |  CASE WHEN m.ref IS NOT NULL THEN 'exact_dup' ELSE 'new' END AS decision,
        |  CAST(COALESCE(m.ref, -1) AS BIGINT) AS ref_id
        |FROM b LEFT JOIN m ON b.doc_id = m.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    "q104_rollup" ->
      """SELECT
        |  CAST(GROUPING(l_returnflag) * 2 +
        |       GROUPING(l_linestatus) AS BIGINT) AS lvl,
        |  COALESCE(l_returnflag, 'ALL') AS ret,
        |  COALESCE(l_linestatus, 'ALL') AS status,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |    (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_rev
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY lvl, ret, status""".stripMargin,
    "q105_pivot" ->
      """SELECT source,
        |  CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS n_de,
        |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
        |  CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS n_es,
        |  CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_fr,
        |  CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS n_zh
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // q106: the three per-doc rule fragments are verbatim from their
    // verified oracles (q72 gopher, q94 boilerplate, q83 contamination),
    // then INTERSECT/EXCEPT mirror the Spark set operators.
    "q106_set_algebra" ->
      s"""WITH t AS (
        |  SELECT doc_id, source, string_split_regex(trim(nfc_normalize(text)), '\\s+') AS toks FROM documents),
        |d AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(toks, w -> len(w))) AS DOUBLE) / len(toks) AS mean_wlen,
        |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
        |    len(list_filter(['the','a','of','and','to','in','is'], s -> list_contains(toks, s))) AS n_stop_kinds
        |  FROM t),
        |qual AS (
        |  SELECT doc_id FROM d
        |  WHERE n_words >= 50 AND n_words <= 100000
        |    AND mean_wlen >= 3 AND mean_wlen <= 10
        |    AND ttr >= 0.2 AND n_stop_kinds >= 2),
        |g3 AS (
        |  SELECT DISTINCT doc_id, tok || ' ' || lead1 || ' ' || lead2 AS g FROM (
        |    SELECT doc_id, tok,
        |      LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS lead1,
        |      LEAD(tok, 2) OVER (PARTITION BY doc_id ORDER BY ord) AS lead2
        |    FROM (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord FROM t))
        |  WHERE lead2 IS NOT NULL),
        |boiler AS (
        |  SELECT g FROM (SELECT g, COUNT(*) AS df FROM g3 GROUP BY g) WHERE df >= 5),
        |bph AS (SELECT doc_id, COUNT(*) AS nb FROM g3 JOIN boiler USING (g) GROUP BY doc_id),
        |bpn AS (SELECT doc_id, COUNT(*) AS ng FROM g3 GROUP BY doc_id),
        |bpkeep AS (
        |  SELECT dd.doc_id FROM documents dd
        |  LEFT JOIN bpn ON dd.doc_id = bpn.doc_id
        |  LEFT JOIN bph ON dd.doc_id = bph.doc_id
        |  WHERE (CASE WHEN COALESCE(bpn.ng, 0) = 0 THEN 0.0
        |         ELSE round(CAST(COALESCE(bph.nb, 0) AS DOUBLE) / bpn.ng, 6) END) < 0.5),
        |g5 AS (
        |  SELECT doc_id, source,
        |    toks[CAST(i AS BIGINT)] || ' ' || toks[CAST(i AS BIGINT)+1] || ' ' ||
        |    toks[CAST(i AS BIGINT)+2] || ' ' || toks[CAST(i AS BIGINT)+3] || ' ' ||
        |    toks[CAST(i AS BIGINT)+4] AS g
        |  FROM t, UNNEST(range(1, len(toks)-3)) AS u(i)),
        |ev AS (SELECT DISTINCT g FROM g5 WHERE source = '${CorpusOps.EvalSource}'),
        |contam AS (
        |  SELECT DISTINCT g5.doc_id FROM g5 JOIN ev ON g5.g = ev.g
        |  WHERE g5.source <> '${CorpusOps.EvalSource}')
        |SELECT doc_id FROM (
        |  (SELECT doc_id FROM qual INTERSECT SELECT doc_id FROM bpkeep)
        |  EXCEPT SELECT doc_id FROM contam)
        |ORDER BY doc_id""".stripMargin,
    // q138: gaps-and-islands SCD2 — identical lag/cumsum/lead chain;
    // open intervals carry the 9999999999 sentinel in both engines
    // (no null-ordering hazard in the hash gate)
    "q138_scd2_intervals" ->
      s"""WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
        |  FROM events),
        |c AS (
        |  SELECT user_id, event_id, event_type, sec,
        |    CASE WHEN LAG(event_type) OVER (PARTITION BY user_id ORDER BY sec, event_id) IS NULL
        |           OR LAG(event_type) OVER (PARTITION BY user_id ORDER BY sec, event_id) <> event_type
        |         THEN 1 ELSE 0 END AS chg
        |  FROM e),
        |v AS (
        |  SELECT user_id, event_type, sec,
        |    CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
        |  FROM c),
        |r AS (
        |  SELECT user_id, version, MIN(event_type) AS state,
        |    MIN(sec) AS valid_from, COUNT(*) AS n_events
        |  FROM v GROUP BY 1, 2)
        |SELECT user_id, version, state, valid_from,
        |  COALESCE(LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version),
        |    ${graft.operators.FrameOps.Scd2OpenEnd}) AS valid_to,
        |  n_events,
        |  (COALESCE(LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version),
        |    ${graft.operators.FrameOps.Scd2OpenEnd}) = ${graft.operators.FrameOps.Scd2OpenEnd}) AS is_current
        |FROM r ORDER BY user_id, version""".stripMargin,
    // q139: each event belongs to exactly 3 epoch-aligned hopping
    // windows — starts (sec//600 - k)*600 for k in 0..2 (half-open
    // [start, start+1800) == Spark's window() semantics)
    "q139_hopping_window" ->
      """WITH e AS (
        |  SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
        |    user_id, value
        |  FROM events),
        |x AS (
        |  SELECT (sec // 600 - CAST(u.k AS BIGINT)) * 600 AS w_start, user_id, value
        |  FROM e, UNNEST(range(3)) AS u(k))
        |SELECT w_start, w_start + 1800 AS w_end,
        |  COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS total_value
        |FROM x GROUP BY w_start ORDER BY w_start""".stripMargin,
    // q140: smoothed shares divide exact integers (correctly-rounded
    // IEEE, identical both engines); only ln is 1-ulp-risky and the
    // PSI sum is bounded by the bucket count → round(,6) absorbs it
    "q140_psi_drift" ->
      """WITH d AS (
        |  SELECT source, LEAST(n_chars // 50, 11) AS bucket FROM documents),
        |c AS (SELECT source, bucket, COUNT(*) AS n_sb FROM d GROUP BY 1, 2),
        |srcs AS (SELECT DISTINCT source FROM documents),
        |g AS (SELECT source, CAST(u.b AS BIGINT) AS bucket
        |  FROM srcs, UNNEST(range(12)) AS u(b)),
        |dense AS (
        |  SELECT g.source, g.bucket, COALESCE(c.n_sb, 0) AS n_sb
        |  FROM g LEFT JOIN c ON g.source = c.source AND g.bucket = c.bucket),
        |m AS (
        |  SELECT source, bucket, n_sb,
        |    CAST(SUM(n_sb) OVER (PARTITION BY source) AS BIGINT) AS n_s,
        |    CAST(SUM(n_sb) OVER (PARTITION BY bucket) AS BIGINT) AS n_b,
        |    CAST(SUM(n_sb) OVER () AS BIGINT) AS n
        |  FROM dense),
        |t AS (
        |  SELECT source, n_s,
        |    ((CAST(n_sb AS DOUBLE) + 0.5) / (CAST(n_s AS DOUBLE) + 0.5 * 12)
        |     - (CAST(n_b - n_sb AS DOUBLE) + 0.5) / (CAST(n - n_s AS DOUBLE) + 0.5 * 12))
        |    * ln(((CAST(n_sb AS DOUBLE) + 0.5) / (CAST(n_s AS DOUBLE) + 0.5 * 12))
        |       / ((CAST(n_b - n_sb AS DOUBLE) + 0.5) / (CAST(n - n_s AS DOUBLE) + 0.5 * 12))) AS term
        |  FROM m)
        |SELECT source, MAX(n_s) AS n_docs, round(SUM(term), 6) AS psi
        |FROM t GROUP BY source ORDER BY source""".stripMargin,
    // q141: dense (day × type) grid so zero-count days damp the lift;
    // lift = 7·n / trailing-sum — exact-integer IEEE division
    "q141_trending" ->
      """WITH e AS (
        |  SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 AS day,
        |    event_type
        |  FROM events),
        |c AS (SELECT day, event_type, COUNT(*) AS n FROM e GROUP BY 1, 2),
        |days AS (SELECT DISTINCT day FROM e),
        |types AS (SELECT DISTINCT event_type FROM e),
        |g AS (SELECT day, event_type FROM days, types),
        |dense AS (
        |  SELECT g.day, g.event_type, COALESCE(c.n, 0) AS n
        |  FROM g LEFT JOIN c ON g.day = c.day AND g.event_type = c.event_type),
        |t AS (
        |  SELECT day, event_type, n,
        |    CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS trail_n,
        |    COUNT(*) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n_prior
        |  FROM dense)
        |SELECT day, event_type, CAST(n AS BIGINT) AS n, trail_n,
        |  round(CAST(n AS DOUBLE) * 7.0 / CAST(trail_n AS DOUBLE), 6) AS lift
        |FROM t WHERE n_prior = 7 AND trail_n > 0
        |ORDER BY day, event_type""".stripMargin,
    // q142: q48's verified pair CTE extended with item marginals;
    // support/√(n_a·n_b) is correctly-rounded IEEE on exact integers
    "q142_cooccur_sim" ->
      """WITH ui AS (
        |  SELECT DISTINCT user_id,
        |    CAST(NULLIF(regexp_extract(props, '"k": (\d+)', 1), '') AS BIGINT) AS item
        |  FROM events WHERE event_type = 'click'),
        |uif AS (SELECT user_id, item FROM ui WHERE item IS NOT NULL),
        |ic AS (SELECT item, COUNT(*) AS n_users FROM uif GROUP BY 1),
        |p AS (
        |  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS support
        |  FROM uif a JOIN uif b ON a.user_id = b.user_id AND a.item < b.item
        |  GROUP BY 1, 2)
        |SELECT item_a, item_b, CAST(support AS BIGINT) AS support,
        |  ia.n_users AS n_a, ib.n_users AS n_b,
        |  round(CAST(support AS DOUBLE) /
        |    sqrt(CAST(ia.n_users * ib.n_users AS DOUBLE)), 6) AS cosine
        |FROM p JOIN ic ia ON p.item_a = ia.item JOIN ic ib ON p.item_b = ib.item
        |WHERE support >= 2
        |ORDER BY item_a, item_b""".stripMargin,
    // q143: exact medians as (lo+hi)/2 in PLAIN doubles (a decimal
    // bridge would round the full-precision deviations, where the two
    // engines' rounding can differ); dev/3·mad compares are
    // correctly-rounded IEEE on identical operands → exact outlier set
    "q143_anomaly_mad" ->
      """WITH e AS (SELECT event_type, event_id, value FROM events),
        |m1 AS (
        |  SELECT event_type, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM e),
        |med AS (
        |  SELECT event_type, (MIN(value) + MAX(value)) / 2 AS med
        |  FROM m1 WHERE rn = (cnt + 1) // 2 OR rn = cnt // 2 + 1
        |  GROUP BY event_type),
        |d AS (
        |  SELECT e.event_type, e.event_id, med.med,
        |    abs(e.value - med.med) AS dev
        |  FROM e JOIN med USING (event_type)),
        |m2 AS (
        |  SELECT event_type, event_id, dev,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM d),
        |mad AS (
        |  SELECT event_type, (MIN(dev) + MAX(dev)) / 2 AS mad
        |  FROM m2 WHERE rn = (cnt + 1) // 2 OR rn = cnt // 2 + 1
        |  GROUP BY event_type)
        |SELECT d.event_type, COUNT(*) AS n, MIN(d.med) AS med, MIN(mad.mad) AS mad,
        |  CAST(SUM(CASE WHEN d.dev > 3.0 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  round(CAST(SUM(CASE WHEN d.dev > 3.0 * mad.mad THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS outlier_share
        |FROM d JOIN mad USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,
    // q144: chained first-step-at-or-after minimums; rates divide
    // exact integers (identical IEEE)
    "q144_funnel_steps" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
        |  FROM events),
        |b AS (SELECT COUNT(DISTINCT user_id) AS n0 FROM e),
        |u1 AS (SELECT user_id, MIN(sec) AS t1 FROM e
        |  WHERE event_type = 'signup' GROUP BY 1),
        |u2 AS (SELECT e.user_id, MIN(e.sec) AS t2 FROM e JOIN u1 ON e.user_id = u1.user_id
        |  WHERE e.event_type = 'click' AND e.sec >= u1.t1 GROUP BY 1),
        |u3 AS (SELECT e.user_id, MIN(e.sec) AS t3 FROM e JOIN u2 ON e.user_id = u2.user_id
        |  WHERE e.event_type = 'purchase' AND e.sec >= u2.t2 GROUP BY 1),
        |c AS (SELECT (SELECT n0 FROM b) AS n0, (SELECT COUNT(*) FROM u1) AS n1,
        |  (SELECT COUNT(*) FROM u2) AS n2, (SELECT COUNT(*) FROM u3) AS n3)
        |SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS step, 'all_users' AS step_name, n0 AS n_users,
        |    round(CAST(n0 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) AS rate_vs_prev,
        |    round(CAST(n0 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) AS rate_vs_base FROM c
        |  UNION ALL SELECT CAST(1 AS BIGINT), 'signup', n1,
        |    round(CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE), 6),
        |    round(CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) FROM c
        |  UNION ALL SELECT CAST(2 AS BIGINT), 'click_after_signup', n2,
        |    round(CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE), 6),
        |    round(CAST(n2 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) FROM c
        |  UNION ALL SELECT CAST(3 AS BIGINT), 'purchase_after_click', n3,
        |    round(CAST(n3 AS DOUBLE) / CAST(n2 AS DOUBLE), 6),
        |    round(CAST(n3 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) FROM c)
        |ORDER BY step""".stripMargin,
    // q145: GENERATED unrolled-iteration PageRank oracle — see
    // pagerankSql (constants shared with GraphOps: iterations,
    // damping, per-step rounding scale, support threshold)
    "q145_pagerank" -> pagerankSql,
    // q146: md5 hex of ASCII text is byte-identical cross-engine;
    // status derives from key presence + fingerprint equality only
    "q146_snapshot_diff" ->
      """WITH o AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 13 = 1 THEN text || ' rev' ELSE text END) AS old_fp
        |  FROM documents WHERE doc_id % 17 <> 3),
        |n AS (SELECT doc_id, md5(text) AS new_fp FROM documents WHERE doc_id % 19 <> 5)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN old_fp <> new_fp THEN 'changed'
        |       ELSE 'unchanged' END AS status,
        |  old_fp, new_fp
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,
    // q147: per-column GROUPING flags (0/1 each) sidestep engine
    // grouping_id bit-order conventions; NULLS FIRST pinned
    "q147_cube" ->
      """SELECT CAST(GROUPING(o_year) AS BIGINT) AS g_year,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
        |  o_year, o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS total_price
        |FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, o_orderpriority, o_totalprice FROM orders)
        |GROUP BY CUBE (o_year, o_orderpriority)
        |ORDER BY g_year, g_pri, o_year NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    // q148: q31's verified shingle-candidate CTE (WITH the operator's
    // hot-posting df cap — previously omitted here, non-binding at
    // test SFs but a divergence at any scale where it binds) +
    // support floor + levenshtein verify — dist/mlen are exact ints,
    // the admission compare is one IEEE division on identical
    // operands. Constants INTERPOLATED from Dedup (shared-rule
    // discipline: the engines cannot drift when one changes).
    "q148_edit_dedup" ->
      s"""WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(nfc_normalize(text)), '\\s+')) AS tok,
        |         generate_subscripts(string_split_regex(trim(nfc_normalize(text)), '\\s+'), 1) AS ord
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, tok || ' ' || lead1 || ' ' || lead2 AS sh FROM (
        |    SELECT doc_id, tok,
        |      LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS lead1,
        |      LEAD(tok, 2) OVER (PARTITION BY doc_id ORDER BY ord) AS lead2
        |    FROM tok) WHERE lead2 IS NOT NULL),
        |keep AS (SELECT sh FROM sh0 GROUP BY sh HAVING COUNT(*) <= ${Dedup.defaultMaxDf}),
        |sh AS (SELECT s.doc_id, s.sh FROM sh0 s JOIN keep USING (sh)),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT c.doc_a, c.doc_b,
        |    levenshtein(da.text, db.text) AS dist,
        |    greatest(len(da.text), len(db.text)) AS mlen
        |  FROM cand c
        |  JOIN documents da ON c.doc_a = da.doc_id
        |  JOIN documents db ON c.doc_b = db.doc_id
        |  WHERE c.inter >= ${Dedup.EditMinShingles})
        |SELECT doc_a, doc_b, CAST(dist AS BIGINT) AS dist,
        |  round(CAST(dist AS DOUBLE) / CAST(mlen AS DOUBLE), 6) AS edit_ratio
        |FROM p WHERE CAST(dist AS DOUBLE) / CAST(mlen AS DOUBLE) <= ${Dedup.EditMaxRatio}
        |ORDER BY doc_a, doc_b""".stripMargin,
    // q149: GENERATED from CorpusOps' DSIR constants (bucket count,
    // smoothing, admission cap, hash family) — see dsirOracleSql
    "q149_dsir_weights" -> CorpusOps.dsirOracleSql,
    // q150: per-gram term rounded then decimal-summed; the source
    // total factors out of the sum → single window marginal
    "q150_cond_entropy" ->
      """WITH tok AS (
        |  SELECT doc_id, source, unnest(string_split_regex(trim(nfc_normalize(text)), '\s+')) AS tok,
        |         generate_subscripts(string_split_regex(trim(nfc_normalize(text)), '\s+'), 1) AS ord
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, source, tok || ' ' || lead1 AS g FROM (
        |    SELECT doc_id, source, tok,
        |      LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS lead1
        |    FROM tok) WHERE lead1 IS NOT NULL),
        |c2 AS (
        |  SELECT source, g, COUNT(*) AS c2,
        |    string_split(g, ' ')[1] AS w1
        |  FROM bg GROUP BY 1, 2),
        |m AS (
        |  SELECT source, g, c2,
        |    CAST(SUM(c2) OVER (PARTITION BY source, w1) AS BIGINT) AS c1
        |  FROM c2),
        |t AS (
        |  SELECT source, c2,
        |    CAST(round(CAST(c2 AS DOUBLE) *
        |      ln(CAST(c1 AS DOUBLE) / CAST(c2 AS DOUBLE)), 6) AS DECIMAL(18,6)) AS term
        |  FROM m)
        |SELECT source, CAST(SUM(c2) AS BIGINT) AS n_bigrams,
        |  COUNT(*) AS n_types,
        |  CAST(CAST(SUM(term) AS DECIMAL(18,6)) AS DOUBLE) /
        |    CAST(SUM(c2) AS DOUBLE) AS cond_entropy
        |FROM t GROUP BY source ORDER BY source""".stripMargin,
    // q151: window cumsum in priority order (longest first); the
    // admission compare is integer-exact; budget INTERPOLATED from
    // CorpusOps.BudgetTokens (one source of truth)
    // q151/q224 both interpolate the ONE cumsum chain
    // (CorpusOps.budgetCumCteSql)
    "q151_token_budget" ->
      s"""WITH ${CorpusOps.budgetCumCteSql}
        |SELECT doc_id, source, tok, cum_tok, cum_tok <= ${CorpusOps.BudgetTokens} AS admitted
        |FROM w ORDER BY source, doc_id""".stripMargin,
    // q152: q76's verified 5-gram CTE re-rolled per doc as a
    // coverage ratio; thresholds compare the rounded value
    "q152_ngram_coverage" ->
      s"""WITH t AS (
        |  SELECT doc_id, source, string_split_regex(trim(nfc_normalize(text)), '\\s+') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, source,
        |    toks[CAST(i AS BIGINT)] || ' ' || toks[CAST(i AS BIGINT)+1] || ' ' ||
        |    toks[CAST(i AS BIGINT)+2] || ' ' || toks[CAST(i AS BIGINT)+3] || ' ' ||
        |    toks[CAST(i AS BIGINT)+4] AS g
        |  FROM t, UNNEST(range(1, len(toks)-3)) AS u(i)),
        |ev AS (SELECT DISTINCT g FROM g WHERE source = '${CorpusOps.EvalSource}'),
        |tg AS (SELECT DISTINCT doc_id, source, g FROM g WHERE source <> '${CorpusOps.EvalSource}'),
        |s AS (
        |  SELECT tg.doc_id, tg.source, COUNT(*) AS n_grams,
        |    CAST(SUM(CASE WHEN ev.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        |  FROM tg LEFT JOIN ev ON tg.g = ev.g
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT doc_id, source, n_grams, n_hit,
        |    round(CAST(n_hit AS DOUBLE) / CAST(n_grams AS DOUBLE), 6) AS coverage
        |  FROM s)
        |SELECT doc_id, source, n_grams, n_hit, coverage,
        |  CASE WHEN n_hit = 0 THEN 'clean'
        |       WHEN coverage < 0.2 THEN 'low'
        |       WHEN coverage < 0.5 THEN 'medium'
        |       ELSE 'high' END AS severity
        |FROM c ORDER BY doc_id""".stripMargin,
    // q153: GENERATED unrolled fixed-point HITS oracle — see hitsSql
    "q153_hits" -> hitsSql,
    // q154: nearest-rank selection — rank targets are exact integer
    // ceil-divisions, band values are picked (never interpolated)
    "q154_quantile_bands" ->
      """WITH r AS (
        |  SELECT event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM events)
        |SELECT event_type, CAST(MAX(cnt) AS BIGINT) AS n,
        |  MIN(CASE WHEN rn = (25 * cnt + 99) // 100 THEN value END) AS p25,
        |  MIN(CASE WHEN rn = (50 * cnt + 99) // 100 THEN value END) AS p50,
        |  MIN(CASE WHEN rn = (75 * cnt + 99) // 100 THEN value END) AS p75,
        |  MIN(CASE WHEN rn = (90 * cnt + 99) // 100 THEN value END) AS p90
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q155: q142/q145's verified co-click pair CTE rolled into a
    // degree histogram; shares divide exact integers; support floor
    // INTERPOLATED from GraphOps.PrSupport (the same constant the
    // q145 generated oracle uses)
    "q155_degree_profile" ->
      s"""WITH ui AS (
        |  SELECT DISTINCT user_id,
        |    CAST(NULLIF(regexp_extract(props, '"k": (\\d+)', 1), '') AS BIGINT) AS item
        |  FROM events WHERE event_type = 'click'),
        |uif AS (SELECT user_id, item FROM ui WHERE item IS NOT NULL),
        |p AS (
        |  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS support
        |  FROM uif a JOIN uif b ON a.user_id = b.user_id AND a.item < b.item
        |  GROUP BY 1, 2),
        |ed AS (
        |  SELECT item_a AS src FROM p WHERE support >= ${GraphOps.PrSupport}
        |  UNION ALL
        |  SELECT item_b FROM p WHERE support >= ${GraphOps.PrSupport}),
        |dg AS (SELECT src, COUNT(*) AS deg FROM ed GROUP BY 1),
        |hist AS (SELECT deg, COUNT(*) AS n_items FROM dg GROUP BY 1),
        |t AS (
        |  SELECT deg, n_items,
        |    CAST(SUM(n_items) OVER () AS BIGINT) AS n_total,
        |    CAST(SUM(n_items) OVER (ORDER BY deg
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM hist)
        |SELECT CAST(deg AS BIGINT) AS deg, CAST(n_items AS BIGINT) AS n_items,
        |  CAST(n_items AS DOUBLE) / CAST(n_total AS DOUBLE) AS share,
        |  CAST(cum AS DOUBLE) / CAST(n_total AS DOUBLE) AS cum_share
        |FROM t ORDER BY deg""".stripMargin,
    // q177: the oracle STATES the naive id-ordered 3-way edge join;
    // the Spark plan runs the degree-oriented wedge construction —
    // triangle SETS are identical, and value equality is what the
    // gate checks (lever (h)). clustering = exact ints through one
    // IEEE division (lever (c)), no rounding.
    "q177_triangle_census" ->
      s"""WITH ui AS (
        |  SELECT DISTINCT user_id,
        |    CAST(NULLIF(regexp_extract(props, '"k": (\\d+)', 1), '') AS BIGINT) AS item
        |  FROM events WHERE event_type = 'click'),
        |uif AS (SELECT user_id, item FROM ui WHERE item IS NOT NULL),
        |e AS (
        |  SELECT a.item AS item_a, b.item AS item_b
        |  FROM uif a JOIN uif b ON a.user_id = b.user_id AND a.item < b.item
        |  GROUP BY 1, 2 HAVING COUNT(*) >= ${GraphOps.PrSupport}),
        |n AS (SELECT item_a AS node FROM e UNION ALL SELECT item_b FROM e),
        |dg AS (SELECT node, COUNT(*) AS degree FROM n GROUP BY node),
        |t AS (
        |  SELECT e1.item_a AS a, e1.item_b AS b, e2.item_b AS c
        |  FROM e e1
        |  JOIN e e2 ON e2.item_a = e1.item_b
        |  JOIN e e3 ON e3.item_a = e1.item_a AND e3.item_b = e2.item_b),
        |tn AS (SELECT a AS node FROM t UNION ALL SELECT b FROM t
        |       UNION ALL SELECT c FROM t),
        |tc AS (SELECT node, COUNT(*) AS n_tri FROM tn GROUP BY node)
        |SELECT d.node, CAST(d.degree AS BIGINT) AS degree,
        |  CAST(COALESCE(tc.n_tri, 0) AS BIGINT) AS n_tri,
        |  CASE WHEN d.degree >= 2 THEN
        |    CAST(2 * COALESCE(tc.n_tri, 0) AS DOUBLE) /
        |      CAST(d.degree * (d.degree - 1) AS DOUBLE)
        |  ELSE 0.0 END AS clustering
        |FROM dg d LEFT JOIN tc USING (node)
        |ORDER BY d.node""".stripMargin,
    // q156: weights round(,6); the dot product is EXACT integer math
    // end to end — micro-long weights multiply and sum as HUGEINT,
    // scaled down ONCE by the explicit half-up rule (s + 5000) //
    // 10^4 (products nonnegative; mirrors Spark's decimal(38,0) sum
    // + div — no per-term float round, closing the lever-(k)
    // half-boundary the round-5 advisor flagged); the final double
    // is one exact-int / 1e8 division, cosine + threshold on RAW
    // identically-derived doubles (levers c/k). df cap + threshold
    // INTERPOLATED from Dedup's constants.
    "q156_tfidf_cosine" ->
      s"""WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(nfc_normalize(text)), '\\s+')) AS tok,
        |         generate_subscripts(string_split_regex(trim(nfc_normalize(text)), '\\s+'), 1) AS ord
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, tok || ' ' || lead1 || ' ' || lead2 AS sh FROM (
        |    SELECT doc_id, tok,
        |      LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS lead1,
        |      LEAD(tok, 2) OVER (PARTITION BY doc_id ORDER BY ord) AS lead2
        |    FROM tok) WHERE lead2 IS NOT NULL),
        |tf AS (SELECT doc_id, sh, COUNT(*) AS tf FROM sh GROUP BY 1, 2),
        |dft AS (SELECT sh, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM sh),
        |w AS MATERIALIZED (
        |  SELECT doc_id, tf.sh,
        |    round(tf * log2(CAST(n.n AS DOUBLE) / dft.df), 6) AS w
        |  FROM tf JOIN dft USING (sh), n WHERE dft.df <= ${Dedup.defaultMaxDf}),
        |nm AS (
        |  SELECT doc_id,
        |    sqrt(CAST(CAST(SUM(CAST(round(w * w, 8) AS DECIMAL(18,8)))
        |      AS DECIMAL(18,8)) AS DOUBLE)) AS nrm
        |  FROM w GROUP BY 1),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST((SUM(CAST(round(a.w * 1000000) AS HUGEINT) *
        |               CAST(round(b.w * 1000000) AS HUGEINT)) + 5000) // 10000
        |      AS DOUBLE) / 1e8 AS dot
        |  FROM w a JOIN w b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT doc_a, doc_b, dot, dot / (na.nrm * nb.nrm) AS cosine
        |  FROM p JOIN nm na ON p.doc_a = na.doc_id
        |         JOIN nm nb ON p.doc_b = nb.doc_id)
        |SELECT doc_a, doc_b, dot, cosine FROM c
        |WHERE cosine >= ${Dedup.TfidfCosThreshold} ORDER BY doc_a, doc_b""".stripMargin,
    // q157: hash-split eval; per-user metrics divide exact ints,
    // macro means are raw quotients of decimal sums. Split-hash
    // family + cutoffs INTERPOLATED from WordItemApp's constants;
    // the key is reduced mod p BEFORE the multiplicative mix so both
    // engines stay in BIGINT range at any id scale.
    "q157_rec_eval" ->
      (RecChainCte + s""",
        |pu AS (
        |  SELECT user_id, COUNT(*) AS n_rec,
        |    CAST(SUM(hit) AS BIGINT) AS n_hit, MIN(n_test) AS n_test
        |  FROM sc GROUP BY 1),
        |m AS (
        |  SELECT pu.user_id, pu.n_rec, pu.n_hit, pu.n_test,
        |    CAST(round(CAST(pu.n_hit AS DOUBLE) / CAST(pu.n_rec AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) AS p_u,
        |    CAST(round(CAST(pu.n_hit AS DOUBLE) / CAST(pu.n_test AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) AS r_u
        |  FROM pu)
        |SELECT COUNT(*) AS n_users,
        |  CAST(SUM(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_users_hit,
        |  CAST(SUM(n_hit) AS BIGINT) AS total_hits,
        |  CAST(SUM(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE) AS hit_rate,
        |  CAST(CAST(SUM(p_u) AS DECIMAL(18,6)) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE) AS macro_precision,
        |  CAST(CAST(SUM(r_u) AS DECIMAL(18,6)) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE) AS macro_recall
        |FROM m""").stripMargin,
    // q191: the same scored chain, closed by the nDCG/MRR rollup;
    // gain terms round(,6)→DECIMAL before every sum (lever (i)); the
    // IDCG table is the same rounded gain expression cumulated
    "q191_rec_ndcg" ->
      (RecChainCte + s""",
        |g AS (
        |  SELECT i, CAST(round(CAST(1 AS DOUBLE) / log2(CAST(i AS DOUBLE) + 1.0), 6)
        |    AS DECIMAL(18,6)) AS g
        |  FROM range(1, ${WordItemApp.RecK + 1}) t(i)),
        |gc AS (
        |  SELECT i AS k, CAST(SUM(g) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING)
        |    AS DECIMAL(18,6)) AS idcg
        |  FROM g),
        |pu AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN hit = 1
        |      THEN CAST(round(CAST(1 AS DOUBLE) / log2(CAST(rec_rank AS DOUBLE) + 1.0), 6)
        |        AS DECIMAL(18,6))
        |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DECIMAL(18,6)) AS dcg,
        |    MIN(CASE WHEN hit = 1 THEN rec_rank END) AS first_hit,
        |    least(MIN(n_test), ${WordItemApp.RecK}) AS k
        |  FROM sc GROUP BY 1),
        |u AS (
        |  SELECT pu.user_id, first_hit,
        |    CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE) AS ndcg,
        |    CASE WHEN first_hit IS NULL THEN CAST(0 AS DOUBLE)
        |      ELSE round(CAST(1 AS DOUBLE) / CAST(first_hit AS DOUBLE), 6) END AS rr
        |  FROM pu JOIN gc ON pu.k = gc.k)
        |SELECT COUNT(*) AS n_users,
        |  CAST(SUM(CASE WHEN first_hit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_users_hit,
        |  CAST(CAST(SUM(CAST(round(ndcg, 6) AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE) AS macro_ndcg,
        |  CAST(CAST(SUM(CAST(rr AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE) AS macro_mrr
        |FROM u""").stripMargin,
  )

  /** The q157/q191 shared scored-candidate chain (one def, mirroring
    * WordItemApp.recScored): popularity recs for test users with the
    * hit flag and per-user test size, capped at RecK. */
  private def RecChainCte: String =
    s"""WITH ui AS (
      |  SELECT DISTINCT user_id,
      |    CAST(NULLIF(regexp_extract(props, '"k": (\\d+)', 1), '') AS BIGINT) AS item
      |  FROM events WHERE event_type = 'click'),
      |uif AS (SELECT user_id, item FROM ui WHERE item IS NOT NULL),
      |tagged AS (
      |  SELECT user_id, item,
      |    ((user_id % ${WordItemApp.SplitP} * 1009 + item) % ${WordItemApp.SplitP})
      |      * ${WordItemApp.SplitC}
      |      % ${WordItemApp.SplitP} % ${WordItemApp.SplitMod} = 0 AS is_test
      |  FROM uif),
      |train AS (SELECT user_id, item FROM tagged WHERE NOT is_test),
      |test AS MATERIALIZED (SELECT user_id, item FROM tagged WHERE is_test),
      |topm AS (
      |  SELECT item, pop_rank FROM (
      |    SELECT item, COUNT(*) AS n_clicks,
      |      ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, item) AS pop_rank
      |    FROM train GROUP BY item) WHERE pop_rank <= ${WordItemApp.RecTopM}),
      |users AS (SELECT DISTINCT user_id FROM test),
      |recs AS (
      |  SELECT u.user_id, t.item,
      |    ROW_NUMBER() OVER (PARTITION BY u.user_id ORDER BY t.pop_rank) AS rec_rank
      |  FROM users u CROSS JOIN topm t
      |  LEFT JOIN train tr ON tr.user_id = u.user_id AND tr.item = t.item
      |  WHERE tr.item IS NULL),
      |tc AS (SELECT user_id, COUNT(*) AS n_test FROM test GROUP BY 1),
      |sc AS (
      |  SELECT r.user_id, r.item, r.rec_rank,
      |    CASE WHEN te.item IS NOT NULL THEN 1 ELSE 0 END AS hit, tc.n_test
      |  FROM recs r
      |  LEFT JOIN test te ON te.user_id = r.user_id AND te.item = r.item
      |  JOIN tc ON tc.user_id = r.user_id
      |  WHERE r.rec_rank <= ${WordItemApp.RecK})""".stripMargin

  /** q145 oracle GENERATED from GraphOps' own constants (iteration
    * count, damping, per-step rounding scale, support threshold) —
    * the PageRank recurrence unrolled as r0→r[[GraphOps.PrIters]]
    * chained CTEs (a recursive CTE cannot aggregate over its own
    * recursive reference, and unrolling keeps the oracle a plain
    * value-level statement of the same IEEE chain the Spark loop
    * walks: contributions rounded to PrScale decimals, exact
    * DECIMAL(18,PrScale) sums, damping update re-rounded per step). */
  private def pagerankSql: String = {
    import operators.GraphOps.{PrIters, PrScale, PrSupport}
    val unit = math.pow(10, PrScale).toLong
    val base = unit * 15L / 100L // 0.15 in fixed-point units, exact
    val iters = (1 to PrIters).map { k =>
      s"""r$k AS (
         |  SELECT ed.dst AS item,
         |    (SELECT $base // n FROM nn) +
         |      (85 * CAST(SUM(r${k - 1}.r // dg.deg) AS BIGINT)) // 100 AS r
         |  FROM ed JOIN dg ON ed.src = dg.src JOIN r${k - 1} ON ed.src = r${k - 1}.item
         |  GROUP BY ed.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH ui AS (
       |  SELECT DISTINCT user_id,
       |    CAST(NULLIF(regexp_extract(props, '"k": (\\d+)', 1), '') AS BIGINT) AS item
       |  FROM events WHERE event_type = 'click'),
       |uif AS (SELECT user_id, item FROM ui WHERE item IS NOT NULL),
       |p AS (
       |  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS support
       |  FROM uif a JOIN uif b ON a.user_id = b.user_id AND a.item < b.item
       |  GROUP BY 1, 2),
       |ed AS (
       |  SELECT item_a AS src, item_b AS dst FROM p WHERE support >= $PrSupport
       |  UNION ALL
       |  SELECT item_b, item_a FROM p WHERE support >= $PrSupport),
       |dg AS (SELECT src, COUNT(*) AS deg FROM ed GROUP BY 1),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM dg),
       |r0 AS (SELECT src AS item, (SELECT $unit // n FROM nn) AS r FROM dg),
       |$iters
       |SELECT item, r AS pr_scaled,
       |  CAST(r AS DOUBLE) / $unit.0 AS pr
       |FROM r$PrIters ORDER BY item""".stripMargin
  }

  /** q153 oracle GENERATED from GraphOps' HITS constants (iteration
    * count, fixed-point scale): the hub/authority recurrence unrolled
    * as chained CTEs walking the SAME exact integer chain as the
    * Spark loop — integer sums, integer L1 renormalization
    * raw·K div S per half-step (K = unit·side size as a scalar
    * subquery, exactly the driver scalar the Spark plan embeds). */
  private def hitsSql: String = {
    import operators.GraphOps.{HitsIters, HitsUnitBound, HitsMaxUnit}
    // candidate powers of 10 for the ADAPTIVE fixed-point unit —
    // generated from the same constants as GraphOps.hitsUnitFor, so
    // kernel and oracle pick the unit by the identical integer rule
    val powers = Iterator.iterate(1L)(_ * 10)
      .takeWhile(_ <= HitsMaxUnit).map(p => s"($p)").mkString(",")
    // AS MATERIALIZED on every multiply-referenced CTE: DuckDB
    // inlines CTEs by default, and the unrolled two-consumers-per-
    // half-step chain re-evaluates its whole prefix EXPONENTIALLY
    // without it (the SQL mirror of the Spark loop's persists)
    val iters = (1 to HitsIters).map { k =>
      s"""ra$k AS MATERIALIZED (
         |  SELECT e.item, CAST(SUM(h) AS BIGINT) AS raw
         |  FROM e JOIN h${k - 1} USING (user_id) GROUP BY 1),
         |sa$k AS (SELECT CAST(SUM(raw) AS BIGINT) AS s FROM ra$k),
         |a$k AS MATERIALIZED (
         |  SELECT item, CAST((raw * (SELECT k FROM ni)) // (SELECT s FROM sa$k) AS BIGINT) AS a
         |  FROM ra$k),
         |rh$k AS MATERIALIZED (
         |  SELECT e.user_id, CAST(SUM(a) AS BIGINT) AS raw
         |  FROM e JOIN a$k USING (item) GROUP BY 1),
         |sh$k AS (SELECT CAST(SUM(raw) AS BIGINT) AS s FROM rh$k),
         |h$k AS MATERIALIZED (
         |  SELECT user_id, CAST((raw * (SELECT k FROM nu)) // (SELECT s FROM sh$k) AS BIGINT) AS h
         |  FROM rh$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH ui AS (
       |  SELECT DISTINCT user_id,
       |    CAST(NULLIF(regexp_extract(props, '"k": (\\d+)', 1), '') AS BIGINT) AS item
       |  FROM events WHERE event_type = 'click'),
       |e AS MATERIALIZED (SELECT user_id, item FROM ui WHERE item IS NOT NULL),
       |cnt AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nu0,
       |               CAST(COUNT(DISTINCT item) AS BIGINT) AS ni0 FROM e),
       |u AS (SELECT CAST(MAX(p) AS BIGINT) AS u
       |      FROM (VALUES $powers) t(p), cnt
       |      WHERE CAST(p AS BIGINT) * p <= $HitsUnitBound // (nu0 * ni0)),
       |nu AS (SELECT CAST((SELECT u FROM u) * nu0 AS BIGINT) AS k FROM cnt),
       |ni AS (SELECT CAST((SELECT u FROM u) * ni0 AS BIGINT) AS k FROM cnt),
       |h0 AS (SELECT DISTINCT user_id, (SELECT u FROM u) AS h FROM e),
       |$iters
       |SELECT * FROM (
       |  SELECT 'item' AS role, item AS id, a AS score_scaled,
       |    CAST(a AS DOUBLE) / (SELECT CAST(k AS DOUBLE) FROM ni) AS share
       |  FROM a$HitsIters
       |  UNION ALL
       |  SELECT 'user', user_id, h,
       |    CAST(h AS DOUBLE) / (SELECT CAST(k AS DOUBLE) FROM nu)
       |  FROM h$HitsIters)
       |ORDER BY role, id""".stripMargin
  }

  /** q93 oracle fragments generated from the operator's own constants
    * (single source of truth for the hash family AND the bucket cap —
    * the Spark side drops band buckets above defaultMaxDf, so the
    * oracle counts each band's bucket occupancy and applies the SAME
    * bound; parity holds at any SF, capped or not). */
  /** The full generated q93 pipeline chain (shingles → rolling-hash
    * base → 16 min-aggs → band buckets with the df cap → candidate
    * union → exact intersections) — shared by the q93 final SELECT
    * and q158's quality-report join (one chain, two verdicts). `sh`
    * is MATERIALIZED: it now has three consumers. */
  /** The q158/q188 shared classified-pair chain: the generated q93
    * MinHash chain + the exact near-dup pairs (`ex`) + each pair's
    * found/missed verdict (`fl`). One def — the recall report and
    * the S-curve calibration cannot drift. */
  private def LshFoundCte: String =
    s"""$PmhChain,
       |ex AS (
       |  SELECT i.doc_a, i.doc_b,
       |    round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
       |  FROM inter i
       |  JOIN sizes sa ON i.doc_a = sa.doc_id
       |  JOIN sizes sb ON i.doc_b = sb.doc_id
       |  WHERE round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) >= 0.5),
       |fl AS (
       |  SELECT ex.doc_a, ex.doc_b, ex.jaccard,
       |    c.doc_a IS NOT NULL AS found
       |  FROM ex LEFT JOIN cand c ON ex.doc_a = c.doc_a AND ex.doc_b = c.doc_b)""".stripMargin

  private def PmhChain: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(nfc_normalize(text)), '\\s+')) AS tok,
       |         generate_subscripts(string_split_regex(trim(nfc_normalize(text)), '\\s+'), 1) AS ord
       |  FROM documents),
       |sh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, tok || ' ' || lead1 || ' ' || lead2 AS sh FROM (
       |    SELECT doc_id, tok,
       |      LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS lead1,
       |      LEAD(tok, 2) OVER (PARTITION BY doc_id ORDER BY ord) AS lead2
       |    FROM tok) WHERE lead2 IS NOT NULL),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |gh AS (
       |  SELECT doc_id,
       |    list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(list_filter(string_split(sh, ''), fc -> fc != ''), c -> CAST(ord(c) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % ${operators.Dedup.minhashP}) AS x
       |  FROM sh),
       |sig AS MATERIALIZED (
       |  SELECT doc_id,
       |$PmhSigMins
       |  FROM gh GROUP BY doc_id),
       |$PmhBucketCtes,
       |cand AS MATERIALIZED (
       |$PmhCandUnion),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  private def PmhSigMins: String = {
    import operators.Dedup.{pmhK, minhashC, minhashP}
    (0 until pmhK).map(i =>
      s"    MIN((x * ${2 * i + 1} + ${i.toLong * minhashC}) % $minhashP) AS m$i")
      .mkString(",\n")
  }
  private def pmhBandCols(b: Int): Seq[String] = {
    import operators.Dedup.pmhR
    (0 until pmhR).map(r => s"m${b * pmhR + r}")
  }
  private def PmhBucketCtes: String = {
    import operators.Dedup.{pmhK, pmhR}
    (0 until pmhK / pmhR).map { b =>
      val cols = pmhBandCols(b).mkString(", ")
      s"bk$b AS (SELECT $cols, COUNT(*) AS n FROM sig GROUP BY $cols)"
    }.mkString(",\n")
  }
  private def PmhCandUnion: String = {
    import operators.Dedup.{pmhK, pmhR, defaultMaxDf}
    (0 until pmhK / pmhR).map { b =>
      val eq = pmhBandCols(b).map(c => s"a.$c = b.$c").mkString(" AND ")
      val bkEq = pmhBandCols(b).map(c => s"bk$b.$c = a.$c").mkString(" AND ")
      s"""  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND $eq
         |  JOIN bk$b ON $bkEq WHERE bk$b.n <= $defaultMaxDf""".stripMargin
    }.mkString("\n  UNION\n")
  }
}
