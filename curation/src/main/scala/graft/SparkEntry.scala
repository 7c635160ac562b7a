package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{AnalyticsSuite, Relational, TrainingData}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every `queries` entry has a matching `oracleSql` entry in DuckDB dialect
  * (run by the driver over the same parquet tables), with column names and
  * output types aligned on both sides. Dialect bridges (per SURVEY §2.12):
  * strftime for yyyyMMdd, dayofweek()+1 (DuckDB is 0=Sunday),
  * generate_series for the date spine, SUM(int)→BIGINT casts (DuckDB sums
  * integers to HUGEINT), decimal sums rounded then cast DOUBLE.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q17EtlStarRollup(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_scan_filter" -> (Relational.q01ScanFilter _),
    "q02_agg_rollup" -> (Relational.q02AggRollup _),
    "q03_join_chain" -> (Relational.q03JoinChain _),
    "q04_count_distinct" -> (Relational.q04CountDistinct _),
    "q05_topk" -> (Relational.q05TopK _),
    "q06_argmax_window" -> (Relational.q06ArgmaxWindow _),
    "q07_pivot_years" -> (Relational.q07PivotYears _),
    "q08_date_parts" -> (Relational.q08DateParts _),
    "q09_date_spine" -> (Relational.q09DateSpine _),
    "q10_prefix_bucket" -> (Relational.q10PrefixBucket _),
    "q11_anti_join_orphans" -> (Relational.q11AntiJoinOrphans _),
    "q12_null_audit" -> (Relational.q12NullAudit _),
    "q13_union_rollup" -> (Relational.q13UnionRollup _),
    "q14_scalar_subquery_weekly" -> (Relational.q14ScalarSubqueryWeekly _),
    "q15_yoy_lag" -> (Relational.q15YoyLag _),
    "q16_daily_tumbling" -> (Relational.q16DailyTumbling _),
    "q17_etl_star_rollup" -> (Relational.q17EtlStarRollup _),
    "q18_json_extract" -> (Relational.q18JsonExtract _),
    "q19_sessionization" -> (Relational.q19Sessionization _),
    "q20_asof_join" -> (Relational.q20AsofJoin _),
    "q21_range_join" -> (Relational.q21RangeJoin _),
    "q22_rollup" -> (Relational.q22Rollup _),
    "q28_cube" -> (Relational.q28Cube _),
    "q29_spend_deciles" -> (Relational.q29SpendDeciles _),
    "q30_event_funnel" -> (Relational.q30EventFunnel _),
    "q31_cohort_retention" -> (Relational.q31CohortRetention _),
    "q32_merge_upsert" -> (Relational.q32MergeUpsert _),
    "q33_winsorized_stats" -> (Relational.q33WinsorizedStats _),
    "q34_time_to_convert" -> (Relational.q34TimeToConvert _),
    "q35_analyze_stats" -> (Relational.q35AnalyzeStats _),
    "q36_listagg" -> (Relational.q36Listagg _),
    "q37_regression_stats" -> (Relational.q37RegressionStats _),
    "q38_set_ops" -> (Relational.q38SetOps _),
    "q39_gap_fill" -> (Relational.q39GapFill _),
    "q40_event_transitions" -> (Relational.q40EventTransitions _),
    "q41_hll_distinct" -> (Relational.q41HllDistinct _),
    "q42_kll_quantiles" -> (Relational.q42KllQuantiles _),
    "q43_range_frame" -> (Relational.q43RangeFrame _),
    "q44_relational_division" -> (Relational.q44RelationalDivision _),
    "q45_rolling_anomaly" -> (Relational.q45RollingAnomaly _),
    "q46_attribution" -> (Relational.q46Attribution _),
    "q47_salted_join" -> (Relational.q47SaltedJoin _),
    "q48_sliding_distinct" -> (Relational.q48SlidingDistinct _),
    "q49_rank_functions" -> (Relational.q49RankFunctions _),
    "q50_sliding_hll" -> (Relational.q50SlidingDistinctHll _),
    "q51_mad_outliers" -> (Relational.q51MadOutliers _),
    "q52_event_paths" -> (Relational.q52EventPaths _),
    "q53_grouping_sets" -> (Relational.q53GroupingSets _),
    "d18_semantic_decontam" -> (TrainingData.d18SemanticDecontam _),
    "t38_rule_ablation" -> (TrainingData.t38RuleAblation _),
    "t39_cluster_split" -> (TrainingData.t39ClusterSplit _),
    "t40_dataset_card" -> (TrainingData.t40DatasetCard _),
    "s10_mmr_diverse" -> (TrainingData.s10MmrDiverse _),
    "d16_bloom_decontam" -> (TrainingData.d16BloomDecontam _),
    "d17_fuzzy_links" -> (TrainingData.d17FuzzyLinks _),
    "t37_weighted_sample" -> (TrainingData.t37WeightedSample _),
    "t32_vocab_growth" -> (TrainingData.t32VocabGrowth _),
    "t33_zipf_fit" -> ((sp, d) => TrainingData.t33ZipfFit(sp, d)),
    "t34_source_overlap" -> (TrainingData.t34SourceOverlap _),
    "t35_ngram_novelty" -> (TrainingData.t35NgramNovelty _),
    "t36_source_kl_drift" -> (TrainingData.t36SourceKlDrift _),
    "t29_split_leakage" -> (TrainingData.t29SplitLeakage _),
    "t30_quality_dedup" -> (TrainingData.t30QualityDedup _),
    "t31_usable_temp_mix" -> (TrainingData.t31UsableTemperatureMix _),
    "t23_source_dup_report" -> (TrainingData.t23SourceDupReport _),
    "t24_selection_funnel" -> (TrainingData.t24SelectionFunnel _),
    "t25_token_inventory" -> (TrainingData.t25TokenInventory _),
    "t26_expectations" -> (TrainingData.t26Expectations _),
    "t27_expectations_by_lang" -> (TrainingData.t27ExpectationsByLang _),
    "t28_pmi_collocations" -> (TrainingData.t28PmiCollocations _),
    "q23_moving_window" -> (Relational.q23MovingWindow _),
    "q24_histogram" -> ((s: SparkSession, d: String) => Relational.q24Histogram(s, d)),
    "q25_scd2" -> (Relational.q25Scd2 _),
    "q26_hopping_window" -> (Relational.q26HoppingWindow _),
    "q27_customer_churn" -> (Relational.q27CustomerChurn _),
    "t01_text_stats" -> (TrainingData.t01TextStats _),
    "t02_langid_confusion" -> (TrainingData.t02LangIdConfusion _),
    "t03_fingerprint" -> (TrainingData.t03Fingerprint _),
    "t04_doc_split" -> (TrainingData.t04DocSplit _),
    "t05_length_quantiles" -> (TrainingData.t05LengthQuantiles _),
    "t06_top_tokens" -> (TrainingData.t06TopTokens _),
    "t07_repetition" -> (TrainingData.t07Repetition _),
    "t08_pii_redact" -> (TrainingData.t08PiiRedact _),
    "t09_token_shards" -> (TrainingData.t09TokenShards _),
    "t10_bpeish_tokens" -> (TrainingData.t10BpeishTokens _),
    "t11_tfidf_top_terms" -> (TrainingData.t11TfidfTopTerms _),
    "t12_lm_bigram_score" -> (TrainingData.t12LmBigramScore _),
    "t13_chunks" -> (TrainingData.t13Chunks _),
    "t14_source_mix" -> (TrainingData.t14SourceMix _),
    "t15_curation_funnel" -> (TrainingData.t15CurationFunnel _),
    "t16_chunk_dups" -> (TrainingData.t16ChunkDups _),
    "t17_quality_rules" -> (TrainingData.t17QualityRules _),
    "t18_rebalance_sample" -> (TrainingData.t18RebalanceSample _),
    "t19_sequence_pack" -> (TrainingData.t19SequencePack _),
    "t20_importance_weights" -> (TrainingData.t20ImportanceWeights _),
    "t21_source_cap" -> ((s, d) => TrainingData.t21SourceCap(s, d)),
    "t22_temperature_mix" -> (TrainingData.t22TemperatureMix _),
    "t41_stratified_quota" -> (TrainingData.t41StratifiedQuota _),
    "t42_snapshot_diff" -> (TrainingData.t42SnapshotDiff _),
    "t43_budget_waterfill" -> (TrainingData.t43BudgetWaterfill _),
    "t44_curriculum_interleave" -> (TrainingData.t44CurriculumInterleave _),
    "t45_k_anonymity" -> (TrainingData.t45KAnonymity _),
    "q54_key_skew_report" -> (Relational.q54KeySkewReport _),
    "q55_join_size_planner" -> (Relational.q55JoinSizePlanner _),
    "q56_ivm_rollup" -> (Relational.q56IvmRollup _),
    "q57_pagerank" -> (Relational.q57PageRank _),
    "q58_heavy_hitters" -> (TrainingData.q58HeavyHitters _),
    "q59_ab_test" -> (Relational.q59AbTest _),
    "q60_sketch_ndv" -> (graft.etl.SketchStore.q60SketchNdv _),
    "t47_mix_schedule" -> (TrainingData.t47MixSchedule _),
    "s11_matryoshka_overlap" -> (TrainingData.s11MatryoshkaOverlap _),
    "s12_anisotropy" -> (TrainingData.s12AnisotropyProfile _),
    "s13_hard_negatives" -> (TrainingData.s13HardNegatives _),
    "s14_label_propagation" -> (TrainingData.s14LabelPropagation _),
    "s15_ivfpq_rerank_exact" -> (TrainingData.s15IvfPqRerankExact _),
    "s16_mmr_ann" -> (TrainingData.s16MmrAnn _),
    "s17_retrieval_eval" -> (TrainingData.s17RetrievalEval _),
    "s18_ivf_dial_sweep" -> (TrainingData.s18IvfDialSweep _),
    "s19_ivf_drift" -> (TrainingData.s19IvfDriftReport _),
    "s20_pq_rerank_sweep" -> (TrainingData.s20PqRerankSweep _),
    "s21_grid_sweep" -> (TrainingData.s21GridSweep _),
    "s22_grid_frontier" -> (TrainingData.s22GridFrontier _),
    "q61_longest_streak" -> (Relational.q61LongestStreak _),
    "d22_dup_span_coverage" -> (TrainingData.d22DupSpanCoverage _),
    "t48_bm25_topk" -> (TrainingData.t48Bm25TopK _),
    "t49_bm25_multiterm" -> (TrainingData.t49Bm25MultiTerm _),
    "t50_bm25_store_topk" -> (TrainingData.t50Bm25StoreTopK _),
    "t51_bm25_store_multiterm" -> (TrainingData.t51Bm25StoreMultiTerm _),
    "t52_hybrid_rrf" -> (TrainingData.t52HybridRrf _),
    "t54_sparse_serve" -> (TrainingData.t54SparseServe _),
    "t55_prf_expansion" -> (TrainingData.t55PrfExpansion _),
    "t56_prf_store" -> (TrainingData.t56PrfStore _),
    "t57_rank_eval" -> (TrainingData.t57RankEval _),
    "t58_lm_dirichlet" -> (TrainingData.t58LmDirichlet _),
    "t59_lm_store" -> (TrainingData.t59LmStore _),
    "t60_tri_fusion" -> (TrainingData.t60TriFusion _),
    "t61_lm_serve" -> (TrainingData.t61LmServe _),
    "t62_sparse_lm_serve" -> (TrainingData.t62SparseLmServe _),
    "t64_rank_eval_holdout" -> (TrainingData.t64RankEvalHoldout _),
    "d20_prefix_boilerplate" -> (TrainingData.d20PrefixBoilerplate _),
    "d21_minhash_calibration" -> (TrainingData.d21MinhashCalibration _),
    "t46_threshold_sweep" -> (TrainingData.t46ThresholdSweep _),
    "d01_exact_dup_groups" -> (TrainingData.d01ExactDupGroups _),
    "d02_ngram_jaccard" -> (TrainingData.d02NgramJaccard _),
    "d03_minhash_lsh" -> (TrainingData.d03MinhashLsh _),
    "d03a_lsh_recall" -> (TrainingData.d03aLshRecall _),
    "d04_simhash" -> (TrainingData.d04Simhash _),
    "d04a_simhash_recall" -> (TrainingData.d04aSimhashRecall _),
    "d05_cosine_near_dup" -> (TrainingData.d05CosineNearDup _),
    "d06_winnowing" -> (TrainingData.d06Winnowing _),
    "d06a_winnow_recall" -> (TrainingData.d06aWinnowRecall _),
    "d07_dedup_clusters" -> (TrainingData.d07DedupClusters _),
    "d19_clusters_logstar" -> (TrainingData.d19ClustersLogStar _),
    "d08_dedup_manifest" -> (TrainingData.d08DedupManifest _),
    "d09_contamination" -> (TrainingData.d09Contamination _),
    "d10_dedup_manifest_lsh" -> (TrainingData.d10DedupManifestApprox _),
    "d10a_manifest_agreement" -> (TrainingData.d10aManifestAgreement _),
    "d11_incremental_dedup" -> (TrainingData.d11IncrementalDedup _),
    "d12_cluster_sizes" -> (TrainingData.d12ClusterSizes _),
    "d13_exact_ngram_decontam" -> (TrainingData.d13ExactNgramDecontam _),
    "d14_containment" -> (TrainingData.d14Containment _),
    "d15_semantic_dedup" -> (TrainingData.d15SemanticDedup _),
    "s01_cosine_pairs" -> (TrainingData.s01CosinePairs _),
    "s02_topk_brute_force" -> (TrainingData.s02TopKBruteForce _),
    "s03_srp_ann_topk" -> (TrainingData.s03SrpAnnTopK _),
    "s03a_srp_full_dial" -> (TrainingData.s03aSrpFullDial _),
    "s04_ivf_ann_topk" -> (TrainingData.s04IvfAnnTopK _),
    "s04a_ivf_full_probe" -> (TrainingData.s04aIvfFullProbe _),
    "s05_label_centroids" -> (TrainingData.s05LabelCentroids _),
    "s06_quantization" -> (TrainingData.s06QuantizationProfile _),
    "s07_pq_ann_topk" -> (TrainingData.s07PqTopK _),
    "s07a_pq_rerank_exact" -> (TrainingData.s07aPqRerankExact _),
    "s08_knn_label_agreement" -> (TrainingData.s08KnnLabelAgreement _),
    "s09_centroid_distance" -> (TrainingData.s09CentroidDistance _),
    "s23_external_topk" -> (TrainingData.s23ExternalTopK _),
    "s24_external_srp" -> (TrainingData.s24ExternalSrp _),
    "a00_star_fact" -> (AnalyticsSuite.a00StarFact _),
    "a01_exec_summary" -> (AnalyticsSuite.a01ExecutiveSummary _),
    "a02_growth_year_sport" -> (AnalyticsSuite.a02GrowthYearSport _),
    "a03_weekly_max_year" -> (AnalyticsSuite.a03WeeklyMaxYear _),
    "a04_sport_analysis" -> (AnalyticsSuite.a04SportAnalysis _),
    "a05_country_analysis" -> (AnalyticsSuite.a05CountryAnalysis _),
    "a06_day_of_week" -> (AnalyticsSuite.a06DayOfWeek _),
    "a07_peak_day_sport" -> (AnalyticsSuite.a07PeakDayBySport _),
    "a08_sport_share" -> (AnalyticsSuite.a08SportShare _),
    "a09_yoy_growth" -> (AnalyticsSuite.a09YoyGrowth _),
    "a10_pivot_sport_year" -> (AnalyticsSuite.a10PivotSportYear _),
    "a11_peak_day_country" -> (AnalyticsSuite.a11PeakDayByCountry _)
  )

  /** Raw probabilistic forms of the verdict-registered contract rows
    * (d03/d04/d06/d10, s03/s04/s07). Their candidate sets are seeded-hash
    * / sketch products no SQL engine can reproduce, so they sit OUTSIDE
    * the driver's oracle sweep: the bench times them (the `<id>r` keys)
    * and [[graft.operators.NoOracleGoldenSpec]] pins their exact output
    * via committed input-fingerprinted goldens. The CONTRACT keys in
    * [[queries]] carry the oracle-checkable verdict forms instead. */
  def benchOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d03r_lsh_pairs" -> (TrainingData.d03RawPairs _),
    "d04r_simhash_pairs" -> (TrainingData.d04RawPairs _),
    "d06r_winnow_pairs" -> (TrainingData.d06RawPairs _),
    "d10r_manifest_lsh" -> (TrainingData.d10RawManifest _),
    "s03r_srp_topk" -> (TrainingData.s03RawTopK _),
    "s04r_ivf_topk" -> (TrainingData.s04RawTopK _),
    "s07r_pq_topk" -> (TrainingData.s07RawTopK _),
    "s15r_ivfpq_topk" -> (TrainingData.s15RawTopK _),
    "s16r_mmr_ann" -> (TrainingData.s16RawMmrAnn _),
    "s13r_hardneg_ann" -> (TrainingData.s13RawHardNegAnn _),
    "s18r_dial_sweep" -> (TrainingData.s18RawDialSweep _),
    "s20r_rerank_sweep" -> (TrainingData.s20RawRerankSweep _),
    "s21r_grid_sweep" -> (TrainingData.s21RawGridSweep _),
    "s22r_grid_frontier" -> (TrainingData.s22RawGridFrontier _),
    "t52r_hybrid_ann" -> (TrainingData.t52RawHybridAnn _),
    "t53_hybrid_store" -> (TrainingData.t53HybridStoreServe _),
    "t63_tri_store" -> (TrainingData.t63TriStoreServe _),
    "s23r_external_ivfpq" -> (TrainingData.s23RawExternalIvfPq _)) ++
    // the m-family golden queries: real-codec decode paths over the
    // committed deterministic fixture corpus — no SQL oracle can decode
    // a PPM/WAV/BMFF payload, so they are golden-pinned like the
    // probabilistic raw forms (r9 verdict #6)
    graft.multimodal.MultimodalFixtures.queries

  /** The ONE registry of every runnable entry point — contract queries
    * plus bench-only raw forms. `Explain` and the golden tooling both
    * resolve through this so the unions cannot drift. */
  def all: Map[String, (SparkSession, String) => DataFrame] =
    queries ++ benchOnly

  /** DuckDB replica of the [[graft.etl.TpchStar]] star derivation — the
    * WITH prefix shared by every a-query oracle, so all twelve check the
    * same fact the Spark side materializes. Unused CTEs are free. */
  private val starCte: String =
    """WITH fact AS (
      |  SELECT CAST(strftime(CAST(l.l_shipdate AS DATE), '%Y%m%d') AS INT) AS date_id,
      |    CAST(year(CAST(l.l_shipdate AS DATE)) AS INT) AS year,
      |    CAST(weekofyear(CAST(l.l_shipdate AS DATE)) AS INT) AS week,
      |    c.c_nationkey AS country_id,
      |    CASE WHEN p.p_name LIKE 'a%' OR p.p_name LIKE 'b%' THEN 'AB'
      |         WHEN p.p_name LIKE 'c%' THEN 'C' ELSE 'OTHER' END AS sport_name,
      |    COUNT(*) AS transaction_count,
      |    COUNT(DISTINCT o.o_custkey) AS unique_user_count,
      |    CAST(SUM(CAST(l.l_quantity AS INT) + 1) AS BIGINT) AS total_minutes_streamed,
      |    CAST(SUM(l.l_orderkey % 2) AS BIGINT) AS completed_streams,
      |    ROUND(CAST(SUM(CAST(l.l_quantity AS INT) + 1) AS DOUBLE) / COUNT(*), 2) AS avg_minutes_per_stream
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN part p ON l.l_partkey = p.p_partkey
      |  GROUP BY 1, 2, 3, 4, 5),
      |ddate AS (
      |  SELECT DISTINCT CAST(strftime(CAST(l_shipdate AS DATE), '%Y%m%d') AS INT) AS date_id,
      |    CAST(dayofweek(CAST(l_shipdate AS DATE)) + 1 AS INT) AS day_of_week
      |  FROM lineitem),
      |dcountry AS (
      |  SELECT n_nationkey AS country_id, n_name AS country_name FROM nation)
      |""".stripMargin

  /** Shared DuckDB CTE chain for the exact n-gram Jaccard pipeline
    * (shingles → df-cap → inverted-index join) — d02 selects the scored
    * pairs, d07 runs a recursive min-label closure over them, and both must
    * stay in lockstep with `Dedup.ngramJaccardPairs`. */
  /** Exact cosine top-5 for the 5-query contract — the oracle for s02
    * (brute force) AND s04a (IVF at full probe, exact by construction). */
  private val bruteTopkSql: String =
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) qv
      |           FROM embeddings WHERE vec_id < 5),
      |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) nv FROM embeddings),
      |s AS (SELECT qid, nid,
      |  list_aggregate(list_transform(range(1, len(qv)+1), i -> qv[i]*nv[i]), 'sum')
      |   / (sqrt(list_aggregate(list_transform(range(1, len(qv)+1), i -> qv[i]*qv[i]), 'sum'))
      |    * sqrt(list_aggregate(list_transform(range(1, len(nv)+1), i -> nv[i]*nv[i]), 'sum'))) AS cos
      |FROM c, q WHERE qid <> nid),
      |r AS (SELECT qid, nid, cos,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INT) AS rank
      |FROM s)
      |SELECT qid, rank, nid, round(cos, 4) AS cos FROM r
      |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** s23: the brute oracle for an EXTERNAL query batch — ids offset into
    * a disjoint space and NO `qid <> nid` self-exclusion (there is no
    * self; each query's rank-1 hit is its source row at cos 1). */
  private val externalTopkSql: String =
    """WITH q AS (SELECT vec_id + 10000 AS qid, CAST(embedding AS DOUBLE[]) qv
      |           FROM embeddings WHERE vec_id < 3),
      |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) nv FROM embeddings),
      |s AS (SELECT qid, nid,
      |  list_aggregate(list_transform(range(1, len(qv)+1), i -> qv[i]*nv[i]), 'sum')
      |   / (sqrt(list_aggregate(list_transform(range(1, len(qv)+1), i -> qv[i]*qv[i]), 'sum'))
      |    * sqrt(list_aggregate(list_transform(range(1, len(nv)+1), i -> nv[i]*nv[i]), 'sum'))) AS cos
      |FROM c, q),
      |r AS (SELECT qid, nid, cos,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INT) AS rank
      |FROM s)
      |SELECT qid, rank, nid, round(cos, 4) AS cos FROM r
      |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  private val ngramCtes: String =
    """toks AS (SELECT doc_id,
      |    string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(1, greatest(len(t)-1, 1)),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      |  FROM toks WHERE len(t) >= 3),
      |rare AS (SELECT shingle FROM sh0 GROUP BY 1 HAVING COUNT(*) <= 1000),
      |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN rare USING (shingle)),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
      |common AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** Recursive-CTE connected components over the exact Jaccard pairs —
    * the single oracle both cluster algorithms (d07 min-label
    * propagation, d19 large-star/small-star) must reproduce. */
  /** q57 oracle: the PageRank fixpoint UNROLLED into one CTE pair per
    * power iteration (the s10 discipline for iterated algorithms). Every
    * arithmetic step mirrors the Spark side exactly — unrounded
    * row-normalized weights, DECIMAL(38,18) inflow sums (order-invariant
    * on both engines), double teleport/damping combine — so iteration k's
    * ranks are bit-identical and the 6-dp round at the end cannot sit on
    * an engine gap. Generated by loop: the SQL is mechanical and the
    * iteration count must track `q57PageRank`'s. */
  private lazy val pagerankOracleSql: String = {
    val iters = 20
    val head =
      """WITH p0 AS (SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS next_type
        |  FROM events),
        |m AS (SELECT event_type AS src, next_type AS dst, COUNT(*) AS n
        |  FROM p0 WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |edges0 AS (SELECT src, dst,
        |    CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY src) AS w
        |  FROM m),
        |sinks AS (SELECT DISTINCT dst AS id FROM m d
        |  WHERE NOT EXISTS (SELECT 1 FROM m s WHERE s.src = d.dst)),
        |edges AS (SELECT * FROM edges0
        |  UNION ALL SELECT id, id, CAST(1 AS DOUBLE) FROM sinks),
        |nodes AS (SELECT DISTINCT src AS id FROM m
        |          UNION SELECT DISTINCT dst FROM m),
        |nn AS (SELECT COUNT(*) AS n FROM nodes),
        |r0 AS (SELECT id, CAST(1 AS DOUBLE) / nn.n AS r FROM nodes, nn)"""
        .stripMargin
    val steps = (1 to iters).map { k =>
      s"""c$k AS (SELECT e.dst AS id,
         |    CAST(SUM(CAST(p.r * e.w AS DECIMAL(38,18))) AS DOUBLE) AS inflow
         |  FROM edges e JOIN r${k - 1} p ON p.id = e.src GROUP BY 1),
         |r$k AS (SELECT n.id,
         |    (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
         |      + CAST(0.85 AS DOUBLE) * COALESCE(c.inflow, CAST(0 AS DOUBLE))
         |      AS r
         |  FROM nodes n CROSS JOIN nn LEFT JOIN c$k c ON c.id = n.id)"""
        .stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT id AS event_type, round(r, 6) AS rank FROM r$iters ORDER BY 1"
  }

  /** s14 oracle: exact 5-NN graph over the pinned 500-vector pool, then
    * the 5 majority-vote rounds unrolled (q57/s10 discipline). The
    * majority tie-break (votes DESC, label ASC) replays Spark's
    * struct-MAX exactly. */
  private lazy val labelPropOracleSql: String = {
    val iters = 5
    val head =
      """WITH e0 AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) v, label
        |  FROM embeddings WHERE vec_id < 500),
        |pc AS (SELECT a.id AS qid, b.id AS nid,
        |  list_aggregate(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i]), 'sum')
        |   / (sqrt(list_aggregate(list_transform(range(1, len(a.v)+1), i -> a.v[i]*a.v[i]), 'sum'))
        |    * sqrt(list_aggregate(list_transform(range(1, len(b.v)+1), i -> b.v[i]*b.v[i]), 'sum'))) AS cos
        |  FROM e0 a, e0 b WHERE a.id <> b.id),
        |knn AS (SELECT qid AS src, nid AS dst FROM (
        |    SELECT qid, nid,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
        |    FROM pc) WHERE rn <= 5),
        |seeds AS (SELECT id, label FROM e0 WHERE id % 5 = 0),
        |l0 AS (SELECT e0.id, s.label AS lab FROM e0 LEFT JOIN seeds s USING (id))"""
        .stripMargin
    val steps = (1 to iters).map { k =>
      s"""v$k AS (SELECT kk.src, l.lab, COUNT(*) AS v
         |  FROM knn kk JOIN l${k - 1} l ON l.id = kk.dst
         |  WHERE l.lab IS NOT NULL GROUP BY 1, 2),
         |w$k AS (SELECT src, lab FROM (
         |    SELECT src, lab, ROW_NUMBER() OVER (PARTITION BY src
         |      ORDER BY v DESC, lab) AS rn FROM v$k) WHERE rn = 1),
         |l$k AS (SELECT p.id, COALESCE(s.label, w.lab, p.lab) AS lab
         |  FROM l${k - 1} p
         |  LEFT JOIN seeds s ON s.id = p.id
         |  LEFT JOIN w$k w ON w.src = p.id)"""
        .stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"""
         |SELECT e0.id AS vec_id,
         |  CAST(COALESCE(l$iters.lab, -1) AS INT) AS propagated,
         |  e0.label AS true_label, e0.id % 5 = 0 AS is_seed
         |FROM e0 JOIN l$iters ON l$iters.id = e0.id ORDER BY 1""".stripMargin
  }

  private lazy val clustersOracleSql: String =
    s"""WITH RECURSIVE $ngramCtes,
      |pairs AS (SELECT d1, d2 FROM common
      |  JOIN sizes s1 ON d1 = s1.doc_id
      |  JOIN sizes s2 ON d2 = s2.doc_id
      |  WHERE CAST(c AS DOUBLE)/(s1.sz + s2.sz - c) >= 0.2),
      |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
      |  UNION ALL SELECT d2, d1 FROM pairs),
      |walk AS (
      |  SELECT src AS id, src AS label FROM edges
      |  UNION
      |  SELECT e.src AS id, w.label FROM walk w JOIN edges e ON e.dst = w.id)
      |SELECT id AS doc_id, MIN(label) AS cluster_id
      |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin

  /** Shared DuckDB CTE chain for the dedup MANIFEST (d08/d12): exact
    * evidence from fingerprint groups, near evidence computed over the
    * fp-group REPRESENTATIVES only — in lockstep with
    * `Dedup.manifestFromPairs`, including the df-cap being counted over
    * representatives (counting it over all docs would diverge at the cap
    * boundary on duplicate-heavy corpora). */
  private val manifestCtes: String =
    """fps AS (SELECT doc_id,
      |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      |  FROM documents),
      |rep AS (SELECT MIN(doc_id) AS doc_id FROM fps GROUP BY fp),
      |rtoks AS (SELECT d.doc_id,
      |    string_split_regex(lower(trim(d.text)), '\s+') AS t
      |  FROM documents d JOIN rep USING (doc_id)),
      |rsh0 AS (SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(1, greatest(len(t)-1, 1)),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      |  FROM rtoks WHERE len(t) >= 3),
      |rrare AS (SELECT shingle FROM rsh0 GROUP BY 1 HAVING COUNT(*) <= 1000),
      |rsh AS (SELECT rsh0.doc_id, rsh0.shingle FROM rsh0 JOIN rrare USING (shingle)),
      |rsizes AS (SELECT doc_id, COUNT(*) AS sz FROM rsh GROUP BY 1),
      |rcommon AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
      |  FROM rsh a JOIN rsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |near AS (SELECT d1, d2 FROM rcommon
      |  JOIN rsizes s1 ON d1 = s1.doc_id
      |  JOIN rsizes s2 ON d2 = s2.doc_id
      |  WHERE CAST(c AS DOUBLE)/(s1.sz + s2.sz - c) >= 0.2),
      |exact AS (SELECT a.doc_id AS d1, b.doc_id AS d2
      |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id),
      |mpairs AS (SELECT d1, d2 FROM exact UNION SELECT d1, d2 FROM near),
      |medges AS (SELECT d1 AS src, d2 AS dst FROM mpairs
      |  UNION ALL SELECT d2, d1 FROM mpairs),
      |mwalk AS (
      |  SELECT src AS id, src AS label FROM medges
      |  UNION
      |  SELECT e.src AS id, w.label FROM mwalk w JOIN medges e ON e.dst = w.id),
      |mclusters AS (SELECT id AS doc_id, MIN(label) AS cluster_id
      |  FROM mwalk GROUP BY 1),
      |manifest AS (SELECT d.doc_id,
      |    coalesce(c.cluster_id, d.doc_id) AS keeper_id
      |  FROM documents d LEFT JOIN mclusters c USING (doc_id))""".stripMargin

  /** For each key in queries, equivalent SQL runnable by DuckDB on the same
    * parquet tables. Omit for non-SQL-expressible ops. */
  /** The BM25 oracles, shared verbatim by the from-scratch rows (t48/
    * t49) and the persisted-index rows (t50/t51): the index stores only
    * tf/dl and re-derives df/N through the same arithmetic, so all four
    * must reproduce this one SQL text exactly. */
  private val bm25TopkOracle: String =
    """WITH toks AS (SELECT doc_id,
        |    unnest(regexp_extract_all(lower(trim(text)), '\S+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |top AS (SELECT term, df FROM df ORDER BY df DESC, term LIMIT 3),
        |dl AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(trim(text)), '\S+')) AS BIGINT) AS dl
        |  FROM documents),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
        |s AS (SELECT t.term, t.doc_id,
        |    ln((n_docs - f.df + 0.5) / (f.df + 0.5) + 1)
        |      * (t.tf * CAST(1.2 + 1 AS DOUBLE)) / (t.tf + 1.2 * (0.25 + 0.75 * d.dl
        |        / (CAST(sum_dl AS DOUBLE) / n_docs))) AS score
        |  FROM tf t JOIN top f USING (term) JOIN dl d USING (doc_id)
        |  CROSS JOIN st),
        |r AS (SELECT term, doc_id, score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY term
        |      ORDER BY score DESC, doc_id) AS INT) AS rank FROM s)
        |SELECT term, rank, doc_id, ROUND(score, 4) AS bm25 FROM r
        |WHERE rank <= 10 ORDER BY term, rank""".stripMargin

  private val bm25MultiOracle: String =
    """WITH toks AS (SELECT doc_id,
        |    unnest(regexp_extract_all(lower(trim(text)), '\S+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |top9 AS (SELECT term, ROW_NUMBER() OVER (ORDER BY df DESC, term) AS rn
        |         FROM df ORDER BY df DESC, term LIMIT 9),
        |qs0 AS (SELECT CAST(floor((rn - 1) / 3) AS INT) AS query_id, term
        |        FROM top9),
        |qs AS (SELECT query_id, qs0.term, f.df,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qs0.term)
        |      AS INT) AS slot
        |  FROM qs0 JOIN df f ON qs0.term = f.term),
        |dl AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(trim(text)), '\S+')) AS BIGINT) AS dl
        |  FROM documents),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
        |s AS (SELECT q.query_id, q.slot, t.doc_id,
        |    ln((n_docs - q.df + 0.5) / (q.df + 0.5) + 1)
        |      * (t.tf * CAST(1.2 + 1 AS DOUBLE)) / (t.tf + 1.2 * (0.25 + 0.75 * d.dl
        |        / (CAST(sum_dl AS DOUBLE) / n_docs))) AS score
        |  FROM tf t JOIN qs q ON t.term = q.term JOIN dl d USING (doc_id)
        |  CROSS JOIN st),
        |agg AS (SELECT query_id, doc_id,
        |    list_aggregate(list(score ORDER BY slot), 'sum') AS score,
        |    CAST(COUNT(*) AS BIGINT) AS n_terms_hit
        |  FROM s GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, score, n_terms_hit,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id) AS INT) AS rank FROM agg)
        |SELECT query_id, rank, doc_id, ROUND(score, 4) AS bm25, n_terms_hit
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** t55/t56: the two-pass PRF pipeline replayed by DuckDB — stage-1
    * scoring is the t49 arithmetic verbatim; the feedback shortlist,
    * expansion-term weights (within-document rate folded in
    * feedback-rank order), and the union-set requery all mirror the
    * Spark plan's fixed-association folds token for token. Slots
    * number the terms AFTER the df join (both engines), so the fold
    * order is over scored terms only. */
  private val prfOracle: String =
    """WITH toks AS (SELECT doc_id,
        |    unnest(regexp_extract_all(lower(trim(text)), '\S+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |top9 AS (SELECT term, ROW_NUMBER() OVER (ORDER BY df DESC, term) AS rn
        |         FROM df ORDER BY df DESC, term LIMIT 9),
        |qs0 AS (SELECT CAST(floor((rn - 1) / 3) AS INT) AS query_id, term
        |        FROM top9),
        |dl AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(trim(text)), '\S+')) AS BIGINT) AS dl
        |  FROM documents),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
        |qs1 AS (SELECT query_id, qs0.term, f.df,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qs0.term)
        |      AS INT) AS slot
        |  FROM qs0 JOIN df f ON qs0.term = f.term),
        |s1 AS (SELECT q.query_id, q.slot, t.doc_id,
        |    ln((n_docs - q.df + 0.5) / (q.df + 0.5) + 1)
        |      * (t.tf * CAST(1.2 + 1 AS DOUBLE)) / (t.tf + 1.2 * (0.25 + 0.75 * d.dl
        |        / (CAST(sum_dl AS DOUBLE) / n_docs))) AS score
        |  FROM tf t JOIN qs1 q ON t.term = q.term JOIN dl d USING (doc_id)
        |  CROSS JOIN st),
        |agg1 AS (SELECT query_id, doc_id,
        |    list_aggregate(list(score ORDER BY slot), 'sum') AS score
        |  FROM s1 GROUP BY 1, 2),
        |fb0 AS (SELECT query_id, doc_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id) AS INT) AS rank FROM agg1),
        |fb AS (SELECT query_id, doc_id, rank FROM fb0 WHERE rank <= 3),
        |wgt AS (SELECT f.query_id, t.term,
        |    list_aggregate(list(CAST(t.tf AS DOUBLE) / d.dl ORDER BY f.rank),
        |      'sum') AS w
        |  FROM fb f JOIN tf t ON t.doc_id = f.doc_id
        |  JOIN dl d ON d.doc_id = f.doc_id
        |  WHERE NOT EXISTS (SELECT 1 FROM qs0 q
        |    WHERE q.query_id = f.query_id AND q.term = t.term)
        |  GROUP BY 1, 2),
        |exp0 AS (SELECT query_id, term,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY w DESC, term)
        |      AS erank FROM wgt),
        |expt AS (SELECT query_id, term FROM exp0 WHERE erank <= 2),
        |allt AS (SELECT query_id, term FROM qs0
        |         UNION SELECT query_id, term FROM expt),
        |qs2 AS (SELECT query_id, allt.term, f.df,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY allt.term)
        |      AS INT) AS slot
        |  FROM allt JOIN df f ON allt.term = f.term),
        |s2 AS (SELECT q.query_id, q.slot, t.doc_id,
        |    ln((n_docs - q.df + 0.5) / (q.df + 0.5) + 1)
        |      * (t.tf * CAST(1.2 + 1 AS DOUBLE)) / (t.tf + 1.2 * (0.25 + 0.75 * d.dl
        |        / (CAST(sum_dl AS DOUBLE) / n_docs))) AS score
        |  FROM tf t JOIN qs2 q ON t.term = q.term JOIN dl d USING (doc_id)
        |  CROSS JOIN st),
        |agg2 AS (SELECT query_id, doc_id,
        |    list_aggregate(list(score ORDER BY slot), 'sum') AS score,
        |    CAST(COUNT(*) AS BIGINT) AS n_terms_hit
        |  FROM s2 GROUP BY 1, 2),
        |r2 AS (SELECT query_id, doc_id, score, n_terms_hit,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id) AS INT) AS rank FROM agg2)
        |SELECT query_id, rank, doc_id, ROUND(score, 4) AS bm25, n_terms_hit
        |FROM r2 WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** t58/t59: the Dirichlet query-likelihood scorer — the same probe
    * fixture and fold discipline as the BM25 oracles; `CAST(2000 AS
    * DOUBLE)` everywhere a μ literal appears (the t48 DECIMAL gotcha). */
  private val lmOracle: String =
    """WITH toks AS (SELECT doc_id,
        |    unnest(regexp_extract_all(lower(trim(text)), '\S+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |top9 AS (SELECT term, ROW_NUMBER() OVER (ORDER BY df DESC, term) AS rn
        |         FROM df ORDER BY df DESC, term LIMIT 9),
        |qs0 AS (SELECT CAST(floor((rn - 1) / 3) AS INT) AS query_id, term
        |        FROM top9),
        |ctf AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS ctf FROM tf GROUP BY 1),
        |qs AS (SELECT query_id, qs0.term, c.ctf,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qs0.term)
        |      AS INT) AS slot
        |  FROM qs0 JOIN ctf c ON qs0.term = c.term),
        |qn AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS nq
        |       FROM qs GROUP BY 1),
        |dl AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(trim(text)), '\S+')) AS BIGINT) AS dl
        |  FROM documents),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
        |s AS (SELECT q.query_id, q.slot, t.doc_id,
        |    ln(1 + (t.tf * CAST(sum_dl AS DOUBLE))
        |      / (CAST(2000 AS DOUBLE) * q.ctf)) AS c
        |  FROM tf t JOIN qs q ON t.term = q.term CROSS JOIN st),
        |agg AS (SELECT query_id, doc_id,
        |    list_aggregate(list(c ORDER BY slot), 'sum') AS tsum,
        |    CAST(COUNT(*) AS BIGINT) AS n_terms_hit
        |  FROM s GROUP BY 1, 2),
        |sc AS (SELECT a.query_id, a.doc_id, a.n_terms_hit,
        |    a.tsum + n.nq * ln(CAST(2000 AS DOUBLE)
        |      / (d.dl + CAST(2000 AS DOUBLE))) AS score
        |  FROM agg a JOIN dl d USING (doc_id) JOIN qn n USING (query_id)),
        |r AS (SELECT query_id, doc_id, score, n_terms_hit,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id) AS INT) AS rank FROM sc)
        |SELECT query_id, rank, doc_id, ROUND(score, 4) AS ql, n_terms_hit
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** t57/t64: the ranked-list eval replayed by DuckDB — the t49 run
    * (optionally restricted by `runFilter`, t64's holdout) against
    * term-containment judgments; both DCG folds in explicit rank order,
    * linear integer gains, one double division per discount (the bm25
    * determinism discipline). The final join is FULL OUTER against the
    * judgment side (round 14, the Spark side's contract): a judged
    * query absent from the run emits a zero-metric row with its true
    * n_rel, a run-only unjudged query keeps NULL ndcg/recall/ap. */
  private def rankEvalOracle(runFilter: String): String =
    s"""WITH toks AS (SELECT doc_id,
       |    unnest(regexp_extract_all(lower(trim(text)), '\\S+')) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       |       FROM toks GROUP BY 1, 2),
       |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |top9 AS (SELECT term, ROW_NUMBER() OVER (ORDER BY df DESC, term) AS rn
       |         FROM df ORDER BY df DESC, term LIMIT 9),
       |qs0 AS (SELECT CAST(floor((rn - 1) / 3) AS INT) AS query_id, term
       |        FROM top9),
       |qs AS (SELECT query_id, qs0.term, f.df,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qs0.term)
       |      AS INT) AS slot
       |  FROM qs0 JOIN df f ON qs0.term = f.term),
       |dl AS (SELECT doc_id,
       |    CAST(len(regexp_extract_all(lower(trim(text)), '\\S+')) AS BIGINT) AS dl
       |  FROM documents),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
       |s AS (SELECT q.query_id, q.slot, t.doc_id,
       |    ln((n_docs - q.df + 0.5) / (q.df + 0.5) + 1)
       |      * (t.tf * CAST(1.2 + 1 AS DOUBLE)) / (t.tf + 1.2 * (0.25 + 0.75 * d.dl
       |        / (CAST(sum_dl AS DOUBLE) / n_docs))) AS score
       |  FROM tf t JOIN qs q ON t.term = q.term JOIN dl d USING (doc_id)
       |  CROSS JOIN st),
       |agg AS (SELECT query_id, doc_id,
       |    list_aggregate(list(score ORDER BY slot), 'sum') AS score
       |  FROM s GROUP BY 1, 2),
       |rr AS (SELECT query_id, doc_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id) AS INT) AS rank FROM agg),
       |run AS (SELECT query_id, doc_id, rank FROM rr
       |        WHERE rank <= 10$runFilter),
       |qrels AS (SELECT q.query_id, t.doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS grade
       |  FROM qs0 q JOIN tf t ON t.term = q.term GROUP BY 1, 2),
       |hit AS (SELECT r.query_id, r.rank, COALESCE(l.grade, 0) AS grade
       |  FROM run r LEFT JOIN qrels l
       |    ON l.query_id = r.query_id AND l.doc_id = r.doc_id),
       |hit2 AS (SELECT query_id, rank, grade,
       |    SUM(CASE WHEN grade > 0 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY query_id ORDER BY rank) AS cum_rel
       |  FROM hit),
       |d AS (SELECT query_id,
       |    list_aggregate(list(CAST(grade AS DOUBLE)
       |      / log2(rank + CAST(1 AS DOUBLE)) ORDER BY rank), 'sum') AS dcg,
       |    list_aggregate(list(CASE WHEN grade > 0
       |      THEN CAST(cum_rel AS DOUBLE) / rank
       |      ELSE CAST(0 AS DOUBLE) END ORDER BY rank), 'sum') AS ap_sum,
       |    MIN(CASE WHEN grade > 0 THEN rank END) AS first_rel,
       |    CAST(SUM(CASE WHEN grade > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS rel_in_k
       |  FROM hit2 GROUP BY 1),
       |ideal0 AS (SELECT query_id, grade,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY grade DESC, doc_id) AS irank FROM qrels),
       |i AS (SELECT query_id,
       |    list_aggregate(list(CAST(grade AS DOUBLE)
       |      / log2(irank + CAST(1 AS DOUBLE)) ORDER BY irank), 'sum') AS idcg
       |  FROM ideal0 WHERE irank <= 10 GROUP BY 1),
       |nr AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
       |       FROM qrels GROUP BY 1)
       |SELECT CAST(query_id AS BIGINT) AS query_id,
       |  ROUND(COALESCE(d.dcg, CAST(0 AS DOUBLE)) / i.idcg, 6) AS ndcg_at_k,
       |  ROUND(COALESCE(CAST(1 AS DOUBLE) / d.first_rel,
       |    CAST(0 AS DOUBLE)), 6) AS mrr,
       |  ROUND(CAST(COALESCE(d.rel_in_k, 0) AS DOUBLE) / nr.n_rel, 6)
       |    AS recall_at_k,
       |  ROUND(COALESCE(d.ap_sum, CAST(0 AS DOUBLE)) / nr.n_rel, 6)
       |    AS ap_at_k,
       |  COALESCE(nr.n_rel, 0) AS n_rel
       |FROM d FULL OUTER JOIN i USING (query_id) LEFT JOIN nr USING (query_id)
       |ORDER BY query_id""".stripMargin

  /** t52: the whole hybrid composition replayed by DuckDB — the dense
    * side is the SQL-expressible exact-cosine top-10 (the s02 oracle
    * shape at k=10 over queries 0-2), the sparse side the t49 oracle
    * VERBATIM (the shared val), fused with the fixed-order RRF sum.
    * `CAST(1 AS DOUBLE)` before the divisions: DuckDB types a bare 1.0
    * as DECIMAL and decimal division is exact-decimal, up to 1 ulp off
    * Spark's double path (the t48 gotcha). */
  private val rrfOracle: String =
    """WITH dense AS (
      |  WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) qv
      |             FROM embeddings WHERE vec_id < 3),
      |  c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) nv FROM embeddings),
      |  sc AS (SELECT qid, nid,
      |    list_aggregate(list_transform(range(1, len(qv)+1), i -> qv[i]*nv[i]), 'sum')
      |     / (sqrt(list_aggregate(list_transform(range(1, len(qv)+1), i -> qv[i]*qv[i]), 'sum'))
      |      * sqrt(list_aggregate(list_transform(range(1, len(nv)+1), i -> nv[i]*nv[i]), 'sum'))) AS cos
      |  FROM c, q WHERE qid <> nid),
      |  rr AS (SELECT qid, nid, cos,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INT) AS rank
      |  FROM sc)
      |  SELECT qid AS query_id, rank, nid AS doc_id FROM rr WHERE rank <= 10),
      |sparse AS (
      |""".stripMargin + bm25MultiOracle + """
      |),
      |f AS (SELECT COALESCE(d.query_id, s.query_id) AS query_id,
      |    COALESCE(d.doc_id, s.doc_id) AS doc_id,
      |    COALESCE(CAST(1 AS DOUBLE) / (60 + d.rank), CAST(0 AS DOUBLE)) +
      |    COALESCE(CAST(1 AS DOUBLE) / (60 + s.rank), CAST(0 AS DOUBLE)) AS rrf,
      |    d.rank AS dense_rank, s.rank AS sparse_rank,
      |    CAST((CASE WHEN d.rank IS NULL THEN 0 ELSE 1 END)
      |      + (CASE WHEN s.rank IS NULL THEN 0 ELSE 1 END) AS INT) AS n_lists
      |  FROM dense d FULL OUTER JOIN sparse s
      |    ON d.query_id = s.query_id AND d.doc_id = s.doc_id),
      |r2 AS (SELECT query_id, doc_id, rrf, dense_rank, sparse_rank, n_lists,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY rrf DESC, doc_id) AS INT) AS rank FROM f)
      |SELECT CAST(query_id AS BIGINT) AS query_id, rank,
      |  CAST(doc_id AS BIGINT) AS doc_id, ROUND(rrf, 6) AS rrf,
      |  dense_rank, sparse_rank, n_lists
      |FROM r2 WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "a00_star_fact" -> (starCte +
      """SELECT date_id, year, week, country_id, sport_name, transaction_count,
        |  unique_user_count, total_minutes_streamed, completed_streams,
        |  avg_minutes_per_stream
        |FROM fact ORDER BY date_id, country_id, sport_name""".stripMargin),
    "a01_exec_summary" -> (starCte +
      """SELECT CAST(SUM(transaction_count) AS BIGINT) AS total_transactions,
        |  CAST(SUM(total_minutes_streamed) AS BIGINT) AS total_minutes,
        |  CAST(SUM(completed_streams) AS BIGINT) AS total_completed,
        |  COUNT(DISTINCT date_id) AS days,
        |  COUNT(DISTINCT country_id) AS countries,
        |  COUNT(DISTINCT sport_name) AS sports,
        |  MIN(year) AS first_year, MAX(year) AS last_year
        |FROM fact""".stripMargin),
    "a02_growth_year_sport" -> (starCte +
      """SELECT year, sport_name,
        |  CAST(SUM(transaction_count) AS BIGINT) AS streaming_events,
        |  ROUND(CAST(SUM(total_minutes_streamed) AS DOUBLE) / 60.0, 1) AS total_hours
        |FROM fact GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "a03_weekly_max_year" -> (starCte +
      """SELECT week, CAST(SUM(transaction_count) AS BIGINT) AS transactions
        |FROM fact WHERE year = (SELECT MAX(year) FROM fact)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    "a04_sport_analysis" -> (starCte +
      """SELECT sport_name,
        |  CAST(SUM(transaction_count) AS BIGINT) AS transactions,
        |  ROUND(CAST(SUM(total_minutes_streamed) AS DOUBLE) / 60.0, 1) AS total_hours,
        |  ROUND(CAST(SUM(CAST(avg_minutes_per_stream AS DECIMAL(18,4))) AS DOUBLE)
        |        / COUNT(avg_minutes_per_stream), 2) AS avg_of_avgs,
        |  ROUND(CAST(SUM(total_minutes_streamed) AS DOUBLE)
        |        / CAST(SUM(transaction_count) AS DOUBLE), 1) AS minutes_per_stream
        |FROM fact GROUP BY 1 ORDER BY transactions DESC""".stripMargin),
    "a05_country_analysis" -> (starCte +
      """SELECT country_name,
        |  CAST(SUM(transaction_count) AS BIGINT) AS transactions,
        |  ROUND(CAST(SUM(total_minutes_streamed) AS DOUBLE) / 60.0, 1) AS total_hours,
        |  ROUND(CAST(SUM(total_minutes_streamed) AS DOUBLE)
        |        / CAST(SUM(transaction_count) AS DOUBLE), 1) AS minutes_per_stream
        |FROM fact JOIN dcountry USING (country_id)
        |GROUP BY 1 ORDER BY transactions DESC""".stripMargin),
    "a06_day_of_week" -> (starCte +
      """SELECT day_of_week,
        |  CAST(SUM(transaction_count) AS BIGINT) AS transactions,
        |  CAST(SUM(total_minutes_streamed) AS BIGINT) AS total_minutes
        |FROM fact JOIN ddate USING (date_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    "a07_peak_day_sport" -> (starCte +
      """SELECT sport_name, day_of_week, total_minutes FROM (
        |  SELECT sport_name, day_of_week, total_minutes,
        |    ROW_NUMBER() OVER (PARTITION BY sport_name
        |                       ORDER BY total_minutes DESC, day_of_week) AS rn
        |  FROM (SELECT sport_name, day_of_week,
        |          CAST(SUM(total_minutes_streamed) AS BIGINT) AS total_minutes
        |        FROM fact JOIN ddate USING (date_id) GROUP BY 1, 2))
        |WHERE rn = 1 ORDER BY sport_name""".stripMargin),
    "a08_sport_share" -> (starCte +
      """SELECT sport_name, transactions,
        |  ROUND(transactions * 100.0 / SUM(transactions) OVER (), 1) AS pct_share
        |FROM (SELECT sport_name, CAST(SUM(transaction_count) AS BIGINT) AS transactions
        |      FROM fact GROUP BY 1)
        |ORDER BY transactions DESC""".stripMargin),
    "a09_yoy_growth" -> (starCte +
      """SELECT year, transactions,
        |  ROUND((transactions - LAG(transactions) OVER (ORDER BY year)) * 100.0
        |        / NULLIF(LAG(transactions) OVER (ORDER BY year), 0), 1) AS yoy_pct
        |FROM (SELECT year, CAST(SUM(transaction_count) AS BIGINT) AS transactions
        |      FROM fact GROUP BY 1)
        |ORDER BY year""".stripMargin),
    "a10_pivot_sport_year" -> (starCte +
      """SELECT sport_name,
        |  CAST(SUM(CASE WHEN year = 1999 THEN transaction_count ELSE 0 END) AS BIGINT) AS "1999",
        |  CAST(SUM(CASE WHEN year = 2000 THEN transaction_count ELSE 0 END) AS BIGINT) AS "2000",
        |  CAST(SUM(CASE WHEN year = 2001 THEN transaction_count ELSE 0 END) AS BIGINT) AS "2001"
        |FROM fact GROUP BY 1 ORDER BY 1""".stripMargin),
    "a11_peak_day_country" -> (starCte +
      """SELECT country_name, day_of_week, total_minutes FROM (
        |  SELECT country_name, day_of_week, total_minutes,
        |    ROW_NUMBER() OVER (PARTITION BY country_name
        |                       ORDER BY total_minutes DESC, day_of_week) AS rn
        |  FROM (SELECT country_name, day_of_week,
        |          CAST(SUM(total_minutes_streamed) AS BIGINT) AS total_minutes
        |        FROM fact JOIN ddate USING (date_id) JOIN dcountry USING (country_id)
        |        GROUP BY 1, 2))
        |WHERE rn = 1 ORDER BY country_name""".stripMargin),
    "q01_scan_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity > 30 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q02_agg_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base,
        |  CAST(ROUND(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_disc,
        |  COUNT(*) AS cnt,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 2) AS ratio_of_sums
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q03_join_chain" ->
      """SELECT r.r_name, n.n_name, COUNT(*) AS customers,
        |  CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_bal
        |FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name, n.n_name ORDER BY r.r_name, n.n_name""".stripMargin,
    "q04_count_distinct" ->
      """SELECT o_orderpriority, COUNT(*) AS orders,
        |  COUNT(DISTINCT o_custkey) AS uniq_custs
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q05_topk" ->
      """SELECT c.c_name,
        |  CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_name ORDER BY revenue DESC, c.c_name LIMIT 10""".stripMargin,
    "q06_argmax_window" ->
      """SELECT n_name, o_orderpriority, cnt, CAST(rn AS INT) AS rn FROM (
        |  SELECT n_name, o_orderpriority, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY cnt DESC, o_orderpriority) AS rn
        |  FROM (SELECT n.n_name, o.o_orderpriority, COUNT(*) AS cnt
        |        FROM orders o
        |        JOIN customer c ON o.o_custkey = c.c_custkey
        |        JOIN nation n ON c.c_nationkey = n.n_nationkey
        |        GROUP BY n.n_name, o.o_orderpriority) t
        |) s WHERE rn = 1 ORDER BY n_name""".stripMargin,
    "q07_pivot_years" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN year(o_orderdate) = 1999 THEN 1 ELSE 0 END) AS BIGINT) AS y1999,
        |  CAST(SUM(CASE WHEN year(o_orderdate) = 2000 THEN 1 ELSE 0 END) AS BIGINT) AS y2000,
        |  CAST(SUM(CASE WHEN year(o_orderdate) = 2001 THEN 1 ELSE 0 END) AS BIGINT) AS y2001
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q08_date_parts" ->
      """SELECT o_orderkey,
        |  CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS date_id,
        |  CAST(year(o_orderdate) AS INT) AS yr,
        |  CAST(quarter(o_orderdate) AS INT) AS qtr,
        |  CAST(month(o_orderdate) AS INT) AS mon,
        |  CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
        |  CAST(day(o_orderdate) AS INT) AS dom,
        |  CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow
        |FROM orders ORDER BY o_orderkey LIMIT 100""".stripMargin,
    "q09_date_spine" ->
      """SELECT CAST(unnest(generate_series(d1, d2, INTERVAL 1 DAY)) AS DATE) AS d
        |FROM (SELECT MIN(CAST(o_orderdate AS DATE)) AS d1,
        |             MAX(CAST(o_orderdate AS DATE)) AS d2 FROM orders)
        |ORDER BY d""".stripMargin,
    "q10_prefix_bucket" ->
      """SELECT CASE WHEN p_name LIKE 'a%' OR p_name LIKE 'b%' THEN 'AB'
        |            WHEN p_name LIKE 'c%' THEN 'C'
        |            ELSE 'OTHER' END AS bucket,
        |  COUNT(*) AS n
        |FROM part GROUP BY 1 ORDER BY 1""".stripMargin,
    "q11_anti_join_orphans" ->
      """SELECT COUNT(*) AS orphans FROM lineitem l
        |WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)""".stripMargin,
    "q12_null_audit" ->
      """SELECT event_type,
        |  CAST(ROUND(SUM(COALESCE(CAST(value AS DECIMAL(18,4)), 0)), 2) AS DOUBLE) AS total_value,
        |  CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q13_union_rollup" ->
      """WITH unioned AS (
        |  SELECT * FROM lineitem WHERE l_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT * FROM lineitem WHERE l_orderkey % 2 = 1
        |)
        |SELECT l_returnflag, COUNT(*) AS cnt,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS qty
        |FROM unioned GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q14_scalar_subquery_weekly" ->
      """SELECT CAST(weekofyear(o_orderdate) AS INT) AS wk, COUNT(*) AS orders
        |FROM orders
        |WHERE year(o_orderdate) = (SELECT MAX(year(o_orderdate)) FROM orders)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q15_yoy_lag" ->
      """SELECT yr, cnt,
        |  ROUND((cnt - LAG(cnt) OVER (ORDER BY yr)) * 100.0
        |        / NULLIF(LAG(cnt) OVER (ORDER BY yr), 0), 1) AS yoy_pct
        |FROM (SELECT CAST(year(o_orderdate) AS INT) AS yr, COUNT(*) AS cnt
        |      FROM orders GROUP BY 1)
        |ORDER BY yr""".stripMargin,
    "q16_daily_tumbling" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS events,
        |  COUNT(DISTINCT user_id) AS uniq_users,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q17_etl_star_rollup" ->
      """SELECT CAST(l.l_shipdate AS DATE) AS d, n.n_name,
        |  CASE WHEN p.p_name LIKE 'a%' OR p.p_name LIKE 'b%' THEN 'AB'
        |       WHEN p.p_name LIKE 'c%' THEN 'C'
        |       ELSE 'OTHER' END AS bucket,
        |  COUNT(*) AS transaction_count,
        |  COUNT(DISTINCT o.o_custkey) AS unique_user_count,
        |  CAST(ROUND(SUM(CAST(l.l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_qty,
        |  ROUND(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 2) AS avg_qty_per_txn
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN part p ON l.l_partkey = p.p_partkey
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q18_json_extract" ->
      """WITH e AS (SELECT event_type,
        |  CAST(json_extract(props, '$.k') AS INT) AS k FROM events)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(k AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(k) AS min_k, MAX(k) AS max_k
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q19_sessionization" ->
      """WITH x AS (SELECT user_id, value, epoch_ms(ts) AS ms,
        |    LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ms
        |  FROM events),
        |y AS (SELECT user_id, value, ms,
        |    CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS is_new
        |  FROM x),
        |z AS (SELECT user_id, value, ms,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ms
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM y)
        |SELECT user_id, session_seq, COUNT(*) AS n_events,
        |  MIN(ms) AS start_ms, MAX(ms) AS end_ms,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
        |FROM z GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,
    "q20_asof_join" ->
      """WITH ord AS (SELECT o_custkey AS okey, CAST(o_orderdate AS DATE) AS od,
        |    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS day_total
        |  FROM orders GROUP BY 1, 2),
        |e AS (SELECT event_id, user_id, CAST(ts AS DATE) AS d FROM events)
        |SELECT e.event_id, e.user_id, e.d, ord.od, ord.day_total
        |FROM e ASOF LEFT JOIN ord ON e.user_id = ord.okey AND e.d >= ord.od
        |ORDER BY event_id""".stripMargin,
    "q21_range_join" ->
      """WITH ship AS (
        |  SELECT l.l_orderkey*10 + l.l_linenumber AS ship_id, o.o_custkey AS skey,
        |         CAST(l.l_shipdate AS DATE) AS d
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |win AS (
        |  SELECT o_orderkey AS win_id, o_custkey AS wkey,
        |         CAST(o_orderdate AS DATE) AS lo,
        |         CAST(o_orderdate AS DATE) + INTERVAL 60 DAY AS hi
        |  FROM orders)
        |SELECT ship.ship_id, win.win_id, ship.skey, ship.d, win.lo
        |FROM ship JOIN win ON ship.skey = win.wkey
        |  AND ship.d >= win.lo AND ship.d < win.hi
        |ORDER BY ship_id, win_id""".stripMargin,
    "q28_cube" ->
      """SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS yr,
        |  CAST(GROUPING(n.n_name) AS INT) AS g_nation,
        |  CAST(GROUPING(year(o.o_orderdate)) AS INT) AS g_yr,
        |  COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY CUBE(n.n_name, year(o.o_orderdate))
        |ORDER BY g_nation, g_yr, nation, yr""".stripMargin,
    "q30_event_funnel" ->
      """WITH staged AS (SELECT user_id, event_type,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS viewed_before,
        |    ts, event_id
        |  FROM events),
        |s2 AS (SELECT user_id, event_type, ts, event_id,
        |    CASE WHEN event_type = 'click' AND viewed_before = 1 THEN 1 ELSE 0 END AS click_ok
        |  FROM staged),
        |s3 AS (SELECT user_id, event_type, click_ok,
        |    MAX(click_ok) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS clicked_before
        |  FROM s2),
        |per_user AS (SELECT user_id,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS u1,
        |    MAX(click_ok) AS u2,
        |    MAX(CASE WHEN event_type = 'purchase' AND clicked_before = 1
        |        THEN 1 ELSE 0 END) AS u3
        |  FROM s3 GROUP BY 1)
        |SELECT COUNT(*) AS n_users,
        |  CAST(SUM(u1) AS BIGINT) AS n_viewed,
        |  CAST(SUM(u2) AS BIGINT) AS n_clicked_after_view,
        |  CAST(SUM(u3) AS BIGINT) AS n_purchased_after_click,
        |  round(CAST(SUM(u3) AS DOUBLE) / SUM(u1), 4) AS view_to_purchase_rate
        |FROM per_user""".stripMargin,
    "q31_cohort_retention" ->
      """WITH wk AS (SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS week
        |  FROM events),
        |sf AS (SELECT user_id, week,
        |    MIN(week) OVER (PARTITION BY user_id) AS cohort_week
        |  FROM wk),
        |tri AS (SELECT cohort_week,
        |    CAST(date_diff('day', cohort_week, week) / 7 AS INT) AS weeks_since,
        |    COUNT(*) AS n_active
        |  FROM sf GROUP BY 1, 2)
        |SELECT cohort_week, weeks_since, n_active,
        |  CAST(SUM(CASE WHEN weeks_since = 0 THEN n_active ELSE 0 END)
        |    OVER (PARTITION BY cohort_week) AS BIGINT) AS cohort_size,
        |  round(CAST(n_active AS DOUBLE)
        |    / SUM(CASE WHEN weeks_since = 0 THEN n_active ELSE 0 END)
        |      OVER (PARTITION BY cohort_week), 4) AS retention
        |FROM tri ORDER BY cohort_week, weeks_since""".stripMargin,
    "q32_merge_upsert" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |         o_totalprice + 100000 AS o_totalprice, o_orderdate,
        |         o_orderpriority, FALSE AS is_delete
        |  FROM orders WHERE o_orderkey % 1000 < 10
        |  UNION ALL
        |  SELECT -o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority, FALSE
        |  FROM orders WHERE o_orderkey % 1000 BETWEEN 10 AND 12
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority, TRUE
        |  FROM orders WHERE o_orderkey % 1000 BETWEEN 13 AND 15),
        |merged AS (
        |  SELECT t.* FROM orders t
        |  WHERE NOT EXISTS (SELECT 1 FROM src s
        |                    WHERE s.o_orderkey = t.o_orderkey)
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM src WHERE NOT is_delete)
        |SELECT o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,
    "q34_time_to_convert" ->
      """WITH staged AS (SELECT user_id, event_type, epoch_ms(ts) AS ms,
        |    ts, event_id,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS viewed_before
        |  FROM events),
        |s2 AS (SELECT user_id, event_type, ms, ts, event_id,
        |    CASE WHEN event_type = 'click' AND viewed_before = 1
        |      THEN 1 ELSE 0 END AS click_ok
        |  FROM staged),
        |s3 AS (SELECT user_id, event_type, ms,
        |    MAX(click_ok) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS clicked_before
        |  FROM s2),
        |per AS (SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN ms END) AS v_ms,
        |    MIN(CASE WHEN event_type = 'purchase' AND clicked_before = 1
        |        THEN ms END) AS p_ms
        |  FROM s3 GROUP BY 1),
        |d AS (SELECT (p_ms - v_ms) // 1000 AS sec FROM per
        |  WHERE p_ms IS NOT NULL),
        |h AS (SELECT sec, COUNT(*) AS c FROM d GROUP BY 1),
        |r AS (SELECT sec, c,
        |    SUM(c) OVER (ORDER BY sec) AS hi_rn,
        |    SUM(c) OVER (ORDER BY sec) - c + 1 AS lo_rn,
        |    SUM(c) OVER () AS n
        |  FROM h)
        |SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
        |  MIN(sec) AS min_sec,
        |  MAX(CASE WHEN CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1
        |    BETWEEN lo_rn AND hi_rn THEN sec END) AS p50_sec,
        |  MAX(CASE WHEN CAST(floor(0.9 * (n - 1)) AS BIGINT) + 1
        |    BETWEEN lo_rn AND hi_rn THEN sec END) AS p90_sec,
        |  MAX(sec) AS max_sec,
        |  round(CAST(SUM(CAST(sec * c AS DECIMAL(28,4))) AS DOUBLE)
        |    / MAX(n), 2) AS mean_sec
        |FROM r""".stripMargin,
    "t29_split_leakage" ->
      s"""WITH $ngramCtes,
        |pairs AS (SELECT d1, d2 FROM common
        |  JOIN sizes s1 ON d1 = s1.doc_id
        |  JOIN sizes s2 ON d2 = s2.doc_id
        |  WHERE CAST(c AS DOUBLE)/(s1.sz + s2.sz - c) >= 0.2),
        |sp AS (SELECT doc_id,
        |    CASE WHEN b < 80 THEN 'train'
        |         WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT doc_id,
        |      CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |        AS BIGINT) % 100 AS INT) AS b
        |    FROM documents) x),
        |j AS (SELECT least(a.split, b.split) AS split_a,
        |    greatest(a.split, b.split) AS split_b
        |  FROM pairs JOIN sp a ON pairs.d1 = a.doc_id
        |  JOIN sp b ON pairs.d2 = b.doc_id)
        |SELECT split_a, split_b, COUNT(*) AS n_pairs,
        |  split_a <> split_b AS leaks
        |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q36_listagg" ->
      """SELECT r_name, COUNT(DISTINCT n_name) AS n_nations,
        |  string_agg(DISTINCT n_name, ',' ORDER BY n_name) AS nations
        |FROM region JOIN nation ON r_regionkey = n_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q37_regression_stats" ->
      """WITH m AS (SELECT l_returnflag,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(27,2))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  ROUND((n * sxy - sx * sy) / (n * (n - 1.0)), 4) AS covar_samp,
        |  ROUND((n * sxy - sx * sy)
        |    / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr,
        |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4)
        |    AS intercept
        |FROM m ORDER BY 1""".stripMargin,
    "q38_set_ops" ->
      """SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |INTERSECT
        |SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |EXCEPT
        |SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        |ORDER BY o_custkey""".stripMargin,
    "q39_gap_fill" ->
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS v
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |span AS (SELECT user_id, MIN(d) AS d0, MAX(d) AS d1
        |  FROM daily GROUP BY 1),
        |spine AS (SELECT span.user_id, CAST(g.d AS DATE) AS d
        |  FROM span, LATERAL unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS g(d))
        |SELECT s.user_id, s.d,
        |  last_value(daily.v IGNORE NULLS) OVER (PARTITION BY s.user_id
        |    ORDER BY s.d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS filled,
        |  daily.v IS NOT NULL AS observed
        |FROM spine s LEFT JOIN daily
        |  ON s.user_id = daily.user_id AND s.d = daily.d
        |ORDER BY 1, 2""".stripMargin,
    "q40_event_transitions" ->
      """WITH pairs AS (SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS next_type
        |  FROM events),
        |m AS (SELECT event_type, next_type, COUNT(*) AS n FROM pairs
        |  WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, next_type, n,
        |  ROUND(CAST(n AS DOUBLE)
        |    / SUM(n) OVER (PARTITION BY event_type), 6) AS p
        |FROM m ORDER BY 1, 2""".stripMargin,
    // the sketch estimate is engine-specific, so the contract emits the
    // EXACT count plus an accuracy verdict; the oracle recomputes the
    // exact side and claims the verdict true
    "q41_hll_distinct" ->
      """SELECT year(CAST(o_orderdate AS DATE)) AS yr,
        |  COUNT(DISTINCT o_custkey) AS n_exact, TRUE AS within_3pct
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q42_kll_quantiles" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q43_range_frame" ->
      """WITH daily AS (SELECT CAST(l_shipdate AS DATE) AS d,
        |    c_nationkey AS country_id, COUNT(*) AS n
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE year(CAST(l_shipdate AS DATE)) = 2000
        |  GROUP BY 1, 2)
        |SELECT d, country_id, n,
        |  CAST(SUM(n) OVER w AS BIGINT) AS trail7,
        |  COUNT(*) OVER w AS days_observed
        |FROM daily
        |WINDOW w AS (PARTITION BY country_id ORDER BY d
        |  RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
        |ORDER BY country_id, d""".stripMargin,
    "t32_vocab_growth" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(regexp_extract_all(lower(trim(text)), '\S+')) AS token
        |  FROM documents),
        |nn AS (SELECT COUNT(*) AS n_docs FROM documents),
        |cuts AS (SELECT d.decile, (nn.n_docs * d.decile + 9) // 10 AS cutoff
        |  FROM (SELECT unnest(generate_series(1, 10)) AS decile) d, nn),
        |vocab AS (SELECT c.decile, c.cutoff, COUNT(*) AS vocab
        |  FROM (SELECT token, MIN(doc_id) AS first_doc FROM toks GROUP BY 1) f
        |  JOIN cuts c ON f.first_doc < c.cutoff GROUP BY 1, 2),
        |tot AS (SELECT c.decile, SUM(t.n_tok) AS tokens
        |  FROM (SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY 1) t
        |  JOIN cuts c ON t.doc_id < c.cutoff GROUP BY 1)
        |SELECT v.decile, v.cutoff AS n_docs,
        |  CAST(tot.tokens AS BIGINT) AS tokens, v.vocab,
        |  CAST((v.vocab * 2000000 + tot.tokens) // (tot.tokens * 2) AS BIGINT)
        |    AS ttr_ppm
        |FROM vocab v JOIN tot ON v.decile = tot.decile ORDER BY 1""".stripMargin,
    // same sufficient-statistics discipline as q37: ln() per row is one
    // libm call on the identical double in either engine, sums are
    // DECIMAL (order-invariant), outputs round at 4 dp
    "t33_zipf_fit" ->
      """WITH tf AS (SELECT unnest(regexp_extract_all(lower(trim(text)), '\S+')) AS token
        |  FROM documents),
        |f AS (SELECT token, COUNT(*) AS freq FROM tf GROUP BY 1),
        |r AS (SELECT token, freq,
        |    ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rank FROM f),
        |xy AS (SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(freq AS DOUBLE)) AS y
        |  FROM r WHERE rank <= 100),
        |m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn,
        |    CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(27,12))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x*y AS DECIMAL(27,12))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(x*x AS DECIMAL(27,12))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(y*y AS DECIMAL(27,12))) AS DOUBLE) AS syy
        |  FROM xy)
        |SELECT CAST(nn AS BIGINT) AS n_tokens,
        |  round((nn*sxy - sx*sy)/(nn*sxx - sx*sx), 4) AS zipf_slope,
        |  round((sy - ((nn*sxy - sx*sy)/(nn*sxx - sx*sx))*sx)/nn, 4) AS intercept,
        |  round(((nn*sxy - sx*sy)*(nn*sxy - sx*sy))
        |    /((nn*sxx - sx*sx)*(nn*syy - sy*sy)), 4) AS r2
        |FROM m""".stripMargin,
    // Engine side intersects xxhash64-hashed shingles while this oracle
    // intersects raw shingle strings — same d02 collision assumption: a
    // 64-bit collision INSIDE one source pair's shingle union would be
    // needed to nudge n_common, which needs ~2^32 distinct shared-corpus
    // shingles to become likely; accepted and documented, not defended.
    "t34_source_overlap" ->
      """WITH toks AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
        |sh0 AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(t)-1, 1)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |ss AS (SELECT DISTINCT d.source, s.shingle
        |  FROM sh0 s JOIN documents d USING (doc_id)),
        |sz AS (SELECT source, COUNT(*) AS sz FROM ss GROUP BY 1),
        |cm AS (SELECT a.source AS s1, b.source AS s2, COUNT(*) AS n_common
        |  FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT s1, s2, n_common,
        |  round(CAST(n_common AS DOUBLE)/(z1.sz + z2.sz - n_common), 4) AS jaccard
        |FROM cm JOIN sz z1 ON s1 = z1.source JOIN sz z2 ON s2 = z2.source
        |ORDER BY s1, s2""".stripMargin,
    "t35_ngram_novelty" ->
      """WITH toks AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
        |sh0 AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(t)-1, 1)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |nn AS (SELECT COUNT(*) AS n_docs FROM documents),
        |cuts AS (SELECT d.decile, (nn.n_docs * d.decile + 9) // 10 AS cutoff
        |  FROM (SELECT unnest(generate_series(1, 10)) AS decile) d, nn),
        |fd AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh0 GROUP BY 1),
        |cn AS (SELECT c.decile, c.cutoff, COUNT(*) AS cum_distinct
        |  FROM fd JOIN cuts c ON fd.first_doc < c.cutoff GROUP BY 1, 2),
        |sl AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh0 GROUP BY 1),
        |cs AS (SELECT c.decile, SUM(s.n_sh) AS cum_slots
        |  FROM sl s JOIN cuts c ON s.doc_id < c.cutoff GROUP BY 1),
        |base AS (SELECT c.decile, c.cutoff AS n_docs,
        |    COALESCE(cs.cum_slots, 0) AS cum_slots,
        |    COALESCE(cn.cum_distinct, 0) AS cum_distinct
        |  FROM cuts c
        |  LEFT JOIN cn ON c.decile = cn.decile
        |  LEFT JOIN cs ON c.decile = cs.decile),
        |j AS (SELECT decile, n_docs, cum_slots, cum_distinct,
        |    cum_distinct
        |      - COALESCE(LAG(cum_distinct) OVER (ORDER BY decile), 0)
        |      AS new_shingles,
        |    cum_slots
        |      - COALESCE(LAG(cum_slots) OVER (ORDER BY decile), 0)
        |      AS slots
        |  FROM base)
        |SELECT decile, n_docs, CAST(cum_slots AS BIGINT) AS cum_slots,
        |  cum_distinct, CAST(new_shingles AS BIGINT) AS new_shingles,
        |  CAST(slots AS BIGINT) AS slots,
        |  CAST(CASE WHEN slots = 0 THEN 0
        |       ELSE (new_shingles * 2000000 + slots) // (slots * 2) END
        |    AS BIGINT) AS novelty_ppm
        |FROM j ORDER BY decile""".stripMargin,
    "q44_relational_division" ->
      """WITH o AS (SELECT DISTINCT o_custkey, o_orderpriority FROM orders),
        |n AS (SELECT COUNT(DISTINCT o_orderpriority) AS n_needed FROM o)
        |SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_priorities
        |FROM o GROUP BY 1
        |HAVING COUNT(*) = (SELECT n_needed FROM n)
        |ORDER BY 1""".stripMargin,
    // u and the A-Res key are pure functions of doc_id/text, so both
    // engines draw the identical "random" sample; ln() parity follows the
    // t33/t12 libm-on-identical-double discipline
    "t37_weighted_sample" ->
      """WITH w AS (SELECT doc_id,
        |    GREATEST(len(regexp_extract_all(lower(trim(text)), '\S+')), 1)
        |      AS weight
        |  FROM documents),
        |k AS (SELECT doc_id, CAST(weight AS BIGINT) AS weight,
        |    ln((CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |          AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)
        |      / CAST(weight AS DOUBLE) AS key
        |  FROM w),
        |top AS (SELECT * FROM k ORDER BY key DESC, doc_id LIMIT 100)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY key DESC, doc_id) AS INT)
        |    AS rank,
        |  doc_id, weight, round(key, 6) AS key
        |FROM top ORDER BY rank""".stripMargin,
    // z derives from exact-integer windowed sufficient statistics through
    // one fixed double shape (the q37/t33 discipline); the anomaly flag
    // tests the ROUNDED z so the 4-dp boundary can't disagree
    "q45_rolling_anomaly" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, d, n,
        |    CAST(COUNT(*) OVER win AS BIGINT) AS m,
        |    CAST(SUM(n) OVER win AS BIGINT) AS s1,
        |    CAST(SUM(n*n) OVER win AS BIGINT) AS s2
        |  FROM daily
        |  WINDOW win AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING)),
        |scored AS (SELECT event_type, d, n, m,
        |    round(CAST(s1 AS DOUBLE)/m, 4) AS mean,
        |    round((CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE)/m)
        |      / sqrt((CAST(m AS DOUBLE)*s2 - CAST(s1 AS DOUBLE)*s1)
        |             /(CAST(m AS DOUBLE)*(m-1))), 4) AS z
        |  FROM w WHERE m >= 14 AND m*s2 > s1*s1)
        |SELECT event_type, d, n, m, mean, z, abs(z) >= 2 AS is_anomaly
        |FROM scored ORDER BY event_type, d""".stripMargin,
    // clicks pre-deduped to (user, ts) grain — as-of under ties is
    // ill-defined; minutes derive from exact epoch-microsecond integers
    "q46_attribution" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT user_id AS c_user, ts AS click_ts,
        |    MAX(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |j AS (SELECT p.event_id, p.user_id, p.ts, c.click_id, c.click_ts
        |  FROM p ASOF LEFT JOIN c
        |    ON p.user_id = c.c_user AND p.ts >= c.click_ts),
        |f AS (SELECT *,
        |    (click_ts IS NOT NULL AND click_ts >= ts - INTERVAL 1 HOUR)
        |      AS attributed
        |  FROM j)
        |SELECT event_id, user_id, CAST(ts AS DATE) AS d,
        |  CASE WHEN attributed THEN click_id END AS click_id,
        |  CASE WHEN attributed THEN round(
        |    CAST(epoch_us(ts) - epoch_us(click_ts) AS DOUBLE) / 60000000.0,
        |    2) END AS mins_before,
        |  attributed
        |FROM f ORDER BY event_id""".stripMargin,
    // the salted physical rewrite is semantics-preserving, so the oracle
    // is the PLAIN join (d16's physical-only discipline)
    "q47_salted_join" ->
      """SELECT c.c_mktsegment,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(ROUND(SUM(CAST(e.value AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // contribution explode: a (day, customer) pair feeds the 7 windows
    // ending d..d+6; the span clamp drops overhang past the last
    // observed day — mirrored exactly by the engine
    "q48_sliding_distinct" ->
      """WITH du AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d0,
        |    o_custkey AS u FROM orders),
        |contrib AS (SELECT du.d0 + CAST(g.o AS INTEGER) AS d, du.u
        |  FROM du, LATERAL unnest(generate_series(0, 6)) AS g(o)),
        |span AS (SELECT MIN(d0) AS lo, MAX(d0) AS hi FROM du)
        |SELECT c.d, CAST(COUNT(DISTINCT c.u) AS BIGINT) AS u7
        |FROM contrib c, span WHERE c.d BETWEEN span.lo AND span.hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // unique ORDER tuple (spend desc, cust) ⇒ every rank function is
    // deterministic; pct_rank/cume are exact small-integer ratios
    "q49_rank_functions" ->
      """WITH sp AS (SELECT o_orderpriority AS prio, o_custkey AS cust,
        |    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
        |      AS spend
        |  FROM orders GROUP BY 1, 2),
        |r AS (SELECT prio, cust, spend,
        |    CAST(RANK() OVER w AS INT) AS rnk,
        |    CAST(DENSE_RANK() OVER w AS INT) AS drnk,
        |    CAST(ROW_NUMBER() OVER w AS INT) AS rn,
        |    round(PERCENT_RANK() OVER w, 6) AS pct_rank,
        |    round(CUME_DIST() OVER w, 6) AS cume,
        |    CAST(NTILE(4) OVER w AS INT) AS quartile
        |  FROM sp WINDOW w AS (PARTITION BY prio ORDER BY spend DESC, cust))
        |SELECT * FROM r WHERE rn <= 10 ORDER BY prio, rn""".stripMargin,
    // q41 verdict discipline: oracle recomputes the exact side, claims
    // the sketch-accuracy boolean true
    "q50_sliding_hll" ->
      """WITH du AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d0,
        |    o_custkey AS u FROM orders),
        |contrib AS (SELECT du.d0 + CAST(g.o AS INTEGER) AS d, du.u
        |  FROM du, LATERAL unnest(generate_series(0, 6)) AS g(o)),
        |span AS (SELECT MIN(d0) AS lo, MAX(d0) AS hi FROM du)
        |SELECT c.d, CAST(COUNT(DISTINCT c.u) AS BIGINT) AS u7,
        |  TRUE AS within_3pct
        |FROM contrib c, span WHERE c.d BETWEEN span.lo AND span.hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // MMR greedy replayed with a recursive CTE: the picked-so-far list
    // travels as a LIST column, each step's winner is the candidate no
    // other candidate beats on (0.5·rel − 0.5·max-sim-to-picked), ties
    // to the smaller id — the identical unrounded-double comparison the
    // engine's driver-side greedy makes (cosines accumulate in index
    // order on both sides)
    "s10_mmr_diverse" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
        |rels AS (SELECT q.qid, e.vec_id AS nid,
        |    list_aggregate(list_transform(range(1, len(q.qv)+1), i -> q.qv[i]*e.v[i]), 'sum')
        |     / (sqrt(list_aggregate(list_transform(range(1, len(q.qv)+1), i -> q.qv[i]*q.qv[i]), 'sum'))
        |      * sqrt(list_aggregate(list_transform(range(1, len(e.v)+1), i -> e.v[i]*e.v[i]), 'sum')))
        |      AS rel
        |  FROM q JOIN e ON e.vec_id <> q.qid),
        |cand AS (SELECT qid, nid, rel FROM rels
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY rel DESC, nid) <= 20),
        |pair AS (SELECT a.vec_id AS a, b.vec_id AS b,
        |    list_aggregate(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i]), 'sum')
        |     / (sqrt(list_aggregate(list_transform(range(1, len(a.v)+1), i -> a.v[i]*a.v[i]), 'sum'))
        |      * sqrt(list_aggregate(list_transform(range(1, len(b.v)+1), i -> b.v[i]*b.v[i]), 'sum')))
        |      AS sim
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id
        |  WHERE a.vec_id IN (SELECT nid FROM cand)
        |    AND b.vec_id IN (SELECT nid FROM cand)),
        |s1 AS (SELECT qid, nid AS p1 FROM cand
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY rel DESC, nid) = 1),
        |c2 AS (SELECT c.qid, c.nid, 0.5*c.rel - 0.5*MAX(p.sim) AS sc
        |  FROM cand c JOIN s1 ON s1.qid = c.qid
        |  JOIN pair p ON p.a = c.nid AND p.b = s1.p1
        |  WHERE c.nid <> s1.p1 GROUP BY c.qid, c.nid, c.rel),
        |s2 AS (SELECT s1.qid, s1.p1, c2.nid AS p2
        |  FROM s1 JOIN c2 ON c2.qid = s1.qid
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY s1.qid
        |    ORDER BY c2.sc DESC, c2.nid) = 1),
        |c3 AS (SELECT c.qid, c.nid, 0.5*c.rel - 0.5*MAX(p.sim) AS sc
        |  FROM cand c JOIN s2 ON s2.qid = c.qid
        |  JOIN pair p ON p.a = c.nid AND p.b IN (s2.p1, s2.p2)
        |  WHERE c.nid NOT IN (s2.p1, s2.p2) GROUP BY c.qid, c.nid, c.rel),
        |s3 AS (SELECT s2.qid, s2.p1, s2.p2, c3.nid AS p3
        |  FROM s2 JOIN c3 ON c3.qid = s2.qid
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY s2.qid
        |    ORDER BY c3.sc DESC, c3.nid) = 1),
        |c4 AS (SELECT c.qid, c.nid, 0.5*c.rel - 0.5*MAX(p.sim) AS sc
        |  FROM cand c JOIN s3 ON s3.qid = c.qid
        |  JOIN pair p ON p.a = c.nid AND p.b IN (s3.p1, s3.p2, s3.p3)
        |  WHERE c.nid NOT IN (s3.p1, s3.p2, s3.p3)
        |  GROUP BY c.qid, c.nid, c.rel),
        |s4 AS (SELECT s3.qid, s3.p1, s3.p2, s3.p3, c4.nid AS p4
        |  FROM s3 JOIN c4 ON c4.qid = s3.qid
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY s3.qid
        |    ORDER BY c4.sc DESC, c4.nid) = 1),
        |c5 AS (SELECT c.qid, c.nid, 0.5*c.rel - 0.5*MAX(p.sim) AS sc
        |  FROM cand c JOIN s4 ON s4.qid = c.qid
        |  JOIN pair p ON p.a = c.nid AND p.b IN (s4.p1, s4.p2, s4.p3, s4.p4)
        |  WHERE c.nid NOT IN (s4.p1, s4.p2, s4.p3, s4.p4)
        |  GROUP BY c.qid, c.nid, c.rel),
        |s5 AS (SELECT s4.qid, s4.p1, s4.p2, s4.p3, s4.p4, c5.nid AS p5
        |  FROM s4 JOIN c5 ON c5.qid = s4.qid
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY s4.qid
        |    ORDER BY c5.sc DESC, c5.nid) = 1),
        |flat AS (
        |  SELECT qid, 1 AS rank, p1 AS vec_id FROM s5
        |  UNION ALL SELECT qid, 2, p2 FROM s5
        |  UNION ALL SELECT qid, 3, p3 FROM s5
        |  UNION ALL SELECT qid, 4, p4 FROM s5
        |  UNION ALL SELECT qid, 5, p5 FROM s5)
        |SELECT f.qid, CAST(f.rank AS INT) AS rank, f.vec_id,
        |  round(c.rel, 4) AS rel
        |FROM flat f JOIN cand c ON c.qid = f.qid AND c.nid = f.vec_id
        |ORDER BY f.qid, rank""".stripMargin,
    // q33's nearest-rank pick twice (median, then MAD over deviations);
    // the 3x fence compares unrounded doubles in both engines
    "q51_mad_outliers" ->
      """WITH h AS (SELECT event_type, value, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, value,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY value) AS hi_rn,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY value) - c + 1 AS lo_rn,
        |    SUM(c) OVER (PARTITION BY event_type) AS n
        |  FROM h),
        |md AS (SELECT event_type,
        |    MAX(CASE WHEN CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1
        |      BETWEEN lo_rn AND hi_rn THEN value END) AS med
        |  FROM r GROUP BY 1),
        |dv AS (SELECT e.event_type, abs(e.value - md.med) AS dev
        |  FROM events e JOIN md USING (event_type)),
        |h2 AS (SELECT event_type, dev, COUNT(*) AS c
        |  FROM dv GROUP BY 1, 2),
        |r2 AS (SELECT event_type, dev,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY dev) AS hi_rn,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY dev) - c + 1 AS lo_rn,
        |    SUM(c) OVER (PARTITION BY event_type) AS n
        |  FROM h2),
        |md2 AS (SELECT event_type,
        |    MAX(CASE WHEN CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1
        |      BETWEEN lo_rn AND hi_rn THEN dev END) AS mad
        |  FROM r2 GROUP BY 1)
        |SELECT dv.event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  round(MIN(md.med), 4) AS median,
        |  round(MIN(md2.mad), 4) AS mad,
        |  CAST(SUM(CASE WHEN dv.dev > md2.mad * 3 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM dv JOIN md USING (event_type) JOIN md2 USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // per-user sequence order is the unique (ts, event_id) tuple, so the
    // trigram stream — and the hash — is deterministic under ts ties
    "q52_event_paths" ->
      """WITH s AS (SELECT user_id, event_type,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts, event_id))
        |SELECT event_type || '>' || e2 || '>' || e3 AS path,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM s WHERE e3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 10""".stripMargin,
    // the arbitrary lattice ROLLUP/CUBE can't write: detail + both
    // margins, deliberately no grand total
    "q53_grouping_sets" ->
      """SELECT CAST(year(o.o_orderdate) AS INT) AS yr,
        |  c.c_mktsegment AS mkt,
        |  CAST(GROUPING(year(o.o_orderdate)) AS INT) AS g_yr,
        |  CAST(GROUPING(c.c_mktsegment) AS INT) AS g_mkt,
        |  COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 2)
        |    AS DOUBLE) AS revenue
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY GROUPING SETS ((year(o.o_orderdate), c.c_mktsegment),
        |  (year(o.o_orderdate)), (c.c_mktsegment))
        |ORDER BY g_yr, g_mkt, yr, mkt""".stripMargin,
    // float->double casts + in-index-order sums = bit-identical cosines
    // (the s01 discipline); the flag tests the ROUNDED cosine
    "d18_semantic_decontam" ->
      """WITH b AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) nv
        |  FROM embeddings WHERE vec_id % 17 = 0),
        |t AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) qv
        |  FROM embeddings WHERE vec_id % 17 <> 0),
        |p AS (SELECT qid, nid,
        |    list_aggregate(list_transform(range(1, len(qv)+1), i -> qv[i]*nv[i]), 'sum')
        |     / (sqrt(list_aggregate(list_transform(range(1, len(qv)+1), i -> qv[i]*qv[i]), 'sum'))
        |      * sqrt(list_aggregate(list_transform(range(1, len(nv)+1), i -> nv[i]*nv[i]), 'sum')))
        |      AS cos
        |  FROM t, b),
        |r AS (SELECT qid, nid, cos, ROW_NUMBER() OVER
        |    (PARTITION BY qid ORDER BY cos DESC, nid) AS rn FROM p)
        |SELECT qid, nid AS nearest_bench, round(cos, 4) AS max_cos,
        |  round(cos, 4) >= 0.4 AS flagged
        |FROM r WHERE rn = 1 ORDER BY qid""".stripMargin,
    // t17's rule flags aggregated once: n_fail per rule + sole-blocker
    // counts (fails this rule, passes the other three)
    "t38_rule_ablation" ->
      """WITH s AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(trim(text)), '\S+')) AS INT) AS n_words,
        |  CAST(length(regexp_replace(text, '\s+', '', 'g')) AS INT) AS nonspace,
        |  CAST(len(list_filter(regexp_extract_all(lower(trim(text)), '\S+'),
        |    w -> regexp_matches(w, '[a-z]'))) AS INT) AS n_alpha,
        |  CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it|was|for)\b')) AS INT) AS n_stopwords
        |FROM documents),
        |r AS (SELECT doc_id, n_words,
        |    round(CAST(nonspace AS DOUBLE) / n_words, 4) AS mean_word_len,
        |    round(CAST(n_alpha AS DOUBLE) / n_words, 4) AS frac_alpha_words,
        |    n_stopwords
        |  FROM s WHERE n_words > 0),
        |f AS (SELECT
        |    n_words >= 50 AND n_words <= 100000 AS ok_len,
        |    mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS ok_mwl,
        |    frac_alpha_words >= 0.8 AS ok_alp,
        |    n_stopwords >= 2 AS ok_stp
        |  FROM r),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(CASE WHEN ok_len AND ok_mwl AND ok_alp AND ok_stp
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |    CAST(SUM(CASE WHEN NOT ok_len THEN 1 ELSE 0 END) AS BIGINT) AS f_len,
        |    CAST(SUM(CASE WHEN NOT ok_len AND ok_mwl AND ok_alp AND ok_stp
        |      THEN 1 ELSE 0 END) AS BIGINT) AS s_len,
        |    CAST(SUM(CASE WHEN NOT ok_mwl THEN 1 ELSE 0 END) AS BIGINT) AS f_mwl,
        |    CAST(SUM(CASE WHEN NOT ok_mwl AND ok_len AND ok_alp AND ok_stp
        |      THEN 1 ELSE 0 END) AS BIGINT) AS s_mwl,
        |    CAST(SUM(CASE WHEN NOT ok_alp THEN 1 ELSE 0 END) AS BIGINT) AS f_alp,
        |    CAST(SUM(CASE WHEN NOT ok_alp AND ok_len AND ok_mwl AND ok_stp
        |      THEN 1 ELSE 0 END) AS BIGINT) AS s_alp,
        |    CAST(SUM(CASE WHEN NOT ok_stp THEN 1 ELSE 0 END) AS BIGINT) AS f_stp,
        |    CAST(SUM(CASE WHEN NOT ok_stp AND ok_len AND ok_mwl AND ok_alp
        |      THEN 1 ELSE 0 END) AS BIGINT) AS s_stp
        |  FROM f)
        |SELECT * FROM (
        |  SELECT 'alpha' AS rule, f_alp AS n_fail, s_alp AS n_sole_blocker,
        |    n_docs, n_keep FROM a
        |  UNION ALL SELECT 'length', f_len, s_len, n_docs, n_keep FROM a
        |  UNION ALL SELECT 'mean_word_len', f_mwl, s_mwl, n_docs, n_keep FROM a
        |  UNION ALL SELECT 'stop', f_stp, s_stp, n_docs, n_keep FROM a)
        |ORDER BY rule""".stripMargin,
    // split keyed on the dedup-cluster KEEPER (t04's md5 bucket, applied
    // to keeper_id): clusters move atomically, so cluster_leak is 0 by
    // construction and naive_leak shows what doc-keyed hashing would leak
    "t39_cluster_split" ->
      s"""WITH RECURSIVE $manifestCtes,
        |toksz AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(trim(text)), '\\S+')) AS BIGINT)
        |      AS n_tok
        |  FROM documents),
        |base AS (SELECT m.doc_id, m.keeper_id, t.n_tok,
        |    CASE WHEN CAST(CAST(('0x' || substr(md5(CAST(m.keeper_id AS VARCHAR)), 1, 8))
        |        AS BIGINT) % 100 AS INT) < 80 THEN 'train'
        |      WHEN CAST(CAST(('0x' || substr(md5(CAST(m.keeper_id AS VARCHAR)), 1, 8))
        |        AS BIGINT) % 100 AS INT) < 90 THEN 'val'
        |      ELSE 'test' END AS split,
        |    CASE WHEN CAST(CAST(('0x' || substr(md5(CAST(m.doc_id AS VARCHAR)), 1, 8))
        |        AS BIGINT) % 100 AS INT) < 80 THEN 'train'
        |      WHEN CAST(CAST(('0x' || substr(md5(CAST(m.doc_id AS VARCHAR)), 1, 8))
        |        AS BIGINT) % 100 AS INT) < 90 THEN 'val'
        |      ELSE 'test' END AS naive_split
        |  FROM manifest m JOIN toksz t USING (doc_id)),
        |nl AS (SELECT CAST(COUNT(*) AS BIGINT) AS naive_leak_clusters FROM
        |  (SELECT keeper_id FROM base GROUP BY 1
        |   HAVING COUNT(DISTINCT naive_split) > 1)),
        |cl AS (SELECT CAST(COUNT(*) AS BIGINT) AS cluster_leak_clusters FROM
        |  (SELECT keeper_id FROM base GROUP BY 1
        |   HAVING COUNT(DISTINCT split) > 1))
        |SELECT b.split, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT b.keeper_id) AS BIGINT) AS n_clusters,
        |  CAST(SUM(b.n_tok) AS BIGINT) AS n_tokens,
        |  nl.naive_leak_clusters, cl.cluster_leak_clusters
        |FROM base b, nl, cl
        |GROUP BY 1, 5, 6 ORDER BY 1""".stripMargin,
    // composes the d01 fingerprint, t17 gate, and d16 5-gram check at
    // source grain; rates are exact half-up integer ppm (t32 idiom)
    "t40_dataset_card" ->
      """WITH s AS (SELECT doc_id, source, lang,
        |  CAST(len(regexp_extract_all(lower(trim(text)), '\S+')) AS INT) AS n_words,
        |  CAST(length(regexp_replace(text, '\s+', '', 'g')) AS INT) AS nonspace,
        |  CAST(len(list_filter(regexp_extract_all(lower(trim(text)), '\S+'),
        |    w -> regexp_matches(w, '[a-z]'))) AS INT) AS n_alpha,
        |  CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it|was|for)\b')) AS INT) AS n_stop,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |FROM documents),
        |f AS (SELECT doc_id, source, lang, n_words, fp,
        |    (n_words > 0 AND n_words >= 50 AND n_words <= 100000
        |     AND round(CAST(nonspace AS DOUBLE)/n_words, 4) >= 3.0
        |     AND round(CAST(nonspace AS DOUBLE)/n_words, 4) <= 10.0
        |     AND round(CAST(n_alpha AS DOUBLE)/n_words, 4) >= 0.8
        |     AND n_stop >= 2) AS keep
        |  FROM s),
        |toks AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(t)-3, 1)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
        |        || ' ' || t[i+4])) AS shingle
        |  FROM toks WHERE len(t) >= 5),
        |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 17 = 0),
        |hits AS (SELECT DISTINCT t.doc_id
        |  FROM sh t JOIN bench USING (shingle) WHERE t.doc_id % 17 <> 0),
        |a AS (SELECT f.source,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_words) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |    CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS dup_docs,
        |    CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS keep_docs,
        |    CAST(SUM(CASE WHEN f.doc_id % 17 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS bench_docs,
        |    CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS contam_docs
        |  FROM f LEFT JOIN hits h ON f.doc_id = h.doc_id
        |  GROUP BY 1)
        |SELECT source, n_docs, n_tokens, n_langs, dup_docs,
        |  CAST((dup_docs * 2000000 + n_docs) // (n_docs * 2) AS BIGINT)
        |    AS dup_ppm,
        |  keep_docs,
        |  CAST((keep_docs * 2000000 + n_docs) // (n_docs * 2) AS BIGINT)
        |    AS keep_ppm,
        |  bench_docs, contam_docs,
        |  CAST(CASE WHEN n_docs > bench_docs
        |    THEN (contam_docs * 2000000 + (n_docs - bench_docs))
        |      // ((n_docs - bench_docs) * 2)
        |    ELSE 0 END AS BIGINT) AS contam_ppm
        |FROM a ORDER BY source""".stripMargin,
    // deterministic md5 ranking: DuckDB replays the identical per-stratum
    // selection (fixed-width lowercase hex => string order = hash order)
    "t41_stratified_quota" ->
      """WITH r AS (SELECT lang, doc_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || '-graft'), doc_id)
        |      AS INT) AS rank
        |  FROM documents)
        |SELECT lang, rank, doc_id FROM r
        |WHERE rank <= 20 ORDER BY lang, rank""".stripMargin,
    // snapshot CDC: both engines compare the same normalized-content
    // fingerprints over the same deterministic synthetic snapshots
    "t42_snapshot_diff" ->
      """WITH oldp AS (SELECT doc_id,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM documents WHERE doc_id % 9 <> 0),
        |newp AS (SELECT doc_id,
        |    md5(lower(trim(regexp_replace(
        |      CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END,
        |      '\s+', ' ', 'g')))) AS fp
        |  FROM documents WHERE doc_id % 7 <> 0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.fp <> n.fp THEN 'modified'
        |       ELSE 'unchanged' END AS status
        |FROM oldp o FULL OUTER JOIN newp n ON o.doc_id = n.doc_id
        |ORDER BY 1""".stripMargin,
    // waterfilling: identical closed form — sort ascending, first source
    // whose availability covers its candidate level fixes the level
    "t43_budget_waterfill" ->
      """WITH a AS (SELECT source,
        |    CAST(SUM(len(regexp_extract_all(lower(trim(text)), '\S+')))
        |      AS BIGINT) AS available
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(SUM(available) // 2 AS BIGINT) AS budget,
        |    CAST(COUNT(*) AS BIGINT) AS n_src FROM a),
        |r AS (SELECT source, available, budget, n_src,
        |    CAST(ROW_NUMBER() OVER (ORDER BY available, source) AS BIGINT) AS i,
        |    CAST(COALESCE(SUM(available) OVER (ORDER BY available, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_before
        |  FROM a, tot),
        |l AS (SELECT min_by(CAST(budget - cum_before AS DOUBLE)
        |      / (n_src - i + 1), i) AS level
        |  FROM r
        |  WHERE CAST(budget - cum_before AS DOUBLE) / (n_src - i + 1)
        |    <= CAST(available AS DOUBLE))
        |SELECT a.source, a.available,
        |  round(LEAST(CAST(a.available AS DOUBLE), l.level), 2) AS allocated,
        |  CAST(a.available AS DOUBLE) <= l.level AS saturated
        |FROM a, l ORDER BY source""".stripMargin,
    // the oracle states the interleave as the global row_number the
    // Spark side computes by formula (never sorting the corpus)
    "t44_curriculum_interleave" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(regexp_extract_all(lower(trim(text)), '\S+'))
        |      AS BIGINT) AS score
        |  FROM documents),
        |r AS (SELECT doc_id, source, score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY score DESC, doc_id) AS BIGINT) AS src_rank
        |  FROM d),
        |g AS (SELECT doc_id, source, score, src_rank,
        |    CAST(ROW_NUMBER() OVER (ORDER BY src_rank, source)
        |      AS BIGINT) AS pos
        |  FROM r)
        |SELECT pos, source, CAST(src_rank AS INT) AS src_rank,
        |  doc_id, score
        |FROM g WHERE pos <= 100 ORDER BY pos""".stripMargin,
    "t45_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
        |    AS BIGINT) AS l_div,
        |  COUNT(*) < 10 AS at_risk
        |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q54_key_skew_report" ->
      """WITH c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1),
        |h AS (SELECT cnt, COUNT(*) AS hc FROM c GROUP BY 1),
        |rk AS (SELECT cnt, hc,
        |    SUM(hc) OVER (ORDER BY cnt) AS hi_rn,
        |    SUM(hc) OVER (ORDER BY cnt) - hc + 1 AS lo_rn,
        |    SUM(hc) OVER () AS n
        |  FROM h),
        |p AS (SELECT
        |    CAST(MAX(CASE WHEN CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1
        |      BETWEEN lo_rn AND hi_rn THEN cnt END) AS BIGINT) AS p50_cnt,
        |    CAST(MAX(CASE WHEN CAST(floor(0.9 * (n - 1)) AS BIGINT) + 1
        |      BETWEEN lo_rn AND hi_rn THEN cnt END) AS BIGINT) AS p90_cnt,
        |    CAST(MAX(CASE WHEN CAST(floor(0.99 * (n - 1)) AS BIGINT) + 1
        |      BETWEEN lo_rn AND hi_rn THEN cnt END) AS BIGINT) AS p99_cnt
        |  FROM rk),
        |s AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(MAX(cnt) AS BIGINT) AS max_cnt FROM c),
        |t AS (SELECT MIN(user_id) AS top_key FROM c
        |  WHERE cnt = (SELECT MAX(cnt) FROM c))
        |SELECT s.n_rows, s.n_keys, s.max_cnt,
        |  p.p50_cnt, p.p90_cnt, p.p99_cnt,
        |  round(CAST(s.max_cnt AS DOUBLE) * s.n_keys / s.n_rows, 4) AS skew_x,
        |  t.top_key,
        |  CAST((s.max_cnt * 2000000 + s.n_rows) // (s.n_rows * 2)
        |    AS BIGINT) AS top_ppm
        |FROM s, p, t""".stripMargin,
    // full-dim vs first-16-dim retrieval agreement; both rankings replay
    // the s02 cosine with the same summation order
    "s11_matryoshka_overlap" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) nv
        |      FROM embeddings),
        |sf AS (SELECT qid, nid,
        |  list_aggregate(list_transform(range(1, len(qv)+1), i -> qv[i]*nv[i]), 'sum')
        |   / (sqrt(list_aggregate(list_transform(range(1, len(qv)+1), i -> qv[i]*qv[i]), 'sum'))
        |    * sqrt(list_aggregate(list_transform(range(1, len(nv)+1), i -> nv[i]*nv[i]), 'sum'))) AS cos
        |  FROM c, q WHERE qid <> nid),
        |rf AS (SELECT qid, nid,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid)
        |      AS INT) AS rank FROM sf),
        |q2 AS (SELECT qid, qv[1:16] AS qv FROM q),
        |c2 AS (SELECT nid, nv[1:16] AS nv FROM c),
        |st AS (SELECT qid, nid,
        |  list_aggregate(list_transform(range(1, len(qv)+1), i -> qv[i]*nv[i]), 'sum')
        |   / (sqrt(list_aggregate(list_transform(range(1, len(qv)+1), i -> qv[i]*qv[i]), 'sum'))
        |    * sqrt(list_aggregate(list_transform(range(1, len(nv)+1), i -> nv[i]*nv[i]), 'sum'))) AS cos
        |  FROM c2, q2 WHERE qid <> nid),
        |rt AS (SELECT qid, nid,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid)
        |      AS INT) AS rank FROM st)
        |SELECT f.qid, CAST(10 AS INT) AS k,
        |  CAST(COUNT(t.nid) AS BIGINT) AS n_overlap,
        |  round(COUNT(t.nid) / 10.0, 4) AS overlap_ratio
        |FROM (SELECT qid, nid FROM rf WHERE rank <= 10) f
        |LEFT JOIN (SELECT qid, nid FROM rt WHERE rank <= 10) t
        |  ON f.qid = t.qid AND f.nid = t.nid
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q57_pagerank" -> pagerankOracleSql,
    "s14_label_propagation" -> labelPropOracleSql,
    // CMS verdict: the oracle recomputes the exact top-10 and claims the
    // sketch guarantees (one-sided error; 2·⌈εN⌉ at confidence 0.9999)
    "q58_heavy_hitters" ->
      """WITH c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1),
        |r AS (SELECT user_id, cnt,
        |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS INT)
        |      AS rank
        |  FROM c)
        |SELECT rank, user_id, cnt,
        |  TRUE AS never_under, TRUE AS within_eps
        |FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin,
    // hash-randomized A/A calibration: same md5 arm split, same pooled
    // two-proportion z — every column is deterministic arithmetic
    "q59_ab_test" ->
      """WITH u0 AS (SELECT user_id, MIN(ts) AS t0,
        |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
        |  FROM events GROUP BY 1),
        |u AS (SELECT user_id,
        |    CASE WHEN tp <= t0 + INTERVAL 1 DAY THEN 1 ELSE 0 END
        |      AS converted
        |  FROM u0),
        |ar AS (SELECT CASE WHEN
        |      CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
        |        AS BIGINT) % 2 = 0
        |    THEN 'A' ELSE 'B' END AS arm, converted FROM u),
        |s AS (SELECT
        |    CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS a_n,
        |    CAST(SUM(CASE WHEN arm = 'A' THEN converted ELSE 0 END) AS BIGINT)
        |      AS a_conv,
        |    CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS b_n,
        |    CAST(SUM(CASE WHEN arm = 'B' THEN converted ELSE 0 END) AS BIGINT)
        |      AS b_conv
        |  FROM ar),
        |c AS (SELECT *,
        |    CAST(a_conv AS DOUBLE) / a_n AS pa,
        |    CAST(b_conv AS DOUBLE) / b_n AS pb,
        |    CAST(a_conv + b_conv AS DOUBLE) / (a_n + b_n) AS p
        |  FROM s),
        |zc AS (SELECT *,
        |    CASE WHEN p > 0 AND p < 1 THEN
        |      (pa - pb) / sqrt(p * (1.0 - p) *
        |        (CAST(1 AS DOUBLE) / a_n + CAST(1 AS DOUBLE) / b_n))
        |    ELSE CAST(0 AS DOUBLE) END AS zv
        |  FROM c)
        |SELECT a_n, a_conv, round(pa, 4) AS a_rate,
        |  b_n, b_conv, round(pb, 4) AS b_rate,
        |  round(zv, 4) AS z, abs(zv) > 1.96 AS significant
        |FROM zc""".stripMargin,
    // the persisted sketch store's estimate is engine-specific (q41
    // discipline): oracle recomputes the exact side, claims the
    // within-3% verdict true
    "q60_sketch_ndv" ->
      """SELECT year(CAST(o_orderdate AS DATE)) AS yr,
        |  COUNT(DISTINCT o_custkey) AS n_exact, TRUE AS within_3pct
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // geometric annealing natural→uniform; 6-dp decimal normalizer terms
    // absorb pow's last-ulp engine differences (t22 discipline)
    "t47_mix_schedule" ->
      """WITH a AS (SELECT source,
        |    CAST(SUM(len(regexp_extract_all(lower(trim(text)), '\S+')))
        |      AS BIGINT) AS tokens
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS nn,
        |    CAST(COUNT(*) AS BIGINT) AS n_src FROM a),
        |s AS (SELECT source, tokens,
        |    CAST(tokens AS DOUBLE) / nn AS p0,
        |    CAST(1 AS DOUBLE) / n_src AS p1,
        |    CAST(unnest([0, 1, 2, 3, 4]) AS BIGINT) AS epoch
        |  FROM a, tot),
        |w AS (SELECT source, epoch,
        |    CAST(round(pow(p0, 1.0 - CAST(epoch AS DOUBLE) / 4) *
        |      pow(p1, CAST(epoch AS DOUBLE) / 4), 6) AS DECIMAL(18,6))
        |      AS w_raw
        |  FROM s),
        |z AS (SELECT epoch, SUM(w_raw) AS z FROM w GROUP BY 1)
        |SELECT CAST(w.epoch AS INT) AS epoch, w.source,
        |  round(CAST(w.w_raw AS DOUBLE) / CAST(z.z AS DOUBLE), 6) AS weight
        |FROM w JOIN z ON w.epoch = z.epoch
        |ORDER BY epoch, source""".stripMargin,
    // one threshold sweep over the d02 exact pair table; th literals
    // cast to DOUBLE so both engines compare identical values
    "t46_threshold_sweep" ->
      s"""WITH $ngramCtes,
        |p AS (SELECT d1, d2,
        |    round(CAST(c AS DOUBLE)/(s1.sz + s2.sz - c), 4) AS jaccard
        |  FROM common
        |  JOIN sizes s1 ON d1 = s1.doc_id
        |  JOIN sizes s2 ON d2 = s2.doc_id
        |  WHERE CAST(c AS DOUBLE)/(s1.sz + s2.sz - c) >= 0.2),
        |th AS (SELECT CAST(unnest([0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
        |    AS DOUBLE) AS th),
        |x AS (SELECT th.th, p.d1, p.d2 FROM p, th WHERE p.jaccard >= th.th),
        |e AS (SELECT th, d1 AS doc, 0 AS side FROM x
        |      UNION ALL SELECT th, d2, 1 FROM x)
        |SELECT th,
        |  CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
        |  CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT CASE WHEN side = 1 THEN doc END) AS BIGINT)
        |    AS n_removed
        |FROM e GROUP BY 1 ORDER BY th""".stripMargin,
    // verdict form (q41 discipline): DuckDB recomputes the exact pair
    // count and claims the calibration bounds; the signature estimates
    // themselves are seeded-xxhash64 with no SQL twin
    "d21_minhash_calibration" ->
      s"""WITH $ngramCtes,
        |p AS (SELECT d1, d2 FROM common
        |  JOIN sizes s1 ON d1 = s1.doc_id
        |  JOIN sizes s2 ON d2 = s2.doc_id
        |  WHERE CAST(c AS DOUBLE)/(s1.sz + s2.sz - c) >= 0.2)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  TRUE AS mae_within_015, TRUE AS bias_within_010
        |FROM p""".stripMargin,
    // the s02 cosine with the label-inequality cut applied in the scan
    "s13_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) qv,
        |             label AS q_label
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) nv,
        |        label AS n_label FROM embeddings),
        |s AS (SELECT qid, nid, n_label,
        |  list_aggregate(list_transform(range(1, len(qv)+1), i -> qv[i]*nv[i]), 'sum')
        |   / (sqrt(list_aggregate(list_transform(range(1, len(qv)+1), i -> qv[i]*qv[i]), 'sum'))
        |    * sqrt(list_aggregate(list_transform(range(1, len(nv)+1), i -> nv[i]*nv[i]), 'sum'))) AS cos
        |FROM c, q WHERE n_label <> q_label),
        |r AS (SELECT qid, nid, n_label, cos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid)
        |    AS INT) AS rank
        |FROM s)
        |SELECT qid, rank, nid, n_label, round(cos, 4) AS cos FROM r
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    // the contract IS the IVM equivalence: the incremental path must
    // hash-equal this full recompute over the final membership
    "q56_ivm_rollup" ->
      """WITH fin AS (SELECT o_orderdate, o_orderstatus, o_totalprice
        |  FROM orders
        |  WHERE o_orderkey % 10 = 0
        |     OR (o_orderkey % 10 <> 0 AND o_orderkey % 7 <> 0))
        |SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |  o_orderstatus AS status,
        |  COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2)
        |    AS DOUBLE) AS revenue,
        |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    / COUNT(*), 4) AS avg_price
        |FROM fin GROUP BY 1, 2 ORDER BY yr, status""".stripMargin,
    "q55_join_size_planner" ->
      """WITH cnt AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(SUM(c) AS BIGINT) AS n_rows,
        |    CAST(SUM(c * c) AS BIGINT) AS join_rows,
        |    CAST(MAX(c) AS BIGINT) AS max_c FROM cnt),
        |t AS (SELECT MIN(l_partkey) AS top_key FROM cnt
        |  WHERE c = (SELECT MAX(c) FROM cnt))
        |SELECT s.n_keys, s.n_rows, s.join_rows, s.max_c,
        |  round(CAST(s.join_rows AS DOUBLE) / s.n_rows, 4) AS amplification,
        |  t.top_key,
        |  CAST((CAST(s.max_c AS HUGEINT) * s.max_c * 2000000 + s.join_rows)
        |    // (s.join_rows * 2) AS BIGINT) AS hot_share_ppm
        |FROM s, t""".stripMargin,
    "d20_prefix_boilerplate" ->
      """WITH p AS (SELECT doc_id, source,
        |    array_to_string(
        |      (regexp_extract_all(lower(trim(text)), '\S+'))[1:5], ' ')
        |      AS prefix
        |  FROM documents)
        |SELECT prefix, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        |  MIN(doc_id) AS first_doc
        |FROM p GROUP BY 1 HAVING COUNT(*) >= 2
        |ORDER BY n_docs DESC, prefix""".stripMargin,
    // Σ_{i≠j} cos = |Σ x̂|² − n over unit vectors: the O(n·d) identity;
    // component sums are DECIMAL on both sides, so the statistic is
    // order-invariant and the 4-dp round cannot sit on an engine gap
    "s12_anisotropy" ->
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) v
        |  FROM embeddings),
        |nv AS (SELECT label, v,
        |    sqrt(list_aggregate(list_transform(range(1, len(v)+1),
        |      i -> v[i]*v[i]), 'sum')) AS norm
        |  FROM e),
        |c AS (SELECT label,
        |    CAST(norm AS DECIMAL(38,18)) AS nrm,
        |    unnest(list_transform(range(1, len(v)+1), i ->
        |      struct_pack(d := i,
        |        u := CAST(v[i] / norm AS DECIMAL(38,18))))) AS z
        |  FROM nv WHERE norm > 0),
        |byd AS (SELECT label, z.d AS d, SUM(z.u) AS s,
        |    CAST(COUNT(*) AS BIGINT) AS n, SUM(nrm) AS nrm_sum
        |  FROM c GROUP BY 1, 2),
        |byl AS (SELECT label, MAX(n) AS n,
        |    CAST(SUM(CAST(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      AS DECIMAL(38,12))) AS DOUBLE) AS s2,
        |    CAST(SUM(nrm_sum) AS DOUBLE) / (MAX(n) * COUNT(*))
        |      AS mean_norm0,
        |    CAST(COUNT(*) AS INT) AS dims
        |  FROM byd GROUP BY 1)
        |SELECT label, n, dims, round(mean_norm0, 4) AS mean_norm,
        |  round((s2 - n) / (n * (n - 1)), 4) AS mean_pair_cos
        |FROM byl WHERE n >= 2 ORDER BY label""".stripMargin,
    // exact 5-gram decontamination (the Bloom gate is physical-only: no
    // false negatives, so the verified result equals this ungated SQL)
    "d16_bloom_decontam" ->
      """WITH toks AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(t)-3, 1)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
        |        || ' ' || t[i+4])) AS shingle
        |  FROM toks WHERE len(t) >= 5),
        |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 17 = 0),
        |train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 17 <> 0),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM train GROUP BY 1),
        |hits AS (SELECT doc_id, COUNT(*) AS n_overlap
        |  FROM train JOIN bench USING (shingle) GROUP BY 1),
        |m AS (SELECT s.doc_id, s.n_shingles,
        |    CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap
        |  FROM sizes s LEFT JOIN hits h USING (doc_id))
        |SELECT doc_id, n_shingles, n_overlap,
        |  n_overlap >= 1 AS contaminated
        |FROM m ORDER BY doc_id""".stripMargin,
    // blocking (shared first token) is part of the link contract and the
    // oracle mirrors it; both engines compute classic unit-cost
    // Levenshtein, and the length prefilter is a necessary condition of
    // dist <= 4 so it cannot change the result
    "d17_fuzzy_links" ->
      """WITH names AS (SELECT p_name AS name,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    split_part(p_name, ' ', 1) AS blk FROM part GROUP BY 1),
        |links AS (SELECT a.name AS name_a, b.name AS name_b,
        |    levenshtein(a.name, b.name) AS dist,
        |    a.n_rows AS rows_a, b.n_rows AS rows_b
        |  FROM names a JOIN names b ON a.blk = b.blk AND a.name < b.name
        |    AND abs(len(a.name) - len(b.name)) <= 4)
        |SELECT name_a, name_b, CAST(dist AS INT) AS dist, rows_a, rows_b
        |FROM links WHERE dist <= 4 ORDER BY name_a, name_b""".stripMargin,
    "t36_source_kl_drift" ->
      """WITH tf AS (SELECT source,
        |    unnest(regexp_extract_all(lower(trim(text)), '\S+')) AS token
        |  FROM documents),
        |st AS (SELECT source, token, COUNT(*) AS cnt FROM tf GROUP BY 1, 2),
        |stot AS (SELECT source, SUM(cnt) AS tot_s, COUNT(*) AS vocab_s
        |  FROM st GROUP BY 1),
        |ct AS (SELECT token, SUM(cnt) AS ccnt FROM st GROUP BY 1),
        |ctot AS (SELECT SUM(cnt) AS ctot FROM st),
        |terms AS (SELECT st.source, stot.tot_s, stot.vocab_s,
        |    CAST((CAST(st.cnt AS DOUBLE)/stot.tot_s)
        |      * ln((CAST(st.cnt AS DOUBLE)/stot.tot_s)
        |          /(CAST(ct.ccnt AS DOUBLE)/ctot.ctot))
        |      AS DECIMAL(27,12)) AS term
        |  FROM st JOIN ct USING (token) JOIN stot USING (source), ctot)
        |SELECT source, CAST(tot_s AS BIGINT) AS n_tokens,
        |  CAST(vocab_s AS BIGINT) AS vocab,
        |  round(CAST(SUM(term) AS DOUBLE), 4) AS kl_vs_corpus
        |FROM terms GROUP BY source, tot_s, vocab_s ORDER BY source""".stripMargin,
    "q35_analyze_stats" ->
      """WITH src AS (SELECT l_orderkey, l_quantity, l_returnflag,
        |    CAST(l_shipdate AS DATE) AS l_shipdate FROM lineitem),
        |m AS (SELECT COUNT(*) AS n_rows,
        |  SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS ok_nulls,
        |  COUNT(DISTINCT l_orderkey) AS ok_ndv,
        |  CAST(MIN(l_orderkey) AS VARCHAR) AS ok_min,
        |  CAST(MAX(l_orderkey) AS VARCHAR) AS ok_max,
        |  SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS q_nulls,
        |  COUNT(DISTINCT l_quantity) AS q_ndv,
        |  CAST(MIN(l_quantity) AS VARCHAR) AS q_min,
        |  CAST(MAX(l_quantity) AS VARCHAR) AS q_max,
        |  SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS rf_nulls,
        |  COUNT(DISTINCT l_returnflag) AS rf_ndv,
        |  CAST(MIN(l_returnflag) AS VARCHAR) AS rf_min,
        |  CAST(MAX(l_returnflag) AS VARCHAR) AS rf_max,
        |  SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS sd_nulls,
        |  COUNT(DISTINCT l_shipdate) AS sd_ndv,
        |  CAST(MIN(l_shipdate) AS VARCHAR) AS sd_min,
        |  CAST(MAX(l_shipdate) AS VARCHAR) AS sd_max
        |FROM src)
        |SELECT * FROM (
        |  SELECT 'l_orderkey' AS col_name, n_rows,
        |    CAST(ok_nulls AS BIGINT) AS n_nulls, ok_ndv AS n_distinct,
        |    ok_min AS min_val, ok_max AS max_val FROM m
        |  UNION ALL SELECT 'l_quantity', n_rows, CAST(q_nulls AS BIGINT),
        |    q_ndv, q_min, q_max FROM m
        |  UNION ALL SELECT 'l_returnflag', n_rows, CAST(rf_nulls AS BIGINT),
        |    rf_ndv, rf_min, rf_max FROM m
        |  UNION ALL SELECT 'l_shipdate', n_rows, CAST(sd_nulls AS BIGINT),
        |    sd_ndv, sd_min, sd_max FROM m)
        |ORDER BY col_name""".stripMargin,
    "q33_winsorized_stats" ->
      """WITH h AS (SELECT event_type, value, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, value,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY value) AS hi_rn,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY value) - c + 1 AS lo_rn,
        |    SUM(c) OVER (PARTITION BY event_type) AS n
        |  FROM h),
        |b AS (SELECT event_type,
        |    MAX(CASE WHEN CAST(floor(0.0625 * (n - 1)) AS BIGINT) + 1
        |      BETWEEN lo_rn AND hi_rn THEN value END) AS lo,
        |    MAX(CASE WHEN CAST(floor(0.9375 * (n - 1)) AS BIGINT) + 1
        |      BETWEEN lo_rn AND hi_rn THEN value END) AS hi
        |  FROM r GROUP BY 1)
        |SELECT e.event_type,
        |  COUNT(*) AS n_events,
        |  round(MIN(b.lo), 4) AS lo,
        |  round(MIN(b.hi), 4) AS hi,
        |  CAST(SUM(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clamped_low,
        |  CAST(SUM(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clamped_high,
        |  round(CAST(SUM(CAST(round(LEAST(GREATEST(e.value, b.lo), b.hi), 6)
        |    AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4) AS winsorized_mean
        |FROM events e JOIN b USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q29_spend_deciles" ->
      """WITH s AS (SELECT o_custkey,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS spend
        |  FROM orders GROUP BY 1),
        |d AS (SELECT o_custkey, spend,
        |    CAST(NTILE(10) OVER (ORDER BY spend, o_custkey) AS INT) AS decile
        |  FROM s)
        |SELECT decile, COUNT(*) AS n_customers,
        |  CAST(ROUND(SUM(spend), 2) AS DOUBLE) AS total_spend,
        |  CAST(ROUND(MIN(spend), 2) AS DOUBLE) AS min_spend,
        |  CAST(ROUND(MAX(spend), 2) AS DOUBLE) AS max_spend
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q22_rollup" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr, o_orderpriority,
        |  CAST(GROUPING(year(o_orderdate)) AS INT) AS g_yr,
        |  CAST(GROUPING(o_orderpriority) AS INT) AS g_pri,
        |  COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY ROLLUP(year(o_orderdate), o_orderpriority)
        |ORDER BY g_yr, g_pri, yr, o_orderpriority""".stripMargin,
    "q23_moving_window" ->
      """WITH daily AS (
        |  SELECT CAST(l.l_shipdate AS DATE) AS d, c.c_nationkey AS country_id,
        |         COUNT(*) AS n
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE year(l.l_shipdate) = 2000
        |  GROUP BY 1, 2)
        |SELECT d, country_id, n,
        |  ROUND(AVG(n) OVER (PARTITION BY country_id ORDER BY d
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS ma7,
        |  CAST(SUM(n) OVER (PARTITION BY country_id ORDER BY d
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |FROM daily ORDER BY country_id, d""".stripMargin,
    "q24_histogram" ->
      """WITH b AS (SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders)
        |SELECT CAST(LEAST(FLOOR((o_totalprice - lo) * 20 / (hi - lo)), 19) AS INT) AS bucket,
        |  COUNT(*) AS n, MIN(o_totalprice) AS lo_val, MAX(o_totalprice) AS hi_val
        |FROM orders, b GROUP BY 1 ORDER BY 1""".stripMargin,
    "q25_scd2" ->
      """WITH perday AS (
        |  SELECT o_custkey AS key, CAST(o_orderdate AS DATE) AS d,
        |         MAX(o_orderpriority) AS attr
        |  FROM orders GROUP BY 1, 2)
        |SELECT key, attr, d AS valid_from,
        |  LEAD(d) OVER (PARTITION BY key ORDER BY d) AS valid_to,
        |  LEAD(d) OVER (PARTITION BY key ORDER BY d) IS NULL AS is_current
        |FROM perday ORDER BY key, valid_from""".stripMargin,
    "t01_text_stats" ->
      """WITH s AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(trim(text)), '\S+')) AS INT) AS n_tokens,
        |  CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS INT) AS n_punct,
        |  CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it|was|for)\b')) AS INT) AS n_stopwords,
        |  CAST(length(text) AS INT) AS chars
        |FROM documents)
        |SELECT doc_id, n_tokens, n_punct, n_stopwords,
        |  round(least(1.0, n_tokens/50.0)*0.4
        |    + (CASE WHEN n_tokens > 0 THEN CAST(n_stopwords AS DOUBLE)/CAST(n_tokens AS DOUBLE) ELSE 0.0 END)*0.4
        |    + (1.0 - CASE WHEN chars > 0 THEN CAST(n_punct AS DOUBLE)/CAST(chars AS DOUBLE) ELSE 0.0 END)*0.2, 6) AS quality
        |FROM s ORDER BY doc_id""".stripMargin,
    "t02_langid_confusion" ->
      """WITH s AS (SELECT lang,
        |  len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|mit|ein|zu|den)\b')) AS s_de,
        |  len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it|was|for)\b')) AS s_en,
        |  len(regexp_extract_all(lower(text), '\b(el|los|las|que|es|por|con|para|del|una)\b')) AS s_es,
        |  len(regexp_extract_all(lower(text), '\b(le|les|est|dans|que|pour|une|des|du|il)\b')) AS s_fr,
        |  len(regexp_extract_all(lower(text), '[一-龥]')) AS s_zh
        |FROM documents),
        |p AS (SELECT lang AS actual,
        |  CASE WHEN greatest(s_de,s_en,s_es,s_fr,s_zh) = 0 THEN 'unknown'
        |       WHEN s_de = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'de'
        |       WHEN s_en = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'en'
        |       WHEN s_es = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'es'
        |       WHEN s_fr = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'fr'
        |       ELSE 'zh' END AS predicted
        |FROM s)
        |SELECT actual, predicted, COUNT(*) AS n FROM p
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t03_fingerprint" ->
      """SELECT doc_id,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t04_doc_split" ->
      """WITH b AS (SELECT doc_id,
        |  CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS INT) AS bucket
        |FROM documents)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    "t05_length_quantiles" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  ROUND(CAST(quantile_cont(n_chars, 0.25) AS DOUBLE), 4) AS p25,
        |  ROUND(CAST(quantile_cont(n_chars, 0.5) AS DOUBLE), 4) AS p50,
        |  ROUND(CAST(quantile_cont(n_chars, 0.75) AS DOUBLE), 4) AS p75
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "t06_top_tokens" ->
      """WITH toks AS (SELECT unnest(regexp_extract_all(lower(trim(text)), '\S+')) AS token
        |  FROM documents)
        |SELECT token, COUNT(*) AS n FROM toks
        |GROUP BY 1 ORDER BY n DESC, token LIMIT 50""".stripMargin,
    "t07_repetition" ->
      """WITH toks AS (SELECT doc_id,
        |    regexp_extract_all(lower(trim(text)), '\S+') AS t FROM documents),
        |flat AS (SELECT doc_id, unnest(t) AS tok FROM toks),
        |freq AS (SELECT doc_id, tok, COUNT(*) AS c FROM flat GROUP BY 1, 2),
        |top AS (SELECT doc_id, MAX(c) AS topc, CAST(SUM(c) AS BIGINT) AS n,
        |    COUNT(*) AS u FROM freq GROUP BY 1),
        |g AS (SELECT doc_id,
        |    CASE WHEN len(t) >= 2
        |         THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
        |         ELSE CAST([] AS VARCHAR[]) END AS g2
        |  FROM toks)
        |SELECT t.doc_id, n AS n_tokens,
        |  ROUND(CAST(u AS DOUBLE) / n, 4) AS distinct_ratio,
        |  ROUND(CAST(topc AS DOUBLE) / n, 4) AS top_token_frac,
        |  CASE WHEN len(g2) = 0 THEN 0.0
        |       ELSE ROUND(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 4)
        |  END AS dup_2gram_frac
        |FROM top t JOIN g USING (doc_id) ORDER BY doc_id""".stripMargin,
    "t08_pii_redact" ->
      """SELECT event_id,
        |  regexp_replace(regexp_replace(regexp_replace(props,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
        |    '-?[0-9]+(\.[0-9]+)?', '<NUM>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(props,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
        |  CAST(len(regexp_extract_all(
        |    regexp_replace(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS INT) AS n_ip,
        |  CAST(len(regexp_extract_all(
        |    regexp_replace(regexp_replace(props,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
        |    '-?[0-9]+(\.[0-9]+)?')) AS INT) AS n_num
        |FROM events ORDER BY event_id""".stripMargin,
    "t09_token_shards" ->
      """WITH d AS (SELECT doc_id, lang,
        |    CAST(len(regexp_extract_all(lower(trim(text)), '\S+')) AS INT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, lang, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM d)
        |SELECT doc_id, lang, n_tokens, cum - n_tokens AS tok_offset,
        |  CAST((cum - n_tokens) // 2000 AS BIGINT) AS shard
        |FROM c ORDER BY doc_id""".stripMargin,
    "t10_bpeish_tokens" ->
      """WITH s AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(trim(text)), '\S+')) AS INT) AS n_ws,
        |  CAST(len(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+')) AS INT) AS n_bpeish
        |FROM documents)
        |SELECT doc_id, n_ws, n_bpeish,
        |  ROUND(CAST(n_bpeish AS DOUBLE) / n_ws, 4) AS subword_ratio
        |FROM s WHERE n_ws > 0 ORDER BY doc_id""".stripMargin,
    "d01_exact_dup_groups" ->
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
        |  COUNT(*) AS copies, MIN(doc_id) AS keeper_doc_id
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // identical fingerprints => identical lower-cased token streams =>
    // bit-equal SimHashes => hamming 0, recovered with certainty by the
    // pigeonhole banding — so the oracle claims full recall of the exact
    // pairs and the row hash enforces it
    "d04a_simhash_recall" ->
      """WITH fp AS (SELECT doc_id,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM documents),
        |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id)
        |SELECT COUNT(*) AS n_exact, COUNT(*) AS n_recovered FROM p""".stripMargin,
    "d02_ngram_jaccard" ->
      s"""WITH $ngramCtes
        |SELECT d1, d2,
        |  round(CAST(c AS DOUBLE)/(s1.sz + s2.sz - c), 4) AS jaccard
        |FROM common
        |JOIN sizes s1 ON d1 = s1.doc_id
        |JOIN sizes s2 ON d2 = s2.doc_id
        |WHERE CAST(c AS DOUBLE)/(s1.sz + s2.sz - c) >= 0.2
        |ORDER BY d1, d2""".stripMargin,
    "d14_containment" ->
      s"""WITH $ngramCtes
        |SELECT d1, d2,
        |  round(CAST(c AS DOUBLE)/least(s1.sz, s2.sz), 4) AS containment,
        |  round(CAST(c AS DOUBLE)/(s1.sz + s2.sz - c), 4) AS jaccard
        |FROM common
        |JOIN sizes s1 ON d1 = s1.doc_id
        |JOIN sizes s2 ON d2 = s2.doc_id
        |WHERE CAST(c AS DOUBLE)/least(s1.sz, s2.sz) >= 0.6
        |ORDER BY d1, d2""".stripMargin,
    // AUDIT oracles for the approximate dedup paths (d03/d06/d10 have no
    // SQL-expressible form — seeded xxhash64 / rolling hashes): DuckDB
    // recomputes the EXACT side and claims full agreement, so the driver's
    // hash compare enforces that the approximate path's recall (and for
    // d03a, precision) holds on the corpus — a divergent pair or keeper
    // fails the row hash.
    "d03a_lsh_recall" ->
      s"""WITH $ngramCtes,
        |ep AS (SELECT d1, d2 FROM common
        |  JOIN sizes s1 ON d1 = s1.doc_id
        |  JOIN sizes s2 ON d2 = s2.doc_id
        |  WHERE CAST(c AS DOUBLE)/(s1.sz + s2.sz - c) >= 0.2)
        |SELECT COUNT(*) AS n_exact, TRUE AS certain_full_recall,
        |  TRUE AS recall_85_mid, TRUE AS no_spurious_explosion
        |FROM ep""".stripMargin,
    // CONTRACT verdict forms of the probabilistic dedup/ANN rows (the raw
    // candidate sets are bench-only `<id>r` entries pinned by goldens):
    // d03 = one row per exact pair with margin-aware claims — full recall
    // is pinned only where banding recall is deterministic (J >= 0.6,
    // rationale on TrainingData.LshCertainJaccard); near-threshold pairs
    // are covered by the aggregate 85%-recall and spurious-bound flags,
    // so a regenerated corpus with a near-threshold pair cannot false-
    // alarm (ADVICE r7). All margin arithmetic is Spark-side — the
    // oracle recomputes only the exact pair set and literal TRUEs.
    "d03_minhash_lsh" ->
      s"""WITH $ngramCtes,
        |ep AS (SELECT d1, d2 FROM common
        |  JOIN sizes s1 ON d1 = s1.doc_id
        |  JOIN sizes s2 ON d2 = s2.doc_id
        |  WHERE CAST(c AS DOUBLE)/(s1.sz + s2.sz - c) >= 0.2)
        |SELECT d1, d2, TRUE AS caught_or_marginal,
        |  TRUE AS recall_85_mid, TRUE AS no_spurious_explosion
        |FROM ep ORDER BY d1, d2""".stripMargin,
    // d04 = count + verdict row: exact-fingerprint pair count with a
    // full-recall claim (identical fingerprints => hamming-0 SimHashes =>
    // certain pigeonhole recovery; vacuous on a dup-free generation) plus
    // structural claims over the SimHash output that always bite
    "d04_simhash" ->
      """WITH fp AS (SELECT doc_id,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM documents)
        |SELECT COUNT(*) AS n_fp_pairs, TRUE AS fp_full_recall,
        |  TRUE AS hamming_in_range, TRUE AS pairs_canonical
        |FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id""".stripMargin,
    // d06 = count + verdict row: exact-pair count, ≥85% recall claim
    // (margin rationale on d06aWinnowRecall), plus structural claims on
    // the winnowing output itself (scores in [minJaccard, 1], d1 < d2)
    "d06_winnowing" ->
      s"""WITH $ngramCtes,
        |ep AS (SELECT d1, d2 FROM common
        |  JOIN sizes s1 ON d1 = s1.doc_id
        |  JOIN sizes s2 ON d2 = s2.doc_id
        |  WHERE CAST(c AS DOUBLE)/(s1.sz + s2.sz - c) >= 0.2)
        |SELECT COUNT(*) AS n_exact, TRUE AS recall_85pct,
        |  TRUE AS scores_in_range, TRUE AS pairs_canonical
        |FROM ep""".stripMargin,
    // d10 = the approximate manifest per document with an agreement flag;
    // the oracle recomputes the EXACT manifest recursively and claims
    // agreement everywhere, so a divergent keeper fails value AND flag
    "d10_dedup_manifest_lsh" ->
      s"""WITH RECURSIVE $manifestCtes
        |SELECT doc_id, keeper_id, doc_id = keeper_id AS is_keeper,
        |  TRUE AS agrees_exact
        |FROM manifest ORDER BY doc_id""".stripMargin,
    "d06a_winnow_recall" ->
      s"""WITH $ngramCtes,
        |ep AS (SELECT d1, d2 FROM common
        |  JOIN sizes s1 ON d1 = s1.doc_id
        |  JOIN sizes s2 ON d2 = s2.doc_id
        |  WHERE CAST(c AS DOUBLE)/(s1.sz + s2.sz - c) >= 0.2)
        |SELECT COUNT(*) AS n_exact, TRUE AS recall_85pct
        |FROM ep""".stripMargin,
    "d10a_manifest_agreement" ->
      s"""WITH RECURSIVE $manifestCtes
        |SELECT COUNT(*) AS n_docs, COUNT(*) AS n_agree
        |FROM manifest""".stripMargin,
    "d07_dedup_clusters" -> clustersOracleSql,
    // the O(log n) star-rewrite variant resolves the SAME components —
    // one oracle, two engines' worth of algorithms checked against it
    "d19_clusters_logstar" -> clustersOracleSql,
    "d08_dedup_manifest" ->
      s"""WITH RECURSIVE $manifestCtes
        |SELECT doc_id, keeper_id, doc_id = keeper_id AS is_keeper
        |FROM manifest ORDER BY doc_id""".stripMargin,
    "t30_quality_dedup" ->
      s"""WITH RECURSIVE $manifestCtes,
        |scored AS (SELECT m.doc_id, m.keeper_id AS cluster_id,
        |    CAST(d.n_chars AS BIGINT) AS score
        |  FROM manifest m JOIN documents d USING (doc_id)),
        |rk AS (SELECT cluster_id, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY cluster_id
        |      ORDER BY score DESC, doc_id) AS r
        |  FROM scored),
        |k AS (SELECT cluster_id, doc_id AS keeper_id FROM rk WHERE r = 1)
        |SELECT s.doc_id, s.cluster_id, k.keeper_id,
        |  s.doc_id = k.keeper_id AS is_keeper, s.score
        |FROM scored s JOIN k USING (cluster_id)
        |ORDER BY s.doc_id""".stripMargin,
    "t23_source_dup_report" ->
      s"""WITH RECURSIVE $manifestCtes,
        |j AS (SELECT m.doc_id, m.keeper_id, d.source
        |  FROM manifest m JOIN documents d USING (doc_id))
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN doc_id = keeper_id THEN 1 ELSE 0 END) AS BIGINT) AS n_keepers,
        |  CAST(SUM(CASE WHEN doc_id = keeper_id THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
        |  round(CAST(SUM(CASE WHEN doc_id = keeper_id THEN 0 ELSE 1 END) AS DOUBLE)
        |    / COUNT(*), 4) AS dup_rate
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "d12_cluster_sizes" ->
      s"""WITH RECURSIVE $manifestCtes,
        |bysize AS (SELECT keeper_id, COUNT(*) AS sz FROM manifest GROUP BY 1)
        |SELECT sz AS cluster_size, COUNT(*) AS n_clusters,
        |  CAST(SUM(sz - 1) AS BIGINT) AS would_drop
        |FROM bysize GROUP BY 1 ORDER BY 1""".stripMargin,
    "d11_incremental_dedup" ->
      """WITH toks AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(t)-1, 1)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |bs AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 17 = 0),
        |cs AS (SELECT doc_id AS cdoc, shingle FROM sh WHERE doc_id % 17 <> 0),
        |bsz AS (SELECT doc_id, COUNT(*) AS bsz FROM bs GROUP BY 1),
        |csz AS (SELECT cdoc, COUNT(*) AS csz FROM cs GROUP BY 1),
        |common AS (SELECT bs.doc_id, cs.cdoc, COUNT(*) AS c
        |  FROM bs JOIN cs USING (shingle) GROUP BY 1, 2),
        |near0 AS (SELECT doc_id, cdoc,
        |    CAST(c AS DOUBLE) / (bsz + csz - c) AS j
        |  FROM common JOIN bsz USING (doc_id) JOIN csz USING (cdoc)
        |  WHERE CAST(c AS DOUBLE) / (bsz + csz - c) >= 0.2),
        |best AS (SELECT doc_id, cdoc AS near_of, round(j, 4) AS near_j,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY j DESC, cdoc) AS rn
        |  FROM near0),
        |fps AS (SELECT doc_id,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM documents),
        |exact AS (SELECT b.doc_id, MIN(c.doc_id) AS exact_of
        |  FROM fps b JOIN fps c ON b.fp = c.fp
        |  WHERE b.doc_id % 17 = 0 AND c.doc_id % 17 <> 0 GROUP BY 1)
        |SELECT a.doc_id,
        |  CASE WHEN e.exact_of IS NOT NULL THEN 'exact_dup'
        |       WHEN b2.near_of IS NOT NULL THEN 'near_dup'
        |       ELSE 'new' END AS status,
        |  coalesce(e.exact_of, b2.near_of) AS dup_of,
        |  CASE WHEN e.exact_of IS NULL THEN b2.near_j END AS jaccard
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 17 = 0) a
        |LEFT JOIN exact e USING (doc_id)
        |LEFT JOIN (SELECT doc_id, near_of, near_j FROM best WHERE rn = 1) b2
        |  USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin,
    "t17_quality_rules" ->
      """WITH s AS (SELECT doc_id, lang,
        |  CAST(len(regexp_extract_all(lower(trim(text)), '\S+')) AS INT) AS n_words,
        |  CAST(length(regexp_replace(text, '\s+', '', 'g')) AS INT) AS nonspace,
        |  CAST(len(list_filter(regexp_extract_all(lower(trim(text)), '\S+'),
        |    w -> regexp_matches(w, '[a-z]'))) AS INT) AS n_alpha,
        |  CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it|was|for)\b')) AS INT) AS n_stopwords
        |FROM documents),
        |r AS (SELECT doc_id, lang, n_words,
        |    round(CAST(nonspace AS DOUBLE) / n_words, 4) AS mean_word_len,
        |    round(CAST(n_alpha AS DOUBLE) / n_words, 4) AS frac_alpha_words,
        |    n_stopwords
        |  FROM s WHERE n_words > 0)
        |SELECT doc_id, lang, n_words, mean_word_len, frac_alpha_words, n_stopwords,
        |  n_words >= 50 AND n_words <= 100000 AS ok_length,
        |  mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS ok_mean_word_len,
        |  frac_alpha_words >= 0.8 AS ok_alpha,
        |  n_stopwords >= 2 AS ok_stop,
        |  (n_words >= 50 AND n_words <= 100000)
        |    AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
        |    AND frac_alpha_words >= 0.8 AND n_stopwords >= 2 AS keep
        |FROM r ORDER BY doc_id""".stripMargin,
    "t18_rebalance_sample" ->
      """WITH d AS (SELECT doc_id, source, lang,
        |    CAST(len(regexp_extract_all(lower(trim(text)), '\S+')) AS BIGINT) AS n_tok,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS b
        |  FROM documents),
        |g AS (SELECT source, lang, COUNT(*) AS n_docs,
        |    CAST(SUM(n_tok) AS BIGINT) AS grp_tokens
        |  FROM d GROUP BY 1, 2),
        |m AS (SELECT MIN(grp_tokens) AS min_tokens FROM g),
        |r AS (SELECT g.*, (min_tokens * 1000000) // grp_tokens AS cut FROM g, m)
        |SELECT r.source, r.lang, r.n_docs, r.grp_tokens,
        |  CAST(SUM(CASE WHEN d.b < r.cut THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  round(CAST(r.cut AS DOUBLE) / 1000000, 4) AS target_rate,
        |  round(CAST(SUM(CASE WHEN d.b < r.cut THEN 1 ELSE 0 END) AS DOUBLE) / r.n_docs, 4) AS realized_rate
        |FROM d JOIN r USING (source, lang)
        |GROUP BY 1, 2, 3, 4, r.cut
        |ORDER BY 1, 2""".stripMargin,
    "t20_importance_weights" ->
      """WITH toks AS (SELECT doc_id, source,
        |    unnest(regexp_extract_all(lower(trim(text)), '\S+')) AS tok
        |  FROM documents),
        |counts AS (SELECT tok, COUNT(*) AS n_raw,
        |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS n_tgt
        |  FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_raw) AS BIGINT) AS nr,
        |    CAST(SUM(n_tgt) AS BIGINT) AS nt, COUNT(*) AS v FROM counts),
        |ratio AS (SELECT tok,
        |    CAST(round(ln((CAST(n_tgt + 1 AS DOUBLE) / (nt + v))
        |      / (CAST(n_raw + 1 AS DOUBLE) / (nr + v))), 6) AS DECIMAL(18,6)) AS llr
        |  FROM counts, tot)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  round(CAST(SUM(llr) AS DOUBLE) / COUNT(*), 4) AS dsir_score
        |FROM toks JOIN ratio USING (tok)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "t22_temperature_mix" ->
      """WITH d AS (SELECT doc_id, lang,
        |    CAST(len(regexp_extract_all(lower(trim(text)), '\S+')) AS BIGINT) AS n_tok,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS b
        |  FROM documents),
        |g AS (SELECT lang, COUNT(*) AS n_docs,
        |    CAST(SUM(n_tok) AS BIGINT) AS grp_tokens,
        |    CAST(round(sqrt(CAST(SUM(n_tok) AS DOUBLE)), 6) AS DECIMAL(18,6)) AS rt
        |  FROM d GROUP BY 1),
        |tot AS (SELECT CAST(SUM(grp_tokens) AS BIGINT) AS nn,
        |    SUM(rt) AS z FROM g),
        |r AS (SELECT g.*, nn,
        |    CAST(rt AS DOUBLE) / CAST(z AS DOUBLE) AS temp_share,
        |    least(1.0, (CAST(rt AS DOUBLE) / CAST(z AS DOUBLE)) * nn / grp_tokens) AS rate
        |  FROM g, tot),
        |rc AS (SELECT r.*, CAST(floor(rate * 1000000) AS BIGINT) AS cut FROM r)
        |SELECT rc.lang, rc.n_docs, rc.grp_tokens,
        |  round(CAST(rc.grp_tokens AS DOUBLE) / rc.nn, 4) AS raw_share,
        |  round(rc.temp_share, 4) AS temp_share,
        |  round(rc.rate, 4) AS sample_rate,
        |  CAST(SUM(CASE WHEN d.b < rc.cut THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM d JOIN rc USING (lang)
        |GROUP BY 1, 2, 3, 4, 5, 6
        |ORDER BY 1""".stripMargin,
    "t31_usable_temp_mix" ->
      """WITH s AS (SELECT doc_id, lang,
        |  CAST(len(regexp_extract_all(lower(trim(text)), '\S+')) AS INT) AS n_words,
        |  CAST(length(regexp_replace(text, '\s+', '', 'g')) AS INT) AS nonspace,
        |  CAST(len(list_filter(regexp_extract_all(lower(trim(text)), '\S+'),
        |    w -> regexp_matches(w, '[a-z]'))) AS INT) AS n_alpha,
        |  CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it|was|for)\b')) AS INT) AS n_stopwords
        |FROM documents),
        |k AS (SELECT doc_id, lang, n_words,
        |    (n_words BETWEEN 50 AND 100000)
        |    AND (round(CAST(nonspace AS DOUBLE) / n_words, 4) BETWEEN 3.0 AND 10.0)
        |    AND (round(CAST(n_alpha AS DOUBLE) / n_words, 4) >= 0.8)
        |    AND (n_stopwords >= 2) AS keep
        |  FROM s WHERE n_words > 0),
        |totals AS (SELECT lang, COUNT(*) AS n_docs FROM k GROUP BY 1),
        |u AS (SELECT doc_id, lang, CAST(n_words AS BIGINT) AS n_tok,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS b
        |  FROM k WHERE keep),
        |g AS (SELECT lang, COUNT(*) AS usable_docs,
        |    CAST(SUM(n_tok) AS BIGINT) AS usable_tokens,
        |    CAST(round(sqrt(CAST(SUM(n_tok) AS DOUBLE)), 6) AS DECIMAL(18,6)) AS rt
        |  FROM u GROUP BY 1),
        |tot AS (SELECT CAST(SUM(usable_tokens) AS BIGINT) AS nn,
        |    SUM(rt) AS z FROM g),
        |r AS (SELECT g.*, nn,
        |    CAST(rt AS DOUBLE) / CAST(z AS DOUBLE) AS temp_share,
        |    least(1.0, (CAST(rt AS DOUBLE) / CAST(z AS DOUBLE)) * nn / usable_tokens) AS rate
        |  FROM g, tot),
        |rc AS (SELECT r.*, CAST(floor(rate * 1000000) AS BIGINT) AS cut FROM r),
        |kept AS (SELECT rc.lang, rc.usable_docs, rc.usable_tokens,
        |    rc.temp_share, rc.rate,
        |    CAST(SUM(CASE WHEN u.b < rc.cut THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |  FROM u JOIN rc USING (lang) GROUP BY 1, 2, 3, 4, 5, rc.cut)
        |SELECT t.lang, t.n_docs,
        |  coalesce(kept.usable_docs, 0) AS usable_docs,
        |  coalesce(kept.usable_tokens, 0) AS usable_tokens,
        |  round(coalesce(kept.temp_share, 0.0), 4) AS temp_share,
        |  round(coalesce(kept.rate, 0.0), 4) AS sample_rate,
        |  coalesce(kept.n_kept, 0) AS n_kept
        |FROM totals t LEFT JOIN kept USING (lang) ORDER BY 1""".stripMargin,
    "t26_expectations" ->
      """WITH m AS (SELECT
        |  CAST(COUNT(DISTINCT doc_id) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS doc_id_unique,
        |  AVG(CASE WHEN text IS NOT NULL THEN 1.0 ELSE 0.0 END) AS text_complete,
        |  AVG(CASE WHEN lang IN ('de','en','es','fr','zh')
        |    THEN 1.0 ELSE 0.0 END) AS lang_accepted,
        |  AVG(CASE WHEN n_chars = length(text)
        |    THEN 1.0 ELSE 0.0 END) AS chars_match_text,
        |  AVG(CASE WHEN n_chars BETWEEN 1 AND 10000
        |    THEN 1.0 ELSE 0.0 END) AS chars_in_range,
        |  AVG(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END) AS english_share,
        |  LEAST(CAST(COUNT(*) AS DOUBLE) / 100.0, 1.0) AS min_rows
        |FROM documents)
        |SELECT * FROM (
        |  SELECT 'chars_in_range' AS "check",
        |    CAST(round(CAST(chars_in_range AS DECIMAL(28,10)), 6) AS DOUBLE) AS metric,
        |    CAST(1.0 AS DOUBLE) AS threshold, chars_in_range >= 1.0 AS passed FROM m
        |  UNION ALL SELECT 'chars_match_text',
        |    CAST(round(CAST(chars_match_text AS DECIMAL(28,10)), 6) AS DOUBLE),
        |    CAST(1.0 AS DOUBLE), chars_match_text >= 1.0 FROM m
        |  UNION ALL SELECT 'doc_id_unique',
        |    CAST(round(CAST(doc_id_unique AS DECIMAL(28,10)), 6) AS DOUBLE),
        |    CAST(1.0 AS DOUBLE), doc_id_unique >= 1.0 FROM m
        |  UNION ALL SELECT 'english_share',
        |    CAST(round(CAST(english_share AS DECIMAL(28,10)), 6) AS DOUBLE),
        |    CAST(0.5 AS DOUBLE), english_share >= 0.5 FROM m
        |  UNION ALL SELECT 'lang_accepted',
        |    CAST(round(CAST(lang_accepted AS DECIMAL(28,10)), 6) AS DOUBLE),
        |    CAST(1.0 AS DOUBLE), lang_accepted >= 1.0 FROM m
        |  UNION ALL SELECT 'min_rows',
        |    CAST(round(CAST(min_rows AS DECIMAL(28,10)), 6) AS DOUBLE),
        |    CAST(1.0 AS DOUBLE), min_rows >= 1.0 FROM m
        |  UNION ALL SELECT 'text_complete',
        |    CAST(round(CAST(text_complete AS DECIMAL(28,10)), 6) AS DOUBLE),
        |    CAST(1.0 AS DOUBLE), text_complete >= 1.0 FROM m)
        |ORDER BY "check"""".stripMargin,
    "t27_expectations_by_lang" ->
      """WITH m AS (SELECT lang,
        |  AVG(CASE WHEN text IS NOT NULL THEN 1.0 ELSE 0.0 END) AS text_complete,
        |  AVG(CASE WHEN n_chars = length(text)
        |    THEN 1.0 ELSE 0.0 END) AS chars_match_text,
        |  AVG(CASE WHEN n_chars BETWEEN 1 AND 10000
        |    THEN 1.0 ELSE 0.0 END) AS chars_in_range,
        |  LEAST(CAST(COUNT(*) AS DOUBLE) / 100.0, 1.0) AS doc_floor_100,
        |  AVG(CASE WHEN n_chars >= 100 THEN 1.0 ELSE 0.0 END) AS long_doc_share
        |FROM documents GROUP BY lang)
        |SELECT * FROM (
        |  SELECT lang, 'chars_in_range' AS "check",
        |    CAST(round(CAST(chars_in_range AS DECIMAL(28,10)), 6) AS DOUBLE) AS metric,
        |    CAST(1.0 AS DOUBLE) AS threshold, chars_in_range >= 1.0 AS passed FROM m
        |  UNION ALL SELECT lang, 'chars_match_text',
        |    CAST(round(CAST(chars_match_text AS DECIMAL(28,10)), 6) AS DOUBLE),
        |    CAST(1.0 AS DOUBLE), chars_match_text >= 1.0 FROM m
        |  UNION ALL SELECT lang, 'doc_floor_100',
        |    CAST(round(CAST(doc_floor_100 AS DECIMAL(28,10)), 6) AS DOUBLE),
        |    CAST(1.0 AS DOUBLE), doc_floor_100 >= 1.0 FROM m
        |  UNION ALL SELECT lang, 'long_doc_share',
        |    CAST(round(CAST(long_doc_share AS DECIMAL(28,10)), 6) AS DOUBLE),
        |    CAST(0.8 AS DOUBLE), long_doc_share >= 0.8 FROM m
        |  UNION ALL SELECT lang, 'text_complete',
        |    CAST(round(CAST(text_complete AS DECIMAL(28,10)), 6) AS DOUBLE),
        |    CAST(1.0 AS DOUBLE), text_complete >= 1.0 FROM m)
        |ORDER BY lang, "check"""".stripMargin,
    "t25_token_inventory" ->
      """WITH s AS (SELECT source, lang,
        |  CAST(len(regexp_extract_all(lower(trim(text)), '\S+')) AS INT) AS n_words,
        |  CAST(length(regexp_replace(text, '\s+', '', 'g')) AS INT) AS nonspace,
        |  CAST(len(list_filter(regexp_extract_all(lower(trim(text)), '\S+'),
        |    w -> regexp_matches(w, '[a-z]'))) AS INT) AS n_alpha,
        |  CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it|was|for)\b')) AS INT) AS n_stopwords
        |FROM documents),
        |k AS (SELECT source, lang, n_words,
        |    (n_words BETWEEN 50 AND 100000)
        |    AND (round(CAST(nonspace AS DOUBLE) / n_words, 4) BETWEEN 3.0 AND 10.0)
        |    AND (round(CAST(n_alpha AS DOUBLE) / n_words, 4) >= 0.8)
        |    AND (n_stopwords >= 2) AS keep
        |  FROM s WHERE n_words > 0)
        |SELECT source, lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |  CAST(SUM(n_words) AS BIGINT) AS tokens_total,
        |  CAST(SUM(CASE WHEN keep THEN n_words ELSE 0 END) AS BIGINT) AS tokens_usable,
        |  round(CAST(SUM(CASE WHEN keep THEN n_words ELSE 0 END) AS DOUBLE)
        |    / SUM(n_words), 4) AS usable_rate
        |FROM k GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t24_selection_funnel" ->
      """WITH d AS (SELECT doc_id, source, lang,
        |    CAST(len(regexp_extract_all(lower(trim(text)), '\S+')) AS BIGINT) AS n_tok,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS b
        |  FROM documents),
        |ranked AS (SELECT d.*,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY b, doc_id) AS rn
        |  FROM d),
        |capped AS (SELECT * FROM ranked WHERE rn <= 15),
        |g AS (SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS grp_tokens,
        |    CAST(round(sqrt(CAST(SUM(n_tok) AS DOUBLE)), 6) AS DECIMAL(18,6)) AS rt
        |  FROM capped GROUP BY 1),
        |tot AS (SELECT CAST(SUM(grp_tokens) AS BIGINT) AS nn, SUM(rt) AS z FROM g),
        |r AS (SELECT lang,
        |    CAST(floor(least(1.0, (CAST(rt AS DOUBLE) / CAST(z AS DOUBLE))
        |      * nn / grp_tokens) * 1000000) AS BIGINT) AS cut
        |  FROM g, tot),
        |base AS (SELECT source, lang, COUNT(*) AS n_docs FROM d GROUP BY 1, 2),
        |surv AS (SELECT source, lang, COUNT(*) AS after_cap,
        |    CAST(SUM(CASE WHEN b < cut THEN 1 ELSE 0 END) AS BIGINT) AS after_temp
        |  FROM capped JOIN r USING (lang) GROUP BY 1, 2)
        |SELECT base.source, base.lang, base.n_docs,
        |  coalesce(surv.after_cap, 0) AS after_cap,
        |  coalesce(surv.after_temp, 0) AS after_temp
        |FROM base LEFT JOIN surv USING (source, lang)
        |ORDER BY 1, 2""".stripMargin,
    "t21_source_cap" ->
      """WITH r AS (SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY
        |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000,
        |      doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, source, CAST(rn AS INT) AS rn
        |FROM r WHERE rn <= 10 ORDER BY source, rn""".stripMargin,
    "t19_sequence_pack" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(trim(text)), '\S+')) AS BIGINT) AS n_tokens
        |  FROM documents
        |  WHERE len(regexp_extract_all(lower(trim(text)), '\S+')) > 0),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS start_off
        |  FROM d),
        |s AS (SELECT doc_id, n_tokens, start_off,
        |    start_off // 2048 AS seq_first,
        |    (start_off + n_tokens - 1) // 2048 AS seq_last
        |  FROM c),
        |e AS (SELECT s.*, u.seq_id
        |  FROM s, UNNEST(generate_series(s.seq_first, s.seq_last)) AS u(seq_id))
        |SELECT seq_id, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN seq_id = seq_first THEN 1 ELSE 0 END) AS BIGINT) AS n_starting,
        |  CAST(SUM(LEAST((seq_id+1)*2048, start_off + n_tokens)
        |    - GREATEST(seq_id*2048, start_off)) AS BIGINT) AS n_tokens_filled,
        |  ROUND(CAST(SUM(LEAST((seq_id+1)*2048, start_off + n_tokens)
        |    - GREATEST(seq_id*2048, start_off)) AS BIGINT) / 2048.0, 4) AS fill_ratio
        |FROM e GROUP BY seq_id ORDER BY seq_id""".stripMargin,
    "d13_exact_ngram_decontam" ->
      """WITH toks AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(t)-11, 1)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
        |        || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6]
        |        || ' ' || t[i+7] || ' ' || t[i+8] || ' ' || t[i+9]
        |        || ' ' || t[i+10] || ' ' || t[i+11] || ' ' || t[i+12])) AS shingle
        |  FROM toks WHERE len(t) >= 13),
        |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 17 = 0),
        |train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 17 <> 0),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM train GROUP BY 1),
        |hits AS (SELECT doc_id, COUNT(*) AS n_overlap
        |  FROM train JOIN bench USING (shingle) GROUP BY 1),
        |m AS (SELECT s.doc_id, s.n_shingles,
        |    CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap
        |  FROM sizes s LEFT JOIN hits h USING (doc_id))
        |SELECT doc_id, n_shingles, n_overlap,
        |  n_overlap >= 1 AS contaminated
        |FROM m ORDER BY doc_id""".stripMargin,
    "d09_contamination" ->
      """WITH toks AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(t)-1, 1)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 17 = 0),
        |train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 17 <> 0),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM train GROUP BY 1),
        |hits AS (SELECT doc_id, COUNT(*) AS n_overlap
        |  FROM train JOIN bench USING (shingle) GROUP BY 1),
        |m AS (SELECT s.doc_id, s.n_shingles,
        |    CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap
        |  FROM sizes s LEFT JOIN hits h USING (doc_id))
        |SELECT doc_id, n_shingles, n_overlap,
        |  round(CAST(n_overlap AS DOUBLE) / n_shingles, 4) AS overlap_frac,
        |  round(CAST(n_overlap AS DOUBLE) / n_shingles, 4) >= 0.5 AS contaminated
        |FROM m ORDER BY doc_id""".stripMargin,
    "d05_cosine_near_dup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |p AS (SELECT a.vec_id AS d1, b.vec_id AS d2,
        |  list_aggregate(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i]), 'sum')
        |   / (sqrt(list_aggregate(list_transform(range(1, len(a.v)+1), i -> a.v[i]*a.v[i]), 'sum'))
        |    * sqrt(list_aggregate(list_transform(range(1, len(b.v)+1), i -> b.v[i]*b.v[i]), 'sum'))) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT d1, d2, round(cos, 4) AS cos FROM p
        |WHERE cos >= 0.4 ORDER BY d1, d2""".stripMargin,
    // SemDeDup manifest: the same exact-cosine pair relation resolved to
    // connected components (d07's recursive walk) + the d08 manifest shape
    "d15_semantic_dedup" ->
      """WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |p AS (SELECT a.vec_id AS d1, b.vec_id AS d2
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE list_aggregate(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i]), 'sum')
        |   / (sqrt(list_aggregate(list_transform(range(1, len(a.v)+1), i -> a.v[i]*a.v[i]), 'sum'))
        |    * sqrt(list_aggregate(list_transform(range(1, len(b.v)+1), i -> b.v[i]*b.v[i]), 'sum')))
        |   >= 0.45),
        |edges AS (SELECT d1 AS src, d2 AS dst FROM p
        |  UNION ALL SELECT d2, d1 FROM p),
        |walk AS (
        |  SELECT src AS id, src AS label FROM edges
        |  UNION
        |  SELECT e2.src AS id, w.label FROM walk w JOIN edges e2 ON e2.dst = w.id),
        |cl AS (SELECT id, MIN(label) AS cluster_id FROM walk GROUP BY 1)
        |SELECT v.vec_id,
        |  COALESCE(cl.cluster_id, v.vec_id) AS keeper_id,
        |  v.vec_id = COALESCE(cl.cluster_id, v.vec_id) AS is_keeper
        |FROM embeddings v LEFT JOIN cl ON v.vec_id = cl.id
        |ORDER BY v.vec_id""".stripMargin,
    "s01_cosine_pairs" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) nv FROM embeddings)
        |SELECT qid, nid,
        |  round(list_aggregate(list_transform(range(1, len(qv)+1), i -> qv[i]*nv[i]), 'sum')
        |   / (sqrt(list_aggregate(list_transform(range(1, len(qv)+1), i -> qv[i]*qv[i]), 'sum'))
        |    * sqrt(list_aggregate(list_transform(range(1, len(nv)+1), i -> nv[i]*nv[i]), 'sum'))), 4) AS cos
        |FROM c, q ORDER BY qid, nid""".stripMargin,
    "s02_topk_brute_force" -> bruteTopkSql,
    "s23_external_topk" -> externalTopkSql,
    // SRP's external form at the zero-plane dial is exact the same way
    // s03a is (one bucket = whole-corpus candidates), and external
    // queries have no self row to exclude — so the external brute oracle
    // hash-verifies the round-12 srpBucketTopKQueries pipeline verbatim
    "s24_external_srp" -> externalTopkSql,
    // IVF with every cell probed is exact by construction → the SAME
    // brute-force oracle hash-verifies the full IVF pipeline (quantizer,
    // routing, per-cell scan); s04 keeps the production nprobe setting
    "s04a_ivf_full_probe" -> bruteTopkSql,
    "s15_ivfpq_rerank_exact" -> bruteTopkSql,
    // SRP with zero planes is exact the same way: one bucket = whole-corpus
    // candidate set, so the SAME oracle hash-verifies the SRP machinery
    "s03a_srp_full_dial" -> bruteTopkSql,
    // PQ with the exact-rerank dial covering the whole corpus equals
    // brute force — same oracle, same dial trick as s03a/s04a
    "s07a_pq_rerank_exact" -> bruteTopkSql,
    // CONTRACT verdict forms for the ANN rows (annVerdict): one row per
    // pinned query, every column a deterministic claim — production-dial
    // structure (+ exact scoring for SRP/IVF, which rank with true
    // cosine) and the exact-dial ≡ brute-force equality that chains the
    // index pipeline to the s02 cross-engine oracle. The raw approximate
    // top-k sets are bench-only `s03r`/`s04r`/`s07r` entries.
    "s03_srp_ann_topk" ->
      """SELECT vec_id AS qid, TRUE AS prod_ranks_dense,
        |  TRUE AS prod_self_excluded, TRUE AS prod_scores_match,
        |  TRUE AS zero_plane_matches_brute
        |FROM embeddings WHERE vec_id < 5 ORDER BY qid""".stripMargin,
    // IVF/PQ additionally claim prod_nonempty: their production probes
    // cannot return an empty candidate set, so an empty result must FAIL
    // rather than pass the structural checks vacuously (ADVICE r7); SRP
    // alone may land in a legitimately empty bucket and omits the claim
    "s04_ivf_ann_topk" ->
      """SELECT vec_id AS qid, TRUE AS prod_nonempty,
        |  TRUE AS prod_ranks_dense,
        |  TRUE AS prod_self_excluded, TRUE AS prod_scores_match,
        |  TRUE AS full_probe_matches_brute
        |FROM embeddings WHERE vec_id < 5 ORDER BY qid""".stripMargin,
    "s07_pq_ann_topk" ->
      """SELECT vec_id AS qid, TRUE AS prod_nonempty,
        |  TRUE AS prod_ranks_dense,
        |  TRUE AS prod_self_excluded, TRUE AS rerank_matches_brute
        |FROM embeddings WHERE vec_id < 5 ORDER BY qid""".stripMargin,
    // s16: the composed ANN-MMR path with the probe dial fully open must
    // equal brute-force MMR row for row (rank, pick, AND relevance) —
    // the oracle claims TRUE per pinned query
    "s16_mmr_ann" ->
      """SELECT vec_id AS qid, TRUE AS full_dial_matches_brute
        |FROM embeddings WHERE vec_id < 5 ORDER BY qid""".stripMargin,
    // s18: every claim is deterministically TRUE on any corpus — the
    // sweep's identity-derived hit counts equal the per-dial probe's
    // (proved in the Spark plan itself by running both), recall/scan
    // are monotone (nested candidate sets), and the full dial is exact.
    // 16 dial rows: the swept range is the BUILT cell count, which is
    // nlist=16 at every driver SF (clamping only bites below 16 vectors)
    "s18_ivf_dial_sweep" ->
      """SELECT CAST(unnest(range(1, 17)) AS INT) AS nprobe,
        |  TRUE AS sweep_matches_probe, TRUE AS recall_monotone,
        |  TRUE AS scan_monotone, TRUE AS full_dial_recall_one
        |ORDER BY nprobe""".stripMargin,
    // s19: the oracle recomputes the two occupancy facts (built cell
    // count = nlist at every driver SF, vector count = the corpus) and
    // asserts the structural claims, all deterministically true
    "s19_ivf_drift" ->
      """SELECT CAST(16 AS BIGINT) AS n_cells,
        |  CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |  TRUE AS count_matches_corpus, TRUE AS skew_ge_one,
        |  TRUE AS msd_nonneg, TRUE AS empty_in_range
        |FROM embeddings""".stripMargin,
    // s20: the s18 verdict discipline on the PQ axis — fixed ladder, all
    // claims deterministically TRUE (identity re-measured by real probe
    // runs, nested shortlists, whole-corpus step exact by s07a)
    "s20_pq_rerank_sweep" ->
      """SELECT CAST(unnest([5, 10, 20, 80, 320, 2147483647]) AS INT)
        |    AS rerank,
        |  TRUE AS sweep_matches_probe, TRUE AS recall_monotone,
        |  TRUE AS full_rerank_recall_one
        |ORDER BY rerank""".stripMargin,
    // s21: the s18/s20 verdict discipline on the nprobe×rerank GRID —
    // 4 dials (nlist=4 so the corner dial is the full dial at every
    // driver SF) × the fixed 4-step ladder, every claim deterministically
    // TRUE (each cell re-measured by a real ivfPqTopK run, shortlists
    // nested along the ladder, the ∞ column reproduces dialSweep, and
    // the (full dial, whole corpus) corner is exact)
    "s21_grid_sweep" ->
      """SELECT CAST(p AS INT) AS nprobe, CAST(s AS INT) AS rerank,
        |  TRUE AS grid_matches_probe, TRUE AS rerank_monotone,
        |  TRUE AS full_rerank_matches_dial, TRUE AS corner_recall_one
        |FROM (SELECT unnest(range(1, 5)) AS p),
        |     (SELECT unnest([5, 20, 320, 2147483647]) AS s)
        |ORDER BY nprobe, rerank""".stripMargin,
    // s22: invariant row — every boolean is independently re-derived in
    // plain Scala over the collected 16-cell grid before it is emitted,
    // so a TRUE here certifies frontier = definition, not frontier =
    // itself; the actual frontier CELLS are pinned by the s22r golden
    "s22_grid_frontier" ->
      """SELECT TRUE AS frontier_nonempty, TRUE AS matches_rederivation,
        |  TRUE AS all_meet_sla, TRUE AS subset_of_grid,
        |  TRUE AS antichain_order""".stripMargin,
    "s08_knn_label_agreement" ->
      """WITH q AS (SELECT vec_id AS qid, label AS q_label,
        |             CAST(embedding AS DOUBLE[]) qv
        |           FROM embeddings WHERE vec_id < 200),
        |c AS (SELECT vec_id AS nid, label AS n_label,
        |        CAST(embedding AS DOUBLE[]) nv FROM embeddings),
        |s AS (SELECT qid, q_label, nid, n_label,
        |  list_aggregate(list_transform(range(1, len(qv)+1), i -> qv[i]*nv[i]), 'sum')
        |   / (sqrt(list_aggregate(list_transform(range(1, len(qv)+1), i -> qv[i]*qv[i]), 'sum'))
        |    * sqrt(list_aggregate(list_transform(range(1, len(nv)+1), i -> nv[i]*nv[i]), 'sum'))) AS cos
        |FROM c, q WHERE qid <> nid),
        |r AS (SELECT qid, q_label, n_label,
        |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
        |FROM s)
        |SELECT q_label AS label, COUNT(DISTINCT qid) AS n_queries,
        |  CAST(SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |  round(CAST(SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS DOUBLE)
        |    / (COUNT(DISTINCT qid) * 5), 4) AS agree_rate
        |FROM r WHERE rank <= 5 GROUP BY 1 ORDER BY 1""".stripMargin,
    // s17: per-rank DCG gains are inlined integer micro-unit literals in
    // BOTH engines (a recomputed log2 could disagree by an ulp and flip a
    // rounded value); per-query metrics are exact integer micro-units, so
    // the per-label means are order-invariant integer sums
    "s17_retrieval_eval" ->
      """WITH q AS (SELECT vec_id AS qid, label AS q_label,
        |             CAST(embedding AS DOUBLE[]) qv
        |           FROM embeddings WHERE vec_id < 200),
        |c AS (SELECT vec_id AS nid, label AS n_label,
        |        CAST(embedding AS DOUBLE[]) nv FROM embeddings),
        |m AS (SELECT label AS q_label, CAST(COUNT(*) AS BIGINT) AS n_members
        |      FROM embeddings GROUP BY 1),
        |s AS (SELECT qid, q_label, nid, n_label,
        |  list_aggregate(list_transform(range(1, len(qv)+1), i -> qv[i]*nv[i]), 'sum')
        |   / (sqrt(list_aggregate(list_transform(range(1, len(qv)+1), i -> qv[i]*qv[i]), 'sum'))
        |    * sqrt(list_aggregate(list_transform(range(1, len(nv)+1), i -> nv[i]*nv[i]), 'sum'))) AS cos
        |FROM c, q WHERE qid <> nid),
        |r AS (SELECT qid, q_label, n_label,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INT) AS rank
        |FROM s),
        |g AS (SELECT qid, q_label,
        |  CAST(SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        |  MIN(CASE WHEN n_label = q_label THEN rank END) AS first_rel,
        |  CAST(SUM(CASE WHEN n_label = q_label THEN
        |    ([1000000, 630930, 500000, 430677, 386853,
        |      356207, 333333, 315465, 301030, 289065])[rank]
        |    ELSE 0 END) AS BIGINT) AS dcg_u
        |FROM r WHERE rank <= 10 GROUP BY 1, 2),
        |p AS (SELECT g.q_label,
        |  CAST(ROUND(1000000.0 * hits / LEAST(10, n_members - 1), 0) AS BIGINT) AS recall_u,
        |  COALESCE(CAST(ROUND(1000000.0 / first_rel, 0) AS BIGINT), 0) AS mrr_u,
        |  CAST(ROUND(1000000.0 * dcg_u /
        |    ([1000000, 1630930, 2130930, 2561607, 2948460,
        |      3304667, 3638000, 3953465, 4254495, 4543560])
        |      [CAST(LEAST(10, n_members - 1) AS INT)], 0) AS BIGINT) AS ndcg_u
        |FROM g JOIN m ON g.q_label = m.q_label
        |WHERE n_members - 1 >= 1)
        |SELECT q_label AS label, CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  ROUND(SUM(recall_u) / (COUNT(*) * 1000000.0), 4) AS recall_at_k,
        |  ROUND(SUM(mrr_u) / (COUNT(*) * 1000000.0), 4) AS mrr_at_k,
        |  ROUND(SUM(ndcg_u) / (COUNT(*) * 1000000.0), 4) AS ndcg_at_k
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    // q61: the islands trick verbatim — day − row_number constant within
    // a consecutive run; DATE_DIFF mirrors Spark's datediff-from-epoch
    "q61_longest_streak" ->
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |              FROM events),
        |isl AS (SELECT user_id, day,
        |    DATE_DIFF('day', DATE '1970-01-01', day)
        |      - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |  FROM days),
        |runs AS (SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
        |         FROM isl GROUP BY 1, 2)
        |SELECT user_id, MAX(len) AS longest_streak,
        |  CAST(SUM(len) AS BIGINT) AS n_active_days,
        |  CAST(COUNT(*) AS BIGINT) AS n_streaks
        |FROM runs GROUP BY 1 ORDER BY 1""".stripMargin,
    // d22: the oracle carries gram STRINGS where Spark moves 8-byte
    // hashes (the d02 collision caveat); the interval-union is the same
    // running-max window sweep in both engines
    "d22_dup_span_coverage" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_extract_all(lower(trim(text)), '\S+') AS t FROM documents),
        |g AS (SELECT doc_id,
        |    CAST(unnest(range(1, len(t) - 1)) AS INT) AS pos,
        |    unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
        |  FROM d WHERE len(t) >= 3),
        |dup AS (SELECT gram FROM g GROUP BY gram
        |        HAVING COUNT(DISTINCT doc_id) >= 2),
        |iv AS (SELECT g.doc_id, g.pos, g.pos + 2 AS e
        |       FROM g JOIN dup USING (gram)),
        |w AS (SELECT doc_id, pos, e,
        |    COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pm
        |  FROM iv),
        |cov AS (SELECT doc_id,
        |    CAST(SUM(GREATEST(0, e - GREATEST(pos - 1, pm))) AS BIGINT) AS covered
        |  FROM w GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(cov.covered, 0) AS BIGINT) AS covered_tokens,
        |  CASE WHEN len(d.t) = 0 THEN 0.0
        |       ELSE ROUND(COALESCE(cov.covered, 0) / CAST(len(d.t) AS DOUBLE), 4)
        |  END AS dup_coverage
        |FROM d LEFT JOIN cov USING (doc_id) ORDER BY doc_id""".stripMargin,
    // t48: tf/df/dl are exact integers and the score is one
    // fixed-association expression. The (k1 + 1) factor is CAST to DOUBLE
    // before multiplying: DuckDB types `tf * (1.2 + 1)` as DECIMAL (exact
    // decimal product, converted to double only downstream), which is up
    // to 1 ulp away from Spark's double(tf) * double(2.2) — enough to
    // flip a 4-dp rounding or a rank tie on some regenerated corpus (the
    // r5 t32/t35 failure class). All other decimal literals here reach a
    // division or a double operand immediately, which DuckDB types DOUBLE.
    "t48_bm25_topk" -> bm25TopkOracle,
    // t49: the t48 per-term score verbatim (same CAST(1.2 + 1 AS DOUBLE)
    // decimal-vs-double gotcha), summed per (query, doc) by an ORDERED
    // list fold — list(score ORDER BY slot) then list_aggregate 'sum' is
    // DuckDB's left fold in list order, bit-identical to Spark's
    // aggregate() fold over the slot-sorted struct array, so the
    // unrounded sums the ranks order on cannot disagree by an ulp. The
    // probe queries re-derive exactly: top-9 df terms chunked by rank
    // into 3-term queries, slots by term ASC within each query.
    "t49_bm25_multiterm" -> bm25MultiOracle,
    // t50/t51: the store-backed plans must agree with the from-scratch
    // forms bit-for-bit, so they share the SAME oracle text — one val,
    // not a copy that could drift
    "t50_bm25_store_topk" -> bm25TopkOracle,
    "t51_bm25_store_multiterm" -> bm25MultiOracle,
    "t52_hybrid_rrf" -> rrfOracle,
    // t55/t56: the PRF pipeline, shared text for scratch + store (the
    // t50/t51 discipline)
    "t55_prf_expansion" -> prfOracle,
    "t56_prf_store" -> prfOracle,
    // t57: the t49 run evaluated against term-containment judgments —
    // both DCG folds in explicit rank order, linear integer gains, one
    // double division per discount (the bm25 determinism discipline)
    "t58_lm_dirichlet" -> lmOracle,
    "t59_lm_store" -> lmOracle,
    // t60: N-list RRF — the three shortlists are the dense CTE from the
    // t52 oracle, the t49 BM25 text, and the t58 LM text, fused with
    // the contributions folded in LIST order (rrfFuseAll's fixed
    // association)
    "t60_tri_fusion" ->
      ("""WITH dense AS (
         |  WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) qv
         |             FROM embeddings WHERE vec_id < 3),
         |  c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) nv FROM embeddings),
         |  sc AS (SELECT qid, nid,
         |    list_aggregate(list_transform(range(1, len(qv)+1), i -> qv[i]*nv[i]), 'sum')
         |     / (sqrt(list_aggregate(list_transform(range(1, len(qv)+1), i -> qv[i]*qv[i]), 'sum'))
         |      * sqrt(list_aggregate(list_transform(range(1, len(nv)+1), i -> nv[i]*nv[i]), 'sum'))) AS cos
         |  FROM c, q WHERE qid <> nid),
         |  rr AS (SELECT qid, nid, cos,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INT) AS rank
         |  FROM sc)
         |  SELECT qid AS query_id, rank, nid AS doc_id FROM rr WHERE rank <= 10),
         |sparse AS (
         |""".stripMargin + bm25MultiOracle + """
         |),
         |lm AS (
         |""".stripMargin + lmOracle + """
         |),
         |u AS (SELECT CAST(query_id AS BIGINT) AS query_id,
         |    CAST(doc_id AS BIGINT) AS doc_id, rank AS lrank, 0 AS li
         |  FROM dense
         |  UNION ALL SELECT CAST(query_id AS BIGINT),
         |    CAST(doc_id AS BIGINT), rank, 1 FROM sparse
         |  UNION ALL SELECT CAST(query_id AS BIGINT),
         |    CAST(doc_id AS BIGINT), rank, 2 FROM lm),
         |f AS (SELECT query_id, doc_id,
         |    list_aggregate(list(CAST(1 AS DOUBLE) / (60 + lrank)
         |      ORDER BY li), 'sum') AS rrf,
         |    CAST(COUNT(*) AS INT) AS n_lists
         |  FROM u GROUP BY 1, 2),
         |r2 AS (SELECT query_id, doc_id, rrf, n_lists,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY rrf DESC, doc_id) AS INT) AS rank FROM f)
         |SELECT query_id, rank, doc_id, ROUND(rrf, 6) AS rrf, n_lists
         |FROM r2 WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),
    "t57_rank_eval" -> rankEvalOracle(runFilter = ""),
    // t64 (round 14): the judged-but-unserved contract — the t57 eval
    // with the run RESTRICTED to queries 0–1; judged query 2 must
    // surface as a zero-metric full-outer row, not vanish
    "t64_rank_eval_holdout" ->
      rankEvalOracle(runFilter = " AND query_id < 2"),
    // t54 (round 13): the sparse-only serve MODE — the t49/t51 shortlist
    // reshaped by the monotone RRF transform into the unified serving
    // schema; rank is preserved exactly (1/(60+r) is strictly
    // decreasing), so the oracle is the shared multi-term text plus a
    // projection
    "t54_sparse_serve" ->
      ("""WITH sparse AS (
         |""".stripMargin + bm25MultiOracle + """
         |)
         |SELECT CAST(query_id AS BIGINT) AS query_id, rank,
         |  CAST(doc_id AS BIGINT) AS doc_id,
         |  ROUND(CAST(1 AS DOUBLE) / (60 + rank), 6) AS rrf,
         |  CAST(NULL AS INT) AS dense_rank, rank AS sparse_rank,
         |  CAST(NULL AS INT) AS lm_rank,
         |  CAST(1 AS INT) AS n_lists
         |FROM sparse ORDER BY query_id, rank""".stripMargin),
    // t61 (round 14): the LM-only serve mode — the t54 argument applied
    // to the Dirichlet list: the single-list RRF reshape is strictly
    // monotone, so the oracle is the shared LM text plus a projection
    "t61_lm_serve" ->
      ("""WITH lm AS (
         |""".stripMargin + lmOracle + """
         |)
         |SELECT CAST(query_id AS BIGINT) AS query_id, rank,
         |  CAST(doc_id AS BIGINT) AS doc_id,
         |  ROUND(CAST(1 AS DOUBLE) / (60 + rank), 6) AS rrf,
         |  CAST(NULL AS INT) AS dense_rank, CAST(NULL AS INT) AS sparse_rank,
         |  rank AS lm_rank, CAST(1 AS INT) AS n_lists
         |FROM lm ORDER BY query_id, rank""".stripMargin),
    // t62 (round 14): the sparse+lm 2-list serve — both shortlists are
    // the shared oracle texts, fused with contributions folded in
    // canonical list order (sparse before lm — rrfFuseNamed's fixed
    // association) and each list's own rank joined back as provenance
    "t62_sparse_lm_serve" ->
      ("""WITH sparse AS (
         |""".stripMargin + bm25MultiOracle + """
         |),
         |lm AS (
         |""".stripMargin + lmOracle + """
         |),
         |u AS (SELECT CAST(query_id AS BIGINT) AS query_id,
         |    CAST(doc_id AS BIGINT) AS doc_id, rank AS lrank, 0 AS li
         |  FROM sparse
         |  UNION ALL SELECT CAST(query_id AS BIGINT),
         |    CAST(doc_id AS BIGINT), rank, 1 FROM lm),
         |f AS (SELECT query_id, doc_id,
         |    list_aggregate(list(CAST(1 AS DOUBLE) / (60 + lrank)
         |      ORDER BY li), 'sum') AS rrf,
         |    CAST(COUNT(*) AS INT) AS n_lists
         |  FROM u GROUP BY 1, 2),
         |r2 AS (SELECT query_id, doc_id, rrf, n_lists,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY rrf DESC, doc_id) AS INT) AS rank FROM f),
         |sr AS (SELECT CAST(query_id AS BIGINT) AS query_id,
         |    CAST(doc_id AS BIGINT) AS doc_id, rank AS sparse_rank
         |  FROM sparse),
         |lr AS (SELECT CAST(query_id AS BIGINT) AS query_id,
         |    CAST(doc_id AS BIGINT) AS doc_id, rank AS lm_rank FROM lm)
         |SELECT r2.query_id, r2.rank, r2.doc_id, ROUND(rrf, 6) AS rrf,
         |  CAST(NULL AS INT) AS dense_rank, sr.sparse_rank, lr.lm_rank,
         |  n_lists
         |FROM r2
         |LEFT JOIN sr ON sr.query_id = r2.query_id AND sr.doc_id = r2.doc_id
         |LEFT JOIN lr ON lr.query_id = r2.query_id AND lr.doc_id = r2.doc_id
         |WHERE r2.rank <= 10 ORDER BY r2.query_id, r2.rank""".stripMargin),
    "s09_centroid_distance" ->
      """WITH x AS (SELECT label, unnest(range(1, len(embedding)+1)) AS i,
        |    embedding AS e FROM embeddings),
        |cpos AS (SELECT label, i,
        |    ROUND(CAST(SUM(CAST(ROUND(CAST(e[i] AS DOUBLE), 4) AS DECIMAL(18,4)))
        |      AS DOUBLE) / COUNT(*), 6) AS c
        |  FROM x GROUP BY 1, 2),
        |cent AS (SELECT label, list(c ORDER BY i) AS centroid
        |  FROM cpos GROUP BY 1),
        |v AS (SELECT emb.label, CAST(emb.embedding AS DOUBLE[]) AS v, ct.centroid
        |  FROM embeddings emb JOIN cent ct USING (label)),
        |s AS (SELECT label, round(
        |    list_aggregate(list_transform(range(1, len(v)+1), i -> v[i]*centroid[i]), 'sum')
        |    / (sqrt(list_aggregate(list_transform(range(1, len(v)+1), i -> v[i]*v[i]), 'sum'))
        |     * sqrt(list_aggregate(list_transform(range(1, len(centroid)+1), i -> centroid[i]*centroid[i]), 'sum'))), 6) AS cos
        |  FROM v)
        |SELECT label, COUNT(*) AS n_vecs,
        |  round(CAST(SUM(CAST(cos AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4) AS mean_cos,
        |  MIN(cos) AS min_cos,
        |  CAST(SUM(CASE WHEN cos < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_low
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "t11_tfidf_top_terms" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(regexp_extract_all(lower(trim(text)), '\S+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (SELECT doc_id, token, tf, df,
        |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS tfidf
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN n),
        |r AS (SELECT doc_id, token, tf, df, tfidf,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf DESC, token) AS INT) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, token, tf, df, tfidf FROM r
        |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,
    "q26_hopping_window" ->
      """WITH w AS (SELECT
        |    time_bucket(INTERVAL '1 hour', ts) - k * INTERVAL '1 hour' AS win_start,
        |    event_type, value
        |  FROM events CROSS JOIN (SELECT unnest(range(0, 6)) AS k) ks)
        |SELECT win_start, win_start + INTERVAL '6 hours' AS win_end, event_type,
        |  COUNT(*) AS events,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
        |FROM w GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin,
    "q27_customer_churn" ->
      """WITH prev AS (SELECT o_custkey, COUNT(*) AS n_prev FROM orders
        |  WHERE year(CAST(o_orderdate AS DATE)) = 1995
        |    AND quarter(CAST(o_orderdate AS DATE)) = 1 GROUP BY 1),
        |nxt AS (SELECT o_custkey, COUNT(*) AS n_next FROM orders
        |  WHERE year(CAST(o_orderdate AS DATE)) = 1995
        |    AND quarter(CAST(o_orderdate AS DATE)) = 2 GROUP BY 1),
        |j AS (SELECT coalesce(p.o_custkey, n.o_custkey) AS k, n_prev, n_next
        |  FROM prev p FULL OUTER JOIN nxt n ON p.o_custkey = n.o_custkey)
        |SELECT CASE WHEN n_prev IS NULL THEN 'acquired'
        |            WHEN n_next IS NULL THEN 'churned'
        |            ELSE 'retained' END AS status,
        |  COUNT(*) AS customers,
        |  CAST(SUM(coalesce(n_prev, 0)) AS BIGINT) AS orders_prev,
        |  CAST(SUM(coalesce(n_next, 0)) AS BIGINT) AS orders_next
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "t14_source_mix" ->
      """WITH g AS (SELECT source, lang, COUNT(*) AS n_docs,
        |    CAST(SUM(len(regexp_extract_all(lower(trim(text)), '\S+')))
        |      AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tot_docs,
        |    CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
        |    MIN(n_tokens) AS min_tokens FROM g)
        |SELECT source, lang, n_docs, n_tokens,
        |  round(CAST(n_docs AS DOUBLE) / tot_docs, 4) AS doc_share,
        |  round(CAST(n_tokens AS DOUBLE) / tot_tokens, 4) AS token_share,
        |  round(CAST(min_tokens AS DOUBLE) / n_tokens, 4) AS uniform_rate
        |FROM g CROSS JOIN tot ORDER BY source, lang""".stripMargin,
    "t15_curation_funnel" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 0),
        |q AS (SELECT doc_id, text FROM corpus WHERE
        |  round(least(1.0, len(regexp_extract_all(lower(trim(text)), '\S+'))/50.0)*0.4
        |    + (CASE WHEN len(regexp_extract_all(lower(trim(text)), '\S+')) > 0
        |       THEN CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it|was|for)\b')) AS DOUBLE)
        |            / len(regexp_extract_all(lower(trim(text)), '\S+')) ELSE 0.0 END)*0.4
        |    + (1.0 - CASE WHEN length(text) > 0
        |       THEN CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)/length(text)
        |       ELSE 0.0 END)*0.2, 6) >= 0.3),
        |fps AS (SELECT doc_id,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp FROM q),
        |repq AS (SELECT MIN(doc_id) AS doc_id FROM fps GROUP BY fp),
        |toksq AS (SELECT q.doc_id,
        |    string_split_regex(lower(trim(q.text)), '\s+') AS t
        |  FROM q JOIN repq USING (doc_id)),
        |sh0 AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(t)-1, 1)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |  FROM toksq WHERE len(t) >= 3),
        |rare AS (SELECT shingle FROM sh0 GROUP BY 1 HAVING COUNT(*) <= 1000),
        |shq AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN rare USING (shingle)),
        |sizesq AS (SELECT doc_id, COUNT(*) AS sz FROM shq GROUP BY 1),
        |commonq AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
        |  FROM shq a JOIN shq b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |near AS (SELECT d1, d2 FROM commonq
        |  JOIN sizesq s1 ON d1 = s1.doc_id
        |  JOIN sizesq s2 ON d2 = s2.doc_id
        |  WHERE CAST(c AS DOUBLE)/(s1.sz + s2.sz - c) >= 0.2),
        |exact AS (SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id),
        |pairs AS (SELECT d1, d2 FROM exact UNION SELECT d1, d2 FROM near),
        |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
        |  UNION ALL SELECT d2, d1 FROM pairs),
        |walk AS (
        |  SELECT src AS id, src AS label FROM edges
        |  UNION
        |  SELECT e.src AS id, w.label FROM walk w JOIN edges e ON e.dst = w.id),
        |clusters AS (SELECT id AS doc_id, MIN(label) AS cluster_id
        |  FROM walk GROUP BY 1),
        |ded AS (SELECT q.doc_id, q.text FROM q
        |  LEFT JOIN clusters c USING (doc_id)
        |  WHERE coalesce(c.cluster_id, q.doc_id) = q.doc_id),
        |btoks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE doc_id % 17 = 0),
        |bsh AS (SELECT DISTINCT
        |    unnest(list_transform(range(1, greatest(len(t)-1, 1)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |  FROM btoks WHERE len(t) >= 3),
        |dtoks AS (SELECT d.doc_id, string_split_regex(lower(trim(d.text)), '\s+') AS t
        |  FROM ded d),
        |dsh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(t)-1, 1)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |  FROM dtoks WHERE len(t) >= 3),
        |dsz AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY 1),
        |hits AS (SELECT doc_id, COUNT(*) AS h
        |  FROM dsh JOIN bsh USING (shingle) GROUP BY 1),
        |contaminated AS (SELECT s.doc_id FROM dsz s LEFT JOIN hits USING (doc_id)
        |  WHERE round(CAST(coalesce(h, 0) AS DOUBLE) / s.n, 4) >= 0.5),
        |clean AS (SELECT d.doc_id, d.text FROM ded d
        |  WHERE d.doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |chunks AS (SELECT greatest(CAST(ceil(
        |    (len(regexp_extract_all(lower(trim(text)), '\S+')) - 8) / 56.0)
        |    AS INT), 1) AS nc FROM clean)
        |SELECT (SELECT COUNT(*) FROM corpus) AS docs,
        |  (SELECT COUNT(*) FROM q) AS after_quality,
        |  (SELECT COUNT(*) FROM ded) AS after_dedup,
        |  (SELECT COUNT(*) FROM clean) AS after_decontam,
        |  (SELECT CAST(SUM(nc) AS BIGINT) FROM chunks) AS chunks""".stripMargin,
    "t16_chunk_dups" ->
      """WITH toks AS (SELECT doc_id,
        |    regexp_extract_all(lower(trim(text)), '\S+') AS t FROM documents),
        |nz AS (SELECT doc_id, t, len(t) AS n,
        |    greatest(CAST(ceil(CAST(len(t) - 8 AS DOUBLE) / 56) AS INT), 1)
        |      AS n_chunks
        |  FROM toks WHERE len(t) >= 1),
        |c AS (SELECT doc_id, t, n, unnest(range(0, n_chunks)) AS chunk FROM nz),
        |w AS (SELECT doc_id,
        |    md5(array_to_string(
        |      list_slice(t, chunk * 56 + 1, least(chunk * 56 + 64, n)), ' '))
        |      AS fp
        |  FROM c)
        |SELECT fp, COUNT(*) AS n_chunks, COUNT(DISTINCT doc_id) AS n_docs
        |FROM w GROUP BY fp HAVING COUNT(*) > 1
        |ORDER BY n_chunks DESC, fp LIMIT 50""".stripMargin,
    "t12_lm_bigram_score" ->
      """WITH toks AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
        |bi AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
        |  FROM toks WHERE len(t) >= 2),
        |b2 AS (SELECT doc_id, split_part(bg, ' ', 1) AS w1,
        |    split_part(bg, ' ', 2) AS w2 FROM bi),
        |big AS (SELECT w1, w2, COUNT(*) AS c12 FROM b2 GROUP BY 1, 2),
        |uni AS (SELECT w1, COUNT(*) AS c1 FROM b2 GROUP BY 1),
        |vocab AS (SELECT COUNT(DISTINCT w) AS v FROM
        |  (SELECT w1 AS w FROM b2 UNION ALL SELECT w2 FROM b2) u),
        |scored AS (SELECT doc_id,
        |    CAST(round(ln(CAST(c12 + 1 AS DOUBLE) / (c1 + v)), 4)
        |      AS DECIMAL(18,4)) AS lp
        |  FROM b2 JOIN big USING (w1, w2) JOIN uni USING (w1) CROSS JOIN vocab),
        |g AS (SELECT doc_id, COUNT(*) AS n_bigrams,
        |    CAST(SUM(lp) * -10000 AS BIGINT) AS a
        |  FROM scored GROUP BY 1)
        |SELECT doc_id, n_bigrams,
        |  CAST(-((a * 2 + n_bigrams) // (2 * n_bigrams)) AS DOUBLE) / 10000.0
        |    AS avg_logp
        |FROM g ORDER BY 1""".stripMargin,
    "t28_pmi_collocations" ->
      """WITH toks AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
        |bi AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
        |  FROM toks WHERE len(t) >= 2),
        |b2 AS (SELECT doc_id, split_part(bg, ' ', 1) AS w1,
        |    split_part(bg, ' ', 2) AS w2 FROM bi),
        |big AS (SELECT w1, w2, COUNT(*) AS c12 FROM b2 GROUP BY 1, 2),
        |p1 AS (SELECT w1, COUNT(*) AS c1 FROM b2 GROUP BY 1),
        |p2 AS (SELECT w2, COUNT(*) AS c2 FROM b2 GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM b2)
        |SELECT w1, w2, c12,
        |  round(ln(CAST(c12 AS DOUBLE) * n
        |    / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))), 4) AS pmi
        |FROM big JOIN p1 USING (w1) JOIN p2 USING (w2) CROSS JOIN n
        |WHERE c12 >= 5
        |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin,
    "t13_chunks" ->
      """WITH toks AS (SELECT doc_id,
        |    regexp_extract_all(lower(trim(text)), '\S+') AS t FROM documents),
        |nz AS (SELECT doc_id, t, len(t) AS n,
        |    greatest(CAST(ceil(CAST(len(t) - 8 AS DOUBLE) / 56) AS INT), 1)
        |      AS n_chunks
        |  FROM toks WHERE len(t) >= 1),
        |c AS (SELECT doc_id, t, n, unnest(range(0, n_chunks)) AS chunk FROM nz),
        |w AS (SELECT doc_id, CAST(chunk AS INT) AS chunk,
        |    list_slice(t, chunk * 56 + 1, least(chunk * 56 + 64, n)) AS win
        |  FROM c)
        |SELECT doc_id, chunk, CAST(len(win) AS INT) AS n_tokens,
        |  md5(array_to_string(win, ' ')) AS fp
        |FROM w ORDER BY doc_id, chunk""".stripMargin,
    "s06_quantization" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |s AS (SELECT vec_id, v, CAST(len(v) AS INT) AS dim,
        |    list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
        |q AS (SELECT vec_id, v, dim, scale,
        |    CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
        |    ELSE list_transform(v, x -> CAST(round(x / scale * 127) AS INT))
        |    END AS qv
        |  FROM s)
        |SELECT vec_id, dim, round(scale, 6) AS scale,
        |  CAST(list_aggregate(list_transform(qv,
        |    x -> CAST(abs(x) AS BIGINT)), 'sum') AS BIGINT) AS q_l1,
        |  round(list_aggregate(list_transform(range(1, dim + 1),
        |    i -> abs(v[i] - CAST(qv[i] AS DOUBLE) * scale / 127)), 'sum')
        |    / dim, 6) AS err
        |FROM q ORDER BY vec_id""".stripMargin,
    "s05_label_centroids" ->
      """WITH x AS (SELECT label, unnest(range(1, len(embedding)+1)) AS i,
        |    embedding AS e FROM embeddings)
        |SELECT label, CAST(i - 1 AS INT) AS pos, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(ROUND(CAST(e[i] AS DOUBLE), 4) AS DECIMAL(18,4)))
        |    AS DOUBLE) / COUNT(*), 6) AS c
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
