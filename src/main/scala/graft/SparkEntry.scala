package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Checks, Curation, Dedup, Multimodal, Pca, Pinned, Sampling, Similarity, TemporalJoins, TextOps, Warehouse}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] has a matching ANSI-SQL oracle in
  * [[oracleSql]] (DuckDB dialect-compatible) unless the operator is not
  * SQL-expressible, in which case the driver records a rows-only check.
  * Column aliases are kept identical on both sides — the driver compare
  * sorts columns by name before hashing.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's normalize stage (normalization.py:81-107) as one
    * declarative Spark plan: JSON parse → project → tumbling window agg. */
  def entry(spark: SparkSession): DataFrame =
    Warehouse.q14NormalizeEvents(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> Warehouse.q01PricingSummary,
    "q02_filter_project"  -> Warehouse.q02FilterProject,
    "q03_ship_priority"   -> Warehouse.q03ShippingPriority,
    "q04_order_priority"  -> Warehouse.q04OrderPriority,
    "q05_region_revenue"  -> Warehouse.q05RegionRevenue,
    "q06_forecast"        -> Warehouse.q06ForecastRevenue,
    "q07_top_orders"      -> Warehouse.q07TopOrders,
    "q08_window_rank"     -> Warehouse.q08WindowRank,
    "q09_rollup"          -> Warehouse.q09Rollup,
    "q10_set_ops"         -> Warehouse.q10SetOps,
    "q11_anti_join"       -> Warehouse.q11AntiJoin,
    "q12_distinct_agg"    -> Warehouse.q12DistinctAgg,
    "q13_events_tumbling" -> Warehouse.q13EventsTumbling,
    "q14_normalize_events" -> Warehouse.q14NormalizeEvents,
    "q15_having"          -> Warehouse.q15Having,
    "q16_percentiles"     -> Warehouse.q16Percentiles,
    "q17_cube"            -> Warehouse.q17Cube,
    "q18_above_cust_avg"  -> Warehouse.q18AboveCustomerAvg,
    "q19_sessions"        -> Warehouse.q19Sessions,
    "q20_approx_distinct" -> Warehouse.q20ApproxDistinct,
    "q21_market_share"    -> Warehouse.q21MarketShare,
    "q22_string_match"    -> Warehouse.q22StringMatch,
    "q23_monthly_trend"   -> Warehouse.q23MonthlyTrend,
    "q24_dormant_rich"    -> Warehouse.q24DormantRich,
    "q25_pivot"           -> Warehouse.q25Pivot,
    "q26_multiset_ops"    -> Warehouse.q26MultisetOps,
    "q27_running_window"  -> Warehouse.q27RunningWindow,
    "q28_stateful_batch"  -> Warehouse.q28StatefulBatch,
    "q29_sliding"         -> Warehouse.q29Sliding,
    "q30_grouping_sets"   -> Warehouse.q30GroupingSets,
    "q31_topk_per_group"  -> Warehouse.q31TopKPerGroup,
    "q32_approx_percentiles" -> Warehouse.q32ApproxPercentiles,
    "q33_scd2_intervals"  -> Warehouse.q33Scd2Intervals,
    "q34_latest_snapshot" -> Warehouse.q34LatestSnapshot,
    "q35_funnel"          -> Warehouse.q35Funnel,
    "q36_cohort_retention" -> Warehouse.q36CohortRetention,
    // temporal joins (as-of / range)
    "j01_asof_join"       -> TemporalJoins.clickLastPurchase,
    "j02_range_join"      -> TemporalJoins.purchasesBeforeClick,
    // multimodal columns
    "m01_media_stats"     -> Multimodal.mediaStats,
    "m02_frame_sample"    -> Multimodal.frames,
    "m03_media_features"  -> Multimodal.featuresByKind,
    "m04_byte_histogram"  -> Multimodal.byteHistogram,
    "m05_resize_meta"     -> Multimodal.resizedDims,
    "m06_media_dedup"     -> Multimodal.mediaDedup,
    "m07_media_similar"   -> ((s, dir) => Multimodal.mediaSimilar(s, dir)),
    "m08_media_dup_clusters" -> Multimodal.mediaDupClusters,
    "m09_cdc_chunks"      -> Multimodal.mediaCdcChunks,
    "j03_asof_forward"    -> TemporalJoins.clickNextPurchase,
    "j04_nearest_event"   -> TemporalJoins.clickNearestPurchase,
    "j05_asof_tolerance"  -> TemporalJoins.clickLastPurchaseWithin,
    // text analysis (training-data pipeline ops)
    "t01_token_counts"    -> TextOps.tokenCounts,
    "t02_quality_score"   -> TextOps.qualityScore,
    "t03_lang_id"         -> TextOps.langId,
    "t04_fingerprint"     -> TextOps.fingerprint,
    "t05_top_bigrams"     -> ((s, dir) => TextOps.topBigrams(s, dir)),
    "t06_repetition"      -> TextOps.repetition,
    "t07_pii_scrub"       -> ((s, dir) => TextOps.scrub(s, dir)),
    "t08_gopher_rules"    -> ((s, dir) => TextOps.gopherRules(s, dir)),
    "t09_chunk_windows"   -> ((s, dir) => TextOps.chunkWindows(s, dir)),
    "t10_bm25"            -> ((s, dir) => TextOps.bm25TopK(s, dir)),
    "t11_heavy_hitters"   -> ((s, dir) => TextOps.heavyHitters(s, dir)),
    "t12_perplexity"      -> TextOps.perplexity,
    "t13_bpe_merges"      -> ((s, dir) => TextOps.bpeMerges(s, dir)),
    "t14_bpe_encode"      -> ((s, dir) => TextOps.bpeEncodePinned(s, dir)),
    "t15_chunk_dedup"     -> ((s, dir) => TextOps.chunkDedup(s, dir)),
    "t16_inverted_index"  -> ((s, dir) => TextOps.invertedIndex(s, dir)),
    "t17_phrase_search"   -> ((s, dir) => TextOps.phraseSearch(s, dir)),
    "t18_collocations"    -> ((s, dir) => TextOps.collocations(s, dir)),
    "t19_tfidf"           -> ((s, dir) => TextOps.tfidfTopTerms(s, dir)),
    "t20_rrf_fusion"      -> ((s, dir) => Similarity.rrfFusion(s, dir)),
    "t21_lm_continuations" -> ((s, dir) => TextOps.lmContinuations(s, dir)),
    "t22_blocklist_filter" -> ((s, dir) => TextOps.blocklistFilter(s, dir)),
    "t23_boilerplate_scrub" -> ((s, dir) => TextOps.boilerplateScrub(s, dir)),
    "t24_incremental_boilerplate" -> ((s, dir) => TextOps.incrementalBoilerplate(s, dir)),
    "t25_cms_counts"      -> ((s, dir) => TextOps.cmsFrequencies(s, dir)),
    "t26_span_coverage"   -> ((s, dir) => TextOps.spanCoverage(s, dir)),
    "t27_unigram_lm"      -> ((s, dir) => TextOps.unigramTrain(s, dir)),
    "t28_zipf_profile"    -> ((s, dir) => TextOps.zipfProfile(s, dir)),
    "t29_unigram_encode"  -> ((s, dir) => TextOps.unigramEncodePinned(s, dir)),
    "t30_kneser_ney"      -> ((s, dir) => TextOps.knBigrams(s, dir)),
    "d13_fuzzy_pairs"     -> Dedup.fuzzyPairs,
    "d14_dup_spans"       -> ((s, dir) => TextOps.dupSpans(s, dir)),
    "d15_incremental_fuzzy" -> ((s, dir) => Dedup.incrementalFuzzy(s, dir)),
    "d17_incremental_simhash" -> ((s, dir) => Dedup.incrementalSimhash(s, dir)),
    "d18_threshold_curve" -> ((s, dir) => Dedup.thresholdCurve(s, dir)),
    // deterministic sampling / splitting
    "x01_split_counts"    -> Sampling.splitCounts,
    "x02_stratified_sample" -> Sampling.stratifiedSampleDocs,
    "x03_token_shards"    -> ((s, dir) => Sampling.tokenShards(s, dir)),
    "x04_curation_funnel" -> ((s, dir) => Curation.curationFunnel(s, dir)),
    "x05_decontaminate"   -> Dedup.decontaminate,
    "x16_fuzzy_decontaminate" -> ((s, dir) => Dedup.fuzzyDecontaminate(s, dir)),
    "x17_soft_dedup_weights" -> ((s, dir) => Sampling.softDedupWeights(s, dir)),
    "x18_bloom_decontaminate" -> ((s, dir) => Dedup.bloomDecontaminate(s, dir)),
    "x19_epoch_shuffle"   -> ((s, dir) => Sampling.epochShuffle(s, dir)),
    "x06_range_shards"    -> ((s, dir) => Sampling.rangeShardManifest(s, dir)),
    "x07_proportional_sample" -> ((s, dir) => Sampling.proportionalCounts(s, dir)),
    "x08_temperature_mix" -> ((s, dir) => Sampling.temperatureMix(s, dir)),
    "x09_domain_caps"     -> ((s, dir) => Sampling.domainCaps(s, dir)),
    "x10_pack_sequences"  -> ((s, dir) => Sampling.packSequences(s, dir)),
    "x11_dsir_weights"    -> ((s, dir) => Curation.dsirWeights(s, dir)),
    "x12_curriculum_bins" -> ((s, dir) => Curation.curriculumBins(s, dir)),
    "x13_weighted_sample" -> ((s, dir) => Sampling.weightedSample(s, dir)),
    "x14_cluster_sample"  -> ((s, dir) => Sampling.clusterSample(s, dir)),
    "x15_quality_classifier" -> ((s, dir) => Curation.qualityClassifier(s, dir)),
    "v01_quality_checks"  -> Checks.ordersContract,
    "v02_referential_integrity" -> Checks.referentialIntegrity,
    "v03_profile"         -> Checks.ordersProfile,
    "v04_drift_psi"       -> Checks.driftPsi,
    "x20_mixture_waterfill" -> ((s, dir) => Sampling.mixtureWaterfill(s, dir)),
    "j06_window_features" -> TemporalJoins.purchaseClickFeatures,
    "j07_attribution"     -> ((s, dir) => TemporalJoins.purchaseAttribution(s, dir)),
    "t32_bpe_fertility"   -> ((s, dir) => TextOps.bpeFertility(s, dir)),
    "t33_ngram_novelty"   -> ((s, dir) => TextOps.ngramNovelty(s, dir)),
    "t34_incremental_novelty" -> ((s, dir) => TextOps.incrementalNovelty(s, dir)),
    "v07_corpus_datasheet" -> ((s, dir) => Checks.corpusDatasheet(s, dir)),
    "v08_split_leakage"   -> ((s, dir) => Checks.splitLeakage(s, dir)),
    "m10_aspect_buckets"  -> Multimodal.aspectBuckets,
    "m11_batch_manifest"  -> ((s, dir) => Multimodal.batchManifest(s, dir)),
    "m12_incremental_media" -> ((s, dir) => Multimodal.incrementalMediaDedup(s, dir)),
    "m13_scene_cuts"      -> ((s, dir) => Multimodal.sceneCuts(s, dir)),
    "x21_family_split"    -> Sampling.familySplit,
    "x22_pack_efficiency" -> ((s, dir) => Sampling.packEfficiency(s, dir)),
    "v05_vocab_divergence" -> ((s, dir) => Checks.vocabDivergence(s, dir)),
    "t31_memorization"    -> ((s, dir) => TextOps.memorization(s, dir)),
    "d16_lsh_scurve"      -> ((s, dir) => Dedup.lshScurve(s, dir)),
    // deduplication
    "d01_exact_dedup"     -> Dedup.exactDedup,
    "d02_minhash_lsh"     -> ((s, dir) => Dedup.minhashLsh(s, dir)),
    "d03_ngram_jaccard"   -> ((s, dir) => Dedup.ngramJaccard(s, dir)),
    "d04_simhash"         -> ((s, dir) => Dedup.simhash(s, dir)),
    "d05_dup_clusters"    -> ((s, dir) => Dedup.dupClusters(s, dir)),
    "d06_capped_jaccard"  -> ((s, dir) => Dedup.cappedNgramJaccard(s, dir)),
    "d07_embedding_clusters" -> ((s, dir) => Similarity.embeddingClusters(s, dir)),
    "d08_keep_best"       -> ((s, dir) => Dedup.keepBest(s, dir)),
    "d09_embedding_clusters_lsh" -> ((s, dir) => Similarity.embeddingClustersLsh(s, dir)),
    "d10_keep_best_lsh"   -> ((s, dir) => Dedup.keepBestLsh(s, dir)),
    "d11_incremental_dedup" -> ((s, dir) => Dedup.incrementalDedup(s, dir)),
    "d12_incremental_neardup" -> ((s, dir) => Dedup.incrementalNearDup(s, dir)),
    // similarity search
    "s01_ann_bruteforce"  -> ((s, dir) => Similarity.annBruteForce(s, dir)),
    "s02_cosine_pairs"    -> ((s, dir) => Similarity.cosinePairs(s, dir)),
    "s03_lsh_pairs"       -> ((s, dir) => Similarity.lshPairs(s, dir)),
    // s03c: the anchor-star CAPPED regime, driver-verified — nPlanes=4
    // makes sf0.01 buckets hold 32-42 vectors, so bucketCap=8 ENGAGES
    // the cap in every bucket (the registered s03/d09/s14 caps are
    // no-ops at gate scale). The oracle replays the pinned anchor set
    // (Pinned.s03cAnchors — Spark's xxhash64 is not DuckDB-replayable);
    // PinnedModelsSpec proves runtime anchors == fixture.
    "s03c_lsh_pairs_capped" -> ((s, dir) => Similarity.lshPairs(s, dir,
      threshold = 0.3, nPlanes = 4, bucketCap = 8)),
    "s04_ann_ivf"         -> ((s, dir) => Similarity.annIvf(s, dir)),
    // The Pinned.* serve paths below (s05/s09/s10/s11/s13, also
    // s12/s14) run models FIT ON sf0.01 regardless of the SF they are
    // served at: correctness vs the oracle is SF-independent (both
    // sides replay the same fixture), but RECALL at SF≠0.01 reflects a
    // foreign-fit model — a production deployment re-fits per corpus
    // (model = None) and persists via the s11 fit-once/serve-many
    // lifecycle. Bench carries the fit-inclusive twins (fit_queries)
    // so serve-vs-fit timing deltas stay attributable.
    "s05_ann_kmeans_ivf"  -> ((s, dir) => Similarity.annKmeansIvf(s, dir,
      model = Some(Pinned.ivfCentroids))),
    "s06_label_norms"     -> Similarity.labelNorms,
    "s07_label_centroid"  -> Similarity.labelCentroids,
    "s08_ann_quantized"   -> ((s, dir) => Similarity.annQuantized(s, dir)),
    "s09_ann_pq"          -> ((s, dir) => Similarity.annPq(s, dir,
      model = Some(Pinned.pq))),
    "s10_ann_ivfpq"       -> ((s, dir) => Similarity.annIvfPq(s, dir,
      model = Some(Pinned.ivfPq))),
    "s11_ann_pq_fitserve" -> ((s, dir) => Similarity.annPqFitServe(s, dir,
      s"${System.getProperty("java.io.tmpdir")}/graft_pq_model_${Integer.toHexString(dir.hashCode)}",
      model = Some(Pinned.pq))),
    "s12_pca_project"     -> ((s, dir) => Pca.projectPinned(s, dir)),
    "s13_ann_opq"         -> ((s, dir) => Similarity.annPqRotated(s, dir,
      rotation = Some(Pinned.opqRotation), model = Some(Pinned.opqBooks))),
    "s14_semdedup"        -> ((s, dir) => Similarity.semDedupClusters(s, dir,
      cells = Some(Pinned.semCells))),
    "s15_hard_negatives"  -> ((s, dir) => Similarity.hardNegatives(s, dir)),
    "s16_ann_graph"       -> ((s, dir) => Similarity.annGraph(s, dir)),
    "s17_ann_graph_lsh"   -> ((s, dir) => Similarity.annGraphLsh(s, dir)),
    "s18_ann_graph_insert" -> ((s, dir) => Similarity.annGraphInsert(s, dir)),
    "s19_ann_graph_refined" -> ((s, dir) => Similarity.annGraphLshRefined(s, dir)),
    "s20_ann_graph_insert_recip" -> ((s, dir) => Similarity.annGraphInsertRecip(s, dir)),
    "s21_ann_recall"      -> ((s, dir) => Similarity.annRecallEval(s, dir)),
    "s25_ann_rank_eval"   -> ((s, dir) => Similarity.annRankEval(s, dir)),
    "s22_bitext_mine"     -> ((s, dir) => Similarity.bitextMine(s, dir)),
    "s23_bitext_mine_lsh" -> ((s, dir) => Similarity.bitextMineLsh(s, dir)),
    "s24_mmr_rerank"      -> ((s, dir) => Similarity.mmrRerank(s, dir)),
    "s26_ann_binary"      -> ((s, dir) => Similarity.annBinarySign(s, dir)),
    "s27_matryoshka_eval" -> ((s, dir) => Similarity.matryoshkaEval(s, dir)),
    "s28_ann_tombstones"  -> ((s, dir) => Similarity.annIvfTombstoned(s, dir)),
    "s29_ann_index_stats" -> ((s, dir) => Similarity.annIndexStats(s, dir)),
    "s30_rerank_depth"    -> ((s, dir) => Similarity.annRerankDepthEval(s, dir)),
    "s31_two_tower_rerank" -> ((s, dir) => Similarity.twoTowerRerankEval(s, dir)),
    "s32_embedding_drift" -> ((s, dir) => Similarity.embeddingDrift(s, dir)),
    "s33_ann_filtered"    -> ((s, dir) => Similarity.annFiltered(s, dir)),
    "s34_semantic_admission" -> ((s, dir) =>
      Similarity.incrementalSemanticAdmission(s, dir)),
    "s35_cross_modal"     -> ((s, dir) =>
      Multimodal.crossModalRetrieve(s, dir)),
    "m14_alignment_gate"  -> ((s, dir) => Multimodal.alignmentGate(s, dir)),
    "m15_audio_spectral"  -> ((s, dir) =>
      Multimodal.audioSpectralReport(s, dir)),
    "m14h_alignment_hist" -> ((s, dir) =>
      Multimodal.alignmentHistogram(s, dir)),
    "v09_tokenizer_drift" -> ((s, dir) => TextOps.tokenizerDrift(s, dir)),
    "v06_dedup_impact"    -> ((s, dir) => Curation.dedupImpact(s, dir)),
    "v10_contamination_report" -> ((s, dir) =>
      Checks.contaminationReport(s, dir)),
    "s36_maxsim_rerank"   -> ((s, dir) => Similarity.maxSimRerank(s, dir)),
    "x23_token_budget_mix" -> ((s, dir) =>
      Sampling.tokenBudgetMixture(s, dir)),
    "x24_decontaminated_budget" -> ((s, dir) =>
      Sampling.decontaminatedTokenBudget(s, dir)),
    "x25_epoch_budget" -> ((s, dir) => Sampling.epochTokenBudget(s, dir)),
    "x26_quality_fit" -> ((s, dir) => Curation.qualityFit(s, dir)),
    "x26s_fitted_serve" -> ((s, dir) => Curation.qualityFitServe(s, dir)),
    "x27_packed_shards" -> ((s, dir) => Sampling.packedShardExport(s, dir)),
    "x27e1_epoch_export" -> ((s, dir) =>
      Sampling.packedShardExport(s, dir, epoch = 1L)),
    "s38_ann_nprobe_sweep" -> ((s, dir) => Similarity.annNprobeEval(s, dir)),
    "s37_index_compaction" -> ((s, dir) => Similarity.indexCompaction(s, dir)),
    "s39_pq_distortion"   -> ((s, dir) => Similarity.pqDistortionReport(s, dir)),
    "d19_band_plan"       -> ((s, dir) => Dedup.bandPlanEval(s, dir)),
    "s40_index_lifecycle" -> ((s, dir) => Similarity.indexLifecycle(s, dir,
      refit = Some(Pinned.s40Centroids))),
  )

  /** The names a main runs under `SPARK_GRAFT_ONLY`, the one query
    * selector of [[Bench]], [[Verify]] and `tools.ShuffleAudit`:
    * comma-separated name prefixes, each trimmed (`x03,d0` selects x03
    * and d01–d09; `s03` selects s03 and s03c). Unset, every name is
    * selected. `names` are the names the main would run; a value that
    * selects none of them fails naming the variable and the value. */
  def only(names: Iterable[String],
           value: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Set[String] =
    value match {
      case None => names.toSet
      case Some(v) =>
        val prefixes = v.split(",").map(_.trim).filter(_.nonEmpty)
        val picked = names.filter(n => prefixes.exists(n.startsWith)).toSet
        if (picked.isEmpty) throw new IllegalArgumentException(
          s"SPARK_GRAFT_ONLY='$v' selects none of the ${names.size} query names " +
            "(it takes comma-separated name prefixes, e.g. 'q01,d0')")
        picked
    }

  /** DuckDB-runnable oracle SQL, one per SQL-expressible query,
    * composed from the per-family objects. */
  def oracleSql: Map[String, String] =
    OracleSqlWh.oracles ++ OracleSqlDx.oracles ++ OracleSqlSim.oracles ++ OracleSqlText.oracles ++ OracleSqlMv.oracles

  /** The kernel-bound queries (dedup/LSH/ANN, iterative BPE and
    * unigram-LM, the reports built on them) whose SQL-text form calls
    * the operator through the `graft_query` table function rather than
    * replaying it as relational text; their independent check is the
    * DuckDB oracle in [[oracleSql]]. */
  private val operatorCalls: Seq[String] = Seq(
    "d02_minhash_lsh", "d03_ngram_jaccard", "d04_simhash",
    "d05_dup_clusters", "d06_capped_jaccard", "d07_embedding_clusters",
    "d08_keep_best", "d09_embedding_clusters_lsh", "d10_keep_best_lsh",
    "d12_incremental_neardup", "d14_dup_spans", "d16_lsh_scurve",
    "d17_incremental_simhash", "d18_threshold_curve", "d19_band_plan",
    "m03_media_features",
    "s03_lsh_pairs", "s03c_lsh_pairs_capped", "s04_ann_ivf",
    "s05_ann_kmeans_ivf", "s09_ann_pq", "s10_ann_ivfpq",
    "s11_ann_pq_fitserve", "s12_pca_project", "s13_ann_opq", "s14_semdedup",
    "s16_ann_graph", "s17_ann_graph_lsh", "s18_ann_graph_insert",
    "s19_ann_graph_refined", "s20_ann_graph_insert_recip", "s21_ann_recall",
    "s22_bitext_mine", "s23_bitext_mine_lsh", "s24_mmr_rerank",
    "s25_ann_rank_eval", "s26_ann_binary", "s27_matryoshka_eval",
    "s28_ann_tombstones", "s29_ann_index_stats", "s30_rerank_depth",
    "s31_two_tower_rerank", "s32_embedding_drift", "s33_ann_filtered",
    "s34_semantic_admission", "s36_maxsim_rerank", "s37_index_compaction",
    "s38_ann_nprobe_sweep", "s39_pq_distortion",
    "t13_bpe_merges", "t14_bpe_encode", "t25_cms_counts",
    "t26_span_coverage", "t27_unigram_lm", "t30_kneser_ney",
    "t31_memorization", "t32_bpe_fertility", "t33_ngram_novelty",
    "t34_incremental_novelty",
    "v05_vocab_divergence", "v06_dedup_impact", "v07_corpus_datasheet",
    "v08_split_leakage", "v10_contamination_report",
    "x14_cluster_sample", "x15_quality_classifier", "x22_pack_efficiency")

  /** Spark SQL text per registered query (with SqlParitySpec's
    * verbatim-run oracles, every registered query is addressable as
    * Spark SQL text): the hand-written per-family forms, and
    * `SELECT * FROM graft_query('<name>')` for [[operatorCalls]]. Runs
    * over the views and the function of [[Tables.registerAll]]. */
  def sparkSql: Map[String, String] =
    OracleSqlWh.spark ++ OracleSqlDx.spark ++ OracleSqlSim.spark ++ OracleSqlText.spark ++ OracleSqlMv.spark ++
      operatorCalls.map(n => n -> s"SELECT * FROM graft_query('$n')")
}
