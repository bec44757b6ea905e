package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Dedup, Multimodal, Quality, Relational, Similarity, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator family from SURVEY.md §2 (mapping
  * documented on each implementation); entries in [[oracleSql]] are the
  * DuckDB-equivalent SQL the driver hash-compares against. As of round 5
  * EVERY query has a full oracle — the former hash-constant paths
  * (simhash/winnow/LSH/IVF) were rebuilt on cross-engine-exact constructions
  * (md5-derived hashes, modular polynomial gram hashes, integer-quantized
  * projections, integer-mean k-means) so DuckDB replays them bit-for-bit.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.starEnrichment(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary"   -> Relational.pricingSummary _,
    "q02_filter_project"    -> Relational.filterProject _,
    "q03_star_enrichment"   -> Relational.starEnrichment _,
    "q04_order_lines_join"  -> Relational.orderLinesWindowJoin _,
    "q05_tumbling_window"   -> Relational.tumblingWindowStats _,
    "q06_daily_distinct"    -> Relational.dailyDistinct _,
    "q07_uv_dedup"          -> Relational.uvDedup _,
    "q08_is_new_repair"     -> Relational.isNewRepair _,
    "q09_bounce_detect"     -> Relational.bounceDetect _,
    "q10_union_stats"       -> Relational.unionStats _,
    "q11_keyword_tokens"    -> TextOps.keywordTokens _,
    "q12_unpivot_metrics"   -> TextOps.unpivotMetrics _,
    "q13_config_router"     -> Relational.configRouter _,
    "q14_topn_per_nation"   -> Relational.topnPerNation _,
    "q15_json_props"        -> Relational.jsonProps _,
    "q16_purchase_view_pairs" -> Relational.purchaseViewPairs _,
    "q17_province_stats"    -> Relational.provinceStats _,
    "q18_dedup_exact"       -> Dedup.exact _,
    "q19_ngram_jaccard"     -> Dedup.ngramJaccard _,
    "q20_lang_id"           -> TextOps.langId _,
    "q21_quality_score"     -> TextOps.qualityScore _,
    "q22_token_count"       -> TextOps.tokenCount _,
    "q23_knn_bruteforce"    -> Similarity.knnBruteForce _,
    "q24_cosine_neardup"    -> Similarity.cosineNearDup _,
    "q25_multimodal_meta"   -> TextOps.multimodalMeta _,
    // q26/q32/q36 carry full oracles: the LSH pair set has measured recall 1.0
    // on this corpus (sf0.01 + sf0.1) and precision 1.0 by construction, so
    // the exact-Jaccard SQL pair set / its connected components / the cleaned
    // corpus are the expected outputs (see Oracles notes and the COVERAGE.md
    // fixture-coupling caveat). q27–q29, q33, q35 were rebuilt in round 5 on
    // cross-engine-exact constructions and carry full oracles too.
    "q26_minhash_lsh"       -> Dedup.minhashLsh _,
    "q27_simhash_pairs"     -> Dedup.simhashPairs _,
    "q28_ann_lsh"           -> Similarity.annLsh _,
    "q29_winnow_fingerprint" -> Dedup.winnowFingerprints _,
    "q30_media_features"    -> Multimodal.mediaFeatures _,
    "q31_salted_agg"        -> ((s, d) => Relational.saltedAgg(s, d)),
    "q32_neardup_clusters"  -> ((s, d) => Dedup.nearDupClusters(s, d)),
    "q33_ivf_ann"           -> ((s, d) => Similarity.ivfAnn(s, d)),
    "q34_approx_distinct"   -> Relational.approxDistinctDaily _,
    "q35_winnow_pairs"      -> ((s, d) => Dedup.winnowPairs(s, d)),
    "q36_clean_corpus"      -> TextOps.cleanCorpus _,
    "q37_sessionize"        -> Relational.sessionize _,
    "q38_rollup_revenue"    -> Relational.rollupRevenue _,
    "q39_running_total"     -> Relational.runningTotal _,
    "q40_exact_distinct_agg" -> Relational.exactDistinctAgg _,
    "q41_hash_sample"       -> ((s, d) => TextOps.hashSample(s, d)),
    "q42_percentiles"       -> Relational.percentiles _,
    "q43_grouping_sets"     -> Relational.groupingSets _,
    "q44_except_customers"  -> Relational.exceptCustomers _,
    "q45_cube_orders"       -> Relational.cubeOrders _,
    "q46_ranking_functions" -> Relational.rankingFunctions _,
    "q47_repetition_score"  -> TextOps.repetitionScore _,
    "q48_split_assign"      -> TextOps.splitAssign _,
    "q49_sliding_window"    -> Relational.slidingWindowStats _,
    "q50_contamination"     -> ((s, d) => TextOps.contamination(s, d)),
    // the int8 quantization pipeline is reproduced step-by-step in the oracle
    // SQL (exact integer arithmetic ⇒ bit-identical ranking); recall vs the
    // exact knnBruteForce is additionally gated in DedupSimilaritySpec.
    "q51_quantized_knn"     -> Similarity.knnQuantized _,
    "q52_asof_join"         -> Relational.asofJoin _,
    "q53_salted_join"       -> ((s, d) => Relational.saltedJoin(s, d)),
    "q54_intersect_customers" -> Relational.intersectCustomers _,
    "q55_order_gaps"        -> Relational.orderGaps _,
    "q56_pivot_events"      -> Relational.pivotEvents _,
    "q57_profile_documents" -> TextOps.profileDocuments _,
    "q58_value_outliers"    -> ((s, d) => Relational.valueOutliers(s, d)),
    "q59_embedding_clusters" -> Similarity.embeddingClusters _,
    "q60_tfidf_terms"       -> TextOps.tfidfTopTerms _,
    "q61_balanced_sample"   -> ((s, d) => TextOps.balancedSample(s, d)),
    "q62_split_leakage"     -> ((s, d) => TextOps.splitLeakage(s, d)),
    "q63_session_funnel"    -> Relational.sessionFunnelSinglePass _,
    "q64_inverted_index"    -> ((s, d) => TextOps.invertedIndex(s, d)),
    "q65_vocab_top_terms"   -> TextOps.vocabTopTerms _,
    "q66_c4_rule_filter"    -> TextOps.c4RuleFilter _,
    "q67_pii_scrub"         -> TextOps.piiScrub _,
    "q68_sequence_packing"  -> ((s, d) => TextOps.sequencePacking(s, d)),
    "q69_span_dedup"        -> ((s, d) => TextOps.spanDedup(s, d)),
    "q70_bigram_fluency"    -> TextOps.bigramFluency _,
    "q71_chunk_docs"        -> ((s, d) => TextOps.chunkDocs(s, d)),
    "q72_hard_negatives"    -> ((s, d) => Similarity.hardNegatives(s, d)),
    "q73_mixture_sample"    -> ((s, d) => TextOps.mixtureSample(s, d)),
    "q74_ingest_dedup"      -> Dedup.ingestDedup _,
    "q75_boilerplate"       -> ((s, d) => TextOps.boilerplate(s, d)),
    "q76_ingest_neardup"    -> Dedup.ingestNearDup _,
    "q77_modality_audit"    -> Similarity.modalityAudit _,
    "q78_canonical_docs"    -> ((s, d) => Dedup.canonicalPerCluster(s, d)),
    "q79_semantic_dedup"    -> ((s, d) => Similarity.semanticDedup(s, d)),
    "q80_source_quota"      -> ((s, d) => TextOps.sourceQuota(s, d)),
    "q81_bm25_search"       -> ((s, d) => TextOps.bm25Search(s, d)),
    "q82_pq_ann"            -> ((s, d) => Similarity.pqAnn(s, d)),
    "q83_hash_embed"        -> TextOps.hashEmbedDocs _,
    "q84_neardup_pagerank"  -> ((s, d) => Dedup.pagerankNearDup(s, d)),
    "q85_ingest_semdedup"   -> ((s, d) => Similarity.ingestSemanticDedup(s, d)),
    "q86_skew_profile"      -> ((s, d) => Relational.skewProfile(s, d)),
    "q87_random_project"    -> ((s, d) => Similarity.randomProject(s, d)),
    "q88_classifier_filter" -> TextOps.classifierFilter _,
    "q89_cdc_chunks"        -> TextOps.cdcChunks _,
    "q90_token_drift"       -> ((s, d) => TextOps.tokenDrift(s, d)),
    "q91_ivf_pq"            -> ((s, d) => Similarity.ivfPq(s, d)),
    "q92_perplexity_buckets" -> TextOps.perplexityBuckets _,
    "q93_dedup_weighted"    -> ((s, d) => Dedup.dedupWeightedStats(s, d)),
    "q94_bigram_fluency_pruned" -> ((s, d) => TextOps.bigramFluencyPruned(s, d)),
    "q95_percentile_check"  -> ((s, d) => Relational.percentileSketchCheck(s, d)),
    "q96_bpe_merges"        -> ((s, d) => TextOps.bpeMerges(s, d)),
    "q97_bpe_encode"        -> ((s, d) => TextOps.bpeEncode(s, d)),
    "q98_wordpiece_merges"  -> ((s, d) => TextOps.wordPieceMerges(s, d)),
    "q99_tokenizer_fertility" -> ((s, d) => TextOps.tokenizerFertility(s, d)),
    "q100_temperature_sample" -> ((s, d) => TextOps.temperatureSample(s, d)),
    "q101_dsir_select"      -> ((s, d) => TextOps.dsirSelect(s, d)),
    "q102_containment_pairs" -> ((s, d) => Dedup.containmentPairs(s, d)),
    "q103_unigram_lm_score" -> ((s, d) => TextOps.unigramLmScore(s, d)),
    "q104_gopher_quality"   -> ((s, d) =>
      TextOps.gopherQuality(s, d, requiredStops = Seq("the", "a"))),
    "q105_corpus_diff"      -> ((s, d) => Dedup.corpusDiffSnapshots(s, d)),
    "q106_gopher_repetition" -> ((s, d) => TextOps.gopherRepetition(s, d)),
    "q107_bloom_ingest"     -> ((s, d) => Dedup.bloomIngestDedup(s, d)),
    "q108_kmeans_assign"    -> ((s, d) => Similarity.kmeansAssign(s, d)),
    "q109_kmeans_prototypes" -> ((s, d) => Similarity.kmeansPrototypes(s, d)),
    "q110_pca_power"        -> ((s, d) => Similarity.pcaPowerScores(s, d)),
    "q111_cms_heavy_hitters" -> ((s, d) => Relational.cmsHeavyHitters(s, d)),
    "q112_edit_distance_pairs" -> ((s, d) => Dedup.editDistancePairs(s, d)),
    "q113_bucketed_join"    -> ((s, d) => Relational.bucketedJoin(s, d)),
    "q114_unigram_prune"    -> ((s, d) => TextOps.unigramLmPrune(s, d)),
    "q115_incremental_stats" -> ((s, d) => Relational.incrementalStats(s, d)),
    "q116_retention_cohorts" -> ((s, d) => Relational.retentionCohorts(s, d)),
    "q117_incremental_sketch" -> ((s, d) => Relational.incrementalStatsSketch(s, d)),
    "q118_audience_overlap" -> ((s, d) => Relational.audienceOverlap(s, d)),
    "q119_scd2_history"     -> ((s, d) => Relational.scd2History(s, d)),
    "q120_zorder_layout"    -> ((s, d) => Relational.zorderLayout(s, d)),
    "q121_epoch_plan"       -> ((s, d) => TextOps.epochPlan(s, d)),
    "q122_gap_fill"         -> ((s, d) => Relational.gapFillHourly(s, d)),
    "q123_record_linkage"   -> ((s, d) => Dedup.recordLinkage(s, d)),
    "q124_hybrid_rrf"       -> ((s, d) => Similarity.hybridRrf(s, d)),
    "q125_cluster_safe_split" -> ((s, d) => Dedup.clusterSafeSplit(s, d)),
    "q126_interval_overlap" -> ((s, d) => Relational.intervalOverlapJoin(s, d)),
    "q127_theta_sketch"     -> ((s, d) => Relational.thetaSketchOverlap(s, d)),
    "q128_kanon_release"    -> ((s, d) => Relational.kAnonRelease(s, d)),
    "q129_ingest_linkage"   -> ((s, d) => Dedup.ingestLinkage(s, d)),
    "q130_entity_groups"    -> ((s, d) => Dedup.entityGroups(s, d)),
    "q131_quality_checks"   -> ((s, d) => Quality.qualityChecks(s, d)),
    "q132_freq_items"       -> ((s, d) => Relational.freqItems(s, d)),
    "q133_market_basket"    -> ((s, d) => Relational.marketBasket(s, d)),
    "q134_dp_release"       -> ((s, d) => Relational.dpRelease(s, d)),
    "q135_event_transitions" -> ((s, d) => Relational.eventTransitions(s, d)),
    "q136_abtest_ztest"     -> ((s, d) => Relational.abTest(s, d)),
    "q137_column_stats"     -> ((s, d) => Quality.columnStats(s, d)),
    "q138_anomaly_zscore"   -> ((s, d) => Relational.anomalyZscore(s, d)),
    "q139_triangle_count"   -> ((s, d) => Relational.triangleCounts(s, d)),
    "q140_welch_ttest"      -> ((s, d) => Relational.welchTtest(s, d)),
    "q141_calibration"      -> ((s, d) => TextOps.classifierCalibration(s, d)),
    "q142_mmr_rerank"       -> ((s, d) => Similarity.mmrRerank(s, d)),
    "q143_dbscan"           -> ((s, d) => Similarity.dbscan(s, d)),
    "q144_group_regression" -> ((s, d) => Relational.groupRegression(s, d)),
    "q145_chi_square"       -> ((s, d) => Relational.chiSquare(s, d)),
    "q146_join_size"        -> ((s, d) => Relational.joinSizeEstimate(s, d)),
    "q147_item_cf"          -> ((s, d) => Relational.itemCf(s, d)),
    "q148_aqp_estimate"     -> ((s, d) => Relational.aqpEstimate(s, d)),
    "q149_skyline"          -> ((s, d) => Relational.skyline(s, d)),
    "q150_kcore"            -> ((s, d) => Relational.kCore(s, d)),
    "q151_kaplan_meier"     -> ((s, d) => Relational.kaplanMeier(s, d)),
    "q152_ewma_burst"       -> ((s, d) => Relational.ewmaBurst(s, d)),
    "q153_hdr_quantiles"    -> ((s, d) => Relational.hdrQuantiles(s, d)),
    "q154_sketch_rollup"    -> ((s, d) => Relational.sketchRollup(s, d)),
    "q155_attribution"      -> ((s, d) => Relational.touchAttribution(s, d)),
    "q156_pit_join"         -> ((s, d) => Relational.pitJoin(s, d)),
    "q157_bradley_terry"    -> ((s, d) => Relational.bradleyTerry(s, d)),
    "q158_trending"         -> ((s, d) => Relational.trendingScores(s, d)),
    "q159_hierarchy"        -> ((s, d) => Relational.hierarchyFlatten(s, d)),
    "q160_rfm"              -> ((s, d) => Relational.rfmSegments(s, d)),
    "q161_journeys"         -> ((s, d) => Relational.journeyPaths(s, d)),
    "q162_rank_movers"      -> ((s, d) => Relational.rankMovers(s, d)),
    "q163_seq_patterns"     -> ((s, d) => Relational.seqPatterns(s, d)),
    "q164_quota_sample"     -> ((s, d) => TextOps.quotaSample(s, d)),
    "q165_day_funnel"       -> ((s, d) => Relational.dayFunnel(s, d)),
    "q166_holt_trend"       -> ((s, d) => Relational.holtTrend(s, d)),
    "q167_seq_pack"         -> ((s, d) => TextOps.seqPack(s, d)),
    "q168_knn_bfs"          -> ((s, d) => Similarity.knnBfs(s, d)),
    "q169_bootstrap_ci"     -> ((s, d) => Relational.bootstrapCi(s, d)),
    "q170_markov_attrib"    -> ((s, d) => Relational.markovAttribution(s, d)),
    "q171_positional_index" -> ((s, d) => TextOps.positionalIndex(s, d)),
    "q172_whiten_embed"     -> ((s, d) => Similarity.whitenEmbeddings(s, d)),
    "q173_priority_sample"  -> ((s, d) => TextOps.prioritySample(s, d)),
    "q174_kn_score"         -> ((s, d) => TextOps.knScore(s, d)),
    "q175_lpa_communities"  -> ((s, d) => Similarity.lpaCommunities(s, d)),
    "q176_cuped"            -> ((s, d) => Relational.cupedTtest(s, d)),
    "q177_als_rank1"        -> ((s, d) => Relational.alsRank1(s, d)),
    "q178_rake_keyphrases"  -> ((s, d) => TextOps.rakeKeyphrases(s, d)),
    "q179_video_segments"   -> ((s, d) => Multimodal.videoSegments(s, d)),
    "q180_mink_prob"        -> ((s, d) => TextOps.minKProb(s, d)),
    "q181_source_select"    -> ((s, d) => TextOps.sourceSelect(s, d)),
    "q182_budget_allocate"  -> ((s, d) => TextOps.budgetAllocate(s, d)),
    "q183_dim_ablation"     -> ((s, d) => Similarity.dimAblation(s, d)),
    "q184_conformal"        -> ((s, d) => TextOps.conformalThreshold(s, d)),
    "q185_mad_outliers"     -> ((s, d) => TextOps.madOutliers(s, d)),
    "q186_novelty_curve"    -> ((s, d) => TextOps.noveltyCurve(s, d)),
    "q187_source_overlap"   -> ((s, d) => Dedup.sourceOverlap(s, d)),
    "q188_term_burstiness"  -> ((s, d) => TextOps.termBurstiness(s, d)),
    "q189_filter_kappa"     -> ((s, d) => TextOps.filterKappa(s, d)),
    "q190_cusum_drift"      -> ((s, d) => TextOps.cusumDrift(s, d)),
    "q191_chao1_vocab"      -> ((s, d) => TextOps.chao1Vocab(s, d)),
    "q192_packing_plan"     -> ((s, d) => TextOps.packingPlan(s, d)),
    "q193_centroid_drift"   -> ((s, d) => Similarity.centroidDrift(s, d)),
    "q194_ks_matrix"        -> ((s, d) => TextOps.ksMatrix(s, d)),
    "q195_source_ablation"  -> ((s, d) => TextOps.sourceAblation(s, d)),
    "q196_source_redundancy" -> ((s, d) => Dedup.sourceRedundancy(s, d)),
    "q197_media_decode"     -> ((s, d) => Multimodal.mediaDecode(s, d)),
    "q198_vocab_coverage"   -> ((s, d) => TextOps.vocabCoverage(s, d)),
    "q199_kcenter_coreset"  -> ((s, d) => Similarity.kcenterCoreset(s, d)),
    "q200_facility_location" -> ((s, d) => Similarity.facilityLocation(s, d)),
    "q201_bh_fdr"           -> ((s, d) => TextOps.bhFdr(s, d)),
    "q202_power_mde"        -> ((s, d) => TextOps.powerMde(s, d)),
    "q203_doremi_weights"   -> ((s, d) => TextOps.doremiWeights(s, d)),
    "q204_ann_recall"       -> ((s, d) => Similarity.annRecall(s, d)),
    "q205_zipf_tail"        -> ((s, d) => TextOps.zipfTail(s, d)),
    "q206_pmi_collocations" -> ((s, d) => TextOps.pmiCollocations(s, d)),
    "q207_pq_recall"        -> ((s, d) => Similarity.pqRecall(s, d)),
  )

  /** The queries named by `tokens`, sorted by name — the one filter Bench,
    * Verify and Dev share. A token matches a query by its full name or by
    * its `qNN` prefix exactly: "q6" selects none of q60–q69, which a
    * `startsWith` match would (round-6 ADVICE). A token that matches
    * nothing is an error, never a silently empty run. */
  def select(tokens: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val wanted = tokens.map(_.trim).filter(_.nonEmpty)
    require(wanted.nonEmpty, "no query names given")
    def matches(t: String, name: String) = name == t || name.takeWhile(_ != '_') == t
    val all = queries.toSeq.sortBy(_._1)
    val unknown = wanted.filterNot(t => all.exists { case (n, _) => matches(t, n) })
    require(unknown.isEmpty, s"no query matches ${unknown.mkString(", ")}")
    all.filter { case (n, _) => wanted.exists(matches(_, n)) }
  }

  def oracleSql: Map[String, String] = Oracles.sql

  /** Driver-proven EDGE types — the only types with green hash precedents
    * in the driver's parquet-vs-DuckDB compare (199 green rows as of
    * round 14, each using only these). DECIMAL is explicitly NOT here:
    * q200 emitted decimal(38,0) in round 14 with values cell-for-cell
    * equal to the oracle and still hashed RED, because the driver's two
    * loaders canonicalize decimals differently (`Decimal('…')` vs float64
    * scientific notation). Interval/binary/struct/map have zero
    * precedents either way — unproven is rejected the same as disproven.
    * A query needing ≥2⁶³ integers at the edge emits canonical
    * digit-string VARCHAR (the q200 fix); keep wide arithmetic internal. */
  private val DriverSafeEdgeTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(IntegerType, LongType, DoubleType, StringType, BooleanType,
      DateType, TimestampType)
  }

  /** Gate (round-15, VERDICT r14 #2): every [[queries]] output schema must
    * use only [[DriverSafeEdgeTypes]] — enforced over ALL queries by the
    * RelationalSpec smoke sweep so a future decimal/binary edge fails the
    * suite before it can fail the driver. Arrays of safe element types are
    * allowed only if a precedent exists; as of round 15 no query emits
    * one, so they are rejected too (add the precedent before relaxing). */
  def assertDriverSafeEdgeTypes(name: String,
                                schema: org.apache.spark.sql.types.StructType): Unit =
    schema.fields.foreach { f =>
      require(DriverSafeEdgeTypes.contains(f.dataType),
        s"$name column '${f.name}' has edge type ${f.dataType.sql.toLowerCase} — " +
          "not driver-hashable (see the round-14 q200 decimal incident in " +
          "VERDICT r14 / NOTES_r15): emit int/bigint/double/varchar/boolean/" +
          "date/timestamp at the edge; for >2^63 integers use canonical " +
          "digit-string varchar and keep decimal arithmetic internal")
    }
}
