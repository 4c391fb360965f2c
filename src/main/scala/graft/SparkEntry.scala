package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.expressions.GraftFunctions
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from SURVEY §2 (or a §7
  * north-star addition) expressed over the driver testdata; [[oracleSql]]
  * holds the DuckDB-equivalent SQL the driver hash-compares against.
  * Column names/aliases are kept identical on both sides (the compare
  * sorts columns by name), and every query is deterministically ordered.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each entry
    * registers graft's native expressions into the session it is
    * handed, so a driver-built session without [[GraftSession]]'s
    * extension runs every query too. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary"   -> (Relational.q1PricingSummary _),
    "q3_shipping_priority" -> (Relational.q3ShippingPriority _),
    "q5_region_volume"     -> (Relational.q5RegionVolume _),
    "q_top_orders_per_cust" -> (Relational.topOrdersPerCustomer _),
    "q_semi_join"          -> (Relational.semiJoinOrders _),
    "q_anti_join"          -> (Relational.antiJoinCustomers _),
    "q_union_branches"     -> (Relational.unionBranches _),
    "q_pivot_status_year"  -> (Relational.pivotStatusYear _),
    "q_unpivot_status_year" -> (Relational.qUnpivotStatusYear _),
    "q_full_outer"         -> (graft.streaming.Events.qFullOuter _),
    "q_events_cube"        -> (graft.streaming.Events.qEventsCube _),
    "q_event_gaps"         -> (graft.streaming.Events.qEventGaps _),
    "q_resample_hourly"    -> (graft.streaming.Events.qResampleHourly _),
    "q_hourly_anomaly"     -> (graft.streaming.Events.qHourlyAnomaly _),
    "q_user_event_types"   -> (graft.streaming.Events.qUserEventTypes _),
    // product-analytics surface (cohorts / funnel / SCD2 / robust stats)
    "q_retention_cohorts"  -> (Analytics.qRetentionCohorts _),
    "q_retention_rates"    -> (Analytics.qRetentionRates _),
    "q_funnel"             -> (Analytics.qFunnel _),
    "q_funnel_windowed"    -> (Analytics.qFunnelWindowed _),
    "q_scd2_history"       -> (Analytics.qScd2History _),
    // contract: merge(history(<T), delta(>=T)) == full recompute, so the
    // oracle is q_scd2_history's SQL verbatim
    "q_scd2_merge"         -> (Analytics.qScd2Merge _),
    "q_median_outliers"    -> (Analytics.qMedianOutliers _),
    "q14_promo_revenue"    -> (Relational.q14PromoRevenue _),
    "q7_volume_shipping"   -> (Relational.q7VolumeShipping _),
    "q18_large_orders"     -> (Relational.q18LargeOrders _),
    "q6_forecast_revenue"  -> (Relational.q6ForecastRevenue _),
    "q_set_ops"            -> (Relational.qSetOps _),
    "q_price_ranks"        -> (Relational.qPriceRanks _),
    "q_repeat_customers"   -> (Relational.qRepeatCustomers _),
    "q_supplier_share"     -> (Relational.qSupplierShare _),
    "q_session_depths"     -> (graft.streaming.Events.qSessionDepths _),
    "q_sql_surface"        -> (Relational.qSqlSurface _),
    "q10_returned_items"   -> (Relational.q10ReturnedItems _),
    "q13_order_distribution" -> (Relational.q13OrderDistribution _),
    "q22_idle_customers"   -> (Relational.q22IdleCustomers _),
    // TPC-H remainder, adapted to the trimmed schema (RelationalX doc)
    "q2_min_cost_supplier" -> (RelationalX.q2MinCostSupplier _),
    "q4_priority_orders"   -> (RelationalX.q4PriorityOrders _),
    "q8_market_share"      -> (RelationalX.q8MarketShare _),
    "q9_profit_by_nation"  -> (RelationalX.q9ProfitByNation _),
    "q11_important_parts"  -> (RelationalX.q11ImportantParts _),
    "q12_late_lines"       -> (RelationalX.q12LateLines _),
    "q15_top_supplier"     -> (RelationalX.q15TopSupplier _),
    "q16_part_supplier_counts" -> (RelationalX.q16PartSupplierCounts _),
    "q17_small_qty_revenue" -> (RelationalX.q17SmallQtyRevenue _),
    "q19_disjunctive_revenue" -> (RelationalX.q19DisjunctiveRevenue _),
    "q20_top_share_suppliers" -> (RelationalX.q20TopShareSuppliers _),
    "q21_waiting_suppliers" -> (RelationalX.q21WaitingSuppliers _),
    // LegiScan reference pipelines (SURVEY §3) over the committed fixtures
    "q_bill_search"        -> (BillSearch.qBillSearch _),
    "q_legislator_counts"  -> (LegislatorCounts.qLegislatorCounts _),
    "q_latest_people"      -> (LegislatorCounts.qLatestPeople _),
    "q_dodd_side_branch"   -> (LegislatorCounts.qDoddSideBranch _),
    "q_fulltext_search"    -> (FullText.qFullTextSearch _),
    "q_budget_bills"       -> (FullText.qBudgetBills _),
    "q_budget_bills_pdf"   -> (FullText.qBudgetBillsPdf _),
    "q_budget_semi_join"   -> (FullText.qBudgetSemiJoin _),
    "q_chaptered_texts"    -> (FullText.qChapteredTexts _),
    "q_decode_payloads"    -> (FullText.qDecodePayloads _),
    "q_texts_per_session"  -> (FullText.qTextsPerSession _),
    "q_appropriations"     -> (FullText.qAppropriations _),
    // LLM-data-pipeline operators over documents/embeddings/events
    "q_dedup_exact"        -> (TextDedup.qDedupExact _),
    "q_dedup_minhash"      -> (TextDedup.qDedupMinhash _),
    "q_containment_pairs"  -> (TextDedup.qContainmentPairs _),
    "q_minhash_est"        -> (TextDedup.qMinhashEstimation _),
    "q_dedup_incremental"  -> (TextDedup.qDedupIncremental _),
    "q_dedup_persisted"    -> (TextDedup.qDedupPersisted _),
    "q_dedup_appended"     -> (TextDedup.qDedupAppended _),
    "q_dedup_deleted"      -> (TextDedup.qDedupDeleted _),
    "q_bloom_dedup"        -> (BloomDedup.qBloomDedup _),
    "q_snapshot_diff"      -> (Snapshot.qSnapshotDiff _),
    "q_dedup_clusters"     -> (TextDedup.qDedupClusters _),
    "q_lsh_bucket_audit"   -> (TextDedup.qLshBucketAudit _),
    "q_hash_split"         -> (TextStats.qHashSplit _),
    "q_split_manifest"     -> (TextStats.qSplitManifest _),
    "q_quality_pctl"       -> (TextStats.qQualityPercentiles _),
    "q_langid_eval"        -> (TextStats.qLangIdEval _),
    "q_curate_corpus"      -> (Curate.qCurateCorpus _),
    "q_curate_v2"          -> (Curate.qCurateV2 _),
    "q_curate_v3"          -> (Curate.qCurateV3 _),
    "q_curate_v4"          -> (Curate.qCurateV4 _),
    "q_curate_v5"          -> (Curate.qCurateV5 _),
    "q_train_shards"       -> (Curate.qTrainShards _),
    "q_shard_manifest"     -> (Curate.qShardManifest _),
    "q_funnel_unordered"   -> (Analytics.qFunnelUnordered _),
    "q_simhash"            -> (TextDedup.qSimhash _),
    // canonical pair path = the WIDE (60-bit) banding; the 16-bit
    // spelling is the demoted parity/teaching variant on a ¼ sample
    "q_simhash_pairs"      -> (TextDedup.qSimhashPairs _),
    "q_simhash_pairs16"    -> (TextDedup.qSimhashPairs16 _),
    "q_ngram_jaccard"      -> (TextDedup.qNgramJaccard _),
    "q_fingerprint"        -> (TextStats.qFingerprint _),
    "q_text_stats"         -> (TextStats.qTextStats _),
    "q_lang_id"            -> (TextStats.qLangId _),
    "q_quality_score"      -> (TextStats.qQualityScore _),
    "q_token_bpe"          -> (TextStats.qTokenBpe _),
    "q_length_quantiles"   -> (TextStats.qLengthQuantiles _),
    // no oracle entry (t-digest sketch is engine-specific): rows-only gate
    "q_approx_quantiles"   -> (TextStats.qApproxQuantiles _),
    // rows-only: deflate ratio has no DuckDB twin (no zlib there);
    // the expression's contract is pinned in ExpressionsSpec
    "q_compress_ratio"     -> (TextStats.qCompressRatio _),
    "q_tfidf_top_terms"    -> (TextStats.qTfidfTopTerms _),
    "q_similar_topk"       -> (Similarity.qSimilarTopK _),
    "q_similar_mmr"        -> (Similarity.qSimilarMmr _),
    "q_contrastive_pairs"  -> (Similarity.qContrastivePairs _),
    "q_context_assembly"   -> (Retrieval.qContextAssembly _),
    "q_similar_ann"        -> (Similarity.qSimilarAnn _),
    "q_similar_ann2"       -> (Similarity.qSimilarAnn2 _),
    "q_embed_neardup"      -> (Similarity.qEmbedNearDup _),
    "q_embed_incremental"  -> (Similarity.qEmbedIncremental _),
    "q_similar_ivf"        -> (Similarity.qSimilarIvf _),
    "q_semantic_dedup"     -> (Similarity.qSemanticDedup _),
    "q_semantic_dedup_auto" -> (Similarity.qSemanticDedupAuto _),
    "q_semantic_dedup_auto2" -> (Similarity.qSemanticDedupAuto2 _),
    "q_similar_ivf_2lvl"   -> (Similarity.qSimilarIvfTwoLevel _),
    "q_semantic_admission" -> (Similarity.qSemanticAdmission _),
    "q_semantic_dedup_sparse" -> (Similarity.qSemanticDedupSparse _),
    "q_semantic_admission_sparse" -> (Similarity.qSemanticAdmissionSparse _),
    "q_similar_ivf2"       -> (Similarity.qSimilarIvf2 _),
    "q_similar_ivf_persisted" -> (Similarity.qSimilarIvfPersisted _),
    "q_similar_ivf_appended" -> (Similarity.qSimilarIvfAppended _),
    "q_similar_ivf_deleted" -> (Similarity.qSimilarIvfDeleted _),
    "q_similar_pq_deleted" -> (Similarity.qSimilarPqDeleted _),
    "q_similar_ivf_quantized" -> (Similarity.qSimilarIvfQuantized _),
    "q_similar_pq"         -> (Similarity.qSimilarPq _),
    "q_similar_ivfpq"      -> (Similarity.qSimilarIvfPq _),
    "q_similar_ivfpq_res"  -> (Similarity.qSimilarIvfPqRes _),
    "q_similar_ivfpq_lloyd" -> (Similarity.qSimilarIvfPqLloyd _),
    "q_similar_ivfpq_spherical" -> (Similarity.qSimilarIvfPqSpherical _),
    "q_similar_kmeans_int" -> (Similarity.qSimilarKmeansInt _),
    "q_similar_ivfpq_learned" -> (Similarity.qSimilarIvfPqLearned _),
    "q_similar_ivfpq_deleted" -> (Similarity.qSimilarIvfPqDeleted _),
    "q_ivfpq_lloyd_recall" -> (Similarity.qIvfPqLloydRecall _),
    "q_ivfpq_lloyd_mse"    -> (Similarity.qIvfPqLloydMse _),
    "q_ivf_cell_audit"     -> (Similarity.qIvfCellAudit _),
    "q_ivf_cell_drift"     -> (Similarity.qIvfCellDrift _),
    "q_kmeans_cell_audit"  -> (Similarity.qKmeansCellAudit _),
    "q_similar_kmeans_auto" -> (Similarity.qSimilarKmeansAuto _),
    "q_kmeans_cell_audit_auto" -> (Similarity.qKmeansCellAuditAuto _),
    "q_kmeans_trade"       -> (Similarity.qKmeansTrade _),
    "q_similar_ivfpq_learned_auto" -> (Similarity.qSimilarIvfPqLearnedAuto _),
    "q_similar_kmeans_landed" -> (Similarity.qSimilarKmeansLanded _),
    "q_similar_kmeans_deleted" -> (Similarity.qSimilarKmeansDeleted _),
    "q_ivfpq_nprobe_curve" -> (Similarity.qIvfPqNprobeCurve _),
    "q_similar_pq_kmeans"  -> (Similarity.qSimilarPqKmeans _),
    "q_similar_ivfpq_persisted" -> (Similarity.qSimilarIvfPqPersisted _),
    "q_ivfpq_recall"       -> (Similarity.qIvfPqRecall _),
    "q_pq_codebook_recall" -> (Similarity.qPqCodebookRecall _),
    "q_pq_recall"          -> (Similarity.qPqRecall _),
    "q_embed_neardup_persisted" -> (Similarity.qEmbedNearDupPersisted _),
    "q_embed_neardup_deleted" -> (Similarity.qEmbedNearDupDeleted _),
    "q_embed_neardup_appended"  -> (Similarity.qEmbedNearDupAppended _),
    // no oracle entry (learned centroids: distributed float means are
    // partitioning-dependent in the last ULP): rows-only gate
    "q_similar_kmeans"     -> (Similarity.qSimilarKmeans _),
    "q_events_window"      -> (graft.streaming.Events.qEventsWindow _),
    "q_events_props"       -> (graft.streaming.Events.qEventsProps _),
    "q_user_sessions"      -> (graft.streaming.Events.qUserSessions _),
    "q_asof_join"          -> (AsofJoin.qAsofJoin _),
    "q_range_join"         -> (AsofJoin.qRangeJoin _),
    "q_events_sliding"     -> (graft.streaming.Events.qEventsSliding _),
    "q_rolling_avg"        -> (graft.streaming.Events.qRollingAvg _),
    "q_events_rollup"      -> (graft.streaming.Events.qEventsRollup _),
    // no oracle entry (HLL sketch is engine-specific): rows-only gate
    "q_approx_users"       -> (graft.streaming.Events.qApproxUsers _),
    "q_salted_join"        -> (ScaleJoins.qSaltedJoin _),
    // corpus-hygiene filters (PII / repetition / decontamination / mixing)
    "q_pii_redact"         -> (CorpusFilters.qPiiRedact _),
    "q_repetition"         -> (CorpusFilters.qRepetition _),
    "q_contamination"      -> (CorpusFilters.qContamination _),
    "q_domain_mix"         -> (CorpusFilters.qDomainMix _),
    "q_media_meta"         -> (Multimodal.qMediaMeta _),
    "q_media_frames"       -> (Multimodal.qMediaFrames _),
    "q_media_resize"       -> (Multimodal.qMediaResize _),
    "q_media_phash"        -> (Multimodal.qMediaPhash _),
    "q_media_neardup"      -> (Multimodal.qMediaNearDup _),
    "q_audio_energy"       -> (Multimodal.qAudioEnergy _),
    // training-batch preparation (packing / chunking / vocab / rebalance)
    "q_seq_pack"           -> (TrainPrep.qSeqPack _),
    "q_token_chunks"       -> (TrainPrep.qTokenChunks _),
    "q_vocab_topk"         -> (TrainPrep.qVocabTopK _),
    "q_bpe_merges"         -> (TrainPrep.qBpeMerges _),
    "q_bpe_encode"         -> (TrainPrep.qBpeEncode _),
    "q_tokenize_ids"       -> (TrainPrep.qTokenizeIds _),
    "q_rare_token_ratio"   -> (TrainPrep.qRareTokenRatio _),
    "q_domain_upsample"    -> (TrainPrep.qDomainUpsample _),
    "q_token_budget_mix"   -> (TrainPrep.qTokenBudgetMix _),
    "q_repeated_spans"     -> (TextDedup.qRepeatedSpans _),
    "q_eval_sample"        -> (TrainPrep.qEvalSample _),
    "q_epoch_shuffle"      -> (TrainPrep.qEpochShuffle _),
    "q_domain_interleave"  -> (TrainPrep.qDomainInterleave _),
    "q_source_similarity"  -> (TextDedup.qSourceSimilarity _),
    "q_embed_quantize"     -> (Similarity.qEmbedQuantize _),
    // corpus analytics (n-gram LM / stratified sample / postings / survivorship)
    "q_bigram_next"        -> (CorpusAnalytics.qBigramNext _),
    "q_rare_bigrams"       -> (CorpusAnalytics.qRareBigrams _),
    "q_source_divergence"  -> (CorpusAnalytics.qSourceDivergence _),
    "q_lm_perplexity"      -> (CorpusAnalytics.qLmPerplexity _),
    "q_lm_perplexity_approx" -> (CorpusAnalytics.qLmPerplexityApprox _),
    "q_dsir_weights"       -> (TrainPrep.qDsirWeights _),
    "q_dsir_admission"     -> (TrainPrep.qDsirAdmission _),
    "q_bigram_lift"        -> (CorpusAnalytics.qBigramLift _),
    "q_stratified_sample"  -> (CorpusAnalytics.qStratifiedSample _),
    "q_postings"           -> (CorpusAnalytics.qPostings _),
    "q_bm25_search"        -> (CorpusAnalytics.qBm25Search _),
    "q_temperature_mix"    -> (CorpusAnalytics.qTemperatureMix _),
    "q_stats_merge"        -> (CorpusAnalytics.qSourceStatsMerge _),
    "q_setsim_join"        -> (TextDedup.qSetSimJoin _),
    "q_containment_join"   -> (TextDedup.qContainmentJoin _),
    "q_strip_spans"        -> (TextDedup.qStripSpans _),
    "q_paragraph_dedup"    -> (TextDedup.qParagraphDedup _),
    "q_paragraph_incremental" -> (TextDedup.qParagraphIncremental _),
    "q_winnow_fingerprints" -> (TextDedup.qWinnowFingerprints _),
    "q_winnow_overlap"     -> (TextDedup.qWinnowOverlap _),
    "q_winnow_probe"       -> (TextDedup.qWinnowProbe _),
    "q_winnow_persisted"   -> (TextDedup.qWinnowPersisted _),
    "q_winnow_deleted"     -> (TextDedup.qWinnowDeleted _),
    "q_winnow_boiler"      -> (TextDedup.qWinnowBoiler _),
    "q_winnow_attribution" -> (TextDedup.qWinnowAttribution _),
    "q_setsim_incremental" -> (TextDedup.qSetSimIncremental _),
    "q_containment_incremental" -> (TextDedup.qContainmentIncremental _),
    "q_survivorship"       -> (CorpusAnalytics.qSurvivorship _),
    "q_dup_degree"         -> (CorpusAnalytics.qDupDegree _),
    "q_last_touch"         -> (Analytics.qLastTouch _),
    "q_first_touch"        -> (Analytics.qFirstTouch _),
    "q_growth_accounting"  -> (Analytics.qGrowthAccounting _),
    "q_stickiness"         -> (Analytics.qStickiness _),
    "q_top_journeys"       -> (Analytics.qTopJourneys _),
    "q_journey_conversion" -> (Analytics.qJourneyConversion _),
    "q_channel_retention"  -> (Analytics.qChannelRetention _),
    "q_power_users"        -> (Analytics.qPowerUsers _),
    "q_vocab_growth"       -> (CorpusAnalytics.qVocabGrowth _),
    "q_corpus_cube"        -> (CorpusAnalytics.qCorpusCube _),
    "q_vector_audit"       -> (Similarity.qVectorAudit _),
    "q_rfm_segments"       -> (Analytics.qRfmSegments _),
    "q_value_drift"        -> (Analytics.qValueDrift _),
    "q_dedup_rates"        -> (CorpusAnalytics.qDedupRates _),
    "q_zorder_curve"       -> (LakeLayout.qZOrderCurve _),
    "q_ann_recall"         -> (Similarity.qAnnRecall _),
    "q_quant_recall"       -> (Similarity.qQuantRecall _),
    "q_funnel_latency"     -> (Analytics.qFunnelLatency _),
    "q_event_transitions"  -> (Analytics.qEventTransitions _),
    "q_value_histogram"    -> (Analytics.qValueHistogram _),
    "q_label_centroids"    -> (Similarity.qLabelCentroids _),
    "q_dim_variance"       -> (Similarity.qDimVariance _),
    "q_centroid_drift"     -> (Similarity.qCentroidDrift _),
    "q_heavy_hitters"      -> (CorpusAnalytics.qHeavyHitters _),
    "q_strip_heavy"        -> (CorpusAnalytics.qStripHeavy _),
    "q_classifier_score"   -> (CorpusFilters.qClassifierScore _),
    "q_curate_v6"          -> (Curate.qCurateV6 _),
    "q_curate_v7"          -> (Curate.qCurateV7 _),
    "q_curate_v8"          -> (Curate.qCurateV8 _),
    "q_skew_audit"         -> (ScaleJoins.qSkewAudit _),
    "q_mix_budget"         -> (TrainPrep.qMixBudget _),
    "q_mix_sample"         -> (TrainPrep.qMixSample _),
    "q_vocab_coverage"     -> (TrainPrep.qVocabCoverage _),
    "q_hybrid_rrf"         -> (Retrieval.qHybridRrf _),
    "q_hybrid_ivf"         -> (Retrieval.qHybridIvf _),
    "q_leakage_split"      -> (TrainPrep.qLeakageSplit _),
    "q_curriculum"         -> (TrainPrep.qCurriculum _),
    // rows-only (t-digest boundaries are engine-specific);
    // accuracy contract pinned in TrainPrepSpec
    "q_curriculum_approx"  -> (TrainPrep.qCurriculumApprox _),
    "q_curriculum_mix"     -> (TrainPrep.qCurriculumMix _),
    "q_curriculum_admission" -> (TrainPrep.qCurriculumAdmission _),
    "q_leakage_incremental" -> (TrainPrep.qLeakageIncremental _),
    "q_quality_drift"      -> (CorpusAnalytics.qQualityDrift _),
    "q_cross_source_dups"  -> (CorpusAnalytics.qCrossSourceDups _),
    "q_corpus_card"        -> (CorpusAnalytics.qCorpusCard _),
    "q_contamination_report" -> (CorpusFilters.qContaminationReport _),
    "q_drift_alert"        -> (CorpusAnalytics.qDriftAlert _),
    "q_nb_classify"        -> (CorpusFilters.qNbClassify _),
    "q_nb_confusion"       -> (CorpusFilters.qNbConfusion _),
    "q_rp_project"         -> (Similarity.qRpProject _),
    "q_similar_rp"         -> (Similarity.qSimilarRp _),
    "q_cluster_sample"     -> (Similarity.qClusterSample _),
    "q_cdc_chunks"         -> (TrainPrep.qCdcChunks _),
    "q_cdc_shared"         -> (TrainPrep.qCdcShared _),
    "q_cdc_containment"    -> (TrainPrep.qCdcContainment _),
    "q_cdc_persisted"      -> (TrainPrep.qCdcPersisted _),
    "q_cdc_deleted"        -> (TrainPrep.qCdcDeleted _),
    "q_cdc_strip"          -> (TrainPrep.qCdcStrip _),
    "q_cdc_strip_frac"     -> (TrainPrep.qCdcStripFrac _),
    "q_cdc_strip_incremental" -> (TrainPrep.qCdcStripIncremental _),
  ).transform { (_, q) => (spark: SparkSession, dir: String) =>
    GraftFunctions.register(spark)
    q(spark, dir)
  }

  /** The entries a main runs: all of [[queries]], or the comma-separated
    * names in env var `onlyVar` (a dev loop). An unknown name fails
    * loudly — an empty selection would report a green zero-query run. */
  def selected(onlyVar: String): Map[String, (SparkSession, String) => DataFrame] = {
    val all = queries
    sys.env.get(onlyVar).fold(all) { v =>
      val names = v.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names.diff(all.keySet)
      require(unknown.isEmpty, s"$onlyVar names unknown queries: ${unknown.mkString(", ")}")
      all.filter { case (k, _) => names(k) }
    }
  }

  /** Absolute fixture paths for the DuckDB oracle (the driver's DuckDB
    * only creates views for the testdata tables; fixture tables are read
    * by absolute parquet path, same bytes both engines). Derived from
    * Fixtures.root so a GRAFT_FIXTURES override moves both engines. */
  private val FX = graft.sources.Fixtures.root
  private def fx(name: String): String = s"read_parquet('$FX/$name.parquet/*.parquet')"

  /** Shared WITH-chain for the media decode oracles: DuckDB twin of
    * [[graft.operators.Multimodal.decodeImage]]. BMP fields come from
    * fixed little-endian byte offsets rebuilt with hex()+nibble
    * arithmetic (int32 height sign-extended then abs'd, exactly the
    * Scala parse); the netpbm header is projected to ASCII via chr()
    * over the first 20 bytes (non-printables become '?', which can
    * never extend a digit run) and parsed with an anchored regexp over
    * the canonical `P6\\n<w> <h>\\n<max>\\n` fixture form. Terminal
    * table `dec`: (doc_id, n, width, height, channels) with (0,0,0)
    * for everything unrecognized. */
  private lazy val mediaDecodeSql: String = {
    def nib(pos: String) =
      s"(instr('0123456789ABCDEF', substring(hx, $pos, 1)) - 1)"
    def byteAt(k: Int) =
      s"(${nib((2 * k + 1).toString)} * 16 + ${nib((2 * k + 2).toString)})"
    val bj = s"(${nib("2 * j + 1")} * 16 + ${nib("2 * j + 2")})"
    val wb = s"(${byteAt(18)} + ${byteAt(19)} * 256 + " +
      s"${byteAt(20)} * 65536 + ${byteAt(21)} * 16777216)"
    val hraw = s"(${byteAt(22)} + ${byteAt(23)} * 256 + " +
      s"${byteAt(24)} * 65536 + ${byteAt(25)} * 16777216)"
    val bpp = s"(${byteAt(28)} + ${byteAt(29)} * 256)"
    // PNG IHDR fields (big-endian) at fixed offsets behind the 8-byte
    // signature + length/tag: width @16, height @20, depth @24, color @25
    val pngW = s"(${byteAt(16)} * 16777216 + ${byteAt(17)} * 65536 + " +
      s"${byteAt(18)} * 256 + ${byteAt(19)})"
    val pngH = s"(${byteAt(20)} * 16777216 + ${byteAt(21)} * 65536 + " +
      s"${byteAt(22)} * 256 + ${byteAt(23)})"
    val pngDepth = byteAt(24)
    val pngColor = byteAt(25)
    val pbm = "'^P[56]\\n(\\d+) (\\d+)\\n(\\d+)\\n'"
    s"""WITH b AS (SELECT doc_id, hex(from_base64(payload_b64)) AS hx,
                     octet_length(from_base64(payload_b64)) AS n
                   FROM ${fx("media")}),
       hdr AS (SELECT doc_id,
                 string_agg(CASE WHEN $bj BETWEEN 32 AND 126
                                   OR $bj IN (9, 10, 13)
                                 THEN chr(CAST($bj AS INTEGER)) ELSE '?' END,
                            '' ORDER BY j) AS head
               FROM (SELECT doc_id, hx, unnest(range(0, least(n, 20))) AS j
                     FROM b WHERE n > 0)
               GROUP BY doc_id),
       parse AS (SELECT b.doc_id, b.n, b.hx,
                   (b.n >= 54 AND substring(b.hx, 1, 4) = '424D') AS is_bmp,
                   $wb AS wb, $hraw AS hraw, $bpp AS bpp,
                   TRY_CAST(regexp_extract(head, $pbm, 1) AS BIGINT) AS pw,
                   TRY_CAST(regexp_extract(head, $pbm, 2) AS BIGINT) AS ph,
                   TRY_CAST(regexp_extract(head, $pbm, 3) AS BIGINT) AS pm,
                   substring(b.hx, 3, 2) AS magic2,
                   (b.n >= 33 AND substring(b.hx, 1, 16) = '89504E470D0A1A0A'
                     AND substring(b.hx, 25, 8) = '49484452') AS is_png,
                   $pngW AS pgw, $pngH AS pgh,
                   $pngDepth AS pgd, $pngColor AS pgc
                 FROM b LEFT JOIN hdr USING (doc_id)),
       flags AS (SELECT doc_id, n, wb, pw, ph, magic2, bpp,
                   abs(CASE WHEN hraw >= 2147483648 THEN hraw - 4294967296
                            ELSE hraw END) AS habs,
                   is_bmp,
                   (NOT is_bmp AND n >= 2 AND substring(hx, 1, 2) = '50'
                     AND magic2 IN ('35', '36')
                     AND coalesce(pw, 0) > 0 AND coalesce(ph, 0) > 0
                     AND coalesce(pm, 0) > 0) AS p_ok,
                   (is_png AND pgw BETWEEN 1 AND 2147483647
                     AND pgh BETWEEN 1 AND 2147483647
                     AND pgd IN (1, 2, 4, 8, 16)
                     AND pgc IN (0, 2, 3, 4, 6)) AS png_ok,
                   pgw, pgh, pgc
                 FROM parse),
       dec AS (SELECT doc_id, n,
                 CASE WHEN is_bmp AND wb > 0 AND habs > 0
                        AND bpp IN (8, 24, 32) THEN wb
                      WHEN p_ok THEN pw
                      WHEN png_ok THEN pgw ELSE 0 END AS width,
                 CASE WHEN is_bmp AND wb > 0 AND habs > 0
                        AND bpp IN (8, 24, 32) THEN habs
                      WHEN p_ok THEN ph
                      WHEN png_ok THEN pgh ELSE 0 END AS height,
                 CASE WHEN is_bmp AND wb > 0 AND habs > 0
                        AND bpp IN (8, 24, 32) THEN bpp // 8
                      WHEN png_ok THEN
                        (CASE pgc WHEN 0 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 1
                                  WHEN 4 THEN 2 ELSE 4 END)
                      WHEN p_ok THEN
                        (CASE WHEN magic2 = '36' THEN 3 ELSE 1 END)
                      ELSE 0 END AS channels
               FROM flags)"""
  }

  // --- generated DuckDB expression builders mirroring graft.functions ---

  /** DuckDB twin of [[graft.functions.md5Bits16]] (same instr arithmetic). */
  private def md5b16Sql(x: String): String = {
    val nibs = (1 to 4).map(k =>
      s"(instr('0123456789abcdef', substring(md5($x), $k, 1)) - 1)")
    s"(${nibs(0)} * 4096 + ${nibs(1)} * 256 + ${nibs(2)} * 16 + ${nibs(3)})"
  }

  /** DuckDB twin of [[graft.expressions.TextKernel.hash60]] /
    * Spark `conv(substring(md5(x),1,15),16,10)`: the first 15 hex
    * nibbles of an md5 HEX STRING as a 60-bit integer. Takes the hex
    * expression (compute `md5(...)` once in an enclosing projection —
    * this helper references it 15 times). */
  private def md5b60Sql(hexExpr: String): String =
    (0 until 15).map { j =>
      val p = java.math.BigInteger.valueOf(16L).pow(14 - j)
      s"(instr('0123456789abcdef', substring($hexExpr, ${j + 1}, 1)) - 1) * $p"
    }.mkString("(", " + ", ")")

  /** DuckDB twin of [[graft.functions.tokens]]. */
  private def toksSql(text: String): String =
    s"list_filter(regexp_split_to_array($text, '\\s+'), x -> x <> '')"

  /** Shared trained-NB CTE chain (DuckDB): md5-bucket train/test
    * split, per-class add-one token counts, and the micro-nat score
    * `prior + Σ k·qln(n_cw+1) − n_tokens·qln(N_c+V)` — leaf-quantized
    * exactly as [[graft.operators.CorpusFilters.nbClassifyAgainst]]
    * has it, arg-max with the same (score desc, class asc) tie-break.
    * Interpolate after `WITH`; exposes `nb_out(doc_id, lang,
    * n_tokens, pred, score_micro, margin_micro)`. */
  private lazy val nbClassifySql: String = {
    val b = s"(${md5b16Sql("('split:' || CAST(doc_id AS VARCHAR))")} % 100)"
    def qln(x: String) = s"CAST(round(ln($x) * 1000000) AS BIGINT)"
    s"""nb_split AS (SELECT doc_id, lang, ${toksSql("text")} AS toks, $b AS bk
                     FROM documents),
       nb_model AS (SELECT lang AS pred, toks FROM nb_split WHERE bk < 80),
       nb_probe AS (SELECT doc_id, lang, toks FROM nb_split WHERE bk >= 90),
       nb_mt AS (SELECT pred, t.w AS w FROM nb_model, UNNEST(toks) AS t(w)),
       nb_cnt AS (SELECT pred, w, CAST(count(*) AS BIGINT) AS n_cw
                  FROM nb_mt GROUP BY pred, w),
       nb_voc AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM nb_cnt),
       nb_ctot AS (SELECT pred, CAST(sum(n_cw) AS BIGINT) AS nn_c
                   FROM nb_cnt GROUP BY pred),
       nb_pri AS (SELECT pred, CAST(count(*) AS BIGINT) AS n_docs
                  FROM nb_model GROUP BY pred),
       nb_tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM nb_model),
       nb_cc AS (SELECT c.pred,
           ${qln("p.n_docs")} - ${qln("t.n_total")} AS prior_micro,
           ${qln("c.nn_c + v.v")} AS den_micro
         FROM nb_ctot c JOIN nb_pri p USING (pred)
         CROSS JOIN nb_voc v CROSS JOIN nb_tot t),
       nb_pt AS (SELECT doc_id, t.w AS w, CAST(count(*) AS BIGINT) AS k
                 FROM nb_probe, UNNEST(toks) AS t(w) GROUP BY doc_id, t.w),
       nb_mch AS (SELECT pt.doc_id, c.pred,
             CAST(sum(pt.k * ${qln("c.n_cw + 1")}) AS BIGINT) AS num_micro
           FROM nb_pt pt JOIN nb_cnt c USING (w) GROUP BY pt.doc_id, c.pred),
       nb_base AS (SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens
                   FROM nb_probe),
       nb_sc AS (SELECT b.doc_id, b.lang, b.n_tokens, cc.pred,
             coalesce(m.num_micro, 0) + cc.prior_micro
               - b.n_tokens * cc.den_micro AS score_micro
           FROM nb_base b CROSS JOIN nb_cc cc
           LEFT JOIN nb_mch m ON m.doc_id = b.doc_id AND m.pred = cc.pred),
       nb_rk AS (SELECT doc_id, lang, n_tokens, pred, score_micro,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY score_micro DESC, pred ASC) AS rk,
             lead(score_micro, 1) OVER (PARTITION BY doc_id
               ORDER BY score_micro DESC, pred ASC) AS nxt
           FROM nb_sc),
       nb_out AS (SELECT doc_id, lang, n_tokens, pred,
             CAST(score_micro AS BIGINT) AS score_micro,
             CAST(score_micro - coalesce(nxt, score_micro) AS BIGINT)
               AS margin_micro
           FROM nb_rk WHERE rk = 1)"""
  }

  /** Shared random-projection CTE chain (DuckDB): micro-quantized
    * components, ±1 signs re-derived per (i, j) from md5 (the oracle
    * does NOT share [[Similarity.rpSign]]'s literals — it recomputes
    * the matrix, certifying the plan-time bake), integer sums ordered
    * back into a list → `rp(vec_id, proj)`. Interpolate after `WITH`. */
  private lazy val rpProjectSql: String = {
    import Similarity._
    val sign = "(CASE WHEN instr('01234567', substring(md5('rp:' || " +
      "CAST(e.i - 1 AS VARCHAR) || ':' || CAST(oj.j AS VARCHAR)), 1, 1)) > 0 " +
      "THEN 1 ELSE -1 END)"
    val zeros = Seq.fill(RpOutDims)("CAST(0 AS BIGINT)").mkString("[", ", ", "]")
    // full off-fixture parity with graft.expressions.RpProject:
    // components past RpInDims are IGNORED (series capped by least),
    // NULL components contribute 0 (sum skips nulls; an all-null group
    // coalesces to 0), and a zero-length embedding still projects — to
    // the all-zero vector (left join back to rp_q)
    s"""rp_q AS (SELECT vec_id, list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
         FROM embeddings),
       rp_ex AS (SELECT vec_id, gs.i AS i, qv[gs.i] AS c
         FROM rp_q, UNNEST(generate_series(1, least(len(qv), $RpInDims)))
           AS gs(i)),
       rp_t AS (SELECT e.vec_id, oj.j AS j,
           CAST(coalesce(sum($sign * e.c), 0) AS BIGINT) AS p
         FROM rp_ex e, UNNEST(generate_series(0, ${RpOutDims - 1})) AS oj(j)
         GROUP BY e.vec_id, oj.j),
       rp_g AS (SELECT vec_id, list(p ORDER BY j) AS proj
                FROM rp_t GROUP BY vec_id),
       rp AS (SELECT q.vec_id,
           CASE WHEN q.qv IS NULL THEN NULL
                ELSE coalesce(g.proj, $zeros) END AS proj
         FROM rp_q q LEFT JOIN rp_g g USING (vec_id))"""
  }

  /** Sign bands over the projected space (`rp` must be in scope) —
    * [[Similarity.RpBands]] bands of [[Similarity.PlanesPerBand]]. */
  private lazy val rpBandsSql: String = {
    import Similarity._
    (0 until RpBands).map { b =>
      val sig = (0 until PlanesPerBand).map(j =>
        s"(CASE WHEN proj[${b * PlanesPerBand + j + 1}] > 0 THEN ${1 << j} ELSE 0 END)")
        .mkString(" + ")
      s"SELECT vec_id, $b AS band, $sig AS sig FROM rp"
    }.mkString(" UNION ALL ")
  }

  /** Shared content-defined-chunking CTE chain (DuckDB): positional
    * token unnest, the salted 60-bit marker gate, the per-doc boundary
    * cumsum (marker ENDS its chunk — `1 PRECEDING` frame), and the
    * ordered `string_agg` re-assembly — leaf-for-leaf the
    * [[graft.operators.TrainPrep.cdcChunks]] plan. Interpolate after
    * `WITH`; exposes `cdc_out(doc_id, chunk_id, n_tokens, fp,
    * chunk_text)`. */
  private lazy val cdcChunksSql: String = {
    val d = TrainPrep.CdcDivisor
    s"""cdc_t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
       cdc_e AS (SELECT doc_id, toks[i] AS tok, i AS pos
                 FROM (SELECT doc_id, toks,
                         unnest(generate_series(1, len(toks))) AS i
                       FROM cdc_t)),
       cdc_h AS (SELECT doc_id, tok, pos, md5('cdc:' || tok) AS hx
                 FROM cdc_e),
       cdc_m AS (SELECT doc_id, tok, pos,
           CASE WHEN ${md5b60Sql("hx")} % $d = 0 THEN 1 ELSE 0 END AS m
         FROM cdc_h),
       cdc_c AS (SELECT doc_id, tok, pos,
           CAST(coalesce(sum(m) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS chunk_id
         FROM cdc_m),
       cdc_g AS (SELECT doc_id, chunk_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           string_agg(tok, ' ' ORDER BY pos) AS chunk_text
         FROM cdc_c GROUP BY doc_id, chunk_id),
       cdc_f AS (SELECT doc_id, chunk_id, n_tokens, chunk_text,
           md5('cdcfp:' || chunk_text) AS fx
         FROM cdc_g),
       cdc_out AS (SELECT doc_id, chunk_id, n_tokens,
           ${md5b60Sql("fx")} AS fp, chunk_text
         FROM cdc_f)"""
  }

  /** Shared trigram-language-ID CTE chain (DuckDB): the profile table
    * interpolated from the SAME micro-nat integers the Spark plan
    * embeds ([[graft.operators.TextStats.trigramProfile]] — one
    * computation, two engines), token → padded-trigram explode,
    * profile-intersection sum, argmax with ties to the first sorted
    * language → `lpred(doc_id, lang, predicted)`. Interpolate after
    * `WITH`. */
  private lazy val langIdNgramSql: String = {
    val langs = graft.operators.TextStats.trigramLangs
    val margin = graft.operators.TextStats.LangIdMarginMicroNat
    val cols = langs.map(l => s"s_$l").mkString(", ")
    val values = graft.operators.TextStats.trigramProfile.map {
      case (g, ss) => s"('${g.replace("'", "''")}', ${ss.mkString(", ")})"
    }.mkString(", ")
    // unpivot the per-language sums into (doc_id, lc, s) rows and rank:
    // rk 1 = the argmax (ties to the first sorted language — the Spark
    // fold's strict-> keeps the earlier language too), rk 2 = the
    // runner-up whose gap the abstain margin tests
    val unpivot = langs.map(l =>
      s"SELECT doc_id, '$l' AS lc, s_$l AS s FROM lsum").mkString(" UNION ALL ")
    s"""prof(gram, $cols) AS (VALUES $values),
       ltok AS (SELECT doc_id, unnest(${toksSql("lower(text)")}) AS w
                FROM documents),
       lwc AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cw
               FROM ltok GROUP BY doc_id, w),
       lw AS (SELECT DISTINCT w FROM lwc),
       lgramw AS (SELECT w, substring(' ' || w || ' ', i, 3) AS gram
                  FROM (SELECT w, unnest(generate_series(1, length(w))) AS i
                        FROM lw)),
       lws AS (SELECT lgramw.w,
               ${langs.map(l =>
                 s"CAST(sum(prof.s_$l) AS BIGINT) AS s_$l").mkString(", ")}
               FROM lgramw JOIN prof USING (gram) GROUP BY lgramw.w),
       lsum AS MATERIALIZED (SELECT lwc.doc_id,
                ${langs.map(l =>
                  s"CAST(sum(lws.s_$l * lwc.cw) AS BIGINT) AS s_$l")
                  .mkString(", ")}
                FROM lwc JOIN lws USING (w) GROUP BY lwc.doc_id),
       lrank AS MATERIALIZED (SELECT doc_id, lc, s,
                row_number() OVER (PARTITION BY doc_id
                  ORDER BY s DESC, lc) AS rk
                FROM ($unpivot)),
       ltop AS (SELECT a.doc_id, a.lc AS l1, a.s AS s1, b.s AS s2
                FROM lrank a JOIN lrank b
                  ON a.doc_id = b.doc_id AND a.rk = 1 AND b.rk = 2),
       lpred AS (SELECT d.doc_id, d.lang,
           CASE WHEN t.doc_id IS NULL THEN 'und'
                WHEN t.s1 - t.s2 < $margin THEN 'und'
                ELSE t.l1 END AS predicted
         FROM documents d LEFT JOIN ltop t ON d.doc_id = t.doc_id)"""
  }

  /** Shared two-level IVF assignment CTE chain (DuckDB): auto-sized
    * fine params from count(*), coarse params from the fine count via
    * the identical ⌈√·⌉/floor-div arithmetic, RANK-stride centroid
    * selection (the twin of
    * [[graft.operators.Similarity.centroidsByRank]] — `row_number()
    * over (order by vec_id) − 1`, so sparse/offset/re-keyed id spaces
    * select the same ⌈√n⌉ centroids both engines; on the dense fixture
    * rank == vec_id and the chain replays the r16 selection
    * unchanged), fine→coarse map, coarse assignment, refine — →
    * `a(vec_id, embedding, cell)`, the twin of
    * [[graft.operators.Similarity.ivfCellsTwoLevel]]. Every rank
    * carries the (dist DESC, id ASC) tie-break, so the deterministic
    * approximation replays exactly. Interpolate after `WITH`. */
  private def twoLevelStructSql(src: String): String =
    s"""p AS (SELECT
             greatest(1, CAST(count(*) AS BIGINT) //
               greatest(1, CAST(ceil(sqrt(count(*))) AS BIGINT))) AS stride,
             greatest(1, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS cnum
           FROM $src),
         p2 AS (SELECT
             stride * greatest(1, cnum //
               greatest(1, CAST(ceil(sqrt(CAST(cnum AS DOUBLE))) AS BIGINT))) AS span,
             greatest(1, CAST(ceil(sqrt(CAST(cnum AS DOUBLE))) AS BIGINT)) AS gnum
           FROM p),
         tl_rnk AS MATERIALIZED (SELECT vec_id, embedding,
               row_number() OVER (ORDER BY vec_id) - 1 AS vrk
             FROM $src),
         fine AS MATERIALIZED (SELECT vec_id AS centroid_id, embedding AS cv
               FROM tl_rnk, p
               WHERE vrk % p.stride = 0 AND vrk < p.stride * p.cnum),
         coarse AS MATERIALIZED (SELECT vec_id AS coarse_id, embedding AS gv
               FROM tl_rnk, p2
               WHERE vrk % p2.span = 0 AND vrk < p2.span * p2.gnum),
         fmap AS MATERIALIZED (SELECT coarse_id, centroid_id, cv FROM (
                 SELECT f.centroid_id, f.cv, g.coarse_id,
                   row_number() OVER (PARTITION BY f.centroid_id
                     ORDER BY ${cosineSql("f.cv", "g.gv")} DESC, g.coarse_id) AS grk
                 FROM fine f CROSS JOIN coarse g)
               WHERE grk = 1)"""

  /** The placement half: assign `vecSrc`'s (vec_id, embedding) rows to
    * the structures' cells → `$out(vec_id, embedding, cell)`. */
  private def twoLevelAssignSql(vecSrc: String, vg: String,
                                out: String): String =
    s"""$vg AS (SELECT vec_id, embedding, coarse_id FROM (
                 SELECT e.vec_id, e.embedding, g.coarse_id,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY ${cosineSql("e.embedding", "g.gv")} DESC, g.coarse_id) AS grk
                 FROM $vecSrc e CROSS JOIN coarse g)
               WHERE grk = 1),
         $out AS MATERIALIZED (SELECT vec_id, embedding, centroid_id AS cell FROM (
                 SELECT v.vec_id, v.embedding, f.centroid_id,
                   row_number() OVER (PARTITION BY v.vec_id
                     ORDER BY ${cosineSql("v.embedding", "f.cv")} DESC, f.centroid_id) AS rk
                 FROM $vg v JOIN fmap f ON v.coarse_id = f.coarse_id)
               WHERE rk = 1)"""

  private lazy val twoLevelCellsSql: String =
    s"""${twoLevelStructSql("embeddings")},
        ${twoLevelAssignSql("embeddings", "vg", "a")}"""

  /** Shared winnowing-selection CTE chain (DuckDB): grams → md5-prefix
    * 60-bit hash → fixed-width sortable key → per-w-window min →
    * `sel(doc_id, fp)`, the distinct selected fingerprints — the twin
    * of [[graft.operators.TextDedup.winnowFingerprints]] minus the
    * position column. Interpolate after `WITH`. */
  private lazy val winnowSelSql: String = {
    val k = graft.operators.TextDedup.WinnowK
    val w = graft.operators.TextDedup.WinnowW
    val nib60 = (0 until 15).map { j =>
      val p = java.math.BigInteger.valueOf(16L).pow(14 - j)
      s"(instr('0123456789abcdef', substring(h, ${j + 1}, 1)) - 1) * $p"
    }.mkString(" + ")
    s"""t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
       s AS (SELECT doc_id, toks,
               unnest(generate_series(0, len(toks) - $k)) AS pos
             FROM t),
       g0 AS (SELECT doc_id, pos,
               md5(array_to_string(list_slice(toks, pos + 1, pos + $k), ' ')) AS h
             FROM s),
       g AS (SELECT doc_id, pos,
               printf('%015x', $nib60) || lpad(CAST(pos AS VARCHAR), 10, '0') AS key
             FROM g0),
       wm AS (SELECT doc_id, pos,
               min(key) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS wmin,
               count(*) OVER (PARTITION BY doc_id) AS n
             FROM g),
       sel AS (SELECT DISTINCT doc_id, substring(wmin, 1, 15) AS fp
               FROM wm WHERE pos <= greatest(n - $w, 0))"""
  }

  /** Probe-vs-standing winnow overlap (shared by the direct and the
    * landed-index spellings — persistence is answer-invariant).
    * `standingExtra` narrows the standing side (the delete-lifecycle
    * twin's survivor filter — applied BEFORE the hot-fp cap, the
    * survivor-exact mask contract). */
  private def winnowProbeOracleWhere(standingExtra: String): String = {
    val m = graft.operators.TextDedup.IncrementMod
    val cap = graft.operators.TextDedup.WinnowPairCap
    val minShared = graft.operators.TextDedup.MinSharedFp
    s"""WITH $winnowSelSql,
       ssel AS (SELECT * FROM sel WHERE doc_id % $m <> 0$standingExtra),
       psel AS (SELECT * FROM sel WHERE doc_id % $m = 0),
       small AS (SELECT fp FROM ssel GROUP BY fp HAVING count(*) <= $cap),
       skept AS (SELECT ssel.doc_id, ssel.fp FROM ssel
                 JOIN small ON ssel.fp = small.fp)
       SELECT p.doc_id AS probe_id, s.doc_id AS index_id,
         CAST(count(*) AS BIGINT) AS n_shared
       FROM psel p JOIN skept s ON p.fp = s.fp
       GROUP BY 1, 2 HAVING count(*) >= $minShared
       ORDER BY probe_id, index_id"""
  }

  private lazy val winnowProbeOracle: String = winnowProbeOracleWhere("")

  /** Winnow delete-lifecycle twin: the probe overlap with the takedown
    * slice excluded from the standing side. */
  private lazy val winnowDeletedOracle: String = winnowProbeOracleWhere(
    s" AND NOT (doc_id % ${graft.operators.TextDedup.WinnowDeleteMod}" +
      s" = ${graft.operators.TextDedup.WinnowDeleteRem})")

  /** Shared MMR CTE chain (DuckDB): relevance pool → pool-pairwise
    * sims → the greedy rounds unrolled (`sel_r` the picked set, `m_r`
    * max-sim to it, `s_r` the round's argmax) → `mmr(query_id, vec_id,
    * mmr_rank, rel)`. Weights are the SAME Scala double literals the
    * Spark plan uses (see [[graft.operators.Similarity.MmrLambda]]).
    * Interpolate after `WITH`. */
  private lazy val mmrCtesSql: String = {
    val lam = Similarity.MmrLambda
    val comp = Similarity.MmrLambdaComp
    val poolK = Similarity.MmrPoolK
    val outK = Similarity.MmrOutK
    val rounds = (2 to outK).map { r =>
      s"""m$r AS (SELECT sim.query_id, sim.a AS vec_id, max(sim.s) AS max_sim
           FROM sim JOIN sel${r - 1} sl
             ON sim.query_id = sl.query_id AND sim.b = sl.vec_id
           GROUP BY 1, 2),
         c$r AS (SELECT p.query_id, p.vec_id, p.rel,
               $lam * p.rel - $comp * m.max_sim AS score
             FROM pool p JOIN m$r m
               ON p.query_id = m.query_id AND p.vec_id = m.vec_id
             WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} s
               WHERE s.query_id = p.query_id AND s.vec_id = p.vec_id)),
         s$r AS (SELECT query_id, vec_id, CAST($r AS BIGINT) AS mmr_rank, rel
             FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, vec_id) AS rr FROM c$r) z
             WHERE rr = 1),
         sel$r AS (SELECT query_id, vec_id FROM sel${r - 1}
             UNION ALL SELECT query_id, vec_id FROM s$r)"""
    }.mkString(",\n")
    val unions = (2 to outK)
      .map(r => s"SELECT * FROM s$r").mkString(" UNION ALL ")
    s"""q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE $isQuerySql),
       scored AS (
         SELECT q.query_id, e.vec_id,
           ${cosineSql("q.qv", "e.embedding")} AS rel, e.embedding
         FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
       pool AS (SELECT query_id, vec_id, rel, embedding FROM
           (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY rel DESC, vec_id) AS prk FROM scored) z
         WHERE prk <= $poolK),
       sim AS (SELECT p1.query_id, p1.vec_id AS a, p2.vec_id AS b,
           ${cosineSql("p1.embedding", "p2.embedding")} AS s
         FROM pool p1 JOIN pool p2
           ON p1.query_id = p2.query_id AND p1.vec_id <> p2.vec_id),
       s1 AS (SELECT query_id, vec_id, CAST(1 AS BIGINT) AS mmr_rank, rel
           FROM (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY rel DESC, vec_id) AS prk FROM pool) z
           WHERE prk = 1),
       sel1 AS (SELECT query_id, vec_id FROM s1),
       $rounds,
       mmr AS (SELECT * FROM s1 UNION ALL $unions)"""
  }

  /** DuckDB twin of [[graft.functions.shingles]] (distinct set). */
  private def shinglesSql(n: Int): String = {
    val hi = n - 1
    s"list_distinct([array_to_string(toks[i:i+$hi], ' ') for i in range(1, len(toks) - ${hi - 1})])"
  }

  /** Left-fold with init via list_prepend + list_reduce. */
  private def foldSql(list: String, init: String, lambda: String): String =
    s"list_reduce(list_prepend($init, $list), $lambda)"

  private def dotSql(a: String, b: String): String =
    foldSql(s"list_transform($a, (x, i) -> CAST(x AS DOUBLE) * CAST($b[i] AS DOUBLE))",
      "CAST(0 AS DOUBLE)", "(acc, x) -> acc + x")
  private def normSql(a: String): String =
    s"sqrt(${foldSql(s"list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))",
      "CAST(0 AS DOUBLE)", "(acc, x) -> acc + x")})"
  private def cosineSql(q: String, e: String): String =
    s"${dotSql(q, e)} / (${normSql(q)} * ${normSql(e)})"

  /** The PQ SCAFFOLD (DuckDB): corpus count, training stride, rank
    * frame, rank-stride training rows, the STRIDE codebook as
    * `pq_cb0`, and the per-(vec, subspace) micro sub-vectors `pq_x`.
    * A chain then defines `pq_cb` (verbatim pq_cb0, or the Lloyd
    * refinement) and appends [[pqAfterCbSql]]. */
  private lazy val pqScaffoldSql: String = {
    import Similarity._
    s"""pq_n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
       pq_kp AS (SELECT greatest(1, least($PqK, n)) AS kk,
           greatest(1, n // greatest(1, least($PqK, n))) AS stride FROM pq_n),
       pq_rnk AS (SELECT vec_id, embedding,
           row_number() OVER (ORDER BY vec_id) - 1 AS vrk FROM embeddings),
       pq_train AS (SELECT vec_id, embedding FROM pq_rnk, pq_kp
           WHERE vrk % stride = 0 AND vrk < stride * kk),
       pq_cw0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
           embedding FROM pq_train),
       pq_cb0 AS MATERIALIZED (SELECT CAST(ms.m AS BIGINT) AS m, j,
           list_transform(list_slice(embedding, ms.m * $PqSubDim + 1,
             ms.m * $PqSubDim + $PqSubDim), x -> ${pqMicroSql("x")}) AS cw
         FROM pq_cw0, UNNEST(generate_series(0, ${PqM - 1})) AS ms(m)),
       pq_x AS MATERIALIZED (SELECT vec_id, CAST(ms.m AS BIGINT) AS m,
           list_transform(list_slice(embedding, ms.m * $PqSubDim + 1,
             ms.m * $PqSubDim + $PqSubDim), x -> ${pqMicroSql("x")}) AS xq
         FROM embeddings, UNNEST(generate_series(0, ${PqM - 1})) AS ms(m))"""
  }

  private def pqMicroSql(x: String): String =
    s"CAST(floor(CAST($x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)"

  /** The encode/LUT/norms CTEs downstream of a defined codebook CTE
    * `$cb`: exact L2² encode (unrolled integer sums), the per-query
    * ADC lookup table and query norms — ends with
    * `${p}_code`/`${p}_lut`/`${p}_qn`; [[pqTailSqlP]] finishes the
    * chain. The prefix lets TWO codebook chains (stride vs learned)
    * coexist in one statement over the shared `pq_x`. */
  private def pqAfterCbSqlP(p: String, cb: String): String = {
    import Similarity._
    val l2 = (1 to PqSubDim).map(d =>
      s"(x.xq[$d] - c.cw[$d]) * (x.xq[$d] - c.cw[$d])").mkString(" + ")
    val dotp = (1 to PqSubDim).map(d => s"q.qq[$d] * c.cw[$d]").mkString(" + ")
    val cwn2 = (1 to PqSubDim).map(d => s"c.cw[$d] * c.cw[$d]").mkString(" + ")
    val qqn2 = (1 to PqSubDim).map(d => s"qq[$d] * qq[$d]").mkString(" + ")
    s"""${p}_d AS (SELECT x.vec_id, x.m, c.j, $l2 AS dist
         FROM pq_x x JOIN $cb c ON x.m = c.m),
       ${p}_code AS (SELECT vec_id, m, j FROM (
           SELECT vec_id, m, j, row_number() OVER (PARTITION BY vec_id, m
             ORDER BY dist ASC NULLS LAST, j ASC) AS rk FROM ${p}_d)
         WHERE rk = 1),
       ${p}_qs AS MATERIALIZED (SELECT vec_id AS query_id, CAST(ms.m AS BIGINT) AS m,
           list_transform(list_slice(embedding, ms.m * $PqSubDim + 1,
             ms.m * $PqSubDim + $PqSubDim), x -> ${pqMicroSql("x")}) AS qq
         FROM embeddings, UNNEST(generate_series(0, ${PqM - 1})) AS ms(m)
         WHERE $isQuerySql),
       ${p}_lut AS (SELECT q.query_id, q.m, c.j,
           CAST($dotp AS BIGINT) AS dotp, CAST($cwn2 AS BIGINT) AS cwn2
         FROM ${p}_qs q JOIN $cb c ON q.m = c.m),
       ${p}_qn AS (SELECT query_id, CAST(sum($qqn2) AS BIGINT) AS qn2
         FROM ${p}_qs GROUP BY query_id)"""
  }

  private lazy val pqAfterCbSql: String = pqAfterCbSqlP("pq", "pq_cb")

  /** Shared PQ BASE CTEs — the stride-codebook chain: scaffold,
    * `pq_cb` = the stride codebook verbatim, encode/LUT/norms. */
  private lazy val pqBaseSql: String =
    s"""$pqScaffoldSql,
       pq_cb AS (SELECT m, j, cw FROM pq_cb0),
       $pqAfterCbSql"""

  /** The ADC/shortlist/re-rank tail over [[pqBaseSql]]'s frames —
    * unrestricted (brute ADC over every code) when `cand` is None,
    * or restricted to a `(query_id, vec_id)` candidate CTE (the
    * IVF-PQ composition). Interpolate after pqBaseSql + ",". */
  private def pqTailSql(cand: Option[String]): String =
    pqTailSqlP("pq", cand)

  /** Prefix-parameterized [[pqTailSql]] — reads `${p}_code`/`${p}_lut`/
    * `${p}_qn` and ends with `${p}_ranked`. */
  private def pqTailSqlP(p: String, cand: Option[String],
                         scExtra: String = ""): String = {
    import Similarity.PqShortlist
    val adcFrom = cand match {
      case Some(c) =>
        s"""FROM $c cd
         JOIN ${p}_code v ON v.vec_id = cd.vec_id
         JOIN ${p}_lut l ON l.query_id = cd.query_id
           AND l.m = v.m AND l.j = v.j
         GROUP BY cd.query_id, cd.vec_id"""
      case None =>
        s"""FROM ${p}_code v JOIN ${p}_lut l ON v.m = l.m AND v.j = l.j
         GROUP BY l.query_id, v.vec_id"""
    }
    val (qid, vid) = cand.fold(("l.query_id", "v.vec_id"))(_ =>
      ("cd.query_id", "cd.vec_id"))
    s"""${p}_adc AS (SELECT $qid AS query_id, $vid AS vec_id,
           CAST(sum(l.dotp) AS BIGINT) AS num,
           CAST(sum(l.cwn2) AS BIGINT) AS nsq
         $adcFrom),
       ${p}_sc AS (SELECT a.query_id, a.vec_id,
           CASE WHEN a.nsq = 0 OR n.qn2 = 0 THEN 0.0
                ELSE CAST(a.num AS DOUBLE)
                  / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(n.qn2 AS DOUBLE)))
           END AS adc
         FROM ${p}_adc a JOIN ${p}_qn n ON a.query_id = n.query_id
         WHERE a.vec_id <> a.query_id$scExtra),
       ${p}_short AS (SELECT query_id, vec_id FROM (
           SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
             ORDER BY adc DESC, vec_id) AS srk FROM ${p}_sc)
         WHERE srk <= $PqShortlist),
       ${p}_rr AS (SELECT s.query_id, s.vec_id,
           ${cosineSql("qe.embedding", "e.embedding")} AS cosine
         FROM ${p}_short s
         JOIN embeddings e ON e.vec_id = s.vec_id
         JOIN embeddings qe ON qe.vec_id = s.query_id),
       ${p}_ranked AS (SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, vec_id) AS rk, cosine
         FROM ${p}_rr)"""
  }

  /** The full unrestricted (brute-ADC) PQ chain — the twin of
    * [[graft.operators.Similarity.pqTopK]]; ends with
    * `pq_ranked(query_id, vec_id, rk, cosine)`. */
  private lazy val pqChainSql: String =
    s"$pqBaseSql,\n       ${pqTailSql(None)}"

  /** Plain-PQ delete-lifecycle twin: the brute-ADC chain with the
    * tombstoned slice excluded from the scored candidates (codebook
    * keeps full-corpus training — frozen until rebuild). */
  private lazy val pqDeletedOracle: String =
    s"""WITH $pqBaseSql,
       ${pqTailSqlP("pq", None,
        s" AND NOT (a.vec_id % ${Similarity.IvfDeleteMod}" +
          s" = ${Similarity.IvfDeleteRem})")}
       SELECT query_id, vec_id, rk, cosine FROM pq_ranked WHERE rk <= 3
       ORDER BY query_id, rk"""

  /** LEARNED-codebook PQ chain ([[graft.operators.Similarity
    * .pqTopKLloyd]]): the [[Similarity.PqLloydIters]] Lloyd rounds
    * unrolled — per round, the exact integer L2² assignment (the same
    * argmin CTEs as the encode) and the INTEGER-mean update
    * floor(Σ/n) spelled (s − ((s % n) + n) % n) // n, the DuckDB twin
    * of Spark's (s − pmod(s, n)) div n. Everything integer, so the
    * learned codebook hash-certifies — unlike float k-means. */
  private lazy val pqLloydOracle: String =
    s"""WITH $pqScaffoldSql,
       $pqLloydCtes,
       pq_cb AS (SELECT m, j, cw FROM lcb_${Similarity.PqLloydIters}),
       $pqAfterCbSql,
       ${pqTailSql(None)}
       SELECT query_id, vec_id, rk, cosine FROM pq_ranked WHERE rk <= 3
       ORDER BY query_id, rk"""

  /** The unrolled Lloyd-round CTEs (assignment argmin + integer-mean
    * update per round) from `pq_cb0`/`pq_x` to `lcb_<iters>`. */
  private lazy val pqLloydCtes: String = lloydCtesSql("pq_x", "pq_cb0", "l")

  /** Parameterized Lloyd unroll — the DuckDB twin of
    * [[graft.operators.Similarity]]'s `lloydRounds`: per round, the
    * exact integer L2² assignment over `$xCte`'s (vec_id, m, xq)
    * sub-vectors (extra columns ignored) and the integer-mean update
    * floor(Σ/n) = (s − ((s % n) + n) % n) // n, from seed `$seedCte`
    * to `${p}cb_<PqLloydIters>`. The raw chain passes the corpus
    * sub-vectors; the residual chain passes the residual
    * sub-vectors. */
  private def lloydCtesSql(xCte: String, seedCte: String,
                           p: String): String = {
    import Similarity._
    val l2 = (1 to PqSubDim).map(d =>
      s"(x.xq[$d] - c.cw[$d]) * (x.xq[$d] - c.cw[$d])").mkString(" + ")
    val iterCtes = (0 until PqLloydIters).map { i =>
      val prev = if (i == 0) seedCte else s"${p}cb_$i"
      s"""${p}d_$i AS (SELECT x.vec_id, x.m, c.j, $l2 AS dist
           FROM $xCte x JOIN $prev c ON x.m = c.m),
         ${p}code_$i AS MATERIALIZED (SELECT vec_id, m, j FROM (
             SELECT vec_id, m, j, row_number() OVER (PARTITION BY vec_id, m
               ORDER BY dist ASC NULLS LAST, j ASC) AS rk FROM ${p}d_$i)
           WHERE rk = 1),
         ${p}flat_$i AS (SELECT c.m, c.j, CAST(ds.d AS BIGINT) AS dim,
             x.xq[ds.d + 1] AS v
           FROM ${p}code_$i c
           JOIN $xCte x ON x.vec_id = c.vec_id AND x.m = c.m,
           UNNEST(generate_series(0, ${PqSubDim - 1})) AS ds(d)),
         ${p}mean_$i AS (SELECT m, j, dim,
             CAST((sum(v) - ((sum(v) % count(*)) + count(*)) % count(*))
               // count(*) AS BIGINT) AS cwd
           FROM ${p}flat_$i GROUP BY m, j, dim),
         ${p}cb_${i + 1} AS MATERIALIZED (SELECT m, j,
             list_transform(list_sort(list({'dim': dim, 'cwd': cwd})),
               s -> s.cwd) AS cw
           FROM ${p}mean_$i GROUP BY m, j)"""
    }.mkString(",\n       ")
    iterCtes
  }

  /** Parameterized SPHERICAL Lloyd unroll — the DuckDB twin of
    * [[graft.operators.Similarity]]'s `sphericalUpdate`: the same
    * exact integer L2² assignment and integer-mean update, plus the
    * norm-restoring rescale — each mean codeword scaled to its
    * cluster's RMS member norm via the one deterministic-double leaf
    * floor(cwd · √(msq/mn2) + ½). Member squared-norm sums ride
    * DuckDB's exact HUGEINT SUM (the Spark side's decimal(38,0));
    * msq = Σ‖x‖² // n_members floors identically (both sides
    * non-negative). */
  private def lloydSphericalCtesSql(xCte: String, seedCte: String,
                                    p: String): String = {
    import Similarity._
    val l2 = (1 to PqSubDim).map(d =>
      s"(x.xq[$d] - c.cw[$d]) * (x.xq[$d] - c.cw[$d])").mkString(" + ")
    (0 until PqLloydIters).map { i =>
      val prev = if (i == 0) seedCte else s"${p}cb_$i"
      s"""${p}d_$i AS (SELECT x.vec_id, x.m, c.j, $l2 AS dist
           FROM $xCte x JOIN $prev c ON x.m = c.m),
         ${p}code_$i AS MATERIALIZED (SELECT vec_id, m, j FROM (
             SELECT vec_id, m, j, row_number() OVER (PARTITION BY vec_id, m
               ORDER BY dist ASC NULLS LAST, j ASC) AS rk FROM ${p}d_$i)
           WHERE rk = 1),
         ${p}flat_$i AS (SELECT c.m, c.j, CAST(ds.d AS BIGINT) AS dim,
             x.xq[ds.d + 1] AS v
           FROM ${p}code_$i c
           JOIN $xCte x ON x.vec_id = c.vec_id AND x.m = c.m,
           UNNEST(generate_series(0, ${PqSubDim - 1})) AS ds(d)),
         ${p}stat_$i AS (SELECT m, j, dim,
             CAST((sum(v) - ((sum(v) % count(*)) + count(*)) % count(*))
               // count(*) AS BIGINT) AS cwd,
             sum(v * v) AS sq, count(*) AS c
           FROM ${p}flat_$i GROUP BY m, j, dim),
         ${p}norm_$i AS (SELECT m, j,
             list_transform(list_sort(list({'dim': dim, 'cwd': cwd})),
               s -> s.cwd) AS mw,
             CAST(sum(sq) // max(c) AS BIGINT) AS msq
           FROM ${p}stat_$i GROUP BY m, j),
         ${p}cb_${i + 1} AS MATERIALIZED (SELECT m, j,
             CASE WHEN mn2 > 0 AND msq > 0 THEN
               list_transform(mw, x -> CAST(floor(CAST(x AS DOUBLE)
                 * sqrt(CAST(msq AS DOUBLE) / CAST(mn2 AS DOUBLE))
                 + 0.5) AS BIGINT))
             ELSE mw END AS cw
           FROM (SELECT m, j, mw, msq,
               list_aggregate(list_transform(mw, x -> x * x), 'sum') AS mn2
             FROM ${p}norm_$i))"""
    }.mkString(",\n       ")
  }

  /** Spherical-Lloyd residual IVF-PQ twin ([[graft.operators
    * .Similarity.ivfPqResidualTopKSpherical]]): the Lloyd oracle with
    * the norm-restoring rounds swapped in. */
  private lazy val ivfPqSphericalOracle: String =
    s"""WITH $twoLevelCellsSql,
       $ivfPqQCellSql,
       $ivfPqCandSql,
       $ivfPqResidualScaffoldSql,
       ${lloydSphericalCtesSql("res_x", "res_cb", "rs")},
       ${ivfPqResidualTailSql("rsq", s"rscb_${Similarity.PqLloydIters}")}
       SELECT query_id, vec_id, rk, cosine FROM rsq_ranked WHERE rk <= 3
       ORDER BY query_id, rk"""

  /** Recall@3 of the STRIDE vs the LEARNED (integer-mean Lloyd) PQ
    * codebook against brute force, per query — both chains share the
    * corpus sub-vectors (`pq_x`) and differ ONLY in the codebook, so
    * the columns isolate what training buys. Deterministic end to
    * end; the fractions hash-certify. */
  private lazy val pqCodebookRecallOracle: String =
    s"""WITH $pqScaffoldSql,
       pq_cb AS (SELECT m, j, cw FROM pq_cb0),
       $pqAfterCbSql,
       ${pqTailSql(None)},
       $pqLloydCtes,
       ${pqAfterCbSqlP("lq", s"lcb_${Similarity.PqLloydIters}")},
       ${pqTailSqlP("lq", None)},
       cqx AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE $isQuerySql),
       cscored AS (
         SELECT cqx.query_id, e.vec_id,
           ${cosineSql("cqx.qv", "e.embedding")} AS cosine
         FROM embeddings e CROSS JOIN cqx WHERE e.vec_id <> cqx.query_id),
       cranked AS (
         SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, vec_id) AS rk
         FROM cscored),
       cex AS (SELECT query_id, vec_id FROM cranked WHERE rk <= 3),
       hstride AS (SELECT e.query_id, CAST(count(*) AS BIGINT) AS n
                   FROM cex e
                   JOIN (SELECT query_id, vec_id FROM pq_ranked WHERE rk <= 3) p
                     ON e.query_id = p.query_id AND e.vec_id = p.vec_id
                   GROUP BY e.query_id),
       hlloyd AS (SELECT e.query_id, CAST(count(*) AS BIGINT) AS n
                  FROM cex e
                  JOIN (SELECT query_id, vec_id FROM lq_ranked WHERE rk <= 3) l
                    ON e.query_id = l.query_id AND e.vec_id = l.vec_id
                  GROUP BY e.query_id)
       SELECT q.query_id,
         coalesce(hstride.n, 0) AS n_hit_stride,
         coalesce(hlloyd.n, 0) AS n_hit_lloyd,
         CAST(coalesce(hstride.n, 0) AS DOUBLE) / 3 AS recall_stride,
         CAST(coalesce(hlloyd.n, 0) AS DOUBLE) / 3 AS recall_lloyd
       FROM cqx q
       LEFT JOIN hstride ON q.query_id = hstride.query_id
       LEFT JOIN hlloyd ON q.query_id = hlloyd.query_id
       ORDER BY q.query_id"""

  /** The query-side probed-cell CTEs of the IVF-PQ composites (coarse
    * rank-1, fine rank ≤ nprobe=2) over [[twoLevelCellsSql]]'s
    * structures — ends with `pq_qcell(query_id, cell)`. */
  private lazy val ivfPqQCellSql: String = ivfPqQCellSqlAt("pq", 2)

  /** Prefix/nprobe-parameterized probed-cell CTEs — the curve oracle
    * instantiates one chain per nprobe over the shared structures. */
  private def ivfPqQCellSqlAt(p: String, nprobe: Int): String =
    s"""${p}_vgq AS (SELECT vec_id, embedding, coarse_id FROM (
             SELECT e.vec_id, e.embedding, g.coarse_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY ${cosineSql("e.embedding", "g.gv")} DESC,
                   g.coarse_id) AS grk
             FROM (SELECT vec_id, embedding FROM embeddings
                   WHERE $isQuerySql) e
             CROSS JOIN coarse g) WHERE grk = 1),
         ${p}_qcell AS MATERIALIZED (SELECT vec_id AS query_id, centroid_id AS cell FROM (
             SELECT v.vec_id, f.centroid_id,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY ${cosineSql("v.embedding", "f.cv")} DESC,
                   f.centroid_id) AS rk
             FROM ${p}_vgq v JOIN fmap f ON v.coarse_id = f.coarse_id)
           WHERE rk <= $nprobe)"""

  /** Residual IVF-PQ twin ([[graft.operators.Similarity
    * .ivfPqResidualTopK]]): two-level cells, per-(vec, subspace)
    * micro-int RESIDUALS against the vector's own cell centroid, a
    * residual codebook over the same rank-stride training ids, exact
    * integer encode, the per-(query, probed cell) effective-codeword
    * LUT (cs + cw), ADC, shortlist, exact re-rank. Everything below
    * the one float→micro quantization is integer arithmetic, so the
    * residual form hash-certifies exactly like the raw one. */
  /** The residual CTE block — everything from the decode table through
    * `res_ranked(query_id, vec_id, rk, cosine)`; assumes
    * [[twoLevelCellsSql]] + [[ivfPqQCellSql]] + a 3-column
    * `pq_cand(query_id, vec_id, cell)` precede it. Shared by the
    * residual oracle and the recall-comparison oracle. */
  private lazy val ivfPqResidualCtes: String =
    s"""$ivfPqResidualScaffoldSql,
       ${ivfPqResidualTailSql("res", "res_cb")}"""

  /** The residual SCAFFOLD — decode table, per-(vec, subspace)
    * micro-int residuals, the mid-stride seed codebook, query
    * sub-vectors + norms — everything codebook-independent, shared by
    * the mid-stride tail and the Lloyd-trained tail. */
  private lazy val ivfPqResidualScaffoldSql: String = {
    import Similarity._
    def micro(x: String) =
      s"CAST(floor(CAST($x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)"
    val qqn2 = (1 to PqSubDim).map(d => s"qq[$d] * qq[$d]").mkString(" + ")
    s"""-- per-cell micro sub-vectors of the fine centroids (the decode
       -- table: a code reconstructs to cs + cw)
       cell_sub AS MATERIALIZED (SELECT f.centroid_id AS cell, CAST(ms.m AS BIGINT) AS m,
           list_transform(list_slice(f.cv, ms.m * $PqSubDim + 1,
             ms.m * $PqSubDim + $PqSubDim), x -> ${micro("x")}) AS cs
         FROM fmap f, UNNEST(generate_series(0, ${PqM - 1})) AS ms(m)),
       -- per-(vec, subspace) micro-int residual against its own cell
       res_x AS MATERIALIZED (SELECT a.vec_id, a.cell, s.m,
           list_transform(list_slice(a.embedding,
               CAST(s.m * $PqSubDim + 1 AS INT),
               CAST(s.m * $PqSubDim + $PqSubDim AS INT)),
             (x, i) -> ${micro("x")} - s.cs[i]) AS xq
         FROM a JOIN cell_sub s ON a.cell = s.cell),
       -- residual codebook at the raw codebook's stride but a
       -- MID-STRIDE rank offset (offset-0 rows can coincide with the
       -- fine centroids, whose self-residuals are zero — see
       -- Similarity.ivfPqResidualTopK); rank == vec_id on the dense
       -- fixture
       res_n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
       res_kp AS (SELECT greatest(1, least($PqK, n)) AS kk,
           greatest(1, n // greatest(1, least($PqK, n))) AS stride,
           greatest(1, n // greatest(1, least($PqK, n))) // 2 AS off
         FROM res_n),
       res_train AS (SELECT vec_id,
           row_number() OVER (ORDER BY vec_id) - 1 AS j
         FROM tl_rnk, res_kp
         WHERE vrk % stride = off AND vrk < stride * kk + off),
       res_cb AS MATERIALIZED (SELECT r.m, t.j, r.xq AS cw
         FROM res_train t JOIN res_x r ON r.vec_id = t.vec_id),
       -- query micro sub-vectors + norms (queries are NOT residualized:
       -- ADC compares raw q against the reconstruction cs + cw)
       res_qs AS MATERIALIZED (SELECT vec_id AS query_id, CAST(ms.m AS BIGINT) AS m,
           list_transform(list_slice(embedding, ms.m * $PqSubDim + 1,
             ms.m * $PqSubDim + $PqSubDim), x -> ${micro("x")}) AS qq
         FROM embeddings, UNNEST(generate_series(0, ${PqM - 1})) AS ms(m)
         WHERE $isQuerySql),
       res_qn AS MATERIALIZED (SELECT query_id, CAST(sum($qqn2) AS BIGINT) AS qn2
         FROM res_qs GROUP BY query_id)"""
  }

  /** The residual encode/LUT/ADC/re-rank TAIL downstream of a defined
    * residual codebook CTE `$cb` — prefix-parameterized so the
    * mid-stride chain (`res_*` over `res_cb`) and the Lloyd-trained
    * chain (`rlq_*` over `rlcb_<iters>`) coexist in one statement over
    * the shared scaffold; ends with `${p}_ranked`. */
  private def ivfPqResidualTailSql(p: String, cb: String): String =
    s"""${ivfPqResidualEncodeSql(p, cb)},
       ${ivfPqResidualProbeSql(p, cb, s"${p}_code", "pq_qcell", "pq_cand")}"""

  /** The codebook-dependent, nprobe-INDEPENDENT encode half: exact
    * integer L2² argmin over the shared residual sub-vectors — ends
    * with `${p}_code`. Factored out so the nprobe-curve oracle's three
    * probe chains share ONE encode. */
  private def ivfPqResidualEncodeSql(p: String, cb: String,
                                     xCte: String = "res_x",
                                     materialized: Boolean = false): String = {
    import Similarity._
    val mat = if (materialized) " MATERIALIZED" else ""
    val l2 = (1 to PqSubDim).map(d =>
      s"(x.xq[$d] - c.cw[$d]) * (x.xq[$d] - c.cw[$d])").mkString(" + ")
    s"""-- exact integer L2² encode, ties -> smallest j
       ${p}_d AS (SELECT x.vec_id, x.cell, x.m, c.j, $l2 AS dist
         FROM $xCte x JOIN $cb c ON x.m = c.m),
       ${p}_code AS$mat (SELECT vec_id, cell, m, j FROM (
           SELECT vec_id, cell, m, j, row_number() OVER (
             PARTITION BY vec_id, m ORDER BY dist ASC NULLS LAST, j ASC) AS rk
           FROM ${p}_d)
         WHERE rk = 1)"""
  }

  /** The probe half downstream of an encode (`$codeCte`), a probed-cell
    * frame (`$qcell`) and a candidate frame (`$cand`) — LUT, ADC,
    * shortlist, exact re-rank; ends with `${p}_ranked`. */
  private def ivfPqResidualProbeSql(p: String, cb: String, codeCte: String,
                                    qcell: String, cand: String,
                                    qs: String = "res_qs",
                                    qn: String = "res_qn",
                                    cellSub: String = "cell_sub"): String = {
    import Similarity._
    val dotp = (1 to PqSubDim).map(d =>
      s"q.qq[$d] * (s.cs[$d] + c.cw[$d])").mkString(" + ")
    val cwn2 = (1 to PqSubDim).map(d =>
      s"(s.cs[$d] + c.cw[$d]) * (s.cs[$d] + c.cw[$d])").mkString(" + ")
    s"""-- the per-(query, probed cell) effective-codeword LUT
       ${p}_lut AS (SELECT qc.query_id, qc.cell, q.m, c.j,
           CAST($dotp AS BIGINT) AS dotp, CAST($cwn2 AS BIGINT) AS cwn2
         FROM $qcell qc
         JOIN $qs q ON q.query_id = qc.query_id
         JOIN $cellSub s ON s.cell = qc.cell AND s.m = q.m
         JOIN $cb c ON c.m = q.m),
       ${p}_adc AS (SELECT cd.query_id, cd.vec_id,
           CAST(sum(l.dotp) AS BIGINT) AS num,
           CAST(sum(l.cwn2) AS BIGINT) AS nsq
         FROM $cand cd
         JOIN $codeCte v ON v.vec_id = cd.vec_id AND v.cell = cd.cell
         JOIN ${p}_lut l ON l.query_id = cd.query_id AND l.cell = cd.cell
           AND l.m = v.m AND l.j = v.j
         GROUP BY cd.query_id, cd.vec_id),
       ${p}_sc AS (SELECT a.query_id, a.vec_id,
           CASE WHEN a.nsq = 0 OR n.qn2 = 0 THEN 0.0
                ELSE CAST(a.num AS DOUBLE)
                  / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(n.qn2 AS DOUBLE)))
           END AS adc
         FROM ${p}_adc a JOIN $qn n ON a.query_id = n.query_id
         WHERE a.vec_id <> a.query_id),
       ${p}_short AS (SELECT query_id, vec_id FROM (
           SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
             ORDER BY adc DESC, vec_id) AS srk FROM ${p}_sc)
         WHERE srk <= $PqShortlist),
       ${p}_rr AS (SELECT s.query_id, s.vec_id,
           ${cosineSql("qe.embedding", "e.embedding")} AS cosine
         FROM ${p}_short s
         JOIN embeddings e ON e.vec_id = s.vec_id
         JOIN embeddings qe ON qe.vec_id = s.query_id),
       ${p}_ranked AS (SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, vec_id) AS rk, cosine
         FROM ${p}_rr)"""
  }

  /** The shared 3-column candidate CTE of the IVF-PQ oracles. */
  private lazy val ivfPqCandSql: String = ivfPqCandSqlAt("pq")

  private def ivfPqCandSqlAt(p: String): String =
    s"""${p}_cand AS (SELECT q.query_id, a.vec_id, a.cell
         FROM a JOIN ${p}_qcell q ON a.cell = q.cell
         WHERE a.vec_id <> q.query_id)"""

  /** Residual IVF-PQ twin ([[graft.operators.Similarity
    * .ivfPqResidualTopK]]): two-level cells, per-(vec, subspace)
    * micro-int RESIDUALS against the vector's own cell centroid, a
    * residual codebook over the mid-stride rank rows, exact integer
    * encode, the per-(query, probed cell) effective-codeword LUT
    * (cs + cw), ADC, shortlist, exact re-rank. Everything below the
    * one float→micro quantization is integer arithmetic, so the
    * residual form hash-certifies exactly like the raw one. */
  private lazy val ivfPqResidualOracle: String =
    s"""WITH $twoLevelCellsSql,
       $ivfPqQCellSql,
       $ivfPqCandSql,
       $ivfPqResidualCtes
       SELECT query_id, vec_id, rk, cosine FROM res_ranked WHERE rk <= 3
       ORDER BY query_id, rk"""

  /** Delete-lifecycle twin: the residual chain with the tombstoned
    * slice excluded from the CANDIDATES only — structures, residuals
    * and codebook still derive from the full corpus (the
    * frozen-structure contract: a takedown removes answers, not
    * history until the next rebuild). */
  private lazy val ivfPqDeletedOracle: String =
    s"""WITH $twoLevelCellsSql,
       $ivfPqQCellSql,
       pq_cand AS (SELECT q.query_id, a.vec_id, a.cell
         FROM a JOIN pq_qcell q ON a.cell = q.cell
         WHERE a.vec_id <> q.query_id
           AND NOT (a.vec_id % ${Similarity.IvfDeleteMod}
             = ${Similarity.IvfDeleteRem})),
       $ivfPqResidualCtes
       SELECT query_id, vec_id, rk, cosine FROM res_ranked WHERE rk <= 3
       ORDER BY query_id, rk"""

  /** Lloyd-trained residual IVF-PQ twin ([[graft.operators.Similarity
    * .ivfPqResidualTopKLloyd]] — full FAISS IVFADC training): the
    * scaffold's mid-stride residual codebook seeds the unrolled
    * integer-mean Lloyd rounds over the corpus RESIDUAL sub-vectors,
    * then the unchanged encode/LUT/ADC/re-rank tail serves from the
    * learned codebook. Integer arithmetic end to end below the one
    * float→micro quantization, so it hash-certifies like both
    * parents. */
  private lazy val ivfPqLloydOracle: String =
    s"""WITH $twoLevelCellsSql,
       $ivfPqQCellSql,
       $ivfPqCandSql,
       $ivfPqResidualScaffoldSql,
       ${lloydCtesSql("res_x", "res_cb", "rl")},
       ${ivfPqResidualTailSql("rlq", s"rlcb_${Similarity.PqLloydIters}")}
       SELECT query_id, vec_id, rk, cosine FROM rlq_ranked WHERE rk <= 3
       ORDER BY query_id, rk"""

  /** Recall@3 of the mid-stride vs the Lloyd-trained residual IVF-PQ
    * against brute force — both chains share cells, probed cells,
    * candidates AND the residual sub-vectors, differing only in
    * codebook training, so the columns isolate what
    * k-means-on-residuals buys. Deterministic; the fractions
    * hash-certify. */
  private lazy val ivfPqLloydRecallOracle: String =
    s"""WITH $twoLevelCellsSql,
       $ivfPqQCellSql,
       $ivfPqCandSql,
       $ivfPqResidualCtes,
       ${lloydCtesSql("res_x", "res_cb", "rl")},
       ${ivfPqResidualTailSql("rlq", s"rlcb_${Similarity.PqLloydIters}")},
       ${lloydSphericalCtesSql("res_x", "res_cb", "rs")},
       ${ivfPqResidualTailSql("rsq", s"rscb_${Similarity.PqLloydIters}")},
       rqx AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE $isQuerySql),
       rscored AS (
         SELECT rqx.query_id, e.vec_id,
           ${cosineSql("rqx.qv", "e.embedding")} AS cosine
         FROM embeddings e CROSS JOIN rqx WHERE e.vec_id <> rqx.query_id),
       rranked AS (
         SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, vec_id) AS rk
         FROM rscored),
       rex AS (SELECT query_id, vec_id FROM rranked WHERE rk <= 3),
       hres AS (SELECT e.query_id, CAST(count(*) AS BIGINT) AS n
                FROM rex e
                JOIN (SELECT query_id, vec_id FROM res_ranked WHERE rk <= 3) r
                  ON e.query_id = r.query_id AND e.vec_id = r.vec_id
                GROUP BY e.query_id),
       hlloyd AS (SELECT e.query_id, CAST(count(*) AS BIGINT) AS n
                  FROM rex e
                  JOIN (SELECT query_id, vec_id FROM rlq_ranked
                        WHERE rk <= 3) l
                    ON e.query_id = l.query_id AND e.vec_id = l.vec_id
                  GROUP BY e.query_id),
       hsph AS (SELECT e.query_id, CAST(count(*) AS BIGINT) AS n
                FROM rex e
                JOIN (SELECT query_id, vec_id FROM rsq_ranked
                      WHERE rk <= 3) s
                  ON e.query_id = s.query_id AND e.vec_id = s.vec_id
                GROUP BY e.query_id)
       SELECT q.query_id,
         coalesce(hres.n, 0) AS n_hit_res,
         coalesce(hlloyd.n, 0) AS n_hit_lloyd,
         coalesce(hsph.n, 0) AS n_hit_spherical,
         CAST(coalesce(hres.n, 0) AS DOUBLE) / 3 AS recall_res,
         CAST(coalesce(hlloyd.n, 0) AS DOUBLE) / 3 AS recall_lloyd,
         CAST(coalesce(hsph.n, 0) AS DOUBLE) / 3 AS recall_spherical
       FROM rqx q
       LEFT JOIN hres ON q.query_id = hres.query_id
       LEFT JOIN hlloyd ON q.query_id = hlloyd.query_id
       LEFT JOIN hsph ON q.query_id = hsph.query_id
       ORDER BY q.query_id"""

  /** The nprobe recall/cost curve twin: three probe chains (nprobe 1,
    * 2, 4) over ONE shared scaffold + encode, each scored against the
    * brute-force top-3 — one row per nprobe. */
  private lazy val ivfPqNprobeCurveOracle: String = {
    val k = 3
    val chains = Similarity.NprobeCurve.map { np =>
      s"""${ivfPqQCellSqlAt(s"n$np", np)},
       ${ivfPqCandSqlAt(s"n$np")},
       ${ivfPqResidualProbeSql(s"c$np", "res_cb", "res_code",
          s"n${np}_qcell", s"n${np}_cand")},
       h$np AS (SELECT CAST(count(*) AS BIGINT) AS n_hit FROM rex e
         JOIN (SELECT query_id, vec_id FROM c${np}_ranked WHERE rk <= $k) p
           ON e.query_id = p.query_id AND e.vec_id = p.vec_id)"""
    }.mkString(",\n       ")
    val rows = Similarity.NprobeCurve.map { np =>
      s"""SELECT CAST($np AS BIGINT) AS nprobe, h$np.n_hit,
         CAST(h$np.n_hit AS DOUBLE) / (nq.nq * $k) AS recall
       FROM h$np, nq"""
    }.mkString("\n       UNION ALL\n       ")
    s"""WITH $twoLevelCellsSql,
       $ivfPqResidualScaffoldSql,
       ${ivfPqResidualEncodeSql("res", "res_cb")},
       rqx AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE $isQuerySql),
       rscored AS (
         SELECT rqx.query_id, e.vec_id,
           ${cosineSql("rqx.qv", "e.embedding")} AS cosine
         FROM embeddings e CROSS JOIN rqx WHERE e.vec_id <> rqx.query_id),
       rranked AS (
         SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, vec_id) AS rk
         FROM rscored),
       rex AS (SELECT query_id, vec_id FROM rranked WHERE rk <= $k),
       nq AS (SELECT CAST(count(*) AS BIGINT) AS nq FROM rqx),
       $chains
       $rows
       ORDER BY nprobe"""
  }

  /** IVF cell-occupancy audit twin — re-derives the two-level cell
    * partition and aggregates occupancy: cell/vector counts, max/mean,
    * and the mass + share of the hottest
    * [[Similarity.CellAuditTopK]] cells (ties by cell id). */
  private lazy val ivfCellAuditOracle: String = {
    val k = Similarity.CellAuditTopK
    s"""WITH $twoLevelCellsSql,
       occ AS (SELECT cell, CAST(count(*) AS BIGINT) AS n
               FROM a GROUP BY cell),
       ranked AS (SELECT n,
           row_number() OVER (ORDER BY n DESC, cell) AS rk FROM occ)
       SELECT CAST(count(*) AS BIGINT) AS n_cells,
         CAST(sum(n) AS BIGINT) AS n_vectors,
         CAST(max(n) AS BIGINT) AS max_occ,
         CAST(sum(n) AS DOUBLE) / count(*) AS mean_occ,
         CAST(sum(CASE WHEN rk <= $k THEN n ELSE 0 END) AS BIGINT)
           AS topk_mass,
         CAST(sum(CASE WHEN rk <= $k THEN n ELSE 0 END) AS DOUBLE) / sum(n)
           AS topk_share
       FROM ranked"""
  }

  /** Integer-mean k-means IVF twin ([[graft.operators.Similarity
    * .ivfTopKKmeansInt]]): the [[Similarity.KmeansIters]] Lloyd rounds
    * unrolled — per round, the exact integer L2² argmin assignment
    * over micro-quantized vectors (ties → smallest cluster_id) and the
    * floor(Σ/n) integer-mean update, then same-cell candidates ranked
    * by full-precision cosine. All integer below the one float→micro
    * quantization, so the learned IVF partition hash-certifies where
    * the float form (q_similar_kmeans) is a pinned rows-only
    * exemption. */
  /** The integer-k-means CTE block shared by [[kmeansIntOracle]] and
    * the learned-IVFADC oracle: corpus micro-vectors `kmx`, the
    * unrolled Lloyd rounds to `kc_<iters>`, the final `kcell`
    * assignment. */
  private lazy val kmeansIntCtes: String =
    kmeansIntCtesFor("k", Similarity.KmeansK.toString)

  /** The integer-k-means CTE block, parameterized: `p` prefixes every
    * CTE name (so two differently-sized trainings can share one
    * statement) and `kSql` is the seed-count expression — a literal
    * for the fixed workload K, a scalar subquery
    * (`ceil(sqrt(count(*)))`) for the √N-sized auto partition. */
  private def kmeansIntCtesFor(p: String, kSql: String): String = {
    import Similarity._
    val dims = PqM * PqSubDim
    def micro(x: String) =
      s"CAST(floor(CAST($x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)"
    val rounds = (1 to KmeansIters).map { r =>
      val prev = if (r == 1) s"${p}c_0" else s"${p}c_${r - 1}"
      s"""${p}a_$r AS (SELECT vec_id, cluster_id FROM (
           SELECT m.vec_id, c.cluster_id, row_number() OVER (
             PARTITION BY m.vec_id ORDER BY $kmeansIntL2 ASC, c.cluster_id)
             AS rk
           FROM ${p}mx m CROSS JOIN $prev c) WHERE rk = 1),
         ${p}flat_$r AS (SELECT a.cluster_id, CAST(ds.d AS BIGINT) AS dim,
             m.xq[ds.d + 1] AS v
           FROM ${p}a_$r a JOIN ${p}mx m ON m.vec_id = a.vec_id,
           UNNEST(generate_series(0, ${dims - 1})) AS ds(d)),
         ${p}mean_$r AS (SELECT cluster_id, dim,
             CAST((sum(v) - ((sum(v) % count(*)) + count(*)) % count(*))
               // count(*) AS BIGINT) AS mv
           FROM ${p}flat_$r GROUP BY cluster_id, dim),
         ${p}c_$r AS MATERIALIZED (SELECT cluster_id, list_transform(
               list_sort(list({'dim': dim, 'mv': mv})), s -> s.mv) AS cm
           FROM ${p}mean_$r GROUP BY cluster_id)"""
    }.mkString(",\n       ")
    s"""${p}mx AS MATERIALIZED (SELECT vec_id,
           list_transform(embedding, x -> ${micro("x")}) AS xq
         FROM embeddings),
       ${p}c_0 AS MATERIALIZED (SELECT vec_id AS cluster_id,
           list_transform(embedding, x -> ${micro("x")}) AS cm
         FROM (SELECT vec_id, embedding FROM embeddings
               ORDER BY vec_id LIMIT $kSql)),
       $rounds,
       ${p}cell AS MATERIALIZED (SELECT vec_id, cluster_id AS cell FROM (
           SELECT m.vec_id, c.cluster_id, row_number() OVER (
             PARTITION BY m.vec_id ORDER BY $kmeansIntL2 ASC, c.cluster_id)
             AS rk
           FROM ${p}mx m CROSS JOIN ${p}c_$KmeansIters c) WHERE rk = 1)"""
  }

  /** √N seed count for the auto-sized learned partition — the SQL
    * twin of [[graft.operators.Similarity.kmeansAutoK]]. */
  private val kmeansAutoKSql: String =
    "(SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)"

  /** 64-term exact integer L2² between `m.xq` and `c.cm`. */
  private lazy val kmeansIntL2: String =
    (1 to Similarity.PqM * Similarity.PqSubDim).map(d =>
      s"(m.xq[$d] - c.cm[$d]) * (m.xq[$d] - c.cm[$d])").mkString(" + ")

  private lazy val kmeansIntOracle: String = {
    s"""WITH $kmeansIntCtes,
       kq AS (SELECT vec_id AS query_id, q, cell FROM (
           SELECT k.vec_id, e.embedding AS q, k.cell
           FROM kcell k JOIN embeddings e ON e.vec_id = k.vec_id)
         WHERE $isQuerySql),
       kcand AS (SELECT q.query_id, k.vec_id,
           ${cosineSql("q.q", "e.embedding")} AS cosine
         FROM kcell k
         JOIN kq q ON k.cell = q.cell AND k.vec_id <> q.query_id
         JOIN embeddings e ON e.vec_id = k.vec_id),
       kranked AS (SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, vec_id) AS rk, cosine
         FROM kcand)
       SELECT query_id, vec_id, rk, cosine FROM kranked WHERE rk <= 3
       ORDER BY query_id, rk"""
  }

  /** FULLY-LEARNED IVFADC twin ([[graft.operators.Similarity
    * .ivfPqResidualTopKLearned]]): the integer-k-means cells
    * ([[kmeansIntCtes]]) feed the residual chain — cell decode table
    * straight from the integer centroids (already micro), per-vector
    * residuals against the LEARNED cell, mid-stride residual codebook,
    * exact encode, top-nprobe query placement by the same integer L2,
    * per-cell effective-codeword LUT, ADC, exact re-rank. */
  private lazy val ivfPqLearnedOracle: String =
    ivfPqLearnedOracleFor(kmeansIntCtes, "k", "l")

  /** Fully-learned IVFADC at the √N-SIZED coarse partition — the
    * complete 100× shape composed: K = ceil(sqrt(N)) learned cells
    * (one scalar count subquery) feeding the same residual chain. */
  private lazy val ivfPqLearnedAutoOracle: String =
    ivfPqLearnedOracleFor(kmeansIntCtesFor("ak", kmeansAutoKSql),
      "ak", "al")

  /** The fully-learned IVFADC twin, parameterized: `kmCtes`/`km` name
    * the integer-k-means block (workload K or √N auto), `p` prefixes
    * this chain's own CTEs so two sizes can coexist. */
  private def ivfPqLearnedOracleFor(kmCtes: String, km: String,
                                    p: String): String = {
    import Similarity._
    def micro(x: String) =
      s"CAST(floor(CAST($x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)"
    val qqn2 = (1 to PqSubDim).map(d => s"qq[$d] * qq[$d]").mkString(" + ")
    s"""WITH $kmCtes,
       -- decode table: the learned centroids ARE micro ints — slice
       ${p}cell_sub AS MATERIALIZED (SELECT cluster_id AS cell, CAST(ms.m AS BIGINT) AS m,
           list_slice(cm, ms.m * $PqSubDim + 1,
             ms.m * $PqSubDim + $PqSubDim) AS cs
         FROM ${km}c_$KmeansIters, UNNEST(generate_series(0, ${PqM - 1})) AS ms(m)),
       -- per-(vec, subspace) micro-int residual against the LEARNED cell
       ${p}res_x AS MATERIALIZED (SELECT k.vec_id, k.cell, s.m,
           list_transform(list_slice(e.embedding,
               CAST(s.m * $PqSubDim + 1 AS INT),
               CAST(s.m * $PqSubDim + $PqSubDim AS INT)),
             (x, i) -> ${micro("x")} - s.cs[i]) AS xq
         FROM ${km}cell k
         JOIN embeddings e ON e.vec_id = k.vec_id
         JOIN ${p}cell_sub s ON s.cell = k.cell),
       -- mid-stride residual codebook (the ivfPqResidualParts recipe)
       ${p}res_n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
       ${p}res_kp AS (SELECT greatest(1, least($PqK, n)) AS kk,
           greatest(1, n // greatest(1, least($PqK, n))) AS stride,
           greatest(1, n // greatest(1, least($PqK, n))) // 2 AS off
         FROM ${p}res_n),
       ${p}rnk AS (SELECT vec_id,
           row_number() OVER (ORDER BY vec_id) - 1 AS vrk FROM embeddings),
       ${p}res_train AS (SELECT vec_id,
           row_number() OVER (ORDER BY vec_id) - 1 AS j
         FROM ${p}rnk, ${p}res_kp
         WHERE vrk % stride = off AND vrk < stride * kk + off),
       ${p}res_cb AS MATERIALIZED (SELECT r.m, t.j, r.xq AS cw
         FROM ${p}res_train t JOIN ${p}res_x r ON r.vec_id = t.vec_id),
       -- query micro sub-vectors + norms
       ${p}res_qs AS MATERIALIZED (SELECT vec_id AS query_id, CAST(ms.m AS BIGINT) AS m,
           list_transform(list_slice(embedding, ms.m * $PqSubDim + 1,
             ms.m * $PqSubDim + $PqSubDim), x -> ${micro("x")}) AS qq
         FROM embeddings, UNNEST(generate_series(0, ${PqM - 1})) AS ms(m)
         WHERE $isQuerySql),
       ${p}res_qn AS MATERIALIZED (SELECT query_id, CAST(sum($qqn2) AS BIGINT) AS qn2
         FROM ${p}res_qs GROUP BY query_id),
       -- top-nprobe query placement by the same integer L2
       ${p}q_x AS (SELECT vec_id,
           list_transform(embedding, x -> ${micro("x")}) AS xq
         FROM embeddings WHERE $isQuerySql),
       ${p}qcell AS MATERIALIZED (SELECT vec_id AS query_id, cluster_id AS cell FROM (
           SELECT m.vec_id, c.cluster_id, row_number() OVER (
             PARTITION BY m.vec_id ORDER BY $kmeansIntL2 ASC, c.cluster_id)
             AS rk
           FROM ${p}q_x m CROSS JOIN ${km}c_$KmeansIters c) WHERE rk <= 2),
       ${p}cand AS MATERIALIZED (SELECT q.query_id, k.vec_id, k.cell
         FROM ${km}cell k JOIN ${p}qcell q ON k.cell = q.cell
         WHERE k.vec_id <> q.query_id),
       ${ivfPqResidualEncodeSql(s"${p}res", s"${p}res_cb", s"${p}res_x",
          materialized = true)},
       ${ivfPqResidualProbeSql(s"${p}rq", s"${p}res_cb", s"${p}res_code",
          s"${p}qcell", s"${p}cand", s"${p}res_qs", s"${p}res_qn",
          s"${p}cell_sub")}
       SELECT query_id, vec_id, rk, cosine FROM ${p}rq_ranked WHERE rk <= 3
       ORDER BY query_id, rk"""
  }

  /** Learned-partition occupancy audit twin: the
    * [[ivfCellAuditOracle]] aggregate over the integer-k-means
    * assignment instead of the two-level rank partition. */
  private lazy val kmeansCellAuditOracle: String = {
    val k = Similarity.CellAuditTopK
    s"""WITH $kmeansIntCtes,
       kocc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n
               FROM kcell GROUP BY cell),
       kranked AS (SELECT n,
           row_number() OVER (ORDER BY n DESC, cell) AS rk FROM kocc)
       SELECT CAST(count(*) AS BIGINT) AS n_cells,
         CAST(sum(n) AS BIGINT) AS n_vectors,
         CAST(max(n) AS BIGINT) AS max_occ,
         CAST(sum(n) AS DOUBLE) / count(*) AS mean_occ,
         CAST(sum(CASE WHEN rk <= $k THEN n ELSE 0 END) AS BIGINT)
           AS topk_mass,
         CAST(sum(CASE WHEN rk <= $k THEN n ELSE 0 END) AS DOUBLE) / sum(n)
           AS topk_share
       FROM kranked"""
  }

  /** √N-sized learned-partition IVF twin ([[graft.operators
    * .Similarity.ivfTopKKmeansAuto]]): [[kmeansIntOracle]] with
    * K = ceil(sqrt(N)) Lloyd seeds instead of the fixed workload
    * K=8 — the same unrolled integer Lloyd rounds, sized by one
    * scalar count subquery. */
  private lazy val kmeansAutoOracle: String = kmeansAutoOracleWhere("")

  /** The √N learned-partition chain; `candExtra` narrows the
    * candidate side (the landed index's delete-lifecycle twin). */
  private def kmeansAutoOracleWhere(candExtra: String): String = {
    s"""WITH ${kmeansIntCtesFor("ak", kmeansAutoKSql)},
       akq AS (SELECT vec_id AS query_id, q, cell FROM (
           SELECT k.vec_id, e.embedding AS q, k.cell
           FROM akcell k JOIN embeddings e ON e.vec_id = k.vec_id)
         WHERE $isQuerySql),
       akcand AS (SELECT q.query_id, k.vec_id,
           ${cosineSql("q.q", "e.embedding")} AS cosine
         FROM akcell k
         JOIN akq q ON k.cell = q.cell AND k.vec_id <> q.query_id$candExtra
         JOIN embeddings e ON e.vec_id = k.vec_id),
       akranked AS (SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, vec_id) AS rk, cosine
         FROM akcand)
       SELECT query_id, vec_id, rk, cosine FROM akranked WHERE rk <= 3
       ORDER BY query_id, rk"""
  }

  /** Landed learned-index delete twin: the √N chain with the
    * tombstoned slice excluded from candidates. */
  private lazy val kmeansDeletedOracle: String = kmeansAutoOracleWhere(
    s" AND NOT (k.vec_id % ${Similarity.IvfDeleteMod}" +
      s" = ${Similarity.IvfDeleteRem})")

  /** Occupancy audit at the √N learned partition
    * ([[graft.operators.Similarity.kmeansCellAuditAuto]]). */
  private lazy val kmeansCellAuditAutoOracle: String = {
    val k = Similarity.CellAuditTopK
    s"""WITH ${kmeansIntCtesFor("ak", kmeansAutoKSql)},
       akocc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n
               FROM akcell GROUP BY cell),
       akranked AS (SELECT n,
           row_number() OVER (ORDER BY n DESC, cell) AS rk FROM akocc)
       SELECT CAST(count(*) AS BIGINT) AS n_cells,
         CAST(sum(n) AS BIGINT) AS n_vectors,
         CAST(max(n) AS BIGINT) AS max_occ,
         CAST(sum(n) AS DOUBLE) / count(*) AS mean_occ,
         CAST(sum(CASE WHEN rk <= $k THEN n ELSE 0 END) AS BIGINT)
           AS topk_mass,
         CAST(sum(CASE WHEN rk <= $k THEN n ELSE 0 END) AS DOUBLE) / sum(n)
           AS topk_share
       FROM akranked"""
  }

  /** Learned-K trade-table twin ([[graft.operators.Similarity
    * .kmeansTradeTable]]): three full integer-Lloyd trainings (K = 8,
    * ⌈√N⌉/2, ⌈√N⌉ — each its own prefixed CTE block) sharing one
    * brute-force reference; per K, the occupancy aggregate and the
    * same-cell-probe recall@3, one row each, unioned. */
  private lazy val kmeansTradeOracle: String = {
    val topK = Similarity.CellAuditTopK
    val kHalfSql = s"greatest(1, $kmeansAutoKSql // 2)"
    def block(p: String, kValSql: String) =
      s"""${p}q AS (SELECT vec_id AS query_id, q, cell FROM (
           SELECT k.vec_id, e.embedding AS q, k.cell
           FROM ${p}cell k JOIN embeddings e ON e.vec_id = k.vec_id)
         WHERE $isQuerySql),
       ${p}cand AS (SELECT q.query_id, k.vec_id,
           ${cosineSql("q.q", "e.embedding")} AS cosine
         FROM ${p}cell k
         JOIN ${p}q q ON k.cell = q.cell AND k.vec_id <> q.query_id
         JOIN embeddings e ON e.vec_id = k.vec_id),
       ${p}rk AS (SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, vec_id) AS rk
         FROM ${p}cand),
       ${p}hit AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
         FROM tex e JOIN (SELECT query_id, vec_id FROM ${p}rk WHERE rk <= 3) a
           ON e.query_id = a.query_id AND e.vec_id = a.vec_id),
       ${p}occ AS (SELECT cell, CAST(count(*) AS BIGINT) AS n
         FROM ${p}cell GROUP BY cell),
       ${p}occr AS (SELECT n,
           row_number() OVER (ORDER BY n DESC, cell) AS rk FROM ${p}occ),
       ${p}_row AS (SELECT CAST(($kValSql) AS BIGINT) AS k_cells,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(n) AS BIGINT) AS n_vectors,
           CAST(max(n) AS BIGINT) AS max_occ,
           CAST(sum(n) AS DOUBLE) / count(*) AS mean_occ,
           CAST(sum(CASE WHEN rk <= $topK THEN n ELSE 0 END) AS DOUBLE)
             / sum(n) AS topk_share,
           (SELECT n_hit FROM ${p}hit) AS n_hit,
           CAST((SELECT n_hit FROM ${p}hit) AS DOUBLE)
             / (SELECT n_exact FROM texn) AS recall
         FROM ${p}occr)"""
    s"""WITH ${kmeansIntCtesFor("t8", Similarity.KmeansK.toString)},
       ${kmeansIntCtesFor("th", kHalfSql)},
       ${kmeansIntCtesFor("ta", kmeansAutoKSql)},
       tqx AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE $isQuerySql),
       tscored AS (SELECT tqx.query_id, e.vec_id,
           ${cosineSql("tqx.qv", "e.embedding")} AS cosine
         FROM embeddings e CROSS JOIN tqx WHERE e.vec_id <> tqx.query_id),
       tranked AS (SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, vec_id) AS rk
         FROM tscored),
       tex AS MATERIALIZED (SELECT query_id, vec_id FROM tranked
             WHERE rk <= 3),
       texn AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM tex),
       ${block("t8", Similarity.KmeansK.toString)},
       ${block("th", kHalfSql)},
       ${block("ta", kmeansAutoKSql)}
       SELECT * FROM t8_row
       UNION ALL SELECT * FROM th_row
       UNION ALL SELECT * FROM ta_row
       ORDER BY k_cells"""
  }

  /** Occupancy-drift twin: the audit aggregate per side (standing
    * alone / with the increment placed into the same frozen cells). */
  private lazy val ivfCellDriftOracle: String = {
    import Similarity._
    val k = CellAuditTopK
    def sideSql(label: String, pred: String) =
      s"""SELECT '$label' AS phase, CAST(count(*) AS BIGINT) AS n_cells,
         CAST(sum(n) AS BIGINT) AS n_vectors,
         CAST(max(n) AS BIGINT) AS max_occ,
         CAST(sum(n) AS DOUBLE) / count(*) AS mean_occ,
         CAST(sum(CASE WHEN rk <= $k THEN n ELSE 0 END) AS BIGINT)
           AS topk_mass,
         CAST(sum(CASE WHEN rk <= $k THEN n ELSE 0 END) AS DOUBLE) / sum(n)
           AS topk_share
       FROM (SELECT n, row_number() OVER (ORDER BY n DESC, cell) AS rk
             FROM (SELECT cell, CAST(count(*) AS BIGINT) AS n
                   FROM a WHERE $pred GROUP BY cell))"""
    s"""WITH $twoLevelCellsSql
       ${sideSql("standing", s"NOT (vec_id % $IvfAppendMod = $IvfAppendRem)")}
       UNION ALL
       ${sideSql("with_increment", "TRUE")}
       ORDER BY phase"""
  }

  /** Total squared residual-quantization error under the mid-stride
    * seed vs the Lloyd-trained codebook — the k-means objective,
    * certified as one integer row (the descent is the claim training
    * actually guarantees; see [[graft.operators.Similarity
    * .ivfPqLloydRecall]]'s metric-mismatch note). */
  private lazy val ivfPqLloydMseOracle: String = {
    import Similarity._
    val l2 = (1 to PqSubDim).map(d =>
      s"(x.xq[$d] - c.cw[$d]) * (x.xq[$d] - c.cw[$d])").mkString(" + ")
    s"""WITH $twoLevelCellsSql,
       $ivfPqResidualScaffoldSql,
       ${lloydCtesSql("res_x", "res_cb", "rl")},
       eres AS (SELECT CAST(sum(d) AS BIGINT) AS sq_err_res FROM (
           SELECT x.vec_id, x.m, min($l2) AS d
           FROM res_x x JOIN res_cb c ON x.m = c.m
           GROUP BY x.vec_id, x.m)),
       elloyd AS (SELECT CAST(sum(d) AS BIGINT) AS sq_err_lloyd FROM (
           SELECT x.vec_id, x.m, min($l2) AS d
           FROM res_x x JOIN rlcb_${Similarity.PqLloydIters} c ON x.m = c.m
           GROUP BY x.vec_id, x.m))
       SELECT sq_err_res, sq_err_lloyd FROM eres, elloyd"""
  }

  /** Recall@3 of BOTH IVF-PQ forms against brute force, per query —
    * the raw chain (pq_*) and the residual chain (res_*) share the
    * two-level cells, the probed query cells and the candidate set,
    * so the comparison isolates CODE FIDELITY. All three rankings are
    * deterministic; the fractions hash-certify. */
  private lazy val ivfPqRecallOracle: String =
    s"""WITH $twoLevelCellsSql,
       $ivfPqQCellSql,
       $ivfPqCandSql,
       $pqBaseSql,
       ${pqTailSql(Some("pq_cand"))},
       $ivfPqResidualCtes,
       rqx AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE $isQuerySql),
       rscored AS (
         SELECT rqx.query_id, e.vec_id,
           ${cosineSql("rqx.qv", "e.embedding")} AS cosine
         FROM embeddings e CROSS JOIN rqx WHERE e.vec_id <> rqx.query_id),
       rranked AS (
         SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, vec_id) AS rk
         FROM rscored),
       rex AS (SELECT query_id, vec_id FROM rranked WHERE rk <= 3),
       hraw AS (SELECT e.query_id, CAST(count(*) AS BIGINT) AS n
                FROM rex e
                JOIN (SELECT query_id, vec_id FROM pq_ranked WHERE rk <= 3) p
                  ON e.query_id = p.query_id AND e.vec_id = p.vec_id
                GROUP BY e.query_id),
       hres AS (SELECT e.query_id, CAST(count(*) AS BIGINT) AS n
                FROM rex e
                JOIN (SELECT query_id, vec_id FROM res_ranked WHERE rk <= 3) r
                  ON e.query_id = r.query_id AND e.vec_id = r.vec_id
                GROUP BY e.query_id)
       SELECT q.query_id,
         coalesce(hraw.n, 0) AS n_hit_raw,
         coalesce(hres.n, 0) AS n_hit_res,
         CAST(coalesce(hraw.n, 0) AS DOUBLE) / 3 AS recall_raw,
         CAST(coalesce(hres.n, 0) AS DOUBLE) / 3 AS recall_res
       FROM rqx q
       LEFT JOIN hraw ON q.query_id = hraw.query_id
       LEFT JOIN hres ON q.query_id = hres.query_id
       ORDER BY q.query_id"""

  /** DuckDB twins of [[Similarity.isQueryId]] / [[Similarity.isCentroidId]]
    * — the bounded (O(K) at any corpus size) workload predicates. */
  private def isQuerySql: String = {
    import Similarity._
    s"vec_id % $QueryStride = 0 AND vec_id < ${QueryStride.toLong * MaxQueries}"
  }
  private def isCentroidSql: String = {
    import Similarity._
    s"vec_id % $IvfCentroidEvery = 0 AND vec_id < ${IvfCentroidEvery.toLong * MaxCentroids}"
  }

  /** DuckDB twin of [[Similarity.bandedIndex]]: (vec_id, band, sig) with
    * band b's sig from the signs of dims b·8+1..b·8+8. An out-of-bounds
    * list index yields NULL in DuckDB, so `CASE WHEN e[i] > 0` falls to
    * the ELSE 0 branch — the same padding semantics as Spark's
    * `try_element_at`. */
  private def bandedIndexSql: String = {
    import Similarity._
    (0 until SigBands).map { b =>
      val sig = (0 until PlanesPerBand).map(j =>
        s"(CASE WHEN embedding[${b * PlanesPerBand + j + 1}] > 0 THEN ${1 << j} ELSE 0 END)")
        .mkString(" + ")
      s"SELECT vec_id, $b AS band, $sig AS sig FROM embeddings"
    }.mkString(" UNION ALL ")
  }

  private val stopsSqlEn = TextStats.stopwords("en").map(w => s"'$w'").mkString("[", ", ", "]")

  /** DuckDB twin of [[TextDedup.hashedShingles]]: distinct int base
    * hashes of n-gram shingles (`toks` must be in scope). */
  private def hashedShinglesSql(n: Int): String =
    s"list_distinct(list_transform(${shinglesSql(n)}, s -> ${md5b16Sql("s")}))"

  /** Shared CTE chain for the MinHash-LSH dedup — the same base hash,
    * linear permutations, band signatures, bucket join and Jaccard
    * verify, generated so the arithmetic is literally identical to the
    * Scala side. Ends with `scored(doc_a, doc_b, inter, sz)`. */
  private def minhashCtes: String = {
    import TextDedup._
    val mhCols = (0 until NumHashes).map(k =>
      s"list_min(list_transform(hs, h -> (h * ${permA(k)} + ${permB(k)}) % $MinhashMod)) AS mh$k")
      .mkString(",\n             ")
    val bandSelects = (0 until Bands).map { b =>
      val sig = (0 until RowsPerBand).map(r => s"mh${b * RowsPerBand + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws('-', $sig) AS sig FROM mh"
    }.mkString("\n           UNION ALL ")
    s"""t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
       shs AS (SELECT doc_id, ${hashedShinglesSql(ShingleN)} AS hs FROM t),
       mh AS (SELECT doc_id,
             $mhCols
             FROM shs),
       bands AS ($bandSelects),
       cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
           AND a.doc_id < b.doc_id),
       scored AS (
         SELECT doc_a, doc_b,
           CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) AS inter,
           CAST(len(sa.hs) + len(sb.hs) AS DOUBLE) AS sz
         FROM cand
         JOIN shs sa ON sa.doc_id = doc_a
         JOIN shs sb ON sb.doc_id = doc_b)"""
  }

  /** Incremental (probe vs index) near-dup oracle: same CTE chain, but
    * candidates pair a probe-side band row with an index-side one. The
    * chain's self-join `cand`/`scored` CTEs go unreferenced and DuckDB
    * never evaluates them. */
  private def dedupIncrementalOracle: String = dedupIncrementalOracleWhere("")

  /** Tombstone twin: the index side additionally excludes the deleted
    * slice — the oracle for the full build+append+delete+compact+probe
    * lifecycle is simply "those docs were never indexed". */
  private def dedupDeletedOracle: String = {
    import TextDedup._
    dedupIncrementalOracleWhere(
      s" AND NOT (b.doc_id % $DeleteMod = $DeleteRem)")
  }

  private def dedupIncrementalOracleWhere(extraIndexPred: String): String = {
    import TextDedup._
    s"""WITH $minhashCtes,
       cand2 AS (
         SELECT DISTINCT a.doc_id AS probe_id, b.doc_id AS index_id
         FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
         WHERE a.doc_id % $IncrementMod = 0
           AND b.doc_id % $IncrementMod <> 0$extraIndexPred),
       scored2 AS (
         SELECT probe_id, index_id,
           CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) AS inter,
           CAST(len(sa.hs) + len(sb.hs) AS DOUBLE) AS sz
         FROM cand2
         JOIN shs sa ON sa.doc_id = probe_id
         JOIN shs sb ON sb.doc_id = index_id)
       SELECT probe_id, index_id,
         CASE WHEN sz - inter = 0 THEN 0.0 ELSE inter / (sz - inter) END AS jaccard
       FROM scored2
       WHERE CASE WHEN sz - inter = 0 THEN 0.0 ELSE inter / (sz - inter) END >= $JaccardThreshold
       ORDER BY probe_id, index_id"""
  }

  /** Bloom-pruned exact dedup oracle: the Bloom filter is pruning-only
    * (no false negatives, false positives removed by the exact
    * anti-join), so the oracle is the PLAIN anti-join the operator is
    * provably equal to — no Bloom arithmetic crosses engines. */
  private def bloomDedupOracle: String = {
    import graft.operators.{BloomDedup, TextDedup}
    s"""WITH inc AS (
         SELECT doc_id, md5(text) AS text_hash FROM documents
         WHERE doc_id % ${TextDedup.IncrementMod} = 0
         UNION ALL
         SELECT doc_id + ${BloomDedup.RecrawlIdOffset}, md5(text)
         FROM documents WHERE doc_id % 25 = 0),
       idx AS (SELECT md5(text) AS text_hash FROM documents
               WHERE doc_id % ${TextDedup.IncrementMod} <> 0)
       SELECT doc_id, text_hash FROM inc
       WHERE text_hash NOT IN (SELECT text_hash FROM idx)
       ORDER BY doc_id"""
  }

  /** BPE merge-learning oracle: the K merge rounds UNROLLED as CTE
    * layers (K = [[TrainPrep.BpeMergeK]] is a small workload constant,
    * so unrolling is bounded) — DuckDB replays the identical
    * deterministic induction: same pretokens, same bracket-encoded
    * symbol strings, same weighted pair argmax with the same
    * lexicographic tie-break, same self-delimiting `replace` merge
    * step (see [[graft.operators.TrainPrep.BpeL]] for why replace ≡
    * the greedy BPE fold under this encoding). Generated by a Scala
    * loop — each layer reads the previous word table, takes its
    * argmax, and rewrites the words. */
  /** Shared CTE chain for the BPE oracles: the K unrolled merge
    * rounds, each word table carrying (word, encoded, n). */
  private def bpeCtes: String = {
    val k = graft.operators.TrainPrep.BpeMergeK
    val (bl, br) = (graft.operators.TrainPrep.BpeL, graft.operators.TrainPrep.BpeR)
    val pat = TextStats.BpePattern.replace("'", "''")
    // Every w/m layer is MATERIALIZED: DuckDB inlines plain CTEs, and
    // w(r−1) is referenced TWICE per round (pair count p_r + rewrite
    // w_r) — inlined, the corpus regex explode re-evaluates 2^K times
    // (measured: OOM at a 2 GB cap on sf0.01). Materialized, each
    // layer runs once — same rows, bounded memory.
    val w0 =
      s"""w0 AS MATERIALIZED (
         SELECT word, regexp_replace(word, '(.)', '$bl\\1$br', 'g') AS encoded, n
         FROM (SELECT t.word AS word, count(*) AS n
               FROM documents, UNNEST(regexp_extract_all(text, '$pat')) AS t(word)
               WHERE t.word NOT LIKE '%$bl%' AND t.word NOT LIKE '%$br%'
               GROUP BY t.word))"""
    // NB the word-table rewrite is a LEFT JOIN ON TRUE, not a CROSS
    // JOIN: once the pair supply runs dry, m$r is EMPTY, and a cross
    // join would empty every later word table — diverging from the
    // Spark learner's exhausted-guard, which stops merging and keeps
    // the table. With the left join the rows survive with NULL a/b and
    // the CASE passes `encoded` through unchanged.
    val rounds = (1 to k).map { r =>
      s"""p$r AS (
         SELECT l[i] AS a, l[i + 1] AS b, CAST(sum(n) AS BIGINT) AS cnt
         FROM (SELECT string_split(substring(encoded, 2, length(encoded) - 2),
                        '$br$bl') AS l, n
               FROM w${r - 1}),
              UNNEST(range(1, len(l))) AS u(i)
         GROUP BY 1, 2),
       m$r AS MATERIALIZED (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
       w$r AS MATERIALIZED (
         SELECT word,
           CASE WHEN a IS NULL THEN encoded
                ELSE replace(encoded, '$bl' || a || '$br$bl' || b || '$br',
                       '$bl' || a || b || '$br') END AS encoded, n
         FROM w${r - 1} LEFT JOIN m$r ON TRUE)"""
    }
    s"""$w0,
       ${rounds.mkString(",\n")}"""
  }

  private def bpeMergesOracle: String = {
    val k = graft.operators.TrainPrep.BpeMergeK
    val finals = (1 to k).map(r =>
      s"SELECT $r AS merge_rank, a AS lhs, b AS rhs, a || b AS merged, cnt AS support FROM m$r")
    s"""WITH $bpeCtes
       SELECT CAST(merge_rank AS BIGINT) AS merge_rank, lhs, rhs, merged, support
       FROM (${finals.mkString(" UNION ALL ")})
       ORDER BY merge_rank"""
  }

  /** Byte-exact encode oracle: the final word table of the shared
    * chain IS the encoded vocabulary. */
  private def bpeEncodeOracle: String = {
    val k = graft.operators.TrainPrep.BpeMergeK
    val (bl, br) = (graft.operators.TrainPrep.BpeL, graft.operators.TrainPrep.BpeR)
    val n = graft.operators.TrainPrep.BpeEncodeTopN
    s"""WITH $bpeCtes
       SELECT word, n,
         CAST(len(string_split(substring(encoded, 2, length(encoded) - 2),
           '$br$bl')) AS BIGINT) AS n_syms,
         encoded
       FROM w$k ORDER BY n DESC, word LIMIT $n"""
  }

  /** Multi-probe IVF oracle — shared verbatim by `q_similar_ivf2`
    * (rebuild-per-call) and `q_similar_ivf_persisted` (standing parquet
    * index): the persistence layer is answer-invariant by contract, so
    * one SQL text pins both. */
  private def ivfProbedOracle: String = ivfProbedOracleWhere("")

  /** The plain-IVF probe chain; `candExtra` narrows the candidate
    * side (the delete-lifecycle twin's survivor filter — candidates
    * only, per the frozen-structure contract). */
  private def ivfProbedOracleWhere(candExtra: String): String =
    s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
                   WHERE $isCentroidSql),
       d AS (SELECT e.vec_id, e.embedding, c.centroid_id,
               ${cosineSql("e.embedding", "c.cv")} AS dist
             FROM embeddings e CROSS JOIN c),
       ranked AS (SELECT vec_id, embedding, centroid_id,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY dist DESC, centroid_id) AS crk
             FROM d),
       a AS (SELECT vec_id, embedding, centroid_id AS cell FROM ranked WHERE crk = 1),
       q AS (SELECT vec_id AS query_id, embedding AS qv, centroid_id AS cell
             FROM ranked WHERE $isQuerySql AND crk <= 2),
       s AS (SELECT q.query_id, a.vec_id, ${cosineSql("q.qv", "a.embedding")} AS cosine
             FROM a JOIN q ON a.cell = q.cell WHERE a.vec_id <> q.query_id$candExtra),
       r AS (SELECT query_id, vec_id, cosine,
               row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
             FROM s)
       SELECT query_id, vec_id, rk, cosine FROM r WHERE rk <= 3
       ORDER BY query_id, rk"""

  /** Plain-IVF delete-lifecycle twin: the probe with the tombstoned
    * slice excluded from candidates. */
  private lazy val ivfDeletedOracle: String = ivfProbedOracleWhere(
    s" AND NOT (a.vec_id % ${Similarity.IvfDeleteMod}" +
      s" = ${Similarity.IvfDeleteRem})")

  /** Quantized-IVF probe oracle: the multi-probe chain with the
    * candidate side scored on int8-reconstructed vectors — the same
    * floor(x/s·127+0.5)·s/127 spelling as `quantizeStats`, cast
    * through REAL exactly where the Spark side casts through float. */
  private def ivfQuantizedOracle: String = {
    val xhat =
      """list_transform(a.embedding, x ->
         CAST(floor(CAST(x AS DOUBLE) / sc.s * 127.0 + 0.5) * sc.s / 127.0 AS REAL))"""
    s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
                   WHERE $isCentroidSql),
       sc AS (SELECT vec_id,
                greatest(list_max(list_transform(embedding,
                  x -> abs(CAST(x AS DOUBLE)))), 1e-30) AS s
              FROM embeddings),
       d AS (SELECT e.vec_id, e.embedding, c.centroid_id,
               ${cosineSql("e.embedding", "c.cv")} AS dist
             FROM embeddings e CROSS JOIN c),
       ranked AS (SELECT vec_id, embedding, centroid_id,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY dist DESC, centroid_id) AS crk
             FROM d),
       a AS (SELECT vec_id, embedding, centroid_id AS cell FROM ranked WHERE crk = 1),
       q AS (SELECT vec_id AS query_id, embedding AS qv, centroid_id AS cell
             FROM ranked WHERE $isQuerySql AND crk <= 2),
       s AS (SELECT q.query_id, a.vec_id, ${cosineSql("q.qv", xhat)} AS cosine
             FROM a JOIN q ON a.cell = q.cell
                  JOIN sc ON sc.vec_id = a.vec_id
             WHERE a.vec_id <> q.query_id),
       r AS (SELECT query_id, vec_id, cosine,
               row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
             FROM s)
       SELECT query_id, vec_id, rk, cosine FROM r WHERE rk <= 3
       ORDER BY query_id, rk"""
  }

  /** Incremental band-LSH near-dup oracle — shared verbatim by
    * `q_embed_incremental` (bands computed in-query both sides) and
    * `q_embed_neardup_persisted` (index side landed to parquet first):
    * persistence is answer-invariant. */
  private def embedIncrementalOracle: String = embedIncrementalOracleWhere("")

  /** Delete-lifecycle twin: the index side additionally excludes the
    * takedown slice. */
  private def embedNearDupDeletedOracle: String = {
    import Similarity._
    embedIncrementalOracleWhere(
      s" AND NOT (vec_id % $EmbedDeleteMod = $EmbedDeleteRem)")
  }

  private def embedIncrementalOracleWhere(extraIndexPred: String): String = {
    val m = Similarity.EmbedIncrementMod
    s"""WITH bands AS ($bandedIndexSql),
       pb AS (SELECT vec_id AS probe_id, band, sig FROM bands WHERE vec_id % $m = 0),
       ib AS (SELECT vec_id AS index_id, band, sig FROM bands
              WHERE vec_id % $m <> 0$extraIndexPred),
       cand AS (SELECT DISTINCT p.probe_id, i.index_id
                FROM pb p JOIN ib i ON p.band = i.band AND p.sig = i.sig),
       scored AS (
         SELECT c.probe_id, c.index_id,
           ${cosineSql("ep.embedding", "ei.embedding")} AS cosine
         FROM cand c
         JOIN embeddings ep ON ep.vec_id = c.probe_id
         JOIN embeddings ei ON ei.vec_id = c.index_id)
       SELECT probe_id, index_id, cosine FROM scored WHERE cosine >= 0.4
       ORDER BY probe_id, index_id"""
  }

  /** CDC diff oracle: same derived new-snapshot CTE, same full-outer
    * hash compare. */
  private def snapshotDiffOracle: String =
    s"""WITH oldt AS (SELECT doc_id, md5(text) AS old_hash FROM documents),
       newt AS (
         SELECT doc_id,
           md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS new_hash
         FROM documents WHERE doc_id % 7 <> 0
         UNION ALL
         SELECT doc_id + ${graft.operators.Snapshot.AddedIdOffset}, md5(text)
         FROM documents WHERE doc_id % 11 = 0)
       SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              ELSE 'changed' END AS change,
         o.old_hash, n.new_hash
       FROM oldt o FULL OUTER JOIN newt n ON o.doc_id = n.doc_id
       WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.old_hash <> n.new_hash
       ORDER BY doc_id, change"""

  /** Oracle for the LSH bucket audit (`TextDedup.lshBucketAudit` at
    * cap 4). The Spark side audits buckets over SET representatives
    * ([[TextDedup.collapseExact]]); since every band signature is a
    * function of the shingle set alone, the DuckDB twin needs no rep
    * selection — `DISTINCT list_sort(hs)` IS the set-rep population
    * (the sort matters: Spark's `hashed_shingle_set` is sorted, while
    * `list_distinct` keeps first-occurrence order, so unsorted lists
    * of equal sets would not collapse under DISTINCT). */
  private def lshBucketAuditOracle: String = {
    import TextDedup._
    val mhCols = (0 until NumHashes).map(k =>
      s"list_min(list_transform(hs, h -> (h * ${permA(k)} + ${permB(k)}) % $MinhashMod)) AS mh$k")
      .mkString(",\n             ")
    val bandSelects = (0 until Bands).map { b =>
      val sig = (0 until RowsPerBand).map(r => s"mh${b * RowsPerBand + r}").mkString(", ")
      s"SELECT $b AS band, concat_ws('-', $sig) AS sig FROM mh"
    }.mkString("\n           UNION ALL ")
    s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
       shs AS (SELECT doc_id, ${hashedShinglesSql(ShingleN)} AS hs FROM t),
       dist AS (SELECT DISTINCT list_sort(hs) AS hs FROM shs),
       mh AS (SELECT $mhCols FROM dist),
       bands AS ($bandSelects),
       buckets AS (SELECT band, sig, count(*) AS n FROM bands GROUP BY band, sig)
       SELECT band,
         CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(max(n) AS BIGINT) AS max_bucket,
         CAST(sum(CASE WHEN n > 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_capped_buckets,
         CAST(sum(CASE WHEN n > 4 THEN n ELSE 0 END) AS BIGINT) AS capped_mass
       FROM buckets GROUP BY band ORDER BY band"""
  }

  private def minhashOracle: String = {
    import TextDedup._
    s"""WITH $minhashCtes
       SELECT doc_a, doc_b,
         CASE WHEN sz - inter = 0 THEN 0.0 ELSE inter / (sz - inter) END AS jaccard
       FROM scored
       WHERE CASE WHEN sz - inter = 0 THEN 0.0 ELSE inter / (sz - inter) END >= $JaccardThreshold
       ORDER BY doc_a, doc_b"""
  }

  /** Connected components of the near-dup pair graph as a recursive CTE:
    * reach(node, r) = ids reachable over undirected pair edges; the
    * cluster id is the minimum reachable id — exactly the fixpoint the
    * Spark side's min-label propagation converges to. */
  private def dedupClustersOracle: String = {
    import TextDedup._
    s"""WITH RECURSIVE $minhashCtes,
       pairs AS (
         SELECT doc_a, doc_b FROM scored
         WHERE CASE WHEN sz - inter = 0 THEN 0.0 ELSE inter / (sz - inter) END >= $JaccardThreshold),
       edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
       reach AS (
         SELECT src AS node, src AS r FROM edges
         UNION
         SELECT e.src AS node, re.r FROM edges e JOIN reach re ON e.dst = re.node)
       SELECT node AS doc_id, min(r) AS cluster_id
       FROM reach GROUP BY node ORDER BY doc_id"""
  }

  /** SCD2 full-recompute SQL — the oracle for BOTH `q_scd2_history` and
    * `q_scd2_merge` (the merge's contract is exact equality with the
    * recompute over the same events). */
  private def scd2HistorySql: String =
    """WITH e AS (
         SELECT user_id, event_type, event_id,
           CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_us, value
         FROM events)
       SELECT user_id, event_type,
         CAST(row_number() OVER w AS BIGINT) AS version,
         ts_us AS valid_from_us,
         lead(ts_us) OVER w AS valid_to_us,
         value,
         CAST(CASE WHEN lead(ts_us) OVER w IS NULL THEN 1 ELSE 0 END
           AS BIGINT) AS is_current
       FROM e
       WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts_us, event_id)
       ORDER BY user_id, event_type, version"""

  /** Survivorship oracle: the cluster CTE chain of [[dedupClustersOracle]]
    * plus the quality-score derivation of `q_quality_score` (same
    * expressions, so the double is bit-identical to Spark's), then a
    * per-cluster argmax window (quality DESC, doc_id ASC). */
  private def survivorshipOracle: String = {
    import TextDedup._
    s"""WITH RECURSIVE $minhashCtes,
       pairs AS (
         SELECT doc_a, doc_b FROM scored
         WHERE CASE WHEN sz - inter = 0 THEN 0.0 ELSE inter / (sz - inter) END >= $JaccardThreshold),
       edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
       reach AS (
         SELECT src AS node, src AS r FROM edges
         UNION
         SELECT e.src AS node, re.r FROM edges e JOIN reach re ON e.dst = re.node),
       labels AS (SELECT node AS doc_id, min(r) AS cluster_id
                  FROM reach GROUP BY node),
       qt AS (SELECT doc_id, text, ${toksSql("text")} AS toks FROM documents),
       qf AS (SELECT doc_id,
           CAST(len(toks) AS DOUBLE) AS n_tok_d,
           CAST(len(list_filter(toks, w -> list_contains($stopsSqlEn, w))) AS DOUBLE) AS n_stop,
           CAST(length(text) AS DOUBLE) AS n_chars_d,
           CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE) AS n_punct
         FROM qt),
       q AS (SELECT doc_id,
           (CASE WHEN n_tok_d = 0 THEN 0.0 ELSE n_stop / n_tok_d END) * 2.0
             + (CASE WHEN n_tok_d >= 20 THEN 0.5 ELSE 0.0 END)
             - (CASE WHEN n_chars_d = 0 THEN 0.0 ELSE n_punct / n_chars_d END) AS quality_score
         FROM qf)
       SELECT l.doc_id, l.cluster_id, q.quality_score,
         CAST(CASE WHEN row_number() OVER (PARTITION BY l.cluster_id
             ORDER BY q.quality_score DESC, l.doc_id) = 1
           THEN 1 ELSE 0 END AS BIGINT) AS is_survivor
       FROM labels l JOIN q ON l.doc_id = q.doc_id
       ORDER BY l.doc_id"""
  }

  /** Oracle for the 16-bit simhash, generated bit by bit over the
    * once-hashed token multiset. */
  /** CTE chain ending in `sims(doc_id, sim)` — the 16-bit simhash per
    * document, same bit assembly as [[graft.expressions.SimHash16]]. */
  private def simhashCtes(where: String = ""): String = {
    val bitSums = (0 until 16).map { j =>
      val p = 1 << j
      s"list_sum(list_transform(hs, h -> CASE WHEN h % ${2 * p} >= $p THEN 1 ELSE -1 END)) AS s$j"
    }.mkString(",\n           ")
    val assemble = (0 until 16).map { j =>
      s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    s"""t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents $where),
       th AS (SELECT doc_id, list_transform(toks, t -> ${md5b16Sql("t")}) AS hs FROM t),
       b AS (SELECT doc_id,
           $bitSums
           FROM th),
       sims AS (SELECT doc_id, CAST($assemble AS BIGINT) AS sim FROM b)"""
  }

  private def simhashOracle: String =
    s"""WITH ${simhashCtes()}
       SELECT doc_id, sim AS simhash FROM sims ORDER BY doc_id"""

  /** 60-bit twin of [[simhashCtes]]: BIGINT token hashes (15-nibble
    * md5 prefix, computed from a once-projected hex string), bitwise
    * `(h >> j) & 1` sign sums, 60-bit assemble. */
  private def simhash60Ctes: String = {
    val bitSums = (0 until 60).map { j =>
      s"list_sum(list_transform(hs, h -> CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END)) AS s$j"
    }.mkString(",\n           ")
    val assemble = (0 until 60).map { j =>
      s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    s"""t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
       hx AS (SELECT doc_id, list_transform(toks, t -> md5(t)) AS hxs FROM t),
       th AS (SELECT doc_id,
           list_transform(hxs, h -> CAST(${md5b60Sql("h")} AS BIGINT)) AS hs
         FROM hx),
       b60 AS (SELECT doc_id,
           $bitSums
           FROM th),
       sims AS (SELECT doc_id, CAST($assemble AS BIGINT) AS sim FROM b60)"""
  }

  /** DuckDB twin of [[TextDedup.simhashPairs60]]. */
  private def simhashPairs60Oracle: String = {
    import TextDedup._
    val bandRows = (0 until Simhash60Bands).map(b => s"($b)").mkString(", ")
    val mask = (1 << Simhash60BandBits) - 1
    s"""WITH $simhash60Ctes,
       bands AS (SELECT doc_id, sim, band,
           (sim >> (band * $Simhash60BandBits)) & $mask AS sig
         FROM sims CROSS JOIN (VALUES $bandRows) AS v(band))
       SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
       FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
       WHERE a.doc_id < b.doc_id
         AND bit_count(xor(a.sim, b.sim)) <= $SimhashMaxDist
       ORDER BY doc_a, doc_b"""
  }

  /** DuckDB twin of [[TextDedup.qSimhashPairs16]] — the demoted 16-bit
    * teaching variant: banded (band, sig) candidate join over the
    * simhash, popcount verify, on the deterministic ¼ sample. */
  private def simhashPairs16Oracle: String = {
    import TextDedup._
    val bandRows = (0 until SimhashBands).map(b => s"($b)").mkString(", ")
    val mask = (1 << SimhashBandBits) - 1
    s"""WITH ${simhashCtes("WHERE doc_id % 4 = 0")},
       bands AS (SELECT doc_id, sim, band,
           (sim >> (band * $SimhashBandBits)) & $mask AS sig
         FROM sims CROSS JOIN (VALUES $bandRows) AS v(band))
       SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
       FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
       WHERE a.doc_id < b.doc_id
         AND bit_count(xor(a.sim, b.sim)) <= $SimhashMaxDist
       ORDER BY doc_a, doc_b"""
  }

  /** Shared CTE block for the curation capstones: stages 1–5 (split,
    * exact-dup keep set, near-dup drop set, quality features, embedding
    * norms) re-derived in SQL. Assumes [[minhashCtes]] precedes it. */
  private def curateBaseCtes: String = {
    import TextDedup._
    val b = md5b16Sql("('split:' || CAST(doc_id AS VARCHAR))")
    s"""neardrop AS (
         SELECT DISTINCT doc_b AS doc_id FROM scored
         WHERE CASE WHEN sz - inter = 0 THEN 0.0 ELSE inter / (sz - inter) END >= $JaccardThreshold),
       keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       qt AS (SELECT doc_id, text, ${toksSql("text")} AS toks FROM documents),
       qf AS (SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(len(toks) AS DOUBLE) AS n_tok_d,
           CAST(len(list_filter(toks, w -> list_contains($stopsSqlEn, w))) AS DOUBLE) AS n_stop,
           CAST(length(text) AS DOUBLE) AS n_chars_d,
           CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE) AS n_punct
         FROM qt),
       quality AS (
         SELECT doc_id, n_tokens,
           (CASE WHEN n_tok_d = 0 THEN 0.0 ELSE n_stop / n_tok_d END) * 2.0
             + (CASE WHEN n_tok_d >= 20 THEN 0.5 ELSE 0.0 END)
             - (CASE WHEN n_chars_d = 0 THEN 0.0 ELSE n_punct / n_chars_d END) AS quality_score
         FROM qf),
       train AS (SELECT doc_id FROM documents WHERE $b % 100 < 80),
       emb AS (SELECT vec_id AS doc_id, ${normSql("embedding")} AS emb_norm FROM embeddings)"""
  }

  /** Capstone oracle: all five curation stages re-derived in one SQL
    * statement over the shared minhash CTE chain. */
  private def curateOracle: String =
    s"""WITH $minhashCtes,
       $curateBaseCtes
       SELECT q.doc_id, q.n_tokens, q.quality_score, e.emb_norm
       FROM quality q
       JOIN keep USING (doc_id)
       JOIN train USING (doc_id)
       LEFT JOIN emb e USING (doc_id)
       WHERE q.doc_id NOT IN (SELECT doc_id FROM neardrop)
         AND q.quality_score >= ${graft.operators.Curate.QualityThreshold}
       ORDER BY doc_id"""

  /** Capstone v8 oracle — strip-then-curate: the CDC strip chain
    * (shared-fp detection over the whole corpus, removal, chunk-order
    * re-assembly) re-derived between the dedup CTEs and a quality
    * derivation computed over the CLEAN text (`vq*` CTEs — the raw
    * `quality` CTE of [[curateBaseCtes]] goes unreferenced and DuckDB
    * never evaluates it). */
  private def curateV8Oracle: String =
    s"""WITH $minhashCtes,
       $curateBaseCtes,
       $cdcChunksSql,
       sbanned AS (SELECT fp FROM cdc_out GROUP BY fp
                   HAVING count(DISTINCT doc_id) >= 2),
       skept AS (SELECT c.doc_id, c.chunk_id, c.chunk_text
                 FROM cdc_out c LEFT JOIN sbanned b ON c.fp = b.fp
                 WHERE b.fp IS NULL),
       ska AS (SELECT doc_id,
                 string_agg(chunk_text, ' ' ORDER BY chunk_id)
                   AS clean_text,
                 CAST(count(*) AS BIGINT) AS n_kept
               FROM skept GROUP BY doc_id),
       stot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
                FROM cdc_out GROUP BY doc_id),
       stripped AS (SELECT d.doc_id,
           coalesce(ska.clean_text, '') AS clean_text,
           CAST(coalesce(stot.n_chunks, 0) - coalesce(ska.n_kept, 0)
             AS BIGINT) AS n_dropped_chunks
         FROM documents d
         LEFT JOIN ska ON ska.doc_id = d.doc_id
         LEFT JOIN stot ON stot.doc_id = d.doc_id),
       vqt AS (SELECT doc_id, clean_text AS ctext,
           ${toksSql("clean_text")} AS toks FROM stripped),
       vqf AS (SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(len(toks) AS DOUBLE) AS n_tok_d,
           CAST(len(list_filter(toks, w -> list_contains($stopsSqlEn, w))) AS DOUBLE) AS n_stop,
           CAST(length(ctext) AS DOUBLE) AS n_chars_d,
           CAST(length(ctext) - length(regexp_replace(ctext, '[^a-z0-9 ]', '', 'g')) AS DOUBLE) AS n_punct
         FROM vqt),
       vquality AS (
         SELECT doc_id, n_tokens,
           (CASE WHEN n_tok_d = 0 THEN 0.0 ELSE n_stop / n_tok_d END) * 2.0
             + (CASE WHEN n_tok_d >= 20 THEN 0.5 ELSE 0.0 END)
             - (CASE WHEN n_chars_d = 0 THEN 0.0 ELSE n_punct / n_chars_d END) AS quality_score
         FROM vqf)
       SELECT s.doc_id, s.clean_text, s.n_dropped_chunks,
         q.n_tokens, q.quality_score, e.emb_norm
       FROM stripped s
       JOIN vquality q USING (doc_id)
       JOIN keep USING (doc_id)
       JOIN train USING (doc_id)
       LEFT JOIN emb e USING (doc_id)
       WHERE s.doc_id NOT IN (SELECT doc_id FROM neardrop)
         AND q.quality_score >= ${graft.operators.Curate.QualityThreshold}
       ORDER BY doc_id"""

  /** Capstone v2 oracle: stages 1–5 plus the corpus-filter gates
    * (repetition, decontamination, PII accounting), all re-derived. */
  /** v2's gate CTEs (repetition, decontamination, PII) — shared by the
    * v2 and v3 oracles; assumes [[minhashCtes]]+[[curateBaseCtes]]. */
  private def curateV2Ctes: String = {
    import graft.operators.CorpusFilters._
    s"""reps AS (SELECT doc_id, CAST(len(toks) AS INTEGER) AS r_n_tokens,
                  CAST(len(${hashedShinglesSql(2)}) AS INTEGER) AS r_n_uniq
                FROM t),
       rterm AS (SELECT doc_id, unnest(toks) AS term FROM t),
       rcnt AS (SELECT doc_id, term, count(*) AS tf FROM rterm GROUP BY doc_id, term),
       rmx AS (SELECT doc_id, max(tf) AS max_tf FROM rcnt GROUP BY doc_id),
       repkeep AS (
         SELECT reps.doc_id FROM reps LEFT JOIN rmx USING (doc_id)
         WHERE (CASE WHEN r_n_tokens = 0 THEN 0.0
                 ELSE CAST(COALESCE(max_tf, 0) AS DOUBLE) / CAST(r_n_tokens AS DOUBLE) END) <= $TopTokenFracMax
           AND (CASE WHEN r_n_tokens <= 1 THEN 1.0
                 ELSE CAST(r_n_uniq AS DOUBLE) / (CAST(r_n_tokens AS DOUBLE) - 1.0) END) >= $UniqBigramFracMin),
       shs5 AS (SELECT doc_id, ${hashedShinglesSql(ContamShingleN)} AS hs FROM t),
       banned AS (SELECT DISTINCT unnest(hs) AS h FROM shs5 WHERE doc_id % $EvalMod = 0),
       tr5 AS (SELECT doc_id, unnest(hs) AS h FROM shs5 WHERE doc_id % $EvalMod <> 0),
       contamhit AS (SELECT DISTINCT doc_id FROM tr5 JOIN banned USING (h)),
       notcontam AS (
         SELECT doc_id FROM documents WHERE doc_id % $EvalMod <> 0
           AND doc_id NOT IN (SELECT doc_id FROM contamhit)),
       pii AS (SELECT doc_id,
           CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
             '$EmailPattern', '[EMAIL]', 'g'), '$PhonePattern', '[PHONE]', 'g'),
             '$IpPattern', '[IP]', 'g')) AS INTEGER) AS n_chars_redacted
         FROM documents)"""
  }

  /** v2's final select; v3 appends its gate joins and filters. */
  private def curateV2Select(extraJoins: String = "",
                             extraWhere: String = ""): String =
    s"""SELECT q.doc_id, q.n_tokens, q.quality_score, e.emb_norm, p.n_chars_redacted
       FROM quality q
       JOIN keep USING (doc_id)
       JOIN train USING (doc_id)
       JOIN repkeep USING (doc_id)
       JOIN notcontam USING (doc_id)
       $extraJoins
       JOIN pii p USING (doc_id)
       LEFT JOIN emb e USING (doc_id)
       WHERE q.doc_id NOT IN (SELECT doc_id FROM neardrop)
         AND q.quality_score >= ${graft.operators.Curate.QualityThreshold}
         $extraWhere
       ORDER BY doc_id"""

  private def curateV2Oracle: String =
    s"""WITH $minhashCtes,
       $curateBaseCtes,
       $curateV2Ctes
       ${curateV2Select()}"""

  /** v3's gate CTEs (rare-token gate + repeated-span boilerplate gate)
    * — shared by the v3 and v4 oracles; assumes the v2 chain. Ends
    * with `spk(doc_id, island, s, e)` (the span list, which v4's strip
    * step reuses) and `boiler`. */
  private def curateV3Ctes: String = {
    import TextDedup._
    val k = SpanGram
    s"""ccnt AS (SELECT term, count(*) AS cnt FROM rterm GROUP BY term),
       rarekeep AS (
         SELECT doc_id FROM rterm JOIN ccnt USING (term)
         GROUP BY doc_id
         HAVING 2 * sum(CASE WHEN cnt <= ${graft.operators.TrainPrep.RareCutoff}
                        THEN 1 ELSE 0 END) <= count(*)),
       sp0 AS (SELECT doc_id, toks,
                 unnest(generate_series(0, len(toks) - $k)) AS pos
               FROM t),
       sp1 AS (SELECT doc_id, pos,
                 md5(array_to_string(list_slice(toks, pos + 1, pos + $k), ' ')) AS hx
               FROM sp0),
       sp2 AS (SELECT doc_id, pos, ${md5b60Sql("hx")} AS sh FROM sp1),
       sph AS (SELECT doc_id, pos FROM
                 (SELECT doc_id, pos, count(*) OVER (PARTITION BY sh) AS nn
                  FROM sp2) AS z
               WHERE nn >= 2),
       spi AS (SELECT doc_id, pos,
                 CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $k
                      THEN 0 ELSE 1 END AS newi
               FROM sph),
       spj AS (SELECT doc_id, pos,
                 sum(newi) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
               FROM spi),
       spk AS (SELECT doc_id, island, min(pos) AS s, max(pos) + $k AS e
               FROM spj GROUP BY doc_id, island),
       spcov AS (SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS covered
                 FROM spk GROUP BY doc_id),
       boiler AS (SELECT spcov.doc_id
                  FROM spcov JOIN (SELECT doc_id, len(toks) AS ntk FROM t) AS tt
                    USING (doc_id)
                  WHERE 2 * covered > ntk)"""
  }

  /** DuckDB twin of [[graft.operators.Curate.curateV3]]: v2 plus the
    * integer-exact rare-token gate (corpus frequency join-back) and the
    * repeated-span boilerplate gate (positional 60-bit shingle hashes →
    * window count → islands → coverage vs token count). */
  private def curateV3Oracle: String =
    s"""WITH $minhashCtes,
       $curateBaseCtes,
       $curateV2Ctes,
       $curateV3Ctes
       ${curateV2Select(
         extraJoins = "JOIN rarekeep USING (doc_id)",
         extraWhere = "AND q.doc_id NOT IN (SELECT doc_id FROM boiler)")}"""

  /** DuckDB twin of [[graft.operators.Curate.curateV4]]: the v3 keep
    * set emitting the TRAINING text — span-stripped via the same `spk`
    * span list the boilerplate gate derived. */
  private def curateV4Oracle: String = curateV4OracleWith("", "")

  /** v4 emit oracle, parameterized so v5 can splice in additional
    * gate CTEs and keep-set predicates without duplicating the
    * 60-line chain. */
  private def curateV4OracleWith(extraCtes: String, extraWhere: String): String =
    s"""${curateEmitCtes(extraCtes, extraWhere)}
       SELECT k.doc_id,
         coalesce(sagg.clean_text, '') AS clean_text,
         CAST(len(t.toks) AS BIGINT) AS n_before,
         coalesce(sagg.n_after, 0) AS n_after,
         k.quality_score
       FROM v4keep k
       JOIN t ON k.doc_id = t.doc_id
       LEFT JOIN sagg ON k.doc_id = sagg.doc_id
       ORDER BY k.doc_id"""

  /** The emit chain WITHOUT a final select — shared by the v4/v5
    * oracles and the train-shard capstone, which packs the emitted
    * clean text instead of reporting it. */
  private def curateEmitCtes(extraCtes: String, extraWhere: String): String =
    s"""WITH $minhashCtes,
       $curateBaseCtes,
       $curateV2Ctes,
       $curateV3Ctes$extraCtes,
       v4keep AS (
         SELECT q.doc_id, q.quality_score
         FROM quality q
         JOIN keep USING (doc_id)
         JOIN train USING (doc_id)
         JOIN repkeep USING (doc_id)
         JOIN notcontam USING (doc_id)
         JOIN rarekeep USING (doc_id)
         WHERE q.doc_id NOT IN (SELECT doc_id FROM neardrop)
           AND q.quality_score >= ${graft.operators.Curate.QualityThreshold}
           AND q.doc_id NOT IN (SELECT doc_id FROM boiler)$extraWhere),
       stok AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS token
                FROM (SELECT doc_id, toks,
                        unnest(generate_series(1, len(toks))) AS i
                      FROM t WHERE len(toks) > 0) z),
       skept AS (SELECT doc_id, pos, token FROM stok
                 WHERE NOT EXISTS (SELECT 1 FROM spk
                   WHERE spk.doc_id = stok.doc_id
                     AND stok.pos >= spk.s AND stok.pos < spk.e)),
       sagg AS (SELECT doc_id,
                  string_agg(token, ' ' ORDER BY pos) AS clean_text,
                  CAST(count(*) AS BIGINT) AS n_after
                FROM skept GROUP BY doc_id)"""

  /** v5's splice arguments, shared by the v5 oracle and the shard
    * capstone. */
  private def v5ExtraCtes: String = {
    val mx = graft.operators.CorpusAnalytics.RareBigramMax
    s""",
       bocc AS (SELECT doc_id, toks[i] AS h, toks[i + 1] AS x
                FROM (SELECT doc_id, toks,
                        unnest(generate_series(1, len(toks) - 1)) AS i
                      FROM t WHERE len(toks) > 1) z),
       bpc AS (SELECT h, x, count(*) AS nc FROM bocc GROUP BY h, x),
       rbdrop AS (SELECT bocc.doc_id
                  FROM bocc JOIN bpc USING (h, x)
                  GROUP BY bocc.doc_id
                  HAVING 2 * sum(CASE WHEN nc <= $mx THEN 1 ELSE 0 END)
                           > count(*))"""
  }
  private def v5ExtraWhere: String =
    """
           AND q.doc_id NOT IN (SELECT doc_id FROM rbdrop)"""

  /** Training-shard capstone oracle: the v5 emit chain feeding the
    * sequence-packing arithmetic — shards packed from CLEAN text. */
  private def trainShardsOracle: String = {
    import graft.operators.TrainPrep.{PackBudget, PackShards}
    s"""${curateEmitCtes(v5ExtraCtes, v5ExtraWhere)},
       v5out AS (SELECT k.doc_id,
                   coalesce(sagg.n_after, 0) AS n_tokens
                 FROM v4keep k
                 LEFT JOIN sagg ON k.doc_id = sagg.doc_id),
       pk AS (SELECT doc_id, doc_id % $PackShards AS shard, n_tokens,
                CAST(coalesce(sum(n_tokens) OVER (PARTITION BY doc_id % $PackShards
                  ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                  AND 1 PRECEDING), 0) AS BIGINT) AS prefix
              FROM v5out)
       SELECT doc_id, shard, n_tokens,
         prefix // $PackBudget AS seq_id, prefix % $PackBudget AS tok_offset
       FROM pk ORDER BY doc_id"""
  }

  /** Shard manifest oracle: the packed-shard CTE chain aggregated to
    * per-(shard, seq) receipts with the xor membership checksum. */
  private def shardManifestOracle: String = {
    import graft.operators.TrainPrep.{PackBudget, PackShards}
    val b = md5b60Sql("md5('shard:' || CAST(doc_id AS VARCHAR))")
    s"""${curateEmitCtes(v5ExtraCtes, v5ExtraWhere)},
       v5out AS (SELECT k.doc_id,
                   coalesce(sagg.n_after, 0) AS n_tokens
                 FROM v4keep k
                 LEFT JOIN sagg ON k.doc_id = sagg.doc_id),
       pk AS (SELECT doc_id, doc_id % $PackShards AS shard, n_tokens,
                CAST(coalesce(sum(n_tokens) OVER (PARTITION BY doc_id % $PackShards
                  ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                  AND 1 PRECEDING), 0) AS BIGINT) AS prefix
              FROM v5out)
       SELECT shard, prefix // $PackBudget AS seq_id,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         bit_xor($b) AS checksum
       FROM pk GROUP BY 1, 2 ORDER BY shard, seq_id"""
  }

  /** v5 = v4 + the rare-bigram gibberish gate: documents where MORE
    * than half the adjacent-token transitions are corpus-rare leave
    * (2·n_rare > n_bigrams — integer, engine-identical). */
  private def curateV5Oracle: String =
    curateV4OracleWith(v5ExtraCtes, v5ExtraWhere)

  /** The distilled classifier's (token → weight) table as a DuckDB CASE
    * over the lambda variable — generated from the SAME Scala constant
    * the Spark side folds over, so the two engines cannot drift. */
  private def clfCaseSql(v: String): String = {
    val whens = graft.operators.CorpusFilters.ClassifierWeights
      .map { case (t, w) => s"WHEN '$t' THEN $w" }.mkString(" ")
    s"CASE $v $whens ELSE 0 END"
  }
  private def clfRawSql(toks: String): String =
    // Null-preserving to match Spark: tokens(null text) is a null array,
    // so classifierScore emits null clf_raw/keep_clf — the oracle must
    // not coalesce that to a 0 score (ADVICE r9 item 1).
    s"""CASE WHEN $toks IS NULL THEN NULL
        ELSE CAST(coalesce(list_sum(list_transform($toks, tok -> ${clfCaseSql("tok")})), 0) AS BIGINT) END"""

  /** v6 = v5 + the distilled-classifier keep (mean token weight below
    * threshold leaves; integer cross-multiply, engine-identical). */
  private def v6ExtraCtes: String =
    // IS NOT TRUE (not `NOT`): Spark keeps a doc iff keep_clf is TRUE,
    // so a null-text doc (null predicate) must land in clfdrop too.
    s""",
       clfdrop AS (SELECT doc_id FROM t
                   WHERE (${clfRawSql("toks")} * ${graft.operators.CorpusFilters.ClassifierDen}
                     >= CAST(len(toks) AS BIGINT)) IS NOT TRUE)"""
  private def v6ExtraWhere: String =
    """
           AND q.doc_id NOT IN (SELECT doc_id FROM clfdrop)"""
  private def curateV6Oracle: String =
    curateV4OracleWith(v5ExtraCtes + v6ExtraCtes, v5ExtraWhere + v6ExtraWhere)

  /** v7 = v6 + the DSIR domain gate: survivors whose target-vs-corpus
    * importance weight is ≤ 0 leave (integer micro-nat sum, identical
    * qln spelling to the q_dsir_weights oracle; dw_-prefixed CTEs to
    * stay clear of the chain's names). */
  private def v7ExtraCtes: String = {
    val tg = graft.operators.TrainPrep.DsirTargetSource
    s""",
       dw_dt AS (SELECT doc_id, source, tk.w AS w,
                   CAST(count(*) AS BIGINT) AS k
                 FROM (SELECT doc_id, source, ${toksSql("text")} AS toks
                       FROM documents) dsrc, UNNEST(toks) AS tk(w)
                 GROUP BY doc_id, source, tk.w),
       dw_raw AS (SELECT w, CAST(sum(k) AS BIGINT) AS n_raw
                  FROM dw_dt GROUP BY w),
       dw_tgt AS (SELECT w, CAST(sum(k) AS BIGINT) AS n_tgt
                  FROM dw_dt WHERE source = '$tg' GROUP BY w),
       dw_tot AS (SELECT CAST(count(*) AS BIGINT) AS v,
                    CAST(sum(n_raw) AS BIGINT) AS nn_raw,
                    CAST(coalesce(sum(n_tgt), 0) AS BIGINT) AS nn_tgt
                  FROM dw_raw LEFT JOIN dw_tgt USING (w)),
       dw_drop AS (SELECT dw_dt.doc_id
                   FROM dw_dt JOIN dw_raw USING (w)
                        LEFT JOIN dw_tgt USING (w) CROSS JOIN dw_tot
                   GROUP BY dw_dt.doc_id
                   HAVING CAST(sum(k * (
                       CAST(round(ln(coalesce(n_tgt, 0) + 1) * 1000000) AS BIGINT)
                       - CAST(round(ln(nn_tgt + v) * 1000000) AS BIGINT)
                       - CAST(round(ln(n_raw + 1) * 1000000) AS BIGINT)
                       + CAST(round(ln(nn_raw + v) * 1000000) AS BIGINT)))
                     AS BIGINT) <= 0)"""
  }
  private def v7ExtraWhere: String =
    """
           AND q.doc_id NOT IN (SELECT doc_id FROM dw_drop)"""
  private def curateV7Oracle: String =
    curateV4OracleWith(v5ExtraCtes + v6ExtraCtes + v7ExtraCtes,
      v5ExtraWhere + v6ExtraWhere + v7ExtraWhere)

  /** DuckDB-runnable ANSI SQL equivalents, same parquet tables, same
    * column aliases, same ORDER BY. Table names resolve because Verify's
    * driver-side DuckDB maps `<name>` → `<sfDir>/<name>.parquet`.
    */
  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_base_price,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_disc_price,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_charge,
         count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q3_shipping_priority" ->
      """SELECT l_orderkey,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
         strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
         o_orderpriority
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-03-15'
           AND l_shipdate > TIMESTAMP '1995-03-15'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, l_orderkey
         LIMIT 10""",
    "q5_region_volume" ->
      """SELECT n_name,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY n_name
         ORDER BY revenue DESC, n_name""",
    "q_top_orders_per_cust" ->
      """SELECT o_custkey, o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice, rk
         FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) DESC, o_orderkey) AS rk
           FROM orders)
         WHERE rk <= 3
         ORDER BY o_custkey, rk""",
    "q_semi_join" ->
      """SELECT o_orderpriority, count(*) AS n_orders
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",
    "q_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers
         FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')
         GROUP BY c_mktsegment
         ORDER BY c_mktsegment""",
    "q_union_branches" ->
      """SELECT bucket, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
         FROM (
           SELECT o_custkey, 'urgent' AS bucket FROM orders WHERE o_orderpriority = '1-URGENT'
           UNION ALL
           SELECT o_custkey, 'low' AS bucket FROM orders WHERE o_orderpriority = '5-LOW')
         GROUP BY bucket
         ORDER BY bucket""",
    // NB each sum is CAST AS BIGINT: DuckDB types sum(CASE..) as HUGEINT
    // (decimal128) while Spark's sum(when(..)) is BIGINT — identical values,
    // different typed hash. Same trick as the CAST-to-DOUBLE money sums.
    "q_pivot_status_year" ->
      """SELECT o_orderstatus, count(*) AS total,
         CAST(sum(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END) AS BIGINT) AS y1995,
         CAST(sum(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END) AS BIGINT) AS y1996,
         CAST(sum(CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0 END) AS BIGINT) AS y1997,
         CAST(sum(CASE WHEN year(o_orderdate) = 1998 THEN 1 ELSE 0 END) AS BIGINT) AS y1998,
         CAST(sum(CASE WHEN year(o_orderdate) = 1999 THEN 1 ELSE 0 END) AS BIGINT) AS y1999,
         CAST(sum(CASE WHEN year(o_orderdate) = 2000 THEN 1 ELSE 0 END) AS BIGINT) AS y2000,
         CAST(sum(CASE WHEN year(o_orderdate) = 2001 THEN 1 ELSE 0 END) AS BIGINT) AS y2001
         FROM orders
         GROUP BY o_orderstatus
         ORDER BY o_orderstatus""",
    "q_unpivot_status_year" -> {
      val wide =
        """SELECT o_orderstatus,
           """ + Relational.PivotYears.map(y =>
          s"CAST(sum(CASE WHEN year(o_orderdate) = $y THEN 1 ELSE 0 END) AS BIGINT) AS y$y")
          .mkString(",\n           ") +
        """
           FROM orders GROUP BY o_orderstatus"""
      val arms = Relational.PivotYears.map(y =>
        s"SELECT o_orderstatus, $y AS year, y$y AS n_orders FROM wide")
        .mkString("\n           UNION ALL ")
      s"""WITH wide AS ($wide),
         u AS ($arms)
         SELECT o_orderstatus, year, n_orders FROM u
         ORDER BY o_orderstatus, year"""
    },
    "q_full_outer" ->
      """WITH p AS (
           SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                  count(*) AS n_purchases
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         c AS (
           SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                  count(*) AS n_clicks
           FROM events WHERE event_type = 'click' GROUP BY 1)
         SELECT COALESCE(p.hour, c.hour) AS hour,
           CAST(COALESCE(n_purchases, 0) AS BIGINT) AS n_purchases,
           CAST(COALESCE(n_clicks, 0) AS BIGINT) AS n_clicks
         FROM p FULL JOIN c ON p.hour = c.hour
         ORDER BY hour""",
    "q_user_event_types" ->
      """SELECT user_id, count(DISTINCT event_type) AS n_types,
         array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_csv
         FROM events GROUP BY user_id ORDER BY user_id""",
    "q14_promo_revenue" ->
      """WITH j AS (
           SELECT p_type,
             CAST(l_extendedprice AS DECIMAL(12,2)) *
               (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) AS rev
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE l_shipdate >= TIMESTAMP '1997-06-01'
             AND l_shipdate < TIMESTAMP '1997-07-01'),
         s AS (
           SELECT
             CAST(round(sum(CASE WHEN p_type LIKE 'PROMO%' THEN rev
                                 ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS DOUBLE) AS promo_revenue,
             CAST(round(sum(rev), 2) AS DOUBLE) AS total_revenue
           FROM j)
         SELECT promo_revenue, total_revenue,
           CASE WHEN total_revenue = 0.0 THEN 0.0
                ELSE promo_revenue * 100.0 / total_revenue END AS promo_pct
         FROM s""",
    "q7_volume_shipping" ->
      """SELECT supp_nation, cust_nation, l_year,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
         FROM (
           SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                  CAST(year(l_shipdate) AS INTEGER) AS l_year,
                  l_extendedprice, l_discount
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation n1 ON s_nationkey = n1.n_nationkey
           JOIN nation n2 ON c_nationkey = n2.n_nationkey
           WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
             AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31')
         GROUP BY supp_nation, cust_nation, l_year
         ORDER BY supp_nation, cust_nation, l_year""",
    "q18_large_orders" ->
      """WITH big AS (
           SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty
           FROM lineitem GROUP BY l_orderkey
           HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 300)
         SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice,
           CAST(round(qty, 2) AS DOUBLE) AS total_qty
         FROM orders JOIN big ON o_orderkey = l_orderkey
         JOIN customer ON o_custkey = c_custkey
         ORDER BY total_qty DESC, o_orderkey""",
    "q6_forecast_revenue" ->
      """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount >= CAST(0.05 AS DOUBLE) AND l_discount <= CAST(0.07 AS DOUBLE)
           AND l_quantity < 24""",
    "q_set_ops" ->
      """SELECT op, n_custkeys FROM (
           SELECT 'both' AS op, count(*) AS n_custkeys FROM (
             SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
             INTERSECT
             SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
           UNION ALL
           SELECT 'segment_only' AS op, count(*) AS n_custkeys FROM (
             SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
             EXCEPT
             SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'))
         ORDER BY op""",
    // rank/dense_rank are value functions, so price ties carry no
    // cross-engine order ambiguity
    "q_price_ranks" ->
      """WITH r AS (
           SELECT p_brand, p_partkey, p_retailprice,
             CAST(rank() OVER w AS BIGINT) AS price_rank,
             CAST(dense_rank() OVER w AS BIGINT) AS price_dense
           FROM part
           WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC))
         SELECT p_brand, p_partkey, p_retailprice, price_rank, price_dense
         FROM r WHERE price_rank <= 10
         ORDER BY p_brand, price_rank, p_partkey""",
    "q_sql_surface" ->
      """SELECT c_mktsegment,
         count(*) AS n_orders,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment
         ORDER BY c_mktsegment""",
    "q10_returned_items" ->
      """SELECT c_custkey, c_name,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
         CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS c_acctbal, n_name
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1996-04-01'
         GROUP BY c_custkey, c_name, c_acctbal, n_name
         ORDER BY revenue DESC, c_custkey
         LIMIT 20""",
    "q13_order_distribution" ->
      """SELECT c_count, count(*) AS custdist
         FROM (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer
           LEFT JOIN orders ON c_custkey = o_custkey
             AND o_orderpriority <> '1-URGENT'
           GROUP BY c_custkey)
         GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC""",
    // avg threshold spelled CAST(sum)/CAST(count): avg(DECIMAL) is
    // DECIMAL in Spark but DOUBLE in DuckDB — the explicit divide makes
    // both engines run the identical IEEE op
    "q22_idle_customers" ->
      """WITH t AS (
           SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE) AS avg_bal
           FROM customer WHERE CAST(c_acctbal AS DECIMAL(12,2)) > 0)
         SELECT c_mktsegment, count(*) AS n_customers,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_acctbal
         FROM customer CROSS JOIN t
         WHERE CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) > avg_bal
           AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         GROUP BY c_mktsegment
         ORDER BY c_mktsegment""",
    "q2_min_cost_supplier" ->
      """WITH ps AS (
           SELECT l_partkey, l_suppkey,
                  min(CAST(l_extendedprice AS DECIMAL(12,2))) AS cost
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1995-01-01'
             AND l_shipdate < TIMESTAMP '2002-01-01'
           GROUP BY l_partkey, l_suppkey),
         eu AS (
           SELECT s_suppkey, s_name, s_acctbal, n_name
           FROM supplier JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           WHERE r_name = 'EUROPE'),
         r AS (
           SELECT CAST(CAST(s_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS s_acctbal,
                  s_name, n_name, p_partkey, p_type,
                  CAST(cost AS DOUBLE) AS supplycost,
                  row_number() OVER (PARTITION BY p_partkey
                    ORDER BY cost, s_suppkey) AS rk
           FROM ps JOIN eu ON l_suppkey = s_suppkey
           JOIN part ON l_partkey = p_partkey
           WHERE p_size = 15)
         SELECT s_acctbal, s_name, n_name, p_partkey, p_type, supplycost
         FROM r WHERE rk = 1
         ORDER BY s_acctbal DESC, s_name, p_partkey
         LIMIT 100""",
    "q4_priority_orders" ->
      """SELECT o_orderpriority, count(*) AS n_orders
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1996-04-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",
    "q8_market_share" ->
      """WITH j AS (
           SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                  CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) AS rev,
                  n2.n_name AS supp_nation
           FROM lineitem
           JOIN part ON l_partkey = p_partkey
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation n1 ON c_nationkey = n1.n_nationkey
           JOIN region ON n1.n_regionkey = r_regionkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation n2 ON s_nationkey = n2.n_nationkey
           WHERE r_name = 'ASIA' AND p_type = 'PROMO'
             AND o_orderdate >= TIMESTAMP '1996-01-01'
             AND o_orderdate < TIMESTAMP '1998-01-01'),
         s AS (
           SELECT o_year,
             CAST(round(sum(CASE WHEN supp_nation = 'NATION_7' THEN rev
                                 ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS DOUBLE) AS nation_revenue,
             CAST(round(sum(rev), 2) AS DOUBLE) AS total_revenue
           FROM j GROUP BY o_year)
         SELECT o_year, nation_revenue, total_revenue,
           CASE WHEN total_revenue = 0.0 THEN 0.0
                ELSE nation_revenue / total_revenue END AS mkt_share
         FROM s ORDER BY o_year""",
    "q9_profit_by_nation" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
         CAST(round(sum(
           CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
           - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(0.10 AS DECIMAL(4,2)) * CAST(l_quantity AS DECIMAL(12,2))
         ), 2) AS DOUBLE) AS sum_profit
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         WHERE p_name LIKE '%widget%'
         GROUP BY n_name, o_year
         ORDER BY nation, o_year DESC""",
    "q11_important_parts" ->
      """WITH v AS (
           SELECT l_partkey AS partkey,
                  sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS value_d
           FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           WHERE n_name = 'NATION_1'
           GROUP BY l_partkey),
         t AS (SELECT CAST(sum(value_d) AS DOUBLE) AS total_d FROM v)
         SELECT partkey, CAST(round(value_d, 2) AS DOUBLE) AS value
         FROM v CROSS JOIN t
         WHERE CAST(value_d AS DOUBLE) > total_d * 0.001
         ORDER BY value DESC, partkey""",
    "q12_late_lines" ->
      """SELECT l_linestatus,
         CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_shipdate > o_orderdate + INTERVAL 30 DAY
         GROUP BY l_linestatus
         ORDER BY l_linestatus""",
    "q15_top_supplier" ->
      """WITH rev AS (
           SELECT l_suppkey,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS total_revenue
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1996-04-01'
           GROUP BY l_suppkey),
         m AS (SELECT max(total_revenue) AS mx FROM rev)
         SELECT s_suppkey, s_name, total_revenue
         FROM supplier JOIN rev ON s_suppkey = l_suppkey
         CROSS JOIN m
         WHERE total_revenue = mx
         ORDER BY s_suppkey""",
    "q16_part_supplier_counts" ->
      """SELECT p_brand, p_type, p_size,
         count(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 10, 15, 20)
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY p_brand, p_type, p_size
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    "q17_small_qty_revenue" ->
      """WITH pa AS (
           SELECT l_partkey AS pa_key,
             CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS avg_qty
           FROM lineitem GROUP BY l_partkey)
         SELECT COALESCE(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE), 0.0)
           / 7.0 AS avg_yearly
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN pa ON l_partkey = pa_key
         WHERE p_brand = 'Brand#3'
           AND l_quantity < avg_qty * CAST(0.2 AS DOUBLE)""",
    "q19_disjunctive_revenue" ->
      """SELECT COALESCE(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE), 0.0) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""",
    "q20_top_share_suppliers" ->
      """WITH ps AS (
           SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1997-01-01'
           GROUP BY l_partkey, l_suppkey),
         pp AS (
           SELECT ps.* FROM ps
           JOIN part ON l_partkey = p_partkey
           WHERE p_name LIKE 'red%'),
         tot AS (
           SELECT l_partkey AS t_partkey, CAST(sum(qty) AS DOUBLE) AS total_qty
           FROM pp GROUP BY l_partkey),
         q AS (
           SELECT DISTINCT l_suppkey FROM pp
           JOIN tot ON l_partkey = t_partkey
           WHERE CAST(qty AS DOUBLE) > total_qty * CAST(0.5 AS DOUBLE))
         SELECT s_suppkey, s_name FROM supplier
         WHERE s_suppkey IN (SELECT l_suppkey FROM q)
         ORDER BY s_suppkey""",
    "q21_waiting_suppliers" ->
      """WITH l AS (
           SELECT l_orderkey, l_suppkey,
                  CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
                       THEN l_suppkey END AS late_supp
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE o_orderstatus = 'F'),
         a AS (
           SELECT l_orderkey,
                  count(DISTINCT l_suppkey) AS n_supp,
                  count(DISTINCT late_supp) AS n_late,
                  max(late_supp) AS the_late_supp
           FROM l GROUP BY l_orderkey)
         SELECT s_name, count(*) AS numwait
         FROM a JOIN supplier ON the_late_supp = s_suppkey
         WHERE n_supp > 1 AND n_late = 1
         GROUP BY s_name
         ORDER BY numwait DESC, s_name
         LIMIT 20""",
    "q_bill_search" ->
      s"""SELECT bill_number, session.session_name AS session, status,
         regexp_replace(texts[1].state_link, '#.+$$', '') AS link,
         title, description
         FROM ${fx("bills")}
         WHERE contains(title, 'affordab') OR contains(description, 'affordab')
            OR contains(title, 'cost') OR contains(description, 'cost')
         ORDER BY session, bill_number""",
    "q_legislator_counts" ->
      s"""WITH latest AS (
           SELECT people_id, name, role, district, committee_id FROM (
             SELECT *, row_number() OVER (PARTITION BY people_id ORDER BY session DESC) AS rk
             FROM ${fx("people")}) WHERE rk = 1),
         known AS (SELECT list(people_id) AS ids FROM latest),
         -- credit ids resolve against the known-legislator table; fall back
         -- to the first listed sponsor only when no primary id resolves
         -- (legislator_bill_counts_run.R:114-122)
         credits AS (
           SELECT sess, unnest(
             CASE WHEN len(list_intersect(list_transform(list_filter(sponsors, s -> s.sponsor_type_id = 1), s -> s.people_id), known.ids)) > 0
                  THEN list_intersect(list_transform(list_filter(sponsors, s -> s.sponsor_type_id = 1), s -> s.people_id), known.ids)
                  ELSE list_intersect(list_transform(sponsors[1:1], s -> s.people_id), known.ids) END) AS people_id
           FROM (SELECT CAST(session.year_start AS VARCHAR) || '-' || CAST(session.year_end AS VARCHAR) AS sess, sponsors
                 FROM ${fx("bills")} WHERE bill_type = 'B' AND status = 4) CROSS JOIN known),
         counts AS (
           SELECT people_id,
             CAST(sum(CASE WHEN sess = '2017-2018' THEN 1 ELSE 0 END) AS BIGINT) AS s2017_2018,
             CAST(sum(CASE WHEN sess = '2019-2020' THEN 1 ELSE 0 END) AS BIGINT) AS s2019_2020,
             CAST(sum(CASE WHEN sess = '2021-2022' THEN 1 ELSE 0 END) AS BIGINT) AS s2021_2022
           FROM credits GROUP BY people_id)
         SELECT name,
           CASE WHEN role = 'Rep' THEN 'Asm' ELSE role END AS chamber,
           regexp_replace(district, '^HD-', 'AD-') AS district,
           COALESCE(s2017_2018, CAST(0 AS BIGINT)) AS s2017_2018,
           COALESCE(s2019_2020, CAST(0 AS BIGINT)) AS s2019_2020,
           COALESCE(s2021_2022, CAST(0 AS BIGINT)) AS s2021_2022,
           -- NB: spelled out (not via the aliases above) — DuckDB binds a
           -- name to the base table column (NULL for unmatched) before a
           -- same-named lateral alias.
           COALESCE(s2017_2018, CAST(0 AS BIGINT)) + COALESCE(s2019_2020, CAST(0 AS BIGINT))
             + COALESCE(s2021_2022, CAST(0 AS BIGINT)) AS total,
           ((CASE WHEN COALESCE(s2017_2018, 0) > 0 THEN 1 ELSE 0 END) +
            (CASE WHEN COALESCE(s2019_2020, 0) > 0 THEN 1 ELSE 0 END) +
            (CASE WHEN COALESCE(s2021_2022, 0) > 0 THEN 1 ELSE 0 END)) * 2 AS years_in_data,
           CASE WHEN years_in_data = 0 THEN 'NaN'::DOUBLE
                ELSE CAST(total AS DOUBLE) / years_in_data END AS bills_per_year
         FROM latest LEFT JOIN counts USING (people_id)
         WHERE committee_id = 0
         ORDER BY name, district, chamber, total""",
    "q_latest_people" ->
      s"""SELECT people_id, name, role, district, committee_id, session FROM (
           SELECT *, row_number() OVER (PARTITION BY people_id ORDER BY session DESC) AS rk
           FROM ${fx("people")})
         WHERE rk = 1 ORDER BY people_id""",
    "q_dodd_side_branch" ->
      s"""WITH latest AS (
           SELECT people_id FROM (
             SELECT people_id, row_number() OVER (PARTITION BY people_id ORDER BY session DESC) AS rk
             FROM ${fx("people")}) WHERE rk = 1),
         known AS (SELECT list(people_id) AS ids FROM latest),
         credits AS (
           SELECT session, bill_number, status_date, title, description,
             CASE WHEN len(list_intersect(prim_ids, known.ids)) > 0
                  THEN list_intersect(prim_ids, known.ids)
                  ELSE list_intersect(first_ids, known.ids) END AS ids
           FROM (SELECT CAST(session.year_start AS VARCHAR) || '-' || CAST(session.year_end AS VARCHAR) AS session,
                   bill_number, status_date, title, description,
                   list_transform(list_filter(sponsors, s -> s.sponsor_type_id = 1), s -> s.people_id) AS prim_ids,
                   list_transform(sponsors[1:1], s -> s.people_id) AS first_ids
                 FROM ${fx("bills")} WHERE bill_type = 'B' AND status = 4) CROSS JOIN known)
         SELECT session, bill_number, status_date, title, description
         FROM credits WHERE list_contains(ids, 9007)
         ORDER BY session, bill_number""",
    "q_fulltext_search" ->
      s"""WITH corpus AS (
           SELECT file, trim(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               html, '<[^>]+>', ' ', 'g'),
               '&amp;', '&', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'),
               '&nbsp;', ' ', 'g'), '&quot;', '"', 'g'), '&#39;', chr(39), 'g'),
             '\\s+', ' ', 'g')) AS text
           FROM ${fx("bill_texts")}),
         matched AS (
           SELECT t.term, c.file FROM corpus c
           CROSS JOIN (VALUES ('appropriation'), ('education'), ('water')) t(term)
           WHERE contains(lower(c.text), lower(t.term)))
         SELECT term, file,
           regexp_replace(file, '^20[0-9]{2}_([A-Z]+)([0-9]+)\\.html$$', '\\1 \\2') AS bill,
           CASE WHEN CAST(regexp_extract(file, '^(20[0-9]{2})_', 1) AS INTEGER) % 2 = 1
                THEN regexp_extract(file, '^(20[0-9]{2})_', 1) || '-' ||
                     CAST(CAST(regexp_extract(file, '^(20[0-9]{2})_', 1) AS INTEGER) + 1 AS VARCHAR)
                ELSE CAST(CAST(regexp_extract(file, '^(20[0-9]{2})_', 1) AS INTEGER) - 1 AS VARCHAR)
                     || '-' || regexp_extract(file, '^(20[0-9]{2})_', 1) END AS fiscal_year,
           'https://leginfo.legislature.ca.gov/faces/billTextClient.xhtml?bill_id=' ||
             replace(fiscal_year, '-', '') || '0' || replace(bill, ' ', '') AS link
         FROM matched
         ORDER BY term, file""",
    "q_budget_bills" ->
      s"""WITH raw_lines AS (
           SELECT year, unnest(string_split(text, chr(10))) AS line FROM ${fx("sbud")}),
         lines AS (SELECT year, ltrim(line) AS line FROM raw_lines)
         SELECT year,
           replace(regexp_replace(line, '^([AS][BC]A? [0-9]+).*$$', '\\1'), ' ', '') AS bill_number
         FROM lines WHERE regexp_matches(line, '^[AS][BC]A? [0-9]')
         ORDER BY year, bill_number""",
    // the PDF-fed spelling must land on the SAME rows as the
    // ground-truth-text oracle — this is the hash gate that certifies
    // PdfText.extract end to end
    "q_budget_bills_pdf" ->
      s"""WITH raw_lines AS (
           SELECT year, unnest(string_split(text, chr(10))) AS line FROM ${fx("sbud")}),
         lines AS (SELECT year, ltrim(line) AS line FROM raw_lines)
         SELECT year,
           replace(regexp_replace(line, '^([AS][BC]A? [0-9]+).*$$', '\\1'), ' ', '') AS bill_number
         FROM lines WHERE regexp_matches(line, '^[AS][BC]A? [0-9]')
         ORDER BY year, bill_number""",
    "q_budget_semi_join" ->
      s"""WITH raw_lines AS (
           SELECT year, unnest(string_split(text, chr(10))) AS line FROM ${fx("sbud")}),
         budget AS (
           SELECT year,
             replace(regexp_replace(ltrim(line), '^([AS][BC]A? [0-9]+).*$$', '\\1'), ' ', '') AS bill_number
           FROM raw_lines WHERE regexp_matches(ltrim(line), '^[AS][BC]A? [0-9]')),
         b2 AS (
           SELECT CASE WHEN year % 2 = 1
                       THEN CAST(year AS VARCHAR) || '-' || CAST(year + 1 AS VARCHAR)
                       ELSE CAST(year - 1 AS VARCHAR) || '-' || CAST(year AS VARCHAR) END AS sess,
                  bill_number
           FROM budget)
         SELECT CAST(b.session.year_start AS VARCHAR) || '-' || CAST(b.session.year_end AS VARCHAR) AS session,
                b.bill_number, b.status
         FROM ${fx("bills")} b
         WHERE EXISTS (SELECT 1 FROM b2
                       WHERE b2.sess = CAST(b.session.year_start AS VARCHAR) || '-' || CAST(b.session.year_end AS VARCHAR)
                         AND b2.bill_number = b.bill_number)
         ORDER BY session, bill_number""",
    "q_chaptered_texts" ->
      s"""SELECT CAST(session.year_start AS VARCHAR) || '-' || CAST(session.year_end AS VARCHAR) AS session,
           bill_number, texts[-1].doc_id AS last_doc_id,
           CAST(len(texts) AS INTEGER) AS n_texts
         FROM ${fx("bills")}
         WHERE list_contains([x.type for x in texts], 'Chaptered')
         ORDER BY session, bill_number""",
    "q_decode_payloads" ->
      s"""WITH d AS (
           SELECT doc_id, file, decode(from_base64(payload_b64)) AS html FROM ${fx("doc_payloads")})
         SELECT doc_id, file, CAST(length(html) AS INTEGER) AS n_chars,
                contains(html, 'appropriated') AS has_appropriation
         FROM d ORDER BY file""",
    "q_texts_per_session" ->
      s"""SELECT CAST(session.year_start AS VARCHAR) || '-' || CAST(session.year_end AS VARCHAR) AS session,
         CAST(sum(len(texts)) AS BIGINT) AS n_texts_total,
         CAST(sum(CASE WHEN list_contains([x.type for x in texts], 'Chaptered')
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_chaptered
         FROM ${fx("bills")} GROUP BY 1 ORDER BY session""",
    "q_appropriations" ->
      s"""WITH corpus AS (
           SELECT file, trim(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               html, '<[^>]+>', ' ', 'g'),
               '&amp;', '&', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'),
               '&nbsp;', ' ', 'g'), '&quot;', '"', 'g'), '&#39;', chr(39), 'g'),
             '\\s+', ' ', 'g')) AS text
           FROM ${fx("bill_texts")}),
         m AS (SELECT file, unnest(regexp_extract_all(text, 'sum of \\$$([0-9,]+)', 1)) AS amount_str
               FROM corpus)
         SELECT file, CAST(replace(amount_str, ',', '') AS BIGINT) AS amount
         FROM m ORDER BY file, amount""",
    "q_dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
         CAST(count(*) AS BIGINT) AS n_copies
         FROM documents GROUP BY md5(text) ORDER BY keep_id""",
    "q_dedup_minhash" -> minhashOracle,
    "q_dedup_incremental" -> dedupIncrementalOracle,
    // the persisted-index probe is answer-invariant — same oracle
    "q_dedup_persisted" -> dedupIncrementalOracle,
    // build(odd) + append(even) + compact covers the same standing
    // population — the whole lifecycle is answer-invariant too
    "q_dedup_appended" -> dedupIncrementalOracle,
    "q_dedup_deleted" -> dedupDeletedOracle,
    "q_bloom_dedup" -> bloomDedupOracle,
    "q_snapshot_diff" -> snapshotDiffOracle,
    "q_dedup_clusters" -> dedupClustersOracle,
    "q_lsh_bucket_audit" -> lshBucketAuditOracle,
    "q_curate_corpus" -> curateOracle,
    "q_curate_v2" -> curateV2Oracle,
    "q_curate_v3" -> curateV3Oracle,
    "q_curate_v4" -> curateV4Oracle,
    "q_curate_v5" -> curateV5Oracle,
    "q_train_shards" -> trainShardsOracle,
    "q_shard_manifest" -> shardManifestOracle,
    "q_hash_split" -> {
      val b = md5b16Sql("('split:' || CAST(doc_id AS VARCHAR))")
      s"""SELECT split, lang, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM (SELECT lang, n_chars,
                 CASE WHEN $b % 100 < 80 THEN 'train'
                      WHEN $b % 100 < 90 THEN 'val'
                      ELSE 'test' END AS split
               FROM documents)
         GROUP BY split, lang ORDER BY split, lang"""
    },
    // per-source rank statistics over the shared quality derivation;
    // the doc_id tie-break makes both rank rationals exact
    "q_quality_pctl" ->
      s"""WITH t AS (SELECT doc_id, text, ${toksSql("text")} AS toks FROM documents),
         f AS (SELECT doc_id,
             CAST(len(toks) AS DOUBLE) AS n_tok_d,
             CAST(len(list_filter(toks, w -> list_contains($stopsSqlEn, w))) AS DOUBLE) AS n_stop,
             CAST(length(text) AS DOUBLE) AS n_chars_d,
             CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE) AS n_punct
           FROM t),
         q AS (SELECT doc_id,
             (CASE WHEN n_tok_d = 0 THEN 0.0 ELSE n_stop / n_tok_d END) * 2.0
               + (CASE WHEN n_tok_d >= 20 THEN 0.5 ELSE 0.0 END)
               - (CASE WHEN n_chars_d = 0 THEN 0.0 ELSE n_punct / n_chars_d END) AS quality_score
           FROM f)
         SELECT q.doc_id, d.source, q.quality_score,
           percent_rank() OVER w AS pctl,
           cume_dist() OVER w AS cd
         FROM q JOIN documents d ON q.doc_id = d.doc_id
         WINDOW w AS (PARTITION BY d.source ORDER BY q.quality_score, q.doc_id)
         ORDER BY q.doc_id""",
    // per-split reproducibility manifest: xor of 60-bit content hashes
    // commutes, so the checksum is partitioning-independent; null text
    // hashes to NULL and is skipped by bit_xor in both engines
    "q_split_manifest" -> {
      val b = md5b16Sql("('split:' || CAST(doc_id AS VARCHAR))")
      s"""WITH s AS (SELECT n_chars, text,
             CASE WHEN $b % 100 < 80 THEN 'train'
                  WHEN $b % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
           FROM documents),
         h AS (SELECT split, n_chars, md5(text) AS hx FROM s)
         SELECT split, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(bit_xor(CAST(${md5b60Sql("hx")} AS BIGINT)) AS BIGINT)
             AS content_xor60
         FROM h GROUP BY split ORDER BY split"""
    },
    "q_simhash" -> simhashOracle,
    "q_simhash_pairs" -> simhashPairs60Oracle,
    "q_simhash_pairs16" -> simhashPairs16Oracle,
    "q_ngram_jaccard" ->
      s"""WITH t AS (SELECT doc_id, source, ${toksSql("text")} AS toks FROM documents),
         shs AS (SELECT doc_id, source, ${hashedShinglesSql(2)} AS hs FROM t),
         scored AS (
           SELECT a.source, a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE) AS inter,
             CAST(len(a.hs) + len(b.hs) AS DOUBLE) AS sz
           FROM shs a JOIN shs b ON a.source = b.source AND a.doc_id < b.doc_id)
         SELECT source, doc_a, doc_b,
           CASE WHEN sz - inter = 0 THEN 0.0 ELSE inter / (sz - inter) END AS jaccard
         FROM scored
         WHERE CASE WHEN sz - inter = 0 THEN 0.0 ELSE inter / (sz - inter) END >= 0.7
         ORDER BY source, doc_a, doc_b""",
    "q_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents)
         SELECT doc_id,
           ${foldSql(s"list_transform(toks, t -> CAST(${md5b16Sql("t")} AS BIGINT))",
             "CAST(0 AS BIGINT)", "(acc, x) -> (acc * 31 + x) % 2147483648")} AS fingerprint
         FROM t ORDER BY doc_id""",
    "q_text_stats" ->
      s"""SELECT lang, source, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         CAST(sum(len(${toksSql("text")})) AS BIGINT) AS sum_tokens,
         CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars
         FROM documents GROUP BY lang, source ORDER BY lang, source""",
    // trigram-profile language ID (round 15): the profile integers are
    // interpolated from the same TextStats.trigramProfile computation
    // the Spark plan embeds
    "q_lang_id" ->
      s"""WITH $langIdNgramSql
         SELECT doc_id, lang, predicted, lang = predicted AS correct
         FROM lpred ORDER BY doc_id""",
    // confusion matrix over the same trigram prediction; frac is a
    // count/count rational within each true language
    "q_langid_eval" ->
      s"""WITH $langIdNgramSql,
         c AS (SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n_docs
               FROM lpred GROUP BY lang, predicted)
         SELECT lang, predicted, n_docs,
           CAST(n_docs AS DOUBLE) /
             CAST(sum(n_docs) OVER (PARTITION BY lang) AS DOUBLE) AS frac
         FROM c ORDER BY lang, predicted""",
    "q_quality_score" ->
      s"""WITH t AS (SELECT doc_id, text, ${toksSql("text")} AS toks FROM documents),
         f AS (SELECT doc_id,
             CAST(len(toks) AS INTEGER) AS n_tokens,
             CAST(len(toks) AS DOUBLE) AS n_tok_d,
             CAST(${foldSql("list_transform(toks, x -> length(x))",
               "CAST(0 AS BIGINT)", "(acc, x) -> acc + x")} AS DOUBLE) AS sum_len,
             CAST(len(list_filter(toks, w -> list_contains($stopsSqlEn, w))) AS DOUBLE) AS n_stop,
             CAST(length(text) AS DOUBLE) AS n_chars_d,
             CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE) AS n_punct
           FROM t)
         SELECT doc_id, n_tokens,
           CASE WHEN n_tok_d = 0 THEN 0.0 ELSE sum_len / n_tok_d END AS mean_token_len,
           CASE WHEN n_tok_d = 0 THEN 0.0 ELSE n_stop / n_tok_d END AS stopword_ratio,
           CASE WHEN n_chars_d = 0 THEN 0.0 ELSE n_punct / n_chars_d END AS punct_ratio,
           (CASE WHEN n_tok_d = 0 THEN 0.0 ELSE n_stop / n_tok_d END) * 2.0
             + (CASE WHEN n_tok_d >= 20 THEN 0.5 ELSE 0.0 END)
             - (CASE WHEN n_chars_d = 0 THEN 0.0 ELSE n_punct / n_chars_d END) AS quality_score
         FROM f ORDER BY doc_id""",
    "q_length_quantiles" ->
      """SELECT lang, quantile_cont(n_chars, 0.5) AS median_chars,
         quantile_cont(n_chars, 0.9) AS p90_chars
         FROM documents GROUP BY lang ORDER BY lang""",
    // BpePattern contains a single quote — doubled for the SQL literal;
    // backslashes pass through verbatim (DuckDB strings have no escapes).
    "q_token_bpe" -> {
      val pat = TextStats.BpePattern.replace("'", "''")
      s"""SELECT doc_id,
         CAST(len(${toksSql("text")}) AS INTEGER) AS n_tokens_ws,
         CAST(len(regexp_extract_all(text, '$pat')) AS INTEGER) AS n_tokens_bpe,
         CAST(len(list_distinct(regexp_extract_all(text, '$pat'))) AS INTEGER) AS n_unique_bpe
         FROM documents ORDER BY doc_id"""
    },
    "q_bpe_merges" -> bpeMergesOracle,
    "q_bpe_encode" -> bpeEncodeOracle,
    // score keeps idf rational (tf * N / df, no log) so both engines
    // compute bit-identical doubles; ln is monotone so ranks are the
    // same as log-idf.
    "q_tfidf_top_terms" ->
      s"""WITH t AS (SELECT doc_id, unnest(${toksSql("text")}) AS term FROM documents),
         tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY doc_id, term),
         df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
         s AS (SELECT doc_id, term, tf, df,
                 CAST(tf AS DOUBLE) * n_docs / CAST(df AS DOUBLE) AS score
               FROM tf JOIN df USING (term) CROSS JOIN n),
         r AS (SELECT doc_id, term, tf, df, score,
                 row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
               FROM s)
         SELECT doc_id, term, tf, df, score, rk FROM r WHERE rk <= 3
         ORDER BY doc_id, rk""",
    "q_similar_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE $isQuerySql),
         scored AS (
           SELECT q.query_id, e.vec_id, ${cosineSql("q.qv", "e.embedding")} AS cosine
           FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         ranked AS (
           SELECT query_id, vec_id, cosine,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
           FROM scored)
         SELECT query_id, vec_id, rk, cosine FROM ranked WHERE rk <= 5
         ORDER BY query_id, rk""",
    // contrastive mining: hardest same-label positive + NegK hardest
    // different-label negatives per anchor, per-(anchor, role) windows
    "q_contrastive_pairs" -> {
      val negK = Similarity.NegK
      s"""WITH a AS (SELECT vec_id AS query_id, embedding AS qv,
             label AS q_label FROM embeddings WHERE $isQuerySql),
         scored AS (
           SELECT a.query_id,
             CASE WHEN e.label = a.q_label THEN 'positive'
                  ELSE 'negative' END AS role,
             e.vec_id, ${cosineSql("a.qv", "e.embedding")} AS cosine
           FROM embeddings e CROSS JOIN a WHERE e.vec_id <> a.query_id),
         ranked AS (
           SELECT query_id, role, vec_id, cosine,
             row_number() OVER (PARTITION BY query_id, role
               ORDER BY cosine DESC, vec_id) AS rk
           FROM scored)
         SELECT query_id, role, CAST(rk AS BIGINT) AS rk, vec_id, cosine
         FROM ranked
         WHERE (role = 'positive' AND rk = 1)
            OR (role = 'negative' AND rk <= $negK)
         ORDER BY query_id, role, rk"""
    },
    // MMR greedy re-rank: the chained-CTE unrolling of the bounded
    // driver loop (shared chain — see winnowSelSql's sibling mmrCtesSql)
    "q_similar_mmr" ->
      s"""WITH $mmrCtesSql
         SELECT query_id, vec_id, mmr_rank, rel FROM mmr
         ORDER BY query_id, mmr_rank""",
    // context assembly: the MMR list charged per-doc token counts,
    // admitted in rank order while the total BEFORE the doc is under
    // budget (boundary kept — the token_budget_mix convention)
    "q_context_assembly" -> {
      val budget = graft.operators.Retrieval.ContextBudget
      s"""WITH $mmrCtesSql,
         tok AS (SELECT doc_id,
             CAST(coalesce(len(${toksSql("text")}), 0) AS BIGINT) AS n_tokens
           FROM documents),
         j AS (SELECT m.query_id, m.mmr_rank, m.vec_id AS doc_id,
             tok.n_tokens,
             CAST(coalesce(sum(tok.n_tokens) OVER (PARTITION BY m.query_id
                 ORDER BY m.mmr_rank
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
           FROM mmr m JOIN tok ON m.vec_id = tok.doc_id)
         SELECT query_id, mmr_rank, doc_id, n_tokens,
           CAST(cum_before + n_tokens AS BIGINT) AS cum_tokens
         FROM j WHERE cum_before < $budget
         ORDER BY query_id, mmr_rank"""
    },
    // recall@3 of int8-quantized retrieval: the same floor(x/s·127+½)
    // codes as q_embed_quantize, reconstruction one */÷ chain, cosines
    // accumulated in index order — both rankings re-derived exactly
    "q_quant_recall" ->
      s"""WITH sc AS (SELECT vec_id, embedding,
           greatest(list_max(list_transform(embedding,
             x -> abs(CAST(x AS DOUBLE)))), 1e-30) AS s
           FROM embeddings),
         rec AS (SELECT vec_id,
           list_transform(embedding,
             x -> floor(CAST(x AS DOUBLE) / s * 127.0 + 0.5) * s / 127.0)
             AS recon
           FROM sc),
         q AS (SELECT vec_id AS query_id, recon AS qv
               FROM rec WHERE $isQuerySql),
         scored_a AS (
           SELECT q.query_id, r.vec_id, ${cosineSql("q.qv", "r.recon")} AS cosine
           FROM rec r CROSS JOIN q WHERE r.vec_id <> q.query_id),
         ranked_a AS (
           SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, vec_id) AS rk
           FROM scored_a),
         ap AS (SELECT query_id, vec_id FROM ranked_a WHERE rk <= 3),
         qx AS (SELECT vec_id AS query_id, embedding AS qv
                FROM embeddings WHERE $isQuerySql),
         scored_x AS (
           SELECT qx.query_id, e.vec_id,
             ${cosineSql("qx.qv", "e.embedding")} AS cosine
           FROM embeddings e CROSS JOIN qx WHERE e.vec_id <> qx.query_id),
         ranked_x AS (
           SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, vec_id) AS rk
           FROM scored_x),
         ex AS (SELECT query_id, vec_id FROM ranked_x WHERE rk <= 3),
         hits AS (SELECT ex.query_id, CAST(count(*) AS BIGINT) AS n_hit
                  FROM ex JOIN ap ON ex.query_id = ap.query_id
                    AND ex.vec_id = ap.vec_id
                  GROUP BY ex.query_id)
         SELECT q.query_id,
           coalesce(h.n_hit, 0) AS n_hit,
           CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 3 AS recall
         FROM qx q LEFT JOIN hits h ON q.query_id = h.query_id
         ORDER BY q.query_id""",
    "q_similar_ann" ->
      s"""WITH bands AS ($bandedIndexSql),
         qb AS (SELECT vec_id AS query_id, band, sig FROM bands WHERE $isQuerySql),
         cand AS (SELECT DISTINCT b.vec_id, q.query_id
                  FROM bands b JOIN qb q ON b.band = q.band AND b.sig = q.sig
                  WHERE b.vec_id <> q.query_id),
         scored AS (
           SELECT c.query_id, c.vec_id,
             ${cosineSql("qe.embedding", "e.embedding")} AS cosine
           FROM cand c
           JOIN embeddings e ON e.vec_id = c.vec_id
           JOIN embeddings qe ON qe.vec_id = c.query_id),
         ranked AS (
           SELECT query_id, vec_id, cosine,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
           FROM scored)
         SELECT query_id, vec_id, rk, cosine FROM ranked WHERE rk <= 3
         ORDER BY query_id, rk""",
    "q_similar_ann2" -> {
      val flips = "sig" +: (0 until Similarity.PlanesPerBand)
        .map(j => s"xor(sig, ${1 << j})")
      s"""WITH bands AS ($bandedIndexSql),
         qb AS (SELECT vec_id AS query_id, band, sig FROM bands WHERE $isQuerySql),
         probes AS (SELECT query_id, band,
             unnest([${flips.mkString(", ")}]) AS sig FROM qb),
         cand AS (SELECT DISTINCT b.vec_id, q.query_id
                  FROM bands b JOIN probes q ON b.band = q.band AND b.sig = q.sig
                  WHERE b.vec_id <> q.query_id),
         scored AS (
           SELECT c.query_id, c.vec_id,
             ${cosineSql("qe.embedding", "e.embedding")} AS cosine
           FROM cand c
           JOIN embeddings e ON e.vec_id = c.vec_id
           JOIN embeddings qe ON qe.vec_id = c.query_id),
         ranked AS (
           SELECT query_id, vec_id, cosine,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
           FROM scored)
         SELECT query_id, vec_id, rk, cosine FROM ranked WHERE rk <= 3
         ORDER BY query_id, rk"""
    },
    "q_embed_neardup" ->
      s"""WITH bands AS ($bandedIndexSql),
         cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
                  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
                  WHERE a.vec_id < b.vec_id),
         scored AS (
           SELECT c.vec_a, c.vec_b,
             ${cosineSql("ea.embedding", "eb.embedding")} AS cosine
           FROM cand c
           JOIN embeddings ea ON ea.vec_id = c.vec_a
           JOIN embeddings eb ON eb.vec_id = c.vec_b)
         SELECT vec_a, vec_b, cosine FROM scored WHERE cosine >= 0.4
         ORDER BY vec_a, vec_b""",
    "q_embed_incremental" -> embedIncrementalOracle,
    "q_similar_ivf" ->
      s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
                     WHERE $isCentroidSql),
         d AS (SELECT e.vec_id, e.embedding, c.centroid_id,
                 ${cosineSql("e.embedding", "c.cv")} AS dist
               FROM embeddings e CROSS JOIN c),
         a AS (SELECT vec_id, embedding, centroid_id AS cell FROM (
                 SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY dist DESC, centroid_id) AS rk FROM d)
               WHERE rk = 1),
         q AS (SELECT vec_id AS query_id, embedding AS qv, cell FROM a
               WHERE $isQuerySql),
         s AS (SELECT q.query_id, a.vec_id, ${cosineSql("q.qv", "a.embedding")} AS cosine
               FROM a JOIN q ON a.cell = q.cell WHERE a.vec_id <> q.query_id),
         r AS (SELECT query_id, vec_id, cosine,
                 row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
               FROM s)
         SELECT query_id, vec_id, rk, cosine FROM r WHERE rk <= 3
         ORDER BY query_id, rk""",
    // SemDeDup over the certified stride-IVF cells: dominance rule —
    // dropped iff a lower-id same-cell vector clears the threshold
    "q_semantic_dedup" ->
      s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
                     WHERE $isCentroidSql),
         d AS (SELECT e.vec_id, e.embedding, c.centroid_id,
                 ${cosineSql("e.embedding", "c.cv")} AS dist
               FROM embeddings e CROSS JOIN c),
         a AS (SELECT vec_id, embedding, centroid_id AS cell FROM (
                 SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY dist DESC, centroid_id) AS rk FROM d)
               WHERE rk = 1),
         dom AS (SELECT DISTINCT b.vec_id
                 FROM a x JOIN a b ON x.cell = b.cell AND x.vec_id < b.vec_id
                 WHERE ${cosineSql("x.embedding", "b.embedding")} >= 0.4)
         SELECT a.vec_id, a.cell, (dom.vec_id IS NOT NULL) AS dropped
         FROM a LEFT JOIN dom ON a.vec_id = dom.vec_id
         ORDER BY a.vec_id""",
    // the AUTO-SIZED cells: (stride, count) derived from count(*) with
    // the same ceil(sqrt)/floor-div arithmetic as
    // Similarity.autoCentroidParams — both engines size identically —
    // and centroids selected by RANK stride (centroidsByRank's twin;
    // rank == vec_id on the dense fixture)
    "q_semantic_dedup_auto" ->
      s"""WITH p AS (SELECT
             greatest(1, CAST(count(*) AS BIGINT) //
               greatest(1, CAST(ceil(sqrt(count(*))) AS BIGINT))) AS stride,
             greatest(1, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS cnum
           FROM embeddings),
         rnkv AS (SELECT vec_id, embedding,
               row_number() OVER (ORDER BY vec_id) - 1 AS vrk
             FROM embeddings),
         c AS (SELECT vec_id AS centroid_id, embedding AS cv
               FROM rnkv, p
               WHERE vrk % p.stride = 0 AND vrk < p.stride * p.cnum),
         d AS (SELECT e.vec_id, e.embedding, c.centroid_id,
                 ${cosineSql("e.embedding", "c.cv")} AS dist
               FROM embeddings e CROSS JOIN c),
         a AS (SELECT vec_id, embedding, centroid_id AS cell FROM (
                 SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY dist DESC, centroid_id) AS rk FROM d)
               WHERE rk = 1),
         dom AS (SELECT DISTINCT b.vec_id
                 FROM a x JOIN a b ON x.cell = b.cell AND x.vec_id < b.vec_id
                 WHERE ${cosineSql("x.embedding", "b.embedding")} >= 0.4)
         SELECT a.vec_id, a.cell, (dom.vec_id IS NOT NULL) AS dropped
         FROM a LEFT JOIN dom ON a.vec_id = dom.vec_id
         ORDER BY a.vec_id""",
    // the TWO-LEVEL assignment (Similarity.ivfCellsTwoLevel): coarse
    // params derive from the fine count with the SAME ceil(sqrt)/
    // floor-div arithmetic; every rank carries the identical
    // (dist DESC, id ASC) tie-break, so the deterministic
    // coarse→refine approximation replays exactly
    "q_semantic_dedup_auto2" ->
      s"""WITH $twoLevelCellsSql,
         dom AS (SELECT DISTINCT b.vec_id
                 FROM a x JOIN a b ON x.cell = b.cell AND x.vec_id < b.vec_id
                 WHERE ${cosineSql("x.embedding", "b.embedding")} >= 0.4)
         SELECT a.vec_id, a.cell, (dom.vec_id IS NOT NULL) AS dropped
         FROM a LEFT JOIN dom ON a.vec_id = dom.vec_id
         ORDER BY a.vec_id""",
    // the same two-level cells composed with the probed search —
    // ivfTopKTwoLevel's "no downstream schema change" claim replayed
    "q_similar_ivf_2lvl" ->
      s"""WITH $twoLevelCellsSql,
         q AS (SELECT vec_id AS query_id, embedding AS qv, cell FROM a
               WHERE $isQuerySql),
         s AS (SELECT q.query_id, a.vec_id, ${cosineSql("q.qv", "a.embedding")} AS cosine
               FROM a JOIN q ON a.cell = q.cell WHERE a.vec_id <> q.query_id),
         r AS (SELECT query_id, vec_id, cosine,
                 row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
               FROM s)
         SELECT query_id, vec_id, rk, cosine FROM r WHERE rk <= 3
         ORDER BY query_id, rk""",
    // SemDeDup admission on the append-shaped split: standing = the
    // dense id prefix (structures + cells from it), probe = the tail,
    // dropped iff ANY standing same-cell vector clears the threshold
    "q_semantic_admission" ->
      s"""WITH tsplit AS (SELECT (count(*) * 9) // 10 AS t FROM embeddings),
         std AS (SELECT vec_id, embedding FROM embeddings, tsplit
                 WHERE vec_id < t),
         pr AS (SELECT vec_id, embedding FROM embeddings, tsplit
                WHERE vec_id >= t),
         ${twoLevelStructSql("std")},
         ${twoLevelAssignSql("std", "vgs", "a")},
         ${twoLevelAssignSql("pr", "vgp", "pa")},
         dom AS (SELECT DISTINCT pa.vec_id
                 FROM pa JOIN a ON pa.cell = a.cell
                 WHERE ${cosineSql("pa.embedding", "a.embedding")} >= 0.4)
         SELECT pa.vec_id AS probe_id, pa.cell,
           (dom.vec_id IS NOT NULL) AS dropped
         FROM pa LEFT JOIN dom ON pa.vec_id = dom.vec_id
         ORDER BY probe_id""",
    // rank-selection certificates: the SAME two-level chains over a
    // sparse/offset re-keyed id view (holes: ids ≡ 0 mod 3 removed;
    // re-key: 7·id + 3) — the id shape the r16 raw-id stride selection
    // require()d away. Rank stride selects the full ⌈√n⌉ centroid set
    // on both engines regardless of the id line.
    "q_semantic_dedup_sparse" ->
      s"""WITH semb AS (SELECT vec_id * 7 + 3 AS vec_id, embedding
               FROM embeddings WHERE vec_id % 3 <> 0),
         ${twoLevelStructSql("semb")},
         ${twoLevelAssignSql("semb", "vg", "a")},
         dom AS (SELECT DISTINCT b.vec_id
                 FROM a x JOIN a b ON x.cell = b.cell AND x.vec_id < b.vec_id
                 WHERE ${cosineSql("x.embedding", "b.embedding")} >= 0.4)
         SELECT a.vec_id, a.cell, (dom.vec_id IS NOT NULL) AS dropped
         FROM a LEFT JOIN dom ON a.vec_id = dom.vec_id
         ORDER BY a.vec_id""",
    // admission on a MODULO split over the sparse ids — the standing
    // corpus is full of holes at every stride, so only rank selection
    // can size its centroid set
    "q_semantic_admission_sparse" ->
      s"""WITH semb AS (SELECT vec_id * 7 + 3 AS vec_id, embedding
               FROM embeddings WHERE vec_id % 3 <> 0),
         std AS (SELECT vec_id, embedding FROM semb WHERE vec_id % 5 <> 0),
         pr AS (SELECT vec_id, embedding FROM semb WHERE vec_id % 5 = 0),
         ${twoLevelStructSql("std")},
         ${twoLevelAssignSql("std", "vgs", "a")},
         ${twoLevelAssignSql("pr", "vgp", "pa")},
         dom AS (SELECT DISTINCT pa.vec_id
                 FROM pa JOIN a ON pa.cell = a.cell
                 WHERE ${cosineSql("pa.embedding", "a.embedding")} >= 0.4)
         SELECT pa.vec_id AS probe_id, pa.cell,
           (dom.vec_id IS NOT NULL) AS dropped
         FROM pa LEFT JOIN dom ON pa.vec_id = dom.vec_id
         ORDER BY probe_id""",
    "q_similar_ivf2" -> ivfProbedOracle,
    // the persisted-index probe MUST be answer-invariant vs the
    // rebuilt-per-call form — same oracle, word for word
    "q_similar_ivf_persisted" -> ivfProbedOracle,
    // build+append must equal the all-at-once build — same oracle again
    "q_similar_ivf_appended" -> ivfProbedOracle,
    "q_similar_ivf_deleted" -> ivfDeletedOracle,
    "q_similar_pq_deleted" -> pqDeletedOracle,
    "q_similar_ivf_quantized" -> ivfQuantizedOracle,
    // PQ/ADC: codebook training rows, exact integer encode, the ADC
    // table, shortlist and exact re-rank all re-derive from the raw
    // corpus — the landed codebook/codes layout and the append must be
    // answer-invariant
    "q_similar_pq" ->
      s"""WITH $pqChainSql
         SELECT query_id, vec_id, rk, cosine FROM pq_ranked WHERE rk <= 3
         ORDER BY query_id, rk""",
    // IVF-PQ: the two-level cells prune candidates to the query's 2
    // probed cells (coarse rank-1, fine rank ≤ 2 — the Spark side's
    // nprobe), then the PQ tail ranks ONLY those pairs by ADC before
    // the exact re-rank
    "q_similar_ivfpq" ->
      s"""WITH $twoLevelCellsSql,
         $ivfPqQCellSql,
         pq_cand AS (SELECT q.query_id, a.vec_id
           FROM a JOIN pq_qcell q ON a.cell = q.cell
           WHERE a.vec_id <> q.query_id),
         $pqBaseSql,
         ${pqTailSql(Some("pq_cand"))}
         SELECT query_id, vec_id, rk, cosine FROM pq_ranked WHERE rk <= 3
         ORDER BY query_id, rk""",
    // residual IVF-PQ (x − centroid(cell) encoded against a residual
    // codebook, per-(query, cell) effective-codeword LUT) — integer
    // micro arithmetic end to end, so it hash-certifies like the raw
    // form despite being the FAISS-shape production encoding
    "q_similar_ivfpq_res" -> ivfPqResidualOracle,
    "q_similar_ivfpq_lloyd" -> ivfPqLloydOracle,
    "q_similar_ivfpq_spherical" -> ivfPqSphericalOracle,
    "q_similar_kmeans_int" -> kmeansIntOracle,
    "q_similar_ivfpq_learned" -> ivfPqLearnedOracle,
    "q_similar_ivfpq_deleted" -> ivfPqDeletedOracle,
    "q_ivfpq_lloyd_recall" -> ivfPqLloydRecallOracle,
    "q_ivfpq_lloyd_mse" -> ivfPqLloydMseOracle,
    "q_ivf_cell_audit" -> ivfCellAuditOracle,
    "q_ivf_cell_drift" -> ivfCellDriftOracle,
    "q_kmeans_cell_audit" -> kmeansCellAuditOracle,
    "q_similar_kmeans_auto" -> kmeansAutoOracle,
    "q_kmeans_cell_audit_auto" -> kmeansCellAuditAutoOracle,
    "q_kmeans_trade" -> kmeansTradeOracle,
    "q_similar_ivfpq_learned_auto" -> ivfPqLearnedAutoOracle,
    "q_similar_kmeans_landed" -> kmeansAutoOracle,
    "q_similar_kmeans_deleted" -> kmeansDeletedOracle,
    "q_ivfpq_nprobe_curve" -> ivfPqNprobeCurveOracle,
    // learned (Lloyd) PQ codebook — integer-mean updates keep the
    // whole training deterministic, so unlike float k-means this
    // learned index hash-certifies end to end
    "q_similar_pq_kmeans" -> pqLloydOracle,
    // the landed residual IVF-PQ index must be answer-invariant vs the
    // rebuilt-per-call form — same oracle, word for word (placement
    // and encode are per-vector pure against the frozen structures)
    "q_similar_ivfpq_persisted" -> ivfPqResidualOracle,
    // recall@3 of BOTH IVF-PQ forms vs brute force, per query — raw
    // and residual share cells/candidates, so the columns isolate code
    // fidelity; deterministic fractions hash-certify
    "q_ivfpq_recall" -> ivfPqRecallOracle,
    // stride vs learned codebook recall — what integer-mean Lloyd buys
    "q_pq_codebook_recall" -> pqCodebookRecallOracle,
    // recall of the PQ shortlist-then-re-rank vs brute force — both
    // rankings deterministic, so the fractions hash-certify
    "q_pq_recall" ->
      s"""WITH $pqChainSql,
         pq_ap AS (SELECT query_id, vec_id FROM pq_ranked WHERE rk <= 3),
         qx AS (SELECT vec_id AS query_id, embedding AS qv
                FROM embeddings WHERE $isQuerySql),
         scored_x AS (
           SELECT qx.query_id, e.vec_id,
             ${cosineSql("qx.qv", "e.embedding")} AS cosine
           FROM embeddings e CROSS JOIN qx WHERE e.vec_id <> qx.query_id),
         ranked_x AS (
           SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, vec_id) AS rk
           FROM scored_x),
         ex AS (SELECT query_id, vec_id FROM ranked_x WHERE rk <= 3),
         hits AS (SELECT ex.query_id, CAST(count(*) AS BIGINT) AS n_hit
                  FROM ex JOIN pq_ap ON ex.query_id = pq_ap.query_id
                    AND ex.vec_id = pq_ap.vec_id
                  GROUP BY ex.query_id)
         SELECT q.query_id,
           coalesce(h.n_hit, 0) AS n_hit,
           CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 3 AS recall
         FROM qx q LEFT JOIN hits h ON q.query_id = h.query_id
         ORDER BY q.query_id""",
    "q_embed_neardup_persisted" -> embedIncrementalOracle,
    "q_embed_neardup_deleted" -> embedNearDupDeletedOracle,
    // build(odd) + append(even) covers the same standing population —
    // banding is per-vector, so the append is answer-invariant too
    "q_embed_neardup_appended" -> embedIncrementalOracle,
    "q_events_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
         event_type, count(*) AS n_events,
         CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    // range bounds compared in epoch MICROS on both sides: the parquet
    // timestamps carry nanos, and a ns-precision interval compare in
    // DuckDB would disagree with Spark's us-truncated arithmetic at the
    // boundary
    "q_range_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
           c AS (SELECT user_id, ts, event_id AS click_id FROM events WHERE event_type = 'click')
         SELECT p.event_id, p.user_id, CAST(epoch_us(p.ts) AS BIGINT) AS ts_us,
           count(c.click_id) AS n_clicks_30m
         FROM p LEFT JOIN c ON p.user_id = c.user_id
           AND epoch_us(c.ts) >= epoch_us(p.ts) - 1800000000
           AND epoch_us(c.ts) <= epoch_us(p.ts)
         GROUP BY p.event_id, p.user_id, p.ts
         ORDER BY event_id""",
    // each event belongs to exactly two 1h/30m sliding windows; both
    // engines :00/:30-align (Spark: epoch origin; DuckDB: time_bucket's
    // 2000-01-01 origin — same 30-minute phase)
    "q_events_sliding" ->
      """WITH w AS (
           SELECT event_type,
             unnest([time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE,
                     time_bucket(INTERVAL '30 minutes', ts)]) AS ws
           FROM events)
         SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
           count(*) AS n_events
         FROM w GROUP BY 1, 2 ORDER BY 1, 2""",
    // rows-frame window: EXACT decimal sum / count, both over the same
    // pinned (ts_us, event_id) frame order — a windowed double-sum
    // would be last-ULP order-sensitive and engines differ in sliding
    // aggregation algorithms
    "q_rolling_avg" ->
      """SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
         CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE)
           / CAST(count(*) OVER w AS DOUBLE) AS rolling_avg_5
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, ts_us, event_id""",
    // engines disagree on default null ordering (Spark NULLS FIRST asc,
    // DuckDB NULLS LAST) — the rollup subtotal rows make it explicit
    "q_events_rollup" ->
      """SELECT event_type,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         count(*) AS n_events
         FROM events
         GROUP BY ROLLUP(event_type, hour)
         ORDER BY event_type NULLS FIRST, hour NULLS FIRST""",
    // window ORDER BY pins the µs cast: Spark's loader truncates the
    // parquet ns timestamps to µs, so ordering by raw ns would let two
    // same-µs events sort differently across engines
    "q_event_gaps" ->
      """WITH e AS (
           SELECT user_id, event_id, event_type,
                  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
           FROM events)
         SELECT user_id, event_id,
           ts_us - lag(ts_us, 1)
             OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS gap_us,
           CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS BIGINT) AS q,
           first_value(event_type)
             OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS first_type
         FROM e
         ORDER BY user_id, event_id""",
    "q_resample_hourly" ->
      """WITH ev AS (
           SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, value
           FROM events),
         c AS (
           SELECT hour, CAST(count(*) AS BIGINT) AS n_events,
             CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
           FROM ev GROUP BY hour),
         b AS (SELECT min(hour) AS lo, max(hour) AS hi FROM ev),
         s AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM b)
         SELECT strftime(s.hour, '%Y-%m-%d %H:%M:%S') AS hour,
           COALESCE(n_events, 0) AS n_events,
           COALESCE(sum_value, 0.0) AS sum_value
         FROM s LEFT JOIN c ON s.hour = c.hour
         ORDER BY hour""",
    // trailing-24h z-score on the gap-filled spine: integer window sums
    // make mean/variance rationals; z is identical IEEE arithmetic.
    // The exclusive frame (24 PRECEDING .. 1 PRECEDING) keeps the tested
    // hour out of its own baseline; flat baselines give NULL z, flag 0
    "q_hourly_anomaly" ->
      """WITH ev AS (
           SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour
           FROM events),
         c AS (SELECT hour, CAST(count(*) AS BIGINT) AS n_events
               FROM ev GROUP BY hour),
         b AS (SELECT min(hour) AS lo, max(hour) AS hi FROM ev),
         s AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM b),
         f AS (SELECT s.hour, COALESCE(n_events, 0) AS n_events
               FROM s LEFT JOIN c ON s.hour = c.hour),
         wst AS (SELECT hour, n_events,
             count(*) OVER w AS n_prior,
             CAST(sum(n_events) OVER w AS BIGINT) AS sum_prior,
             CAST(sum(n_events * n_events) OVER w AS BIGINT) AS sumsq_prior
           FROM f
           WINDOW w AS (ORDER BY hour ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
         zed AS (SELECT hour, n_events,
             CAST(sum_prior AS DOUBLE) / 24 AS mean24,
             CASE WHEN (24 * sumsq_prior - sum_prior * sum_prior) > 0 THEN
               (CAST(n_events AS DOUBLE) - CAST(sum_prior AS DOUBLE) / 24)
                 / sqrt(CAST(24 * sumsq_prior - sum_prior * sum_prior
                     AS DOUBLE) / 576)
             END AS z
           FROM wst WHERE n_prior = 24)
         SELECT strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour, n_events,
           mean24, z,
           CAST(CASE
             WHEN z IS NOT NULL THEN CASE WHEN abs(z) > 2 THEN 1 ELSE 0 END
             WHEN CAST(n_events AS DOUBLE) <> mean24 THEN 1
             ELSE 0 END AS BIGINT) AS is_anomaly
         FROM zed ORDER BY hour""",
    "q_events_cube" ->
      """WITH e AS (
           SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
           FROM events)
         SELECT event_type, day, count(*) AS n_events,
           CAST(GROUPING(event_type, day) AS BIGINT) AS gid
         FROM e
         GROUP BY CUBE (event_type, day)
         ORDER BY gid, event_type NULLS FIRST, day NULLS FIRST""",
    // weekly cohort retention: both engines' date_trunc('week', ·) is
    // Monday-start, and the day diff of two week-starts is an exact
    // multiple of 7, so integer division carries no rounding
    "q_retention_cohorts" ->
      """WITH f AS (
           SELECT user_id, date_trunc('week', min(CAST(ts AS TIMESTAMP))) AS cohort_w
           FROM events GROUP BY user_id),
         a AS (
           SELECT e.user_id, f.cohort_w,
             date_trunc('week', CAST(e.ts AS TIMESTAMP)) AS w
           FROM events e JOIN f ON e.user_id = f.user_id)
         SELECT strftime(cohort_w, '%Y-%m-%d') AS cohort_week,
           CAST(datediff('day', CAST(cohort_w AS DATE), CAST(w AS DATE)) // 7
             AS BIGINT) AS week_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM a GROUP BY cohort_w, week_offset
         ORDER BY cohort_week, week_offset""",
    // rates = the same matrix over its offset-0 count (cohort size by
    // construction); count/count rational
    "q_retention_rates" ->
      """WITH f AS (
           SELECT user_id, date_trunc('week', min(CAST(ts AS TIMESTAMP))) AS cohort_w
           FROM events GROUP BY user_id),
         a AS (
           SELECT e.user_id, f.cohort_w,
             date_trunc('week', CAST(e.ts AS TIMESTAMP)) AS w
           FROM events e JOIN f ON e.user_id = f.user_id),
         m AS (
           SELECT strftime(cohort_w, '%Y-%m-%d') AS cohort_week,
             CAST(datediff('day', CAST(cohort_w AS DATE), CAST(w AS DATE)) // 7
               AS BIGINT) AS week_offset,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
           FROM a GROUP BY cohort_w, week_offset)
         SELECT cohort_week, week_offset, n_users,
           first_value(n_users) OVER (PARTITION BY cohort_week
             ORDER BY week_offset) AS cohort_size,
           CAST(n_users AS DOUBLE) / CAST(first_value(n_users)
             OVER (PARTITION BY cohort_week ORDER BY week_offset)
             AS DOUBLE) AS rate
         FROM m ORDER BY cohort_week, week_offset""",
    // unordered reach: per-user boolean flags, K conditional sums
    "q_funnel_unordered" ->
      """WITH f AS (
           SELECT user_id,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS f1,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS f2,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS f3
           FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL
             AND event_type IN ('view', 'click', 'purchase')
           GROUP BY user_id)
         SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage,
                CAST(coalesce(sum(CASE WHEN f1 = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_users FROM f
         UNION ALL
         SELECT CAST(2 AS BIGINT), 'click',
                CAST(coalesce(sum(CASE WHEN f1 = 1 AND f2 = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM f
         UNION ALL
         SELECT CAST(3 AS BIGINT), 'purchase',
                CAST(coalesce(sum(CASE WHEN f1 = 1 AND f2 = 1 AND f3 = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM f
         ORDER BY stage_idx""",
    // strictly-ordered funnel; each stage binds to the user's earliest
    // valid µs timestamp, next stage requires ts STRICTLY after it
    "q_funnel" ->
      """WITH e AS (
           SELECT user_id, event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_us
           FROM events),
         s1 AS (SELECT user_id, min(ts_us) AS ts_us FROM e
                WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.ts_us) AS ts_us
                FROM e JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.ts_us > s1.ts_us
                GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.ts_us) AS ts_us
                FROM e JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase' AND e.ts_us > s2.ts_us
                GROUP BY e.user_id)
         SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage,
                CAST(count(*) AS BIGINT) AS n_users FROM s1
         UNION ALL
         SELECT CAST(2 AS BIGINT), 'click', CAST(count(*) AS BIGINT) FROM s2
         UNION ALL
         SELECT CAST(3 AS BIGINT), 'purchase', CAST(count(*) AS BIGINT) FROM s3
         ORDER BY stage_idx""",
    // 24h-conversion-window funnel: same chain with a bounded join
    // predicate (strictly after AND within the window of the binding)
    "q_funnel_windowed" -> {
      val w = Analytics.FunnelWindowUs
      s"""WITH e AS (
           SELECT user_id, event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_us
           FROM events),
         s1 AS (SELECT user_id, min(ts_us) AS ts_us FROM e
                WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.ts_us) AS ts_us
                FROM e JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.ts_us > s1.ts_us
                  AND e.ts_us <= s1.ts_us + $w
                GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.ts_us) AS ts_us
                FROM e JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase' AND e.ts_us > s2.ts_us
                  AND e.ts_us <= s2.ts_us + $w
                GROUP BY e.user_id)
         SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage,
                CAST(count(*) AS BIGINT) AS n_users FROM s1
         UNION ALL
         SELECT CAST(2 AS BIGINT), 'click', CAST(count(*) AS BIGINT) FROM s2
         UNION ALL
         SELECT CAST(3 AS BIGINT), 'purchase', CAST(count(*) AS BIGINT) FROM s3
         ORDER BY stage_idx"""
    },
    // SCD2 validity intervals; the event_id tie-break pins same-µs
    // events to one order in both engines (same rule as q_event_gaps)
    "q_scd2_history" -> scd2HistorySql,
    // the merge's contract is equality with the full recompute — same SQL
    "q_scd2_merge" -> scd2HistorySql,
    // exact median/MAD rounded to 6 decimals BEFORE the outlier
    // comparison, so classification never reads digits the two engines'
    // percentile interpolation could disagree on
    "q_median_outliers" ->
      """WITH t AS (SELECT event_type, value FROM events),
         m AS (SELECT event_type,
                 round(quantile_cont(value, 0.5), 6) AS med
               FROM t GROUP BY event_type),
         d AS (SELECT t.event_type, m.med,
                 round(quantile_cont(abs(t.value - m.med), 0.5), 6) AS mad
               FROM t JOIN m ON t.event_type = m.event_type
               GROUP BY t.event_type, m.med)
         SELECT t.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           any_value(d.med) AS med,
           any_value(d.mad) AS mad,
           CAST(sum(CASE WHEN abs(t.value - d.med) > d.mad * 3.0
             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         FROM t JOIN d ON t.event_type = d.event_type
         GROUP BY t.event_type
         ORDER BY t.event_type""",
    "q_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_events_props" ->
      """SELECT event_type,
         CAST(sum(TRY_CAST(NULLIF(regexp_extract(props, '"k": ([0-9]+)', 1), '') AS INTEGER)) AS BIGINT) AS sum_k,
         CAST(count(TRY_CAST(NULLIF(regexp_extract(props, '"k": ([0-9]+)', 1), '') AS INTEGER)) AS BIGINT) AS n_with_k
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_user_sessions" ->
      """WITH x AS (
           SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
           FROM events),
         y AS (
           SELECT user_id, ts,
             CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
           FROM x),
         z AS (
           SELECT user_id, ts,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
           FROM y)
         SELECT user_id, session_seq,
           CAST(epoch_us(min(ts)) AS BIGINT) AS session_start_us,
           CAST(epoch_us(max(ts)) AS BIGINT) AS session_end_us,
           count(*) AS n_events
         FROM z GROUP BY user_id, session_seq
         ORDER BY user_id, session_seq""",
    // DuckDB's native ASOF JOIN is the oracle for graft's union+window
    // spelling; >= makes the match inclusive on both sides. The ASOF
    // inequality AND the click pre-agg both run on epoch MICROS — the
    // parquet timestamps carry nanos, and comparing/grouping at ns
    // precision would diverge from Spark's us-truncated arithmetic for
    // events inside the same microsecond (same rule as q_range_join).
    "q_asof_join" ->
      """WITH p AS (
           SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
                  value
           FROM events WHERE event_type = 'purchase'),
         c AS (
           SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS click_ts_us,
                  max(value) AS click_value
           FROM events WHERE event_type = 'click'
           GROUP BY user_id, epoch_us(ts))
         SELECT p.event_id, p.user_id, p.ts_us,
                p.value, c.click_ts_us, c.click_value
         FROM p ASOF LEFT JOIN c
           ON p.user_id = c.user_id AND p.ts_us >= c.click_ts_us
         ORDER BY event_id""",
    // growth accounting: dense Monday-epoch week integers make
    // adjacency wi−1; right-censored churn on the last week by design
    "q_growth_accounting" ->
      """WITH weekly AS (
           SELECT DISTINCT user_id,
             date_trunc('week', CAST(ts AS TIMESTAMP)) AS w
           FROM events),
         widx AS (
           SELECT user_id,
             CAST(datediff('day', DATE '1970-01-05', CAST(w AS DATE)) // 7
               AS BIGINT) AS wi
           FROM weekly),
         lbl AS (
           SELECT wi,
             lag(wi) OVER (PARTITION BY user_id ORDER BY wi) AS prev,
             lead(wi) OVER (PARTITION BY user_id ORDER BY wi) AS nxt
           FROM widx)
         SELECT wi,
           CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           CAST(sum(CASE WHEN prev = wi - 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_retained,
           CAST(sum(CASE WHEN prev IS NOT NULL AND prev < wi - 1
             THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
           CAST(sum(CASE WHEN nxt IS NULL OR nxt > wi + 1
             THEN 1 ELSE 0 END) AS BIGINT) AS n_churning
         FROM lbl GROUP BY wi ORDER BY wi""",
    // DAU/WAU stickiness: the ×7 scatter spelling of the trailing
    // window — one distinct + one count, no day-range self-join
    "q_stickiness" ->
      """WITH daily AS (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
         dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau
                 FROM daily GROUP BY d),
         scat AS (
           SELECT DISTINCT user_id, d + CAST(i AS INTEGER) AS d2
           FROM daily CROSS JOIN
             (SELECT unnest(generate_series(0, 6)) AS i) s),
         wau AS (SELECT d2, CAST(count(*) AS BIGINT) AS wau
                 FROM scat GROUP BY d2)
         SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau, wau.wau,
           CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
         FROM dau JOIN wau ON dau.d = wau.d2 ORDER BY day""",
    // top journeys: first-5 event types per user as a path string;
    // ordering on epoch MICROS + event_id (the ns-truncation rule)
    "q_top_journeys" -> {
      val len = Analytics.JourneyLen
      val k = Analytics.JourneyTopK
      s"""WITH r AS (
           SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS rn
           FROM events),
         j AS (
           SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS journey
           FROM r WHERE rn <= $len GROUP BY user_id)
         SELECT journey, CAST(count(*) AS BIGINT) AS n_users
         FROM j GROUP BY journey
         ORDER BY n_users DESC, journey LIMIT $k"""
    },
    // drift: both halves from the stream's own integer µs midpoint;
    // shares and the ratio are fixed-order divisions of exact counts
    "q_value_drift" -> {
      val w = Analytics.HistBinWidth
      s"""WITH b AS (SELECT value, CAST(epoch_us(ts) AS BIGINT) AS us
                     FROM events WHERE value IS NOT NULL),
         mid AS (SELECT (min(us) + max(us)) // 2 AS mid_us FROM b),
         binned AS (SELECT CAST(floor(value / $w) AS BIGINT) AS bin,
                      CASE WHEN us < mid_us THEN 1 ELSE 0 END AS in_a
                    FROM b CROSS JOIN mid),
         c AS (SELECT bin, CAST(sum(in_a) AS BIGINT) AS n_a,
                 CAST(sum(1 - in_a) AS BIGINT) AS n_b
               FROM binned GROUP BY bin),
         t AS (SELECT CAST(sum(n_a) AS BIGINT) AS tot_a,
                 CAST(sum(n_b) AS BIGINT) AS tot_b FROM c)
         SELECT bin, n_a, n_b,
           CAST(n_a AS DOUBLE) / CAST(tot_a AS DOUBLE) AS share_a,
           CAST(n_b AS DOUBLE) / CAST(tot_b AS DOUBLE) AS share_b,
           CASE WHEN n_a > 0 THEN
             (CAST(n_b AS DOUBLE) / CAST(tot_b AS DOUBLE)) /
             (CAST(n_a AS DOUBLE) / CAST(tot_a AS DOUBLE)) END AS drift_ratio
         FROM c CROSS JOIN t ORDER BY bin"""
    },
    // per-source duplication rate over the banded minhash pairs
    "q_dedup_rates" -> {
      import TextDedup._
      s"""WITH $minhashCtes,
         pj AS (SELECT doc_a, doc_b FROM scored
                WHERE CASE WHEN sz - inter = 0 THEN 0.0
                  ELSE inter / (sz - inter) END >= $JaccardThreshold),
         duped AS (SELECT DISTINCT doc_id FROM
           (SELECT doc_a AS doc_id FROM pj
            UNION ALL SELECT doc_b FROM pj)),
         j AS (SELECT d.source,
                 CASE WHEN duped.doc_id IS NULL THEN 0 ELSE 1 END AS is_duped
               FROM documents d LEFT JOIN duped ON d.doc_id = duped.doc_id)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(is_duped) AS BIGINT) AS n_duped,
           CAST(sum(is_duped) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS dup_rate
         FROM j GROUP BY source ORDER BY source"""
    },
    // RFM octants: decimal-exact monetary sums, integer recency days
    // off the stream's own max, medians rounded BEFORE the compare
    "q_rfm_segments" ->
      """WITH p AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us, value
                    FROM events WHERE event_type = 'purchase'),
         mx AS (SELECT max(us) AS now_us FROM p),
         per AS (SELECT user_id, max(us) AS last_us,
                   CAST(count(*) AS BIGINT) AS frequency,
                   CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE)
                     AS monetary
                 FROM p GROUP BY user_id),
         r AS (SELECT user_id,
                 (now_us - last_us) // 86400000000 AS recency_days,
                 frequency, monetary
               FROM per CROSS JOIN mx),
         med AS (SELECT
                   round(quantile_cont(recency_days, 0.5), 6) AS med_r,
                   round(quantile_cont(frequency, 0.5), 6) AS med_f,
                   round(quantile_cont(monetary, 0.5), 6) AS med_m
                 FROM r)
         SELECT
           CAST(CASE WHEN recency_days <= med_r THEN 1 ELSE 0 END AS BIGINT)
             AS r_hi,
           CAST(CASE WHEN frequency >= med_f THEN 1 ELSE 0 END AS BIGINT)
             AS f_hi,
           CAST(CASE WHEN monetary >= med_m THEN 1 ELSE 0 END AS BIGINT)
             AS m_hi,
           CAST(count(*) AS BIGINT) AS n_users
         FROM r CROSS JOIN med
         GROUP BY 1, 2, 3 ORDER BY r_hi, f_hi, m_hi""",
    // top-supplier concentration: decimal-exact numerator AND
    // denominator from the same join; one final double division
    "q_supplier_share" ->
      """WITH j AS (
           SELECT p_brand, l_suppkey,
             CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
               AS rev_d
           FROM lineitem JOIN part ON l_partkey = p_partkey),
         s AS (SELECT p_brand, l_suppkey,
                 CAST(round(sum(rev_d), 2) AS DOUBLE) AS rev
               FROM j GROUP BY p_brand, l_suppkey),
         t AS (SELECT p_brand,
                 CAST(count(*) AS BIGINT) AS n_suppliers,
                 max(rev) AS top_rev
               FROM s GROUP BY p_brand),
         tot AS (SELECT p_brand,
                 CAST(round(sum(rev_d), 2) AS DOUBLE) AS total_rev
               FROM j GROUP BY p_brand)
         SELECT t.p_brand, n_suppliers, top_rev, total_rev,
           top_rev / total_rev AS top_share
         FROM t JOIN tot ON t.p_brand = tot.p_brand
         ORDER BY t.p_brand""",
    // repeat rate over ALL customers (order-less ones in the base)
    "q_repeat_customers" ->
      """WITH pc AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
                     FROM orders GROUP BY o_custkey)
         SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repeat,
           CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS repeat_rate
         FROM customer LEFT JOIN pc ON c_custkey = o_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    // session-depth histogram over the sessionization chain; the 10+
    // terminal bucket keeps the report fixed-width
    "q_session_depths" ->
      """WITH x AS (
           SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
           FROM events),
         y AS (
           SELECT user_id, ts,
             CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
           FROM x),
         z AS (
           SELECT user_id, ts,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_seq
           FROM y),
         s AS (SELECT user_id, session_seq,
                 CAST(count(*) AS BIGINT) AS n_events,
                 CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS dur_us
               FROM z GROUP BY user_id, session_seq)
         SELECT least(n_events, 10) AS depth_bucket,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(dur_us) AS BIGINT) AS total_dur_us
         FROM s GROUP BY depth_bucket ORDER BY depth_bucket""",
    // whale concentration: threshold cut (not rank) at the rounded
    // p90 of per-user counts — deterministic under ties
    "q_power_users" ->
      """WITH per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
                      FROM events GROUP BY user_id),
         thr AS (SELECT round(quantile_cont(n_events, 0.9), 6) AS p90 FROM per)
         SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN n_events > p90 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_top_users,
           CAST(sum(n_events) AS BIGINT) AS total_events,
           CAST(sum(CASE WHEN n_events > p90 THEN n_events ELSE 0 END)
             AS BIGINT) AS top_events,
           CAST(sum(CASE WHEN n_events > p90 THEN n_events ELSE 0 END)
             AS DOUBLE) / CAST(sum(n_events) AS DOUBLE) AS top_share
         FROM per CROSS JOIN thr""",
    // vector hygiene: index-order norm accumulation (engine-exact),
    // integer counts; isnan/isinf on DuckDB floats via != itself and
    // abs = 'inf' checks spelled portably
    "q_vector_audit" ->
      s"""WITH v AS (SELECT
           CAST(len(embedding) AS BIGINT) AS dims,
           sqrt(${foldSql("list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))",
             "CAST(0 AS DOUBLE)", "(acc, x) -> acc + x")}) AS norm,
           ${foldSql("""list_transform(embedding, x -> CASE
             WHEN isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE))
             THEN 1 ELSE 0 END)""",
             "0", "(acc, x) -> acc + x")} AS n_bad
         FROM embeddings)
         SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(count(DISTINCT dims) AS BIGINT) AS n_distinct_dims,
           CAST(min(dims) AS BIGINT) AS min_dims,
           CAST(max(dims) AS BIGINT) AS max_dims,
           CAST(sum(CASE WHEN norm < 1e-12 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero_norm,
           CAST(sum(CASE WHEN n_bad > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nonfinite,
           min(CASE WHEN n_bad = 0 THEN norm END) AS min_norm,
           max(CASE WHEN n_bad = 0 THEN norm END) AS max_norm
         FROM v""",
    // corpus CUBE: cell + margin aggregates in one grouping-sets pass;
    // ORDER matches Spark's gid bit layout (lang high bit)
    "q_corpus_cube" ->
      s"""WITH d AS (SELECT lang, source,
             CAST(len(${toksSql("text")}) AS BIGINT) AS nt
           FROM documents)
         SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS n_tokens,
           CAST(GROUPING(lang, source) AS BIGINT) AS gid
         FROM d GROUP BY CUBE (lang, source)
         ORDER BY gid, lang NULLS FIRST, source NULLS FIRST""",
    // Heaps-law vocabulary growth over nested doc_id prefixes; the
    // checkpoint bounds are integer // arithmetic in both engines
    "q_vocab_growth" -> {
      val k = CorpusAnalytics.GrowthCheckpoints
      val cols = (1 to k).map(i =>
        s"""CAST(count(DISTINCT CASE WHEN doc_id < (n_ids * $i) // $k
           THEN token END) AS BIGINT) AS vocab_at_$i""").mkString(",\n           ")
      s"""WITH mx AS (SELECT max(doc_id) + 1 AS n_ids FROM documents),
         t AS (SELECT doc_id, unnest(${toksSql("text")}) AS token
               FROM documents)
         SELECT $cols
         FROM t CROSS JOIN mx"""
    },
    // channel = first event type (first-touch applied to retention);
    // week-1 = the Monday week exactly 7 days after the first week
    "q_channel_retention" ->
      """WITH r AS (
           SELECT user_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS rn
           FROM events),
         f AS (SELECT user_id, event_type AS channel,
                 CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS w0
               FROM r WHERE rn = 1),
         weekly AS (SELECT DISTINCT user_id,
             CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS w
           FROM events)
         SELECT channel,
           CAST(count(DISTINCT f.user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT CASE WHEN weekly.w = f.w0 + 7
             THEN f.user_id END) AS BIGINT) AS n_retained_w1,
           CAST(count(DISTINCT CASE WHEN weekly.w = f.w0 + 7
             THEN f.user_id END) AS DOUBLE)
             / CAST(count(DISTINCT f.user_id) AS DOUBLE) AS retention_w1
         FROM f LEFT JOIN weekly ON f.user_id = weekly.user_id
         GROUP BY channel ORDER BY channel""",
    // journey-prefix conversion: strictly-after-the-prefix purchases,
    // rational rate of two exact counts; NULL-condition CASE = false
    // mirrors Spark's null-comparison coalesce
    "q_journey_conversion" -> {
      val len = Analytics.PrefixLen
      s"""WITH r AS (
           SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS rn
           FROM events),
         p AS (SELECT user_id,
                 string_agg(event_type, '>' ORDER BY rn) AS prefix,
                 CAST(max(rn) AS BIGINT) AS prefix_end
               FROM r WHERE rn <= $len GROUP BY user_id),
         c AS (SELECT user_id, CAST(max(rn) AS BIGINT) AS lp
               FROM r WHERE event_type = 'purchase' GROUP BY user_id)
         SELECT prefix, CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN c.lp > p.prefix_end THEN 1 ELSE 0 END)
             AS BIGINT) AS n_converted,
           CAST(sum(CASE WHEN c.lp > p.prefix_end THEN 1 ELSE 0 END)
             AS DOUBLE) / CAST(count(*) AS DOUBLE) AS conversion_rate
         FROM p LEFT JOIN c USING (user_id)
         GROUP BY prefix ORDER BY prefix"""
    },
    // Morton curve bit parity: the same 4-step mask/shift spread chain
    // as graft.functions.spread16, staged through CTEs; all integer
    // & | << ops, so the interleave is engine-exact
    "q_zorder_curve" ->
      """WITH e AS (SELECT event_id,
           CAST(user_id % 65536 AS BIGINT) AS xq,
           CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
             % 65536 AS BIGINT) AS yq
         FROM events),
         s0 AS (SELECT event_id, xq, yq,
                  xq & 65535 AS ax, yq & 65535 AS ay FROM e),
         s1 AS (SELECT event_id, xq, yq,
                  (ax | (ax << 8)) & 16711935 AS bx,
                  (ay | (ay << 8)) & 16711935 AS by FROM s0),
         s2 AS (SELECT event_id, xq, yq,
                  (bx | (bx << 4)) & 252645135 AS cx,
                  (by | (by << 4)) & 252645135 AS cy FROM s1),
         s3 AS (SELECT event_id, xq, yq,
                  (cx | (cx << 2)) & 858993459 AS dx,
                  (cy | (cy << 2)) & 858993459 AS dy FROM s2),
         s4 AS (SELECT event_id, xq, yq,
                  (dx | (dx << 1)) & 1431655765 AS ex,
                  (dy | (dy << 1)) & 1431655765 AS ey FROM s3)
         SELECT event_id, xq, yq, ex | (ey << 1) AS zval
         FROM s4 ORDER BY event_id""",
    // last-touch attribution: the running last-click window. Ordering
    // and the gap both run on epoch MICROS (same ns-truncation rule as
    // q_asof_join); the strictly-prior ROWS frame plus the event_id tie
    // break make the credited click deterministic in both engines.
    "q_last_touch" ->
      """WITH w AS (
           SELECT event_id, user_id, event_type, value,
             CAST(epoch_us(ts) AS BIGINT) AS ts_us,
             last_value(CASE WHEN event_type = 'click' THEN event_id END
               IGNORE NULLS) OVER lastw AS click_id,
             last_value(CASE WHEN event_type = 'click'
                 THEN CAST(epoch_us(ts) AS BIGINT) END
               IGNORE NULLS) OVER lastw AS click_us
           FROM events
           WINDOW lastw AS (PARTITION BY user_id
             ORDER BY epoch_us(ts), event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         SELECT event_id, user_id, value, click_id,
           ts_us - click_us AS gap_us
         FROM w WHERE event_type = 'purchase' ORDER BY event_id""",
    // first-touch twin: FIRST_VALUE over the same strictly-prior frame
    "q_first_touch" ->
      """WITH w AS (
           SELECT event_id, user_id, event_type, value,
             CAST(epoch_us(ts) AS BIGINT) AS ts_us,
             first_value(CASE WHEN event_type = 'click' THEN event_id END
               IGNORE NULLS) OVER firstw AS click_id,
             first_value(CASE WHEN event_type = 'click'
                 THEN CAST(epoch_us(ts) AS BIGINT) END
               IGNORE NULLS) OVER firstw AS click_us
           FROM events
           WINDOW firstw AS (PARTITION BY user_id
             ORDER BY epoch_us(ts), event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         SELECT event_id, user_id, value, click_id,
           ts_us - click_us AS gap_us
         FROM w WHERE event_type = 'purchase' ORDER BY event_id""",
    // regex patterns are RE2-and-Java-identical (explicit classes, no
    // lookaround); redaction order (email -> phone -> ip) is part of the
    // contract — a dotted phone contains an IPv4-shaped substring
    "q_pii_redact" -> {
      val em = CorpusFilters.EmailPattern
      val ph = CorpusFilters.PhonePattern
      val ip = CorpusFilters.IpPattern
      s"""SELECT doc_id,
         CAST(len(regexp_extract_all(text, '$em')) AS INTEGER) AS n_emails,
         CAST(len(regexp_extract_all(text, '$ph')) AS INTEGER) AS n_phones,
         CAST(len(regexp_extract_all(text, '$ip')) AS INTEGER) AS n_ips,
         CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
           '$em', '[EMAIL]', 'g'), '$ph', '[PHONE]', 'g'), '$ip', '[IP]', 'g'))
           AS INTEGER) AS n_chars_redacted,
         (len(regexp_extract_all(text, '$em')) + len(regexp_extract_all(text, '$ph'))
           + len(regexp_extract_all(text, '$ip'))) = 0 AS is_clean
         FROM documents ORDER BY doc_id"""
    },
    "q_repetition" ->
      s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
         s AS (SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
                 CAST(len(${hashedShinglesSql(2)}) AS INTEGER) AS n_uniq_bigrams
               FROM t),
         term AS (SELECT doc_id, unnest(toks) AS term FROM t),
         cnt AS (SELECT doc_id, term, count(*) AS tf FROM term GROUP BY doc_id, term),
         mx AS (SELECT doc_id, max(tf) AS max_tf FROM cnt GROUP BY doc_id)
         SELECT s.doc_id, s.n_tokens,
           CAST(COALESCE(mx.max_tf, 0) AS BIGINT) AS max_tf,
           CASE WHEN s.n_tokens = 0 THEN 0.0
                ELSE CAST(COALESCE(mx.max_tf, 0) AS DOUBLE) / CAST(s.n_tokens AS DOUBLE) END AS top_token_frac,
           CASE WHEN s.n_tokens <= 1 THEN 1.0
                ELSE CAST(s.n_uniq_bigrams AS DOUBLE) / (CAST(s.n_tokens AS DOUBLE) - 1.0) END AS uniq_bigram_frac,
           (CASE WHEN s.n_tokens = 0 THEN 0.0
                 ELSE CAST(COALESCE(mx.max_tf, 0) AS DOUBLE) / CAST(s.n_tokens AS DOUBLE) END) <= ${CorpusFilters.TopTokenFracMax}
             AND (CASE WHEN s.n_tokens <= 1 THEN 1.0
                  ELSE CAST(s.n_uniq_bigrams AS DOUBLE) / (CAST(s.n_tokens AS DOUBLE) - 1.0) END) >= ${CorpusFilters.UniqBigramFracMin}
             AS keep_repetition
         FROM s LEFT JOIN mx USING (doc_id)
         ORDER BY doc_id""",
    "q_contamination" ->
      s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
         shs AS (SELECT doc_id, ${hashedShinglesSql(CorpusFilters.ContamShingleN)} AS hs FROM t),
         banned AS (SELECT DISTINCT unnest(hs) AS h FROM shs
                    WHERE doc_id % ${CorpusFilters.EvalMod} = 0),
         tr AS (SELECT doc_id, unnest(hs) AS h FROM shs
                WHERE doc_id % ${CorpusFilters.EvalMod} <> 0),
         hits AS (SELECT doc_id, count(*) AS n FROM tr JOIN banned USING (h)
                  GROUP BY doc_id)
         SELECT d.doc_id, CAST(COALESCE(hits.n, 0) AS BIGINT) AS n_overlap,
           COALESCE(hits.n, 0) > 0 AS contaminated
         FROM (SELECT doc_id FROM documents WHERE doc_id % ${CorpusFilters.EvalMod} <> 0) d
         LEFT JOIN hits USING (doc_id)
         ORDER BY doc_id""",
    // the per-source datasheet: volume, integrity, redundancy,
    // language make-up, stopword density, contamination exposure —
    // integer leaves, two terminal divisions
    "q_corpus_card" ->
      s"""WITH t AS (SELECT doc_id, source, lang, text,
             ${toksSql("text")} AS toks FROM documents),
         f AS (SELECT source, lang, text, doc_id,
             CAST(len(toks) AS BIGINT) AS tok_n,
             CAST(len(list_filter(toks, w -> list_contains($stopsSqlEn, w)))
               AS BIGINT) AS stop_n
           FROM t),
         base AS (SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_text,
             CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(sum(tok_n) AS BIGINT) AS n_tokens,
             CAST(sum(stop_n) AS BIGINT) AS n_stop
           FROM f GROUP BY source),
         lc AS (SELECT source, lang, count(*) AS n FROM documents
                GROUP BY source, lang),
         tl AS (SELECT source, lang AS top_lang FROM
             (SELECT source, lang, row_number() OVER (PARTITION BY source
                ORDER BY n DESC, lang ASC NULLS LAST) AS rk FROM lc) z
           WHERE rk = 1),
         shs AS (SELECT doc_id,
             ${hashedShinglesSql(CorpusFilters.ContamShingleN)} AS hs FROM t),
         banned AS (SELECT DISTINCT unnest(hs) AS h FROM shs
                    WHERE doc_id % ${CorpusFilters.EvalMod} = 0),
         tr AS (SELECT doc_id, unnest(hs) AS h FROM shs
                WHERE doc_id % ${CorpusFilters.EvalMod} <> 0),
         hits AS (SELECT doc_id, count(*) AS n FROM tr JOIN banned USING (h)
                  GROUP BY doc_id),
         con AS (SELECT d.source,
             CAST(count(*) AS BIGINT) AS n_train,
             CAST(sum(CASE WHEN COALESCE(hits.n, 0) > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_contaminated
           FROM documents d LEFT JOIN hits USING (doc_id)
           WHERE d.doc_id % ${CorpusFilters.EvalMod} <> 0
           GROUP BY d.source)
         SELECT base.source, n_docs, n_null_text,
           n_docs - n_distinct AS dup_copies,
           n_langs, tl.top_lang, n_tokens, base.n_stop,
           CASE WHEN n_tokens = 0 THEN 0.0
                ELSE CAST(base.n_stop AS DOUBLE) / n_tokens END AS stop_ratio,
           COALESCE(con.n_train, 0) AS n_train,
           COALESCE(con.n_contaminated, 0) AS n_contaminated,
           CASE WHEN COALESCE(con.n_train, 0) = 0 THEN 0.0
                ELSE CAST(COALESCE(con.n_contaminated, 0) AS DOUBLE)
                  / con.n_train END AS contamination_rate
         FROM base JOIN tl USING (source) LEFT JOIN con USING (source)
         ORDER BY source""",
    // exact token-budget fill: cumulative window in "mix:"-hash order
    // per source, target = (7777 · share_bp) div 10000, keep while the
    // total BEFORE the doc is under target (boundary doc kept)
    "q_token_budget_mix" -> {
      s"""WITH sh AS (SELECT source,
               CAST(${md5b16Sql("('share:' || source)")} % 800 + 100 AS BIGINT) AS share_bp
             FROM (SELECT DISTINCT source FROM documents)),
         t AS (SELECT doc_id, source,
                 CAST(len(${toksSql("text")}) AS BIGINT) AS n_tokens,
                 md5('mix:' || CAST(doc_id AS VARCHAR)) AS hx
               FROM documents),
         o AS (SELECT t.doc_id, t.source, t.n_tokens, sh.share_bp,
                 CAST(${md5b60Sql("hx")} AS BIGINT) AS bkt
               FROM t JOIN sh USING (source)),
         c AS (SELECT doc_id, source, n_tokens, share_bp,
                 CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY bkt, doc_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
               FROM o)
         SELECT doc_id, source, n_tokens, cum_tokens,
           CAST((7777 * share_bp) // 10000 AS BIGINT) AS target_tokens,
           (cum_tokens - n_tokens < (7777 * share_bp) // 10000) AS keep
         FROM c ORDER BY doc_id"""
    },
    "q_domain_mix" -> {
      s"""WITH c AS (SELECT source, count(*) AS n_total FROM documents GROUP BY source),
         m AS (SELECT min(n_total) AS n_min FROM c),
         h AS (SELECT doc_id, source,
                 md5('mix:' || CAST(doc_id AS VARCHAR)) AS hx
               FROM documents),
         k AS (SELECT d.source, count(*) AS n_kept
               FROM h d JOIN c USING (source) CROSS JOIN m
               WHERE CAST(${md5b60Sql("hx")} % 10000 AS BIGINT) * n_total < n_min * 10000
               GROUP BY d.source)
         SELECT c.source, c.n_total,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(COALESCE(k.n_kept, 0) AS DOUBLE) / CAST(c.n_total AS DOUBLE) AS kept_frac
         FROM c LEFT JOIN k USING (source)
         ORDER BY source"""
    },
    // REAL image-header decode replayed in SQL (the q_audio_energy
    // pattern): BMP dims/bpp from fixed little-endian offsets via
    // hex()+nibble arithmetic (signed height -> abs for top-down
    // files); netpbm (P6/P5) via a chr()-projected ASCII prefix +
    // anchored regexp over the canonical fixture header. Anything else
    // decodes to the (0,0,0) sentinel — exactly decodeImage's contract.
    "q_media_meta" ->
      s"""$mediaDecodeSql
         SELECT doc_id, CAST(n AS INTEGER) AS n_bytes,
           CAST(width AS INTEGER) AS width,
           CAST(height AS INTEGER) AS height,
           CAST(channels AS INTEGER) AS channels
         FROM dec ORDER BY doc_id""",
    "q_media_resize" ->
      s"""$mediaDecodeSql
         SELECT doc_id, CAST(n AS INTEGER) AS n_bytes,
           CAST((n + 3) // 4 AS INTEGER) AS resized_bytes,
           CAST((width + 1) // 2 AS INTEGER) AS width,
           CAST((height + 1) // 2 AS INTEGER) AS height
         FROM dec ORDER BY doc_id""",
    // REAL s16le PCM decode replayed through hex()+nibble arithmetic:
    // sample j = signed(byte(2j+1))*256 + byte(2j); exact integer
    // energy per 256-sample frame
    "q_audio_energy" -> {
      val n = graft.operators.Multimodal.AudioFrameSamples
      val th = graft.operators.Multimodal.SilenceEnergyPerSample
      def nib(pos: String) =
        s"(instr('0123456789ABCDEF', substring(hx, $pos, 1)) - 1)"
      val lo = s"(${nib("4 * j + 1")} * 16 + ${nib("4 * j + 2")})"
      val hi = s"(${nib("4 * j + 3")} * 16 + ${nib("4 * j + 4")})"
      s"""WITH b AS (SELECT doc_id, hex(from_base64(payload_b64)) AS hx,
                       octet_length(from_base64(payload_b64)) // 2 AS n_samples
                     FROM ${fx("doc_payloads")}),
         s AS (SELECT doc_id, hx,
                 unnest(range(0, n_samples)) AS j
               FROM b WHERE n_samples > 0),
         v AS (SELECT doc_id, j // $n AS frame_idx,
                 (CASE WHEN $hi >= 128 THEN $hi - 256 ELSE $hi END) * 256 + $lo AS smp
               FROM s)
         SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(count(*) AS INTEGER) AS n_samples,
           CAST(sum(smp * smp) AS BIGINT) AS energy,
           CAST(sum(smp * smp) AS BIGINT) < $th * count(*) AS silent
         FROM v GROUP BY doc_id, frame_idx
         ORDER BY doc_id, frame_idx"""
    },
    // 60-bit byte-level dHash: evenly-spread sample points, bit j =
    // byte(p_j) > byte(p_j+1); the DuckDB twin reads the same bytes
    // through hex()+nibble arithmetic (the q_audio_energy pattern)
    "q_media_phash" -> {
      val bits = graft.operators.Multimodal.PhashBits
      def nib(pos: String) =
        s"(instr('0123456789ABCDEF', substring(hx, $pos, 1)) - 1)"
      def byteAt(p: String) =
        s"(${nib(s"2 * ($p) + 1")} * 16 + ${nib(s"2 * ($p) + 2")})"
      val pa = s"((j * (n - 1)) // $bits)"
      val pb = s"(((j + 1) * (n - 1)) // $bits)"
      s"""WITH b AS (SELECT doc_id, hex(from_base64(payload_b64)) AS hx,
             octet_length(from_base64(payload_b64)) AS n
           FROM ${fx("media")}),
         g AS (SELECT doc_id, hx, n, unnest(range(0, $bits)) AS j
               FROM b WHERE n >= 2),
         v AS (SELECT doc_id,
                 CASE WHEN ${byteAt(pa)} > ${byteAt(pb)}
                      THEN (CAST(1 AS BIGINT) << j) ELSE 0 END AS bit
               FROM g)
         SELECT doc_id, CAST(sum(bit) AS BIGINT) AS phash
         FROM v GROUP BY doc_id ORDER BY doc_id"""
    },
    // banded perceptual near-dup: pairs sharing any 15-bit band,
    // exact popcount verify within the pigeonhole radius
    "q_media_neardup" -> {
      val bits = graft.operators.Multimodal.PhashBits
      val bands = graft.operators.Multimodal.PhashBands
      val bb = graft.operators.Multimodal.PhashBandBits
      val radius = graft.operators.Multimodal.PhashHammingMax
      def nib(pos: String) =
        s"(instr('0123456789ABCDEF', substring(hx, $pos, 1)) - 1)"
      def byteAt(p: String) =
        s"(${nib(s"2 * ($p) + 1")} * 16 + ${nib(s"2 * ($p) + 2")})"
      val pa = s"((j * (n - 1)) // $bits)"
      val pb = s"(((j + 1) * (n - 1)) // $bits)"
      s"""WITH b AS (SELECT doc_id, hex(from_base64(payload_b64)) AS hx,
             octet_length(from_base64(payload_b64)) AS n
           FROM ${fx("media")}),
         g AS (SELECT doc_id, hx, n, unnest(range(0, $bits)) AS j
               FROM b WHERE n >= 2),
         v AS (SELECT doc_id,
                 CASE WHEN ${byteAt(pa)} > ${byteAt(pb)}
                      THEN (CAST(1 AS BIGINT) << j) ELSE 0 END AS bit
               FROM g),
         h AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS phash
               FROM v GROUP BY doc_id),
         bs AS (SELECT doc_id, phash, band,
                 (phash >> CAST(band * $bb AS INTEGER)) & ${(1L << bb) - 1} AS sig
               FROM (SELECT doc_id, phash, unnest(range(0, $bands)) AS band
                     FROM h) z),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.phash AS ha, b.phash AS hb
               FROM bs a JOIN bs b
                 ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
         SELECT doc_a, doc_b,
           CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
         FROM cand WHERE bit_count(xor(ha, hb)) <= $radius
         ORDER BY doc_a, doc_b"""
    },
    "q_media_frames" ->
      s"""WITH b AS (SELECT doc_id, octet_length(from_base64(payload_b64)) AS n
                     FROM ${fx("doc_payloads")}),
         f AS (SELECT doc_id, n,
                 unnest(range(0, CAST(ceil(n / 1024.0) AS BIGINT))) AS frame_idx
               FROM b)
         SELECT doc_id, frame_idx,
           CAST(least(1024, n - frame_idx * 1024) AS BIGINT) AS frame_len
         FROM f WHERE frame_idx % 3 = 0
         ORDER BY doc_id, frame_idx""",
    // --- training-batch preparation (TrainPrep) ---
    // concat-then-chunk packing: window prefix-sum of token counts per
    // shard; a window SUM over BIGINT is HUGEINT in DuckDB — CAST back.
    "q_seq_pack" -> {
      import TrainPrep._
      s"""WITH t AS (SELECT doc_id, doc_id % $PackShards AS shard,
             CAST(len(${toksSql("text")}) AS BIGINT) AS n_tokens FROM documents),
         p AS (SELECT doc_id, shard, n_tokens,
                 CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS BIGINT) AS prefix
               FROM t)
         SELECT doc_id, shard, n_tokens,
           prefix // $PackBudget AS seq_id, prefix % $PackBudget AS tok_offset
         FROM p ORDER BY doc_id"""
    },
    "q_token_chunks" -> {
      import TrainPrep._
      val (w, s) = (ChunkWindow, ChunkStride)
      s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
         z AS (SELECT doc_id, toks, CAST(len(toks) AS INTEGER) AS n_tokens
               FROM t WHERE len(toks) > 0),
         c AS (SELECT doc_id, toks, n_tokens,
                 CASE WHEN n_tokens <= $w THEN 1
                      ELSE 1 + (n_tokens - $w + ${s - 1}) // $s END AS n_chunks
               FROM z),
         e AS (SELECT doc_id, toks, n_tokens,
                 unnest(generate_series(0, n_chunks - 1)) AS i
               FROM c)
         SELECT doc_id, CAST(i AS BIGINT) AS chunk_id, n_tokens,
           CAST(len(list_slice(toks, i * $s + 1, i * $s + $w)) AS INTEGER) AS n_chunk_tokens,
           array_to_string(list_slice(toks, i * $s + 1, i * $s + $w), ' ') AS chunk_text
         FROM e ORDER BY doc_id, chunk_id"""
    },
    // content-defined chunking: the boundary markers, the per-doc
    // boundary cumsum, the ordered chunk re-assembly, and both 60-bit
    // hashes all re-derive in SQL (shared CTE below)
    "q_cdc_chunks" ->
      s"""WITH $cdcChunksSql
         SELECT doc_id, chunk_id, n_tokens, fp, chunk_text
         FROM cdc_out ORDER BY doc_id, chunk_id""",
    "q_cdc_shared" ->
      s"""WITH $cdcChunksSql
         SELECT fp, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(min(n_tokens) AS BIGINT) AS n_tokens
         FROM cdc_out GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
         ORDER BY fp""",
    // persisted CDC-index lifecycle: the oracle re-derives the
    // standing boilerplate (fps in ≥ 2 standing docs) from the raw
    // corpus in one shot — build(odd) + append(even) + compact over
    // the same standing population must be answer-invariant
    // delete-lifecycle twin: the boilerplate gate re-derived over the
    // standing corpus MINUS the takedown slice
    "q_cdc_deleted" ->
      s"""WITH $cdcChunksSql,
         std AS (SELECT * FROM cdc_out
                 WHERE doc_id % ${TextDedup.IncrementMod} <> 0
                   AND NOT (doc_id % ${TrainPrep.CdcDeleteMod}
                     = ${TrainPrep.CdcDeleteRem})),
         banned AS (SELECT fp FROM std GROUP BY fp
                    HAVING count(DISTINCT doc_id) >= 2),
         probe AS (SELECT * FROM cdc_out
                   WHERE doc_id % ${TextDedup.IncrementMod} = 0)
         SELECT p.doc_id, p.chunk_id, p.n_tokens, p.fp
         FROM probe p LEFT JOIN banned b ON p.fp = b.fp
         WHERE b.fp IS NULL
         ORDER BY doc_id, chunk_id""",
    "q_cdc_persisted" ->
      s"""WITH $cdcChunksSql,
         std AS (SELECT * FROM cdc_out
                 WHERE doc_id % ${TextDedup.IncrementMod} <> 0),
         banned AS (SELECT fp FROM std GROUP BY fp
                    HAVING count(DISTINCT doc_id) >= 2),
         probe AS (SELECT * FROM cdc_out
                   WHERE doc_id % ${TextDedup.IncrementMod} = 0)
         SELECT p.doc_id, p.chunk_id, p.n_tokens, p.fp
         FROM probe p LEFT JOIN banned b ON p.fp = b.fp
         WHERE b.fp IS NULL
         ORDER BY doc_id, chunk_id""",
    // shared-span STRIP: boilerplate fps (≥ 2 docs) removed from the
    // text, survivors re-assembled in chunk order — every document
    // keeps a row (all-boilerplate → '', empty/null text → '' at 0)
    "q_cdc_strip" ->
      s"""WITH $cdcChunksSql,
         banned AS (SELECT fp FROM cdc_out GROUP BY fp
                    HAVING count(DISTINCT doc_id) >= 2),
         kept AS (SELECT c.doc_id, c.chunk_id, c.chunk_text
                  FROM cdc_out c LEFT JOIN banned b ON c.fp = b.fp
                  WHERE b.fp IS NULL),
         ka AS (SELECT doc_id,
                  string_agg(chunk_text, ' ' ORDER BY chunk_id)
                    AS clean_text,
                  CAST(count(*) AS BIGINT) AS n_kept
                FROM kept GROUP BY doc_id),
         tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
                 FROM cdc_out GROUP BY doc_id)
         SELECT d.doc_id, coalesce(ka.clean_text, '') AS clean_text,
           CAST(coalesce(tot.n_chunks, 0) - coalesce(ka.n_kept, 0)
             AS BIGINT) AS n_dropped_chunks
         FROM documents d
         LEFT JOIN ka ON ka.doc_id = d.doc_id
         LEFT JOIN tot ON tot.doc_id = d.doc_id
         ORDER BY d.doc_id""",
    // fraction-threshold strip: boilerplate = fps in >= CdcBoilerMinBp
    // basis points of the corpus's distinct documents — the
    // scale-invariant form of the absolute >= 2 gate (integer compare
    // nd·10^4 >= bp·total on both engines)
    "q_cdc_strip_frac" ->
      s"""WITH $cdcChunksSql,
         ftot AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_total
                  FROM documents),
         banned AS (SELECT fp FROM cdc_out, ftot
                    GROUP BY fp, n_total
                    HAVING CAST(count(DISTINCT doc_id) AS BIGINT) * 10000
                      >= ${TrainPrep.CdcBoilerMinBp} * n_total),
         kept AS (SELECT c.doc_id, c.chunk_id, c.chunk_text
                  FROM cdc_out c LEFT JOIN banned b ON c.fp = b.fp
                  WHERE b.fp IS NULL),
         ka AS (SELECT doc_id,
                  string_agg(chunk_text, ' ' ORDER BY chunk_id)
                    AS clean_text,
                  CAST(count(*) AS BIGINT) AS n_kept
                FROM kept GROUP BY doc_id),
         tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
                 FROM cdc_out GROUP BY doc_id)
         SELECT d.doc_id, coalesce(ka.clean_text, '') AS clean_text,
           CAST(coalesce(tot.n_chunks, 0) - coalesce(ka.n_kept, 0)
             AS BIGINT) AS n_dropped_chunks
         FROM documents d
         LEFT JOIN ka ON ka.doc_id = d.doc_id
         LEFT JOIN tot ON tot.doc_id = d.doc_id
         ORDER BY d.doc_id""",
    // admission-time strip: standing boilerplate (fps in >= 2 standing
    // docs), removal applied to the increment only — every increment
    // doc keeps a row
    "q_cdc_strip_incremental" ->
      s"""WITH $cdcChunksSql,
         std AS (SELECT * FROM cdc_out
                 WHERE doc_id % ${TextDedup.IncrementMod} <> 0),
         banned AS (SELECT fp FROM std GROUP BY fp
                    HAVING count(DISTINCT doc_id) >= 2),
         probe AS (SELECT * FROM cdc_out
                   WHERE doc_id % ${TextDedup.IncrementMod} = 0),
         kept AS (SELECT p.doc_id, p.chunk_id, p.chunk_text
                  FROM probe p LEFT JOIN banned b ON p.fp = b.fp
                  WHERE b.fp IS NULL),
         ka AS (SELECT doc_id,
                  string_agg(chunk_text, ' ' ORDER BY chunk_id)
                    AS clean_text,
                  CAST(count(*) AS BIGINT) AS n_kept
                FROM kept GROUP BY doc_id),
         tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
                 FROM probe GROUP BY doc_id)
         SELECT d.doc_id, coalesce(ka.clean_text, '') AS clean_text,
           CAST(coalesce(tot.n_chunks, 0) - coalesce(ka.n_kept, 0)
             AS BIGINT) AS n_dropped_chunks
         FROM (SELECT doc_id FROM documents
               WHERE doc_id % ${TextDedup.IncrementMod} = 0) d
         LEFT JOIN ka ON ka.doc_id = d.doc_id
         LEFT JOIN tot ON tot.doc_id = d.doc_id
         ORDER BY d.doc_id""",
    // CDC containment dedup: inverted fp index, singleton + hot-fp
    // gate, within-group pairs, containment on the smaller side
    "q_cdc_containment" -> {
      import TrainPrep._
      s"""WITH $cdcChunksSql,
         fpd AS (SELECT DISTINCT doc_id, fp FROM cdc_out),
         pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
                FROM fpd GROUP BY doc_id),
         live AS (SELECT fp FROM fpd GROUP BY fp
                  HAVING count(*) >= 2 AND count(*) <= $CdcMaxFpDocs),
         rare AS (SELECT f.doc_id, f.fp FROM fpd f JOIN live USING (fp)),
         prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(count(*) AS BIGINT) AS n_shared
                 FROM rare a JOIN rare b ON a.fp = b.fp
                   AND a.doc_id < b.doc_id
                 GROUP BY a.doc_id, b.doc_id)
         SELECT p.doc_a, p.doc_b, p.n_shared,
           pa.n_chunks AS n_a, pb.n_chunks AS n_b,
           CAST(p.n_shared AS DOUBLE) / CAST(least(pa.n_chunks, pb.n_chunks)
             AS DOUBLE) AS containment
         FROM prs p
         JOIN pd pa ON pa.doc_id = p.doc_a
         JOIN pd pb ON pb.doc_id = p.doc_b
         WHERE p.n_shared >= $CdcMinShared
           AND CAST(p.n_shared AS DOUBLE) / CAST(least(pa.n_chunks,
             pb.n_chunks) AS DOUBLE) >= $CdcMinContainment
         ORDER BY doc_a, doc_b"""
    },
    "q_vocab_topk" -> {
      s"""WITH t AS (SELECT doc_id, unnest(${toksSql("text")}) AS token FROM documents),
         c AS (SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences,
                 CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
               FROM t GROUP BY token),
         top AS (SELECT * FROM c ORDER BY n_occurrences DESC, token
                 LIMIT ${TrainPrep.VocabK})
         SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, token)
             AS BIGINT) AS vocab_id,
           token, n_occurrences, n_docs
         FROM top ORDER BY vocab_id"""
    },
    "q_tokenize_ids" ->
      s"""WITH tok AS (SELECT doc_id, unnest(${toksSql("text")}) AS token FROM documents),
         c AS (SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
               FROM tok GROUP BY token),
         top0 AS (SELECT * FROM c ORDER BY n_occurrences DESC, token
                  LIMIT ${TrainPrep.VocabK}),
         vv AS (SELECT token,
                  CAST(row_number() OVER (ORDER BY n_occurrences DESC, token)
                    AS BIGINT) AS vocab_id
                FROM top0),
         t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
         e AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
               FROM t),
         m AS (SELECT doc_id, i, toks[i] AS token FROM e),
         v AS (SELECT doc_id, i, coalesce(vocab_id, 0) AS tid
               FROM m LEFT JOIN vv USING (token))
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY i) AS ids_str
         FROM v GROUP BY doc_id ORDER BY doc_id""",
    "q_repeated_spans" -> {
      val k = TextDedup.SpanGram
      // 60-bit md5-prefix hash of the shingle — the DuckDB twin of the
      // native ShinglePosHashes value (first 15 hex nibbles big-endian);
      // md5 is computed once per shingle (g0), the nibble arithmetic
      // reads the hex string
      val nib60 = (0 until 15).map { j =>
        val p = java.math.BigInteger.valueOf(16L).pow(14 - j)
        s"(instr('0123456789abcdef', substring(h, ${j + 1}, 1)) - 1) * $p"
      }.mkString(" + ")
      s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
         s AS (SELECT doc_id, toks,
                 unnest(generate_series(0, len(toks) - $k)) AS pos
               FROM t),
         g0 AS (SELECT doc_id, pos,
                 md5(array_to_string(list_slice(toks, pos + 1, pos + $k), ' ')) AS h
               FROM s),
         g AS (SELECT doc_id, pos, $nib60 AS sh FROM g0),
         h AS (SELECT doc_id, pos FROM
                 (SELECT doc_id, pos, count(*) OVER (PARTITION BY sh) AS nn
                  FROM g) AS q1
               WHERE nn >= 2),
         i AS (SELECT doc_id, pos,
                 CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $k
                      THEN 0 ELSE 1 END AS newi
               FROM h),
         j AS (SELECT doc_id, pos,
                 sum(newi) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
               FROM i)
         SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + $k AS BIGINT) AS span_end,
           CAST(count(*) AS BIGINT) AS n_grams
         FROM j GROUP BY doc_id, island
         ORDER BY doc_id, span_start"""
    },
    // strip = the repeated-spans chain + a positional anti-filter and
    // an ordered re-join of the surviving tokens
    "q_strip_spans" -> {
      val k = TextDedup.SpanGram
      val nib60 = (0 until 15).map { j =>
        val p = java.math.BigInteger.valueOf(16L).pow(14 - j)
        s"(instr('0123456789abcdef', substring(h, ${j + 1}, 1)) - 1) * $p"
      }.mkString(" + ")
      s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
         s AS (SELECT doc_id, toks,
                 unnest(generate_series(0, len(toks) - $k)) AS pos
               FROM t),
         g0 AS (SELECT doc_id, pos,
                 md5(array_to_string(list_slice(toks, pos + 1, pos + $k), ' ')) AS h
               FROM s),
         g AS (SELECT doc_id, pos, $nib60 AS sh FROM g0),
         hh AS (SELECT doc_id, pos FROM
                 (SELECT doc_id, pos, count(*) OVER (PARTITION BY sh) AS nn
                  FROM g) AS q1
               WHERE nn >= 2),
         i AS (SELECT doc_id, pos,
                 CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $k
                      THEN 0 ELSE 1 END AS newi
               FROM hh),
         j AS (SELECT doc_id, pos,
                 sum(newi) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
               FROM i),
         spans AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS s0,
                     CAST(max(pos) + $k AS BIGINT) AS s1
                   FROM j GROUP BY doc_id, island),
         tok AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS token
                 FROM (SELECT doc_id, toks,
                         unnest(generate_series(1, len(toks))) AS i
                       FROM t WHERE len(toks) > 0) z),
         kept AS (SELECT doc_id, pos, token FROM tok
                  WHERE NOT EXISTS (SELECT 1 FROM spans
                    WHERE spans.doc_id = tok.doc_id
                      AND tok.pos >= spans.s0 AND tok.pos < spans.s1)),
         agg AS (SELECT doc_id,
                   string_agg(token, ' ' ORDER BY pos) AS clean_text,
                   CAST(count(*) AS BIGINT) AS n_after
                 FROM kept GROUP BY doc_id)
         SELECT t.doc_id,
           coalesce(agg.clean_text, '') AS clean_text,
           CAST(len(t.toks) AS BIGINT) AS n_before,
           coalesce(agg.n_after, 0) AS n_after
         FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
         ORDER BY t.doc_id"""
    },
    // C4-style keep-one segment dedup: tumbling W-token chunks, the
    // globally-first (doc_id, chunk_idx) occurrence of each distinct
    // chunk survives, later copies are cut. md5 both sides = bit parity.
    "q_paragraph_dedup" -> {
      val w = TextDedup.ParaWidth
      s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
         c AS (SELECT doc_id, toks,
                 unnest(generate_series(0, (len(toks) - 1) // $w)) AS c
               FROM t WHERE len(toks) > 0),
         ch AS (SELECT doc_id, c,
                 array_to_string(list_slice(toks, c*$w + 1, c*$w + $w), ' ') AS chunk
               FROM c),
         f AS (SELECT doc_id, c, chunk,
                 row_number() OVER (PARTITION BY md5(chunk)
                   ORDER BY doc_id, c) AS rk
               FROM ch),
         agg AS (SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_chunks,
                   CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   string_agg(CASE WHEN rk = 1 THEN chunk END, ' ' ORDER BY c)
                     AS clean_text
                 FROM f GROUP BY doc_id)
         SELECT d.doc_id,
           coalesce(agg.clean_text, '') AS clean_text,
           coalesce(agg.n_chunks, 0) AS n_chunks,
           coalesce(agg.n_kept, 0) AS n_kept
         FROM documents d LEFT JOIN agg USING (doc_id)
         ORDER BY doc_id"""
    },
    // incremental admission: an increment chunk survives only when its
    // value is absent from the standing corpus AND no earlier
    // (doc_id, chunk_idx) in the increment owns it
    "q_paragraph_incremental" -> {
      val w = TextDedup.ParaWidth
      val m = TextDedup.IncrementMod
      s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
         grid AS (SELECT doc_id, toks,
                   unnest(generate_series(0, (len(toks) - 1) // $w)) AS c
                 FROM t WHERE len(toks) > 0),
         ch AS (SELECT doc_id, c,
                 array_to_string(list_slice(toks, c*$w + 1, c*$w + $w), ' ') AS chunk
               FROM grid),
         sh AS (SELECT DISTINCT md5(chunk) AS h FROM ch WHERE doc_id % $m <> 0),
         ic AS (SELECT doc_id, c, chunk, md5(chunk) AS h FROM ch
                WHERE doc_id % $m = 0),
         f AS (SELECT ic.doc_id, ic.c, ic.chunk,
                 row_number() OVER (PARTITION BY ic.h
                   ORDER BY ic.doc_id, ic.c) AS rk,
                 sh.h IS NOT NULL AS in_standing
               FROM ic LEFT JOIN sh ON ic.h = sh.h),
         agg AS (SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_chunks,
                   CAST(sum(CASE WHEN rk = 1 AND NOT in_standing
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   string_agg(CASE WHEN rk = 1 AND NOT in_standing
                     THEN chunk END, ' ' ORDER BY c) AS clean_text
                 FROM f GROUP BY doc_id)
         SELECT d.doc_id,
           coalesce(agg.clean_text, '') AS clean_text,
           coalesce(agg.n_chunks, 0) AS n_chunks,
           coalesce(agg.n_kept, 0) AS n_kept
         FROM documents d LEFT JOIN agg USING (doc_id)
         WHERE d.doc_id % $m = 0
         ORDER BY doc_id"""
    },
    // winnowing (Schleimer/Wilkerson/Aiken): each w-window of k-gram
    // positions selects its (hash, pos) minimum via the fixed-width
    // sortable key — 15 lowercase hex nibbles ‖ 10-digit position
    "q_winnow_fingerprints" -> {
      val k = TextDedup.WinnowK
      val w = TextDedup.WinnowW
      val nib60 = (0 until 15).map { j =>
        val p = java.math.BigInteger.valueOf(16L).pow(14 - j)
        s"(instr('0123456789abcdef', substring(h, ${j + 1}, 1)) - 1) * $p"
      }.mkString(" + ")
      s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
         s AS (SELECT doc_id, toks,
                 unnest(generate_series(0, len(toks) - $k)) AS pos
               FROM t),
         g0 AS (SELECT doc_id, pos,
                 md5(array_to_string(list_slice(toks, pos + 1, pos + $k), ' ')) AS h
               FROM s),
         g AS (SELECT doc_id, pos,
                 printf('%015x', $nib60) || lpad(CAST(pos AS VARCHAR), 10, '0') AS key
               FROM g0),
         wm AS (SELECT doc_id, pos,
                 min(key) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS wmin,
                 count(*) OVER (PARTITION BY doc_id) AS n
               FROM g)
         SELECT DISTINCT doc_id,
           CAST(substring(wmin, 16, 10) AS BIGINT) AS fpos,
           substring(wmin, 1, 15) AS fp
         FROM wm WHERE pos <= greatest(n - $w, 0)
         ORDER BY doc_id, fpos, fp"""
    },
    // MOSS-style overlap: docs sharing >= MinSharedFp selected
    // fingerprints; ubiquitous fingerprints (> cap docs) excluded
    "q_winnow_overlap" -> {
      val cap = TextDedup.WinnowPairCap
      val minShared = TextDedup.MinSharedFp
      s"""WITH $winnowSelSql,
         small AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) <= $cap),
         kept AS (SELECT sel.doc_id, sel.fp FROM sel
                  JOIN small ON sel.fp = small.fp)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
         FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= $minShared
         ORDER BY doc_a, doc_b"""
    },
    // probe-vs-index overlap: the mod-10 increment against the rest,
    // ubiquity (and the cap) measured on the standing side only
    "q_winnow_probe" -> winnowProbeOracle,
    // the landed-index probe is answer-invariant — same oracle
    "q_winnow_persisted" -> winnowProbeOracle,
    "q_winnow_deleted" -> winnowDeletedOracle,
    // provenance attribution: the probe's best-matching standing doc
    // (max shared prints, ties to lowest id) + probe-side coverage
    "q_winnow_attribution" -> {
      val m = TextDedup.IncrementMod
      val cap = TextDedup.WinnowPairCap
      val minShared = TextDedup.MinSharedFp
      s"""WITH $winnowSelSql,
         ssel AS (SELECT * FROM sel WHERE doc_id % $m <> 0),
         psel AS (SELECT * FROM sel WHERE doc_id % $m = 0),
         small AS (SELECT fp FROM ssel GROUP BY fp HAVING count(*) <= $cap),
         skept AS (SELECT ssel.doc_id, ssel.fp FROM ssel
                   JOIN small ON ssel.fp = small.fp),
         pairs AS (SELECT p.doc_id AS probe_id, s.doc_id AS index_id,
             CAST(count(*) AS BIGINT) AS n_shared
           FROM psel p JOIN skept s ON p.fp = s.fp
           GROUP BY 1, 2 HAVING count(*) >= $minShared),
         np AS (SELECT doc_id AS probe_id,
             CAST(count(*) AS BIGINT) AS n_prints
           FROM psel GROUP BY doc_id),
         best AS (SELECT probe_id, index_id, n_shared FROM
             (SELECT *, row_number() OVER (PARTITION BY probe_id
                ORDER BY n_shared DESC, index_id) AS rk FROM pairs) z
           WHERE rk = 1)
         SELECT best.probe_id, best.index_id, best.n_shared, np.n_prints,
           CAST(best.n_shared AS DOUBLE) / np.n_prints AS coverage
         FROM best JOIN np ON best.probe_id = np.probe_id
         ORDER BY best.probe_id"""
    },
    // per-doc share of ubiquitous (> cap docs) fingerprints — the
    // never-drop-silently readout of the overlap cap's cut mass
    "q_winnow_boiler" -> {
      val cap = TextDedup.BoilerShareCap
      s"""WITH $winnowSelSql,
         ub AS (SELECT fp, count(*) AS nd FROM sel GROUP BY fp)
         SELECT sel.doc_id,
           CAST(count(*) AS BIGINT) AS n_prints,
           CAST(sum(CASE WHEN ub.nd > $cap THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ubiquitous,
           CAST(sum(CASE WHEN ub.nd > $cap THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS boiler_share
         FROM sel JOIN ub ON sel.fp = ub.fp
         GROUP BY sel.doc_id ORDER BY doc_id"""
    },
    "q_epoch_shuffle" ->
      s"""WITH d AS (SELECT doc_id,
             md5('ep1:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
         b AS (SELECT doc_id, h,
                 (instr('0123456789abcdef', substring(h, 1, 1)) - 1) * 16 +
                 (instr('0123456789abcdef', substring(h, 2, 1)) - 1) AS bucket
               FROM d),
         r AS (SELECT doc_id, bucket,
                 row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id) AS rk
               FROM b),
         c AS (SELECT bucket, count(*) AS cnt FROM r GROUP BY bucket),
         o AS (SELECT bucket,
                 CAST(coalesce(sum(cnt) OVER (ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS off
               FROM c)
         SELECT doc_id, CAST(off + rk - 1 AS BIGINT) AS pos
         FROM r JOIN o USING (bucket)
         ORDER BY doc_id""",
    // domain-balanced strike interleave: pos = (rn−1)·S + (src_idx−1)
    "q_domain_interleave" ->
      """WITH src AS (SELECT source,
             CAST(row_number() OVER (ORDER BY source) AS BIGINT) AS src_idx
           FROM (SELECT DISTINCT source FROM documents)),
         ns AS (SELECT CAST(count(*) AS BIGINT) AS n_src FROM src),
         d AS (SELECT doc_id, source,
                 md5('il:' || CAST(doc_id AS VARCHAR)) AS h
               FROM documents),
         r AS (SELECT doc_id, source,
                 CAST(row_number() OVER (PARTITION BY source
                   ORDER BY h, doc_id) AS BIGINT) AS rn
               FROM d)
         SELECT r.doc_id, r.source,
           (rn - 1) * n_src + (src_idx - 1) AS pos
         FROM r JOIN src ON r.source = src.source CROSS JOIN ns
         ORDER BY pos""",
    "q_eval_sample" ->
      s"""SELECT doc_id, source, rank FROM (
           SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY md5('ev:' || CAST(doc_id AS VARCHAR)), doc_id)
               AS BIGINT) AS rank
           FROM documents) AS q1
         WHERE rank <= ${TrainPrep.EvalPerSource}
         ORDER BY source, rank""",
    "q_source_similarity" -> {
      import TextDedup._
      val mins = (0 until NumHashes).map(k =>
        s"min((h * ${permA(k)} + ${permB(k)}) % $MinhashMod) AS m$k").mkString(", ")
      val agree = (0 until NumHashes).map(k =>
        s"(CASE WHEN a.m$k = b.m$k THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH t AS (SELECT doc_id, source, ${toksSql("text")} AS toks FROM documents),
         shs AS (SELECT doc_id, source, ${hashedShinglesSql(ShingleN)} AS hs FROM t),
         e AS (SELECT source, unnest(hs) AS h FROM shs),
         m AS (SELECT source, $mins FROM e GROUP BY source)
         SELECT a.source AS source_a, b.source AS source_b,
           CAST($agree AS BIGINT) AS n_agree,
           CAST($agree AS DOUBLE) / $NumHashes.0 AS est_jaccard
         FROM m a JOIN m b ON a.source < b.source
         ORDER BY source_a, source_b"""
    },
    // rounding spelled floor(y + 0.5) on both sides: the engines'
    // round() builtins disagree (half-away vs half-even) but floor is
    // floor everywhere; scale guard keeps all-zero vectors finite
    "q_embed_quantize" ->
      s"""WITH s AS (SELECT vec_id, embedding,
             greatest(list_aggregate(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE))), 'max'), 1e-30) AS scale
           FROM embeddings)
         SELECT vec_id, scale,
           CAST(len(embedding) AS INTEGER) AS n_dims,
           CAST(${foldSql(
             "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / scale * 127.0 + 0.5) AS BIGINT))",
             "CAST(0 AS BIGINT)", "(acc, q) -> acc + q")} AS BIGINT) AS q_sum,
           list_aggregate(list_transform(embedding,
             x -> abs(floor(CAST(x AS DOUBLE) / scale * 127.0 + 0.5) * scale / 127.0
                      - CAST(x AS DOUBLE))), 'max') AS max_err
         FROM s ORDER BY vec_id""",
    "q_rare_token_ratio" ->
      s"""WITH t AS (SELECT doc_id, unnest(${toksSql("text")}) AS token FROM documents),
         f AS (SELECT token, count(*) AS cnt FROM t GROUP BY token),
         j AS (SELECT t.doc_id, f.cnt FROM t JOIN f USING (token)),
         a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(sum(CASE WHEN cnt <= ${TrainPrep.RareCutoff} THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_rare
               FROM j GROUP BY doc_id)
         SELECT doc_id, n_tokens, n_rare,
           CASE WHEN n_tokens = 0 THEN 0.0
                ELSE CAST(n_rare AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS rare_ratio
         FROM a ORDER BY doc_id""",
    "q_domain_upsample" -> {
      s"""WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
                     FROM documents GROUP BY source),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
         ns AS (SELECT CAST(count(*) AS BIGINT) AS n_sources FROM c),
         pl AS (SELECT source, n_s,
                  (n_total // n_sources) // n_s AS copies_base,
                  (((n_total // n_sources) % n_s) * 10000) // n_s AS thr
                FROM c CROSS JOIN t CROSS JOIN ns),
         h AS (SELECT doc_id, source,
                 md5('up:' || CAST(doc_id AS VARCHAR)) AS hx
               FROM documents),
         d AS (SELECT doc_id, source,
                 copies_base + CASE WHEN ${md5b60Sql("hx")} % 10000 < thr THEN 1 ELSE 0 END AS n_copies
               FROM h JOIN pl USING (source))
         SELECT doc_id, source, CAST(n_copies AS BIGINT) AS n_copies,
           CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy_id
         FROM d ORDER BY doc_id, copy_id"""
    },
    // bigram LM head: adjacency from 1-based list positions; head list
    // and per-head ranks tie-break on the token text in both engines
    "q_bigram_next" -> {
      val h = CorpusAnalytics.BigramHeads
      val p = CorpusAnalytics.BigramPerHead
      s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
         ix AS (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
                FROM t WHERE len(toks) > 1),
         b AS (SELECT toks[i] AS head, toks[i + 1] AS next_token FROM ix),
         pc AS (SELECT head, next_token, CAST(count(*) AS BIGINT) AS n_pairs
                FROM b GROUP BY head, next_token),
         ht AS (SELECT head, CAST(sum(n_pairs) AS BIGINT) AS n_total
                FROM pc GROUP BY head
                ORDER BY n_total DESC, head LIMIT $h),
         r AS (SELECT pc.head, ht.n_total, pc.next_token, pc.n_pairs,
                 CAST(row_number() OVER (PARTITION BY pc.head
                   ORDER BY pc.n_pairs DESC, pc.next_token) AS BIGINT) AS pair_rank
               FROM pc JOIN ht ON pc.head = ht.head)
         SELECT head, n_total, pair_rank, next_token, n_pairs
         FROM r WHERE pair_rank <= $p ORDER BY head, pair_rank"""
    },
    // per-occurrence bigram stream joined against its own aggregate;
    // the ratio is ONE division of two exact BIGINTs — portable
    "q_rare_bigrams" -> {
      val t = CorpusAnalytics.RareBigramMax
      s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
         ix AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
                FROM t WHERE len(toks) > 1),
         occ AS (SELECT doc_id, toks[i] AS head, toks[i + 1] AS next_token FROM ix),
         pc AS (SELECT head, next_token, CAST(count(*) AS BIGINT) AS n_corpus
                FROM occ GROUP BY head, next_token)
         SELECT occ.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(CASE WHEN pc.n_corpus <= $t THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
           CAST(sum(CASE WHEN pc.n_corpus <= $t THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS rare_ratio
         FROM occ JOIN pc ON occ.head = pc.head AND occ.next_token = pc.next_token
         GROUP BY occ.doc_id ORDER BY occ.doc_id"""
    },
    // L1 numerator stays exact integers (HUGEINT ≙ Spark decimal(38,0));
    // the absent-token tail folds closed-form, no source×vocab product
    "q_source_divergence" ->
      s"""WITH st AS (SELECT source, t.token AS token, CAST(count(*) AS BIGINT) AS n_st
                      FROM (SELECT source, ${toksSql("text")} AS toks FROM documents),
                           UNNEST(toks) AS t(token)
                      GROUP BY source, t.token),
         g AS (SELECT token, CAST(sum(n_st) AS BIGINT) AS n_t FROM st GROUP BY token),
         tot AS (SELECT source, CAST(sum(n_st) AS BIGINT) AS n_s FROM st GROUP BY source),
         alln AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_all FROM tot),
         d AS (SELECT st.source, tot.n_s, g.n_t, alln.n_all,
                 abs(CAST(st.n_st AS HUGEINT) * n_all
                     - CAST(g.n_t AS HUGEINT) * tot.n_s) AS dd
               FROM st JOIN g USING (token)
                    JOIN tot ON st.source = tot.source
                    CROSS JOIN alln),
         agg AS (SELECT source,
                   min(n_s) AS n_tokens_src,
                   sum(dd) AS present,
                   CAST(sum(n_t) AS HUGEINT) AS g_s,
                   min(n_all) AS n_all
                 FROM d GROUP BY source)
         SELECT source, n_tokens_src, n_all,
           CAST(present + CAST(n_tokens_src AS HUGEINT) * (n_all - g_s)
                AS BIGINT) AS l1_num
         FROM agg ORDER BY source""",
    // leave-one-out bigram-LM perplexity: logs quantized to integer
    // micro-nats at the leaf (round(1e6*ln(count))) so scores sum as
    // exact BIGINTs; one terminal IEEE division; ntile per language
    "q_lm_perplexity" ->
      s"""WITH base AS (SELECT doc_id, lang, ${toksSql("text")} AS toks
                        FROM documents),
         d AS (SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS m, toks
               FROM base WHERE len(toks) >= 2),
         ix AS (SELECT doc_id, lang, m, toks,
                  unnest(generate_series(1, len(toks) - 1)) AS i FROM d),
         bg AS (SELECT doc_id, lang, m, toks[i] AS w1, toks[i + 1] AS w2
                FROM ix),
         pd AS (SELECT doc_id, lang, m, w1, w2,
                  CAST(count(*) AS BIGINT) AS k
                FROM bg GROUP BY doc_id, lang, m, w1, w2),
         cbg AS (SELECT w1, w2, CAST(sum(k) AS BIGINT) AS c
                 FROM pd GROUP BY w1, w2),
         ch AS (SELECT w1, CAST(sum(k) AS BIGINT) AS h FROM pd GROUP BY w1),
         hd AS (SELECT doc_id, w1, CAST(sum(k) AS BIGINT) AS h_d
                FROM pd GROUP BY doc_id, w1),
         ud AS (SELECT doc_id, t.w2 AS w2, CAST(count(*) AS BIGINT) AS u2_d
                FROM (SELECT doc_id, toks FROM d), UNNEST(toks) AS t(w2)
                GROUP BY doc_id, t.w2),
         cu AS (SELECT w2, CAST(sum(u2_d) AS BIGINT) AS u2
                FROM ud GROUP BY w2),
         nn AS (SELECT CAST(sum(m) AS BIGINT) AS n_all FROM d),
         sc AS (SELECT pd.doc_id, pd.lang, pd.m, pd.k,
                  CASE
                    WHEN cbg.c - pd.k > 0 THEN
                      CAST(round(ln(cbg.c - pd.k) * 1000000) AS BIGINT)
                      - CAST(round(ln(ch.h - hd.h_d) * 1000000) AS BIGINT)
                    WHEN cu.u2 - ud.u2_d > 0 THEN
                      CAST(round(ln(2) * 1000000) AS BIGINT)
                      - CAST(round(ln(5) * 1000000) AS BIGINT)
                      + CAST(round(ln(cu.u2 - ud.u2_d) * 1000000) AS BIGINT)
                      - CAST(round(ln(greatest(nn.n_all - pd.m, 1)) * 1000000) AS BIGINT)
                    ELSE -CAST(round(ln(greatest(nn.n_all - pd.m, 1)) * 1000000) AS BIGINT)
                  END AS lp
                FROM pd
                JOIN cbg ON pd.w1 = cbg.w1 AND pd.w2 = cbg.w2
                JOIN hd ON pd.doc_id = hd.doc_id AND pd.w1 = hd.w1
                JOIN ch ON pd.w1 = ch.w1
                JOIN ud ON pd.doc_id = ud.doc_id AND pd.w2 = ud.w2
                JOIN cu ON pd.w2 = cu.w2
                CROSS JOIN nn),
         agg AS (SELECT doc_id, lang, min(m) AS m,
                   CAST(-sum(k * lp) AS BIGINT) AS nats_micro
                 FROM sc GROUP BY doc_id, lang)
         SELECT doc_id, lang, m - 1 AS n_positions, nats_micro,
           CAST(nats_micro AS DOUBLE) / CAST(m - 1 AS DOUBLE)
             AS nats_per_pos,
           CASE ntile(3) OVER (PARTITION BY lang
               ORDER BY CAST(nats_micro AS DOUBLE) / CAST(m - 1 AS DOUBLE),
                        doc_id)
             WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS ppl_bucket
         FROM agg ORDER BY doc_id""",
    // DSIR importance weights: target-vs-raw unigram LM log-ratio,
    // add-one over the shared vocab, logs quantized to integer
    // micro-nats at the leaf (same qln discipline as q_lm_perplexity)
    "q_dsir_weights" -> {
      val t = graft.operators.TrainPrep.DsirTargetSource
      s"""WITH base AS (SELECT doc_id, source, ${toksSql("text")} AS toks
                        FROM documents),
         dt AS (SELECT doc_id, source, t.w AS w,
                  CAST(count(*) AS BIGINT) AS k
                FROM base, UNNEST(toks) AS t(w)
                GROUP BY doc_id, source, t.w),
         raw AS (SELECT w, CAST(sum(k) AS BIGINT) AS n_raw
                 FROM dt GROUP BY w),
         tgt AS (SELECT w, CAST(sum(k) AS BIGINT) AS n_tgt
                 FROM dt WHERE source = '$t' GROUP BY w),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS v,
                   CAST(sum(n_raw) AS BIGINT) AS nn_raw,
                   CAST(coalesce(sum(n_tgt), 0) AS BIGINT) AS nn_tgt
                 FROM raw LEFT JOIN tgt USING (w)),
         sc AS (SELECT dt.doc_id, dt.source, dt.k,
                  CAST(round(ln(coalesce(tgt.n_tgt, 0) + 1) * 1000000) AS BIGINT)
                  - CAST(round(ln(tot.nn_tgt + tot.v) * 1000000) AS BIGINT)
                  - CAST(round(ln(raw.n_raw + 1) * 1000000) AS BIGINT)
                  + CAST(round(ln(tot.nn_raw + tot.v) * 1000000) AS BIGINT) AS pt
                FROM dt JOIN raw USING (w) LEFT JOIN tgt USING (w)
                CROSS JOIN tot)
         SELECT doc_id, source, CAST(sum(k) AS BIGINT) AS n_tokens,
           CAST(sum(k * pt) AS BIGINT) AS logw_micro,
           (CAST(sum(k * pt) AS BIGINT) > 0) AS keep
         FROM sc GROUP BY doc_id, source ORDER BY doc_id"""
    },
    // DSIR admission gate: probe docs scored occurrence-level against
    // the frozen whole-corpus model (probe tokens unseen in the model
    // fall to the add-one floor via left joins)
    "q_dsir_admission" -> {
      val t = graft.operators.TrainPrep.DsirTargetSource
      val p = graft.operators.TrainPrep.DsirProbeSource
      s"""WITH base AS (SELECT doc_id, source, ${toksSql("text")} AS toks
                        FROM documents),
         mt AS (SELECT source, t.w AS w FROM base, UNNEST(toks) AS t(w)),
         raw AS (SELECT w, CAST(count(*) AS BIGINT) AS n_raw
                 FROM mt GROUP BY w),
         tgt AS (SELECT w, CAST(count(*) AS BIGINT) AS n_tgt
                 FROM mt WHERE source = '$t' GROUP BY w),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS v,
                   CAST(sum(n_raw) AS BIGINT) AS nn_raw,
                   CAST(coalesce(sum(n_tgt), 0) AS BIGINT) AS nn_tgt
                 FROM raw LEFT JOIN tgt USING (w)),
         pr AS (SELECT doc_id, source, t.w AS w
                FROM base, UNNEST(toks) AS t(w) WHERE source = '$p'),
         sc AS (SELECT pr.doc_id, pr.source,
                  CAST(round(ln(coalesce(tgt.n_tgt, 0) + 1) * 1000000) AS BIGINT)
                  - CAST(round(ln(tot.nn_tgt + tot.v) * 1000000) AS BIGINT)
                  - CAST(round(ln(coalesce(raw.n_raw, 0) + 1) * 1000000) AS BIGINT)
                  + CAST(round(ln(tot.nn_raw + tot.v) * 1000000) AS BIGINT) AS term
                FROM pr LEFT JOIN raw USING (w) LEFT JOIN tgt USING (w)
                CROSS JOIN tot)
         SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(term) AS BIGINT) AS logw_micro,
           (CAST(sum(term) AS BIGINT) > 0) AS keep
         FROM sc GROUP BY doc_id, source ORDER BY doc_id"""
    },
    // stratified equalizing downsample: integer threshold arithmetic and
    // the salted 60-bit md5 bucket, same recipe as q_domain_upsample
    "q_stratified_sample" ->
      s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_l
                     FROM documents GROUP BY lang),
         mn AS (SELECT min(n_l) AS min_n FROM c),
         thr AS (SELECT lang, (min_n * 10000) // n_l AS thr
                 FROM c CROSS JOIN mn),
         h AS (SELECT doc_id, lang, source,
                 md5('strat:' || CAST(doc_id AS VARCHAR)) AS hx
               FROM documents)
         SELECT doc_id, h.lang, source
         FROM h JOIN thr ON h.lang = thr.lang
         WHERE ${md5b60Sql("hx")} % 10000 < thr.thr
         ORDER BY doc_id""",
    // positional postings for the top-K tokens; 0-based positions match
    // Spark's posexplode
    "q_postings" -> {
      val k = CorpusAnalytics.PostingsK
      s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
         ix AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
                FROM t WHERE len(toks) > 0),
         tok AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS token
                 FROM ix),
         top AS (SELECT token FROM tok GROUP BY token
                 ORDER BY count(*) DESC, token LIMIT $k),
         p AS (SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf,
                 min(pos) AS first_pos, max(pos) AS last_pos
               FROM tok JOIN top USING (token) GROUP BY token, doc_id)
         SELECT token, doc_id, tf, first_pos, last_pos
         FROM p ORDER BY token, doc_id"""
    },
    // bigram lift: rational PMI twin — integer counts, one fixed
    // multiply/divide chain; the min-pair gate applies before the joins
    "q_bigram_lift" -> {
      val m = CorpusAnalytics.LiftMinPairs
      s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
         ix AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
                FROM t WHERE len(toks) > 0),
         tok AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS token
                 FROM ix),
         uni AS (SELECT token, CAST(count(*) AS BIGINT) AS n_tok
                 FROM tok GROUP BY token),
         tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS n_total FROM uni),
         ix2 AS (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
                 FROM t WHERE len(toks) > 1),
         b AS (SELECT toks[i] AS head, toks[i + 1] AS next_token FROM ix2),
         pc AS (SELECT head, next_token, CAST(count(*) AS BIGINT) AS n_pair
                FROM b GROUP BY head, next_token
                HAVING count(*) >= $m)
         SELECT pc.head, pc.next_token, pc.n_pair,
           h.n_tok AS n_head, n.n_tok AS n_next,
           (CAST(pc.n_pair AS DOUBLE) * CAST(tot.n_total AS DOUBLE)) /
             (CAST(h.n_tok AS DOUBLE) * CAST(n.n_tok AS DOUBLE)) AS lift
         FROM pc
         JOIN uni h ON pc.head = h.token
         JOIN uni n ON pc.next_token = n.token
         CROSS JOIN tot
         ORDER BY pc.head, pc.next_token"""
    },
    // BM25 over the same tokenization: rational idf (no log — the
    // tfidf precedent), per-term pivot columns added LEFT-TO-RIGHT so
    // the double sum has one evaluation order in both engines; every
    // other float op is correctly-rounded on identical operands. The
    // (1.2 + 1.0) spelling matters: both engines fold the literals with
    // one IEEE add rather than parsing a 2.2 that may differ in ULP.
    "q_bm25_search" -> {
      val terms = CorpusAnalytics.Bm25Terms
      val inList = terms.map(t => s"'$t'").mkString(", ")
      val pivots = terms.map(t =>
        s"max(CASE WHEN token = '$t' THEN score END) AS s_$t").mkString(",\n                ")
      val total = terms.map(t => s"coalesce(s_$t, 0.0)").mkString(" + ")
      s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
         d AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, toks FROM t),
         st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                  sum(dl) / count(*) AS avgdl FROM d),
         tok AS (SELECT doc_id, dl, unnest(toks) AS token FROM d),
         tf AS (SELECT doc_id, dl, token, CAST(count(*) AS DOUBLE) AS tf
                FROM tok WHERE token IN ($inList) GROUP BY doc_id, dl, token),
         dfq AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token),
         sc AS (SELECT tf.doc_id, tf.token,
                  ((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
                    * ((tf.tf * (1.2 + 1.0)) /
                       (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (tf.dl / st.avgdl)))) AS score
                FROM tf JOIN dfq USING (token) CROSS JOIN st),
         p AS (SELECT doc_id,
                $pivots
               FROM sc GROUP BY doc_id)
         SELECT doc_id, ${terms.map(t => s"s_$t").mkString(", ")},
           $total AS bm25
         FROM p ORDER BY bm25 DESC, doc_id LIMIT ${CorpusAnalytics.Bm25TopK}"""
    },
    // set-similarity EXACTNESS contract: the oracle is brute force —
    // prefix filtering promises zero recall loss, so the banded Spark
    // plan must equal the all-pairs ground truth bit for bit
    // containment-join exactness: brute-force ground truth — the
    // asymmetric prefix filter may not lose a single subset-dup pair
    "q_containment_join" -> {
      import TextDedup._
      s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
         shs AS (SELECT doc_id, ${hashedShinglesSql(ShingleN)} AS hs FROM t),
         v AS (SELECT doc_id, hs, CAST(len(hs) AS BIGINT) AS sz
               FROM shs WHERE len(hs) > 0),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS inter,
                 a.sz AS sa, b.sz AS sb
               FROM v a JOIN v b ON a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, inter,
           CAST(inter AS DOUBLE) / least(sa, sb) AS containment
         FROM p
         WHERE CAST(inter AS DOUBLE) / least(sa, sb)
           >= $ContainmentThreshold
         ORDER BY doc_a, doc_b"""
    },
    "q_setsim_join" -> {
      import TextDedup._
      s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
         shs AS (SELECT doc_id, ${hashedShinglesSql(ShingleN)} AS hs FROM t),
         v AS (SELECT doc_id, hs, CAST(len(hs) AS BIGINT) AS sz
               FROM shs WHERE len(hs) > 0),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS inter,
                 a.sz AS sa, b.sz AS sb
               FROM v a JOIN v b ON a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, inter,
           CAST(inter AS DOUBLE) / (sa + sb - inter) AS jaccard
         FROM p
         WHERE CAST(inter AS DOUBLE) / (sa + sb - inter) >= $SetSimThreshold
         ORDER BY doc_a, doc_b"""
    },
    // incremental setsim exactness: brute force probe×index ground
    // truth again — the filter may not lose a cross pair either
    "q_containment_incremental" -> {
      import TextDedup._
      s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
         shs AS (SELECT doc_id, ${hashedShinglesSql(ShingleN)} AS hs FROM t),
         v AS (SELECT doc_id, hs, CAST(len(hs) AS BIGINT) AS sz
               FROM shs WHERE len(hs) > 0),
         p AS (SELECT a.doc_id AS probe_id, b.doc_id AS index_id,
                 CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS inter,
                 a.sz AS sa, b.sz AS sb
               FROM v a JOIN v b
                 ON a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0)
         SELECT probe_id, index_id, inter,
           CAST(inter AS DOUBLE) / least(sa, sb) AS containment
         FROM p
         WHERE CAST(inter AS DOUBLE) / least(sa, sb)
           >= $ContainmentThreshold
         ORDER BY probe_id, index_id"""
    },
    "q_setsim_incremental" -> {
      import TextDedup._
      s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
         shs AS (SELECT doc_id, ${hashedShinglesSql(ShingleN)} AS hs FROM t),
         v AS (SELECT doc_id, hs, CAST(len(hs) AS BIGINT) AS sz
               FROM shs WHERE len(hs) > 0),
         p AS (SELECT a.doc_id AS probe_id, b.doc_id AS index_id,
                 CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS inter,
                 a.sz AS sa, b.sz AS sb
               FROM v a JOIN v b
                 ON a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0)
         SELECT probe_id, index_id, inter,
           CAST(inter AS DOUBLE) / (sa + sb - inter) AS jaccard
         FROM p
         WHERE CAST(inter AS DOUBLE) / (sa + sb - inter) >= $SetSimThreshold
         ORDER BY probe_id, index_id"""
    },
    // incremental stats contract: the oracle recomputes in ONE pass
    // what the Spark side assembles as merge(state(80%), delta(20%)) —
    // equality IS the mergeability proof (all-integer sums)
    "q_stats_merge" ->
      s"""WITH t AS (SELECT source, lang, n_chars,
             len(${toksSql("text")}) AS n_toks FROM documents)
         SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_toks,
           CAST(sum(n_chars) AS BIGINT) AS n_chars_sum,
           CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_en
         FROM t GROUP BY source ORDER BY source""",
    // τ=1/2 temperature mix: thresholds are floor(√(n/max)·10000) — a
    // single sqrt/divide/floor chain, correctly rounded — and the kept
    // set is the salted 60-bit md5 bucket (the upsample recipe)
    "q_temperature_mix" ->
      s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_l
                     FROM documents GROUP BY lang),
         mx AS (SELECT max(n_l) AS max_n FROM c),
         thr AS (SELECT lang, n_l,
                   CAST(floor(sqrt(CAST(n_l AS DOUBLE) / CAST(max_n AS DOUBLE))
                     * 10000.0) AS BIGINT) AS thr
                 FROM c CROSS JOIN mx),
         h AS (SELECT doc_id, lang,
                 md5('temp:' || CAST(doc_id AS VARCHAR)) AS hx
               FROM documents)
         SELECT h.lang, n_l, thr,
           CAST(sum(CASE WHEN ${md5b60Sql("hx")} % 10000 < thr
             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         FROM h JOIN thr ON h.lang = thr.lang
         GROUP BY h.lang, n_l, thr ORDER BY h.lang""",
    "q_survivorship" -> survivorshipOracle,
    // minhash estimator vs exact over the same banded candidates; the
    // mh CTE already carries all 16 slots per doc
    "q_minhash_est" -> {
      import TextDedup._
      val matchSum = (0 until NumHashes).map(k =>
        s"(CASE WHEN a.mh$k = b.mh$k THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH $minhashCtes,
         est AS (
           SELECT c.doc_a, c.doc_b,
             CAST($matchSum AS BIGINT) AS n_slot_matches
           FROM cand c
           JOIN mh a ON a.doc_id = c.doc_a
           JOIN mh b ON b.doc_id = c.doc_b),
         j AS (
           SELECT doc_a, doc_b,
             CASE WHEN sz - inter = 0 THEN 0.0 ELSE inter / (sz - inter) END AS jaccard
           FROM scored)
         SELECT j.doc_a, j.doc_b, j.jaccard, e.n_slot_matches,
           CAST(e.n_slot_matches AS DOUBLE) / $NumHashes AS est_jaccard,
           abs(CAST(e.n_slot_matches AS DOUBLE) / $NumHashes - j.jaccard) AS abs_err
         FROM j JOIN est e ON j.doc_a = e.doc_a AND j.doc_b = e.doc_b
         ORDER BY j.doc_a, j.doc_b"""
    },
    // containment verify over the same banded candidates; the Jaccard
    // `scored` CTE in the chain goes unreferenced and unevaluated
    "q_containment_pairs" -> {
      import TextDedup._
      s"""WITH $minhashCtes,
         sc AS (
           SELECT doc_a, doc_b,
             CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) AS inter,
             CAST(least(len(sa.hs), len(sb.hs)) AS DOUBLE) AS mn
           FROM cand
           JOIN shs sa ON sa.doc_id = doc_a
           JOIN shs sb ON sb.doc_id = doc_b)
         SELECT doc_a, doc_b,
           CASE WHEN mn = 0 THEN 0.0 ELSE inter / mn END AS containment
         FROM sc
         WHERE CASE WHEN mn = 0 THEN 0.0 ELSE inter / mn END
           >= $ContainmentThreshold
         ORDER BY doc_a, doc_b"""
    },
    // near-dup graph degrees from the same banded candidate chain; max
    // over identical rational jaccards is portable
    "q_dup_degree" -> {
      import TextDedup._
      s"""WITH $minhashCtes,
         pj AS (SELECT doc_a, doc_b,
             CASE WHEN sz - inter = 0 THEN 0.0 ELSE inter / (sz - inter) END AS jaccard
           FROM scored
           WHERE CASE WHEN sz - inter = 0 THEN 0.0 ELSE inter / (sz - inter) END >= $JaccardThreshold),
         b AS (SELECT doc_a AS doc_id, jaccard FROM pj
               UNION ALL SELECT doc_b, jaccard FROM pj)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_neighbors,
           max(jaccard) AS max_jaccard
         FROM b GROUP BY doc_id ORDER BY doc_id"""
    },
    // recall@3 of the banded ANN vs brute force: both CTE chains are the
    // same SQL the two underlying oracles run; overlap + rational n/k
    "q_ann_recall" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
             FROM embeddings WHERE $isQuerySql),
         scored_x AS (
           SELECT q.query_id, e.vec_id, ${cosineSql("q.qv", "e.embedding")} AS cosine
           FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         ranked_x AS (
           SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
           FROM scored_x),
         ex AS (SELECT query_id, vec_id FROM ranked_x WHERE rk <= 3),
         bands AS ($bandedIndexSql),
         qb AS (SELECT vec_id AS query_id, band, sig FROM bands WHERE $isQuerySql),
         cand AS (SELECT DISTINCT b.vec_id, q.query_id
                  FROM bands b JOIN qb q ON b.band = q.band AND b.sig = q.sig
                  WHERE b.vec_id <> q.query_id),
         scored_a AS (
           SELECT c.query_id, c.vec_id,
             ${cosineSql("qe.embedding", "e.embedding")} AS cosine
           FROM cand c
           JOIN embeddings e ON e.vec_id = c.vec_id
           JOIN embeddings qe ON qe.vec_id = c.query_id),
         ranked_a AS (
           SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
           FROM scored_a),
         an AS (SELECT query_id, vec_id FROM ranked_a WHERE rk <= 3),
         hits AS (SELECT ex.query_id, CAST(count(*) AS BIGINT) AS n_hit
                  FROM ex JOIN an ON ex.query_id = an.query_id
                    AND ex.vec_id = an.vec_id
                  GROUP BY ex.query_id)
         SELECT q.query_id,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 3 AS recall
         FROM q LEFT JOIN hits h ON q.query_id = h.query_id
         ORDER BY q.query_id""",
    // stage-to-stage latency over the funnel's per-user times; BIGINT
    // gap sums keep the mean a portable rational
    "q_funnel_latency" ->
      """WITH e AS (
           SELECT user_id, event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_us
           FROM events),
         s1 AS (SELECT user_id, min(ts_us) AS ts_us FROM e
                WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.ts_us) AS ts_us
                FROM e JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.ts_us > s1.ts_us
                GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.ts_us) AS ts_us
                FROM e JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase' AND e.ts_us > s2.ts_us
                GROUP BY e.user_id),
         t1 AS (SELECT s2.ts_us - s1.ts_us AS gap
                FROM s2 JOIN s1 ON s2.user_id = s1.user_id),
         t2 AS (SELECT s3.ts_us - s2.ts_us AS gap
                FROM s3 JOIN s2 ON s3.user_id = s2.user_id)
         SELECT CAST(1 AS BIGINT) AS stage_idx,
           'view->click' AS transition,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(gap) AS DOUBLE) / count(*) AS avg_us,
           CAST(max(gap) AS BIGINT) AS max_us
         FROM t1
         UNION ALL
         SELECT CAST(2 AS BIGINT), 'click->purchase',
           CAST(count(*) AS BIGINT),
           CAST(sum(gap) AS DOUBLE) / count(*),
           CAST(max(gap) AS BIGINT)
         FROM t2
         ORDER BY stage_idx""",
    // first-order Markov matrix; p is a BIGINT/BIGINT rational
    "q_event_transitions" ->
      """WITH e AS (
           SELECT user_id, event_id, event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_us
           FROM events),
         x AS (
           SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts_us, event_id) AS to_type
           FROM e),
         c AS (SELECT from_type, to_type,
                 CAST(count(*) AS BIGINT) AS n_transitions
               FROM x WHERE to_type IS NOT NULL
               GROUP BY from_type, to_type)
         SELECT from_type, to_type, n_transitions,
           CAST(n_transitions AS DOUBLE) /
             CAST(sum(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE) AS p
         FROM c ORDER BY from_type, to_type""",
    // fixed-width histogram: floor of the same double quotient both
    // engines; min/max over identical value sets
    "q_value_histogram" ->
      """WITH b AS (
           SELECT event_type,
             CAST(floor(value / 50.0) AS BIGINT) AS bin, value
           FROM events)
         SELECT event_type, bin,
           CAST(count(*) AS BIGINT) AS n_events,
           min(value) AS min_value,
           max(value) AS max_value,
           CAST(bin AS DOUBLE) * 50.0 AS bin_lo
         FROM b GROUP BY event_type, bin
         ORDER BY event_type, bin""",
    // per-(label, dim) EXACT integer sums of millionth-quantized
    // components (the q_embed_quantize rounding); mean is a rational
    "q_label_centroids" ->
      """WITH ix AS (
           SELECT label, embedding,
             unnest(generate_series(1, len(embedding))) AS i
           FROM embeddings),
         q AS (SELECT label, CAST(i - 1 AS INTEGER) AS dim,
                 CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5)
                   AS BIGINT) AS qv
               FROM ix)
         SELECT label, dim,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(qv) AS BIGINT) AS sum_q,
           CAST(sum(qv) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_q
         FROM q GROUP BY label, dim
         ORDER BY label, dim""",
    // per-dim variance from exact integer moments: DuckDB's sum over
    // BIGINT is HUGEINT (int128), the twin of Spark's DECIMAL(38,0);
    // n·Σq² − (Σq)² is exact on both, cast to double identically
    "q_dim_variance" ->
      """WITH ix AS (
           SELECT embedding, unnest(generate_series(1, len(embedding))) AS i
           FROM embeddings),
         q AS (SELECT CAST(i - 1 AS INTEGER) AS dim,
                 CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5)
                   AS BIGINT) AS qv
               FROM ix),
         m AS (SELECT dim, CAST(count(*) AS BIGINT) AS n_vecs,
                 sum(qv) AS sum_q, sum(qv * qv) AS sum_q2
               FROM q GROUP BY dim)
         SELECT dim, n_vecs,
           CAST(sum_q AS DOUBLE) / CAST(n_vecs AS DOUBLE) AS mean_q,
           CAST(n_vecs * sum_q2 - sum_q * sum_q AS DOUBLE)
             / CAST(n_vecs * n_vecs AS DOUBLE) AS var_q
         FROM m ORDER BY dim""",
    // per-label centroid drift between the even/odd snapshot halves:
    // cosine of the two integer component-SUM vectors (scale-invariant
    // ≡ the mean centroids), moments in HUGEINT, one double terminal
    "q_centroid_drift" ->
      """WITH ix AS (
           SELECT vec_id, label, embedding,
             unnest(generate_series(1, len(embedding))) AS i
           FROM embeddings),
         q AS (SELECT label, vec_id % 2 = 0 AS a, CAST(i - 1 AS INTEGER) AS dim,
                 CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5)
                   AS BIGINT) AS qv
               FROM ix),
         s AS (SELECT label, dim,
                 sum(CASE WHEN a THEN qv ELSE 0 END) AS sa,
                 sum(CASE WHEN a THEN 0 ELSE qv END) AS sb
               FROM q GROUP BY label, dim),
         d AS (SELECT label, sum(sa * sb) AS dot,
                 sum(sa * sa) AS na2, sum(sb * sb) AS nb2
               FROM s GROUP BY label),
         c AS (SELECT label,
                 CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                 CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_b
               FROM embeddings GROUP BY label)
         SELECT d.label, c.n_a, c.n_b,
           CASE WHEN d.na2 = 0 OR d.nb2 = 0 THEN NULL
                ELSE CAST(d.dot AS DOUBLE) /
                  (sqrt(CAST(d.na2 AS DOUBLE)) * sqrt(CAST(d.nb2 AS DOUBLE)))
           END AS drift_cos
         FROM d JOIN c ON d.label = c.label
         ORDER BY d.label""",
    // exact heavy hitters: the Spark side only uses its MG sketch to
    // DECIDE WHAT TO COUNT (candidate superset, then exact verify), so
    // the answer equals the plain GROUP BY … HAVING over the strict
    // 1/k-share threshold — all-integer comparison, hash-structural
    "q_heavy_hitters" ->
      s"""WITH t AS (SELECT unnest(${toksSql("text")}) AS token
                     FROM documents),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM t)
         SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences,
           n.n_total AS n_total
         FROM t CROSS JOIN n
         GROUP BY token, n.n_total
         HAVING count(*) * ${CorpusAnalytics.HeavyK} > n.n_total
         ORDER BY n_occurrences DESC, token""",
    // heavy-token strip: heavy set recomputed exactly (same HAVING
    // twin as q_heavy_hitters), collapsed to one list, filtered out
    // of each doc's token array. coalesce to [] so an EMPTY heavy set
    // keeps every token (list_contains(NULL,·) is NULL and would
    // null-drop the whole filter). All-integer counts + literal-joined
    // text — hash-structural.
    "q_strip_heavy" ->
      s"""WITH t AS (SELECT unnest(${toksSql("text")}) AS token
                     FROM documents),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM t),
         heavy AS (SELECT token FROM t CROSS JOIN n
                   GROUP BY token, n.n_total
                   HAVING count(*) * ${CorpusAnalytics.HeavyK} > n.n_total),
         hv AS (SELECT coalesce(list(token), []) AS hv FROM heavy),
         d AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents)
         SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_before,
           CAST(len(list_filter(toks, tk -> NOT list_contains(hv.hv, tk)))
             AS BIGINT) AS n_after,
           coalesce(array_to_string(list_filter(toks,
             tk -> NOT list_contains(hv.hv, tk)), ' '), '') AS clean_text
         FROM d CROSS JOIN hv ORDER BY doc_id""",
    // distilled classifier application: weight CASE generated from the
    // Scala weight constant — integer fold, engine-identical
    "q_classifier_score" ->
      s"""WITH d AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents)
         SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           ${clfRawSql("toks")} AS clf_raw,
           (${clfRawSql("toks")} * ${graft.operators.CorpusFilters.ClassifierDen}
             >= CAST(len(toks) AS BIGINT)) AS keep_clf
         FROM d ORDER BY doc_id""",
    "q_curate_v6" -> curateV6Oracle,
    "q_curate_v7" -> curateV7Oracle,
    // v8: strip-then-curate — the CDC boilerplate strip between the
    // dedup stages and a quality gate that scores the CLEANED text
    "q_curate_v8" -> curateV8Oracle,
    // skew audit: percentiles via the integer inverted-CDF over the
    // frequency-of-frequency frame — exact, no engine quantile function
    "q_skew_audit" ->
      s"""WITH kc AS (SELECT event_type, user_id,
                        CAST(count(*) AS BIGINT) AS kc
                      FROM events GROUP BY event_type, user_id),
         fof AS (SELECT event_type, kc, CAST(count(*) AS BIGINT) AS nk
                 FROM kc GROUP BY event_type, kc),
         cumf AS (SELECT event_type, kc,
                    sum(nk) OVER (PARTITION BY event_type ORDER BY kc)
                      AS cum
                  FROM fof),
         tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(sum(kc) AS BIGINT) AS n_rows,
                   CAST(max(kc) AS BIGINT) AS max_key_count
                 FROM kc GROUP BY event_type)
         SELECT t.event_type, n_keys, n_rows, max_key_count,
           CAST(min(CASE WHEN cum * 100 >= n_keys * 50 THEN kc END)
             AS BIGINT) AS p50_key_count,
           CAST(min(CASE WHEN cum * 100 >= n_keys * 99 THEN kc END)
             AS BIGINT) AS p99_key_count,
           CAST(max_key_count AS DOUBLE) / CAST(n_rows AS DOUBLE)
             AS top_share,
           (max_key_count * ${graft.operators.ScaleJoins.SkewHintFrac}
               > n_rows
             AND max_key_count >
               CAST(min(CASE WHEN cum * 100 >= n_keys * 50 THEN kc END)
                 AS BIGINT) * ${graft.operators.ScaleJoins.SkewHintDominance})
             AS salt_hint
         FROM cumf c JOIN tot t ON c.event_type = t.event_type
         GROUP BY t.event_type, n_keys, n_rows, max_key_count
         ORDER BY t.event_type""",
    // weighted water-filling: capped test and allocations are integer
    // cross-multiplies/floor-divs; the sort ratio is one IEEE division
    "q_mix_budget" ->
      s"""$mixBudgetCtes
         SELECT source, n_s, weight, capped, alloc
         FROM mixplan ORDER BY source""",
    // plan → execution: per-source hash-threshold selection against the
    // water-filled allocation (the domainMix bucket recipe)
    "q_mix_sample" ->
      s"""$mixBudgetCtes,
         h AS (SELECT doc_id, source,
                 md5('mixsel:' || CAST(doc_id AS VARCHAR)) AS hx
               FROM documents)
         SELECT h.doc_id, h.source
         FROM h JOIN mixplan USING (source)
         WHERE ${md5b60Sql("hx")} % 10000 * n_s < alloc * 10000
         ORDER BY doc_id""",
    // per-source OOV share under the top-K vocab (vocab_topk's chain)
    "q_vocab_coverage" ->
      s"""WITH tok AS (SELECT doc_id, unnest(${toksSql("text")}) AS token
                       FROM documents),
         c AS (SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
               FROM tok GROUP BY token),
         vv AS (SELECT token FROM c
                ORDER BY n_occurrences DESC, token
                LIMIT ${graft.operators.TrainPrep.VocabK}),
         st AS (SELECT d.source, t.token
                FROM documents d
                JOIN tok t ON d.doc_id = t.doc_id)
         SELECT source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN vv.token IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_oov,
           CAST(sum(CASE WHEN vv.token IS NULL THEN 1 ELSE 0 END)
               AS DOUBLE) / CAST(count(*) AS DOUBLE) AS oov_share
         FROM st LEFT JOIN vv ON st.token = vv.token
         GROUP BY source ORDER BY source""",
    // hybrid RRF: both rank lists re-derived exactly (shingle Jaccard
    // and embedding cosine are integer/same-double surfaces), fused
    // with the same two correctly-rounded divisions — bit-identical
    "q_hybrid_rrf" -> {
      import graft.operators.Retrieval._
      s"""WITH $hybridLexCtes,
         qe AS (SELECT vec_id AS query_id, embedding AS qv
                FROM embeddings WHERE $isQuerySql),
         sems AS (SELECT qe.query_id, e.vec_id AS doc_id,
                    ${cosineSql("qe.qv", "e.embedding")} AS cosine
                  FROM embeddings e CROSS JOIN qe
                  WHERE e.vec_id <> qe.query_id),
         semr AS (SELECT query_id, doc_id,
                    CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, doc_id) AS BIGINT) AS sem_rk
                  FROM sems),
         sem AS (SELECT query_id, doc_id, sem_rk FROM semr
                 WHERE sem_rk <= $ListK),
         $hybridFuseSql"""
    },
    // scale-path hybrid: the semantic list rides the multi-probe IVF
    // chain (same CTEs as q_similar_ivf2, list depth ListK) — exact
    // fusion arithmetic unchanged, so this too is hash-certified
    "q_hybrid_ivf" -> {
      import graft.operators.Retrieval._
      s"""WITH $hybridLexCtes,
         c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
               WHERE $isCentroidSql),
         d AS (SELECT e.vec_id, e.embedding, c.centroid_id,
                 ${cosineSql("e.embedding", "c.cv")} AS dist
               FROM embeddings e CROSS JOIN c),
         ranked AS (SELECT vec_id, embedding, centroid_id,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY dist DESC, centroid_id) AS crk
               FROM d),
         a AS (SELECT vec_id, embedding, centroid_id AS cell
               FROM ranked WHERE crk = 1),
         qiv AS (SELECT vec_id AS query_id, embedding AS qv,
                   centroid_id AS cell
                 FROM ranked WHERE $isQuerySql AND crk <= $IvfProbes),
         s AS (SELECT qiv.query_id, a.vec_id AS doc_id,
                 ${cosineSql("qiv.qv", "a.embedding")} AS cosine
               FROM a JOIN qiv ON a.cell = qiv.cell
               WHERE a.vec_id <> qiv.query_id),
         semr AS (SELECT query_id, doc_id,
                    CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, doc_id) AS BIGINT) AS sem_rk
                  FROM s),
         sem AS (SELECT query_id, doc_id, sem_rk FROM semr
                 WHERE sem_rk <= $ListK),
         $hybridFuseSql"""
    },
    // leakage-guarded split: the cluster CTE chain of q_dedup_clusters,
    // every doc joined to its (or its own-id singleton) cluster, split
    // by the "leak:"-salted md5 bucket of the CLUSTER id
    "q_leakage_split" ->
      s"""WITH RECURSIVE $minhashCtes,
         pairs AS (
           SELECT doc_a, doc_b FROM scored
           WHERE CASE WHEN sz - inter = 0 THEN 0.0 ELSE inter / (sz - inter) END >= ${TextDedup.JaccardThreshold}),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                   UNION SELECT doc_b, doc_a FROM pairs),
         reach AS (
           SELECT src AS node, src AS r FROM edges
           UNION
           SELECT e.src AS node, re.r FROM edges e JOIN reach re ON e.dst = re.node),
         lab AS (SELECT node AS doc_id, min(r) AS cid
                 FROM reach GROUP BY node),
         a AS (SELECT d.doc_id, coalesce(l.cid, d.doc_id) AS cluster_id
               FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id),
         b AS (SELECT doc_id, cluster_id,
                 ${md5b16Sql("('leak:' || CAST(cluster_id AS VARCHAR))")} % 100 AS bkt
               FROM a)
         SELECT doc_id, cluster_id,
           CASE WHEN bkt < 80 THEN 'train'
                WHEN bkt < 90 THEN 'val'
                ELSE 'test' END AS split
         FROM b ORDER BY doc_id""",
    // curriculum: plain single-window rank + the same integer ntile
    // arithmetic — the Spark side's two-level rank must equal it exactly
    "q_curriculum" ->
      s"""WITH ${curriculumCtes("TRUE")}
         SELECT doc_id, quality_score, rnk AS "rank", stage
         FROM cstage ORDER BY rnk""",
    // per-(stage, source) doc/token counts — the mixture each training
    // phase actually feeds; n_tokens re-derived from the same toks
    "q_curriculum_mix" ->
      s"""WITH ${curriculumCtes("TRUE")}
         SELECT c.stage, d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(${toksSql("d.text")})) AS BIGINT) AS sum_tokens
         FROM cstage c JOIN documents d ON c.doc_id = d.doc_id
         GROUP BY c.stage, d.source ORDER BY c.stage, d.source""",
    // admission against FROZEN floors: the reference chain (80% of
    // docs) yields per-stage minimum scores; probe docs (every 5th id)
    // take the best stage whose floor they meet, else the last stage
    "q_curriculum_admission" -> {
      val k = graft.operators.TrainPrep.CurriculumStages
      s"""WITH ${curriculumCtes("doc_id % 5 <> 0")},
         thr AS (SELECT stage, min(quality_score) AS floor_score
                 FROM cstage GROUP BY stage),
         pt AS (SELECT doc_id, text, ${toksSql("text")} AS toks
                FROM documents WHERE doc_id % 5 = 0),
         pf AS (SELECT doc_id,
             CAST(len(toks) AS DOUBLE) AS n_tok_d,
             CAST(len(list_filter(toks, w -> list_contains($stopsSqlEn, w))) AS DOUBLE) AS n_stop,
             CAST(length(text) AS DOUBLE) AS n_chars_d,
             CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE) AS n_punct
           FROM pt),
         ps AS (SELECT doc_id,
             (CASE WHEN n_tok_d = 0 THEN 0.0 ELSE n_stop / n_tok_d END) * 2.0
               + (CASE WHEN n_tok_d >= 20 THEN 0.5 ELSE 0.0 END)
               - (CASE WHEN n_chars_d = 0 THEN 0.0 ELSE n_punct / n_chars_d END)
               AS quality_score
           FROM pf)
         SELECT p.doc_id, p.quality_score,
           coalesce(min(CASE WHEN p.quality_score >= t.floor_score
             THEN t.stage END), CAST($k AS BIGINT)) AS stage
         FROM ps p CROSS JOIN thr t
         GROUP BY p.doc_id, p.quality_score ORDER BY p.doc_id"""
    },
    "q_leakage_incremental" -> leakageIncrementalOracle,
    // PSI drift: counts and micro-nat logs are integers; psi_part is
    // one identical double chain on top (the tfidf/dsir discipline)
    "q_quality_drift" -> {
      val w = graft.operators.CorpusAnalytics.DriftBinWidth
      s"""WITH ${curriculumCtes("TRUE")},
         b AS (SELECT doc_id,
                 CAST(floor(quality_score / CAST($w AS DOUBLE)) AS BIGINT) AS bin
               FROM cs),
         r AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_ref
               FROM b WHERE doc_id % 5 <> 0 GROUP BY bin),
         p AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_probe
               FROM b WHERE doc_id % 5 = 0 GROUP BY bin),
         j AS (SELECT coalesce(r.bin, p.bin) AS bin,
                 CAST(coalesce(n_ref, 0) AS BIGINT) AS n_ref,
                 CAST(coalesce(n_probe, 0) AS BIGINT) AS n_probe
               FROM r FULL OUTER JOIN p ON r.bin = p.bin),
         tot AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tot_ref,
                   CAST(sum(n_probe) AS BIGINT) AS tot_probe FROM j),
         d AS (SELECT bin, n_ref, n_probe, tot_ref, tot_probe,
                 CASE WHEN n_ref > 0 AND n_probe > 0 THEN
                   CAST(round(ln(n_probe) * 1000000) AS BIGINT)
                   - CAST(round(ln(tot_probe) * 1000000) AS BIGINT)
                   - CAST(round(ln(n_ref) * 1000000) AS BIGINT)
                   + CAST(round(ln(tot_ref) * 1000000) AS BIGINT)
                 END AS dln_micro
               FROM j CROSS JOIN tot)
         SELECT bin, n_ref, n_probe, dln_micro,
           CASE WHEN dln_micro IS NOT NULL THEN
             (CAST(n_probe AS DOUBLE) / CAST(tot_probe AS DOUBLE)
               - CAST(n_ref AS DOUBLE) / CAST(tot_ref AS DOUBLE))
             * CAST(dln_micro AS DOUBLE) / 1e6 END AS psi_part
         FROM d ORDER BY bin"""
    },
    // cross-source duplication matrix over the banded near-dup pairs
    "q_cross_source_dups" -> {
      import TextDedup._
      s"""WITH $minhashCtes,
         pairs AS (
           SELECT doc_a, doc_b FROM scored
           WHERE CASE WHEN sz - inter = 0 THEN 0.0 ELSE inter / (sz - inter) END >= $JaccardThreshold),
         lab AS (SELECT least(da.source, db.source) AS source_a,
                   greatest(da.source, db.source) AS source_b
                 FROM pairs
                 JOIN documents da ON da.doc_id = pairs.doc_a
                 JOIN documents db ON db.doc_id = pairs.doc_b)
         SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
         FROM lab GROUP BY source_a, source_b
         ORDER BY source_a, source_b"""
    },
    // contamination attribution: distinct-set shingles both sides, so
    // count(*) over the h-join is the distinct shared-shingle count
    "q_contamination_report" ->
      s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
         shs AS (SELECT doc_id, ${hashedShinglesSql(CorpusFilters.ContamShingleN)} AS hs FROM t),
         e AS (SELECT doc_id AS eval_id, unnest(hs) AS h FROM shs
               WHERE doc_id % ${CorpusFilters.EvalMod} = 0),
         tr AS (SELECT doc_id AS train_id, unnest(hs) AS h FROM shs
                WHERE doc_id % ${CorpusFilters.EvalMod} <> 0)
         SELECT e.eval_id, tr.train_id, CAST(count(*) AS BIGINT) AS n_shared
         FROM tr JOIN e USING (h)
         GROUP BY e.eval_id, tr.train_id
         ORDER BY e.eval_id, tr.train_id""",
    // drift alarm line: per-bin psi rounded to nano-units BEFORE the
    // sum (order-independent integers), alert-bin masses as counts
    "q_drift_alert" -> {
      val w = graft.operators.CorpusAnalytics.DriftBinWidth
      s"""WITH ${curriculumCtes("TRUE")},
         b AS (SELECT doc_id,
                 CAST(floor(quality_score / CAST($w AS DOUBLE)) AS BIGINT) AS bin
               FROM cs),
         r AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_ref
               FROM b WHERE doc_id % 5 <> 0 GROUP BY bin),
         p AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_probe
               FROM b WHERE doc_id % 5 = 0 GROUP BY bin),
         j AS (SELECT coalesce(r.bin, p.bin) AS bin,
                 CAST(coalesce(n_ref, 0) AS BIGINT) AS n_ref,
                 CAST(coalesce(n_probe, 0) AS BIGINT) AS n_probe
               FROM r FULL OUTER JOIN p ON r.bin = p.bin),
         tot AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tot_ref,
                   CAST(sum(n_probe) AS BIGINT) AS tot_probe FROM j),
         d AS (SELECT bin, n_ref, n_probe, tot_ref, tot_probe,
                 CASE WHEN n_ref > 0 AND n_probe > 0 THEN
                   CAST(round(ln(n_probe) * 1000000) AS BIGINT)
                   - CAST(round(ln(tot_probe) * 1000000) AS BIGINT)
                   - CAST(round(ln(n_ref) * 1000000) AS BIGINT)
                   + CAST(round(ln(tot_ref) * 1000000) AS BIGINT)
                 END AS dln_micro
               FROM j CROSS JOIN tot),
         f AS (SELECT n_ref, n_probe, dln_micro,
                 CASE WHEN dln_micro IS NOT NULL THEN
                   (CAST(n_probe AS DOUBLE) / CAST(tot_probe AS DOUBLE)
                     - CAST(n_ref AS DOUBLE) / CAST(tot_ref AS DOUBLE))
                   * CAST(dln_micro AS DOUBLE) / 1e6 END AS psi_part
               FROM d)
         SELECT
           CAST(sum(coalesce(CAST(round(psi_part * 1e9) AS BIGINT), 0))
             AS BIGINT) AS psi_nano,
           CAST(sum(CASE WHEN dln_micro IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_alert_bins,
           CAST(sum(CASE WHEN dln_micro IS NULL THEN n_probe ELSE 0 END)
             AS BIGINT) AS new_mass,
           CAST(sum(CASE WHEN dln_micro IS NULL THEN n_ref ELSE 0 END)
             AS BIGINT) AS gone_mass
         FROM f"""
    },
    // trained add-one NB classifier: same md5 train/test split, counts
    // and micro-nat logs re-derived leaf-for-leaf (shared chain below)
    "q_nb_classify" ->
      s"""WITH $nbClassifySql
         SELECT doc_id, lang, n_tokens, pred, score_micro, margin_micro
         FROM nb_out ORDER BY doc_id""",
    "q_nb_confusion" ->
      s"""WITH $nbClassifySql
         SELECT lang, pred, CAST(count(*) AS BIGINT) AS n
         FROM nb_out GROUP BY lang, pred ORDER BY lang, pred""",
    // random projection: every ±1 matrix entry re-derived from md5 in
    // SQL (not a shared literal) — the integer sums must land exactly.
    // Exploded to one scalar row per (vec_id, dim): the harness cannot
    // canonicalize a raw LIST column (round-16 red row), and the inner
    // lateral unnest mirrors Spark's posexplode on NULL/empty inputs
    "q_rp_project" ->
      s"""WITH $rpProjectSql
         SELECT r.vec_id, CAST(gs.i - 1 AS BIGINT) AS dim,
           r.proj[gs.i] AS coord
         FROM rp r, UNNEST(generate_series(1, len(r.proj))) AS gs(i)
         ORDER BY r.vec_id, dim""",
    // project-then-re-rank ANN: bands over the projected integers,
    // exact full-precision cosine on the original vectors
    "q_similar_rp" ->
      s"""WITH $rpProjectSql,
         bands AS ($rpBandsSql),
         qb AS (SELECT vec_id AS query_id, band, sig FROM bands
                WHERE $isQuerySql),
         cand AS (SELECT DISTINCT b.vec_id, q.query_id
                  FROM bands b JOIN qb q ON b.band = q.band AND b.sig = q.sig
                  WHERE b.vec_id <> q.query_id),
         scored AS (
           SELECT c.query_id, c.vec_id,
             ${cosineSql("qe.embedding", "e.embedding")} AS cosine
           FROM cand c
           JOIN embeddings e ON e.vec_id = c.vec_id
           JOIN embeddings qe ON qe.vec_id = c.query_id),
         ranked AS (
           SELECT query_id, vec_id, cosine,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, vec_id) AS rk
           FROM scored)
         SELECT query_id, vec_id, rk, cosine FROM ranked WHERE rk <= 3
         ORDER BY query_id, rk""",
    // cluster-balanced sample: the two-level cells + a salted-md5
    // pseudo-random per-cell pick, both re-derived end to end
    "q_cluster_sample" ->
      s"""WITH $twoLevelCellsSql,
         cbr AS (SELECT vec_id, cell,
             row_number() OVER (PARTITION BY cell
               ORDER BY ${md5b60Sql("md5('cbs:' || CAST(vec_id AS VARCHAR))")},
                 vec_id) AS rk
           FROM a)
         SELECT vec_id, cell, rk FROM cbr
         WHERE rk <= ${Similarity.BalancedPerCell}
         ORDER BY cell, rk""",
  )

  /** Lexical candidate CTE chain shared by the hybrid oracles — ends
    * with `lex(query_id, doc_id, lex_rk)` (top-ListK by shingle
    * Jaccard, ties → doc_id). */
  private def hybridLexCtes: String = {
    import graft.operators.Retrieval._
    s"""ht AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
       hshs AS (SELECT doc_id, ${hashedShinglesSql(TextDedup.ShingleN)} AS hs FROM ht),
       hv AS (SELECT doc_id, hs, CAST(len(hs) AS BIGINT) AS sz
              FROM hshs WHERE len(hs) > 0),
       hq AS (SELECT doc_id AS query_id, hs AS qh, sz AS qsz FROM hv
              WHERE doc_id % ${Similarity.QueryStride} = 0
                AND doc_id < ${Similarity.QueryStride.toLong * Similarity.MaxQueries}),
       lexs AS (SELECT hq.query_id, hv.doc_id,
                  CAST(len(list_intersect(hq.qh, hv.hs)) AS BIGINT) AS inter,
                  hq.qsz, hv.sz
                FROM hv CROSS JOIN hq WHERE hv.doc_id <> hq.query_id),
       lexr AS (SELECT query_id, doc_id,
                  CAST(row_number() OVER (PARTITION BY query_id ORDER BY
                    CAST(inter AS DOUBLE) / CAST(qsz + sz - inter AS DOUBLE)
                      DESC, doc_id) AS BIGINT) AS lex_rk
                FROM lexs WHERE inter > 0),
       lex AS (SELECT query_id, doc_id, lex_rk FROM lexr
               WHERE lex_rk <= $ListK)"""
  }

  /** Fusion tail shared by the hybrid oracles: expects `lex` and `sem`
    * CTEs in scope, emits the final SELECT. */
  private def hybridFuseSql: String = {
    import graft.operators.Retrieval._
    s"""fused AS (SELECT coalesce(lex.query_id, sem.query_id) AS query_id,
               coalesce(lex.doc_id, sem.doc_id) AS doc_id,
               lex.lex_rk, sem.sem_rk,
               coalesce(CAST(1 AS DOUBLE)
                   / CAST($RrfK + lex.lex_rk AS DOUBLE), 0.0)
                 + coalesce(CAST(1 AS DOUBLE)
                   / CAST($RrfK + sem.sem_rk AS DOUBLE), 0.0) AS rrf
             FROM lex FULL OUTER JOIN sem
               ON lex.query_id = sem.query_id
                 AND lex.doc_id = sem.doc_id),
       top AS (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY rrf DESC, doc_id) AS frk FROM fused)
       SELECT query_id, doc_id, lex_rk, sem_rk, rrf FROM top
       WHERE frk <= $FuseK ORDER BY query_id, rrf DESC, doc_id"""
  }

  /** Incremental leakage oracle: standing-only clusters (the recursive
    * chain filtered to doc_id % IncrementMod <> 0), banded probe×standing
    * matches, min matched cluster (own id when unmatched), one "leak:"
    * bucket formula for the split — identical to the Spark rule. */
  private def leakageIncrementalOracle: String = {
    import TextDedup._
    s"""WITH RECURSIVE $minhashCtes,
       pairs AS (
         SELECT doc_a, doc_b FROM scored
         WHERE doc_a % $IncrementMod <> 0 AND doc_b % $IncrementMod <> 0
           AND CASE WHEN sz - inter = 0 THEN 0.0 ELSE inter / (sz - inter) END >= $JaccardThreshold),
       edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
       reach AS (
         SELECT src AS node, src AS r FROM edges
         UNION
         SELECT e.src AS node, re.r FROM edges e JOIN reach re ON e.dst = re.node),
       lab AS (SELECT node AS doc_id, min(r) AS cid
               FROM reach GROUP BY node),
       standing AS (SELECT d.doc_id, coalesce(l.cid, d.doc_id) AS cluster_id
                    FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id
                    WHERE d.doc_id % $IncrementMod <> 0),
       cand2 AS (
         SELECT DISTINCT a.doc_id AS probe_id, b.doc_id AS index_id
         FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
         WHERE a.doc_id % $IncrementMod = 0 AND b.doc_id % $IncrementMod <> 0),
       scored2 AS (
         SELECT probe_id, index_id,
           CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) AS inter,
           CAST(len(sa.hs) + len(sb.hs) AS DOUBLE) AS sz
         FROM cand2
         JOIN shs sa ON sa.doc_id = probe_id
         JOIN shs sb ON sb.doc_id = index_id),
       m AS (SELECT probe_id, index_id FROM scored2
             WHERE CASE WHEN sz - inter = 0 THEN 0.0 ELSE inter / (sz - inter) END >= $JaccardThreshold),
       inh AS (SELECT m.probe_id, min(s.cluster_id) AS match_cluster
               FROM m JOIN standing s ON s.doc_id = m.index_id
               GROUP BY m.probe_id),
       p AS (SELECT d.doc_id, i.match_cluster IS NOT NULL AS inherited,
               coalesce(i.match_cluster, d.doc_id) AS cluster_id
             FROM documents d LEFT JOIN inh i ON d.doc_id = i.probe_id
             WHERE d.doc_id % $IncrementMod = 0),
       b AS (SELECT doc_id, cluster_id, inherited,
               ${md5b16Sql("('leak:' || CAST(cluster_id AS VARCHAR))")} % 100 AS bkt
             FROM p)
       SELECT doc_id, cluster_id, inherited,
         CASE WHEN bkt < 80 THEN 'train'
              WHEN bkt < 90 THEN 'val'
              ELSE 'test' END AS split
       FROM b ORDER BY doc_id"""
  }

  /** Shared curriculum CTE chain over `documents WHERE <filterSql>`:
    * quality score (same expressions as `q_quality_score`, so doubles
    * are bit-identical to Spark's), the naive global rank window, and
    * the standard ntile arithmetic — ends with CTE `cstage(doc_id,
    * quality_score, rnk, stage)`. */
  private def curriculumCtes(filterSql: String): String = {
    val k = graft.operators.TrainPrep.CurriculumStages
    s"""ct AS (SELECT doc_id, text, ${toksSql("text")} AS toks
              FROM documents WHERE $filterSql),
       cf AS (SELECT doc_id,
           CAST(len(toks) AS DOUBLE) AS n_tok_d,
           CAST(len(list_filter(toks, w -> list_contains($stopsSqlEn, w))) AS DOUBLE) AS n_stop,
           CAST(length(text) AS DOUBLE) AS n_chars_d,
           CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE) AS n_punct
         FROM ct),
       cs AS (SELECT doc_id,
           (CASE WHEN n_tok_d = 0 THEN 0.0 ELSE n_stop / n_tok_d END) * 2.0
             + (CASE WHEN n_tok_d >= 20 THEN 0.5 ELSE 0.0 END)
             - (CASE WHEN n_chars_d = 0 THEN 0.0 ELSE n_punct / n_chars_d END)
             AS quality_score
         FROM cf),
       cr AS (SELECT doc_id, quality_score,
           CAST(row_number() OVER (ORDER BY quality_score DESC, doc_id)
             AS BIGINT) AS rnk,
           CAST(count(*) OVER () AS BIGINT) AS n
         FROM cs),
       cstage AS (SELECT doc_id, quality_score, rnk,
           CAST(CASE WHEN n // $k = 0 THEN rnk
             WHEN rnk - 1 < (n % $k) * (n // $k + 1)
               THEN (rnk - 1) // (n // $k + 1) + 1
             ELSE (n % $k) + (rnk - 1 - (n % $k) * (n // $k + 1)) // (n // $k) + 1
           END AS BIGINT) AS stage
         FROM cr)"""
  }

  /** The water-filling chain shared by the budget readout and the
    * sampler — weights CASE generated from the Scala constant. */
  private def mixBudgetCtes: String = {
    val whens = graft.operators.TrainPrep.MixWeights
      .map { case (s, w) => s"WHEN '$s' THEN $w" }.mkString(" ")
    val num = graft.operators.TrainPrep.MixBudgetNum
    val den = graft.operators.TrainPrep.MixBudgetDen
    s"""WITH a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
                   FROM documents GROUP BY source),
       w AS (SELECT source, n_s,
               CAST(CASE source $whens ELSE 1 END AS BIGINT) AS weight
             FROM a),
       tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_total,
                 CAST(sum(weight) AS BIGINT) AS w_total FROM w),
       o AS (SELECT w.*, w_total, (n_total * $num) // $den AS budget,
               CAST(coalesce(sum(n_s) OVER pre, 0) AS BIGINT) AS pa,
               CAST(coalesce(sum(weight) OVER pre, 0) AS BIGINT) AS pw
             FROM w CROSS JOIN tot
             WINDOW pre AS (ORDER BY CAST(n_s AS DOUBLE)
                 / CAST(weight AS DOUBLE), source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       c AS (SELECT *, (n_s * (w_total - pw) <= (budget - pa) * weight)
               AS capped
             FROM o),
       res AS (SELECT
                 max(budget) - coalesce(sum(CASE WHEN capped THEN n_s END), 0)
                   AS b_res,
                 max(w_total) - coalesce(sum(CASE WHEN capped THEN weight END), 0)
                   AS w_res
               FROM c),
       mixplan AS (SELECT source, n_s, weight, capped,
           CAST(CASE WHEN capped THEN n_s
                WHEN w_res > 0 THEN least(n_s, (weight * b_res) // w_res)
                ELSE 0 END AS BIGINT) AS alloc
         FROM c CROSS JOIN res)"""
  }
}
