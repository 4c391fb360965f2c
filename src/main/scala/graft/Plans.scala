package graft

/** Dev tool: dump formatted physical plans for the declared queries so
  * scan pruning (PushedFilters / ReadSchema), join strategies, and
  * WholeStageCodegen spans can be audited per round.
  *
  * Usage: `sbt "runMain graft.Plans [queryName ...]"` (default: a
  * representative headline set).
  */
object Plans {
  val headline = Seq("q3_shipping_priority", "q5_region_volume",
    "q7_volume_shipping", "q18_large_orders",
    "q6_forecast_revenue", "q10_returned_items", "q13_order_distribution",
    "q22_idle_customers",
    "q_legislator_counts", "q_dedup_minhash", "q_similar_topk",
    "q_bill_search", "q_events_window",
    "q_asof_join", "q_range_join", "q_tfidf_top_terms", "q_curate_corpus",
    "q_contamination", "q_domain_mix", "q_repetition",
    "q_rolling_avg", "q_events_rollup", "q_curate_v2",
    "q_seq_pack", "q_token_chunks", "q_vocab_topk", "q_tokenize_ids",
    "q_repeated_spans", "q_epoch_shuffle", "q_similar_kmeans",
    "q_embed_quantize", "q_source_similarity",
    "q2_min_cost_supplier", "q4_priority_orders", "q8_market_share",
    "q17_small_qty_revenue", "q21_waiting_suppliers", "q_events_cube",
    // round-7 additions
    "q_bm25_search", "q_setsim_join", "q_setsim_incremental",
    "q_strip_spans", "q_curate_v4", "q_last_touch", "q_first_touch",
    "q_growth_accounting", "q_stickiness", "q_top_journeys",
    "q_rfm_segments", "q_value_drift", "q_zorder_curve",
    "q_bigram_lift", "q_temperature_mix", "q_quant_recall",
    // round-14 additions
    "q_paragraph_dedup", "q_paragraph_incremental",
    "q_winnow_fingerprints", "q_winnow_overlap", "q_winnow_probe",
    "q_winnow_attribution", "q_similar_mmr", "q_contrastive_pairs",
    "q_corpus_card", "q_centroid_drift", "q_context_assembly")

  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq else headline
    // fixed 4 cores: the plan text carries the shuffle partition count
    val spark = GraftSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
      // construction-time persists (Similarity Lloyd/trade paths) must
      // not leak InMemoryTableScan rewrites into LATER dumps — the r21
      // q_similar_kmeans_int "after" dump carried 8 InMemory nodes from
      // q_kmeans_trade's cache. Same per-query hygiene as Bench/Verify.
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
