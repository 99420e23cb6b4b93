package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract guards: the flagship query smoke-checks, every oracle
  * key has a matching query, and the query names stay exactly as listed. */
class SparkEntrySpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("query inventory size") {
    // the exact registry: a lost or stray registration fails here by name
    val rib = Set(
      "q1_agg", "q_events_anomalies", "q_events_daily",
      "q_events_sessions", "q_filter_pushdown", "q_ingest_decompose",
      "q_join_parts_topn", "q_join_revenue", "q_pagination",
      "q_rib_aggregatable", "q_rib_aggregate", "q_rib_as_adjacency",
      "q_rib_as_cone", "q_rib_as_rels", "q_rib_asof", "q_rib_asof_join",
      "q_rib_bogon_nexthops", "q_rib_bogons", "q_rib_communities",
      "q_rib_convergence", "q_rib_current", "q_rib_diff",
      "q_rib_evpn_fields", "q_rib_exists", "q_rib_filter_aspath",
      "q_rib_filter_aspath_ends", "q_rib_filter_community",
      "q_rib_filter_conj", "q_rib_filter_evpn_rd",
      "q_rib_filter_mdt_group", "q_rib_filter_mdt_rd",
      "q_rib_filter_multicast", "q_rib_filter_mvpn_group",
      "q_rib_filter_mvpn_rp", "q_rib_filter_nh", "q_rib_filter_num",
      "q_rib_filter_polarity", "q_rib_filter_rd",
      "q_rib_filter_rd_exotic", "q_rib_filter_regex",
      "q_rib_filter_regex_attr", "q_rib_filter_regex_v6",
      "q_rib_filter_rt", "q_rib_filter_rt_num", "q_rib_filter_spmsi_rd",
      "q_rib_filter_subnet", "q_rib_filter_v6",
      "q_rib_filter_v6_multicast", "q_rib_filter_vpn6_rd",
      "q_rib_flap_damp", "q_rib_flaps", "q_rib_found", "q_rib_hegemony",
      "q_rib_json_page", "q_rib_lpm", "q_rib_moas", "q_rib_onlydiffer",
      "q_rib_origin_as", "q_rib_origin_changes", "q_rib_pagination",
      "q_rib_prepending", "q_rib_rels_drift", "q_rib_response_filter",
      "q_rib_retention", "q_rib_route_leaks", "q_rib_rpki",
      "q_rib_scopes", "q_rib_sessions", "q_rib_snapshot",
      "q_rib_sql_accept", "q_rib_statistics", "q_rib_stores",
      "q_rib_supernet", "q_rib_supernet_topk", "q_rib_visibility",
      "q_semi_anti", "q_whois_enrich", "q_window_toporder",
      "q_wire_attrs", "q_wire_decompose", "q_wire_sessions")
    // training-data pipeline operators (PipelineQueries)
    val pipeline = Set(
      "q_decontam", "q_decontam_bloom", "q_decontam_fraction",
      "q_decontam_pairs", "q_dedup_cluster_sizes", "q_dedup_clusters",
      "q_dedup_containment", "q_dedup_cosine", "q_dedup_cosine_auto",
      "q_dedup_cosine_lsh", "q_dedup_cross_source", "q_dedup_epoch",
      "q_dedup_exact", "q_dedup_incremental", "q_dedup_keepbest",
      "q_dedup_minhash", "q_dedup_minhash_arith",
      "q_dedup_minhash_auto", "q_dedup_ngram_jaccard",
      "q_dedup_simhash", "q_dedup_simhash_arith", "q_dedup_soft",
      "q_dedup_span_removal", "q_dedup_spans", "q_dedup_url",
      "q_dedup_winnow", "q_dedup_winnow_spans_arith", "q_embed_binary",
      "q_embed_int8", "q_sample_budget", "q_sample_doremi",
      "q_sample_dsir", "q_sample_epochs", "q_sample_exact_global",
      "q_sample_exact_k", "q_sample_group_split", "q_sample_mixture",
      "q_sample_shuffle", "q_sample_split", "q_sample_stratified",
      "q_sample_temperature", "q_sim_binary", "q_sim_bitext",
      "q_sim_bitext_lsh", "q_sim_bruteforce", "q_sim_coreset",
      "q_sim_int8", "q_sim_lsh", "q_sim_lsh_mp", "q_sim_mrl",
      "q_sim_recall_binary", "q_sim_recall_int8", "q_text_boilerplate",
      "q_text_calibration", "q_text_ccnet", "q_text_chunks",
      "q_text_classifier", "q_text_classifier_auc",
      "q_text_compressibility", "q_text_fuse", "q_text_gopher_rep",
      "q_text_kl", "q_text_langid", "q_text_len_quantiles",
      "q_text_len_quantiles_stored", "q_text_linededup",
      "q_text_linewithin", "q_text_lm", "q_text_normalize",
      "q_text_perceptron", "q_text_phrases", "q_text_quality",
      "q_text_quality_gate", "q_text_redact", "q_text_repetition",
      "q_text_script", "q_text_strip", "q_text_tfidf", "q_text_tokens",
      "q_text_ttr", "q_text_url_hosts", "q_text_vocab",
      "q_text_winnow_arith", "q_text_wordfreq", "q_text_zipf")
    // pipeline entries whose oracle SQL embeds literals trained on the
    // fixture: registered only once Verify sets PipelineQueries.oracleContext
    val trained = Set(
      "q_dedup_semantic", "q_embed_cluster_sample", "q_embed_clusters",
      "q_sim_ivf", "q_sim_ivf_auto", "q_sim_pq", "q_sim_recall",
      "q_sim_recall_pq")
    assert(rib.size == 81 && pipeline.size == 85 && trained.size == 8)
    val expected = rib ++ pipeline ++ trained
    assert(SparkEntry.queries.keySet == expected,
      s"missing ${expected -- SparkEntry.queries.keySet}, " +
        s"extra ${SparkEntry.queries.keySet -- expected}")
    assert(SparkEntry.oracleSql.keySet == rib ++ pipeline,
      s"missing ${(rib ++ pipeline) -- SparkEntry.oracleSql.keySet}, " +
        s"extra ${SparkEntry.oracleSql.keySet -- (rib ++ pipeline)}")
  }
}
