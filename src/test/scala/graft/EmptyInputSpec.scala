package graft

/** Empty-input robustness: every operator must return its (empty) result on
  * a zero-row corpus, not crash — a library caller pointing the engine at a
  * fresh or fully-filtered dataset hits exactly this. The round-9 sweep of
  * the full batch surface found four crash classes, each fixed with a
  * guard; this spec locks them in over the formerly-failing queries plus
  * one representative per operator family (the full 168-query sweep is a
  * dev tool: GRAFT_ONLY=<all batch> graft.Verify <emptyDir>).
  *
  * Crash classes fixed (all are the "driver-side scalar from an aggregate
  * of a maybe-empty frame" shape):
  *  - Graph.pageRank / pageRankSink: 1/0 on vertex count 0
  *  - StreamSource.eventsWithSentinel: max(ts) NULL → NPE building the
  *    far-future sentinel row (took down all 15 MATCH_RECOGNIZE queries)
  *  - Pipeline.dsirWeights / mixBudget, TextAnalysis.perplexity: NULL
  *    sum()/0-count normalizers
  *  - ScaleOps.partitionedWrite: read-back of a zero-file partitioned
  *    write cannot infer a schema
  */
class EmptyInputSpec extends SparkSpec {

  private val emptyRoot = s"/tmp/graft-empty/${System.nanoTime()}"

  private lazy val emptyDir: String = {
    Tables.all.foreach { t =>
      spark.read.parquet(s"$sf/$t.parquet").limit(0)
        .coalesce(1).write.mode("overwrite").parquet(s"$emptyRoot/$t.parquet")
    }
    emptyRoot
  }

  /** The corpus and the dirs the cross-process caches keyed on its path:
    * no later run reads them. */
  override def afterAll(): Unit =
    try {
      val key = emptyRoot.replaceAll("[^A-Za-z0-9.]", "_")
      Seq(emptyRoot, s"/tmp/graft-docstream/v3-$key", s"/tmp/graft-docstream/v3src-$key",
        s"/tmp/graft-sentinel/$key")
        .foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    } finally super.afterAll()

  private val queries = Seq(
    // the 21 formerly-crashing queries
    "q_graph_pagerank", "q_graph_pagerank_sink", "q_mix_budget",
    "q_dsir_weight", "q_quality_perplexity", "q_part_prune",
    "q_sql_match", "q_sql_match_agg_def", "q_sql_match_multi",
    "q_sql_match_multi_deep", "q_sql_match_number", "q_sql_match_paren",
    "q_sql_match_permute", "q_sql_match_rows", "q_sql_match_skip_last",
    "q_sql_match_strict", "q_sql_match_subset", "q_sql_match_sum",
    "q_sql_match_within", "q_sql_match_xvar", "q_sql_match_xvar_min",
    // one representative per batch family
    "q1_agg", "q_agg_rollup", "q_join_inner", "q_join_salted",
    "q_asof_custom", "q_cogroup", "q_topn_group", "q_win_session",
    "q_over_rank", "q_set_except_all", "q_sort_limit", "q_values",
    "q_dedup_minhash_lsh", "q_dedup_span", "q_emb_dedup_keep",
    "q_ann_kmeans", "q_semdedup", "q_sparse_cosine", "q_tfidf_top3",
    "q_decontaminate", "q_pack_sequences", "q_pii_redact",
    "q_sample_stratified", "q_text_langid", "q_text_repetition",
    "q_graph_cc", "q_graph_hits", "q_graph_jaccard", "q_graph_community",
    "q_graph_triadic_directed", "q_graph_summarize",
    "q_fn_string2", "q_fn_similar", "q_fn_datetime2", "q_unnest_words",
    "q_sql_q3", "q_sql_subquery", "q_sql_system_time", "q_sql_temporal_func",
    "q_tpch_q1", "q_tpch_q21", "q_ml_pipeline", "q_lookup_join",
    "q_interval_join", "q_mm_decode",
    // streaming representatives (the full 12-query streaming sweep also
    // passed; these keep suite runtime bounded)
    "q_stream_tumble", "q_stream_topn", "q_stream_cep", "q_stream_connect",
    "q_stream_cep_not", "q_stream_cep_notnext", "q_stream_topn_range",
    "q_fn_math2", "q_fmt_avro_evolve", "q_fmt_csv_quirks",
    // r9 continuation-4 corpus-reading additions (the generator queries
    // read no corpus table, like q_values, and are exempt by omission)
    "q_graph_degrees", "q_graph_max_degree", "q_graph_bipartite_top",
    "q_ml_gaussian",
    // r9 continuation-5 additions
    "q_c4_filter", "q_dedup_lines", "q_dedup_url", "q_quality_classifier",
    "q_sql_hints", "q_meta_columns", "q_unified_pipeline",
    "q_bpe_merges", "q_bpe_encode", "q_ddl_use", "q_dedup_incremental",
    // sketch / layout / decontamination family
    "q_sketch_hll", "q_sketch_kmv", "q_sketch_cms", "q_sketch_quantile",
    "q_sample_reservoir", "q_layout_zorder", "q_bucket_join",
    "q_decontaminate_emb", "q_stream_hll", "q_stream_hll_window",
    "q_dq_checks",
    // round-10 additions
    "q_dedup_cluster_keep", "q_quality_gopher", "q_state_bootstrap",
    "q_type_multiset", "q_ddl_hive_udf", "q_corpus_datasheet",
    "q_stream_dedup_minhash", "q_state_surgery", "q_mix_temperature",
    // round-11 additions
    "q_dedup_bloom", "q_quality_bigram_lm", "q_state_rescale",
    "q_dedup_span_strip", "q_tpch_q3", "q_ann_recall", "q_stream_bloom",
    "q_ann_pq", "q_ann_ivfpq", "q_ann_recall_pq", "q_stream_quantile",
    "q_ml_ols", "q_stream_ols", "q_bpe_fertility", "q_dedup_bloom_sized",
    // round-12 additions
    "q_type_time", "q_type_raw",
    "q_sql_match_permute_skip", "q_sql_match_rep_skip",
    "q_mix_unimax", "q_quality_ccnet_buckets", "q_pack_nfd", "q_drift_psi",
    "q_split_leakage", "q_ann_negatives", "q_stream_drift_psi",
    "q_sql_match_rows_measures", "q_sql_match_rows_final",
    // round-13 additions
    "q_sql_match_nav", "q_sql_match_xagg", "q_ann_negatives_ix",
    "q_quality_ccnet_sketch", "q_sql_match_rowtime", "q_sql_match_cascade",
    // r13 quantifier-set queries
    "q_sql_match_qopt", "q_sql_match_qopt_rel", "q_sql_match_qrange",
    "q_sql_match_qrange_rel", "q_sql_match_qupto", "q_sql_match_qopen",
    // r13 until() + LLM-ops batch
    "q_stream_cep_until", "q_url_blocklist", "q_dedup_norm", "q_text_entropy",
    "q_sample_weighted", "q_dedup_minhash_eval", "q_dedup_ppjoin",
    "q_stream_sample_weighted", "q_mm_phash", "q_train_triplets",
    "q_quality_calibration", "q_sql_tvf_tumble", "q_sql_tvf_cumulate",
    "q_stream_entropy", "q_sql_tvf_stream_tumble", "q_mix_two_phase",
    "q_sql_match_subset_def", "q_text_mixed_lang",
    // r14 additions (q_sql_tvf_hop backfills an r13 ADVICE gap)
    "q_sql_tvf_hop", "q_sql_tvf_session", "q_mm_phash_keep",
    "q_sql_match_distinct", "q_sql_match_exclude", "q_sql_match_prev",
    "q_stream_ppjoin", "q_sql_tvf_stream_session", "q_stream_cep_timeout",
    // r15 additions
    "q_sql_match_next", "q_sql_tvf_window_time", "q_stream_ppjoin_keep",
    "q_sql_match_batch_nav", "q_sql_match_batch_rows",
    "q_sql_tvf_cumulate_time", "q_sql_tvf_stream_window_time",
    "q_sql_match_anchor", "q_sql_match_anchor_end", "q_sql_match_anchor_both",
    // r16 additions
    "q_sql_match_batch_permute", "q_sql_match_batch_group",
    "q_sql_tvf_hop_time", "q_sql_tvf_session_time", "q_stream_ppjoin_ttl",
    "q_stream_dedup_ttl", "q_retrieval_bm25", "q_retrieval_rrf",
    "q_retrieval_rrf_ivf")

  for (name <- queries)
    test(s"$name runs on an empty corpus") {
      val fn = SparkEntry.queries.getOrElse(name,
        fail(s"$name missing from SparkEntry.queries"))
      val out = fn(spark, emptyDir)
      // count() forces full execution; q_values is the one list not fed by
      // the corpus, everything else must be empty
      val n = out.count()
      // global aggregates legitimately return their one summary row on an
      // empty corpus (the DuckDB oracle does the same); q_values reads no
      // corpus table at all
      val oneRowGlobals = Set("q_values", "q_graph_triadic_directed",
        "q_dq_checks", // dq: a 9-row all-pass report over zero rows IS the answer
        "q_dedup_minhash_eval") // all-zero calibration row ≡ the oracle's
      if (!oneRowGlobals(name))
        assert(n == 0, s"$name returned $n rows on empty input")
      spark.catalog.clearCache()
    }
}
