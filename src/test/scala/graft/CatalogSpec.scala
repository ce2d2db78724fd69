package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query catalog: each name declared once, with its builder and its
  * oracle, and the two maps `queries` and `oracleSql` read from it. */
class CatalogSpec extends AnyFunSuite {

  private def q(name: String) = Query(name, (_, _) => null, s"SELECT '$name'")

  test("assembling a list with a repeated name throws and names every duplicate") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.assemble(Seq(q("q_a"), q("q_b")), Seq(q("q_c"), q("q_b"), q("q_d"), q("q_d")))
    }
    assert(e.getMessage.contains("q_b, q_d"), e.getMessage)
    assert(!e.getMessage.contains("q_a") && !e.getMessage.contains("q_c"))
    assert(SparkEntry.assemble(Seq(q("q_a")), Seq(q("q_b"))).map(_.name) === Seq("q_a", "q_b"))
  }

  test("the catalog holds 524 distinct names, each with a builder and an oracle") {
    val names = SparkEntry.catalog.map(_.name)
    assert(names.size === 524)
    assert(names.distinct.size === 524)
    assert(SparkEntry.catalog.forall(c => c.build != null && c.oracle != null && c.oracle.trim.nonEmpty))
  }

  test("queries and oracleSql have the same key set") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet === SparkEntry.catalog.map(_.name).toSet)
  }

  /** Queries whose oracles are one text: twins proven against the same
    * answer. Each twin reads its text from one declaration, so editing the
    * text moves every member; a copy edited on its own leaves its group. */
  private val twins: Set[Seq[String]] = Set(
    Seq("q_ann_negatives", "q_ann_negatives_ix"),
    Seq("q_asof_custom", "q_asof_join", "q_sql_system_time"),
    Seq("q_cdc_materialize", "q_cdc_stream"),
    Seq("q_ddl_alter", "q_ddl_view"),
    Seq("q_ddl_dedup", "q_descriptor_dedup", "q_stream_dedup_last", "q_stream_dedup_last_ooo"),
    Seq("q_ddl_use", "q_fmt_csv"),
    Seq("q_dedup_bloom", "q_stream_bloom"),
    Seq("q_dedup_ppjoin", "q_stream_ppjoin"),
    Seq("q_drift_psi", "q_stream_drift_psi"),
    Seq("q_fmt_avro", "q_fmt_seqfile"),
    Seq("q_graph_cc", "q_graph_cc_star", "q_graph_cc_vc"),
    Seq("q_graph_sssp", "q_graph_sssp_gsa", "q_graph_sssp_sg"),
    Seq("q_interval_join", "q_stream_interval_join"),
    Seq("q_lookup_join", "q_lookup_join_async"),
    Seq("q_proctime_over", "q_stream_over", "q_stream_over_ooo"),
    Seq("q_sample_weighted", "q_stream_sample_weighted"),
    Seq("q_sql_cumulate", "q_sql_tvf_cumulate", "q_stream_cumulate", "q_win_cumulate"),
    Seq("q_sql_hop", "q_sql_stream_hop", "q_sql_tvf_hop", "q_stream_hop", "q_win_hop"),
    Seq("q_sql_match_batch_group", "q_sql_match_multi"),
    Seq("q_sql_match_batch_nav", "q_sql_match_nav", "q_sql_match_prev"),
    Seq("q_sql_match_batch_permute", "q_sql_match_permute"),
    Seq("q_sql_match_batch_rows", "q_sql_match_rows"),
    Seq("q_sql_match_strict", "q_stream_cep", "q_stream_cep_ooo"),
    Seq("q_sql_session", "q_sql_stream_session", "q_sql_tvf_session",
      "q_sql_tvf_stream_session", "q_stream_session", "q_win_session"),
    Seq("q_sql_stream_tumble", "q_sql_tumble", "q_sql_tvf_stream_tumble", "q_sql_tvf_tumble",
      "q_stream_tumble", "q_stream_tumble_late", "q_unified_pipeline", "q_win_tumble"),
    Seq("q_sql_tvf_stream_window_time", "q_sql_tvf_window_time"),
    Seq("q_state_bootstrap", "q_state_rescale"),
    Seq("q_stream_cep_any", "q_stream_cep_any_ooo"),
    Seq("q_stream_cep_not", "q_stream_cep_not_ooo"),
    Seq("q_stream_cep_plus", "q_stream_cep_plus_ooo"),
    Seq("q_stream_changelog", "q_stream_changelog_ooo"),
    Seq("q_stream_connect", "q_stream_connect_ooo"),
    Seq("q_stream_dyn_session", "q_stream_dyn_session_ooo"),
    Seq("q_stream_file_compact", "q_stream_file_sink"),
    Seq("q_stream_over_range_b", "q_stream_over_range_b_ooo"),
    Seq("q_stream_over_rows_b", "q_stream_over_rows_b_ooo"),
    Seq("q_stream_topn", "q_stream_topn_ooo", "q_stream_topn_retract",
      "q_stream_topn_retract_ooo"))

  test("twins share one oracle text: the groups of equal oracles are pinned") {
    val groups = SparkEntry.catalog.groupBy(_.oracle).values
      .map(_.map(_.name).sorted).filter(_.size > 1).toSet
    assert(groups === twins)
  }
}
