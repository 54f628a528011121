package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query catalogs live in graft.queries.*; this object just merges them.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_sum")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.RelQueries.defs ++
      graft.queries.GraphQueries.defs ++
      graft.queries.PipelineQueries.defs ++
      graft.queries.AnalyticsQueries.defs

  /** Runs query `name` on `dir` and hands it to `sink`, as one
    * [[graft.iterate.Fixpoint.scope]] from load to sink: the result is
    * `Unit`, so every materialization the query took is released once
    * `sink` has run, or on a throw. */
  def run(name: String, spark: SparkSession, dir: String)(sink: DataFrame => Unit): Unit =
    graft.iterate.Fixpoint.scope(sink(queries(name)(spark, dir)))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables; every query has one (QueriesSpec). */
  def oracleSql: Map[String, String] =
    graft.queries.RelQueries.oracles ++
      graft.queries.GraphQueries.oracles ++
      graft.queries.PipelineQueries.oracles ++
      graft.queries.AnalyticsQueries.oracles

  /** Headline subset timed by Bench (kept fast enough to run per-round
    * at sf0.1 while still covering scan/agg/join/window/graph/pipeline).
    * Every face outside it stays catalog + verify. */
  def benchQueries: Seq[String] = Seq(
    "q_agg_count", "q_agg_sum", "q_agg_sse", "q_agg_rollup", "q_explode",
    "q_asof_join", "q_tpch_q1", "q_tpch_q3", "q_tpch_q5", "q_tpch_q17",
    "q_tpch_q18", "q_heavy_hitters", "q_events_retention",
    "q_join_inner", "q_join_broadcast", "q_join_composite",
    "q_union_merge", "q_topk", "q_window_rank",
    "q_events_window", "q_events_sessionize",
    "q_events_pairs", "q_events_funnel",
    "q_graph_degree", "q_graph_triangles", "q_graph_clustering", "q_graph_sssp",
    "q_graph_sssp_weighted",
    "q_graph_pagerank", "q_graph_kmeans", "q_graph_cc",
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash", "q_dedup_incremental",
    "q_dedup_embedding", "q_dedup_semantic", "q_sim_topk", "q_sim_lsh",
    "q_text_quality", "q_text_fingerprint", "q_text_tfidf", "q_curate",
    "q_pack_contexts", "q_corpus_fingerprint", "q_prep_training",
    "q_decontaminate", "q_text_repetition", "q_events_latest",
    "q_graph_commonneighbors", "q_inverted_index", "q_outlier_mad",
    // not q_graph_ktruss: its dense cut is k-core's regime; the sparse cut times k-truss
    "q_graph_ktruss_sparse",
    "q_assoc_rules", "q_dedup_containment", "q_dedup_containment_pf",
    "q_dedup_embedding_inc", "q_dedup_screen",
    // each _idx face minus its recompute twin is what its stored index saves
    "q_dedup_incremental_idx", "q_dedup_embedding_idx",
    "q_graph_cc_inc", "q_inverted_index_inc", "q_graph_sssp_weighted_inc",
    "q_graph_cc_inc_idx", "q_graph_sssp_weighted_inc_idx",
    // warm (same graph) and grown (changed graph) against cold q_graph_pagerank price the resume
    "q_graph_pagerank_grown", "q_graph_pagerank_warm",
    "q_interval_coalesce", "q_text_chunk_dup", "q_text_embed", "q_scd2_join",
    "q_dedup_substring", "q_dedup_substring_inc", "q_dedup_substring_inc_idx",
    "q_feature_zscore", "q_agg_ivm", "q_cdc_apply", "q_topk_per_key",
    "q_sim_ivfpq", "q_split_leakfree", "q_graph_mis", "q_graph_matching",
    "q_graph_scc",
    // q_graph_scc_levels minus q_graph_scc is the condensation layering's cost
    "q_graph_scc_levels",
    "q_graph_coloring",
    "q_bpe_encode", "q_text_tokens_bpe", "q_dedup_minhash_capped",
    "q_sim_recall",
    // each chunked twin minus its plain form is the skew-immunity premium on uniform data
    "q_events_sessionize_chunked", "q_asof_join_chunked",
    "q_events_latest_agg",
    "q_dedup_boilerplate", "q_dedup_boilerplate_inc",
    "q_text_novelty", "q_text_novelty_inc",
    "q_sample_priority", "q_quality_model", "q_decontam_overlap",
    "q_time_ewma", "q_dedup_family_hist",
    "q_sample_importance", "q_sample_importance_inc", "q_sample_cluster",
    "q_select_training",
    "q_graph_walks", "q_graph_walk_pairs", "q_graph_walks_biased",
    "q_graph_coreness", "q_graph_densest",
    // not q_graph_coreness_window: it shares coreness's oracle and times the hub-hazard plan
    "q_bpe_train_batched", "q_graph_walk_negatives",
    "q_dedup_winnow", "q_sim_hard_negatives", "q_time_holt", "q_time_cusum",
    "q_dedup_winnow_capped", "q_dedup_winnow_inc", "q_bpe_fertility",
    // q_dedup_winnow_auto minus q_dedup_winnow_capped is the duplication probe's cost
    "q_dedup_winnow_auto", "q_agg_quantile_merge", "q_agg_quantile_inc",
    "q_events_quantile", "q_agg_quantile_cube", "q_agg_hll_cube",
    "q_agg_cms_merge", "q_agg_cms_inc", "q_agg_cms_cube",
    "q_agg_bloom_merge", "q_agg_bloom_inc", "q_agg_bloom_cube",
    "q_agg_hll_inc", "q_events_distinct_rollup",
    "q_agg_mg_merge", "q_agg_mg_inc", "q_agg_mg_cube",
    "q_text_editjoin", "q_text_editjoin_grouped", "q_dedup_sorted_block",
    // not q_text_editjoin2_grouped: on this duplicate-free fixture it times as its exploded twin
    "q_text_editjoin2", "q_text_editjoin_inc",
    "q_dedup_sorted_block_inc", "q_dedup_sorted_block2",
    // q_text_editjoin_auto minus q_text_editjoin is the routing probe's cost;
    // not the q_sql_* faces: each runs the operator of the Column-API face it mirrors
    "q_text_editjoin_auto",
    "q_agg_kmv_merge", "q_agg_kmv_inc", "q_agg_kmv_cube", "q_kmv_overlap",
    // q_dedup_sorted_block_inc_idx minus _inc is the partitioned store's round
    // trip net of its pruned reads; minus _idx_ro (store built outside the
    // clock) it is the state write
    "q_dedup_sorted_block_inc_idx",
    "q_dedup_sorted_block_idx_ro",
    // the edit join's stored-index twin; not q_text_editjoin2_auto: the k=2
    // family's non-exploded faces are verify-only, as q_text_editjoin2_grouped
    "q_text_editjoin_idx",
    // the Misra-Gries route next to the Count-Min route q_heavy_hitters: same output
    "q_heavy_hitters_mg",
  ).filter(queries.contains)
}
