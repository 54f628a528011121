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
    * at sf0.1 while still covering scan/agg/join/window/graph/pipeline). */
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
    // q_graph_ktruss (dense Mod-1000 cut) stays catalog+verify only — the
    // dense regime is k-core's job and too heavy for the per-round bench
    // budget; the sparse cut below is the tracked k-truss cost
    "q_graph_ktruss_sparse",
    "q_assoc_rules", "q_dedup_containment", "q_dedup_containment_pf",
    "q_dedup_embedding_inc", "q_dedup_screen",
    // stored-index ingest twins: _idx vs the recompute twin above prices
    // what the stored index saves; embedding_idx is the steady-state
    // (10% batch) number
    "q_dedup_incremental_idx", "q_dedup_embedding_idx",
    "q_graph_cc_inc", "q_inverted_index_inc", "q_graph_sssp_weighted_inc",
    "q_graph_cc_inc_idx", "q_graph_sssp_weighted_inc_idx",
    // warm vs grown vs cold prices the snapshot-resume claim directly:
    // warm (same graph, stored ranks) should sit well under grown
    // (changed graph) which sits under 2x cold (both stages priced)
    "q_graph_pagerank_grown", "q_graph_pagerank_warm",
    "q_interval_coalesce", "q_text_chunk_dup", "q_text_embed", "q_scd2_join",
    "q_dedup_substring", "q_dedup_substring_inc", "q_dedup_substring_inc_idx",
    "q_feature_zscore", "q_agg_ivm", "q_cdc_apply", "q_topk_per_key",
    // round 9: IVF+PQ composite ANN, cluster-aware split, and the two
    // symmetry-breaking graph primitives
    "q_sim_ivfpq", "q_split_leakfree", "q_graph_mis", "q_graph_matching",
    "q_graph_scc",
    // round 10: condensation layering priced next to q_graph_scc so the
    // DAG-layering overhead is a recorded number.
    "q_graph_scc_levels",
    // round 11: coloring re-admitted after the barrier fusion (round-10
    // exclusion was priced at 28.6 s with 3 jobs/round; the fused loop is
    // 2 jobs/round with the nbr_min + mex aggregations in ONE edge pass),
    // plus the four round-10 catalog additions so every capability carries
    // a recorded number
    "q_graph_coloring",
    "q_bpe_encode", "q_text_tokens_bpe", "q_dedup_minhash_capped",
    "q_sim_recall",
    // hot-key-safe window twins priced NEXT TO their plain forms: the
    // uniform-data delta is the skew-immunity premium (the skew sweep
    // prices the other side — what plain costs under a hot user)
    "q_events_sessionize_chunked", "q_asof_join_chunked",
    "q_events_latest_agg",
    // round-11 continuation: the seven new curation/selection operators,
    // each with a recorded number from day one
    "q_dedup_boilerplate", "q_dedup_boilerplate_inc",
    "q_text_novelty", "q_text_novelty_inc",
    "q_sample_priority", "q_quality_model", "q_decontam_overlap",
    "q_time_ewma", "q_dedup_family_hist",
    // round-11 continuation, second wave: selection-stage operators
    // (importance scoring, topic-quota sampling) and the walk corpus
    // generator + its skip-gram pair aggregation
    "q_sample_importance", "q_sample_importance_inc", "q_sample_cluster",
    "q_select_training",
    "q_graph_walks", "q_graph_walk_pairs", "q_graph_walks_biased",
    "q_graph_coreness", "q_graph_densest",
    // q_graph_coreness_window (the rank-window didactic twin) left the
    // bench set in round 14 — the q_graph_ktruss precedent: ~10 s/run
    // priced a plan the engine itself documents as the hub-hazard form,
    // ~5% of the whole bench budget for zero coverage (it shares
    // q_graph_coreness's oracle verbatim and stays catalog+verify-green;
    // an isolated band can be recorded per round via BENCH_ONLY if the
    // pair comparison is wanted)
    "q_bpe_train_batched", "q_graph_walk_negatives",
    // round 12 wave: winnowing fingerprint screen, semi-hard negative
    // mining, and the two trailing-window state folds (Holt, CUSUM)
    "q_dedup_winnow", "q_sim_hard_negatives", "q_time_holt", "q_time_cusum",
    "q_dedup_winnow_capped", "q_dedup_winnow_inc", "q_bpe_fertility",
    // round 13: the routed winnow entry point (duplication probe + capped
    // screen; prices probe overhead next to its capped twin), and the
    // mergeable HDR quantile sketch (merge face + IVM face)
    "q_dedup_winnow_auto", "q_agg_quantile_merge", "q_agg_quantile_inc",
    "q_events_quantile", "q_agg_quantile_cube", "q_agg_hll_cube",
    // round 13, sketch-family completion: Count-Min is the FREQUENCY
    // member (HLL: distinct, max-merge; quantile: ranks, sum-merge; CMS:
    // point counts, sum-merge + linear, so merges are bit-exact)
    "q_agg_cms_merge", "q_agg_cms_inc", "q_agg_cms_cube",
    // ...and Bloom is the MEMBERSHIP member (OR-merge, idempotent —
    // replay-safe where the linear CMS would double-count)
    "q_agg_bloom_merge", "q_agg_bloom_inc", "q_agg_bloom_cube",
    // HLL's IVM face closes the 4-sketch × {merge, cube, inc} matrix;
    // the rollup is the telemetry-shaped hierarchical merge over time
    "q_agg_hll_inc", "q_events_distinct_rollup",
    // round 14: Misra–Gries heavy-hitters summary — the sketch family's
    // fifth member (top-k), deterministic by construction, bounded-heap
    // top-(K+1) extraction via the TopKPerKey physical operator
    "q_agg_mg_merge", "q_agg_mg_inc", "q_agg_mg_cube",
    // FastSS edit-distance similarity join (structurally bounded
    // buckets) + the duplicate-safe grouped twin, and sorted-neighborhood
    // blocking on the distributed global rank
    "q_text_editjoin", "q_text_editjoin_grouped", "q_dedup_sorted_block",
    // round 14: FastSS at k=2 (budget-guarded fan-out, capped serial
    // domain) + its grouped twin; the incremental twins of both new
    // blocking families (stored variant index / rank-merge — the
    // equality-contract pricing class: the clock includes replaying the
    // stored-state build, like q_graph_cc_inc); and the two-pass SN
    // recall repair
    // q_text_editjoin2_grouped left the bench set in round 15 (the
    // coreness_window precedent / r14 verdict stretch item 8): its delta
    // vs the exploded twin is pinned (0.76-0.95x — grouped ≈ exploded on
    // this dup-free fixture), it stays catalog+verify-green, and the
    // ~4 s seat funds the round's new faces (kmv, editjoin_idx,
    // sorted_block_inc_idx)
    "q_text_editjoin2", "q_text_editjoin_inc",
    "q_dedup_sorted_block_inc", "q_dedup_sorted_block2",
    // the routed entry point priced next to its exploded twin (the
    // q_dedup_winnow_auto convention — probe overhead is the delta);
    // q_sql_* sketch faces stay catalog+verify-only like q_sql_dedup
    "q_text_editjoin_auto",
    // round 15: KMV/theta — the sketch family's sixth (set-operation)
    // member; merge/inc/cube on lineitem plus the cross-source overlap
    // face priced against its exact twin (q_dedup_source_overlap's
    // diagnostic, at sketch cost)
    "q_agg_kmv_merge", "q_agg_kmv_inc", "q_agg_kmv_cube", "q_kmv_overlap",
    // round 15: the sorted-neighborhood DEPLOYMENT layout — state
    // persisted pid-partitioned + boundary directory, 1-in-10 batch
    // folded with directory pruning; priced next to the _inc contract
    // face (the clock includes the partitioned WRITE, so the delta vs
    // _inc is the store round-trip minus the pruned reads)
    "q_dedup_sorted_block_inc_idx",
    // round 16: its read-only decomposition — the store is built once
    // per process outside the clock, so this seat prices the pure
    // fold-over-stored-layout seconds and (_inc_idx − _idx_ro) is the
    // measured state write/round-trip cost (r15 verdict item 3)
    "q_dedup_sorted_block_idx_ro",
    // round 15: the edit-join stored-index steady-state twin (1-in-10
    // batch over the materialized variant index — the family's _idx
    // convention, pricing steady state in the CATALOG, not just IncAb);
    // q_text_editjoin2_auto stays catalog+verify-only with the rest of
    // the k=2 family's non-exploded faces
    "q_text_editjoin_idx",
    // round 15: the MG-pruned heavy-hitters route priced NEXT TO the CMS
    // route (q_heavy_hitters is a pinned canary — untouched); identical
    // output, counter-row shuffle instead of candidate-row shuffle
    "q_heavy_hitters_mg",
  ).filter(queries.contains)
}
