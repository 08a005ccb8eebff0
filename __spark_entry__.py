"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship query (the reference pipeline:
parse → time-bucket route → windowed category counts → HAVING) on
sf0.001. `queries()` / `oracle_sql()` expose every implemented
operator from SURVEY.md §2 Part B; the driver compares each against
DuckDB at sf0.01 (row count + schema + order-insensitive value hash).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from flume_hive_batched_sink_spark import operators as _ops
from flume_hive_batched_sink_spark.operators.pipeline import flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship(spark, "/root/testdata/sf0.001")


# The driver verifies the FIRST 50 entries of queries() per round.
# 265 queries are registered (SURVEY §2 Part B, which matches the
# registry exactly in both directions — pinned by
# tests/test_properties.py::test_survey_registry_lockstep); all 265
# carry exact DuckDB oracles and the local sweep value-equal-gates
# every one each round.
#
# Round 14 rotation (scripts/staleness.py is the mechanical input).
# After the clean 50/50 r13 run the stale pool is exactly the 43-row
# r09 remainder the r13 rotation note scheduled (the only gates older
# than r10 in the repo). The r14 window, in priority order:
# (a) 7 operators NEW in r14 (never driver-checked):
#     ns_ann_index_refresh — the blue/green generation swap closing
#     the build→serve→refresh ANN loop (r13 verdict #4);
#     ns_dedup_verbatim — the winnowing-guarantee stride-1 verbatim-
#     passage dedup with span extents (r13 verdict #7);
#     ts_holt_winters — additive seasonal smoothing, m=7 (r13 #6);
#     ns_ann_recall_eval — recall@10 of the IVF path vs the exact
#     baseline (the index-trust eval);
#     ns_hard_negatives — ANCE/DPR band-rule negative mining;
#     ts_acf — the lag-1..7 correlogram beside the seasonal model;
#     join_interval_overlap — interval×interval overlap join with
#     the max-start-bucket exactly-once trick;
# (a') 4 MORE operators new in r14's second wave (ts_stl_decompose,
#     ns_curriculum_order, ns_minhash_est_error, sink_zorder_
#     interleave) — a never-driver-checked operator outranks any
#     stale-but-green gate, so these front too;
# (a'') 11 MORE in waves three through six (graph_pagerank,
#     graph_bfs_reach, graph_butterfly_count, graph_node_similarity,
#     ts_seasonal_strength, ts_xcorr, ts_forecast_backtest,
#     ns_verbatim_mask, ns_embedding_drift, ns_linear_probe,
#     ns_centroid_classifier) — same rule;
# (b) 28 of the 43 remaining r09 rows (ns_bigram_stats ..
#     scan_file_lineage below). 22 + 28 = 50. Displaced to r15: the
#     15 tail r09 rows (scan_schema_evolution, scan_static_prune,
#     set_except, sink_compact_small_files, sink_overwrite_dynamic,
#     sink_sorted_layout, stream_dedup_bloom, stream_stateful_counter,
#     stream_static_join, stream_stream_join, ts_gapfill,
#     ts_resample_ohlc, win_ntile_dist, win_percent_rank,
#     win_topk_per_group) — they lead the r15 window.
#     NOTE the hygiene invariant adjusts with registry size: at 254
#     registered operators and a 50-row driver window the pigeonhole
#     floor is ceil(254/50) = 6 rounds of rotation, so "every gate
#     ≤4 rounds old" is no longer attainable; the invariant from r14
#     on is "no gate older than the pigeonhole floor, never-checked
#     operators always front, oldest cohort always drains first".
#     All 254 are still value-checked against the oracle EVERY round
#     by the local strict sweep (CORRECTNESS_LOCAL_r14.json).
_ROUND14_FRONT = [
    # (a) new in r14 — first driver check
    "ns_ann_index_refresh",
    "ns_dedup_verbatim",
    "ts_holt_winters",
    "ns_ann_recall_eval",
    "ns_hard_negatives",
    "ts_acf",
    "join_interval_overlap",
    # (a') new in r14 second wave — first driver check
    "ts_stl_decompose",
    "ns_curriculum_order",
    "ns_minhash_est_error",
    "sink_zorder_interleave",
    # (a'') new in r14 third wave — first driver check
    "graph_pagerank",
    "graph_bfs_reach",
    "ts_seasonal_strength",
    "ts_xcorr",
    "ns_verbatim_mask",
    "ts_forecast_backtest",
    "graph_butterfly_count",
    "graph_node_similarity",
    "ns_embedding_drift",
    "ns_linear_probe",
    "ns_centroid_classifier",
    # (b) 28 of the 43 remaining r09 rows — the oldest gates in the repo
    "ns_bigram_stats",
    "ns_cluster_kmeans",
    "ns_contamination_ngram",
    "ns_corpus_report",
    "ns_dedup_bloom",
    "ns_dedup_embedding",
    "ns_dedup_minhash",
    "ns_dedup_simhash",
    "ns_domain_mixture",
    "ns_embedding_filter_join",
    "ns_embedding_profile",
    "ns_html_extract",
    "ns_lsh_bucket_stats",
    "ns_quality_entropy",
    "ns_quality_gopher",
    "ns_quality_perplexity",
    "ns_repetition",
    "ns_sample_importance",
    "ns_sample_weighted_topk",
    "ns_semdedup",
    "ns_shard_plan",
    "ns_similarity_ann_ivf",
    "ns_similarity_ann_lsh",
    "ns_split_group_folds",
    "ns_url_canonicalize",
    "ns_url_dedup",
    "scan_dpp_join",
    "scan_file_lineage",
]

# Round 13 rotation (scripts/staleness.py is the mechanical input).
# After the clean 50/50 r12 run the stale pool is exactly the 31-row
# r07 remainder the r12 rotation note scheduled first (the oldest
# gates in the repo) plus the 50-row r09 cohort. The r13 window, in
# priority order:
# (a) 12 operators NEW in r13 (never driver-checked):
#     ns_similarity_ivfpq_residual — the residual-encoded IVFADC
#     (codes quantize x − centroid, per-(probe, cell) ADC tables);
#     ns_ann_index_serve — the amortized serving read against the
#     persisted cell-partitioned index (partition-pruned
#     inverted-list scan, PLANCHECK-pinned);
#     ns_mmr_diversify — MMR re-ranking of the cosine top-10 pool;
#     ns_embedding_matryoshka — prefix-dimension retrieval audit;
#     ts_holt_trend — Holt level+trend smoothing via applyInPandas;
#     ns_dedup_fuzzy — LSH candidates + Levenshtein prefix verify;
#     ts_changepoint_cusum — one-sided CUSUM drift alarm;
#     stream_cdc_apply — micro-batch CDC merge with tombstones;
#     join_asof_nearest — bidirectional nearest as-of (attribution);
#     ns_span_corruption — hash-seeded T5 mask-span planning;
#     ns_sentence_stats — sentence segmentation profile;
#     ts_interval_coverage — interval-union busy-time coverage;
# (b) ALL 31 remaining r07 rows (ns_quality_score .. win_range_frame
#     below) — clearing the r07 tail entirely, so after a clean r13
#     run no operator's latest driver gate is older than r09 (the
#     rotation-hygiene arc the r12 verdict scheduled: every gate ≤4
#     rounds old);
# (c) the first 7 of the 50 r09 rows (alphabetical:
#     agg_approx_distinct .. join_range_bucketed).
# 12 + 31 + 7 = 50. Displaced to r14: the remaining 43 r09 rows
# (ns_bigram_stats, ns_cluster_kmeans, ns_contamination_ngram,
# ns_corpus_report, ns_dedup_bloom, ns_dedup_embedding, … — outputs
# unchanged since r09 and value-equal-gated locally every round).
#
# Round 12 rotation (scripts/staleness.py is the mechanical input).
# After the clean 50/50 r11 run the stale pool is the 26-row r06
# alphabetical tail the r11 window displaced (the r11 rotation note
# scheduled exactly these first) plus the 47-row r07 cohort. The r12
# window, in priority order:
# (a) 8 operators NEW in r12 (never driver-checked):
#     ns_similarity_ivfpq — the composed FAISS-IVFADC index (IVF
#     cells prune, PQ tables score); ns_bm25_topk — BM25 lexical
#     retrieval with det_ln_int-gated idf; ns_ivf_cell_stats — the
#     IVF occupancy/balance audit; ns_rank_fusion_rrf — RRF fusion
#     of the exact-cosine and ADC rankings; ns_embedding_pca —
#     power-iteration top principal component; stream_ann_serve —
#     online ANN serving over the prebuilt IVFPQ index;
#     ns_hybrid_prf — pseudo-relevance-feedback hybrid retrieval
#     (BM25 centroid → cosine re-rank → RRF fuse); ts_ewma —
#     per-series exponential smoothing via applyInPandas;
# (b) ALL 26 displaced r06 rows (join_broadcast .. win_first_last
#     below) — clearing the r06 tail entirely, so after a clean r12
#     run no operator's latest driver gate is older than r07;
# (c) the first 16 of the 47 r07 rows (alphabetical: agg_collect ..
#     ns_pack_sequences). 8 + 26 + 16 = 50. Displaced to r13: the
#     remaining 31 r07 rows (ns_quality_score, ns_sample_stratified,
#     ns_similarity_topk, ns_text_scrub, ns_text_stats,
#     ns_tfidf_topterms, ns_token_count, partition_route, … —
#     outputs unchanged since r07 and value-equal-gated locally
#     every round).
#
# Round 11 rotation (kept for the audit trail):
# Round 11 rotation (scripts/staleness.py is the mechanical input).
# After the clean 50/50 r10 driver run the stale pool is the 8-row
# r05 alphabetical tail the r10 window displaced plus the 44-row r06
# cohort. The r11 window, in priority order:
# (a) 24 operators NEW in r11 (never driver-checked):
#     ns_semdedup_components — component-level SemDeDup keepers over
#     the shared near-pair graph (the r10 verdict's #8);
#     ns_sample_temperature / ns_quality_ccnet_buckets /
#     ns_embedding_rp / ns_kcenter_coreset / ns_pmi_collocations /
#     ns_winnowing_fingerprint / ns_winnowing_overlap /
#     ns_tokenizer_fertility — the r11 second-wave additions;
#     ns_zipf_fit / ns_token_burstiness / ns_lang_divergence /
#     ns_ngram_novelty / ns_sample_cluster_balanced /
#     ns_embedding_outlier / ns_srp_hamming_pairs / ns_mix_anneal /
#     ns_embedding_pq / ns_similarity_pq_adc / ns_host_cap /
#     ns_ocr_noise — the r11
#     third- and fourth-wave additions (Zipf power-law fit, Church-Gale
#     burstiness, per-language JS drift, per-doc shingle novelty,
#     per-cluster quota sampling, mean-distance z-score outlier
#     screen, SRP Hamming-band candidate pairs, curriculum mixture
#     annealing, product quantization, PQ asymmetric-distance
#     search, per-host frequency capping, OCR-noise screening,
#     the composed curation verdict, the streaming quality gate,
#     the source-overlap dataset audit);
# (b) the 8 r05 rows — the oldest binding checks in the repo
#     (ts_cumulative_uniques .. win_streaks below);
# (c) 18 of the 44 r06 rows (alphabetical; outputs unchanged since
#     r06 and value-equal-gated locally every round).
# 24 + 8 + 18 = 50. Displaced to r12: the r06 alphabetical tail —
# join_broadcast, join_bucketed, join_cross, join_inner_equi,
# join_left_outer,
# join_semi, join_skew_salted, lateral_explode,
# ns_dedup_exact, ns_multimodal_cols, ns_multimodal_decode,
# ns_multimodal_framesample, ns_multimodal_pool, ns_pii_scrub,
# pivot_counts, project_compute, sample_hash, scan_parquet,
# sink_jsonl_export, sort_limit_topk,
# sql_exists_subquery, stream_anomaly_alert,
# stream_windowed_topk_state, ts_anomaly_mad, upsert_last_write_wins,
# win_first_last (these twenty-six lead the r12 window together with
# whatever r12 adds). After clean r11+r12 runs no operator's latest
# driver gate is older than r06.
_ROUND13_FRONT = [
    # (a) new in r13 — first driver check
    "ns_similarity_ivfpq_residual",
    "ns_ann_index_serve",
    "ns_mmr_diversify",
    "ns_embedding_matryoshka",
    "ts_holt_trend",
    "ns_dedup_fuzzy",
    "ts_changepoint_cusum",
    "stream_cdc_apply",
    "join_asof_nearest",
    "ns_span_corruption",
    "ns_sentence_stats",
    "ts_interval_coverage",
    # (b) the 31 remaining r07 rows — the oldest gates in the repo
    "ns_quality_score",
    "ns_sample_stratified",
    "ns_similarity_topk",
    "ns_text_scrub",
    "ns_text_stats",
    "ns_tfidf_topterms",
    "ns_token_count",
    "partition_route",
    "partition_spec_parse",
    "scan_pruned",
    "sessionize",
    "set_except_all",
    "set_intersect",
    "set_intersect_all",
    "set_union",
    "sink_orc_write",
    "sink_partitioned_write",
    "sink_table_partitions",
    "sql_interface",
    "stream_dedup",
    "stream_foreach_batch_land",
    "stream_observe_counters",
    "stream_session",
    "stream_sliding",
    "stream_tumbling_5min",
    "stream_watermark_late",
    "udaf_grouped_agg",
    "udf_scalar_pandas",
    "udf_serde_plugin",
    "udtf_apply_in_pandas",
    "win_range_frame",
    # (c) r09-stale cohort (first 7 alphabetically)
    "agg_approx_distinct",
    "agg_approx_percentile",
    "agg_bitmap_distinct",
    "agg_count_min",
    "agg_hll_sketch_merge",
    "agg_incremental_merge",
    "join_range_bucketed",
]

_ROUND12_FRONT = [
    # (a) new in r12 — first driver check
    "ns_similarity_ivfpq",
    "ns_bm25_topk",
    "ns_ivf_cell_stats",
    "ns_rank_fusion_rrf",
    "ns_embedding_pca",
    "stream_ann_serve",
    "ns_hybrid_prf",
    "ts_ewma",
    # (b) the 26 displaced r06 rows — the oldest gates in the repo
    "join_broadcast",
    "join_bucketed",
    "join_cross",
    "join_inner_equi",
    "join_left_outer",
    "join_semi",
    "join_skew_salted",
    "lateral_explode",
    "ns_dedup_exact",
    "ns_multimodal_cols",
    "ns_multimodal_decode",
    "ns_multimodal_framesample",
    "ns_multimodal_pool",
    "ns_pii_scrub",
    "pivot_counts",
    "project_compute",
    "sample_hash",
    "scan_parquet",
    "sink_jsonl_export",
    "sort_limit_topk",
    "sql_exists_subquery",
    "stream_anomaly_alert",
    "stream_windowed_topk_state",
    "ts_anomaly_mad",
    "upsert_last_write_wins",
    "win_first_last",
    # (c) r07-stale cohort (first 16 alphabetically)
    "agg_collect",
    "agg_percentile",
    "f_array",
    "f_conditional",
    "f_date",
    "f_json_map",
    "f_math",
    "f_struct",
    "ingest_bad_records",
    "ingest_parse_text",
    "join_null_safe",
    "ns_doc_fingerprint",
    "ns_lang_id",
    "ns_multimodal_headers",
    "ns_pack_ffd",
    "ns_pack_sequences",
]

_ROUND11_FRONT = [
    # (a) new in r11 — first driver check
    "ns_semdedup_components",
    "ns_sample_temperature",
    "ns_quality_ccnet_buckets",
    "ns_embedding_rp",
    "ns_kcenter_coreset",
    "ns_pmi_collocations",
    "ns_winnowing_fingerprint",
    "ns_winnowing_overlap",
    "ns_tokenizer_fertility",
    "ns_zipf_fit",
    "ns_token_burstiness",
    "ns_lang_divergence",
    "ns_ngram_novelty",
    "ns_sample_cluster_balanced",
    "ns_embedding_outlier",
    "ns_srp_hamming_pairs",
    "ns_mix_anneal",
    "ns_embedding_pq",
    "ns_similarity_pq_adc",
    "ns_host_cap",
    "ns_ocr_noise",
    "ns_curation_verdict",
    "stream_quality_gate",
    "ns_source_overlap",
    # (b) r05-stale rows (oldest in the repo; ns_dedup_exact displaced
    # from (c) to keep the window at 50)
    "ts_cumulative_uniques",
    "ts_retention_cohort",
    "ts_seasonality_profile",
    "ts_window_funnel",
    "udf_scalar_iter",
    "udtf_arrow_map",
    "unpivot_melt",
    "win_streaks",
    # (c) r06-stale cohort (first 18 alphabetically)
    "agg_cube",
    "agg_distinct",
    "agg_group_having",
    "agg_grouping_sets",
    "agg_histogram",
    "agg_minby_leader",
    "agg_mode",
    "agg_multi",
    "agg_rollup",
    "agg_skew_salted",
    "agg_stats",
    "exists_key",
    "f_misc",
    "f_string",
    "filter_in_list",
    "filter_state_name",
    "flagship_pipeline",
    "join_asof",
]

# Stable alias for tooling (scripts/drive_oracle.py `front` filter).
FRONT = _ROUND14_FRONT


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 Part B,
    ordered so the driver's 50-query verification window lands on the
    rows that need (re-)verification this round."""
    front = {n: _ops.QUERIES[n] for n in _ROUND14_FRONT}
    rest = {n: f for n, f in _ops.QUERIES.items() if n not in front}
    return {**front, **rest}


def oracle_sql() -> dict[str, str]:
    """DuckDB twins for EVERY registered query — 265/265 as of r14
    (the eighteen r14 additions compose proven fragments:
    ts_stl_decompose rides exact-integer window sums with one double
    division plus the exact-decimal davg centering;
    ns_curriculum_order is pure integer rank arithmetic;
    ns_minhash_est_error consumes the SAME candidate/signature CTE
    chain as the minhash oracles with an integer agreement count on
    top; sink_zorder_interleave's Morton key is pure integer
    shifts/masks, bit-identical across engines;
    ns_ann_index_refresh's oracle IS _ivfpq_sql() verbatim — the
    refresh-then-serve result must equal the batch IVFADC over
    base+delta; ns_ann_recall_eval joins the shared cos_ranked and
    IVF-assignment CTE chains with pure integer counting on top;
    ns_hard_negatives re-ranks the cos_ranked fragment inside a
    literal band gate; ns_dedup_verbatim reuses the winnowing CTEs
    for candidates plus a stride-1 md5-hashed 8-gram intersection in
    the registry's hex_int/sql_hex_int hash pairing; ts_holt_winters
    replays a 10-wide [l,b,s0..s6,flag] list-state with init routed
    through flag CASEs; ts_acf rides exact-integer means, row-level
    deviation products, and the dsum decimal convention;
    join_interval_overlap is pure integer epoch arithmetic). Was
    243/243 as of r13
    (the eight r12 additions compose proven oracle fragments
    verbatim: ns_similarity_ivfpq and stream_ann_serve embed
    _ivf_assign_sql_ctes + _pq_sql_prefix + _adc_tables_sql_ctes with
    only a new exact-integer candidate join (the serving oracle
    widens probe_pred); ns_bm25_topk rides det_ln_int on the
    integer-rewritten Lucene idf plus the VARCHAR-routed decimal
    term-score sum; ns_ivf_cell_stats / ns_rank_fusion_rrf /
    ns_hybrid_prf reuse the assignment, cosine-ranked, ADC, and BM25
    fragments with exact-integer joins and fixed two-term reciprocal
    sums on top; ns_embedding_pca replays both power iterations CTE
    by CTE with dim-order left-fold norms; ts_ewma replays the
    sequential recursion via per-row prefix list_reduce. The r11
    additions were likewise oracle-backed from birth:
    ns_semdedup_components replays the shared near-pair CTE plus the
    recursive-CTE component labeling proven on ns_dedup_clusters;
    ns_sample_temperature rides sqrt — the one IEEE-correctly-rounded
    power — plus a VARCHAR-routed exact decimal normalizer;
    ns_quality_ccnet_buckets reuses the perplexity oracle's CTE chain
    verbatim (_PPL_PERDOC_CTES) plus integer tercile ranks;
    ns_embedding_rp replays the ±1 projections via a 1024-row signs
    VALUES join with the standard VARCHAR→decimal dot convention;
    ns_kcenter_coreset chains k-1 farthest-point selection CTEs with
    the shared list_reduce distance folds; ns_pmi_collocations rides
    det_ln over exact integer marginal products; ns_winnowing_
    fingerprint / ns_winnowing_overlap are pure integer
    min/distinct/sum arithmetic over ONE shared selection fragment;
    ns_tokenizer_fertility reuses ns_bpe_encode's train-and-apply
    fragments verbatim; the third/fourth-wave twelve ride the same
    conventions — det_ln OLS coordinates for ns_zipf_fit, integer
    count-product logs for ns_lang_divergence, _h32 shingle hashes
    for ns_ngram_novelty, the shared Lloyd/codebook CTE prefixes for
    ns_sample_cluster_balanced / ns_embedding_pq /
    ns_similarity_pq_adc (one _pq_sql_prefix, both PQ oracles), the
    shared _SRP sign table for ns_srp_hamming_pairs, VARCHAR-routed
    decimal means + correctly-rounded sqrt for ns_embedding_outlier,
    pure int/int share arithmetic for ns_mix_anneal /
    ns_token_burstiness / ns_host_cap, and the shared class-string
    regexp chain for ns_ocr_noise); the
    rows-only category is empty. r8 emptied it (md5-derived
    hashes for MinHash/SimHash/ANN-LSH; value-bounded envelopes for
    the four sketch aggregates; list_reduce replay of the IVF
    left-fold assignment dot). The ten r9 additions were oracle-
    backed from birth: the perplexity / DSIR / weighted-sampling
    scores ride the deterministic integer logarithm
    (registry.det_ln_int — native ln() is NOT cross-engine
    bit-stable), the bloom filter's geometry and positions are exact
    integer/md5 arithmetic, and the k-means / SemDeDup pair replays
    both Lloyd iterations via list_reduce distance folds and
    VARCHAR-routed decimal means."""
    return dict(_ops.ORACLE)
