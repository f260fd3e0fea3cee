"""Query registry: the engine's declared inventory (SURVEY.md §2.4).

Every engine operator is exposed as a named ``QuerySpec``:
  - ``fn(spark, sf_dir) -> DataFrame`` — the Spark-first implementation
  - ``oracle`` — equivalent ANSI SQL for the DuckDB oracle (None for
    non-SQL-expressible ops; the driver then records a rows-only check)

``__spark_entry__.py`` is a thin adapter over this registry.

Determinism contract with the oracle (critical at hash-check time):
  - money aggregates go through exact DECIMAL arithmetic and are cast to
    DOUBLE at the end — double summation order differs between engines,
    decimal summation does not;
  - every computed column is aliased identically in Spark and SQL;
  - session timezone is UTC on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None
    family: str
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, family: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator registering an engine query.

    ``oracle`` is DuckDB SQL over the pre-registered views (region nation
    customer supplier part orders lineitem events documents embeddings).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(
            name=name,
            fn=fn,
            oracle=oracle.strip() if oracle else None,
            family=family,
            doc=(fn.__doc__ or "").strip(),
            tags=tags,
        )
        return fn

    return deco


def _load_all_modules() -> None:
    """Import every query module so decorators populate REGISTRY."""
    from local_etl_spark import queries  # noqa: F401  (imports submodules)


# Queries the external driver has already verified in
# CORRECTNESS_r01/r02/r03. Static historical fact — used to front-load
# never-checked queries into the bounded verification prefix so
# cumulative distinct coverage grows each round instead of re-verifying
# known greens.
DRIVER_CHECKED: frozenset[str] = frozenset({
    # rounds 1–2
    "agg_approx_cd", "agg_approx_quantile", "agg_bitmap_distinct",
    "agg_bool", "agg_collect", "agg_cube", "agg_distinct", "agg_funnel",
    "agg_global", "agg_groupby", "agg_gsets", "agg_histogram",
    "agg_listagg", "agg_minmax_by", "agg_percentile", "agg_pivot",
    "agg_rollup", "agg_sketch_rollup", "agg_stats", "agg_unpivot",
    "etl_default_fill", "etl_fix_address", "etl_fix_job", "etl_flatten",
    "etl_incremental", "etl_name_norm", "etl_scd2", "etl_split_fk",
    "etl_upsert", "etl_validate_route", "filter_pred", "fn_array",
    "fn_bitwise", "fn_cond", "fn_date", "fn_datetime_arith", "fn_explode",
    "fn_hash", "fn_hof", "fn_map", "fn_map_json", "fn_math", "fn_string",
    "fn_struct", "fn_try", "fn_url", "fn_variant", "graph_degree",
    "join_full", "join_inner", "join_left", "join_right",
    "llm_contamination", "llm_dedup_norm", "llm_pack_sequences",
    "llm_repetition", "project_expr", "scan_csv", "scan_json", "scan_orc",
    "scan_parquet", "set_union_all", "sort_multi", "sql_q11a", "sql_q2a",
    "sql_q4", "sql_q5", "stream_dedup", "stream_session", "stream_sliding",
    "stream_tumbling", "topk", "topk_per_group", "udf_arrow", "udf_grouped",
    "udf_scalar", "udf_table", "win_analytic", "win_dist", "win_frame",
    "win_rank",
    # round 3 (CORRECTNESS_r03.json — all 50 green)
    "agg_approx_topk", "agg_median", "agg_mode", "agg_regr",
    "api_pandas_on_spark", "etl_cdc_apply", "etl_expectations",
    "etl_profile", "etl_pseudonymize", "fn_collate", "fn_csv", "fn_mask",
    "fn_xml", "graph_jaccard", "graph_triangles", "join_anti",
    "join_broadcast", "join_semi", "join_theta", "llm_boilerplate_chunks",
    "llm_eval_coverage", "llm_filter_pipeline", "llm_mix_weighted",
    "llm_readability", "scan_csv_malformed", "scan_parquet_evolve",
    "scan_python_ds", "scan_text", "set_except", "set_intersect",
    "set_intersect_all", "set_union", "sink_compaction", "sink_partitioned",
    "sink_zorder", "sql_q6", "sql_q7", "sql_q8", "sql_q9",
    "stream_chained_agg", "stream_join", "stream_outer_join",
    "stream_semi_join", "stream_stateful", "udf_cogrouped",
    "win_ignore_nulls", "win_match_recognize", "win_range_interval",
    # round 4 (CORRECTNESS_r04.json — 46/46 SQL checks green + 4
    # rows-only re-presents recorded; agg_collect/fn_map and the four
    # rows-only re-presents were already listed above)
    "agg_benford", "agg_chi2", "agg_gini", "agg_pareto", "agg_welch_t",
    "etl_backfill_partitions", "etl_drift_psi", "etl_table_diff",
    "etl_union_evolve", "fn_aes", "fn_bitmap", "graph_bfs", "join_asof",
    "join_asof_forward", "join_cross", "join_exists_flag", "join_multiway",
    "llm_bpe_pairs", "llm_rouge_overlap", "llm_span_corruption", "llm_ttr",
    "llm_zipf_fit", "scan_binaryfile", "scan_skipping", "set_except_all",
    "set_symmetric_diff", "sink_python_ds", "sink_snapshot", "sink_vacuum",
    "sql_q10", "sql_q13", "sql_q14", "sql_q15", "sql_q16",
    "stream_dedup_within_wm", "stream_foreach_merge",
    "stream_full_outer_join", "stream_static_join",
    "stream_trigger_availablenow", "win_attribution", "win_drawdown",
    "win_ewma", "win_retention_cohort", "win_streaks",
    # round 5 (CORRECTNESS_r05.json — all 50 green, all first-evers)
    "agg_anova", "agg_autocorr", "agg_bootstrap_ci", "agg_corr_matrix",
    "agg_entropy", "agg_histogram_equidepth", "agg_ks_test",
    "agg_mann_whitney", "agg_outlier_mad", "agg_skew_kurtosis",
    "agg_theil", "agg_weighted_median", "etl_gdpr_purge",
    "etl_outlier_iqr", "fn_regexp", "graph_link_predict",
    "join_asof_nearest", "join_asof_tolerance", "join_bucketed",
    "join_null_safe", "join_range_banded", "join_scd2_pit",
    "join_skew_salted", "llm_dedup_exact", "llm_dedup_ngram",
    "llm_embed_quantize", "llm_fim_transform", "llm_hard_negatives",
    "llm_knn_join", "llm_simsearch", "scan_observe",
    "scan_parquet_bloomfilter", "scan_recursive_glob", "scan_xml",
    "sink_codec", "sink_dynamic_overwrite", "sink_rebalance",
    "sql_q17", "sql_q18", "sql_q19", "sql_q20", "sql_q21", "sql_q22",
    "stream_session_dynamic", "win_gap_fill", "win_interpolate",
    "win_period_over_period", "win_sessionize", "win_topn_ties",
    "win_zscore",
    # round 6 (CORRECTNESS_r06.json — 43/43 SQL checks green, all
    # first-evers; the 7 rows-only re-presents of that round are
    # recorded but stay out of this set — it gates SQL hash checks)
    "agg_jackknife_ratio", "agg_lorenz", "agg_rfm_segments",
    "agg_winsorized_mean", "etl_quarantine_replay", "fn_variant_explode",
    "join_allen_relations", "join_bloom", "join_dpp", "join_fuzzy",
    "llm_dedup_containment", "llm_dedup_embed", "llm_dedup_prefix",
    "llm_dedup_substring", "scan_csv_multiline", "scan_file_lineage",
    "scan_parquet_footer", "sort_top_percent", "sql_distinct_on",
    "sql_exec_immediate", "sql_filter_clause", "sql_group_by_all",
    "sql_identifier", "sql_lateral", "sql_order_by_all", "sql_params",
    "sql_pipe", "sql_q1", "sql_q11", "sql_q12a", "sql_q2", "sql_q3",
    "sql_recursive", "sql_scripting", "sql_star_except", "sql_table_fn",
    "sql_udf", "sql_unpivot", "sql_window_clause", "sql_window_rollup",
    "win_acf", "win_cusum", "win_rolling_corr",
    # round 7 (CORRECTNESS_r07.json — 45/45 SQL checks green, all
    # first-evers incl. the 3 rows-only→SQL conversions; the 5 rows-only
    # re-presents of that round are recorded but stay out of this set)
    "agg_cuped", "agg_heavy_hitters", "agg_hhi", "agg_mutual_information",
    "join_interval_overlap", "llm_bm25", "llm_chunk", "llm_curate_e2e",
    "llm_curriculum", "llm_dataset_card", "llm_dataset_split",
    "llm_dedup_simhash", "llm_dpo_format", "llm_dsir_weight",
    "llm_fingerprint", "llm_grpo_advantage", "llm_kanon_suppress",
    "llm_kl_shift", "llm_lang_id", "llm_lm_kneser_ney", "llm_lm_score",
    "llm_mix_capped", "llm_mix_temperature", "llm_multimodal",
    "llm_ngram_freq", "llm_ngram_novelty", "llm_pii_scrub",
    "llm_quality_score", "llm_safety_scan", "llm_sample_stratified",
    "llm_sft_format", "llm_shard_assign", "llm_text_stats", "llm_tfidf",
    "llm_token_count", "llm_token_entropy", "llm_token_fertility",
    "scan_json_variant", "win_kaplan_meier", "win_mann_kendall",
    "win_pettitt", "win_seasonal_decompose", "win_session_dynamic",
    "win_skyline", "win_theil_sen",
    # round 8 (CORRECTNESS_r08.json — 36/36 SQL checks green incl. the
    # bloom rows-only→SQL conversion; the 14 rows-only re-presents of
    # that round are recorded but stay out of this set). With this
    # block every SQL-oracled query in the registry has hash-matched
    # DuckDB externally at least once — coverage is TOTAL.
    "agg_fdr_bh", "agg_hodges_lehmann", "agg_meta_analysis",
    "agg_permutation_test", "agg_power_mde", "agg_qte", "agg_risk_ratio",
    "agg_srm_check", "agg_uplift_qini", "agg_wilson_ci", "etl_audit_chain",
    "etl_volume_anomaly", "graph_assortativity", "graph_clustering_coeff",
    "llm_dedup_bloom_incremental", "llm_dedup_cluster", "llm_dedup_e2e",
    "llm_dedup_eval", "llm_dedup_incremental_near",
    "llm_dedup_threshold_sweep", "llm_lang_confusion", "llm_retrieval_eval",
    "llm_softdedup", "win_forecast_backtest", "win_history_compress",
    "win_holt_winters", "win_holt_winters_seasonal", "win_interval_merge",
    "win_kalman_1d", "win_rolling_median", "win_rolling_wau",
    "win_spc_control", "win_theta_forecast",
    # round 9 (CORRECTNESS_r09.json — 48/48 SQL checks green: all 10
    # r9-new ops on first presentation + 38 RECHECK_PRIORITY re-greens;
    # the 2 rows-only graph ops recorded spark_rows). Coverage stays
    # TOTAL: every SQL-oracled query externally hash-matched at least
    # once, zero failures in nine rounds.
    "agg_cohens_d", "agg_cusum_ab", "agg_msprt", "agg_tost",
    "etl_freshness_sla", "llm_dedup_url", "llm_ppl_filter_sweep",
    "llm_quality_buckets", "win_bollinger", "win_sessionize_split",
    # round 10 (CORRECTNESS_r10.json — 49/49 SQL checks green: the 4
    # r10-new/converted ops on first presentation + 45 rechecks from
    # the rotated heavy slate; llm_audio_fingerprint recorded 167
    # rows). Coverage stays TOTAL — zero external failures in ten
    # rounds.
    "agg_gst_obrien_fleming", "agg_mmd_poly", "graph_closeness_sample",
    "graph_coreness",
    # round 11 (CORRECTNESS_r11.json — 49/49 SQL checks green: the 12
    # r11-new/converted ops on first presentation + 37 rechecks from
    # the rotated third slate; llm_ann_ivf_incremental recorded 16
    # rows). Coverage stays TOTAL — zero external failures in eleven
    # rounds.
    "graph_kcore", "llm_bpe_apply", "llm_bpe_train", "llm_dedup_minhash",
    "llm_lsh_band_sweep", "llm_mmr_diversify", "llm_pack_bfd",
    "llm_tokenizer_coverage", "llm_wordpiece_train", "win_croston",
    "win_rsi", "win_seasonality_strength",
    # round 12 (CORRECTNESS_r12.json — 50/50 SQL checks green: the 12
    # r12-new/converted ops on first presentation + 38 rechecks from
    # the rotated fourth slate). Coverage stays TOTAL — zero external
    # failures in twelve rounds.
    "graph_betweenness_sample", "graph_label_prop", "graph_pagerank",
    "llm_ann_ivf_incremental", "llm_bpe_vocab_sweep",
    "llm_dedup_lsh_cosine", "llm_embedding_drift", "llm_ivf_partitioned",
    "llm_kmeans_train", "llm_semdedup", "llm_simsearch_ivf",
    "llm_simsearch_pq",
    # round 13 (CORRECTNESS_r13.json — 49/49 SQL checks green: the 4
    # r13-new/converted ops on first presentation + 45 rechecks from
    # the rotated fifth slate; llm_dedup_cross_modal recorded 500
    # rows). Coverage stays TOTAL — zero external failures in thirteen
    # rounds.
    "graph_mst", "llm_quality_classifier", "llm_tokenizer_unigram",
    "llm_unigram_apply",
})

# Queries whose LAST driver-recorded status is a failure that has since
# been fixed — banked first so the corrections land in the next
# CORRECTNESS ledger regardless of prefix depth. Empty for round 6:
# round 5 produced zero driver failures (50/50 green).
FIXED_THIS_ROUND: tuple[str, ...] = ()

# Rows-only queries re-presented so the ledger records a clean
# rows-only (spark_rows) check. Coverage is TOTAL (every rows-only op
# has an external spark_rows record — r9 recorded the two sampled
# centrality ops); this slice carries only rows-only ops ADDED this
# round, so each gets its first external record immediately.
ROWS_ONLY_REPRESENT: tuple[str, ...] = (
    # r14 (optimization round): every rows-only op already has a
    # driver record; re-present the rows-only media ops whose
    # synthesis input was modality-filtered that round so the external
    # spark_rows check records their row counts afresh. The filter was
    # row-preserving for six of them but dropped llm_media_framesample's
    # non-video rows (643 → 309 at sf0.01); that call site is reverted
    # to the unfiltered synthesis and its 643 rows are pinned in
    # tests/test_llm_media_text.py.
    "llm_image_phash",
    "llm_audio_fingerprint",
    "llm_video_scenes",
    "llm_media_resize",
    "llm_audio_features",
    "llm_media_framesample",
    "llm_dedup_cross_modal",
)

# The driver verifies this many registry-prefix entries per round.
DRIVER_PREFIX = 50

# Families the current verdict asks to front-load inside the fresh
# block (r6: the `sql` family — fully driver-checked since; kept empty
# until a verdict names another cluster).
_PRIORITY_FAMILIES: tuple[str, ...] = ()

# SQL-oracled queries ADDED in the current round: ordered after every
# other fresh (never-checked) query so brand-new surface cannot
# displace carried-over never-checked names out of the bounded prefix.
# They get their first external check in the next round's rotation.
# Round 8: empty — the 6 r7-deferred queries are now plain fresh, and
# with only 6 carried fresh SQL + 15 rows-only re-presents the 50-slot
# prefix has ~29 spare slots, so new r8 SQL surface lands directly in
# the prefix instead of deferring a round.
DEFER_FRESH: tuple[str, ...] = ()

# With external coverage TOTAL after round 8, prefix slots left over by
# new-surface queries become regression rechecks. The judge asked that
# these be spent on the heaviest-machinery greens (recursive-CTE
# closure witnesses, ordered state folds, the capped inverted-index
# dedups) rather than round-robin order — a regression there is far
# likelier and far costlier than in a simple projection (VERDICT r8
# #2). Listed most-fragile-first; anything beyond this list pads in
# family round-robin as before.
RECHECK_PRIORITY: tuple[str, ...] = (
    # Round-14 rotation (optimization round 2): the r13 OPTIMIZATION
    # round rewrote the physical execution of 12 registered queries
    # AFTER the r13 prefix was already rotated, so only graph_mst of
    # the touched set landed in the r13 external check. VERDICT r13 #3:
    # the r14 prefix MUST front-load every r13-touched query so the
    # driver's sf0.01 hash check re-attests the rewrites. Queries
    # touched AGAIN in r14 stay in this head (same rationale).
    "graph_pagerank", "graph_label_prop", "graph_betweenness_sample",
    "graph_closeness_sample", "graph_mst", "agg_permutation_test",
    "llm_lsh_band_sweep", "llm_dedup_e2e", "llm_softdedup",
    "llm_dedup_cluster", "llm_ppl_filter_sweep", "llm_quality_buckets",
    # r14-touched queries not already above (updated at round end):
    "llm_dedup_minhash", "llm_dedup_simhash",
    # SIXTH recheck slate: from the 137 SQL-oracled names never
    # rechecked in any r9–r13 prefix — the heaviest remaining
    # machinery first (TPC-H/SQL-surface templating + windowed SQL,
    # packing/format/sampling llm ops, sink/scan layout machinery,
    # grouping-set aggregates, window-frame state).
    "sql_q4", "sql_window_rollup", "sql_pipe", "sql_identifier",
    "sql_params", "sql_exec_immediate", "sql_udf", "sql_table_fn",
    "sql_window_clause", "sql_group_by_all", "sql_star_except",
    "llm_pack_sequences", "llm_fim_transform", "llm_span_corruption",
    "llm_dpo_format", "llm_sample_stratified", "llm_curriculum",
    "llm_shard_assign", "llm_kanon_suppress", "llm_mix_capped",
    "llm_token_fertility", "sink_python_ds", "sink_zorder",
    "sink_snapshot", "sink_codec", "scan_binaryfile",
    "scan_recursive_glob", "scan_parquet_evolve", "agg_cube",
    "agg_gsets", "agg_pivot", "agg_histogram", "agg_percentile",
    "agg_approx_topk", "agg_bitmap_distinct", "win_frame", "win_dist",
    "win_analytic",
)


def _presentation_order() -> list[str]:
    """Registry order as presented to the driver.

    The driver verifies a bounded prefix of the registration order
    (DRIVER_PREFIX entries per round), so the prefix should (a) bank
    this round's fixes first, (b) cover SQL-oracled queries the driver
    has NEVER checked — priority families whole, the rest family-round-
    robin so the prefix samples the surface, (c) place rows-only
    re-presents right after the fresh block so each gets a driver
    `spark_rows` record (VERDICT r5 #3), then (d) re-verify already-
    green ones (since round 8 the fresh queue fits head_len with room
    to spare, so rechecks pad the literal prefix tail — every
    never-recorded query still lands inside the prefix, which is the
    contract tests/test_cli.py pins). Remaining rows-only queries go
    last — they can never produce a hash-green correctness row.
    """
    fixed = [n for n in FIXED_THIS_ROUND if n in REGISTRY]
    represent = [n for n in ROWS_ONLY_REPRESENT if n in REGISTRY]
    seen = set(fixed) | set(represent)

    fresh: dict[str, list[str]] = {}
    rechecks: dict[str, list[str]] = {}
    rows_only: dict[str, list[str]] = {}
    for name, spec in REGISTRY.items():
        if name in seen:
            continue
        if not spec.oracle:
            bucket = rows_only
        elif name in DRIVER_CHECKED:
            bucket = rechecks
        else:
            bucket = fresh
        bucket.setdefault(spec.family, []).append(name)

    def round_robin(buckets: dict[str, list[str]]) -> list[str]:
        out: list[str] = []
        queues = [list(v) for _, v in sorted(buckets.items())]
        while queues:
            next_queues = []
            for q in queues:
                out.append(q.pop(0))
                if q:
                    next_queues.append(q)
            queues = next_queues
        return out

    priority = [
        n
        for fam in _PRIORITY_FAMILIES
        for n in sorted(fresh.pop(fam, []))
    ]
    deferred = [
        n
        for fam, names in list(fresh.items())
        for n in names
        if n in DEFER_FRESH
    ]
    for fam in list(fresh):
        fresh[fam] = [n for n in fresh[fam] if n not in DEFER_FRESH]
        if not fresh[fam]:
            del fresh[fam]
    ordered_fresh = priority + round_robin(fresh) + sorted(deferred)
    head_len = max(0, DRIVER_PREFIX - len(fixed) - len(represent))
    # recheck padding: most-fragile machinery first (VERDICT r8 #2),
    # then family round-robin over the rest
    recheck_names = {n for names in rechecks.values() for n in names}
    recheck_head = [n for n in RECHECK_PRIORITY if n in recheck_names]
    for fam in list(rechecks):
        rechecks[fam] = [n for n in rechecks[fam] if n not in RECHECK_PRIORITY]
        if not rechecks[fam]:
            del rechecks[fam]
    return (
        fixed
        + ordered_fresh[:head_len]
        + represent
        + ordered_fresh[head_len:]
        + recheck_head
        + round_robin(rechecks)
        + round_robin(rows_only)
    )


def all_queries() -> dict[str, QueryFn]:
    _load_all_modules()
    return {name: REGISTRY[name].fn for name in _presentation_order()}


def all_oracles() -> dict[str, str]:
    _load_all_modules()
    return {
        name: REGISTRY[name].oracle
        for name in _presentation_order()
        if REGISTRY[name].oracle
    }


def get(name: str) -> QuerySpec:
    _load_all_modules()
    return REGISTRY[name]
