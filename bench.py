"""Benchmark harness: run the headline queries and the two ETL layouts
at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], from the repository root.

Prints ONE JSON line:
  {"metric": "...", "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Each entry is the best of RUNS executions. A query execution writes
every column of its result to the ``noop`` sink, so the whole plan runs
(a ``count()`` would let Catalyst prune projections); an ETL execution
is one pipeline run into a fresh output dir. A warm-up scan of every
table runs first so JVM startup isn't attributed to the first entry.
Full-precision timings, each entry's ambient CPU and the host
calibration at the start and the end of the run
(``perfbench.hostprobe.calibrate``) go to BENCH_ambient_last.json.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from perfbench import hostprobe  # noqa: E402

RUNS = 2

HEADLINE = [
    "agg_groupby", "agg_global", "agg_rollup", "join_multiway",
    "join_broadcast", "win_rank", "topk_per_group", "stream_tumbling",
    "stream_session", "llm_dedup_exact", "llm_dedup_ngram",
    "llm_dedup_substring", "llm_simsearch", "llm_tfidf", "llm_text_stats",
    "llm_repetition", "llm_filter_pipeline", "llm_bm25",
    "llm_token_entropy", "llm_curate_e2e", "agg_funnel", "agg_minmax_by",
    "agg_mode", "join_dpp", "scan_skipping", "win_match_recognize",
    "llm_dsir_weight", "stream_chained_agg", "stream_sliding",
    "llm_pack_sequences", "llm_mix_weighted", "sink_compaction",
    "scan_parquet_evolve", "scan_csv_malformed", "join_bloom",
    "llm_boilerplate_chunks", "llm_bpe_pairs", "graph_triangles",
    "agg_corr_matrix", "agg_ks_test", "win_drawdown", "llm_rouge_overlap",
    "llm_span_corruption", "win_interpolate", "sql_filter_clause",
    "etl_table_diff", "win_sessionize", "win_gap_fill",
    "llm_dedup_lsh_cosine", "llm_bpe_train", "sink_dynamic_overwrite",
    "llm_semdedup", "llm_simsearch_ivf", "graph_pagerank",
    "llm_dedup_prefix", "etl_upsert", "llm_dedup_minhash",
    "llm_simsearch_pq", "llm_image_phash", "graph_label_prop", "sql_q2",
    "llm_dedup_e2e", "llm_pack_bfd", "llm_dedup_simhash", "llm_softdedup",
    "llm_retrieval_eval", "llm_dedup_incremental_near",
    "agg_permutation_test", "llm_dedup_url", "llm_quality_buckets",
    "win_sessionize_split", "agg_msprt", "graph_betweenness_sample",
    "win_bollinger", "llm_ppl_filter_sweep", "llm_audio_fingerprint",
    "graph_closeness_sample", "agg_gst_obrien_fleming",
    "llm_ann_ivf_incremental", "llm_tokenizer_coverage",
    "llm_lsh_band_sweep", "win_croston", "win_rsi",
    "win_seasonality_strength", "llm_embedding_drift",
    "llm_bpe_vocab_sweep",
]

# ETL throughput: the reference's own workload (validate → repair/route →
# transform → multi-sink) over a synthetic users-event corpus, in both
# layouts. Event counts scale with sf so per-round numbers are comparable.
ETL_EVENTS_JSONL = 50_000
ETL_EVENTS_FILES = 2_000


def _cpu_ticks() -> tuple[int, int, float]:
    """(machine busy ticks, this process tree's CPU ticks, wall clock).
    The tree is walked afresh each time: the JVM and its Python workers
    are children of this process."""
    return (
        hostprobe._machine_busy_ticks(),
        hostprobe._tree_cpu_ticks(hostprobe.tree_pids()),
        time.perf_counter(),
    )


def time_entry(name: str, run, timings: dict, ambient: dict) -> None:
    """Best of RUNS calls of ``run(attempt)`` into ``timings[name]``,
    and the CPU other processes used meanwhile, in cores, into
    ``ambient[name]``: the bench's own process tree is subtracted, so
    the reading is co-tenant load alone."""
    busy0, self0, wall0 = _cpu_ticks()
    best = float("inf")
    for attempt in range(RUNS):
        start = time.perf_counter()
        run(attempt)
        best = min(best, time.perf_counter() - start)
    busy1, self1, wall1 = _cpu_ticks()
    other = (busy1 - busy0) - (self1 - self0)
    timings[name] = round(best, 4)
    ambient[name] = round(max(0.0, other / hostprobe.CLK_TCK / (wall1 - wall0)), 2)


def bench_etl(spark, sf: float, tmp_root: str, timings: dict, ambient: dict) -> None:
    """Time both ETL layouts through the v2 sinks: the per-file corpus
    with ``run_table`` (the reference's run) and the JSONL shards with
    ``read_event_lines`` → ``classify`` → ``write_sinks``."""
    from local_etl_spark.etl.corpus import (
        write_jsonl_corpus,
        write_per_file_corpus,
        write_user_schema,
    )
    from local_etl_spark.etl.pipeline import (
        PipelineConfig,
        TableConfig,
        classify,
        read_event_lines,
        run_table,
        write_sinks,
    )
    from local_etl_spark.etl.schema_translate import load_schema

    scale = max(sf / 0.1, 0.01)
    n_files = int(ETL_EVENTS_FILES * scale)
    n_jsonl = int(ETL_EVENTS_JSONL * scale)
    files_dir = write_per_file_corpus(os.path.join(tmp_root, "users"), n_files)
    jsonl_dir = write_jsonl_corpus(
        os.path.join(tmp_root, "users_jsonl"), n_jsonl, shards=32
    )
    schema_path = write_user_schema(os.path.join(tmp_root, "user-schema.json"))
    schema = load_schema(schema_path)

    def config(out: str, data_dir: str) -> PipelineConfig:
        out = os.path.join(tmp_root, out)
        return PipelineConfig(
            tables=(TableConfig(
                name="users",
                schema_file=schema_path,
                data_dir=data_dir,
                schema_mismatch_dir=os.path.join(out, "quarantine"),
                payload_file=os.path.join(out, "users.csv"),
                metadata_file=os.path.join(out, "metadata.csv"),
            ),),
            base_dir=out,
        )

    def run_files(attempt: int) -> None:
        cfg = config(f"files_out_{attempt}", files_dir)
        run_table(spark, cfg, cfg.tables[0], version=2)

    def run_jsonl(attempt: int) -> None:
        cfg = config(f"jsonl_out_{attempt}", jsonl_dir)
        classified = classify(read_event_lines(spark, jsonl_dir), schema).persist()
        try:
            write_sinks(cfg, cfg.tables[0], schema, classified, version=2)
        finally:
            classified.unpersist()

    time_entry(f"etl_files_{n_files}", run_files, timings, ambient)
    time_entry(f"etl_jsonl_{n_jsonl}", run_jsonl, timings, ambient)


def main() -> None:
    calib_start = hostprobe.calibrate()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from local_etl_spark.catalog import TABLES, table
    from local_etl_spark.registry import all_queries
    from local_etl_spark.session import get_spark

    registered = all_queries()
    # a renamed or deleted query fails here, before any Spark work,
    # rather than silently dropping out of the contract
    queries = {name: registered[name] for name in HEADLINE}

    spark = get_spark("local-etl-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    for name in TABLES:
        table(spark, sf_dir, name).count()

    timings: dict[str, float] = {}
    ambient: dict[str, float] = {}
    for name, query in queries.items():

        def run(_attempt: int, query=query) -> None:
            query(spark, sf_dir).write.format("noop").mode("overwrite").save()

        time_entry(name, run, timings, ambient)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_num = float(sf) if sf.replace(".", "").isdigit() else 0.1
    try:
        with tempfile.TemporaryDirectory() as tmp:
            bench_etl(spark, sf_num, tmp, timings, ambient)
    finally:
        hostprobe.shutdown_spark(spark)
    calib_end = hostprobe.calibrate()

    total = round(sum(timings.values()), 4)
    # The external driver keeps only the LAST 2000 CHARS of stdout and
    # parses the final JSON line out of that window, so full-precision
    # timings and the per-entry diagnostics go to a side artifact and
    # the stdout line carries only the contract fields (contract_line).
    try:
        with open(REPO / "BENCH_ambient_last.json", "w") as f:
            json.dump(
                {
                    "sf": sf_num,
                    "queries": timings,
                    "runs_per_query": RUNS,
                    "ncpu": os.cpu_count(),
                    "ambient_cores": ambient,
                    "calib_start": calib_start,
                    "calib_end": calib_end,
                    "wall_clock": time.strftime(
                        "%Y-%m-%dT%H:%M:%S", time.gmtime()
                    ),
                },
                f,
                indent=1,
            )
    except OSError:
        pass  # a read-only checkout still gets its contract line
    print(contract_line(total, timings, sf_num))


# Deterministic driver-visibility pin (VERDICT r13 #2). The old prune
# dropped the CHEAPEST entries under the char cap, so ordinary timing
# noise changed WHICH entries were visible round to round — r13's line
# pushed llm_dedup_url out and pulled scan_parquet_evolve in, which the
# driver's drop detector read as a (phantom) removal. Visibility must
# never churn with noise: this set — EXACTLY the round-13 visible set
# (which saturated the 1850-char cap; one more 4-char-value entry
# overflows it, measured, so llm_dedup_url cannot be pinned back in —
# its number lives at full precision in BENCH_ambient_last.json) — is
# pruned last, and every prune decision keys on NAMES only, never on
# measured seconds. Grow it only with matching cap headroom; never
# shrink it.
_PINNED_VISIBLE = frozenset({
    "agg_corr_matrix", "agg_funnel", "agg_global", "agg_groupby",
    "agg_gst_obrien_fleming", "agg_ks_test", "agg_minmax_by",
    "agg_msprt", "agg_permutation_test", "agg_rollup", "etl_table_diff",
    "etl_upsert", "graph_betweenness_sample", "graph_closeness_sample",
    "graph_label_prop", "graph_pagerank", "graph_triangles",
    "join_bloom", "join_broadcast", "join_dpp", "join_multiway",
    "llm_ann_ivf_incremental", "llm_audio_fingerprint", "llm_bm25",
    "llm_boilerplate_chunks", "llm_bpe_pairs", "llm_bpe_train",
    "llm_bpe_vocab_sweep", "llm_curate_e2e", "llm_dedup_e2e",
    "llm_dedup_incremental_near", "llm_dedup_lsh_cosine",
    "llm_dedup_minhash", "llm_dedup_ngram", "llm_dedup_prefix",
    "llm_dedup_simhash", "llm_dedup_substring",
    "llm_dsir_weight", "llm_embedding_drift", "llm_image_phash",
    "llm_lsh_band_sweep", "llm_mix_weighted", "llm_pack_bfd",
    "llm_ppl_filter_sweep", "llm_quality_buckets", "llm_retrieval_eval",
    "llm_rouge_overlap", "llm_semdedup", "llm_simsearch",
    "llm_simsearch_ivf", "llm_simsearch_pq", "llm_softdedup",
    "llm_span_corruption", "llm_tfidf", "llm_tokenizer_coverage",
    "scan_parquet_evolve", "scan_skipping", "sink_compaction",
    "sql_filter_clause", "sql_q2", "stream_chained_agg",
    "stream_session", "stream_sliding", "stream_tumbling",
    "topk_per_group", "win_bollinger", "win_croston", "win_drawdown",
    "win_interpolate", "win_match_recognize", "win_rsi",
    "win_seasonality_strength", "win_sessionize", "win_sessionize_split",
})


def contract_line(
    total: float, timings: dict, sf_num: float, cap: int = 1850
) -> str:
    """The ONE stdout JSON line the driver records (it keeps only the
    LAST 2000 chars of stdout, so the line must fit ``cap`` with
    margin). Contract fields only (metric/value/unit/queries/sf —
    everything else lives in the side artifact); precision steps down
    in SIGNIFICANT digits, not decimals, so a 0.357 s entry keeps its
    ratio-comparable value at the same char cost as a 48.8 s one.
    If even 2 significant digits overflow (80 entries crossed the cap
    in round 10), entries are pruned under a DETERMINISTIC priority
    (VERDICT r13 #2 — the old cheapest-first prune let timing noise
    change which entries were visible, manufacturing phantom drops):
    ALL non-pinned entries drop as one block (so the visible set is a
    function of the NAME set alone, never of measured seconds — a
    partial drop would leave a value-width-dependent boundary entry
    that flips with noise); only if the pinned set itself overflows do
    pinned entries drop, in name order with the ETL entries (the only
    baseline-comparable numbers) last — the never-over-cap escape
    hatch. Full-precision timings for every entry, visible or not,
    stay in BENCH_ambient_last.json. For a pathological cap where even
    the ETL floor overflows, the queries map is dropped entirely — the
    line NEVER exceeds cap. Pinned by tests/test_bench_contract.py.
    """

    def _dump(queries: dict, omitted: int, sig: int) -> str:
        payload: dict = {
            "metric": "headline-suite-total",
            "value": total,
            "unit": "sec",
            "queries": {
                n: float(f"{v:.{sig}g}") for n, v in queries.items()
            },
        }
        if omitted:
            payload["omitted"] = omitted
        payload["sf"] = sf_num
        return json.dumps(payload, separators=(",", ":"))

    line = ""
    for sig in (6, 4, 3, 2):
        line = _dump(timings, 0, sig)
        if len(line) <= cap:
            return line

    # dropped-first order: names only — timing-independent by design
    def _prio(name: str) -> tuple:
        if name.startswith("etl_"):
            tier = 2
        elif name in _PINNED_VISIBLE:
            tier = 1
        else:
            tier = 0
        return (tier, name)

    order = sorted(timings, key=_prio)
    n_extra = sum(1 for n in order if _prio(n)[0] == 0)

    def _pruned(k: int, values: dict = timings) -> str:
        return _dump(
            {n: values[n] for n in sorted(order[k:])}, k, 2
        )

    if n_extra and len(_pruned(n_extra)) <= cap:
        # the stable regime: every non-pinned entry drops, every
        # pinned entry survives — no value-dependent boundary
        return _pruned(n_extra)
    # escape hatch: the pinned set itself overflows — bisect the
    # smallest name-ordered drop count that fits with every value at a
    # fixed-width sentinel (as wide as any timing below 1e5 s at 2
    # significant digits), so the drop count depends on names alone
    sentinel = dict.fromkeys(timings, 12000.0)
    lo, hi = max(1, n_extra), len(order)
    while lo < hi:
        mid = (lo + hi) // 2
        if len(_pruned(mid, sentinel)) <= cap:
            hi = mid
        else:
            lo = mid + 1
    line = _pruned(lo)
    if len(line) > cap:
        # even one entry overflows this cap: contract fields outrank
        # the floor — ship totals only, never an over-cap line
        line = _dump({}, len(timings), 2)
    return line


if __name__ == "__main__":
    main()
