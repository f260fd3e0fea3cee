"""Workload ``lake_mix``: registry queries over the lakehouse tables,
each fully materialized through the ``noop`` sink.

The mix pairs short relational plans (aggregation, multi-way join,
window), where per-job fixed cost, Catalyst/AQE and the parquet scan
dominate, with iterative ones (graph loops with driver-local tiers, a
shuffle-heavy dedup band join). The input is the fixed seed-42 sf0.01
testdata copied under ``data/``; the seed does not apply to it.

Correctness: every query's rows are compared, order-independently and
after canonicalization, with its DuckDB oracle (``registry`` oracle SQL
and the ``tests/oracle.py`` helpers) on the same parquet.
"""

from __future__ import annotations

import importlib.util
import os
import time

from common import Codegen, Ledger, median, min_warm
from eventlog import EventLog, Spans

QUERIES = (
    "agg_funnel",
    "join_multiway",
    "win_sessionize",
    "graph_pagerank",
    "llm_dedup_minhash",
)
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def _load_oracle_helpers(repo: str):
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle", os.path.join(repo, "tests", "oracle.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class LakeMix:
    name = "lake_mix"

    def __init__(self, repo: str, corrupt_expected: bool = False) -> None:
        self.repo = repo
        self.corrupt_expected = corrupt_expected
        self.query_s: dict[str, list[float]] = {q: [] for q in QUERIES}
        self.count_s: dict[str, float] = {}

    def prepare(self) -> None:
        from local_etl_spark import registry

        registry._load_all_modules()
        self.specs = {q: registry.get(q) for q in QUERIES}
        self.oracle = _load_oracle_helpers(self.repo)
        con = self.oracle.duck_connect(DATA_DIR)
        self.expected = {}
        try:
            for q, spec in self.specs.items():
                res = con.execute(spec.oracle)
                cols = [d[0] for d in res.description]
                rows = self.oracle.canon_rows(cols, res.fetchall())
                if self.corrupt_expected:
                    rows = rows[1:]
                self.expected[q] = (sorted(cols), rows)
        finally:
            con.close()

    def _check(self, q: str, df) -> list[str]:
        cols = list(df.columns)
        rows = self.oracle.canon_rows(cols, [tuple(r) for r in df.collect()])
        want_cols, want = self.expected[q]
        if sorted(cols) != want_cols:
            return [f"{q}: columns {sorted(cols)} != {want_cols}"]
        if len(rows) != len(want):
            return [f"{q}: {len(rows)} rows, oracle {len(want)}"]
        if rows != want:
            return [f"{q}: row values differ from the oracle"]
        return []

    def _pass(self, spark, ledger: Ledger, spans: Spans | None, label: str) -> float | None:
        """One pass over the mix, each query written to ``noop``; returns
        the pass seconds, or None when any query failed."""
        total = 0.0
        for q, spec in self.specs.items():

            def call(spec=spec):
                spec.fn(spark, DATA_DIR).write.format("noop").mode("overwrite").save()

            fn = (lambda call=call, q=q: spans.record(f"q.{q}", call)) if spans else call
            t, _ = ledger.run(f"{label} {q}", fn)
            if t is None:
                total = None
            elif total is not None:
                total += t
            if label == "warm" and t is not None:
                self.query_s[q].append(t)
        return total

    def run(self, spark, ledger: Ledger, seconds: float, spans: Spans | None,
            primary: bool = True) -> dict:
        codegen = Codegen(spark)
        c0 = codegen.snapshot()
        # run second in a traced run, the mix skips its cold pass: the
        # check pass below warms it, and only the selected workload's
        # cold time is reported
        cold = self._pass(spark, ledger, None, "cold") if primary else None
        c1 = codegen.snapshot()
        # output check, outside the timed region; it also warms the caches
        for q, spec in self.specs.items():
            ledger.run(f"check {q}", lambda spec=spec: spec.fn(spark, DATA_DIR),
                       lambda df, q=q: self._check(q, df))
        c2, c3 = codegen.snapshot(), None
        warm = []
        start = time.perf_counter()
        while len(warm) < min_warm(primary) or time.perf_counter() - start < seconds:
            warm.append(self._pass(spark, ledger, spans, "warm"))
            if c3 is None:
                c3 = codegen.snapshot()
        return {
            "cold_s": cold,
            "warm_s": median(warm),
            "codegen_cold": Codegen.delta(c0, c1),
            "codegen_warm": Codegen.delta(c2, c3),
        }

    def split(self, spark, ledger: Ledger, spans: Spans) -> None:
        """Traced run only: each query timed under ``count()`` as well,
        which lets Catalyst prune projections the noop sink must run."""
        for q, spec in self.specs.items():
            t, _ = ledger.run(f"count {q}", lambda spec=spec: spec.fn(spark, DATA_DIR).count())
            self.count_s[q] = t

    def layer_metrics(self, log: EventLog, spans: Spans) -> dict[str, float]:
        out = {}
        for q in QUERIES:
            named = spans.named(f"q.{q}")
            stats = [log.layer(s) for s in named]
            out[f"q.{q}.warm_s"] = median(self.query_s[q])
            out[f"q.{q}.jobs"] = median(s.jobs for s in stats)
            out[f"q.{q}.executor_run_s"] = median(s.executor_run_s for s in stats)
            out[f"q.{q}.shuffle_write_bytes"] = median(s.shuffle_write_bytes for s in stats)
            out[f"q.{q}.driver_s"] = median(log.driver_s(s) for s in named)
            out[f"q.{q}.count_s"] = self.count_s.get(q)
        return out
