"""CLI shim unit tests (no SparkSession needed)."""

from __future__ import annotations

import re
from pathlib import Path

from local_etl_spark.__main__ import format_duration


def test_format_duration_seconds_only():
    assert format_duration(12.606) == "12.61 second(s)"


def test_format_duration_drops_leading_zero_units():
    assert format_duration(3600 + 62.5) == (
        "1 hour(s), 1 minute(s), 2.50 second(s)"
    )


def test_format_duration_full_units():
    assert format_duration(2 * 86400 + 3 * 3600 + 4 * 60 + 5) == (
        "2 day(s), 3 hour(s), 4 minute(s), 5.00 second(s)"
    )


def test_registry_presents_queries_in_registration_order():
    from local_etl_spark import registry

    queries = registry.all_queries()
    assert list(queries) == list(registry.REGISTRY)
    assert len(queries) == 396
    oracled = [n for n, s in registry.REGISTRY.items() if s.oracle]
    assert list(registry.all_oracles()) == oracled
    assert len(oracled) == 382


def test_queries_md_lists_every_registered_query():
    """QUERIES.md is generated (tools_gen_queries_md.py); regenerate it
    when this fails."""
    from local_etl_spark import registry

    registry._load_all_modules()
    text = (Path(__file__).parent.parent / "QUERIES.md").read_text()
    listed = re.findall(r"^\| \d+ \| `([^`]+)` \|", text, re.M)
    assert len(listed) == len(set(listed))
    assert set(listed) == set(registry.REGISTRY)


def test_cli_query_runner(spark, capsys):
    """--query list enumerates the registry; --query NAME runs it."""
    from local_etl_spark.__main__ import main

    assert main(["--query", "list"]) == 0
    out = capsys.readouterr().out
    assert "agg_groupby" in out and out.count("\n") >= 240

    assert main(
        ["--query", "agg_global", "--sf-dir", "/root/testdata/sf0.001"]
    ) == 0
    out = capsys.readouterr().out
    assert "Elapsed:" in out

    assert main(["--query", "definitely_not_a_query"]) == 2


def test_query_collects_stay_driver_sized(spark):
    """Driver-boundedness guard (VERDICT r9 #9): every .collect() a
    query fn makes while BUILDING its DataFrame must stay model-sized
    (query vectors, trained codebooks, manifests) — never
    corpus-proportional. Discovers the collecting ops from their own
    source, runs each at sf0.01 with the classic DataFrame's collect
    wrapped (the pyspark.sql.DataFrame base is abstract in Spark 4 —
    patching it misses the subclass override), and asserts every
    internal collect returns <= the declared bound. tools_driver_sim
    applies the same guard to ALL ops at every sim SF, so a future
    op with a new collect is caught there each round even if its
    collect hides in a helper this source scan can't see."""
    import inspect

    from pyspark.sql.classic.dataframe import DataFrame as CDF

    from local_etl_spark import registry

    registry._load_all_modules()
    BOUND = 25_000
    # ops whose collect hides in a shared helper the per-fn source
    # scan can't see (the sim-level guard still covers them at all SFs)
    helper_collectors = {"llm_kmeans_train"}
    collectors = [
        (name, spec)
        for name, spec in registry.REGISTRY.items()
        if ".collect(" in inspect.getsource(spec.fn)
        or name in helper_collectors
    ]
    # the known-collector families must be discovered (the scan going
    # silently empty would neuter the guard)
    found = {n for n, _ in collectors}
    assert {"llm_simsearch_ivf", "llm_kmeans_train", "llm_simsearch_pq"} <= found

    sizes: dict[str, int] = {}
    orig = CDF.collect
    cur = [None]

    def wrapped(self):
        rows = orig(self)
        if cur[0] is not None:
            sizes[cur[0]] = max(sizes.get(cur[0], 0), len(rows))
        return rows

    CDF.collect = wrapped
    try:
        for name, spec in collectors:
            cur[0] = name
            spec.fn(spark, "/root/testdata/sf0.01")
            cur[0] = None
    finally:
        CDF.collect = orig
    over = {n: v for n, v in sizes.items() if v > BOUND}
    assert not over, f"driver over-collects at sf0.01: {over}"
