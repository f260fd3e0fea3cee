"""CLI entry point: the engine's equivalent of the reference's
``python main.py`` / ``python main2.py`` runs (SURVEY.md §3.1-3.3).

    python -m local_etl_spark --base-dir ./events            # v2 run
    python -m local_etl_spark --config pipeline.toml --version 1

With ``--config`` the TOML registry is loaded (the reference's intended
config path, config.toml:1-13, with its key-name and data_dir bugs
fixed — see etl/config.py); without it, the reference's hard-coded
main2.py:16-32 registry shape is assumed under ``--base-dir``.

Output mirrors the reference's run report: per-table counter triple
(main.py:195-197) and a humanized elapsed duration (main.py:68-83).
"""

from __future__ import annotations

import argparse
import sys
import time


def format_duration(seconds: float) -> str:
    """Humanized duration in the reference's style (main.py:68-83):
    ``d day(s), h hour(s), m minute(s), s second(s)``, leading zero
    units dropped."""
    whole = int(seconds)
    days, rem = divmod(whole, 86400)
    hours, rem = divmod(rem, 3600)
    minutes, secs = divmod(rem, 60)
    frac_secs = secs + (seconds - whole)
    parts = [
        (days, "day(s)"),
        (hours, "hour(s)"),
        (minutes, "minute(s)"),
    ]
    out = [f"{v} {unit}" for v, unit in parts if v]
    out.append(f"{frac_secs:.2f} second(s)")
    return ", ".join(out)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="local_etl_spark",
        description="Run the config-driven multi-table ETL pipeline.",
    )
    ap.add_argument("--config", help="TOML pipeline config (etl/config.py spec)")
    ap.add_argument(
        "--base-dir",
        default=".",
        help="directory schema/data/output paths are relative to",
    )
    ap.add_argument(
        "--version",
        type=int,
        choices=(1, 2),
        default=2,
        help="1 = denormalized CSV (main.py), 2 = payload+metadata (main2.py)",
    )
    ap.add_argument(
        "--cpus",
        type=int,
        default=None,
        help="local core count (default: session.py's $SPARK_GRAFT_CPUS)",
    )
    ap.add_argument(
        "--query",
        metavar="NAME",
        help="run one registry query (QUERIES.md) instead of the ETL "
        "pipeline and print its rows; 'list' enumerates names",
    )
    ap.add_argument(
        "--sf-dir",
        default=None,
        help="testdata dir for --query (default: catalog.DEFAULT_SF_DIR)",
    )
    ap.add_argument(
        "--limit",
        type=int,
        default=20,
        help="max rows --query prints (0 = all)",
    )
    args = ap.parse_args(argv)

    if args.query:
        from local_etl_spark import registry
        from local_etl_spark.catalog import DEFAULT_SF_DIR
        from local_etl_spark.session import get_spark

        registry._load_all_modules()
        if args.query == "list":
            for name, spec in registry.REGISTRY.items():
                kind = "SQL " if spec.oracle else "rows"
                print(f"{kind}  {name}")
            return 0
        if args.query not in registry.REGISTRY:
            print(f"unknown query {args.query!r}; try --query list", file=sys.stderr)
            return 2
        spark = get_spark("local-etl-spark-cli", cpus=args.cpus)
        start = time.perf_counter()
        df = registry.REGISTRY[args.query].fn(
            spark, args.sf_dir or DEFAULT_SF_DIR
        )
        df.show(args.limit or df.count(), truncate=False)
        print(f"Elapsed: {format_duration(time.perf_counter() - start)}")
        return 0

    from local_etl_spark.etl.config import load_config, reference_config
    from local_etl_spark.etl.pipeline import run_pipeline
    from local_etl_spark.session import get_spark

    cfg = (
        load_config(args.config, base_dir=args.base_dir)
        if args.config
        else reference_config(args.base_dir)
    )
    spark = get_spark("local-etl-spark-cli", cpus=args.cpus)
    start = time.perf_counter()
    metrics = run_pipeline(spark, cfg, version=args.version)
    elapsed = time.perf_counter() - start
    for m in metrics:
        print(
            f"{m.table}: {m.file_count} file(s), "
            f"{m.valid_count} valid, {m.invalid_count} invalid"
        )
    print(f"Elapsed: {format_duration(elapsed)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
