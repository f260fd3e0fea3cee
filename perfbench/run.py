"""Benchmark of the engine, driven from outside through its public
functions.

    python3 perfbench/run.py --workload etl_files --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. One process, one closed-loop client
running one job at a time on ``local[<cpus available>]``. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``. The line
before it records the host's calibration clock and ambient CPU at the
start and end of the run. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys

from common import Ledger, median
from etl_files import EtlFiles
from eventlog import EventLog, Spans
from hostprobe import ProcessClock, RssSampler, calibrate, shutdown_spark
from lake_mix import LakeMix

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = (EtlFiles.name, LakeMix.name)
SETUP_SAMPLES = 3  # session launches per untraced run, median reported


def _configure_env(work: str, event_dir: str | None) -> None:
    """Keep every file Spark and the JVM write inside ``work``, size the
    session to the CPUs this process may use, and (traced run) turn on
    the uncompressed event log -- Spark's default zstd codec has no
    Python reader here."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + event_dir,
        })
    args = []
    for key, value in conf.items():
        args += ["--conf", f"{key}={value}"]
    args += ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _start_session(clock: ProcessClock):
    """The engine's session; returns it with the setup time, measured
    from process start until ``get_spark`` returns."""
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    from local_etl_spark.session import get_spark

    spark = get_spark("perfbench")
    return spark, clock.age_s()


def _setup_probe(clock: ProcessClock) -> int:
    spark, setup_s = _start_session(clock)
    try:
        print(json.dumps({"setup_s": setup_s}), flush=True)
    finally:
        shutdown_spark(spark)
    return 0


def _more_setup_samples(n: int) -> list[float]:
    """Setup time of ``n`` fresh processes, launched one after another."""
    samples = []
    for _ in range(n):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--setup-probe"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True, timeout=150, check=True,
        )
        samples.append(json.loads(out.stdout.strip().splitlines()[-1])["setup_s"])
    return samples


def _make_workloads(work: str, seed: int, corrupt_expected: bool) -> dict:
    workloads = (EtlFiles(os.path.join(work, "etl"), seed, corrupt_expected),
                 LakeMix(REPO, corrupt_expected))
    return {w.name: w for w in workloads}


def _run(args, work: str, clock: ProcessClock) -> dict:
    trace = args.trace == 1
    event_dir = os.path.join(work, "eventlog") if trace else None
    _configure_env(work, event_dir)
    spark, setup_s = _start_session(clock)
    ledger = Ledger()
    workloads = _make_workloads(work, args.seed, args.corrupt_expected)
    selected = workloads[args.workload]
    # the traced run measures every layer, so it also runs the other
    # workload, with the least work its metrics need
    order = [selected] + ([w for w in workloads.values() if w is not selected] if trace else [])
    spans = Spans() if trace else None
    results = {}
    try:
        host_start = calibrate()
        with RssSampler() as rss:
            for i, w in enumerate(order):
                w.prepare()
                primary = i == 0
                results[w.name] = w.run(spark, ledger, args.seconds if primary else 0,
                                        spans, primary)
                if trace:
                    w.split(spark, ledger, spans)
    finally:
        shutdown_spark(spark)
    setup_samples = [setup_s] + ([] if trace else _more_setup_samples(SETUP_SAMPLES - 1))
    host_end = calibrate()
    print(json.dumps({"host": {"start": host_start, "end": host_end}}), flush=True)

    r = results[selected.name]
    if not trace:
        metrics = {
            "setup_s": median(setup_samples),
            "cold_s": r["cold_s"],
            "warm_s": r["warm_s"],
            "driver_peak_rss_mb": rss.hwm_kb["driver"] / 1024.0,
        }
    else:
        log = EventLog(event_dir)
        metrics = {
            "session.get_spark_s": setup_s,
            "trace.cold_s": r["cold_s"],
            "trace.warm_s": r["warm_s"],
            "codegen.cold_compile_ms": r["codegen_cold"]["compile_ms"],
            "codegen.cold_classes": r["codegen_cold"]["classes"],
            "codegen.cold_source_kb": r["codegen_cold"]["source_kb"],
            "codegen.warm_compile_ms": r["codegen_warm"]["compile_ms"],
            "codegen.warm_classes": r["codegen_warm"]["classes"],
            "host.calib_start_miter_s": host_start["calib_miter_s"],
            "host.calib_end_miter_s": host_end["calib_miter_s"],
            "host.calib_all_cpus_start_miter_s": host_start["calib_all_cpus_miter_s"],
            "host.calib_all_cpus_end_miter_s": host_end["calib_all_cpus_miter_s"],
            "host.ambient_cpus_start": host_start["ambient_cpus"],
            "host.ambient_cpus_end": host_end["ambient_cpus"],
            "mem.tree_peak_rss_mb": rss.peak_kb / 1024.0,
            "mem.jvm_peak_rss_mb": rss.hwm_kb["jvm"] / 1024.0,
            "mem.workers_peak_rss_mb": rss.role_peak_kb["workers"] / 1024.0,
        }
        for w in order:
            metrics.update(w.layer_metrics(log, spans))
    return {
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": metrics,
    }


def _declared_units(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main() -> int:
    clock = ProcessClock()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="perturb every expected output, to show the checks fail")
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.setup_probe:
        return _setup_probe(clock)
    if args.workload is None:
        ap.error("--workload is required")
    needed = ("local_etl_spark/session.py", "tests/oracle.py", "BENCHMARK.json")
    missing = [p for p in needed if not os.path.isfile(os.path.join(REPO, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine (missing {missing})", file=sys.stderr)
        return 2
    work = os.path.join(REPO, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        result = _run(args, work, clock)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = _declared_units(args.trace == 1)
    metrics = result["metrics"]
    if set(metrics) != set(units):
        print(f"perfbench: metrics {sorted(set(metrics) ^ set(units))} "
              "differ from BENCHMARK.json", file=sys.stderr)
        return 1
    if any(v is None or v != v for v in metrics.values()):
        print("perfbench: a metric could not be measured", file=sys.stderr)
        return 1
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
