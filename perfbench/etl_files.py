"""Workload ``etl_files``: the reference's own job.

About 5,000 one-document-per-file ``users`` events with the default
dirty mix (2 % corrupt, 10 % repairable), generated from the seed, run
through the full ``run_table(version=2)``: per-file scan, classify,
payload and metadata CSVs, quarantine and the error log.
"""

from __future__ import annotations

import csv
import glob
import json
import os
import shutil
import time

from common import Codegen, Ledger, median, min_warm
from eventlog import EventLog, Spans

N_EVENTS = 5000
PAYLOAD_FIELDS = ("id", "name", "address", "job", "score")


def ground_truth(docs: list[str]) -> dict[str, int]:
    """Expected counters and sink sizes, decided independently of the
    engine: corrupt = Python's json rejects the document; repairable =
    a required payload field is absent (kept in the outputs because
    ``replace_missing_data`` is on, but quarantined and logged)."""
    corrupt = repairable = 0
    for raw in docs:
        try:
            payload = json.loads(raw)["payload"]
        except json.JSONDecodeError:
            corrupt += 1
            continue
        if any(f not in payload for f in PAYLOAD_FIELDS):
            repairable += 1
    invalid = corrupt + repairable
    kept = len(docs) - corrupt
    return {
        "file_count": len(docs),
        "valid_count": len(docs) - invalid,
        "invalid_count": invalid,
        "payload_rows": kept,
        "metadata_rows": kept,
        "quarantine_rows": invalid,
        "error_log_lines": invalid,
    }


def _csv_rows(path: str) -> int:
    rows = 0
    for part in glob.glob(os.path.join(path, "part-*")):
        with open(part, newline="", encoding="utf-8") as fh:
            n = sum(1 for _ in csv.reader(fh))
        rows += max(0, n - 1)  # every part file carries the header
    return rows


def _text_lines(path: str) -> int:
    lines = 0
    for part in glob.glob(os.path.join(path, "part-*")):
        with open(part, encoding="utf-8") as fh:
            lines += sum(1 for _ in fh)
    return lines


class EtlFiles:
    name = "etl_files"

    def __init__(self, work_dir: str, seed: int, corrupt_expected: bool = False) -> None:
        self.work_dir = work_dir
        self.seed = seed
        self.corrupt_expected = corrupt_expected
        self.observed: dict[str, int] = {}

    def prepare(self) -> None:
        from local_etl_spark.etl import corpus

        self.data_dir = corpus.write_per_file_corpus(
            os.path.join(self.work_dir, "users"), N_EVENTS, seed=self.seed
        )
        self.schema_path = corpus.write_user_schema(
            os.path.join(self.work_dir, "user-schema.json")
        )
        self.expected = ground_truth(corpus.generate(N_EVENTS, seed=self.seed))
        if self.corrupt_expected:
            self.expected["valid_count"] += 1
            self.expected["quarantine_rows"] += 1

    def _config(self, label: str):
        from local_etl_spark.etl.pipeline import PipelineConfig, TableConfig

        out = os.path.join(self.work_dir, "out", label)
        shutil.rmtree(out, ignore_errors=True)
        table = TableConfig(
            name="users",
            schema_file=self.schema_path,
            data_dir=self.data_dir,
            schema_mismatch_dir=os.path.join(out, "quarantine"),
            payload_file=os.path.join(out, "users.csv"),
            metadata_file=os.path.join(out, "metadata.csv"),
        )
        return PipelineConfig(tables=(table,), base_dir=out), out

    def _check_sinks(self, out: str) -> list[str]:
        import pyarrow.parquet as pq

        got = {
            "payload_rows": _csv_rows(os.path.join(out, "users.csv")),
            "metadata_rows": _csv_rows(os.path.join(out, "metadata.csv")),
            "quarantine_rows": pq.read_table(os.path.join(out, "quarantine")).num_rows,
            "error_log_lines": _text_lines(os.path.join(out, "errors.log.d")),
        }
        self.observed.update(got)
        return [
            f"{k}: got {v}, expected {self.expected[k]}"
            for k, v in got.items()
            if v != self.expected[k]
        ]

    def _check_run(self, result) -> list[str]:
        out, metrics = result
        problems = [
            f"{k}: got {getattr(metrics, k)}, expected {self.expected[k]}"
            for k in ("file_count", "valid_count", "invalid_count")
            if getattr(metrics, k) != self.expected[k]
        ]
        return problems + self._check_sinks(out)

    def _timed_run(self, spark, ledger: Ledger, label: str, spans: Spans | None):
        """One full pipeline run into a fresh output dir (cleared before
        the clock starts); returns its seconds, or None on failure."""
        from local_etl_spark.etl.pipeline import run_table

        cfg, out = self._config(label)

        def call():
            return out, run_table(spark, cfg, cfg.tables[0], version=2)

        fn = (lambda: spans.record("etl.run", call)) if spans else call
        return ledger.run(f"etl {label} run", fn, self._check_run)[0]

    def run(self, spark, ledger: Ledger, seconds: float, spans: Spans | None,
            primary: bool = True) -> dict:
        codegen = Codegen(spark)
        c0 = codegen.snapshot()
        cold = self._timed_run(spark, ledger, "cold", None)
        c1 = codegen.snapshot()
        warm, c2 = [], None
        start = time.perf_counter()
        while len(warm) < min_warm(primary) or time.perf_counter() - start < seconds:
            # alternate two output dirs so the previous run's can be cleared
            warm.append(self._timed_run(spark, ledger, f"warm{len(warm) % 2}", spans))
            if c2 is None:
                c2 = codegen.snapshot()
        return {
            "cold_s": cold,
            "warm_s": median(warm),
            "codegen_cold": Codegen.delta(c0, c1),
            "codegen_warm": Codegen.delta(c1, c2),
        }

    def split(self, spark, ledger: Ledger, spans: Spans) -> None:
        """Traced run only: scan, classify and sinks as separate calls,
        each in its own span, over warm caches (once)."""
        from local_etl_spark.etl.pipeline import classify, read_event_docs, write_sinks
        from local_etl_spark.etl.schema_translate import load_schema

        schema = load_schema(self.schema_path)
        cfg, out = self._config("split")

        def layers():
            spans.record(
                "etl.scan",
                lambda: read_event_docs(spark, self.data_dir)
                .write.format("noop").mode("overwrite").save(),
            )
            docs = read_event_docs(spark, self.data_dir).persist()
            docs.count()
            classified = classify(docs, schema).persist()
            try:
                spans.record("etl.classify", classified.count)
                spans.record(
                    "etl.sinks",
                    lambda: write_sinks(cfg, cfg.tables[0], schema, classified, 2),
                )
            finally:
                classified.unpersist()
                docs.unpersist()

        ledger.run("etl split", layers, lambda _: self._check_sinks(out))

    def layer_metrics(self, log: EventLog, spans: Spans) -> dict[str, float]:
        def per(name, f):
            return median(f(s) for s in spans.named(name))

        return {
            "etl.scan_s": per("etl.scan", lambda s: s.wall_s),
            "etl.scan_tasks": per("etl.scan", lambda s: log.layer(s).tasks),
            "etl.classify_s": per("etl.classify", lambda s: s.wall_s),
            "etl.classify_executor_s": per("etl.classify", lambda s: log.layer(s).executor_run_s),
            "etl.sinks_s": per("etl.sinks", lambda s: s.wall_s),
            "etl.sink_jobs": per("etl.sinks", lambda s: log.layer(s).jobs),
            "etl.sink_bytes_written": per("etl.sinks", lambda s: log.layer(s).bytes_written),
            "etl.quarantine_rows": self.observed.get("quarantine_rows", 0),
            "etl.driver_s": per("etl.run", log.driver_s),
            "etl.jobs": per("etl.run", lambda s: log.layer(s).jobs),
            "etl.events_per_s": N_EVENTS / per("etl.run", lambda s: s.wall_s),
        }
