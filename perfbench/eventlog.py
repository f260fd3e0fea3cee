"""Per-layer numbers from Spark's event log.

The benchmark enables the log at JVM launch (uncompressed JSON lines)
and records, in its own code, the wall-clock window of each call into a
layer. Jobs and tasks are attributed to a layer by time window, not by
job group: the ETL sinks run from a plain thread pool and most of their
jobs carry no group. The benchmark runs one call at a time, so windows
never overlap.
"""

from __future__ import annotations

import glob
import json
import os
import time
from dataclasses import dataclass

_KEPT = ("SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerTaskEnd")


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float

    @property
    def wall_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Spans:
    """Named wall-clock windows, kept in memory until the run ends."""

    def __init__(self) -> None:
        self.items: list[Span] = []

    def record(self, name: str, fn):
        start = time.time() * 1000.0
        try:
            return fn()
        finally:
            self.items.append(Span(name, start, time.time() * 1000.0))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.items if s.name == name]


@dataclass
class LayerStats:
    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_write_bytes: int = 0
    bytes_written: int = 0
    job_union_s: float = 0.0  # wall time covered by at least one job


class EventLog:
    def __init__(self, log_dir: str) -> None:
        # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>.
        # Attribution is by timestamp, so file order does not matter.
        files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
        if not files:
            raise RuntimeError(f"no Spark event log under {log_dir}")
        self.job_start: dict[int, float] = {}
        self.job_end: dict[int, float] = {}
        self.tasks: list[tuple[float, dict]] = []
        for path in files:
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    if not any(k in line[:60] for k in _KEPT):
                        continue
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        self.job_start[ev["Job ID"]] = ev["Submission Time"]
                    elif kind == "SparkListenerJobEnd":
                        self.job_end[ev["Job ID"]] = ev["Completion Time"]
                    else:
                        self.tasks.append(
                            (ev["Task Info"]["Launch Time"], ev.get("Task Metrics") or {})
                        )

    def layer(self, span: Span) -> LayerStats:
        out = LayerStats()
        intervals = []
        for job, t0 in self.job_start.items():
            if span.start_ms <= t0 <= span.end_ms:
                out.jobs += 1
                intervals.append((t0, min(self.job_end.get(job, span.end_ms), span.end_ms)))
        out.job_union_s = _union_ms(intervals) / 1000.0
        for launched, m in self.tasks:
            if span.start_ms <= launched <= span.end_ms:
                out.tasks += 1
                out.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
                out.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                out.bytes_written += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        return out

    def driver_s(self, span: Span) -> float:
        """Wall time of the call outside every Spark job (listing,
        planning, driver-side compute, commit)."""
        return span.wall_s - self.layer(span).job_union_s


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
