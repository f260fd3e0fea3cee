"""Pieces shared by the workloads: the operation ledger (attempted /
failed), timing helpers and the codegen counters."""

from __future__ import annotations

import statistics
import sys
import time
import traceback


MIN_WARM = 2  # warm executions per run, at least, even past --seconds


def min_warm(primary: bool) -> int:
    """The selected workload is measured for --seconds; the other one,
    run only by the traced run for its layer metrics, once."""
    return MIN_WARM if primary else 1


class Ledger:
    """Counts operations. One operation is one pipeline run or one query
    execution; an exception or a failed output check is a failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def run(self, label: str, fn, check=None):
        """Time ``fn()``; then, outside the timed region, ``check(result)``
        returns a list of mismatches. Returns (seconds, result), or
        (None, None) when ``fn`` raised. An operation whose check fails
        keeps its time but counts as failed, so the run reports
        ``correct: false`` with its measurements."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception:  # one failed operation must not end the run
            self.failed += 1
            print(f"[perfbench] {label} raised:\n{traceback.format_exc()}", file=sys.stderr)
            return None, None
        seconds = time.perf_counter() - t0
        if check is not None:
            try:
                problems = check(result)
            except Exception:
                problems = [traceback.format_exc()]
            if problems:
                self.failed += 1
                print(f"[perfbench] {label} output check failed: {problems}", file=sys.stderr)
        return seconds, result


def median(values) -> float:
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else float("nan")


class Codegen:
    """Spark's whole-process codegen counters: total janino compile time
    and the number of generated classes, plus generated source size."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._gen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics

    def snapshot(self) -> dict[str, float]:
        src = self._metrics.METRIC_SOURCE_CODE_SIZE()
        values = list(src.getSnapshot().getValues())
        count = src.getCount()
        # the histogram keeps a bounded sample; scale its sum to the count
        source_bytes = sum(values) * (count / len(values)) if values else 0.0
        return {
            "compile_ms": self._gen.compileTime() / 1e6,
            "classes": self._metrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE().getCount(),
            "source_kb": source_bytes / 1024.0,
        }

    @staticmethod
    def delta(before: dict, after: dict) -> dict[str, float]:
        return {k: after[k] - before[k] for k in before}
