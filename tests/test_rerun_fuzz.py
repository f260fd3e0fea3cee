"""Re-run / append-axis live diff (fuzz round 11).

Rounds 1-10 diffed SINGLE invocations; this suite pins what happens
when the pipelines run TWICE into the same outputs (the operational
reality every append-mode sink implies):

  - rerun_accumulation: v1's unconditional writeheader() plants a
    duplicate header MID-FILE per re-run (a reference bug — the engine
    diverges, documented: data-row multisets must match once the
    embedded headers, exactly runs-1 of them, are stripped); v2 is
    tell()==0 header-once and must match row-for-row; errors.log
    accumulates per-run multisets; the reference quarantine is
    overwrite-idempotent while the engine's table appends one row per
    run (sets + bytes equal, multiplicity documented).
  - rerun_growth: both the reference and the batch engine reprocess
    the whole grown corpus; run_table_incremental is the engine's fix
    and must process ONLY the delta (2 new files: 1 valid, 1 bad).
  - rerun_quarantine_mutation: THE round-11 find — a file invalid in
    both runs whose bytes CHANGED between them. shutil.copy keeps the
    run-2 version; the engine's append-only table previously had no
    recency key, so materialize_quarantine wrote a random run's bytes.
    The batch_seq column restores deterministic latest-wins parity
    while the table keeps both versions as the audit trail.

The exploratory sweep (plus the blank-layout re-run scenario) lives in
tools_rerun_fuzz.py.
"""

from __future__ import annotations

import pytest

import tools_rerun_fuzz as rf

from tests.reference import needs_reference

SCEN = [
    "rerun_accumulation",
    "rerun_growth",
    "rerun_quarantine_mutation",
]


@pytest.fixture(scope="module")
def rerun_fuzz(spark, tmp_path_factory):
    results = {}
    root = tmp_path_factory.mktemp("rerun_fuzz")
    for name in SCEN:
        d = root / name
        d.mkdir()
        results[name] = rf.SCENARIOS[name](spark, d)
    return results


@needs_reference
@pytest.mark.parametrize("name", SCEN)
def test_rerun_live_diff_clean(rerun_fuzz, name):
    assert rerun_fuzz[name] == [], rerun_fuzz[name]
