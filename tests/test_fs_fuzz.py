"""Filesystem-STATE live diff (fuzz round 13): symlinks/hardlinks/link
pathologies between the reference's next(os.walk) + open() and the
engine's Hadoop-listing scan. Exploratory sweep in tools_fs_fuzz.py
(5 scenarios); this suite re-runs the ones that pin behavior worth
guarding:

  - symlink_cycle: the round-13 REAL FIND — a symlinked directory
    cycling back at an ancestor spins Spark's leaf-file listing
    FOREVER (measured unbounded hang in reader.load) while the
    reference's non-recursive os.walk is unaffected. read_event_docs
    now detects symlinked dirs driver-side (_symlinked_dirs,
    cycle-safe walk) and routes through the explicit glob-escaped
    top-level path list, which never descends into directories.
  - symlink_dangling: parity is impossible by construction — os.walk
    LISTS the dangling entry and the reference's open() crashes with
    FileNotFoundError, while every Spark file source silently drops
    an unstatable entry; the scenario asserts exactly that split
    (both references crash with that shape, the engine completes).

Also unit-pinned: valid file symlinks are followed identically by
both sides; _symlinked_dirs reports link dirs at any depth without
entering them. NOT testable here: chmod-000 unreadability — the
suite runs as root and Linux DAC is bypassed (open() succeeds for
uid 0), documented in tools_fs_fuzz.py.
"""

from __future__ import annotations

import json
import os

import pytest

import tools_fs_fuzz as ff
import tools_schema_fuzz as sfz
import tools_table_fuzz as tf

from tests.reference import needs_reference

SCEN = ["symlink_cycle", "symlink_dangling"]


@pytest.fixture(scope="module")
def fs_fuzz(spark, tmp_path_factory):
    tf._SPARK[0] = spark
    results = {}
    root = tmp_path_factory.mktemp("fs_fuzz")
    for name in SCEN:
        d = root / name
        d.mkdir()
        results[name] = ff.SCENARIOS[name](d)
    return results


@needs_reference
@pytest.mark.parametrize("name", SCEN)
def test_fs_layer_live_diff_clean(fs_fuzz, name):
    assert fs_fuzz[name] == [], fs_fuzz[name]


def test_symlinked_dirs_detection(tmp_path):
    """Cycle-safe detection at any depth: link dirs are reported, not
    entered; plain dirs and file symlinks are not reported."""
    from local_etl_spark.etl.pipeline import _symlinked_dirs

    d = tmp_path / "data"
    (d / "sub" / "deep").mkdir(parents=True)
    (d / "plain.json").write_text("{}")
    os.symlink(d / "plain.json", d / "filelink.json")
    assert _symlinked_dirs(str(d)) == []
    os.symlink("..", d / "sub" / "deep" / "up")
    got = _symlinked_dirs(str(d))
    assert got == [str(d / "sub" / "deep" / "up")]


def test_symlink_cycle_scan_terminates(spark, tmp_path):
    """Unit pin of the repair: a self-cycle and an ancestor-cycle in
    the data dir leave the scan terminating and reading exactly the
    real top-level files."""
    from local_etl_spark.etl.pipeline import read_event_docs

    d = tmp_path / "data"
    d.mkdir()
    (d / "ok.json").write_text(json.dumps(sfz._user_doc(0)))
    os.symlink(".", d / "self_loop")
    (d / "sub").mkdir()
    os.symlink("..", d / "sub" / "up")
    rows = read_event_docs(spark, str(d)).collect()
    assert [r["file_path"].rsplit("/", 1)[-1] for r in rows] == ["ok.json"]


def test_symlink_file_followed_dangling_skipped(spark, tmp_path):
    """A valid file symlink reads byte-identically through the scan;
    a dangling one is silently dropped (the Hadoop unstatable-entry
    convention — the reference instead crashes, covered by the
    scenario test)."""
    from local_etl_spark.etl.pipeline import read_event_docs

    d = tmp_path / "data"
    d.mkdir()
    target = tmp_path / "target.json"
    target.write_text(json.dumps(sfz._user_doc(1)))
    (d / "plain.json").write_text(json.dumps(sfz._user_doc(0)))
    os.symlink(target, d / "link.json")
    os.symlink(d / "gone.json", d / "dang.json")
    rows = read_event_docs(spark, str(d)).collect()
    names = sorted(r["file_path"].rsplit("/", 1)[-1] for r in rows)
    assert names == ["link.json", "plain.json"]
    assert all(r["v"] is not None for r in rows)
