"""Filename/directory-shape live diff (fuzz round 12): the PATH layer
between the reference's next(os.walk) + endswith('.json')
(main.py:150-167) and the engine's Hadoop-listing scan. Exploratory
sweep in tools_path_fuzz.py (5 scenarios, live-diffed against both
reference binaries); this suite re-runs the ones that pin behavior
worth guarding:

  - colon_name: the round-12 REAL FIND — one ':'-named file poisons
    the ENTIRE Hadoop dir scan (the local checksum layer builds
    Path('.<name>.crc') and java.net.URI parses the pre-colon text as
    a scheme → URISyntaxException mid-task, whole job dead), while the
    reference processes it like any file. read_event_docs now detects
    colon names driver-side, swaps the main scan to an explicit
    GLOB-ESCAPED path list without them, and reads them through the
    hidden-file sidechannel (pipeline._json_files/_glob_escape).
  - glob_meta: filenames containing glob metacharacters
    ('ev[1].json', 'ev*.json', 'ev?.json', braces, a space) are
    LISTED, not glob-expanded, by both sides — full live diff clean,
    including errors.log/quarantine path attribution for an invalid
    doc in a metachar name.
  - uri_hazard: %, #, +, &, = in filenames round-trip Hadoop's
    URI-based Path without corrupting file_path attribution.
  - dir_named_json: a DIRECTORY named 'decoy.json' inside the data
    dir — os.walk's file_names skips it; the engine's listing must
    neither read it as a file nor recurse into it.
  - colon_dir: colon-named child DIRECTORIES (ADVICE r12) — unlike a
    colon FILE read as data, Hadoop's listing tolerates them
    (measured); both sides skip dirs, full live diff clean, so no
    repair branch is needed for colon dirs.
  - missing_data_dir: BOTH sides crash (parity of outcome, different
    shapes): reference StopIteration off next(os.walk), engine
    AnalysisException PATH_NOT_FOUND — documented divergence pinned
    here so a silent success on either side fails loudly.
"""

from __future__ import annotations

import json

import pytest

import tools_path_fuzz as pf
import tools_schema_fuzz as sfz
import tools_table_fuzz as tf

from tests.reference import needs_reference

SCEN = ["colon_name", "glob_meta", "uri_hazard", "dir_named_json",
        "colon_dir"]


@pytest.fixture(scope="module")
def path_fuzz(spark, tmp_path_factory):
    tf._SPARK[0] = spark
    results = {}
    root = tmp_path_factory.mktemp("path_fuzz")
    for name in SCEN:
        d = root / name
        d.mkdir()
        results[name] = pf.SCENARIOS[name](d)
    return results


@needs_reference
@pytest.mark.parametrize("name", SCEN)
def test_path_layer_live_diff_clean(path_fuzz, name):
    assert path_fuzz[name] == [], path_fuzz[name]


def test_colon_named_file_is_scanned(spark, tmp_path):
    """Unit-level pin of the repair itself: a ':'-named valid doc and
    a ':'-named INVALID doc both flow — the valid one lands in the
    CSV rows, the invalid one in quarantine with its full path."""
    from local_etl_spark.etl.pipeline import read_event_docs

    d = tmp_path / "data"
    d.mkdir()
    (d / "plain.json").write_text(json.dumps(sfz._user_doc(0)))
    (d / "ev:1.json").write_text(json.dumps(sfz._user_doc(1)))
    rows = read_event_docs(spark, str(d)).collect()
    names = {r["file_path"].rsplit("/", 1)[-1] for r in rows}
    assert names == {"plain.json", "ev:1.json"}
    # every doc parsed (the sidechannel read is byte-identical)
    assert all(r["v"] is not None for r in rows)


def test_glob_metachar_names_not_expanded(spark, tmp_path):
    """'ev*.json' must be read as ONE literal file, never treated as a
    pattern — and the escaped-path branch (active when a colon name
    coexists) must behave identically."""
    from local_etl_spark.etl.pipeline import read_event_docs

    for with_colon in (False, True):
        d = tmp_path / f"data_{with_colon}"
        d.mkdir()
        expect = {"ev*.json", "ev?.json", "ev[1].json", "ev{a,b}.json",
                  "ev 5.json", "evX.json"}
        for i, n in enumerate(sorted(expect)):
            (d / n).write_text(json.dumps(sfz._user_doc(i)))
        if with_colon:
            (d / "ev:9.json").write_text(json.dumps(sfz._user_doc(9)))
            expect = expect | {"ev:9.json"}
        rows = read_event_docs(spark, str(d)).collect()
        names = sorted(r["file_path"].rsplit("/", 1)[-1] for r in rows)
        assert names == sorted(expect), (with_colon, names)


def test_colon_named_dirs_tolerated(spark, tmp_path):
    """Unit pin for ADVICE r12: colon-named child DIRS (with and
    without a '.json' suffix) leave the plain dir scan intact — no
    crash, no rows from inside them, and _json_files correctly
    lists NO colon entries (the explicit-path repair branch must NOT
    trigger for dirs: it would skip every other file if the dir were
    the only colon entry and the listing branch misfired)."""
    import os

    from local_etl_spark.etl.pipeline import _json_files, read_event_docs

    d = tmp_path / "data"
    d.mkdir()
    (d / "plain.json").write_text(json.dumps(sfz._user_doc(0)))
    for dn in ("we:ird", "also:bad.json"):
        os.makedirs(d / dn)
        (d / dn / "inner.json").write_text(json.dumps(sfz._user_doc(7)))
    assert _json_files(str(d)) == [str(d / "plain.json")]
    rows = read_event_docs(spark, str(d)).collect()
    assert [r["file_path"].rsplit("/", 1)[-1] for r in rows] == ["plain.json"]


def test_missing_data_dir_raises(spark, tmp_path):
    """Documented divergence shape: the engine raises
    AnalysisException PATH_NOT_FOUND where the reference dies on
    StopIteration — both crash, neither silently succeeds."""
    from pyspark.errors import AnalysisException

    from local_etl_spark.etl.pipeline import read_event_docs

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_event_docs(spark, str(tmp_path / "nope")).collect()
