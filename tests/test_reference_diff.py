"""THE parity test: run the actual reference (main.py AND main2.py from
/root/reference) as subprocesses on a reference-survivable corpus, run
the engine on the same files, and diff every output table row-for-row.

Golden-fixture tests (test_etl_pipeline.py) encode the reference's
semantics as expectations; this module removes the encoding step — the
reference itself produces the expected output. The corpus is generated
with corrupt_rate=0, repair_rate=0 so none of the reference's crash
paths fire (SURVEY.md §2.2 R12/R13 notes; engine behavior on those
inputs is defined+documented divergence, tested elsewhere).
"""

from __future__ import annotations

import csv
import glob
import json
import os
import random
import shutil
import subprocess
import sys

import pytest

from tests.reference import REFERENCE_DIR, SCHEMA_DIR, SCHEMA_FILES, needs_reference

N_USERS = 200
N_CARDS = 120


def _card_event(rng: random.Random, i: int) -> dict:
    from local_etl_spark.etl.corpus import FIRST, LAST, SUFFIX, TITLES

    name = f"{rng.choice(FIRST)} {rng.choice(LAST)}"
    if rng.random() < 0.25:
        name = f"{rng.choice(TITLES)} {name}"
    if rng.random() < 0.25:
        name = f"{name} {rng.choice(SUFFIX)}"
    return {
        "payload": {
            "id": i,
            "user_id": rng.randint(0, N_USERS - 1),
            "created_by_name": name,
            "updated_at": f"2023-11-{rng.randint(1, 28):02d} 10:00:00",
            "created_at": f"2023-10-{rng.randint(1, 28):02d} 09:00:00",
            "active": bool(rng.random() < 0.5),
        },
        "metadata": {
            "type": "card",
            "event_at": f"2023-10-{rng.randint(1, 28):02d} 22:55:01",
            "event_id": f"c{i}",
        },
    }


def _build_corpus(dest) -> None:
    from local_etl_spark.etl.corpus import generate

    (dest / "users").mkdir(parents=True)
    (dest / "cards").mkdir()
    for s in ("user-events-schema.json", "card-events-schema.json"):
        shutil.copy(f"/root/reference/{s}", dest / s)
    for i, raw in enumerate(
        generate(N_USERS, seed=5, corrupt_rate=0, repair_rate=0)
    ):
        (dest / "users" / f"ev{i:05d}.json").write_text(
            json.dumps(json.loads(raw), indent=2)
        )
    rng = random.Random(99)
    for i in range(N_CARDS):
        (dest / "cards" / f"cd{i:05d}.json").write_text(
            json.dumps(_card_event(rng, i), indent=2)
        )


def _run_reference(script: str, cwd) -> None:
    proc = subprocess.run(
        [sys.executable, script],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]


def _engine_cfg(base, out):
    from local_etl_spark.etl.pipeline import PipelineConfig, TableConfig

    return PipelineConfig(
        tables=(
            TableConfig(
                name="users",
                schema_file=str(base / "user-events-schema.json"),
                data_dir=str(base / "users"),
                schema_mismatch_dir=str(out / "users_q"),
                output_file=str(out / "users_flat.csv"),
                payload_file=str(out / "users.csv"),
                metadata_file=str(out / "metadata.csv"),
            ),
            TableConfig(
                name="cards",
                schema_file=str(base / "card-events-schema.json"),
                data_dir=str(base / "cards"),
                schema_mismatch_dir=str(out / "cards_q"),
                output_file=str(out / "cards_flat.csv"),
                payload_file=str(out / "cards.csv"),
                metadata_file=str(out / "metadata.csv"),
            ),
        ),
        base_dir=str(out),
    )


@pytest.fixture(scope="module")
def diff_run(spark, tmp_path_factory):
    from local_etl_spark.etl.pipeline import run_pipeline

    base = tmp_path_factory.mktemp("refdiff")
    ref1, ref2 = base / "ref1", base / "ref2"
    _build_corpus(ref1)
    shutil.copytree(ref1, ref2)
    _run_reference("/root/reference/main.py", ref1)  # v1: flat CSVs
    _run_reference("/root/reference/main2.py", ref2)  # v2: payload+metadata

    out = base / "engine"
    cfg = _engine_cfg(ref1, out)
    run_pipeline(spark, cfg, version=2)
    run_pipeline(spark, cfg, version=1)
    return ref1, ref2, out


def _ref_rows(path: str) -> list[dict]:
    with open(path, newline="", encoding="utf-8") as fh:
        return list(csv.DictReader(fh))


def _engine_rows(path_dir: str) -> list[dict]:
    rows = []
    for part in sorted(glob.glob(os.path.join(path_dir, "part-*.csv"))):
        with open(part, newline="", encoding="utf-8") as fh:
            rows.extend(csv.DictReader(fh))
    return rows


def _diff(ref: list[dict], eng: list[dict], key: str):
    r = {row[key]: dict(row) for row in ref}
    e = {row[key]: dict(row) for row in eng}
    assert set(r) == set(e), (set(r) ^ set(e))
    mismatches = [(k, r[k], e[k]) for k in r if r[k] != e[k]]
    assert not mismatches, mismatches[:3]


@needs_reference
def test_v2_users_payload_identical(diff_run):
    _, ref2, out = diff_run
    ref = _ref_rows(str(ref2 / "users.csv"))
    assert len(ref) == N_USERS
    _diff(ref, _engine_rows(str(out / "users.csv")), "event_id")


@needs_reference
def test_v2_cards_payload_identical(diff_run):
    _, ref2, out = diff_run
    ref = _ref_rows(str(ref2 / "cards.csv"))
    assert len(ref) == N_CARDS
    _diff(ref, _engine_rows(str(out / "cards.csv")), "event_id")


@needs_reference
def test_v2_metadata_identical(diff_run):
    # ONE shared metadata.csv for both tables (reference main2.py:20,28)
    _, ref2, out = diff_run
    ref = _ref_rows(str(ref2 / "metadata.csv"))
    assert len(ref) == N_USERS + N_CARDS
    _diff(ref, _engine_rows(str(out / "metadata.csv")), "event_id")


@needs_reference
def test_v1_users_flat_identical(diff_run):
    ref1, _, out = diff_run
    ref = _ref_rows(str(ref1 / "users.csv"))
    assert len(ref) == N_USERS
    _diff(ref, _engine_rows(str(out / "users_flat.csv")), "event_id")


@needs_reference
def test_v1_cards_flat_identical(diff_run):
    ref1, _, out = diff_run
    ref = _ref_rows(str(ref1 / "cards.csv"))
    assert len(ref) == N_CARDS
    _diff(ref, _engine_rows(str(out / "cards_flat.csv")), "event_id")


@needs_reference
def test_no_quarantine_on_survivable_corpus(diff_run):
    ref1, ref2, _ = diff_run
    for base in (ref1, ref2):
        for d in ("users_schema_mismatches", "cards_schema_mismatches"):
            p = base / d
            if p.exists():
                assert not list(p.glob("*"))


@needs_reference
def test_committed_schemas_match_reference():
    """The engine-only ETL tests read tests/schemas/ in place of the
    checkout's two schema files; they must load equal to the checkout's,
    every ``required`` list in the same order (list equality is ordered)."""
    for name in SCHEMA_FILES:
        with open(os.path.join(SCHEMA_DIR, name), "rb") as fh:
            committed = json.load(fh)
        with open(os.path.join(REFERENCE_DIR, name), "rb") as fh:
            assert committed == json.load(fh), name
