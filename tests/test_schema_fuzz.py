"""Schema-mutation live diff (fuzz round 9): header derivation.

Rounds 1-8 fuzzed the DOCUMENT space; this pins the SCHEMA space —
get_field_names / the v2 prefix-suffix insertion / the merged-dict v1
row build (reference main.py:87-113, main2.py:148-256) under mutated
``required`` lists. The exploratory sweep lives in tools_schema_fuzz.py
(all 11 scenarios live-diffed against both reference binaries); this
suite re-runs the five scenarios that found REAL engine bugs in round 9
plus the one reference-crash divergence:

  - dup_across_lists / ghost_required / event_id_in_payload: repaired
    rows must print RAW values (reference writes str(value) from the
    doc dict — a string in a number slot prints verbatim where the
    narrowed valid-row render returned ''), and v1 slots resolve
    against the MERGED payload|metadata dict (metadata wins).
  - both_name_columns: header insertion keys off the REQUIRED list but
    the value transform keys off the DOC's payload keys — a cards
    schema requiring 'name' gets prefix/suffix columns around the empty
    name slot while created_by_name still normalizes.
  - empty_metadata_required: DictWriter with fieldnames=[] writes one
    blank line per header/row; the engine's zero-column sink now
    reproduces that layout (text parts + a driver-written blank header
    part).
  - dup_name_in_payload: the reference CRASHES (jsonschema SchemaError,
    draft-07 requires unique ``required`` items) — documented crash
    divergence; the engine processes the corpus and renders the
    duplicate slot twice from the same merged value.
"""

from __future__ import annotations

import csv
import glob

import pytest

import tools_schema_fuzz as sf

from tests.reference import needs_reference

SCEN = [
    "dup_across_lists",
    "ghost_required",
    "event_id_in_payload",
    "empty_metadata_required",
    "both_name_columns",
    # property TYPE flipped (score number->string): every doc becomes
    # type-invalid and the FLOAT value must render through the
    # Python-repr message machinery under a mutated schema
    "flip_score_type",
    # BOTH required lists empty → v1 has ZERO columns and the FIRST
    # (observed) sink takes the blank-line branch; pins the ADVICE r10
    # deadlock fix — the branch must execute the passed kept_first df
    # or write_sinks hangs on sink_obs.get
    "empty_both_required",
]


@pytest.fixture(scope="module")
def schema_fuzz(spark, tmp_path_factory):
    results = {}
    scen = sf.scenarios()
    root = tmp_path_factory.mktemp("schema_fuzz")
    for name in SCEN:
        us, cs = scen[name]
        d = root / name
        d.mkdir()
        results[name] = sf.run_scenario(spark, name, us, cs, d)
    return results, root


@needs_reference
@pytest.mark.parametrize("name", SCEN)
def test_schema_mutation_live_diff_clean(schema_fuzz, name):
    results, _ = schema_fuzz
    assert results[name] == [], results[name]


@needs_reference
def test_dup_required_reference_schemaerror_divergence(spark, tmp_path):
    """Duplicate entries in a ``required`` list: jsonschema validates
    the SCHEMA against the draft-07 metaschema (uniqueItems) and both
    reference binaries die before reading any doc. The engine treats
    the list as given — documented crash divergence, with the engine's
    duplicate slot rendering pinned (both occurrences read the same
    merged value, the DictWriter-fieldnames semantics the reference
    WOULD have if jsonschema let it run)."""
    from local_etl_spark.etl.pipeline import run_pipeline
    from local_etl_spark.etl.schema_translate import (
        load_schema,
        v2_field_names,
    )

    us, cs = sf.scenarios()["dup_name_in_payload"]
    base = tmp_path / "corpus"
    sf._build(base, us, cs)
    for script in ("/root/reference/main.py", "/root/reference/main2.py"):
        p = sf._run_reference(script, base)
        assert p.returncode != 0
        assert "uniqueItems" in (p.stderr + p.stdout)

    out = tmp_path / "engine"
    cfg = sf_cfg = None
    # reuse the tool's config builder via run_scenario internals: build
    # a minimal single-call config here instead
    from local_etl_spark.etl.pipeline import PipelineConfig, TableConfig

    cfg = PipelineConfig(
        tables=(
            TableConfig(
                name="users",
                schema_file=str(base / "user-events-schema.json"),
                data_dir=str(base / "users"),
                schema_mismatch_dir=str(out / "users_q"),
                payload_file=str(out / "users.csv"),
                metadata_file=str(out / "metadata.csv"),
            ),
        ),
        base_dir=str(out),
    )
    run_pipeline(spark, cfg, version=2)
    schema = load_schema(str(base / "user-events-schema.json"))
    pf, _mf = v2_field_names(schema)
    assert pf == [
        "id", "prefix", "name", "suffix", "address", "name", "job",
        "score", "event_id",
    ]
    rows = []
    header = None
    for part in sorted(glob.glob(str(out / "users.csv" / "part-*.csv"))):
        with open(part, newline="", encoding="utf-8") as fh:
            it = list(csv.reader(fh))
        if it:
            header = it[0]
            rows.extend(it[1:])
    assert header == pf
    assert len(rows) == 4  # 4 valid; bad_type routes OTHER (dropped)
    name_i = [i for i, c in enumerate(pf) if c == "name"]
    for r in rows:
        assert r[name_i[0]] == r[name_i[1]]  # same merged value twice
