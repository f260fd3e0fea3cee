"""Golden ETL ledger: byte-level regression guard for run_table.

Runs ``run_table`` (v2, plus the v1 flat layout) over a seeded dirty
corpus from ``etl.corpus.generate`` plus hand-written edge documents,
for a users and a cards envelope schema, and compares an
order-independent digest of every sink against ``golden_etl.json``:

  - payload / metadata / v1 output CSVs: header, row count and a hash
    of the sorted rows;
  - quarantine: the ``(file name, raw)`` pairs;
  - error log: each line with its timestamp stripped and the file path
    reduced to its name;
  - the ``TableMetrics`` counters.

Any changed output byte changes a digest. Regenerate the ledger only
for an intended output change::

    python tests/test_etl_golden.py --write
"""

from __future__ import annotations

import csv
import glob
import hashlib
import json
import os
import sys

import pytest

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden_etl.json")
SEED = 11
N_GENERATED = 300

CARDS_SCHEMA = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "type": "object",
    "properties": {
        "metadata": {
            "type": "object",
            "properties": {
                "type": {"type": "string"},
                "event_at": {"type": "string", "format": "date-time"},
                "event_id": {"type": "string", "format": "uuid"},
            },
            "required": ["type", "event_at", "event_id"],
        },
        "payload": {
            "type": "object",
            "properties": {
                "id": {"type": "integer"},
                "user_id": {"type": "integer"},
                "created_by_name": {"type": "string"},
                "updated_at": {"type": "string"},
                "created_at": {"type": "string"},
                "active": {"type": "boolean"},
            },
            "required": [
                "id", "user_id", "created_by_name",
                "updated_at", "created_at", "active",
            ],
        },
    },
    "required": ["metadata", "payload"],
}


def _md(kind: str, i: int) -> str:
    return (
        f'"metadata": {{"type": "{kind}", "event_at": "2023-10-23 22:55:01",'
        f' "event_id": "x{i}"}}'
    )


def _doc(kind: str, i: int, payload: str) -> str:
    return "{" + _md(kind, i) + ', "payload": ' + payload + "}"


# Raw text on purpose: bare NaN/Infinity and wide ints must reach the
# scan exactly as written.
USERS_EDGE = [
    _doc("user", 1, '{"id": 1, "name": "A B", "address": "a", "job": "j", "score": NaN}'),
    _doc("user", 2, '{"id": 2, "name": "A B", "address": "a", "job": "j", "score": Infinity}'),
    _doc("user", 3, '{"id": 3, "name": "A B", "address": "a", "job": "j", "score": -Infinity}'),
    _doc("user", 4, '{"id": NaN, "name": "A B", "address": "a", "job": "j", "score": 1}'),
    _doc("user", 5, '{"id": 5, "name": Infinity, "address": "a", "job": "j", "score": 1}'),
    _doc("user", 6, '{"id": 123456789012345678901234567, "name": "A B", "address": "a", "job": "j", "score": 1}'),
    _doc("user", 7, '{"id": 7, "name": 1e25, "address": "a", "job": "j", "score": 2.5e-05}'),
    _doc("user", 8, '{"id": 8, "name": "A B", "address": "a", "job": "j", "score": 12345678901234567890}'),
    _doc("user", 9, '{"id": 9, "name": [1, "a", true, null], "address": "a", "job": "j", "score": 1}'),
    _doc("user", 10, '{"id": 10, "name": "A B", "address": "a", "job": {"k": "v", "n": false}, "score": 1}'),
    _doc("user", 11, '{"id": 11, "address": ["x", 2], "job": "j", "score": 1}'),
    _doc("user", 12, '[1, 2]'),
    _doc("user", 13, '{"id": "\'x\' is a required property", "name": "A B", "address": "a", "job": "j", "score": 1}'),
    _doc("user", 14, '{"id": 14, "name": "A B", "address": "a", "job": "\\u01c6ob, \\u00dfpecial", "score": 1}'),
    _doc("user", 15, '{"id": 15, "name": "A B", "address": "a", "job": "\\u00df, \\u01c6z", "score": 1}'),
    _doc("user", 16, '{"id": 16, "name": "Dr. John Q Public", "address": "a\\nb", "job": "x, y", "score": 0.1}'),
    _doc("user", 17, '{"id": 17, "name": "Mrs. Ada Lovelace", "address": "a", "job": "x", "score": 3}'),
    _doc("user", 18, '{"id": 18, "name": "Ada Lovelace II", "job": "x, y", "score": 1.5}'),
    _doc("user", 19, '{"id": 2.0, "name": "A B", "address": "a", "job": "j", "score": 1}'),
    _doc("user", 20, '{"id": 1.5, "name": "A B", "address": "a", "job": "j", "score": 1}'),
    _doc("user", 21, '{"id": true, "name": "A B", "address": "a", "job": "j", "score": "1"}'),
    _doc("user", 22, '{"id": null, "name": null, "address": "a", "job": "j", "score": 1}'),
    _doc("user", 23, '{"id": 23, "name": "it\'s \\"q\\"\\t", "address": "a", "job": 5, "score": 1}'),
    _doc("user", 24, '"nope"'),
    '{"payload": {"id": 25, "name": "A B", "address": "a", "job": "j", "score": 1}}',
    '{"metadata": null, "payload": {"id": 26}}',
    '"just a string"',
    '{"metadata": {"type": 5, "event_at": "t", "event_id": "x27"}, "payload": {"id": "x"}}',
    _doc("user", 28, '{"id": 28, "name": "A  B", "address": "a", "job": "j", "score": 1e-05}'),
    _doc("user", 29, '{"id": 29, "name": "\\u0000nan\\u0000", "address": "a", "job": "j", "score": 1}'),
    _doc("user", 30, '{"id": 30, "name": "A B", "address": "a", "job": "j", "score": 1e300}'),
    '{definitely not json',
]

CARDS_EDGE = [
    _doc("card", 1, '{"id": 1, "user_id": 9, "created_by_name": "Dr. Jane Q Roe", "updated_at": "u", "created_at": "c", "active": false}'),
    _doc("card", 2, '{"id": 2, "created_by_name": "Jane Roe MD", "updated_at": "u", "created_at": "c", "active": true}'),
    _doc("card", 3, '{"id": 3, "user_id": 2.0, "created_by_name": "Jane Roe", "updated_at": "u", "created_at": "c", "active": "true"}'),
    _doc("card", 4, '{"id": 4, "user_id": true, "created_by_name": "Jane Roe", "updated_at": "u", "created_at": "c", "active": true}'),
    _doc("card", 5, '{"id": 5, "user_id": NaN, "created_by_name": "A B C D", "updated_at": "u", "created_at": "c", "active": null}'),
    _doc("card", 6, '{"id": 98765432109876543210, "user_id": 1, "created_by_name": ["x"], "updated_at": "u", "created_at": "c", "active": true}'),
    _doc("card", 7, '{"id": 7, "user_id": 1, "created_by_name": "\'x\' is a required property", "updated_at": 1e25, "created_at": "c", "active": true}'),
    _doc("card", 8, '{"id": 8, "user_id": 1, "updated_at": {"a": [1, null]}, "created_at": "c", "active": false}'),
    _doc("card", 9, '{"id": 9, "user_id": Infinity, "created_by_name": "Mr. \\u01c6 \\u00df", "updated_at": "u", "created_at": "c", "active": false}'),
    '{"metadata": {"type": "card"}, "payload": {"id": 10}}',
    '{definitely not json',
]


def _card_doc(raw: str) -> str:
    """A generated users document re-shaped as a card event: same
    corruption, same missing fields (a missing name becomes a missing
    created_by_name)."""
    try:
        doc = json.loads(raw)
    except json.JSONDecodeError:
        return raw
    p, m = doc["payload"], doc["metadata"]
    card = {"id": p["id"], "user_id": p["id"] % 97}
    if "name" in p:
        card["created_by_name"] = p["name"]
    if "address" in p:
        card["updated_at"] = m["event_at"]
    card["created_at"] = m["event_at"]
    if "job" in p:
        card["active"] = p["id"] % 2 == 0
    return json.dumps({"metadata": {**m, "type": "card"}, "payload": card})


def golden_docs(table: str) -> list[str]:
    """The ledger corpus for ``table`` (users | cards)."""
    from local_etl_spark.etl import corpus

    generated = corpus.generate(N_GENERATED, seed=SEED)
    if table == "users":
        return generated + USERS_EDGE
    return [_card_doc(r) for r in generated] + CARDS_EDGE


def golden_schema(table: str) -> dict:
    from local_etl_spark.etl import corpus

    return corpus.user_schema() if table == "users" else CARDS_SCHEMA


def _digest(rows: list) -> dict:
    keys = sorted(json.dumps(r, ensure_ascii=False) for r in rows)
    h = hashlib.sha256("\n".join(keys).encode("utf-8")).hexdigest()
    return {"rows": len(rows), "sha256": h}


def _csv_digest(path: str) -> dict:
    header, rows = None, []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, newline="", encoding="utf-8") as fh:
            recs = list(csv.reader(fh))
        if recs:
            header = recs[0]
            rows.extend(recs[1:])
    return {"header": header, **_digest(rows)}


def _quarantine_digest(path: str) -> dict:
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return _digest([])
    t = pq.read_table(path, columns=["file_path", "raw"]).to_pydict()
    return _digest(
        [[os.path.basename(f), r] for f, r in zip(t["file_path"], t["raw"])]
    )


def _error_log_digest(path: str) -> dict:
    rows = []
    for part in glob.glob(os.path.join(path, "part-*")):
        with open(part, encoding="utf-8") as fh:
            for line in fh.read().split("\n"):
                if not line:
                    continue
                _ts, level, kind, fpath, msg = line.split(", ", 4)
                rows.append([level, kind, os.path.basename(fpath), msg])
    return _digest(rows)


def ledger(spark, table: str, work_dir: str) -> dict:
    """Run the pipeline over the golden corpus and digest every sink."""
    from local_etl_spark.etl.pipeline import PipelineConfig, TableConfig, run_table

    data_dir = os.path.join(work_dir, "data")
    os.makedirs(data_dir)
    for i, raw in enumerate(golden_docs(table)):
        with open(os.path.join(data_dir, f"ev{i:05d}.json"), "w", encoding="utf-8") as fh:
            fh.write(raw)
    schema_file = os.path.join(work_dir, "schema.json")
    with open(schema_file, "w", encoding="utf-8") as fh:
        json.dump(golden_schema(table), fh)

    out: dict = {}
    for version in (2, 1):
        base = os.path.join(work_dir, f"v{version}")
        cfg = PipelineConfig(
            tables=(
                TableConfig(
                    name=table,
                    schema_file=schema_file,
                    data_dir=data_dir,
                    schema_mismatch_dir="quarantine",
                    output_file="flat.csv",
                    payload_file="payload.csv",
                    metadata_file="metadata.csv",
                ),
            ),
            base_dir=base,
        )
        m = run_table(spark, cfg, cfg.tables[0], version=version)
        out[f"v{version}"] = {
            "counts": [m.file_count, m.valid_count, m.invalid_count],
            "quarantine": _quarantine_digest(os.path.join(base, "quarantine")),
            "error_log": _error_log_digest(os.path.join(base, "errors.log.d")),
        }
        if version == 2:
            out["v2"]["payload"] = _csv_digest(os.path.join(base, "payload.csv"))
            out["v2"]["metadata"] = _csv_digest(os.path.join(base, "metadata.csv"))
        else:
            out["v1"]["output"] = _csv_digest(os.path.join(base, "flat.csv"))
    return out


@pytest.mark.parametrize("table", ["users", "cards"])
def test_golden_etl_ledger(spark, tmp_path, table):
    with open(GOLDEN, encoding="utf-8") as fh:
        expected = json.load(fh)[table]
    assert ledger(spark, table, str(tmp_path)) == expected


if __name__ == "__main__":
    import tempfile

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from local_etl_spark.session import get_spark

    spark = get_spark("golden-etl", cpus=4)
    got = {}
    for t in ("users", "cards"):
        with tempfile.TemporaryDirectory() as d:
            got[t] = ledger(spark, t, d)
    spark.stop()
    text = json.dumps(got, indent=2, sort_keys=True) + "\n"
    if "--write" in sys.argv:
        with open(GOLDEN, "w", encoding="utf-8") as fh:
            fh.write(text)
    else:
        sys.stdout.write(text)
