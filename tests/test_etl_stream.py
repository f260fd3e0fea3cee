"""Incremental ETL ingest (streaming/etl_stream.py) ≡ batch pipeline.

Lands the FIXTURES corpus in two waves into a watched directory; after
the stream drains, output/quarantine/error sinks must contain exactly
what one batch run over the full corpus produces. The corpus carries
the documents whose routing depends on the decode (bare non-finite
numbers, byte-invalid UTF-8), so a stream that decodes documents its
own way shows up as a sink difference.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from local_etl_spark.etl.config import reference_config
from local_etl_spark.etl.pipeline import run_pipeline
from local_etl_spark.streaming.etl_stream import run_table_stream

from tests.reference import SCHEMA_DIR
from tests.test_etl_pipeline import USERS, read_csv_rows


def _doc(i: int, name: bytes, score: bytes) -> bytes:
    return (
        b'{"metadata": {"type": "user", "event_at": "t", "event_id": "s%d"},'
        b' "payload": {"id": %d, "name": "%s", "address": "a", "job": "x",'
        b' "score": %s}}' % (i, i, name, score)
    )


# json.load accepts the bare NaN / Infinity tokens (valid rows); the
# byte-invalid UTF-8 name is the engine's corrupt class (quarantined)
DECODE_DOCS = {
    "bare_nan.json": _doc(100, b"A B", b"NaN"),
    "bare_inf.json": _doc(101, b"A B", b"Infinity"),
    "bad_utf8.json": _doc(102, b"A \xff B", b"1"),
}


def _write_files(dirname, items):
    for fn, doc in items:
        with open(os.path.join(dirname, fn), "wb") as fh:
            if isinstance(doc, dict):
                doc = json.dumps(doc, indent=2)
            fh.write(doc if isinstance(doc, bytes) else doc.encode("utf-8"))


def test_stream_matches_batch(spark, tmp_path):
    stream_base = str(tmp_path / "stream")
    batch_base = str(tmp_path / "batch")
    for base in (stream_base, batch_base):
        os.makedirs(os.path.join(base, "users"))
        os.makedirs(os.path.join(base, "cards"))  # reference_config needs it
        for s in ("user-events-schema.json", "card-events-schema.json"):
            shutil.copy(os.path.join(SCHEMA_DIR, s), os.path.join(base, s))

    items = sorted({**USERS, **DECODE_DOCS}.items())
    half = len(items) // 2

    # batch: whole corpus at once
    _write_files(os.path.join(batch_base, "users"), items)
    batch_cfg = reference_config(batch_base)
    run_pipeline(spark, batch_cfg, version=2)

    # stream: two waves with a drain in between
    stream_cfg = reference_config(stream_base)
    users_table = next(t for t in stream_cfg.tables if t.name == "users")
    _write_files(os.path.join(stream_base, "users"), items[:half])
    q = run_table_stream(
        spark,
        stream_cfg,
        users_table,
        checkpoint_dir=str(tmp_path / "ckpt"),
        version=2,
        max_files_per_trigger=3,
    )
    try:
        q.processAllAvailable()
        _write_files(os.path.join(stream_base, "users"), items[half:])
        q.processAllAvailable()
    finally:
        q.stop()

    def rows(base, rel):
        return sorted(
            (tuple(sorted(r.items())) for r in read_csv_rows(os.path.join(base, rel))),
        )

    batch_ids = {r["id"] for r in read_csv_rows(os.path.join(batch_base, "users.csv"))}
    assert {"100", "101"} <= batch_ids and "102" not in batch_ids
    assert rows(stream_base, "users.csv") == rows(batch_base, "users.csv")
    assert rows(batch_base, "metadata.csv")
    assert rows(stream_base, "metadata.csv") == rows(batch_base, "metadata.csv")

    sq = spark.read.parquet(os.path.join(stream_base, "users_schema_mismatches"))
    bq = spark.read.parquet(os.path.join(batch_base, "users_schema_mismatches"))
    key = lambda r: (os.path.basename(r["file_path"]), r["raw"])  # noqa: E731
    assert sorted(map(key, sq.collect())) == sorted(map(key, bq.collect()))

    log_lines = []
    for f in glob.glob(os.path.join(stream_base, "errors.log.d", "part-*")):
        log_lines.extend(open(f, encoding="utf-8").read().splitlines())
    assert any("is a required property" in l for l in log_lines)
