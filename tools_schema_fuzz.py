"""Schema-file mutation fuzz (round 9): live-diff HEADER DERIVATION.

Rounds 1-8 fuzzed the DOCUMENT space against fixed schemas; the least
fuzzed surface left is the schema -> CSV-header derivation itself
(reference main.py:87-97 get_field_names, main2.py:148-184 with the
prefix/suffix insertion around the name-ish column). This tool mutates
the SCHEMA files — duplicate keys across/within required lists, empty
required arrays, required entries absent from properties, name-column
presence/position changes, event_id collisions with the v2 FK append —
and runs BOTH reference binaries and the engine (v1 + v2) over the same
corpus, diffing:

  1. raw CSV header lines (csv.reader lists — DictReader would mask
     duplicate-column divergence);
  2. row value lists for every surviving row;
  3. errors.log (file, message) sets;
  4. quarantine file sets.

Usage: python tools_schema_fuzz.py [scenario ...]   (default: all)

Stable findings get pinned in tests/test_schema_fuzz.py.
"""

from __future__ import annotations

import csv
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

N_VALID = 4


def _user_doc(i: int) -> dict:
    return {
        "payload": {
            "id": i,
            "name": ["Grace Hopper", "Dr. Alan Turing", "Ada Lovelace PhD",
                     "Mrs. Jean Bartik III"][i % 4],
            "address": f"{i} Fleet St\nLondon",
            "job": "Engineer, systems",
            "score": 12.5 + i,
        },
        "metadata": {
            "type": "user",
            "event_at": "2023-10-05 22:55:01",
            "event_id": f"u{i}",
        },
    }


def _card_doc(i: int) -> dict:
    return {
        "payload": {
            "id": i,
            "user_id": i + 3,
            "created_by_name": ["Grace Hopper", "Dr. Alan Turing",
                                "Ada Lovelace PhD", "Mr. Tom Thumb Jr."][i % 4],
            "updated_at": "2023-11-05 10:00:00",
            "created_at": "2023-10-05 09:00:00",
            "active": True,
        },
        "metadata": {
            "type": "card",
            "event_at": "2023-10-05 22:55:01",
            "event_id": f"c{i}",
        },
    }


def _mut(schema: dict, obj: str, required: list[str]) -> dict:
    out = json.loads(json.dumps(schema))
    out["properties"][obj]["required"] = required
    return out


def scenarios() -> dict[str, tuple[dict, dict]]:
    """name -> (mutated user schema, mutated card schema)."""
    u = json.load(open("/root/reference/user-events-schema.json"))
    c = json.load(open("/root/reference/card-events-schema.json"))
    up = u["properties"]["payload"]["required"]  # id name address job score
    cp = c["properties"]["payload"]["required"]
    s: dict[str, tuple[dict, dict]] = {}
    s["baseline"] = (u, c)
    # required order is the header order — reverse it
    s["reversed_required"] = (
        _mut(u, "payload", list(reversed(up))),
        _mut(c, "payload", list(reversed(cp))),
    )
    # name FIRST: prefix inserts at index 0, suffix at 2
    s["name_first"] = (
        _mut(u, "payload", ["name"] + [f for f in up if f != "name"]),
        c,
    )
    # name LAST: insertion points at the tail, before the event_id append?
    s["name_last"] = (
        _mut(u, "payload", [f for f in up if f != "name"] + ["name"]),
        c,
    )
    # duplicate WITHIN one list: .index() binds to the FIRST occurrence
    s["dup_name_in_payload"] = (
        _mut(u, "payload", ["id", "name", "address", "name", "job", "score"]),
        c,
    )
    # duplicate ACROSS lists (v1 concatenates both): 'type' exists in
    # metadata properties only — docs lack payload.type, so docs go
    # missing-required (repaired with restval '')
    s["dup_across_lists"] = (
        _mut(u, "payload", up + ["type"]),
        c,
    )
    # required entry absent from properties AND docs
    s["ghost_required"] = (_mut(u, "payload", up + ["ghost"]), c)
    # event_id already required in payload: v2 appends a SECOND one
    s["event_id_in_payload"] = (_mut(u, "payload", up + ["event_id"]), c)
    # empty required lists
    s["empty_payload_required"] = (_mut(u, "payload", []), c)
    s["empty_metadata_required"] = (_mut(u, "metadata", []), c)
    # BOTH required lists emptied: the v1 header (payload+metadata
    # concat) has ZERO columns, so the FIRST sink — which rides the
    # observed plan — takes _write_csv's blank-line branch. That branch
    # must still execute the passed df (kept_first) or sink_obs.get
    # blocks forever (ADVICE r10 deadlock pin).
    s["empty_both_required"] = (
        _mut(_mut(u, "payload", []), "metadata", []),
        c,
    )
    # cards schema listing BOTH name and created_by_name: the elif
    # order makes 'name' win the insertion even though cards lack it
    s["both_name_columns"] = (
        u,
        _mut(c, "payload", ["name"] + cp),
    )
    # TOP-LEVEL required emptied: a doc missing the whole payload
    # object validates clean -> reference get_row_data KeyErrors
    # (crash class); with intact docs both engines must agree
    top = json.loads(json.dumps(u))
    top["required"] = []
    s["empty_top_required"] = (top, c)
    # property TYPE flipped (score: number -> string): every doc is
    # now type-invalid and the float value renders through the
    # Python-repr message machinery ("12.5 is not of type 'string'")
    flip = json.loads(json.dumps(u))
    flip["properties"]["payload"]["properties"]["score"]["type"] = "string"
    s["flip_score_type"] = (flip, c)
    # property type flipped the other way (name: string -> number):
    # strings render with repr quotes in the messages
    flip2 = json.loads(json.dumps(u))
    flip2["properties"]["payload"]["properties"]["name"]["type"] = "number"
    s["flip_name_type"] = (flip2, c)
    return s


def _build(base: Path, us: dict, cs: dict) -> None:
    (base / "users").mkdir(parents=True)
    (base / "cards").mkdir()
    (base / "user-events-schema.json").write_text(json.dumps(us, indent=2))
    (base / "card-events-schema.json").write_text(json.dumps(cs, indent=2))
    for i in range(N_VALID):
        (base / "users" / f"ev{i:05d}.json").write_text(
            json.dumps(_user_doc(i), indent=2)
        )
        (base / "cards" / f"cd{i:05d}.json").write_text(
            json.dumps(_card_doc(i), indent=2)
        )
    # one wrong-type doc per table so the error path stays exercised
    bad_u = _user_doc(90)
    bad_u["payload"]["score"] = "high"
    (base / "users" / "bad_type.json").write_text(json.dumps(bad_u, indent=2))
    bad_c = _card_doc(90)
    bad_c["payload"]["active"] = "yes"
    (base / "cards" / "bad_type.json").write_text(json.dumps(bad_c, indent=2))


def _run_reference(script: str, cwd: Path) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, script],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def _csv_lists(path) -> list[list[str]]:
    if not os.path.exists(path):
        return []
    with open(path, newline="", encoding="utf-8") as fh:
        return [row for row in csv.reader(fh)]


def _engine_csv_lists(part_dir) -> tuple[list[str] | None, list[list[str]]]:
    """(header, data rows) across part files; headers must agree."""
    header = None
    rows: list[list[str]] = []
    for part in sorted(glob.glob(os.path.join(str(part_dir), "part-*.csv"))):
        with open(part, newline="", encoding="utf-8") as fh:
            it = list(csv.reader(fh))
        if not it:
            continue
        if header is None:
            header = it[0]
        elif it[0] != header:
            raise AssertionError(f"part headers disagree: {it[0]} vs {header}")
        rows.extend(it[1:])
    if header is None:
        # the ZERO-COLUMN blank-line layout (both required lists empty):
        # a driver-written 'part-00000' blank header + text parts with
        # one empty line per row — translate to csv.reader's view of the
        # reference's DictWriter(fieldnames=[]) output ([] per line)
        hdr = os.path.join(str(part_dir), "part-00000")
        if os.path.exists(hdr):
            header = []
            for part in sorted(
                glob.glob(os.path.join(str(part_dir), "part-*.txt"))
            ):
                for ln in open(part, encoding="utf-8").read().splitlines():
                    if not ln:
                        rows.append([])
    return header, rows


def _errors(path_or_dir) -> set[tuple[str, str]]:
    out: set[tuple[str, str]] = set()
    paths = (
        [path_or_dir]
        if os.path.isfile(str(path_or_dir))
        else glob.glob(os.path.join(str(path_or_dir), "part-*"))
    )
    for p in paths:
        for line in open(p, encoding="utf-8").read().splitlines():
            if not line.strip():
                continue
            parts = line.split(", ", 4)
            out.add((os.path.basename(parts[3]), parts[4]))
    return out


def run_scenario(spark, name: str, us: dict, cs: dict, root: Path) -> list[str]:
    from local_etl_spark.etl.pipeline import (
        PipelineConfig,
        TableConfig,
        run_pipeline,
    )

    diffs: list[str] = []
    ref1, ref2 = root / "ref1", root / "ref2"
    _build(ref1, us, cs)
    shutil.copytree(ref1, ref2)
    p1 = _run_reference("/root/reference/main.py", ref1)
    p2 = _run_reference("/root/reference/main2.py", ref2)

    out = root / "engine"
    cfg = PipelineConfig(
        tables=(
            TableConfig(
                name="users",
                schema_file=str(ref1 / "user-events-schema.json"),
                data_dir=str(ref1 / "users"),
                schema_mismatch_dir=str(out / "users_q"),
                output_file=str(out / "users_flat.csv"),
                payload_file=str(out / "users.csv"),
                metadata_file=str(out / "metadata.csv"),
            ),
            TableConfig(
                name="cards",
                schema_file=str(ref1 / "card-events-schema.json"),
                data_dir=str(ref1 / "cards"),
                schema_mismatch_dir=str(out / "cards_q"),
                output_file=str(out / "cards_flat.csv"),
                payload_file=str(out / "cards.csv"),
                metadata_file=str(out / "metadata.csv"),
            ),
        ),
        base_dir=str(out),
    )
    eng_err: dict[int, str | None] = {1: None, 2: None}
    for version in (1, 2):
        try:
            run_pipeline(spark, cfg, version=version)
        except Exception as ex:  # noqa: BLE001 — fuzz harness records crashes
            eng_err[version] = f"{type(ex).__name__}: {ex}"

    # reference crash classes are themselves behavior: record rc
    for label, proc in (("main.py", p1), ("main2.py", p2)):
        if proc.returncode != 0:
            diffs.append(
                f"[{name}] reference {label} CRASHED rc={proc.returncode}: "
                + proc.stderr.strip().splitlines()[-1][:200]
            )
    for version in (1, 2):
        if eng_err[version]:
            diffs.append(f"[{name}] engine v{version} CRASHED: {eng_err[version][:300]}")

    # v1 flat csv (users + cards)
    if p1.returncode == 0 and not eng_err[1]:
        for tbl in ("users", "cards"):
            ref_rows = _csv_lists(ref1 / f"{tbl}.csv")
            eh, er = _engine_csv_lists(out / f"{tbl}_flat.csv")
            if not ref_rows:
                if eh is not None:
                    diffs.append(f"[{name}] v1 {tbl}: ref empty, engine wrote")
                continue
            if ref_rows[0] != eh:
                diffs.append(
                    f"[{name}] v1 {tbl} HEADER: ref={ref_rows[0]} eng={eh}"
                )
            if sorted(map(tuple, ref_rows[1:])) != sorted(map(tuple, er)):
                diffs.append(
                    f"[{name}] v1 {tbl} ROWS differ "
                    f"({len(ref_rows) - 1} vs {len(er)})"
                )
    # v2 payload + shared metadata
    if p2.returncode == 0 and not eng_err[2]:
        for tbl in ("users", "cards"):
            ref_rows = _csv_lists(ref2 / f"{tbl}.csv")
            eh, er = _engine_csv_lists(out / f"{tbl}.csv")
            if ref_rows and ref_rows[0] != eh:
                diffs.append(
                    f"[{name}] v2 {tbl} HEADER: ref={ref_rows[0]} eng={eh}"
                )
            if ref_rows and sorted(map(tuple, ref_rows[1:])) != sorted(
                map(tuple, er)
            ):
                diffs.append(
                    f"[{name}] v2 {tbl} ROWS differ "
                    f"({len(ref_rows) - 1} vs {len(er)})"
                )
        # metadata.csv is SHARED between tables. The reference appends
        # with header-once-by-the-first-writer semantics; the engine's
        # distributed sink writes per-part headers (pre-existing,
        # accepted convention in tests/test_reference_diff*.py). When
        # the two tables' metadata schemas DIVERGE (an empty required
        # list on one), compare the content modulo that convention:
        # non-blank data rows as multisets, blank-line counts, and the
        # first writer's header.
        ref_meta = _csv_lists(ref2 / "metadata.csv")
        ref_blank = sum(1 for r in ref_meta if not r)
        ref_data = [r for r in ref_meta[1:] if r]
        if ref_meta and ref_meta[0]:
            ref_data = [r for r in ref_meta[1:] if r]
        eng_blank = 0
        hdr_file = out / "metadata.csv" / "part-00000"
        if hdr_file.exists():
            eng_blank += sum(
                1 for ln in hdr_file.read_text().splitlines()
            ) or 1
        for part in glob.glob(str(out / "metadata.csv" / "part-*.txt")):
            eng_blank += sum(
                1 if not ln else 0
                for ln in open(part, encoding="utf-8").read().splitlines()
            )
        eng_headers = set()
        eng_data = []
        for part in sorted(glob.glob(str(out / "metadata.csv" / "part-*.csv"))):
            with open(part, newline="", encoding="utf-8") as fh:
                it = list(csv.reader(fh))
            if it:
                eng_headers.add(tuple(it[0]))
                eng_data.extend(it[1:])
        if ref_meta and ref_meta[0]:
            # normal case: one shared header everywhere
            if eng_headers != {tuple(ref_meta[0])}:
                diffs.append(
                    f"[{name}] v2 metadata HEADER: ref={ref_meta[0]} "
                    f"eng={sorted(eng_headers)}"
                )
        elif ref_meta and not hdr_file.exists():
            diffs.append(f"[{name}] v2 metadata blank header missing engine-side")
        if sorted(map(tuple, ref_data)) != sorted(map(tuple, eng_data)):
            diffs.append(
                f"[{name}] v2 metadata ROWS differ "
                f"({len(ref_data)} vs {len(eng_data)})"
            )
        if ref_blank != eng_blank:
            diffs.append(
                f"[{name}] v2 metadata blank lines: ref={ref_blank} "
                f"eng={eng_blank}"
            )
        # errors.log + quarantine sets (v2 run)
        ref_errs = _errors(ref2 / "errors.log")
        eng_errs = _errors(out / "errors.log.d")
        if ref_errs != eng_errs:
            diffs.append(
                f"[{name}] errors.log differ: only_ref="
                f"{sorted(ref_errs - eng_errs)[:3]} only_eng="
                f"{sorted(eng_errs - ref_errs)[:3]}"
            )
        for tbl in ("users", "cards"):
            # reference MOVES invalid files; the engine records
            # (file_path, raw) parquet rows — compare basename sets
            # and the verbatim text
            rq = {
                os.path.basename(p): open(p, encoding="utf-8").read()
                for p in glob.glob(
                    str(ref2 / f"{tbl}_schema_mismatches" / "*")
                )
            }
            qdir = str(out / f"{tbl}_q")
            eq: dict[str, str] = {}
            if glob.glob(os.path.join(qdir, "part-*")):
                eq = {
                    os.path.basename(r["file_path"]): r["raw"]
                    for r in spark.read.parquet(qdir).collect()
                }
            if set(rq) != set(eq):
                diffs.append(
                    f"[{name}] {tbl} quarantine SETS differ: only_ref="
                    f"{sorted(set(rq) - set(eq))[:3]} only_eng="
                    f"{sorted(set(eq) - set(rq))[:3]}"
                )
            else:
                bad = [k for k in rq if rq[k] != eq[k]]
                if bad:
                    diffs.append(
                        f"[{name}] {tbl} quarantine BYTES differ: "
                        f"{bad[:3]}"
                    )
    return diffs


def main() -> int:
    only = set(sys.argv[1:])
    from local_etl_spark.session import get_spark

    spark = get_spark("schema-fuzz")
    spark.sparkContext.setLogLevel("ERROR")
    all_diffs: list[str] = []
    tmp = Path(tempfile.mkdtemp(prefix="schema_fuzz_"))
    for name, (us, cs) in scenarios().items():
        if only and name not in only:
            continue
        root = tmp / name
        root.mkdir(parents=True)
        try:
            d = run_scenario(spark, name, us, cs, root)
        except Exception as ex:  # noqa: BLE001
            d = [f"[{name}] HARNESS ERROR: {type(ex).__name__}: {ex}"]
        status = "CLEAN" if not d else f"{len(d)} DIFF(S)"
        print(f"{name}: {status}", flush=True)
        for line in d:
            print("   " + line, flush=True)
        all_diffs.extend(d)
    print(f"\ntotal scenarios diffs: {len(all_diffs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
