"""Config-driven ETL pipeline (SURVEY.md §2.2 R1-R17, §3.4).

One validated scan fans out to three sinks — output table(s), quarantine,
error log — as filtered writes over a persisted DataFrame (the Spark
mapping of the reference's per-row dual-sink routing, SURVEY.md §3.4).

Scale design: the whole per-table flow is a single partitioned pass; no
collect, no driver-side loops. Each event file is one row (the
reference's data model, main.py:163-172); at 100 TB the same pipeline
runs over JSONL shards via ``read_event_lines`` with an identical plan
past the scan node.

Reference divergences (all engine-defined, documented in FIXTURES.md §1.4):
corrupt JSON → quarantined (reference crashes); absent name/job on
repaired rows → null-safe '' (reference raises); quarantine is a
(file, raw) table rather than verbatim file copies (driver compares
contents, not layout) with a local materializer for exact parity.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from functools import lru_cache

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from local_etl_spark.etl import transforms
from local_etl_spark.etl.schema_translate import (
    EnvelopeSchema,
    load_schema,
    v2_field_names,
)
from local_etl_spark.etl.validate import (
    CLASS_CORRUPT,
    CLASS_MISSING,
    CLASS_OTHER,
    CLASS_VALID,
    ERR_MSG,
    ERR_SLOT,
    Prims,
    _pythonize_message,
    compile_validity,
    float_head_token,
    prims,
    render_typed,
)


@dataclass(frozen=True)
class TableConfig:
    name: str
    schema_file: str
    data_dir: str
    schema_mismatch_dir: str
    output_file: str | None = None  # v1 denormalized sink
    payload_file: str | None = None  # v2 normalized sinks
    metadata_file: str | None = None


@dataclass(frozen=True)
class PipelineConfig:
    tables: tuple[TableConfig, ...]
    replace_missing_data: bool = True  # reference main.py:15
    errors_log: str = "errors.log"
    base_dir: str = "."

    def path(self, p: str) -> str:
        return p if os.path.isabs(p) else os.path.join(self.base_dir, p)


@dataclass
class TableMetrics:
    """The reference's counter triple (main.py:195-197)."""

    table: str
    file_count: int = 0
    valid_count: int = 0
    invalid_count: int = 0


def _parse_event(raw: Column) -> Column:
    """Document text → variant, matching Python json.load's accepted
    grammar. The variant parser rejects the bare non-standard number
    tokens NaN / Infinity / -Infinity that json.load accepts, so docs
    that fail the plain parse get ONE retry with those tokens rewritten
    (Infinity → a 1e999 literal, IEEE-identical; NaN → the
    validate.BARE_NAN sentinel string, mapped back to nan semantics by
    the type/render layers). coalesce short-circuits: well-formed docs
    pay nothing, and the regexp+reparse runs only on parse failures.
    The value-position guard `[:,[]` keeps the rewrite off quoted text
    in every doc that matters — a doc where the pattern occurs INSIDE
    a string parses fine on the first attempt and is never rewritten.

    Documented divergence (ADVICE r4): a doc that BOTH fails the first
    parse (a bare nonfinite token somewhere) AND carries a quoted
    string containing a value-position-shaped token — e.g.
    ``{"note": "cost: Infinity", "score": NaN}`` — has the quoted text
    rewritten too (note becomes ``'cost:  1e999'``), where json.load
    preserves the string intact. A regex cannot see JSON string
    boundaries; the collision needs both shapes in one document, the
    same both-at-once rarity class as the BARE_NAN sentinel collision.
    Engine-defined and pinned in
    tests/test_etl_pipeline.py::test_parse_event_rewrite_collision.
    """
    rewritten = F.regexp_replace(
        F.regexp_replace(raw, r"([:,\[]\s*)-Infinity", "$1-1e999"),
        r"([:,\[]\s*)Infinity",
        "$1 1e999",
    )
    # the sentinel's NUL delimiters must travel as backslash-u0000 escapes (raw
    # control chars are invalid inside a JSON string); '\\\\' in a Java
    # replacement emits one literal backslash
    rewritten = F.regexp_replace(
        rewritten, r"([:,\[]\s*)NaN", '$1"\\\\u0000nan\\\\u0000"'
    )
    return F.coalesce(F.try_parse_json(raw), F.try_parse_json(rewritten))


BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def read_event_docs(spark: SparkSession, data_dir: str) -> DataFrame:
    """Scan a directory of one-JSON-document-per-file events (R1/R2).

    binaryFile source, one row per file: the text source's
    ``wholetext`` mode pays a per-file reader setup that is ~10×
    slower on many-tiny-file corpora (measured 5.8 s vs 0.6 s for a
    20k-file scan) — binaryFile is the fast whole-file path, and the
    UTF-8 decode is a plain column expression (event_docs).
    pathGlobFilter skips non-.json files exactly like the reference's
    extension check (main.py:163-167); non-recursive like
    ``next(os.walk(...))``.

    The data dir is listed once, driver-side (_json_files): that one
    listing decides the sidechannel files and the partition target.
    The docs come back coalesced to >=250 events per task, so the fixed
    per-task cost of the downstream sink jobs amortizes; the cap is the
    session's parallelism, which dominates at cluster scale (millions
    of files -> full parallelism) and is the target for any dir that
    cannot be listed locally.
    """
    files = _json_files(data_dir)
    sidechannel, visible = [], []
    for p in files or ():
        name = os.path.basename(p)
        # names a Hadoop listing hides or cannot read: see below
        if name.startswith((".", "_")) or ":" in name:
            sidechannel.append(p)
        else:
            visible.append(p)
    reader = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.json"
    )
    colon = any(":" in os.path.basename(p) for p in sidechannel)
    if colon or _symlinked_dirs(data_dir):
        # COLON-NAME repair (path fuzz, round 12): one ':'-named file
        # poisons the ENTIRE dir scan — the task-side checksum path
        # Path('.<name>.crc') parses the text before the colon as a URI
        # scheme and throws URISyntaxException, so the whole job dies,
        # not just that file (os.walk, and so the reference, reads it
        # like any file). Swap the main scan to an explicit
        # glob-escaped path list WITHOUT the colon names (they join
        # the driver-listed sidechannel below, like hidden files);
        # every other dir keeps the plain single-path load.
        # SYMLINK-CYCLE repair (fs fuzz, round 13): a symlinked dir
        # anywhere under the data dir can cycle and the Hadoop leaf
        # listing follows it FOREVER (measured hang; the reference's
        # non-recursive os.walk is unaffected). The same explicit
        # top-level path list never descends into any directory, so
        # any symlinked-dir layout routes through it too — contents
        # of subdirectories are excluded either way (the dir_named_
        # json/colon_dir pinned semantics).
        if visible:
            base = reader.load([_glob_escape(p) for p in visible])
        else:
            base = spark.createDataFrame([], BINARY_FILE_SCHEMA)
    else:
        base = reader.load(data_dir)
    scan = base.select("path", "content")
    # HIDDEN-FILE repair (table fuzz, round 10): every Spark file
    # source — dir listing, explicit paths, even sc.binaryFiles —
    # silently drops names starting with '.' or '_' (the Hadoop
    # metadata convention: _SUCCESS, ._copying). The reference's
    # endswith('.json') check has no such notion: '.json' and
    # '_backup.json' are data to it. The driver-side listing names the
    # stragglers (non-local dirs where the listing fails keep the
    # Hadoop convention, which is also the right call on object
    # stores); read them executor-side via mapInPandas, then union
    # into the same scan schema. Hidden files are by construction rare
    # — one tiny extra partition, no effect on the main scan's plan.
    if sidechannel:
        hdf = spark.createDataFrame([(p,) for p in sidechannel], "path string")

        def read_files(batches):
            import pandas as pd

            for pdf in batches:
                paths, contents = [], []
                for p in pdf["path"]:
                    # a dot/underscore file seen at driver listing time
                    # can vanish before the task runs (an in-flight
                    # '._copying' temp is the exact convention being
                    # bypassed) — skip it, matching the tolerance of
                    # Spark's own listing-to-read window
                    try:
                        with open(p, "rb") as fh:
                            contents.append(fh.read())
                    except OSError:
                        continue
                    paths.append(p)
                yield pd.DataFrame({"path": paths, "content": contents})

        scan = scan.unionByName(
            hdf.mapInPandas(read_files, schema="path string, content binary")
        )
    cap = spark.sparkContext.defaultParallelism
    n = cap if files is None else max(1, min(cap, len(files) // 250))
    return event_docs(scan).coalesce(n)


def event_docs(scan: DataFrame) -> DataFrame:
    """binaryFile rows ``(path, content)`` → ``(file_path, raw, v)``:
    the one document decode of the batch scan and the streaming ingest.
    Corrupt documents become SQL-null variants via try_parse_json
    instead of crashing.

    Byte-invalid UTF-8 (fuzz round 7): the reference CRASHES on any
    undecodable file (uncaught UnicodeDecodeError at main.py:171's
    json.load) and a strict ``decode`` would crash the whole engine
    job the same way — unacceptable at fleet scale, so this is
    defined+documented divergence instead: files failing
    ``is_valid_utf8`` get a NULL variant (→ the corrupt class, same
    quarantine+errors.log route as unparseable JSON, even if the
    U+FFFD-substituted text would parse), and ``raw`` carries the
    replacement-decoded text (a byte-verbatim quarantine copy is
    impossible for undecodable input in a string-typed pipeline).
    """
    raw = F.col("content").cast("string")  # U+FFFD replacement, never throws
    return scan.select(
        F.regexp_replace(F.col("path"), "^file:", "").alias("file_path"),
        raw.alias("raw"),
        F.when(F.expr("is_valid_utf8(content)"), _parse_event(raw)).alias("v"),
    )


def _json_files(data_dir: str) -> list[str] | None:
    try:
        with os.scandir(data_dir) as it:
            return sorted(
                e.path for e in it if e.name.endswith(".json") and e.is_file()
            )
    except OSError:
        return None


def _symlinked_dirs(data_dir: str) -> list[str]:
    """Directories under ``data_dir`` (any depth) that are SYMLINKS —
    Spark's leaf-file listing FOLLOWS them, so a symlink cycle (a dir
    link pointing back at an ancestor) spins the whole scan forever
    (fs fuzz, round 13: measured unbounded hang in reader.load), while
    the reference's non-recursive next(os.walk(...)) never descends.
    os.walk(followlinks=False) is itself cycle-safe: it REPORTS link
    dirs without entering them. [] when the tree can't be walked
    locally (object stores have no symlinks)."""
    out: list[str] = []
    try:
        for root, dirs, _files in os.walk(data_dir):
            for d in dirs:
                p = os.path.join(root, d)
                if os.path.islink(p):
                    out.append(p)
    except OSError:
        return []
    return out


def _glob_escape(p: str) -> str:
    """Backslash-escape Hadoop glob metacharacters so a literal path
    survives DataFrameReader.load()'s per-path glob expansion (a file
    legitimately named 'ev[1].json' must not become a character
    class)."""
    return "".join(
        ("\\" + ch) if ch in "*?[]{}\\" else ch for ch in p
    )


def read_event_lines(spark: SparkSession, path: str) -> DataFrame:
    """JSONL variant of the same scan — the 100 TB ingestion path (one
    event per line, splittable files). Same downstream plan."""
    return (
        spark.read.format("text")
        .load(path)
        .select(
            F.regexp_replace(F.input_file_name(), "^file:", "").alias("file_path"),
            F.col("value").alias("raw"),
            _parse_event(F.col("value")).alias("v"),
        )
    )


def _fv(obj: str, fname: str) -> Column:
    return F.variant_get(F.col("v"), f"$.{obj}.{fname}", "variant")


def _render_fv(
    p: Prims,
    json_type: str | None = None,
    valid_col: Column | None = None,
) -> Column:
    """Output rendering of a variant value as the reference's CSV
    writer would print it: missing key → '' (restval), None → ''
    (csv module), str(value) otherwise. ``json_type`` (the field's
    declared schema type) narrows the render to the shapes a VALID row
    can hold — see validate.render_typed, incl. the ``valid_col``
    contract (v2-only boolean fast guard)."""
    return F.coalesce(
        F.when(F.is_variant_null(p.fv), F.lit("")).otherwise(
            render_typed(p, json_type, valid_col)
        ),
        F.lit(""),
    )


def classify(docs: DataFrame, schema: EnvelopeSchema) -> DataFrame:
    """Attach error_msg / error_class / is_valid columns (R4).

    Stacked projections on purpose (Catalyst's CollapseProject declines
    to inline multiply-referenced non-trivial aliases, so the splits
    survive optimization), one per stage of validate.Validity:
      1. leaf extraction — each variant leaf + its type string computed
         ONCE per row (CASE branches can't share subexpressions);
      2. the priority CASE → int ``_err_slot`` (NULL = valid);
      3. the slot's offending variant, its schema string and its
         message tail — the leaf columns are dropped here, so the
         persisted classification stays slim (caching ~26 variant
         leaves per row measurably slows materialization);
      4. the raw message, with one render_value site for every slot;
      5. the leading float token of the message, bound as its own
         attribute — _py_float_text references its input ~40× across
         CASE branches (branches defeat codegen subexpr elimination),
         so an inlined regexp_extract token re-embeds the extract per
         reference and blows janino's 64 KB method limit (the round-5
         regression: silent interpreted fallback of this projection);
      6. the Python float-repr/container rewrite of the message over
         the bound message/token columns, and error_class / is_valid.
         ``is_valid`` is ``_err_slot IS NULL``: PushDownPredicates
         substitutes projection aliases, so a filter on it over an
         unpersisted classification inlines the slot CASE and the
         leaves, not the render. ``error_class`` keeps the reference's
         routing test, the 'is a required property' substring of the
         message (main.py:183).
    """
    val = compile_validity(schema)
    keep = [*docs.columns, ERR_SLOT]
    token, finished = _classify_finish()
    staged = (
        docs.select("*", *val.leaves)
        .select("*", val.slot)
        .select(*keep, *val.offender)
        .select(*keep, val.message)
        .select(*keep, *token)
    )
    return staged.select(*docs.columns, *finished)


@lru_cache(maxsize=1)
def _classify_finish() -> tuple[tuple[Column, ...], tuple[Column, ...]]:
    """classify()'s last two stages, which do not depend on the schema:
    the message + its bound float token, then the finished columns."""
    slot, msg = F.col(ERR_SLOT), F.col(ERR_MSG)
    token = (msg, float_head_token(msg).alias("_msg_token"))
    finished = (
        _pythonize_message(msg, F.col("_msg_token")).alias("error_msg"),
        F.when(F.col("v").isNull(), CLASS_CORRUPT)
        .when(slot.isNull(), CLASS_VALID)
        .when(msg.contains("is a required property"), CLASS_MISSING)
        .otherwise(CLASS_OTHER)
        .alias("error_class"),
        slot.isNull().alias("is_valid"),
    )
    return token, finished


@lru_cache(maxsize=64)
def _v1_stage1(schema: EnvelopeSchema) -> tuple:
    """Stage 1 of the v1 sink: one MERGED variant probe per unique
    slot name — coalesce(metadata key, payload key).

    main.py:100-107 builds ONE row dict — payload keys then metadata
    keys (metadata WINS collisions) — and every header slot (payload
    required + metadata required, duplicates and all) reads that merged
    dict. A JSON-null metadata value is a present variant
    (SQL-non-null), so coalesce implements exactly the reference's
    key-presence merge; for the reference's own schemas the required
    lists are disjoint from the other object's keys, so this reduces
    to the per-object render. The merge bites when a schema lists a
    field name the doc carries in the OTHER envelope object
    (schema-mutation fuzz, round 9: payload-required 'type' must print
    the metadata value in BOTH duplicate header slots).

    Staging the probe also keeps codegen at the historical per-object
    size — the probe would otherwise re-embed at every reference site
    inside the render CASE branches (branches defeat codegen
    subexpression elimination, the janino 64 KB lesson). _mv_address
    is staged unconditionally: the ad-hoc fixes gate on merged-dict
    presence of 'address' (main.py:110) even when address is not
    itself a header slot.
    """
    slots = dict.fromkeys(
        list(schema.payload.required) + list(schema.metadata.required)
    )
    out = [
        F.coalesce(_fv("metadata", f), _fv("payload", f)).alias(f"_mv_{f}")
        for f in slots
    ]
    if "address" not in slots:
        out.append(
            F.coalesce(
                _fv("metadata", "address"), _fv("payload", "address")
            ).alias("_mv_address")
        )
    return tuple(out)


def _declared(schema: EnvelopeSchema, fname: str) -> str | None:
    """Declared json type for a MERGED v1 slot: the fast-path type is
    usable only when the declaring objects agree (render_typed falls
    back to the general renderer on any shape mismatch anyway, so this
    only decides which fast path fronts the render)."""
    ptypes = {f.name: f.json_type for f in schema.payload.fields}
    mtypes = {f.name: f.json_type for f in schema.metadata.fields}
    pt, mt = ptypes.get(fname), mtypes.get(fname)
    if pt is not None and mt is not None and pt != mt:
        return None
    return mt if mt is not None else pt


@lru_cache(maxsize=64)
def _v1_out_columns(schema: EnvelopeSchema) -> tuple:
    """Stage 2 of the v1 sink: render every slot from its staged merged
    variant (render_typed: declared-type fast path + general fallback —
    REPAIR-SAFE since round 9, because the reference writes a repaired
    row's raw str(value) even where it violates the declared type and
    the old valid-only narrowing printed '' for a string in a number
    slot), apply the ad-hoc address/job fixes on the merged values
    gated on merged-dict presence (main.py:110-113), and emit header
    slots by occurrence (duplicates read the same value — the
    DictWriter fieldnames semantics)."""
    slots = list(schema.payload.required) + list(schema.metadata.required)
    cols = {
        f: _render_fv(prims(F.col(f"_mv_{f}")), _declared(schema, f))
        for f in dict.fromkeys(slots)
    }
    has_address = F.col("_mv_address").isNotNull()
    if "address" in cols:
        cols["address"] = F.when(
            has_address, transforms.fix_address(cols["address"])
        ).otherwise(cols["address"])
    if "job" in cols:
        cols["job"] = F.when(
            has_address, transforms.fix_job(cols["job"])
        ).otherwise(cols["job"])
    return tuple(cols[f].alias(f) for f in slots)


def v1_rows(classified: DataFrame, schema: EnvelopeSchema) -> DataFrame:
    """Denormalized output rows (v1, main.py): payload + metadata flat,
    via the staged merged-probe -> render plan."""
    return classified.select("*", *_v1_stage1(schema)).select(
        *_v1_out_columns(schema)
    )


_NAME_COLS = ("name", "created_by_name")


def _v2_sources(schema: EnvelopeSchema) -> dict[str, tuple[str, str]]:
    """Every value the v2 payload sink renders, as slot -> (envelope
    object, key): the payload's required fields, both name-ish fields
    when the header normalizes a name (see _v2_payload_columns), and
    the FK ``event_id`` from metadata (main2.py:226 — it overwrites a
    payload-required event_id slot)."""
    payload_fields, _ = v2_field_names(schema)
    names = [f for f in schema.payload.required if f != "event_id"]
    if any(c in payload_fields for c in _NAME_COLS):
        names += _NAME_COLS
    out = {f: ("payload", f) for f in dict.fromkeys(names)}
    out["event_id"] = ("metadata", "event_id")
    return out


_PRIM_SUFFIXES = ("", "_sv", "_s", "_d")


def _bound_prims(i: int) -> Prims:
    """The stage-0 attributes of the i-th rendered slot (by position,
    so any field name is safe in a column name)."""
    return Prims(*(F.col(f"_pv{i}{s}") for s in _PRIM_SUFFIXES))


@lru_cache(maxsize=64)
def _v2_prims(schema: EnvelopeSchema) -> tuple:
    """Stage 0 of the v2 payload sink: the render primitives
    (validate.Prims) of every rendered slot, bound as ``_pv<i>*``
    attributes, plus the payload-presence flags the transforms gate on
    (``_hn_*``). The renders read a value's string form and double text
    at many sites (the float rewrite alone ~40×); bound here, each read
    is a slot read instead of a variant walk. ``_hn_address`` is staged
    unconditionally: the ad-hoc fixes gate on 'address' in the PAYLOAD
    dict (main2.py:230 — v2 keeps the dicts separate, unlike v1's
    merge)."""
    out = []
    for i, (obj, fname) in enumerate(_v2_sources(schema).values()):
        p = prims(_fv(obj, fname))
        for suffix, c in zip(_PRIM_SUFFIXES, (p.fv, p.sv, p.text, p.dbl)):
            out.append(c.alias(f"_pv{i}{suffix}"))
    for c in ("address", *_NAME_COLS):
        out.append(_fv("payload", c).isNotNull().alias(f"_hn_{c}"))
    return tuple(out)


@lru_cache(maxsize=64)
def _v2_stage1(schema: EnvelopeSchema) -> tuple:
    """Stage 1 of the v2 payload sink: every rendered slot bound as a
    ``_pr<i>`` attribute, ONCE — the transforms above read the
    attribute (fix_job alone references its input ~5×, and each
    reference would otherwise embed a full render)."""
    ptypes = {f.name: f.json_type for f in schema.payload.fields}
    mtypes = {f.name: f.json_type for f in schema.metadata.fields}
    # v2 slots read their OWN envelope object, so is_valid ⇒ declared
    # shape and the renders take the boolean fast guard (render_typed
    # valid_col contract; v1 must NOT do this — merged-dict shadowing)
    valid = F.col("is_valid")
    out = [
        _render_fv(
            _bound_prims(i),
            (ptypes if obj == "payload" else mtypes).get(fname),
            valid,
        ).alias(f"_pr{i}")
        for i, (obj, fname) in enumerate(_v2_sources(schema).values())
    ]
    return (*out, *(F.col(f"_hn_{c}") for c in ("address", *_NAME_COLS)))


@lru_cache(maxsize=64)
def _v2_payload_columns(schema: EnvelopeSchema) -> tuple:
    """Stage 2 of the v2 payload sink: the reference's transforms over
    the bound renders, in header order.

    Two DISTINCT selectors drive the name normalization in the
    reference (schema-mutation fuzz find, r9): the header insertion
    keys off the REQUIRED list (get_field_names, main2.py:170-182 —
    that part lives in v2_field_names), but the VALUE transform keys
    off the DOC's payload keys (get_row_data, main2.py:234-256: 'name'
    in payload_dict elif 'created_by_name'). A cards schema whose
    required list names 'name' gets prefix/suffix columns inserted
    around the (empty) name slot while the doc's created_by_name value
    still normalizes. When NEITHER name is present the reference
    CRASHES (NameError on name_split, main2.py:242 — documented
    divergence); the engine prints the restval '' row instead.
    """
    cols = {f: F.col(f"_pr{i}") for i, f in enumerate(_v2_sources(schema))}
    has_address = F.col("_hn_address")
    if "address" in schema.payload.required:
        cols["address"] = F.when(
            has_address, transforms.fix_address(cols["address"])
        ).otherwise(cols["address"])
    if "job" in schema.payload.required:
        cols["job"] = F.when(
            has_address, transforms.fix_job(cols["job"])
        ).otherwise(cols["job"])
    payload_fields, _ = v2_field_names(schema)
    if any(c in payload_fields for c in _NAME_COLS):
        has = {c: F.col(f"_hn_{c}") for c in _NAME_COLS}
        norm = {c: transforms.name_norm(cols[c]) for c in _NAME_COLS}

        def pick(attr: str) -> Column:
            return (
                F.when(has["name"], norm["name"][attr])
                .when(has["created_by_name"], norm["created_by_name"][attr])
                .otherwise(F.lit(""))
            )

        cols["prefix"] = pick("prefix")
        cols["suffix"] = pick("suffix")
        cols["name"] = F.when(has["name"], norm["name"]["name"]).otherwise(
            cols["name"]
        )
        cols["created_by_name"] = (
            F.when(has["name"], cols["created_by_name"])
            .when(has["created_by_name"], norm["created_by_name"]["name"])
            .otherwise(cols["created_by_name"])
        )
    return tuple(cols[f].alias(f) for f in payload_fields)


@lru_cache(maxsize=64)
def _v2_metadata_columns(schema: EnvelopeSchema) -> tuple:
    """The v2 metadata sink: each required metadata field rendered
    straight off ``v`` (one render per slot, nothing references it
    twice)."""
    mtypes = {f.name: f.json_type for f in schema.metadata.fields}
    valid = F.col("is_valid")
    return tuple(
        _render_fv(prims(_fv("metadata", f)), mtypes.get(f), valid).alias(f)
        for f in v2_field_names(schema)[1]
    )


def v2_payload_rows(classified: DataFrame, schema: EnvelopeSchema) -> DataFrame:
    """Normalized payload output (v2, main2.py): payload fields + the
    event_id FK + prefix/suffix, over the staged primitives ->
    renders -> transforms plan."""
    return (
        classified.select("*", *_v2_prims(schema))
        .select(*_v2_stage1(schema))
        .select(*_v2_payload_columns(schema))
    )


def v2_metadata_rows(classified: DataFrame, schema: EnvelopeSchema) -> DataFrame:
    """Normalized metadata output (v2, main2.py)."""
    return classified.select(*_v2_metadata_columns(schema))


def error_log_lines(invalid: DataFrame) -> DataFrame:
    """R6: '{dd/mm/yyyy hh:mm:ss AM/PM}, ERROR, SCHEMA ERR, {file}, {msg}'."""
    return invalid.select(
        F.concat_ws(
            ", ",
            F.date_format(F.current_timestamp(), "dd/MM/yyyy hh:mm:ss a"),
            F.lit("ERROR"),
            F.lit("SCHEMA ERR"),
            F.col("file_path"),
            F.col("error_msg"),
        ).alias("value")
    )


def run_table(
    spark: SparkSession,
    cfg: PipelineConfig,
    table: TableConfig,
    version: int = 2,
) -> TableMetrics:
    """Full per-table pipeline: scan → validate → route to sinks → counters.

    One persisted classification feeds all sinks (SURVEY.md §3.4's
    dual-sink fan-out): output rows are valid ∪ repairable-missing (R7),
    quarantine + error log get every invalid row (the reference copies
    the file and logs BEFORE deciding repairability, main.py:179-187).
    """
    schema = load_schema(cfg.path(table.schema_file))
    docs = read_event_docs(spark, cfg.path(table.data_dir))
    classified = classify(docs, schema).persist()
    try:
        return write_sinks(cfg, table, schema, classified, version)
    finally:
        classified.unpersist()


def write_sinks(
    cfg: PipelineConfig,
    table: TableConfig,
    schema: EnvelopeSchema,
    classified: DataFrame,
    version: int = 2,
) -> TableMetrics:
    """Route one classified batch to the three sinks (R5/R6/R14) and
    return its counter triple (R15).

    Shared by the batch pipeline (run_table, run_table_incremental) and
    the streaming ingest (streaming/etl_stream.py foreachBatch) —
    identical routing semantics in both execution modes.
    """
    # the counters ride the materializing first-sink job via observe()
    # instead of a dedicated count job (R15 semantics, one fewer pass).
    # They also gate the error path (round 10): a CLEAN batch — the
    # steady state of any production feed — SKIPS the quarantine and
    # error-log jobs entirely, which also matches the reference exactly
    # (it creates errors.log / the mismatch dir lazily, only when an
    # error occurs).
    sink_obs = Observation(f"etl_sink_{table.name}")
    keep = F.col("is_valid") | (
        F.lit(cfg.replace_missing_data)
        & (F.col("error_class") == CLASS_MISSING)
    )
    # the metrics node lives ONLY under the FIRST sink's plan (an
    # Observation is single-action: the later sinks' jobs must not
    # re-fire it), and sits BELOW the keep-filter so it counts the
    # full batch
    kept_first = classified.observe(
        sink_obs,
        F.count(F.lit(1)).alias("total"),
        F.sum(F.col("is_valid").cast("long")).alias("valid"),
    ).where(keep)
    kept = classified.where(keep)
    invalid = classified.where(~F.col("is_valid"))

    # Spark's CSV WRITER defaults ignoreLeading/TrailingWhiteSpace to
    # TRUE (the reader defaults them false) and silently trims values
    # like the ' ' a whitespace-only 4-token name produces — Python's
    # csv.DictWriter writes the bytes verbatim (fuzz round 5b find).
    # escape='"' doubles embedded quotes RFC-4180-style the way
    # Python's csv module does; Spark's default escape is a BACKSLASH
    # ("a \"b\"") which csv.DictReader does not treat as an escape, so
    # a value containing a double quote round-tripped corrupt (fuzz
    # round 6 find).
    _verbatim = {
        "header": True,
        "ignoreLeadingWhiteSpace": False,
        "ignoreTrailingWhiteSpace": False,
        "escape": '"',
    }

    def _write_csv(df: DataFrame, path: str):
        """CSV append — or, for an EMPTY header (both required lists
        empty for v1, an empty metadata required list for v2), the
        blank-line layout Python's DictWriter produces with
        fieldnames=[]: one blank header line + one blank line per row
        (schema-mutation fuzz, round 9). Spark's CSV source refuses a
        zero-column schema, so the data rows ride the text sink as
        empty strings and the header blank line is a driver-written
        'part-00000' that sorts before every Spark part file; it is
        created once (the reference's tell()==0 header-once check).
        NOTE (ADVICE r9): the sentinel uses driver-local os.path/open,
        so this degenerate layout assumes a LOCAL-FS sink path and
        that 'part-00000' sorts before Spark's 'part-00000-<uuid>'
        names — fine for the local driver contract this layout exists
        to byte-match; on a real cluster with an object-store sink,
        route the header through a 1-row coalesced text write."""
        if df.columns:
            df.write.mode("append").options(**_verbatim).csv(path)
            return
        # MUST derive from the PASSED df, not the `kept` closure: the
        # first sink's df rides the observed plan (kept_first), and if
        # this branch wrote `kept` instead, sink_obs would never see an
        # action and sink_obs.get below would block forever (ADVICE
        # r10). A zero-column frame still carries its row count and
        # lineage, so selecting a literal yields one blank line per
        # kept row over the same (observed) plan.
        df.select(F.lit("").alias("value")).write.mode("append").text(path)
        hdr = os.path.join(path, "part-00000")
        if not os.path.exists(hdr):
            with open(hdr, "w", encoding="utf-8") as fh:
                fh.write("\n")

    writes: list = []
    # output sink(s) — the FIRST uses the observed plan (kept_first)
    if version == 1:
        out1 = v1_rows(kept_first, schema)
        writes.append(
            lambda: _write_csv(
                out1, cfg.path(table.output_file or f"{table.name}.csv")
            )
        )
    else:
        payload = v2_payload_rows(kept_first, schema)
        metadata = v2_metadata_rows(kept, schema)
        writes.append(
            lambda: _write_csv(
                payload, cfg.path(table.payload_file or f"{table.name}.csv")
            )
        )
        writes.append(
            lambda: _write_csv(
                metadata, cfg.path(table.metadata_file or "metadata.csv")
            )
        )

    # error-path sinks, run ONLY when the batch has invalid rows (the
    # reference's lazy-creation semantics — see sink_obs above):
    # quarantine (R5): original documents, verbatim; error log (R6).
    # batch_seq (fuzz round 11, re-run axis): the reference's
    # shutil.copy OVERWRITES a same-named quarantine file, so on a
    # re-run where the bad file's bytes CHANGED the reference keeps
    # the LATEST version — but an append-only (file_path, raw) table
    # has no recency key, and materialize_quarantine's collect order
    # over uuid-named part files is effectively random. A per-run
    # driver timestamp restores latest-wins determinism without
    # giving up the append-only sink (at scale it doubles as the
    # ingest-run audit column).
    error_writes = [
        lambda: invalid.select("file_path", "raw")
        .withColumn("batch_seq", F.lit(time.time_ns()))
        .write.mode("append")
        .parquet(cfg.path(table.schema_mismatch_dir)),
        lambda: error_log_lines(invalid)
        .write.mode("append")
        .text(cfg.path(f"{cfg.errors_log}.d")),
    ]

    # Materialize-then-fan-out: the first sink job computes every
    # partition into the persisted classification (its filter sits
    # above the cache node, so the observe() counters fire over the
    # full input); the remaining sinks are independent filtered
    # warm-cache reads running as concurrent Spark jobs so their fixed
    # scheduling + file-commit overhead overlaps.
    # (Launching all four concurrently on a cold cache is still
    # correct — racing jobs duplicate partition compute, never corrupt
    # it — but measured 30% slower on the 2000-file corpus, and leaves
    # counter coverage to whichever job wins.)
    from concurrent.futures import ThreadPoolExecutor

    # The wide render sink plans with whole-stage codegen OFF: under
    # fusion ALL of a Project's renders land in ONE doConsume method
    # and a 9-slot schema (cards) crosses janino's 64 KB limit — with
    # repair-safe renders there is no narrowing to shrink them (round-9
    # schema fuzz). Non-fused ProjectExec codegen splits per expression
    # and compiles any slot count; measured cost on the 50k-row bench
    # is within noise because the render job is commit-bound. Conf is
    # restored before the concurrent small sinks (driver-side plan
    # time only — the threaded writes plan after the restore).
    ws_key = "spark.sql.codegen.wholeStage"
    spark = classified.sparkSession
    # The FIRST sink write also materializes the classification cache
    # (and fires the observe() counters — its filter sits above the
    # cache node, so the job computes every partition). A
    # separate count() job was tried in round 9 to stage the cache
    # under fused conf; measured round 10: non-fused classify
    # materialization is within noise of fused (the ~40-branch CASE
    # splits per expression and compiles), while the dedicated count
    # job costs a full warm-cache pass (~0.24 s at 50 k rows) — so the
    # sink write materializes directly, one job fewer per table.
    ws_old = spark.conf.get(ws_key, "true")
    spark.conf.set(ws_key, "false")
    try:
        writes[0]()
    finally:
        spark.conf.set(ws_key, ws_old)
    # the materializing job has completed, so the batch's counters are
    # known: a clean batch skips the two error-path jobs
    got = sink_obs.get
    total, valid = got["total"] or 0, got["valid"] or 0
    if total > valid:
        writes += error_writes
    if len(writes) > 1:
        with ThreadPoolExecutor(max_workers=len(writes) - 1) as pool:
            for fut in [pool.submit(w) for w in writes[1:]]:
                fut.result()
    return TableMetrics(
        table=table.name,
        file_count=total,
        valid_count=valid,
        invalid_count=total - valid,
    )


def run_pipeline(
    spark: SparkSession, cfg: PipelineConfig, version: int = 2
) -> list[TableMetrics]:
    """Multi-table loop (R17) — tables sequential like the reference;
    each table's work is fully distributed."""
    return [run_table(spark, cfg, table, version) for table in cfg.tables]


def run_table_incremental(
    spark: SparkSession,
    cfg: PipelineConfig,
    table: TableConfig,
    state_dir: str,
    version: int = 2,
) -> TableMetrics:
    """Incremental per-table run: process only files NOT seen by a
    previous run, then record them — exactly-once per file across runs.

    The reference re-reads and re-appends the ENTIRE directory every
    run (main.py:163-193 — re-running doubles the output CSV); this is
    the engine's fix. State = a parquet table of processed file paths
    (one row per file — trivially small next to the data), anti-joined
    against the scan listing. The production-scale form of the same
    semantics is the Structured Streaming file source with a checkpoint
    (streaming/etl_stream.py reuses write_sinks via foreachBatch); this
    batch twin gives identical routing without a streaming runtime, and
    the state table stays broadcast-sized up to millions of files.
    """
    schema = load_schema(cfg.path(table.schema_file))
    state_path = os.path.join(state_dir, f"{table.name}_seen_files")
    docs = read_event_docs(spark, cfg.path(table.data_dir))
    if os.path.exists(state_path):
        seen = spark.read.parquet(state_path)
        docs = docs.join(F.broadcast(seen), "file_path", "left_anti")
    classified = classify(docs, schema).persist()
    try:
        metrics = write_sinks(cfg, table, schema, classified, version)
        # commit the newly-processed file list AFTER the sinks succeed:
        # a crash before this append leaves files unrecorded → they are
        # re-processed next run (at-least-once into append sinks; flip
        # the order for at-most-once)
        classified.select("file_path").distinct().write.mode("append").parquet(
            state_path
        )
        return metrics
    finally:
        classified.unpersist()


def materialize_quarantine(spark: SparkSession, quarantine_dir: str, out_dir: str) -> int:
    """Local helper: re-create verbatim per-file quarantine copies from
    the (file_path, raw) table — exact reference file layout for small
    runs; the table form is what scales.

    Re-run semantics (fuzz round 11): the reference overwrites, so the
    LATEST quarantined version of a file must win — max_by(batch_seq)
    per path when the recency column is present (older tables without
    it keep the legacy collect-order behavior)."""
    # mergeSchema: a quarantine dir written partly before the batch_seq
    # column existed has mixed-schema part files — without merging,
    # footer-sampling could drop the column entirely (silently reverting
    # to collect-order bytes). Legacy rows surface with NULL batch_seq;
    # coalesce to 0 so they lose deterministically to any re-run that
    # carries a real (time_ns) sequence. When a file has MULTIPLE
    # legacy versions and no sequenced re-run, every key ties at 0 and
    # no recency exists to recover — the raw bytes themselves break the
    # tie (max) so the emitted copy is at least DETERMINISTIC across
    # runs/collect orders, a documented divergence from the
    # unrecoverable keep-latest (ADVICE r12).
    df = spark.read.option("mergeSchema", "true").parquet(quarantine_dir)
    if "batch_seq" in df.columns:
        rows = (
            df.groupBy("file_path")
            .agg(
                F.max_by(
                    "raw",
                    F.struct(
                        F.coalesce(F.col("batch_seq"), F.lit(0)).alias("seq"),
                        F.col("raw").alias("raw"),
                    ),
                ).alias("raw")
            )
            .collect()
        )
    else:
        rows = df.select("file_path", "raw").collect()
    os.makedirs(out_dir, exist_ok=True)
    for r in rows:
        with open(
            os.path.join(out_dir, os.path.basename(r["file_path"])),
            "w",
            encoding="utf-8",
        ) as fh:
            fh.write(r["raw"])
    return len(rows)
