"""Differential test: the engine's compiled validity expressions vs the
real ``jsonschema.validate`` (the reference's validator, main.py:59-65)
over an edge-case corpus covering every FIXTURES.md §1.4 path.
"""

from __future__ import annotations

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

try:
    from jsonschema import validate as js_validate
    from jsonschema.exceptions import ValidationError

    HAVE_JSONSCHEMA = True
except ImportError:  # pragma: no cover
    HAVE_JSONSCHEMA = False

from pyspark.sql import functions as F

from local_etl_spark.etl.schema_translate import load_schema
from local_etl_spark.etl.pipeline import classify

from tests.reference import CARDS_SCHEMA, USERS_SCHEMA

UMD = {"type": "user", "event_at": "2023-10-23 22:55:01", "event_id": "0a1b"}
UPL = {"id": 945, "name": "Lawrence Welch", "address": "a\nb", "job": "x, y", "score": 0.86}
CMD = {"type": "card", "event_at": "2023-10-23 23:26:31", "event_id": "0088"}
CPL = {
    "id": 4965,
    "user_id": 7,
    "created_by_name": "Justin Miller",
    "updated_at": "t",
    "created_at": "t",
    "active": False,
}


def _drop(d: dict, k: str) -> dict:
    return {x: v for x, v in d.items() if x != k}


def _staged_messages(df, schema):
    """Finished messages and validity bits through classify(), the one
    place the staged validity plan is bound (leaves → slot → offender
    → message → float token → finish; validate.Validity)."""
    return classify(df, schema).select(
        F.col("is_valid").alias("ok"), F.col("error_msg").alias("msg")
    )


def corpus(md: dict, pl: dict) -> list[str]:
    docs = [
        {"metadata": md, "payload": pl},  # valid
        {"metadata": md, "payload": _drop(pl, list(pl)[1])},  # missing payload field
        {"metadata": _drop(md, "event_id"), "payload": pl},  # missing metadata field
        {"metadata": _drop(md, "event_at"), "payload": _drop(pl, "id")},  # both missing
        {"payload": pl},  # no metadata
        {"metadata": md},  # no payload
        {},  # empty doc
        {"metadata": md, "payload": {**pl, "id": "not-int"}},  # type error
        {"metadata": md, "payload": {**pl, "id": 1.5}},  # non-integral float
        {"metadata": md, "payload": {**pl, "id": 2.0}},  # integral float = VALID int
        {"metadata": md, "payload": {**pl, "id": True}},  # bool is not integer
        {"metadata": md, "payload": {**pl, "id": None}},  # explicit null
        {"metadata": md, "payload": {**pl, "id": [1]}},  # array for scalar
        {"metadata": {**md, "type": 5}, "payload": pl},  # metadata type error
        {"metadata": {**md, "type": 5}, "payload": {**pl, "id": "x"}},  # two type errs
        {"metadata": md, "payload": {**pl, "id": "x", list(pl)[1]: None}},  # mixed
        {"metadata": md, "payload": "nope"},  # payload not an object
        {"metadata": None, "payload": pl},  # explicit-null metadata
        {"metadata": md, "payload": {**_drop(pl, "id"), "extra": 1}},  # extra+missing
        {"metadata": {**md, "event_at": "not-a-date"}, "payload": pl},  # format NOT enforced
        [1, 2],  # doc not an object
        "just a string",
        {"metadata": _drop(md, "type"), "payload": {**pl, "id": "x"}},  # miss+type cross
    ]
    return [json.dumps(d) for d in docs]


@pytest.mark.skipif(not HAVE_JSONSCHEMA, reason="jsonschema not installed")
@pytest.mark.parametrize(
    "schema_path,md,pl",
    [(USERS_SCHEMA, UMD, UPL), (CARDS_SCHEMA, CMD, CPL)],
    ids=["users", "cards"],
)
def test_validity_matches_jsonschema(spark, schema_path, md, pl):
    schema = load_schema(schema_path)
    raws = corpus(md, pl)

    with open(schema_path, encoding="utf-8") as fh:
        raw_schema = json.load(fh)
    expected = []
    for raw in raws:
        doc = json.loads(raw)
        try:
            js_validate(doc, raw_schema)
            expected.append((True, None))
        except ValidationError as e:
            expected.append((False, e.message))

    df = spark.createDataFrame([(r,) for r in raws], ["raw"]).select(
        "raw", F.try_parse_json("raw").alias("v")
    )
    got = _staged_messages(df, schema).collect()

    for raw, (exp_ok, exp_msg), row in zip(raws, expected, got):
        assert row["ok"] == exp_ok, f"validity mismatch for {raw}: {row['msg']!r}"
        if not exp_ok:
            assert row["msg"] == exp_msg, (
                f"message mismatch for {raw}:\n engine={row['msg']!r}\n jsonschema={exp_msg!r}"
            )


def test_corrupt_json_classifies(spark):
    schema = load_schema(USERS_SCHEMA)
    df = spark.createDataFrame([("{not valid json",)], ["raw"]).select(
        F.try_parse_json("raw").alias("v")
    )
    row = classify(df, schema).select(
        F.col("error_class").alias("c"), F.col("is_valid").alias("ok")
    ).collect()[0]
    assert row["c"] == "corrupt" and not row["ok"]


def test_raw_container_message_tails_are_pythonize_fixed_points(spark):
    """The raw-container render path (render_value raw_containers=True)
    leaves the container head as compact JSON and relies on ONE gated
    whole-message _pythonize_container_text post-pass. That rewrite is
    only safe because every fixed message tail concatenated after a raw
    container contains none of the rewritable characters (':', ',',
    '"', bare true/false/null at value positions). Enforce the
    invariant for every tail either schema can produce, so a future
    validator message can't silently corrupt (ADVICE r6)."""
    from local_etl_spark.etl.validate import _pythonize_container_text

    tails = {" is not of type 'object'"}
    for path in (USERS_SCHEMA, CARDS_SCHEMA):
        schema = load_schema(path)
        for obj in schema.objects:
            for fspec in obj.fields:
                tails.add(f" is not of type '{fspec.json_type}'")

    df = spark.createDataFrame([(tl,) for tl in sorted(tails)], ["tail"])
    rows = df.select(
        "tail", _pythonize_container_text(F.col("tail")).alias("out")
    ).collect()
    assert rows
    for r in rows:
        assert r["out"] == r["tail"], (
            f"tail {r['tail']!r} is not a fixed point: {r['out']!r}"
        )


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.text(
            # everything but surrogates (unreachable through UTF-8);
            # includes NUL, C0/C1 controls, Cf/Zs/Co/Cn non-printables,
            # quotes, backslashes, astral planes
            alphabet=st.characters(blacklist_categories=("Cs",)),
            max_size=25,
        ),
        min_size=1,
        max_size=40,
    )
)
def test_py_repr_str_matches_python_repr(spark, values):
    """py_repr_str must equal CPython repr() on ARBITRARY strings (fuzz
    round 7 find: quote choice, \\n/\\r/\\t short escapes, \\x/\\u/\\U hex
    escapes for exactly the isprintable()-false set). The non-printable
    regex class is generated from the runtime's own unicodedata, so
    this property is what keeps it honest."""
    from local_etl_spark.etl.validate import py_repr_str

    df = spark.createDataFrame([(v,) for v in values], ["s"])
    for row in df.select("s", py_repr_str(F.col("s")).alias("r")).collect():
        assert row["r"] == repr(row["s"]), (row["s"], row["r"])


@pytest.mark.skipif(not HAVE_JSONSCHEMA, reason="jsonschema not installed")
@pytest.mark.parametrize(
    "schema_path,md,pl",
    [(USERS_SCHEMA, UMD, UPL), (CARDS_SCHEMA, CMD, CPL)],
    ids=["users", "cards"],
)
def test_multi_error_best_match_sweep(spark, schema_path, md, pl):
    """Round-8 fuzz frontier (VERDICT r7 #10): RANDOMIZED multi-error
    documents — 2..4 simultaneous corruptions at random positions
    across both envelopes (leaf type errors, envelope replacements,
    nulls, containers, repr-bait strings, bool/int traps). The engine's
    when-chain must pick the SAME error jsonschema's best_match picks,
    for every draw. 300 docs per schema, seed-pinned."""
    import random

    rng = random.Random(80801)
    bad_values = [
        "not-right",
        "it's \"both\" quotes",
        "ctl\x07\x85tail",
        1.5,
        -3.25,
        True,
        False,
        None,
        [1, "two", None],
        {"k": [1, {"j": False}]},
        9,
        "9",
    ]

    def corrupt_leaf(doc):
        env = rng.choice(["payload", "metadata"])
        if not isinstance(doc.get(env), dict):
            return
        keys = list(doc[env])
        k = rng.choice(keys)
        cur = doc[env][k]
        v = rng.choice(bad_values)
        # ensure the corruption actually invalidates this leaf type
        tries = 0
        while tries < 10 and _still_valid_leaf(env, k, v):
            v = rng.choice(bad_values)
            tries += 1
        doc[env][k] = v

    def _still_valid_leaf(env, k, v):
        # schema leaf types: ints (id, user_id), number (score),
        # strings (rest), boolean (active)
        if k in ("id", "user_id"):
            return isinstance(v, int) and not isinstance(v, bool)
        if k == "score":
            return isinstance(v, (int, float)) and not isinstance(v, bool)
        if k == "active":
            return isinstance(v, bool)
        return isinstance(v, str)

    def corrupt_env(doc):
        env = rng.choice(["payload", "metadata"])
        doc[env] = rng.choice(
            ["flat", 5, None, [1, 2], True, {"only": "junk"}]
        )

    raws = []
    for _ in range(300):
        doc = {
            "metadata": json.loads(json.dumps(md)),
            "payload": json.loads(json.dumps(pl)),
        }
        n_err = rng.choice([2, 2, 3, 4])
        for _ in range(n_err):
            if rng.random() < 0.15:
                corrupt_env(doc)
            else:
                corrupt_leaf(doc)
        raws.append(json.dumps(doc))

    schema = load_schema(schema_path)
    with open(schema_path, encoding="utf-8") as fh:
        raw_schema = json.load(fh)
    expected = []
    for raw in raws:
        doc = json.loads(raw)
        try:
            js_validate(doc, raw_schema)
            expected.append((True, None))
        except ValidationError as e:
            expected.append((False, e.message))

    df = spark.createDataFrame([(r,) for r in raws], ["raw"]).select(
        "raw", F.try_parse_json("raw").alias("v")
    )
    got = _staged_messages(df, schema).collect()
    n_invalid = sum(1 for ok, _ in expected if not ok)
    assert n_invalid >= 250  # the sweep mostly lands invalid docs
    for raw, (exp_ok, exp_msg), row in zip(raws, expected, got):
        assert row["ok"] == exp_ok, f"validity mismatch for {raw}: {row['msg']!r}"
        if not exp_ok:
            assert row["msg"] == exp_msg, (
                f"message mismatch for {raw}:\n engine={row['msg']!r}\n"
                f" jsonschema={exp_msg!r}"
            )


@pytest.mark.skipif(not HAVE_JSONSCHEMA, reason="jsonschema not installed")
def test_bare_nan_sentinel_direct_collision_divergence(spark):
    """Round-8 fuzz find: the DIRECT sentinel collision, previously
    documented only for the rewrite path. A VALID document whose
    string field literally contains validate.BARE_NAN ("\\x00nan\\x00"
    — legal JSON via \\u0000 escapes) parses on the FIRST attempt
    (never rewritten), yet the type/render layers map any string equal
    to the sentinel back to bare-NaN semantics: jsonschema says VALID,
    the engine classifies invalid with "nan is not of type 'string'".
    Engine-defined divergence, same both-at-once rarity class as the
    rewrite collision (a 7-byte NUL-framed magic string in real data),
    pinned here so the trade is explicit rather than silent."""
    from local_etl_spark.etl.validate import BARE_NAN

    doc = {
        "metadata": {"type": "user", "event_at": "t", "event_id": "s1"},
        "payload": {
            "id": 1,
            "name": BARE_NAN,
            "address": "x",
            "job": "j",
            "score": 1.0,
        },
    }
    raw = json.dumps(doc)
    with open(USERS_SCHEMA, encoding="utf-8") as fh:
        raw_schema = json.load(fh)
    js_validate(json.loads(raw), raw_schema)  # reference side: VALID

    schema = load_schema(USERS_SCHEMA)
    df = spark.createDataFrame([(raw,)], ["raw"]).select(
        F.try_parse_json("raw").alias("v")
    )
    row = _staged_messages(df, schema).collect()[0]
    assert row["ok"] is False
    assert row["msg"] == "nan is not of type 'string'"
