"""Live reference diff on a corpus WITH schema-invalid documents.

test_reference_diff.py proves parity on the clean path; this module
proves parity on the VALIDATION path: a corpus seeded with every
reference-survivable invalid shape (wrong types at every envelope
level, multi-error documents where jsonschema's best_match choice is
what the engine's when-chain must reproduce) is run through the actual
reference binaries AND the engine, then the three error surfaces are
diffed:

  - output CSVs (invalid rows must be dropped, valid rows untouched)
  - quarantine (same FILES, byte-identical content)
  - errors.log (same (file, message) multiset — the reference
    timestamps lines with wall-clock time, so the prefix is stripped)
  - counters (reference stdout totals vs engine TableMetrics)

Only non-"required property" errors are seeded: the reference repairs
missing-field documents and its repair path crashes on several of them
(main.py:113 KeyError on missing job, main2.py:242 NameError on
missing name) — that divergence is documented and tested as such in
test_etl_pipeline.py, not timed or diffed here.

Likewise excluded from the live diff because they CRASH the reference
outright (uncaught JSONDecodeError — the malformed-JSON crash class,
each pinned as documented divergence in test_etl_pipeline.py): UTF-8
BOM-prefixed documents, and RAW (unescaped) control characters inside
strings — literal TAB, lone CR — which strict json.load rejects.
Their escape-sequence twins (\\r, \\r\\n) ARE diffed here, through the
CSV quoting path.
"""

from __future__ import annotations

import csv
import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

from tests.reference import needs_reference

N_VALID = 100

# Every invalid doc is parseable JSON whose best_match message does NOT
# contain "is a required property" — the reference's drop path, fully
# survivable by both binaries. Shapes chosen to cover: leaf type errors
# in payload and metadata, envelope-level type errors, null leaves,
# integer-vs-float, and multi-error docs (best_match priority).
def _invalid_user_docs() -> dict[str, dict]:
    meta = {"type": "user", "event_at": "2023-10-05 22:55:01", "event_id": "x"}
    payload = {
        "id": 1,
        "name": "Ada Lovelace",
        "address": "1 Main St\nCity, ST 11111",
        "job": "Engineer",
        "score": 5.0,
    }

    def u(**over):
        p = dict(payload)
        p.update(over)
        return {"metadata": dict(meta), "payload": p}

    return {
        "bad_score_str.json": u(score="high"),
        "bad_id_str.json": u(id="abc"),
        "bad_id_float.json": u(id=3.5),
        "bad_name_num.json": u(name=123),
        "bad_addr_null.json": u(address=None),
        "bad_payload_list.json": {"metadata": dict(meta), "payload": []},
        "bad_payload_null.json": {"metadata": dict(meta), "payload": None},
        "bad_metadata_num.json": {"metadata": 7, "payload": dict(payload)},
        "bad_event_at_num.json": {
            "metadata": {**meta, "event_at": 42},
            "payload": dict(payload),
        },
        # multi-error docs: jsonschema's validate() raises
        # best_match(...) — the engine must pick the SAME error
        "bad_two_leaf_errors.json": u(id="abc", score="high"),
        "bad_leaf_and_meta.json": {
            "metadata": {**meta, "type": 9},
            "payload": {**payload, "score": "high"},
        },
        "bad_both_envelopes.json": {"metadata": [], "payload": 3},
        # not even an object at the top level — json.load succeeds,
        # validate says "... is not of type 'object'", drop path
        "bad_top_array.json": [1, 2, 3],
        "bad_top_string.json": "just a string",
        "bad_top_number.json": 42,
        # --- round-3 corpus: nested-envelope type confusions ---
        # booleans where numbers expected: jsonschema SPECIAL-CASES bool
        # (True is an int in Python but NOT a valid "integer"/"number")
        # — classic engine-divergence bait
        "bad_score_bool.json": u(score=True),
        "bad_id_bool.json": u(id=True),
        # numeric STRINGS where numbers expected (no coercion in
        # draft-07: "3" is not of type 'integer')
        "bad_id_numstr.json": u(id="3"),
        "bad_score_numstr.json": u(score="5.0"),
        # containers where leaves expected (nested one level down)
        "bad_name_obj.json": u(name={"first": "Ada"}),
        "bad_addr_list.json": u(address=["1 Main St"]),
        "bad_job_float.json": u(job=3.5),
        # metadata-leaf confusions
        "bad_meta_type_obj.json": {
            "metadata": {**meta, "type": {"t": "user"}},
            "payload": dict(payload),
        },
        "bad_meta_eventid_num.json": {
            "metadata": {**meta, "event_id": 7},
            "payload": dict(payload),
        },
        "bad_meta_eventat_bool.json": {
            "metadata": {**meta, "event_at": False},
            "payload": dict(payload),
        },
        # envelope-level scalar/bool confusions
        "bad_payload_numstr.json": {"metadata": dict(meta), "payload": "123"},
        "bad_payload_bool.json": {"metadata": dict(meta), "payload": True},
        "bad_metadata_bool.json": {"metadata": False, "payload": dict(payload)},
        "bad_top_bool.json": True,
        # multi-error across BOTH envelopes' leaves: best_match must
        # pick the same one of the two
        "bad_nested_multi.json": {
            "metadata": {**meta, "event_id": 1},
            "payload": {**payload, "name": []},
        },
        # filename edge cases: spaces / unicode / extra dots must flow
        # through the error log AND the quarantine copy byte-for-byte
        "bad name with spaces.json": u(score="nope"),
        "bad_näme_ünicode.json": u(id="x"),
        "bad.multi.dots.json": u(address=7),
        # --- round-4 corpus: numeric-extreme envelopes ---
        # arbitrary-precision int where a string is required: Python
        # repr prints exact digits; the engine's wide-int render must too
        "bad_name_huge_int.json": u(name=10**25),
        # non-integral scientific float on an integer field: the
        # message must carry Python float repr ('1.5e-05'), which the
        # engine derives by pythonizing the JVM's '1.5E-5'
        "bad_id_sci_float.json": u(id=1.5e-5),
        "bad_id_neg_sci.json": u(id=-1.234e-4),
        # --- round-5 corpus: deeply-nested containers where leaves are
        # expected — the error message embeds Python's repr of the
        # whole nested value (dict/list/None/bool spellings, quote
        # style, ', ' separators) which the engine's render_value must
        # reproduce recursively
        "bad_name_deep_obj.json": u(
            name={"a": {"b": {"c": [1, {"d": None}], "e": True}}}
        ),
        "bad_score_deep_list.json": u(score=[[1, 2.5], {"x": False}, []]),
        "bad_meta_eventat_deep.json": {
            "metadata": {**meta, "event_at": {"t": [{"u": "2023"}]}},
            "payload": dict(payload),
        },
        # float-boundary invalids: -0.0 on an integer field is
        # integral (is_integer() → True) so NOT seeded invalid; but a
        # just-past-2^53 float on a string field renders via repr
        "bad_name_2p53_float.json": u(name=float(2**53) + 2.0),
        # r5b: empty containers as leaf values — repr prints [] / {}
        "bad_job_empty_list.json": u(job=[]),
        "bad_score_empty_obj.json": u(score={}),
        # --- round-7 corpus: Python-repr STRING escaping in messages
        # (fuzz r7 find: the engine wrapped failing string values in
        # plain quotes; jsonschema uses repr(), which escapes control
        # chars with \n/\xXX/\uXXXX short/hex forms and switches to
        # DOUBLE quotes when the value contains ' but not ")
        "bad_score_newline_str.json": u(score="5\n0"),
        "bad_score_tab_str.json": u(score="x\ty"),
        "bad_score_apostrophe.json": u(score="it's"),
        "bad_score_both_quotes.json": u(score="both'\"q"),
        "bad_score_c1_control.json": u(score="a\x85b"),
        "bad_score_nul_str.json": u(score="nul\x00z"),
        "bad_score_nbsp.json": u(score="a\xa0b"),
        "bad_score_zwsp.json": u(score="​z"),
        "bad_score_backslash.json": u(score="back\\slash"),
        # printable non-ASCII stays LITERAL in repr (and must land in
        # errors.log as UTF-8 bytes)
        "bad_score_accented.json": u(score="café"),
        # non-ASCII in a DIFFERENT field of an invalid doc: the
        # quarantine copy must stay byte-identical around it
        "bad_id_with_accent_name.json": u(id="x", name="Renée Descartes"),
        # deeply nested container as a leaf value (round 7): both
        # parsers survive depth 300 (the reference's json.load
        # RecursionError class starts past ~1000 — pinned as a crash
        # divergence in test_etl_pipeline.py) and the message embeds
        # the 600-char container repr through the raw-container +
        # whole-message-pythonize path
        "bad_name_deep_nest.json": u(
            name=__import__("functools").reduce(lambda a, _: [a], range(299), [])
        ),
    }


def _invalid_card_docs(card: dict) -> dict[str, dict]:
    def c(fn, **over):
        doc = json.loads(json.dumps(card))
        doc["payload"].update(over)
        doc["metadata"]["event_id"] = f"cbad_{fn}"
        return doc

    bad_env = json.loads(json.dumps(card))
    bad_env["payload"] = 5
    return {
        "bad_active_str.json": c("a", active="yes"),
        "bad_payload_num.json": bad_env,
        # round-3: bool-as-integer and int-as-boolean traps
        "bad_userid_bool.json": c("b", user_id=True),
        "bad_active_num.json": c("d", active=1),
        # round-7: the cards message CASE gets the same repr-escape
        # bait as users (the r6 codegen blowup was CARDS-ONLY — this
        # schema's validity chain deserves its own live coverage):
        # quote-choice, control-char hex escape, container repr
        "bad_active_quote_str.json": c("e", active="it's on"),
        "bad_active_ctl_str.json": c("f", active="y\x85e\ts"),
        "bad_userid_numstr.json": c("g", user_id="9"),
        "bad_userid_deep_obj.json": c("h", user_id={"a": [1, {"b": None}]}),
        "bad_created_num.json": c("i", created_by_name=3.5),
        "bad_updated_bool.json": c("j", updated_at=False),
    }


def _multi_error_card_docs(card: dict) -> dict[str, dict]:
    """Round-8 frontier (VERDICT r7 #10): MULTI-error cards documents.
    jsonschema's validate() raises the FIRST error of iter_errors(),
    whose order is the SCHEMA's keyword/property order (envelope
    `properties` iterates payload before metadata; payload properties
    iterate id, user_id, created_by_name, updated_at, created_at,
    active) — so with several simultaneous leaf errors the reported
    message is a deterministic function of schema order that the
    engine's when-chain must reproduce, including when the instance's
    key order DISAGREES with the schema's."""

    def c(fn, payload_over=None, meta_over=None):
        doc = json.loads(json.dumps(card))
        doc["payload"].update(payload_over or {})
        doc["metadata"].update(meta_over or {})
        doc["metadata"]["event_id"] = f"cmulti_{fn}"
        return doc

    out = {
        # two payload leaves: schema order says user_id wins over active
        "multi_uid_active.json": c("a", {"user_id": "x", "active": 3}),
        # schema order id < user_id even when the instance lists
        # user_id first — rebuild payload with reversed key order
        "multi_id_uid_reorder.json": None,  # filled below
        # payload leaf vs metadata leaf: envelope order payload-first
        "multi_payload_meta.json": c(
            "b", {"active": 1.5}, {"type": 7}
        ),
        # two metadata leaves: type precedes event_at in the schema
        "multi_meta_two.json": c(
            "d", None, {"type": [], "event_at": 9}
        ),
        # envelope-level payload error + metadata leaf error: the
        # payload type check fires before metadata's properties walk
        "multi_env_meta.json": None,  # filled below
        # three simultaneous leaf errors spanning both envelopes
        "multi_three.json": c(
            "e",
            {"created_by_name": False, "active": "no"},
            {"event_at": None},
        ),
    }
    reorder = json.loads(json.dumps(card))
    reorder["payload"] = {
        "user_id": "second-in-schema",
        "active": True,
        "id": "first-in-schema",
        "created_by_name": "G H",
        "updated_at": "2023-11-05 10:00:00",
        "created_at": "2023-10-05 09:00:00",
    }
    reorder["metadata"]["event_id"] = "cmulti_r"
    out["multi_id_uid_reorder.json"] = reorder
    env = json.loads(json.dumps(card))
    env["payload"] = ["not", "an", "object"]
    env["metadata"]["type"] = 0
    env["metadata"]["event_id"] = "cmulti_env"
    out["multi_env_meta.json"] = env
    return out


def _edge_valid_user_docs() -> dict[str, dict]:
    """VALID documents exercising the reference's string-semantics edge
    paths live: Python str.lstrip()'s Unicode whitespace set (NBSP,
    LINE SEPARATOR — wider than Java regex \\s), str.capitalize()'s
    titlecase mapping, the 3/4-token name prefix/suffix rules, multi-
    newline addresses, and int-typed JSON numbers."""
    meta = {"type": "user", "event_at": "2023-10-06 22:55:01"}

    def u(eid, **over):
        p = {
            "id": 9000 + int(eid[1:]),
            "name": "Ada Lovelace",
            "address": "1 Main St\nCity, ST 11111",
            "job": "Engineer",
            "score": 5.5,
        }
        p.update(over)
        return {"metadata": {**meta, "event_id": eid}, "payload": p}

    return {
        "edge_job_unicode_ws.json": u(
            "e9001", job="Engineer, \u00a0\u2028senior ops"
        ),
        "edge_job_titlecase.json": u("e9002", job="artist, \u01c6ungle specialist"),
        "edge_name_4tok.json": u("e9003", name="Ada Maria Lovelace PhD"),
        "edge_name_3tok_title.json": u("e9004", name="Mr. Jos\u00e9 Garc\u00eda"),
        "edge_name_3tok_plain.json": u("e9005", name="Zo\u00eb Anne Smith"),
        "edge_name_nbsp_token.json": u("e9006", name="Zoe\u00a0Q Smith"),
        "edge_addr_multinewline.json": u(
            "e9007", address="1 A St\n\nCity, ST 99999"
        ),
        "edge_score_int.json": u("e9008", score=42),
        "edge_name_5tok.json": u("e9009", name="A B C D E"),
        # VALID docs behind odd filenames: the scan must ingest them
        "edge name spaced.json": u("e9010"),
        "edge_ünïcode_name.json": u("e9011"),
        # --- round-4: astral/combining-mark strings (paired
        # surrogates in UTF-8, NFD decomposition) through the name
        # tokenizer + titlecase path
        "edge_name_emoji.json": u("e9012", name="Ada 👩‍🔬 Lovelace"),
        "edge_name_nfd.json": u("e9013", name="José garcía Sr."),
        # huge ints (valid "integer": Python ints are unbounded; the
        # engine carries them as scale-0 variant decimals ≤ 38 digits)
        "edge_id_2pow63.json": u("e9014", id=9223372036854775808),
        "edge_id_1e25.json": u("e9015", id=10**25),
        # float extremes (valid "number"): CSV must print Python repr
        "edge_score_1e308.json": u("e9016", score=1e308),
        "edge_score_sci_small.json": u("e9017", score=1.5e-5),
        # r5b: EMPTY STRING leaves through the name-split and job paths
        # (''.split(' ') → [''] in Python: 1 token, no prefix/suffix)
        "edge_name_empty.json": u("e9018", name=""),
        "edge_job_empty.json": u("e9019", job=""),
        # whitespace-only name: token splitting on multi-space
        "edge_name_spaces.json": u("e9020", name="   "),
        # astral-plane text through the job capitalize path (escaped
        # surrogate pair decodes to 𝕊, a Mathematical double-struck S
        # with NO titlecase mapping — must pass through unchanged)
        "edge_job_astral.json": u("e9021", job="𝕊pecial, effects wizard"),
    }


# RAW-TEXT valid docs: shapes json.dumps cannot express — duplicate
# object keys (Python json.load keeps the LAST; the engine needs
# spark.sql.variant.allowDuplicateKeys for the same last-wins), a JSON
# float literal overflowing to inf (1e400 → score 'inf'), an
# integral-valued giant float literal on an integer field (Python
# parses '…. 5' to float 1e25, is_integer() → VALID, prints '1e+25'),
# and an escaped surrogate PAIR decoding to an astral char.
def _raw_valid_user_docs() -> dict[str, str]:
    def u(eid: str, payload_json: str) -> str:
        return (
            '{"metadata": {"type": "user", "event_at": "2023-10-06 22:55:01",'
            f' "event_id": "{eid}"}},\n "payload": {payload_json}}}'
        )

    base = (
        '"name": "Ada Lovelace", "address": "1 Main St\\nCity, ST 11111",'
        ' "job": "Engineer"'
    )
    return {
        "raw_dup_key_last_valid.json": u(
            "r9101", '{"id": "bad", "id": 9101, %s, "score": 5.0}' % base
        ),
        "raw_score_inf.json": u(
            "r9102", '{"id": 9102, %s, "score": 1e400}' % base
        ),
        "raw_id_giant_float.json": u(
            "r9103",
            '{"id": 10000000000000000000000000.5, %s, "score": 5.0}' % base,
        ),
        "raw_surrogate_pair_name.json": u(
            "r9104",
            '{"id": 9104, "name": "Ada \\ud83d\\ude00 Lovelace",'
            ' "address": "A\\nB", "job": "Engineer", "score": 5.0}',
        ),
        # round-4b: bare non-standard number literals (Python json.load
        # accepts NaN/Infinity/-Infinity by default; jsonschema counts
        # NaN as a "number", so the doc is VALID and the CSV must carry
        # Python's 'nan'/'-inf' spellings)
        "raw_score_nan.json": u(
            "r9105", '{"id": 9105, %s, "score": NaN}' % base
        ),
        "raw_score_neg_infinity.json": u(
            "r9106", '{"id": 9106, %s, "score": -Infinity}' % base
        ),
        # \u-escaped characters inside object KEYS: 'name' decodes
        # to 'name' in both parsers, so the doc is VALID and complete
        "raw_escaped_key.json": u(
            "r9107",
            '{"id": 9107, "\\u006eame": "Ada Lovelace",'
            ' "address": "1 Main St\\nCity, ST 11111",'
            ' "job": "Engineer", "score": 5.0}',
        ),
        # integral-valued exponent literal on an integer field:
        # Python parses 1E+4 to float 10000.0, is_integer() → VALID,
        # CSV prints '10000.0'
        "raw_id_exp_int.json": u(
            "r9108", '{"id": 1E+4, %s, "score": 5.0}' % base
        ),
        # --- round-5 corpus ---
        # escaped CR / CRLF inside string values: json.load produces
        # real control chars, and Python's csv.DictWriter QUOTES any
        # field containing \r — the engine's CSV sink must frame the
        # same bytes identically (the address path already exercises
        # \n; \r and \r\n take different quoting/line-ending paths)
        "raw_addr_cr.json": u(
            "r9109",
            '{"id": 9109, "name": "Ada Lovelace",'
            ' "address": "1 Main St\\rCity, ST 11111",'
            ' "job": "Engineer", "score": 5.0}',
        ),
        "raw_addr_crlf.json": u(
            "r9110",
            '{"id": 9110, "name": "Ada Lovelace",'
            ' "address": "1 Main St\\r\\nCity, ST 11111",'
            ' "job": "Engineer", "score": 5.0}',
        ),
        # duplicate keys at the ENVELOPE level (last wins in both
        # parsers: the first metadata here is invalid, the last valid)
        # and inside the metadata object (last event_id wins)
        "raw_dup_metadata_env.json": (
            '{"metadata": {"type": 9, "event_at": 1, "event_id": 2},\n'
            ' "metadata": {"type": "user",'
            ' "event_at": "2023-10-06 22:55:01", "event_id": "r9111"},\n'
            ' "payload": {"id": 9111, %s, "score": 5.0}}' % base
        ),
        "raw_dup_meta_eventid.json": (
            '{"metadata": {"type": "user",'
            ' "event_at": "2023-10-06 22:55:01",'
            ' "event_id": "WRONG", "event_id": "r9112"},\n'
            ' "payload": {"id": 9112, %s, "score": 5.0}}' % base
        ),
        # NOTE: -0.0 is deliberately NOT live-diffed. Spark's variant
        # parser stores JSON decimals as BigDecimal, which has no
        # negative zero — the sign is unrecoverable and the engine
        # prints '0.0' where Python prints '-0.0'. Engine-defined
        # divergence, pinned in
        # test_etl_pipeline.py::test_negative_zero_sign_divergence
        # (recovering the sign would need an always-on raw-text token
        # rewrite whose quoted-string collision class is worse than the
        # divergence).
        # int-overflow boundary: 2^53±1 as INT literals are exact
        # unbounded ints in Python (and ≤38-digit variant decimals in
        # the engine) — the CSV must print all digits, not a rounded
        # double
        "raw_id_2p53_plus1.json": u(
            "r9114", '{"id": 9007199254740993, %s, "score": 5.0}' % base
        ),
        "raw_id_2p53_minus1.json": u(
            "r9115", '{"id": 9007199254740991, %s, "score": 5.0}' % base
        ),
        # 2^53-boundary FLOAT literal on the number field: parses to
        # 9007199254740992.0, repr stays positional (< 1e16) — the
        # engine's JVM-sci-notation pythonizer must produce the
        # positional form, not '9.007199254740992e+15'
        "raw_score_2p53_float.json": u(
            "r9116", '{"id": 9116, %s, "score": 9007199254740992.0}' % base
        ),
        # r5b: duplicate key where the FIRST occurrence is the invalid
        # one — last-wins must resurrect the doc in both parsers
        "raw_dup_first_invalid.json": u(
            "r9117", '{"id": "bad", "id": 9117, "id": 9117, %s,'
            ' "score": 5.0}' % base
        ),
        # --- round-6 corpus: the CSV QUOTING layer (the r5b verbatim-
        # write fix touched framing; these target the quote-escape
        # path). Python's csv.DictWriter doubles embedded quotes
        # (RFC 4180); Spark's writer default BACKSLASH-escapes them —
        # a form csv.DictReader does not unescape, so the value
        # round-tripped corrupt until the sink pinned escape='"'
        # (fuzz round 6 find).
        "raw_addr_embedded_quote.json": u(
            "r9118",
            '{"id": 9118, "name": "Ada Lovelace",'
            ' "address": "1 \\"Main\\" St",'
            ' "job": "Engineer", "score": 5.0}',
        ),
        # quote AND the separator comma in one value (ONE comma — the
        # reference's fix_job_field crashes on more, the documented
        # >1-comma class): quoting must win over splitting, and the
        # doubled quote must sit inside the quoted frame
        "raw_job_quote_comma.json": u(
            "r9119",
            '{"id": 9119, "name": "Ada Lovelace", "address": "A\\nB",'
            ' "job": "Engineer, \\"data\\" misc", "score": 5.0}',
        ),
        # quote + CRLF in ONE field: both special classes in a single
        # frame (quote doubling inside a multi-line quoted field)
        "raw_addr_quote_crlf.json": u(
            "r9120",
            '{"id": 9120, "name": "Ada Lovelace",'
            ' "address": "say \\"hi\\"\\r\\nRoom 2, Floor 3",'
            ' "job": "Engineer", "score": 5.0}',
        ),
        # leading/trailing quote chars (the frame-adjacent positions)
        "raw_name_edge_quotes.json": u(
            "r9121",
            '{"id": 9121, "name": "\\"Ada\\" \\"Lovelace\\"",'
            ' "address": "A\\nB", "job": "Engineer", "score": 5.0}',
        ),
        # duplicate key where one spelling is \u-ESCAPED: both parsers
        # decode escapes BEFORE duplicate resolution (probed), so
        # 'id' collides with 'id' and the last value wins
        "raw_dup_escaped_spelling.json": u(
            "r9122",
            '{"id": "bad", "\\u0069d": 9122, "name": "Ada Lovelace",'
            ' "address": "A\\nB", "job": "Engineer", "score": 5.0}',
        ),
        # embedded NUL inside a string value: json decodes the u0000 escape to a
        # raw NUL and both CSV writers emit the byte verbatim (probed —
        # NUL is not str.split() whitespace, so name_norm is unfazed)
        "raw_name_nul.json": u(
            "r9123",
            '{"id": 9123, "name": "Ada\\u0000X Lovelace",'
            ' "address": "A\\nB", "job": "Engineer", "score": 5.0}',
        ),
        # --- round-7: raw multi-byte UTF-8 in VALID docs — the CSV
        # output path must carry the exact bytes (no \\u escaping, no
        # NFC/NFD drift); name_norm's capitalize must handle é
        "raw_name_utf8.json": u(
            "r9124",
            '{"id": 9124, "name": "rené descartes-lefèvre",'
            ' "address": "1 Rué St\\nVille", "job": "Ingénieur",'
            ' "score": 5.0}',
        ),
        "raw_name_emoji.json": u(
            "r9125",
            '{"id": 9125, "name": "Ada \U0001F600 Lovelace",'
            ' "address": "A\\nB", "job": "Engineer", "score": 5.0}',
        ),
    }


def _raw_invalid_user_docs() -> dict[str, str]:
    """RAW-TEXT invalid docs: duplicate key whose LAST occurrence is the
    bad one (drop, same best_match message), and an infinite float on an
    integer field (message must render Python's 'inf')."""
    def u(eid: str, payload_json: str) -> str:
        return (
            '{"metadata": {"type": "user", "event_at": "2023-10-05 22:55:01",'
            f' "event_id": "{eid}"}},\n "payload": {payload_json}}}'
        )

    base = (
        '"name": "Ada Lovelace", "address": "1 Main St\\nCity, ST 11111",'
        ' "job": "Engineer"'
    )
    return {
        "raw_dup_key_last_invalid.json": u(
            "r9201", '{"id": 9201, "id": "bad", %s, "score": 5.0}' % base
        ),
        "raw_id_inf.json": u(
            "r9202", '{"id": 1e400, %s, "score": 5.0}' % base
        ),
        # bare NaN on an integer field: float('nan').is_integer() is
        # False → dropped, message must render Python's 'nan'
        "raw_id_nan.json": u(
            "r9203", '{"id": NaN, %s, "score": 5.0}' % base
        ),
        # --- round-7: duplicate payload keys where BOTH occurrences
        # are invalid with DIFFERENT type-error messages — last-wins
        # resolution happens BEFORE validation in both parsers, so the
        # message must be the LAST value's ("True is not of type
        # 'integer'", never "'bad' ...")
        "raw_dup_both_invalid.json": u(
            "r9204", '{"id": "bad", "id": true, %s, "score": 5.0}' % base
        ),
        "raw_dup_score_both_invalid.json": u(
            "r9205", '{"id": 9205, %s, "score": [], "score": "x"}' % base
        ),
        # raw multi-byte UTF-8 in an INVALID doc: quarantine must copy
        # the bytes verbatim and the message must carry them literally
        # (é is printable — repr does not escape it)
        "raw_invalid_utf8_name.json": u(
            "r9206",
            '{"id": "bad", "name": "Renée \U0001F600 Descartes",'
            ' "address": "A\\nB", "job": "Engineer", "score": 5.0}',
        ),
    }


def _build_corpus(dest) -> None:
    from local_etl_spark.etl.corpus import generate

    (dest / "users").mkdir(parents=True)
    (dest / "cards").mkdir()
    for s in ("user-events-schema.json", "card-events-schema.json"):
        shutil.copy(f"/root/reference/{s}", dest / s)
    for i, raw in enumerate(
        generate(N_VALID, seed=11, corrupt_rate=0, repair_rate=0)
    ):
        (dest / "users" / f"ev{i:05d}.json").write_text(
            json.dumps(json.loads(raw), indent=2)
        )
    for fn, doc in _invalid_user_docs().items():
        (dest / "users" / fn).write_text(json.dumps(doc, indent=2))
    for fn, doc in _edge_valid_user_docs().items():
        (dest / "users" / fn).write_text(json.dumps(doc, indent=2))
    for fn, raw in {**_raw_valid_user_docs(), **_raw_invalid_user_docs()}.items():
        (dest / "users" / fn).write_text(raw)
    # cards: a couple of valid + the same error classes
    card = {
        "payload": {
            "id": 0,
            "user_id": 3,
            "created_by_name": "Grace Hopper",
            "updated_at": "2023-11-05 10:00:00",
            "created_at": "2023-10-05 09:00:00",
            "active": True,
        },
        "metadata": {
            "type": "card",
            "event_at": "2023-10-05 22:55:01",
            "event_id": "c0",
        },
    }
    for i in range(10):
        doc = json.loads(json.dumps(card))
        doc["payload"]["id"] = i
        doc["metadata"]["event_id"] = f"c{i}"
        (dest / "cards" / f"cd{i:05d}.json").write_text(json.dumps(doc, indent=2))
    for fn, doc in _invalid_card_docs(card).items():
        (dest / "cards" / fn).write_text(json.dumps(doc, indent=2))
    for fn, doc in _multi_error_card_docs(card).items():
        (dest / "cards" / fn).write_text(json.dumps(doc, indent=2))


def _run_reference(script: str, cwd) -> str:
    proc = subprocess.run(
        [sys.executable, script],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return proc.stdout


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
def fuzz_run(spark, tmp_path_factory):
    from local_etl_spark.etl.pipeline import run_pipeline

    base = tmp_path_factory.mktemp("refdiff_fuzz")
    ref1, ref2 = base / "ref1", base / "ref2"
    _build_corpus(ref1)
    shutil.copytree(ref1, ref2)
    out1 = _run_reference("/root/reference/main.py", ref1)
    out2 = _run_reference("/root/reference/main2.py", ref2)

    out = base / "engine"
    cfg = _engine_cfg(ref1, out)
    metrics = run_pipeline(spark, cfg, version=2)
    metrics_v1 = run_pipeline(spark, cfg, version=1)
    return ref1, ref2, out, out1, out2, metrics, metrics_v1


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


def _ref_error_entries(log_path) -> set[tuple[str, str]]:
    """(file basename, message) pairs; timestamp prefix stripped."""
    out = set()
    if not os.path.exists(log_path):
        return out
    for line in open(log_path, encoding="utf-8").read().splitlines():
        if not line.strip():
            continue
        # '{ts}, ERROR, SCHEMA ERR, {file}, {msg...}'
        parts = line.split(", ", 4)
        assert parts[1] == "ERROR" and parts[2] == "SCHEMA ERR", line
        out.add((os.path.basename(parts[3]), parts[4]))
    return out


def _engine_error_entries(errors_dir) -> set[tuple[str, str]]:
    out = set()
    for part in glob.glob(os.path.join(errors_dir, "part-*")):
        for line in open(part, encoding="utf-8").read().splitlines():
            if not line.strip():
                continue
            parts = line.split(", ", 4)
            assert parts[1] == "ERROR" and parts[2] == "SCHEMA ERR", line
            out.add((os.path.basename(parts[3]), parts[4]))
    return out


@needs_reference
def test_valid_rows_survive_v1_and_v2(fuzz_run):
    ref1, ref2, out, *_ = fuzz_run
    n_valid = N_VALID + len(_edge_valid_user_docs()) + len(_raw_valid_user_docs())
    ref_v1 = _ref_rows(str(ref1 / "users.csv"))
    assert len(ref_v1) == n_valid  # every invalid doc was dropped
    _diff(ref_v1, _engine_rows(str(out / "users_flat.csv")), "event_id")
    ref_v2 = _ref_rows(str(ref2 / "users.csv"))
    assert len(ref_v2) == n_valid
    _diff(ref_v2, _engine_rows(str(out / "users.csv")), "event_id")
    ref_cards = _ref_rows(str(ref2 / "cards.csv"))
    assert len(ref_cards) == 10
    _diff(ref_cards, _engine_rows(str(out / "cards.csv")), "event_id")


@needs_reference
def test_error_log_messages_match_best_match(fuzz_run):
    """The engine's compiled when-chain must reproduce jsonschema
    best_match()'s choice for every seeded shape — including the
    multi-error documents where picking the WRONG error of two is the
    classic divergence."""
    ref1, ref2, out, *_ = fuzz_run
    ref_entries = _ref_error_entries(str(ref1 / "errors.log"))
    eng_entries = _engine_error_entries(str(out / "errors.log.d"))
    # engine ran twice (v2 then v1): errors duplicate as a set no-op
    assert len(ref_entries) == (
        len(_invalid_user_docs())
        + len(_raw_invalid_user_docs())
        + len(_invalid_card_docs({"payload": {}, "metadata": {}}))
        + len(_multi_error_card_docs({"payload": {}, "metadata": {}}))
    )
    assert ref_entries == eng_entries, (
        sorted(ref_entries - eng_entries)[:3],
        sorted(eng_entries - ref_entries)[:3],
    )
    # v2 reference logs the identical set
    assert _ref_error_entries(str(ref2 / "errors.log")) == ref_entries


@needs_reference
def test_quarantine_files_byte_identical(fuzz_run):
    ref1, _, out, *_ = fuzz_run
    from local_etl_spark.session import get_spark

    spark = get_spark()
    for table, qdir in (("users", "users_q"), ("cards", "cards_q")):
        ref_dir = ref1 / f"{table}_schema_mismatches"
        ref_files = {
            os.path.basename(p): open(p, encoding="utf-8").read()
            for p in glob.glob(str(ref_dir / "*.json"))
        }
        eng = {
            os.path.basename(r["file_path"]): r["raw"]
            for r in spark.read.parquet(str(out / qdir)).collect()
        }
        assert set(ref_files) == set(eng), (table, set(ref_files) ^ set(eng))
        diff = [f for f in ref_files if ref_files[f] != eng[f]]
        assert not diff, (table, diff[:3])


@needs_reference
def test_counters_match_reference_stdout(fuzz_run):
    *_, stdout1, stdout2, metrics, metrics_v1 = fuzz_run

    def parse(block: str) -> dict[str, tuple[int, int, int]]:
        res, cur = {}, None
        for line in block.splitlines():
            if line.startswith("Total JSON data files for"):
                cur = line.split('"')[1]
                res[cur] = [int(line.rsplit(": ", 1)[1]), 0, 0]
            elif line.startswith("Number of files that match schema"):
                res[cur][1] = int(line.rsplit(": ", 1)[1])
            elif line.startswith("Number of files with schema errors"):
                res[cur][2] = int(line.rsplit(": ", 1)[1])
        return {k: tuple(v) for k, v in res.items()}

    ref_counts = parse(stdout1)
    assert parse(stdout2) == ref_counts
    for ms in (metrics, metrics_v1):
        got = {
            m.table: (m.file_count, m.valid_count, m.invalid_count) for m in ms
        }
        assert got == ref_counts


# --- randomized mutation corpus ------------------------------------------
# A seeded generator derives N invalid documents by substituting a
# random wrong-typed value at a random schema path — generalizing the
# hand-picked shapes above. Every generated doc keeps all required
# fields present, so the reference's survivable drop path handles it.

_MUT_PATHS = [
    ("payload", "id"),
    ("payload", "name"),
    ("payload", "address"),
    ("payload", "job"),
    ("payload", "score"),
    ("metadata", "type"),
    ("metadata", "event_at"),
    ("metadata", "event_id"),
    ("payload",),
    ("metadata",),
]
_MUT_VALUES = [
    None,
    True,
    False,
    0,
    -1,
    3.5,
    "0",
    "true",
    "",
    [],
    [1],
    {},
    {"k": 1},
    "ünïcode",
    "x" * 300,
    # round-4: arbitrary-precision ints (valid wherever ints are;
    # exact-digit reprs in messages elsewhere) and a scientific float
    # whose message repr differs between the JVM ('1.5E-5') and
    # Python ('1.5e-05')
    10**25,
    2**63,
    1.5e-5,
    # round-4b: non-standard number tokens (json.dumps emits the bare
    # NaN/Infinity literals with allow_nan=True, exactly what the
    # reference's json.load reads back) — exercises nan/inf landing on
    # STRING and INTEGER fields, whose messages must render Python's
    # 'nan'/'inf'/'-inf' spellings
    float("nan"),
    float("inf"),
    float("-inf"),
    # round-5: 2^53 exact-integer boundary (int stays exact/unbounded
    # in Python; the float twin rounds to an even mantissa and must
    # print positionally, not scientific). -0.0 is excluded: variant
    # decimals cannot carry the sign of zero — documented divergence
    # pinned in test_etl_pipeline.py.
    2**53 + 1,
    float(2**53),
    # round-7: repr-escape bait — failing STRING values whose message
    # rendering exercises the py_repr_str quote choice and hex escapes
    # (these land on number/integer fields via the path sampler)
    "5\n0",
    "it's",
    "a\x85b",
    "nul\x00z",
    "back\\slash",
    "both'\"q",
    "café ​",
]


def _mutation_corpus(n: int, seed: int) -> dict[str, dict]:
    import random

    rng = random.Random(seed)
    meta = {"type": "user", "event_at": "2023-10-05 22:55:01", "event_id": "m"}
    payload = {
        "id": 1,
        "name": "Ada Lovelace",
        "address": "1 Main St\nCity, ST 11111",
        "job": "Engineer",
        "score": 5.0,
    }
    out = {}
    made = 0
    while made < n:
        path = rng.choice(_MUT_PATHS)
        val = rng.choice(_MUT_VALUES)
        doc = {"metadata": dict(meta), "payload": dict(payload)}
        cur = doc
        for k in path[:-1]:
            cur = cur[k]
        orig = cur[path[-1]]
        if val == orig or (isinstance(val, type(orig)) and not isinstance(val, bool)):
            continue  # still-valid substitution — skip
        # validity exceptions the schema actually permits
        if path == ("payload", "score") and isinstance(val, (int, float)) and not isinstance(val, bool):
            continue  # score is "number": ints are valid
        if path[-1] in ("name", "address", "job", "type", "event_at", "event_id") and isinstance(val, str):
            continue  # plain strings stay valid (format not asserted)
        if path in (("payload",), ("metadata",)) and isinstance(val, dict):
            continue  # {} drops required keys → "required property" path
        cur[path[-1]] = val
        out[f"mut_{made:03d}.json"] = doc
        made += 1
    return out


def _card_mutation_corpus(n: int, seed: int) -> dict[str, dict]:
    """Round 7: the cards schema gets its own mutation draw — its
    validity chain compiles separately from users' (the r6 codegen
    blowup was cards-only) and the per-field json types differ
    (boolean `active`, two date-time strings, two integers)."""
    import random

    rng = random.Random(seed)
    meta = {
        "type": "card",
        "event_at": "2023-10-05 22:55:01",
        "event_id": "cm",
    }
    payload = {
        "id": 1,
        "user_id": 9,
        "created_by_name": "Grace Hopper",
        "updated_at": "2023-11-05 10:00:00",
        "created_at": "2023-10-05 09:00:00",
        "active": True,
    }
    int_fields = {"id", "user_id"}
    str_fields = {
        "created_by_name", "updated_at", "created_at",
        "type", "event_at", "event_id",
    }
    paths = (
        [("payload", k) for k in payload]
        + [("metadata", k) for k in ("type", "event_at", "event_id")]
        + [("payload",), ("metadata",)]
    )
    out: dict[str, dict] = {}
    made = 0
    while made < n:
        path = rng.choice(paths)
        val = rng.choice(_MUT_VALUES)
        doc = {"metadata": dict(meta), "payload": dict(payload)}
        doc["metadata"]["event_id"] = f"cm{made:03d}"
        cur = doc
        for k in path[:-1]:
            cur = cur[k]
        if val == cur[path[-1]]:
            continue
        leaf = path[-1]
        # still-valid substitutions the card schema permits
        if leaf in str_fields and isinstance(val, str):
            continue  # format is annotation-only in plain validate()
        if leaf == "active" and isinstance(val, bool):
            continue
        if leaf in int_fields and (
            (isinstance(val, int) and not isinstance(val, bool))
            or (
                isinstance(val, float)
                and val == val  # not NaN
                and abs(val) != float("inf")
                and val == int(val)
            )
        ):
            continue  # draft-07 'integer' admits integral floats too
        if path in (("payload",), ("metadata",)) and isinstance(val, dict):
            continue  # {} drops required keys → repair/crash class
        cur[leaf] = val
        out[f"cmut_{made:03d}.json"] = doc
        made += 1
    return out


@needs_reference
def test_randomized_mutations_match_reference(spark, tmp_path):
    """40 seeded random type mutations: the engine's validation
    when-chain must reproduce jsonschema best_match()'s message for
    every one, and valid rows must be unaffected."""
    from local_etl_spark.etl.pipeline import run_pipeline

    base = tmp_path
    ref = base / "ref"
    (ref / "users").mkdir(parents=True)
    (ref / "cards").mkdir()
    for s in ("user-events-schema.json", "card-events-schema.json"):
        shutil.copy(f"/root/reference/{s}", ref / s)
    from local_etl_spark.etl.corpus import generate

    for i, raw in enumerate(generate(30, seed=23, corrupt_rate=0, repair_rate=0)):
        (ref / "users" / f"ev{i:05d}.json").write_text(
            json.dumps(json.loads(raw), indent=2)
        )
    muts = _mutation_corpus(40, seed=1234)
    for fn, doc in muts.items():
        (ref / "users" / fn).write_text(json.dumps(doc, indent=2))
    cmuts = _card_mutation_corpus(30, seed=5678)
    for fn, doc in cmuts.items():
        (ref / "cards" / fn).write_text(json.dumps(doc, indent=2))

    _run_reference("/root/reference/main2.py", ref)
    ref_entries = _ref_error_entries(str(ref / "errors.log"))
    # every mutation on BOTH schemas was dropped by the reference
    assert len(ref_entries) == len(muts) + len(cmuts)

    out = base / "engine"
    cfg = _engine_cfg(ref, out)
    run_pipeline(spark, cfg, version=2)
    eng_entries = _engine_error_entries(str(out / "errors.log.d"))
    assert ref_entries == eng_entries, (
        sorted(ref_entries - eng_entries)[:5],
        sorted(eng_entries - ref_entries)[:5],
    )
    # valid rows all survived, byte-identical
    ref_rows = _ref_rows(str(ref / "users.csv"))
    assert len(ref_rows) == 30
    _diff(ref_rows, _engine_rows(str(out / "users.csv")), "event_id")
