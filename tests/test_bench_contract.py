"""Pins for bench.contract_line — the ONE stdout JSON line the driver
records (last-2000-chars capture). No Spark needed."""

from __future__ import annotations

import json

from bench import _PINNED_VISIBLE, contract_line


def _mk(n: int) -> dict:
    return {f"some_quite_long_query_name_{i:03d}": 0.1 + i * 0.037 for i in range(n)}


def test_small_map_keeps_full_precision():
    line = contract_line(12.345678, _mk(10), 0.1)
    d = json.loads(line)
    assert d["metric"] == "headline-suite-total"
    assert d["value"] == 12.345678
    assert len(d["queries"]) == 10
    assert "omitted" not in d
    assert len(line) <= 1850


def test_precision_steps_down_before_pruning():
    # 46 entries of these name lengths: over the cap at 6 significant
    # digits, under it at a reduced level — all entries survive
    timings = _mk(46)
    full = json.dumps(
        {n: float(f"{v:.6g}") for n, v in timings.items()},
        separators=(",", ":"),
    )
    assert len(full) > 1850 - 80  # the borderline premise
    line = contract_line(99.9, timings, 0.1)
    d = json.loads(line)
    assert len(d["queries"]) == 46
    assert "omitted" not in d
    assert len(line) <= 1850


def test_overflow_drops_all_nonpinned_as_a_block():
    # VERDICT r13 #2: once the cap forces pruning, EVERY non-pinned
    # entry drops — the visible set is a function of the name set
    # alone, so timing noise cannot flip a boundary entry in or out
    timings = dict(_mk(40))  # non-pinned filler
    for n in sorted(_PINNED_VISIBLE)[:40]:
        timings[n] = 1.7
    line = contract_line(99.9, timings, 0.1)
    assert len(line) <= 1850
    d = json.loads(line)
    assert d["omitted"] == 40
    assert set(d["queries"]) == set(sorted(_PINNED_VISIBLE)[:40])
    assert d["metric"] == "headline-suite-total" and d["sf"] == 0.1


def test_visibility_is_timing_independent():
    # permuting the measured seconds must not change WHICH entries are
    # visible (the r13 phantom-drop failure mode)
    timings = dict(_mk(30))
    for n in sorted(_PINNED_VISIBLE)[:50]:
        timings[n] = 0.31
    base = set(json.loads(contract_line(99.9, timings, 0.1))["queries"])
    vals = sorted(timings.values(), reverse=True)
    shuffled = dict(zip(sorted(timings), vals))
    again = set(
        json.loads(contract_line(99.9, shuffled, 0.1))["queries"]
    )
    assert base == again


def test_pathological_cap_never_breaks_contract_fields():
    # even with a tiny cap the line stays valid JSON with the totals
    line = contract_line(1.0, _mk(50), 0.01, cap=120)
    d = json.loads(line)
    assert d["value"] == 1.0 and d["queries"] == {}
    assert len(line) <= 120


def test_escape_hatch_prunes_pinned_by_name_etl_last():
    # when the pinned set itself overflows a (squeezed) cap, pinned
    # entries drop in name order and the ETL entries survive longest
    timings = {n: 1.23 for n in _PINNED_VISIBLE}
    timings["etl_files_2000"] = 1.37
    timings["etl_jsonl_50000"] = 2.7
    line = contract_line(99.9, timings, 0.1, cap=700)
    assert len(line) <= 700
    d = json.loads(line)
    assert d["omitted"] >= 1
    assert "etl_files_2000" in d["queries"]
    assert "etl_jsonl_50000" in d["queries"]
    kept_pinned = sorted(n for n in d["queries"] if not n.startswith("etl_"))
    # the survivors are the lexicographic TAIL of the pinned names
    assert kept_pinned == sorted(_PINNED_VISIBLE - {"etl_table_diff", "etl_upsert"})[
        -len(kept_pinned):
    ] or kept_pinned == sorted(_PINNED_VISIBLE)[-len(kept_pinned):]


def test_escape_hatch_survivors_are_timing_independent():
    # the escape hatch picks its drop count at a fixed value width, so
    # the same pinned names survive whatever the measured seconds are
    for cap, value_sets in ((1200, (1.0, 123.4)), (1850, (0.0123, 123.4))):
        kept = [
            set(json.loads(contract_line(
                99.9, dict.fromkeys(_PINNED_VISIBLE, v), 0.1, cap=cap
            ))["queries"])
            for v in value_sets
        ]
        assert kept[0] == kept[1], (cap, [len(k) for k in kept])
        assert 0 < len(kept[0]) < len(_PINNED_VISIBLE)


def test_r14_visible_set_equals_r13_visible_set():
    # the done-criterion: at the real r14 entry census (88 entries =
    # the 76 pinned r13-visible + 12 extras), the visible set is
    # EXACTLY the r13 visible set — the driver reports 0 dropped
    timings = {n: 1.23 for n in _PINNED_VISIBLE}
    timings["etl_files_2000"] = 1.6
    timings["etl_jsonl_50000"] = 2.4
    extras = [
        "llm_dedup_url", "win_rank", "agg_mode", "llm_pack_sequences",
        "llm_text_stats", "llm_repetition", "llm_filter_pipeline",
        "llm_token_entropy", "win_gap_fill", "sink_dynamic_overwrite",
        "scan_csv_malformed", "stream_dedup_extra",
    ]
    for n in extras:
        timings[n] = 0.4
    line = contract_line(76.9, timings, 0.1)
    assert len(line) <= 1850
    d = json.loads(line)
    assert set(d["queries"]) == set(_PINNED_VISIBLE) | {
        "etl_files_2000", "etl_jsonl_50000"
    }
    assert d["omitted"] == len(extras)


def test_headline_names_are_registered_unique_and_cover_pinned():
    # bench.main indexes the registry by every HEADLINE name, so a
    # renamed query fails the bench instead of leaving the contract
    from bench import HEADLINE
    from local_etl_spark.registry import all_queries

    registered = all_queries()
    assert [n for n in HEADLINE if n not in registered] == []
    assert len(set(HEADLINE)) == len(HEADLINE)
    assert _PINNED_VISIBLE <= set(HEADLINE)
