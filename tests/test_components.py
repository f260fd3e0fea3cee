"""components(): the one connected-components operator, on both tiers.

The driver tier (numpy min_labels) runs below CC_DRIVER_MAX_PAIRS; a
gate of 0 sends every input, even an empty one, to the distributed
hash-to-min loop. Both are checked against a plain union-find.
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from local_etl_spark.queries import _util
from local_etl_spark.queries._util import components, min_labels


def _reference(pairs):
    """{node: least node of its component} by textbook union-find."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@pytest.fixture(params=["driver", "distributed"])
def tier(request, monkeypatch):
    if request.param == "distributed":
        monkeypatch.setattr(_util, "CC_DRIVER_MAX_PAIRS", 0)
    return request.param


def _run(spark, pairs, schema):
    """components() rows as {id: (label, size)}, plus the ids of the
    persisted RDDs the call left behind."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    df = components(spark.createDataFrame(pairs, schema))
    rows = {r["id"]: (r["label"], r["size"]) for r in df.collect()}
    assert df.columns == ["id", "label", "size"]
    return rows, set(jsc.getPersistentRDDs().keySet()) - before


def _check(rows, pairs):
    want = _reference(pairs)
    assert {k: lab for k, (lab, _n) in rows.items()} == want
    sizes = {}
    for lab in want.values():
        sizes[lab] = sizes.get(lab, 0) + 1
    assert all(n == sizes[lab] for lab, n in rows.values())


def test_chain_labels_reach_the_far_end(spark, tier):
    """A 20-node path needs 19 hops for the least id to reach the far
    end: a loop that stops after a fixed 8 rounds mislabels 11 nodes."""
    pairs = [(i, i + 1) for i in range(1, 20)]
    rows, left = _run(spark, pairs, "d1 bigint, d2 bigint")
    _check(rows, pairs)
    assert set(rows.values()) == {(1, 20)}
    # the distributed result reads its own last round; nothing else
    assert len(left) == (0 if tier == "driver" else 1)


def test_string_keys_and_several_components(spark, tier):
    """String node names (graph_mst's forest) label by the least name in
    binary string order; shuffled pair order and a self-loop."""
    pairs = [("s7", "c10"), ("c10", "s12"), ("c2", "s2"), ("s9", "s9")]
    pairs += [(f"c{k}", f"c{k + 1}") for k in range(20, 30)]
    random.Random(7).shuffle(pairs)
    rows, _left = _run(spark, pairs, "u string, v string")
    _check(rows, pairs)
    assert rows["s12"] == ("c10", 3)


def test_empty_pair_list(spark, tier):
    rows, left = _run(spark, [], "d1 bigint, d2 bigint")
    assert rows == {}
    assert len(left) == (0 if tier == "driver" else 1)


def test_min_labels_random_graphs():
    """The numpy union-find against the reference on random sparse
    graphs, from forests of paths to one giant component."""
    rng = np.random.default_rng(11)
    for n, m in ((1, 0), (2, 1), (50, 30), (500, 400), (500, 2000), (3000, 2999)):
        a = rng.integers(0, n, m)
        b = rng.integers(0, n, m)
        got = min_labels(a, b, n)
        want = _reference(zip(a.tolist(), b.tolist()))
        assert all(got[x] == want.get(x, x) for x in range(n)), (n, m)
