"""Plan-size budget for the ETL validity and render plans.

classify() binds each stage of the validity plan in its own projection
and the v2 payload sink binds each render once (pipeline._v2_stage1), so
every render sits in the optimized plan exactly once. A change that
re-embeds a render — an expression referencing a render twice in one
projection, a stage CollapseProject can now merge, a predicate that
substitutes the message into a filter — multiplies these counts, and
with them the driver's plan-building work and the generated code.

Counts are expression nodes of the optimized plan (lines of each
expression's ``treeString``). Each budget is the count measured when
the staged plan landed, plus 25 %.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.test_etl_golden import golden_docs, golden_schema

# table -> (message projection, payload render projections, filter on ~is_valid)
BUDGET = {
    "users": (372, 3068, 4182),
    "cards": (372, 2978, 4542),
}


def _nodes(expr) -> int:
    return len(expr.treeString().splitlines())


def plan_nodes(df) -> list[tuple[str, set[str], int]]:
    """(operator, names it computes, expression nodes) for every Project
    and Filter of ``df``'s optimized plan; a Project computes the names
    it aliases (pass-through attributes do not count)."""
    out = []
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        kind = node.nodeName()
        if kind == "Project":
            pl = node.projectList()
            exprs = [pl.apply(i) for i in range(pl.size())]
            aliased = {e.name() for e in exprs if e.nodeName() == "Alias"}
            out.append((kind, aliased, sum(map(_nodes, exprs))))
        elif kind == "Filter":
            out.append((kind, set(), _nodes(node.condition())))
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


@pytest.fixture(scope="module", params=["users", "cards"])
def golden(request, spark, tmp_path_factory):
    from local_etl_spark.etl.pipeline import read_event_docs
    from local_etl_spark.etl.schema_translate import parse_schema

    table = request.param
    data_dir = str(tmp_path_factory.mktemp(f"plan_{table}"))
    for i, raw in enumerate(golden_docs(table)):
        with open(os.path.join(data_dir, f"ev{i:05d}.json"), "w", encoding="utf-8") as fh:
            fh.write(raw)
    return table, read_event_docs(spark, data_dir), parse_schema(golden_schema(table))


def measure(docs, schema) -> tuple[int, int, int]:
    from local_etl_spark.etl.pipeline import classify, v2_payload_rows
    from local_etl_spark.etl.validate import ERR_MSG

    classified = classify(docs, schema)
    message = [n for kind, names, n in plan_nodes(classified) if ERR_MSG in names]
    assert len(message) == 1, "the raw message must be bound in one projection"
    invalid = classified.filter(~F.col("is_valid"))
    filters = [n for kind, _, n in plan_nodes(invalid) if kind == "Filter"]
    cached = classified.persist()
    try:
        payload = sum(
            n for kind, _, n in plan_nodes(v2_payload_rows(cached, schema))
            if kind == "Project"
        )
    finally:
        cached.unpersist()
    return message[0], payload, sum(filters)


def test_plan_sizes_within_budget(golden):
    table, docs, schema = golden
    got = measure(docs, schema)
    labels = ("message projection", "payload render projections", "~is_valid filter")
    for label, n, budget in zip(labels, got, BUDGET[table]):
        assert n <= budget, f"{table} {label}: {n} nodes > budget {budget}"


def test_is_valid_iff_message_null(golden):
    """The validity bit is derived from the error slot, the message from
    the slot's render: they must agree on every golden document."""
    from local_etl_spark.etl.pipeline import classify

    _, docs, schema = golden
    rows = classify(docs, schema).select("is_valid", "error_msg").collect()
    assert rows and any(r.is_valid for r in rows) and not all(r.is_valid for r in rows)
    bad = [r for r in rows if r.is_valid != (r.error_msg is None)]
    assert not bad, bad[:5]
