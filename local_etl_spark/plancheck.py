"""Physical-plan inspection helpers for scale audits.

Used by tests/test_plan_audit.py (blanket anti-pattern rules over every
registered query). The one non-obvious bit:
with AQE on, ``executedPlan()`` is a bare ``AdaptiveSparkPlanExec`` whose
initial plan is a field, not a child — so tree-walking the JVM plan (or
its JSON) sees nothing. The formatted explain string prints the full
initial plan, so detection parses that.
"""

from __future__ import annotations

import re

__all__ = ["formatted_plan", "unpartitioned_windows"]


def formatted_plan(df) -> str:
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def _top_level_groups(args: str) -> list[str]:
    """Split a formatted-explain Arguments line into its top-level
    ``[...]`` groups (bracket-depth aware — window frames nest)."""
    groups: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in args:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(ch)
    return groups


_NODE_RE = re.compile(
    r"\(\d+\) (Window|WindowGroupLimit)\b[^\n]*\n"
    r"(?:(?!\(\d+\) )[^\n]*\n)*?Arguments: ([^\n]*)"
)
_ORDER_MARK = re.compile(r"\b(ASC|DESC) NULLS (FIRST|LAST)\b")


def unpartitioned_windows(plan: str) -> list[str]:
    """Window nodes whose partition spec is empty — the plans that
    funnel their whole input through ONE task at scale.

    Formatted-explain Arguments for Window are 1–3 top-level bracket
    groups: [funcs] / [funcs],[partition] / [funcs],[partition],[order].
    An unpartitioned-but-ordered window prints [funcs],[order]; the
    second group is then a SortOrder list (ASC/DESC NULLS markers),
    which a partition-expression list never contains.
    """
    hits: list[str] = []
    for m in _NODE_RE.finditer(plan):
        node, args = m.group(1), m.group(2)
        groups = _top_level_groups(args)
        if node == "Window":
            if len(groups) >= 3:
                continue
            if len(groups) == 2 and not _ORDER_MARK.search(groups[1]):
                continue  # partitioned, no ORDER BY
            hits.append(f"Window[{args[:100]}]")
        elif node == "WindowGroupLimit" and groups and not groups[0].strip():
            hits.append(f"WindowGroupLimit[{args[:100]}]")
    return hits
