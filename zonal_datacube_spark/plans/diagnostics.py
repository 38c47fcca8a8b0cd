"""Physical-plan diagnostics: read the plan we got back, so it can be
checked against the plan we designed (SURVEY.md §4.2 — 'verify with
explain during development').

``formatted_plan`` feeds the scale audits and the plan tools;
``window_specs``/``partition_args`` parse window partitioning for
tools/window_audit.py; ``unobserved_sort`` is the parity gate's
unread-sort check (compare.py). The plan-shape assertions the tests make
live in tests/plan_checks.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def window_specs(plan: str) -> list[str]:
    """Every ``windowspecdefinition(...)`` argument span in ``plan``, with
    BALANCED parenthesis matching. The old ``[^)]*`` regex (ADVICE r08)
    truncated the capture at the first ``)`` inside a ``cast(...)`` or
    function-call partition/order expression, silently dropping the ORDER
    BY section from the inspected span — an audit false negative."""
    out: list[str] = []
    needle = "windowspecdefinition("
    i = plan.find(needle)
    while i != -1:
        depth, j = 1, i + len(needle)
        while j < len(plan) and depth:
            ch = plan[j]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            j += 1
        out.append(plan[i + len(needle) : j - 1])
        i = plan.find(needle, j)
    return out


def split_top_level(spec: str) -> list[str]:
    """Split a windowspecdefinition argument span on its TOP-LEVEL commas
    (commas nested inside casts/function calls don't separate arguments).
    Argument layout: partition exprs, then order exprs (each tagged
    ``ASC``/``DESC``), then the ``specifiedwindowframe(...)``."""
    parts: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in spec:
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        cur.append(ch)
    if cur:
        parts.append("".join(cur).strip())
    return parts


def partition_args(spec: str) -> list[str]:
    """The partition-column expressions of a windowspecdefinition span:
    every top-level argument before the first order expression (tagged
    ASC/DESC) or, for an order-less window, before the frame spec."""
    args = split_top_level(spec)
    parts: list[str] = []
    for a in args:
        if " ASC" in a or " DESC" in a or a.startswith("specifiedwindowframe"):
            break
        parts.append(a)
    return parts


def unobserved_sort(df: DataFrame) -> bool:
    """True when ``df`` ends in an unlimited global sort: the root of the
    analyzed plan, past any ``Project``/``SubqueryAlias``, is a ``Sort``
    with ``global = true``. The driver hashes results order-insensitively,
    so such a sort pays a range-partition sample job and a sort stage that
    nothing reads. A sort feeding a limit, a window or a write sits below
    that node and is not flagged; ``sortWithinPartitions`` is not global."""
    node = df._jdf.queryExecution().analyzed()
    while node.nodeName() in ("Project", "SubqueryAlias"):
        node = node.child()
    return node.nodeName() == "Sort" and bool(getattr(node, "global")())
