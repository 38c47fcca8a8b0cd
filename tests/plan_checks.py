"""Plan-shape assertions for the plan tests: filters reach the parquet
scan, projections prune ReadSchema, dim joins broadcast."""

from __future__ import annotations

from pyspark.sql import DataFrame

from zonal_datacube_spark.plans.diagnostics import formatted_plan


def plan_has(df: DataFrame, *needles: str) -> dict[str, bool]:
    plan = formatted_plan(df)
    return {n: (n in plan) for n in needles}


def assert_pushed_filter(df: DataFrame, fragment: str) -> None:
    plan = formatted_plan(df)
    assert "PushedFilters" in plan, "no PushedFilters section in scan node"
    pushed = [line for line in plan.splitlines() if "PushedFilters" in line]
    assert any(fragment in line for line in pushed), (
        f"filter fragment {fragment!r} not pushed; pushed lines: {pushed}"
    )


def assert_broadcast_join(df: DataFrame) -> None:
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        "expected a broadcast join in:\n" + plan[:4000]
    )


def assert_read_schema_pruned(df: DataFrame, max_cols: int) -> None:
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "ReadSchema" in line:
            schema_part = line.split("ReadSchema:", 1)[1]
            n = schema_part.count(":")
            assert n <= max_cols, f"ReadSchema has {n} cols (> {max_cols}): {line.strip()}"
            return
    raise AssertionError("no ReadSchema in plan")
