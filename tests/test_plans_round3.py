"""Plan-shape locks for the round-3 keys — the scale-critical physical
properties (SURVEY.md §4): no nested-loop fallbacks on keys designed as
equi-joins, broadcasts where a dimension must stay off the wire, and
bounded shuffle counts on the window pipelines."""

from __future__ import annotations

import re

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.operators.stats_tests import q_ab_wilson
from zonal_datacube_spark.operators.windows import q_window_pareto, q_window_streaks
from zonal_datacube_spark.operators.scale_ops import q_view_ivm_join
from zonal_datacube_spark.operators.timeseries import (
    q_ts_ohlc,
    q_ts_time_weighted_avg,
    q_ts_transitions,
)
from zonal_datacube_spark.operators.warehouse import q_scd2_pit_join
from zonal_datacube_spark.plans.diagnostics import formatted_plan


def _tree_exchanges(plan: str) -> int:
    return len(re.findall(r"\+- Exchange", plan))


def test_pit_join_keeps_hash_join(spark):
    plan = formatted_plan(q_scd2_pit_join(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivm_composes_four_joins_no_nlj(spark):
    plan = formatted_plan(q_view_ivm_join(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the delta-join identity: four join terms in one plan
    assert len(re.findall(r"Join", plan)) >= 4


def test_wilson_dim_join_is_broadcast(spark):
    plan = formatted_plan(q_ab_wilson(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_timeseries_keys_are_single_window_pipelines(spark):
    # ohlc/transitions partition on data-scaled keys ((type, day) /
    # user_id) and stay direct single-window pipelines; twa moved to the
    # round-8 chunk+halo rewrite and is locked in test_plans_round8.py
    for fn in (q_ts_ohlc, q_ts_transitions):
        plan = formatted_plan(fn(spark, SF_SMOKE))
        assert "Join" not in plan, fn.__name__
        # window shuffle(s) + final aggregate — never more than 3 tree
        # exchanges even with AQE reads
        assert _tree_exchanges(plan) <= 3, fn.__name__


def test_twa_joins_stay_broadcast(spark):
    # round 8: twa's only joins are the sweep's bounds/offsets stitches —
    # broadcast-sized by construction, never a sort-merge over the stream
    plan = formatted_plan(q_ts_time_weighted_avg(spark, SF_SMOKE))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_streaks_has_no_self_join(spark):
    plan = formatted_plan(q_window_streaks(spark, SF_SMOKE))
    assert "Join" not in plan  # islands come from one window, not a join


def test_pareto_bounded_shuffles(spark):
    plan = formatted_plan(q_window_pareto(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    # r05: the brand-partitioned running sum became the range-bucketed
    # two-level prefix sweep — the plan re-evaluates the part-grain
    # rollup once per sweep level (bounds / window path / bucket totals;
    # AQE's ReuseExchange dedupes identical branches at runtime), so the
    # static exchange count rises while the worst TASK shrinks from "one
    # reducer sorts a brand" to "one bucket of one brand". Lock the
    # structural invariants instead of the raw exchange count: every
    # data-path window is bucket-keyed, and the exchange count stays
    # bounded by the sweep's fixed 3-branch shape.
    assert "_zds_ps_bucket" in plan
    assert _tree_exchanges(plan) <= 12
