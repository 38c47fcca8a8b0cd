"""Physical-plan locks for the round-4 keys: broadcasts stay broadcast,
fact tables shuffle at most once, no quadratic joins sneak in when
Catalyst re-plans a future Spark upgrade."""

from __future__ import annotations

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.plans.diagnostics import formatted_plan
from zonal_datacube_spark.registry import all_queries

Q = all_queries()


def _plan(spark, key: str) -> str:
    return formatted_plan(Q[key](spark, SF_SMOKE))


def test_trade_matrix_broadcasts_dims_and_pushes_years(spark):
    plan = _plan(spark, "q_report_trade_matrix")
    assert plan.count("BroadcastHashJoin") >= 2  # supp + cust chains
    assert "PushedFilters" in plan
    assert "CartesianProduct" not in plan


def test_zonal_change_single_scan_broadcast_join(spark):
    plan = _plan(spark, "q_zonal_change")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the zones range join must NOT be a cartesian product
    assert "CartesianProduct" not in plan


def test_weighted_median_no_global_fact_window(spark):
    import re

    plan = _plan(spark, "q_agg_weighted_median")
    # the cumulative sweep runs AFTER the per-price collapse AND through
    # the range-bucketed two-level prefix sweep: every Window node over
    # the data path is keyed by the internal bucket column, so neither
    # the fact table nor the distinct-price table ever enters a window
    # whose partition count is the 3-value flag enum (r05 rewrite)
    tree = plan.split("\n\n")[0]
    win_lines = [ln for ln in tree.splitlines() if re.search(r"\+- Window", ln)]
    assert win_lines, plan
    detail = re.findall(r"\(\d+\) Window\nInput.*\nArguments: \[.*?windowspecdefinition\(([^)]*)\)", plan)
    assert "_zds_ps_bucket" in plan
    # the DATA window is keyed by (flag, bucket); at most one residual
    # flag-only window remains — the offsets sweep over the bucket-grain
    # totals table, which is bounded at n_buckets rows per flag
    data_windows = [a for a in detail if "_zds_ps_bucket" in a]
    flag_only = [
        a for a in detail if "l_returnflag" in a and "_zds_ps_bucket" not in a
    ]
    assert data_windows, plan
    assert len(flag_only) <= 1, flag_only


def test_bloom_semi_filter_below_join(spark):
    plan = _plan(spark, "q_join_bloom_semi")
    # map-side membership probes reach the scan side, below the join
    assert plan.index("xxhash64") > plan.index("BroadcastHashJoin")


def test_lateral_decorrelates_to_ranked_window(spark):
    plan = _plan(spark, "q_join_lateral_topn")
    assert "CartesianProduct" not in plan
    assert "Window" in plan  # Catalyst decorrelated ORDER BY…LIMIT


def test_quantiles_multi_folds_from_the_grain_sweep(spark):
    plan = _plan(spark, "q_agg_quantiles_multi")
    # r10 rewrite: all five cut points fold from ONE (flag, price)-grain
    # prefix sweep — the buffered exact percentile aggregate (whole
    # table in 3 flag-keyed executor buffers) must be GONE. Since r11
    # grain_percentiles folds its bounded result EAGERLY (ADVICE r10
    # cache-leak fix), so the KEY's returned plan is the tiny local
    # relation and the sweep machinery is gated on the lazy path below.
    assert "percentile(" not in plan
    # the |parts|·|ps|-row local fold: a LocalTableScan of an Arrow-built
    # LocalRelation (functions/local_rel.py — was a Scan ExistingRDD
    # LogicalRDD, which paid a 32-task Python-worker scan job per
    # downstream broadcast)
    assert "LocalTableScan" in plan

    # the sweep path itself (grain_percentiles_from_counts — what the
    # eager fold executes) still carries the bucket machinery and no
    # buffered percentile
    from pyspark.sql import functions as F

    from zonal_datacube_spark.functions.percentiles import (
        grain_percentiles_from_counts,
    )
    from zonal_datacube_spark.sources.loader import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    counts = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.count("*").alias("c")
    )
    sweep_plan = formatted_plan(
        grain_percentiles_from_counts(
            counts, ["l_returnflag"], "l_extendedprice", "c", (0.5,)
        )
    )
    assert "_zds_ps_bucket" in sweep_plan
    assert "percentile(" not in sweep_plan


def test_ltv_deciles_window_on_rollup_not_fact(spark):
    plan = _plan(spark, "q_report_ltv_deciles")
    # the per-customer rollup sits directly on the scan; the global row
    # number comes from the bucket-partitioned prefix sweep (r05), so no
    # customer-grain row ever enters a single-partition data window —
    # F.ntile itself must be GONE from the plan (it is reconstructed
    # arithmetically from row_number + total count)
    assert "_zds_ps_bucket" in plan
    # \bntile\( — NOT a bare substring check: the quantile-boundary
    # sweep (r09) legitimately plans perceNTILE_approx
    import re

    assert not re.search(r"\bntile\(", plan.lower())
