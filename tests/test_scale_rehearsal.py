"""Fast wiring test for the cluster-rehearsal plan gate
(tools/scale_rehearsal.py — VERDICT r10 next-round #1). The full pass at
sf0.1 (every plannable key + the ~50-key parity subset) is the tool run
recorded in REHEARSAL_r11.txt; this test keeps the gate from rotting by
driving the same code path end-to-end at sf0.001 on a config-sensitive
key slice: multi-file layout build, 200-partition re-plan, plan-class
comparison, and parity on the rehearsed files."""

from __future__ import annotations

import importlib.util
import os

import pytest

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.session import scoped_conf

TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "scale_rehearsal.py",
)

spec = importlib.util.spec_from_file_location("scale_rehearsal", TOOL)
sr = importlib.util.module_from_spec(spec)
spec.loader.exec_module(sr)

KEYS = [
    "q_join_broadcast",
    "q_join_skew_split",
    "q_agg_percentile",
    "q_window_salted",
    "q_zonal_stats",
]


@pytest.fixture(scope="module")
def rehearsal_dir(spark):
    return sr.build_layout(spark, SF_SMOKE)


def test_layout_is_multifile(spark, rehearsal_dir):
    li = os.path.join(rehearsal_dir, "lineitem.parquet")
    parts = [f for f in os.listdir(li) if f.endswith(".parquet")]
    assert len(parts) == sr.FACT_FILES
    # row counts survive the relayout
    from zonal_datacube_spark.sources.loader import load_table

    assert (
        load_table(spark, rehearsal_dir, "lineitem").count()
        == load_table(spark, SF_SMOKE, "lineitem").count()
    )


def test_plan_class_holds_at_200_partitions(spark, rehearsal_dir):
    from zonal_datacube_spark.plans.diagnostics import formatted_plan
    from zonal_datacube_spark.registry import all_queries

    queries = all_queries()
    base = {
        k: sr.classify(formatted_plan(queries[k](spark, SF_SMOKE)))
        for k in KEYS
    }
    with scoped_conf(spark, sr.REHEARSAL_CONFS):
        for k in KEYS:
            reh = sr.classify(formatted_plan(queries[k](spark, rehearsal_dir)))
            for flag in sr.RED_FLAGS:
                assert reh[flag] <= base[k][flag], (k, flag, base[k], reh)


def test_parity_holds_on_rehearsed_layout(spark, rehearsal_dir):
    from zonal_datacube_spark.compare import compare_query, duck_connect
    from zonal_datacube_spark.registry import all_oracle_sql, all_queries

    queries, oracles = all_queries(), all_oracle_sql()
    con = duck_connect(rehearsal_dir)
    try:
        with scoped_conf(spark, sr.REHEARSAL_CONFS):
            for k in KEYS:
                res = compare_query(
                    k, spark, con, queries[k], oracles[k], rehearsal_dir
                )
                assert res.ok, str(res)
    finally:
        con.close()


def test_streaming_parity_on_rehearsed_layout(spark, rehearsal_dir):
    """The r11 weak mark: q_stream_enrich_join silently returned 0 rows on
    a directory-per-table layout (REHEARSAL_r11.txt:308). The layout-aware
    source must make it oracle-green on the rehearsed files, via the exact
    code path the full tool runs."""
    from zonal_datacube_spark.compare import compare_query, duck_connect
    from zonal_datacube_spark.registry import all_oracle_sql, all_queries

    k = "q_stream_enrich_join"
    queries, oracles = all_queries(), all_oracle_sql()
    con = duck_connect(rehearsal_dir)
    try:
        res = compare_query(k, spark, con, queries[k], oracles[k], rehearsal_dir)
        assert res.ok, str(res)
    finally:
        con.close()


def test_classify_detects_red_flags():
    plan = (
        "CartesianProduct\n Exchange SinglePartition\n"
        " BroadcastNestedLoopJoin\n percentile(x)\n"
        " SortMergeJoin\n BroadcastHashJoin\n"
    )
    c = sr.classify(plan)
    assert c == {
        "cartesian": 1,
        "nlj": 1,
        "single_part": 1,
        "buffered_pct": 1,
        "smj": 1,
        "bhj": 1,
    }
    # approx_percentile must NOT trip the buffered-percentile flag
    assert sr.classify("approx_percentile(x)")["buffered_pct"] == 0
