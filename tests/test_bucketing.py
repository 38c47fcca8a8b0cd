"""Bucketed co-located join: the join plan must contain no shuffle.

This locks in the engine's 100 TB fact⋈fact strategy: pay the partitioning
once at write time, then joins/aggregations on the bucket key skip the
Exchange entirely.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.plans.diagnostics import formatted_plan
from zonal_datacube_spark.sources.bucketing import write_bucketed
from zonal_datacube_spark.sources.loader import load_table


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    write_bucketed(
        load_table(spark, SF_SMOKE, "orders"), "zds_orders_b", "o_orderkey", 8
    )
    write_bucketed(
        load_table(spark, SF_SMOKE, "lineitem"), "zds_lineitem_b", "l_orderkey", 8
    )
    yield "zds_orders_b", "zds_lineitem_b"
    spark.sql("DROP TABLE IF EXISTS zds_orders_b")
    spark.sql("DROP TABLE IF EXISTS zds_lineitem_b")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    lt, rt = bucketed_tables
    left, right = spark.table(lt), spark.table(rt)
    joined = left.join(right, left.o_orderkey == right.l_orderkey)
    plan = formatted_plan(joined)
    assert not re.findall(r"\+- Exchange", plan), "bucketed join still shuffles:\n" + plan[:2000]


def test_bucketed_join_correct(spark, bucketed_tables):
    lt, rt = bucketed_tables
    left, right = spark.table(lt), spark.table(rt)
    n = left.join(right, left.o_orderkey == right.l_orderkey).count()
    orders = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem")
    expected = orders.join(li, orders.o_orderkey == li.l_orderkey).count()
    assert n == expected > 0
