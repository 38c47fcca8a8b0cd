"""Key results are unordered sets: the driver hashes them
order-insensitively, so a key must not end in an unlimited global sort.

Pins: (1) ``plans.diagnostics.unobserved_sort`` flags a terminal global
sort, also under a projection, and nothing else; (2) ``compare_query``
rejects such a key unless ``compare.ORDERED_KEYS`` names it; (3) every
``ORDERED_KEYS`` entry is a declared key with a reason that still ends
in the sort it excuses."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from zonal_datacube_spark.compare import ORDERED_KEYS, compare_query
from zonal_datacube_spark.plans.diagnostics import unobserved_sort
from zonal_datacube_spark.registry import all_queries


def test_terminal_global_sort_is_unobserved(spark):
    df = spark.range(20).withColumn("g", F.col("id") % 3)
    assert unobserved_sort(df.orderBy("g"))
    assert unobserved_sort(df.orderBy("g", "id").select("id"))


def test_limited_local_and_unsorted_plans_are_not_flagged(spark):
    df = spark.range(20).withColumn("g", F.col("id") % 3)
    assert not unobserved_sort(df.orderBy("g").limit(5))
    assert not unobserved_sort(df.sortWithinPartitions("g"))
    assert not unobserved_sort(df.groupBy("g").agg(F.count("*").alias("n")))


def test_compare_query_rejects_an_unlisted_terminal_sort(spark, duck):
    def q(s, sf_dir):
        return s.range(3).orderBy("id")

    res = compare_query(
        "q_unlisted_sort", spark, duck, q, "SELECT range AS id FROM range(3)", SF_ORACLE
    )
    assert not res.ok
    assert any("unobserved terminal sort" in p for p in res.problems)
    unsorted = compare_query(
        "q_unlisted_sort",
        spark,
        duck,
        lambda s, d: s.range(3),
        "SELECT range AS id FROM range(3)",
        SF_ORACLE,
    )
    assert unsorted.ok, str(unsorted)


def test_ordered_keys_are_declared_and_still_sorted(spark):
    queries = all_queries()
    for key, reason in ORDERED_KEYS.items():
        assert key in queries and reason.strip()
        assert unobserved_sort(queries[key](spark, SF_ORACLE)), key
