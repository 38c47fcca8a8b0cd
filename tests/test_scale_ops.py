"""Scale-ops semantics: merge/upsert arms, salted-agg equivalence,
deterministic sampling, ORC roundtrip fidelity."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.functions.merge import merge_accumulate, upsert
from zonal_datacube_spark.operators.scale_ops import (
    STRATIFIED_FRACTION,
    q_agg_salted_skew,
    q_sample_hash,
    q_sample_stratified,
)
from zonal_datacube_spark.sources.loader import load_table, read_layout
from zonal_datacube_spark.sources.sinks import write_orc


def test_upsert_three_arms(spark):
    target = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    source = spark.createDataFrame([(2, "B"), (3, "C")], "k int, v string")
    got = {(r.k, r.v) for r in upsert(target, source, ["k"]).collect()}
    # kept (1), replaced (2), inserted (3)
    assert got == {(1, "a"), (2, "B"), (3, "C")}


def test_merge_accumulate_three_arms(spark):
    target = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, bal double")
    source = spark.createDataFrame([(2, 5.0), (3, 7.0)], "k int, delta double")
    merged = merge_accumulate(
        target,
        source,
        ["k"],
        {
            "bal": F.coalesce(
                F.col("t.bal") + F.col("s.delta"), F.col("t.bal"), F.col("s.delta")
            )
        },
    )
    got = {(r.k, r.bal) for r in merged.collect()}
    assert got == {(1, 10.0), (2, 25.0), (3, 7.0)}


def test_salted_matches_plain_aggregation(spark):
    salted = {r.l_returnflag: r for r in q_agg_salted_skew(spark, SF_SMOKE).collect()}
    plain = {
        r.l_returnflag: r
        for r in load_table(spark, SF_SMOKE, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count("l_quantity").alias("n_cells"),
            F.round(F.sum("l_quantity"), 2).alias("sum_value"),
            F.round(F.sum("l_quantity") / F.count("l_quantity"), 6).alias("mean_value"),
            F.round(F.min("l_quantity"), 2).alias("min_value"),
            F.round(F.max("l_quantity"), 2).alias("max_value"),
        )
        .collect()
    }
    assert salted.keys() == plain.keys()
    for k, srow in salted.items():
        assert srow.asDict() == plain[k].asDict()


def test_sample_hash_deterministic_and_unbiased(spark):
    total = load_table(spark, SF_SMOKE, "lineitem").count()
    s1 = {(r.l_orderkey, r.l_linenumber) for r in q_sample_hash(spark, SF_SMOKE).collect()}
    s2 = {(r.l_orderkey, r.l_linenumber) for r in q_sample_hash(spark, SF_SMOKE).collect()}
    assert s1 == s2  # reproducible: same rows every run
    assert 0.12 < len(s1) / total < 0.28  # ~51/256 ≈ 20%


def test_stratified_sample_exact_fraction(spark):
    strata = {
        r.event_type: r.n
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    sampled = {
        r.event_type: r.n
        for r in q_sample_stratified(spark, SF_SMOKE)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for et, n in strata.items():
        assert sampled[et] == math.ceil(STRATIFIED_FRACTION * n)


def test_salted_join_matches_plain_join(spark):
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SF_SMOKE, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    from zonal_datacube_spark.functions.salting import salted_join

    plain = li.join(orders, "l_orderkey").collect()
    salted = salted_join(li, orders, ["l_orderkey"], n_salts=4).collect()
    key = lambda r: (r.l_orderkey, r.l_quantity, r.o_orderstatus)  # noqa: E731
    assert sorted(salted, key=key) == sorted(plain, key=key)


def test_upsert_empty_sides(spark):
    empty = spark.createDataFrame([], "k int, v string")
    full = spark.createDataFrame([(1, "a")], "k int, v string")
    # empty source: target passes through untouched
    assert [tuple(r) for r in upsert(full, empty, ["k"]).collect()] == [(1, "a")]
    # empty target: source inserted wholesale
    assert [tuple(r) for r in upsert(empty, full, ["k"]).collect()] == [(1, "a")]
    # both empty: empty result, schema intact
    both = upsert(empty, empty, ["k"])
    assert both.count() == 0 and both.columns == ["k", "v"]


def test_merge_accumulate_empty_source(spark):
    target = spark.createDataFrame([(1, 10.0)], "k int, bal double")
    empty = spark.createDataFrame([], "k int, delta double")
    merged = merge_accumulate(
        target,
        empty,
        ["k"],
        {
            "bal": F.coalesce(
                F.col("t.bal") + F.col("s.delta"), F.col("t.bal"), F.col("s.delta")
            )
        },
    )
    assert [tuple(r) for r in merged.collect()] == [(1, 10.0)]


def test_salted_join_empty_small_side(spark):
    from zonal_datacube_spark.functions.salting import salted_join

    big = spark.createDataFrame([(1, "x")], "k int, v string")
    empty = spark.createDataFrame([], "k int, w string")
    assert salted_join(big, empty, ["k"]).count() == 0


def test_orc_roundtrip_row_fidelity(spark, tmp_path):
    orders = load_table(spark, SF_SMOKE, "orders")
    path = str(tmp_path / "orders_orc")
    write_orc(orders, path)
    back = read_layout(spark, path, "orc")
    assert back.schema == orders.schema
    key = lambda r: r.o_orderkey  # noqa: E731
    assert sorted(back.collect(), key=key) == sorted(orders.collect(), key=key)
