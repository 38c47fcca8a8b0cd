"""Differential proof for the round-10 exact-percentile rewrite
(functions/percentiles.py): the grain fold must reproduce Spark's
buffered percentile() exactly — on engineered tie/singleton/
interpolation corpora and on every (table, group, column, ps) combo the
migrated keys use. End-to-end key equivalence is additionally attested
by the unchanged DuckDB quantile_cont oracles at all three SFs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.functions.percentiles import (
    grain_percentiles,
    pivot_percentiles,
)
from zonal_datacube_spark.sources.loader import load_table

PS = (0.0, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0)


def _buffered(df, parts, col, ps):
    ps_sql = ", ".join(str(p) for p in ps)
    labels = F.array(*[F.lit(float(p)) for p in ps])
    grouped = df.groupBy(*parts) if parts else df.groupBy()
    qs = grouped.agg(F.expr(f"percentile({col}, array({ps_sql}))").alias("qs"))
    return qs.select(
        *parts,
        F.explode(F.arrays_zip(labels.alias("p"), F.col("qs").alias("q"))).alias("z"),
    ).select(*parts, F.col("z.p").alias("p"), F.col("z.q").alias("q"))


def _assert_equal(spark, df, parts, col, ps):
    got = {
        tuple(r[p] for p in parts) + (r["p"],): r["q"]
        for r in grain_percentiles(df, parts, col, ps).collect()
    }
    want = {
        tuple(r[p] for p in parts) + (r["p"],): r["q"]
        for r in _buffered(df, parts, col, ps).collect()
    }
    assert set(got) == set(want)
    for k, v in want.items():
        assert got[k] == pytest.approx(v, abs=1e-9, rel=1e-12), k


def test_engineered_ties_singletons_interpolation(spark):
    rows = [
        # part A: heavy ties + an outlier; every rank lands inside or
        # across the tie run
        *[("A", v) for v in [1.0, 2.0, 2.0, 2.0, 100.0]],
        # part B: singleton — every percentile is the value itself
        ("B", 5.0),
        # part C: two equal values
        ("C", 7.0), ("C", 7.0),
        # part D: three uneven floats — real interpolation fractions
        ("D", 0.1), ("D", 0.2), ("D", 0.4),
        # part E: nulls ignored exactly like percentile()
        ("E", None), ("E", 3.0), ("E", 9.0),
    ]
    df = spark.createDataFrame(rows, "k string, v double")
    _assert_equal(spark, df, ["k"], "v", PS)


def test_engineered_integer_values_global_part(spark):
    rows = [(int(v),) for v in [5, 1, 1, 2, 9, 9, 9, 4]]
    df = spark.createDataFrame(rows, "v long")
    _assert_equal(spark, df, [], "v", PS)


def test_fixture_combos_match_buffered(spark):
    """The exact (table, group, column, ps) combos the migrated keys
    feed: lineitem price (quantiles_multi / iqr / winsorized /
    percentile), lineitem quantity, events value + the derived MAD
    deviation table."""
    li = load_table(spark, SF_SMOKE, "lineitem")
    _assert_equal(
        spark, li, ["l_returnflag"], "l_extendedprice",
        (0.05, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99),
    )
    _assert_equal(spark, li, ["l_returnflag"], "l_quantity", (0.5, 0.9))
    ev = load_table(spark, SF_SMOKE, "events").select("event_type", "value")
    _assert_equal(spark, ev, ["event_type"], "value", (0.5,))
    med = pivot_percentiles(
        grain_percentiles(ev, ["event_type"], "value", (0.5,)),
        ["event_type"],
        {0.5: "med"},
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    _assert_equal(spark, dev, ["event_type"], "adev", (0.5,))


def test_pivot_shapes(spark):
    df = spark.createDataFrame([("A", float(i)) for i in range(1, 6)], "k string, v double")
    wide = pivot_percentiles(
        grain_percentiles(df, ["k"], "v", (0.25, 0.75)), ["k"], {0.25: "q1", 0.75: "q3"}
    ).collect()
    assert len(wide) == 1 and wide[0].q1 == 2.0 and wide[0].q3 == 4.0
    glob = pivot_percentiles(
        grain_percentiles(df, [], "v", (0.5,)), [], {0.5: "med"}
    ).collect()
    assert len(glob) == 1 and glob[0].med == 3.0


def test_no_single_partition_window_in_key_plans(spark):
    """The rewrite must not reintroduce the one-reducer window: the
    migrated keys' plans carry no global-sort Window over a data-scaled
    table (the prefix sweep's bucket-grain offset window is bounded)."""
    from zonal_datacube_spark.operators.stats_ext import (
        q_agg_quantiles_multi,
        q_dq_outlier_iqr,
    )

    for q in (q_agg_quantiles_multi, q_dq_outlier_iqr):
        plan = q(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        # the buffered exact aggregate is gone — and since the r10
        # width-mode switch the boundary pass is a min/max aggregate,
        # not a GK sketch: value-grain sweeps never pay percentile_approx
        assert "percentile(" not in plan
        assert "percentile_approx" not in plan
        assert "CartesianProduct" not in plan


def test_width_and_quantile_modes_identical(spark):
    """Boundary-mode independence (the r10 second-pass switch to width):
    the two-level decomposition is exact for ANY value-order-respecting
    bucketing, so width and quantile edges must yield bit-identical
    percentiles — asserted on a deliberately axis-CONCENTRATED corpus
    (geometric value spacing: width mode packs most grain rows into
    bucket 0, the worst case the quantile mode exists to rebalance)."""
    rows = [("A", float(2**i) / 1024) for i in range(20) for _ in range(i % 3 + 1)]
    rows += [("B", 1.0), ("B", 1e9)]
    df = spark.createDataFrame(rows, "k string, v double")
    ps = (0.0, 0.1, 0.5, 0.9, 1.0)
    key = lambda r: (r["k"], r["p"])
    w = {key(r): r["q"] for r in grain_percentiles(df, ["k"], "v", ps, boundaries="width").collect()}
    q = {key(r): r["q"] for r in grain_percentiles(df, ["k"], "v", ps, boundaries="quantile").collect()}
    assert w == q and len(w) == 2 * len(ps)


def test_grain_percentiles_leaves_nothing_cached(spark):
    """ADVICE r10: the grain persist must not outlive the call — a
    session invoking many percentile-class keys used to accumulate one
    cached grain per call for its lifetime. The eager fold releases the
    grain before returning; the returned local relation needs no cache."""
    from zonal_datacube_spark.functions.percentiles import grain_percentiles
    from zonal_datacube_spark.sources.loader import load_table
    from tests.conftest import SF_SMOKE

    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    li = load_table(spark, SF_SMOKE, "lineitem")
    out = grain_percentiles(li, ["l_returnflag"], "l_extendedprice", (0.5,))
    assert out.count() > 0
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after <= before, "grain_percentiles leaked a cached grain"


def test_local_relation_exact_values_and_plan_shape(spark):
    """The eager fold re-distributes its rows as a TRUE Catalyst
    LocalRelation (an Arrow table under Spark's local-relation
    threshold), so broadcasting a fold result downstream copies the
    driver's rows instead of running a 32-task Python-worker LogicalRDD
    scan. Two contracts pinned here: (1) EXACTNESS — doubles (incl.
    non-representable decimal fractions), decimals, and NULLs cross as
    Arrow values with zero drift; (2) PLAN SHAPE — the optimized plan
    really is a LocalRelation (a silent regression to LogicalRDD would
    re-add the Python-worker scan)."""
    import math
    from decimal import Decimal

    from pyspark.sql.types import (
        DecimalType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from zonal_datacube_spark.functions.percentiles import local_relation

    schema = StructType(
        [
            StructField("part", StringType(), True),
            StructField("q", DoubleType(), True),
            StructField("d", DecimalType(38, 0), True),
            StructField("n", LongType(), True),
        ]
    )
    rows = [
        ("a", math.pi, Decimal(10) ** 30, 7),
        ("b", 2.5000000000000004, None, None),
        (None, float("-0.0"), Decimal(-3), 0),
    ]
    df = local_relation(spark, rows, schema)
    plan = df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
    assert plan == "LocalRelation", plan
    got = sorted(df.collect(), key=lambda r: (r.part is None, str(r.part)))
    exp = sorted(rows, key=lambda r: (r[0] is None, str(r[0])))
    for g, e in zip(got, exp):
        assert (g.part, g.d, g.n) == (e[0], e[2], e[3])
        # bit-exact double round-trip (copysign catches -0.0 vs 0.0)
        assert g.q == e[1] and math.copysign(1, g.q) == math.copysign(1, e[1])
    assert [f.name for f in df.schema.fields] == ["part", "q", "d", "n"]
    assert [f.dataType for f in df.schema.fields] == [
        f.dataType for f in schema.fields
    ]
