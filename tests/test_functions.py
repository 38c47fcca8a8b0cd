"""Unit tests for the library surface: UDFs, multimodal plumbing, and the
bucketed range-join rewrite (micro-fixture style, SURVEY.md §5.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.functions.multimodal import (
    decode_media_stats,
    frame_sample_plan,
    resize_stub,
    synthetic_media,
)
from zonal_datacube_spark.functions.range_bucket import bucketed_range_join
from zonal_datacube_spark.functions.udfs import per_group_zscore, zonal_trimmed_mean
from zonal_datacube_spark.operators.zonal import assign_zones, zones_df
from zonal_datacube_spark.sources.loader import load_table


def test_zonal_trimmed_mean(spark):
    cells = spark.createDataFrame(
        [(0, float(v)) for v in [1, 2, 3, 4, 100]] + [(1, 5.0), (1, 7.0)],
        "zone_id INT, value DOUBLE",
    )
    got = {r.zone_id: r.trimmed_mean for r in zonal_trimmed_mean(cells).collect()}
    # 5 values → trim k=0 (10% of 5 = 0) → plain mean; zone 1 mean = 6
    assert got[1] == pytest.approx(6.0)
    assert got[0] == pytest.approx(22.0)


def test_per_group_zscore(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (1, 30.0), (2, 5.0)], "grp INT, value DOUBLE"
    )
    rows = per_group_zscore(df, "grp", "value").collect()
    z1 = sorted(r.zscore for r in rows if r.grp == 1)
    assert z1 == pytest.approx([-1.0, 0.0, 1.0])
    assert [r.zscore for r in rows if r.grp == 2] == [0.0]


def test_relational_keys_match_pandas_kernels(spark):
    """The declared (relational, oracle-checked) §2.12 keys and the pandas
    extension kernels are the same statistic — lock their agreement."""
    from zonal_datacube_spark.operators.udf_queries import (
        q_udaf_zonal_trimmed_mean,
        q_udf_grouped_zscore,
    )

    cells = load_table(spark, SF_SMOKE, "events")
    assigned = assign_zones(cells).select("zone_id", "value")
    pandas_tm = {
        r.zone_id: r.trimmed_mean for r in zonal_trimmed_mean(assigned).collect()
    }
    for r in q_udaf_zonal_trimmed_mean(spark, SF_SMOKE).collect():
        assert r.trimmed_mean == pytest.approx(pandas_tm[r.zone_id], abs=1e-6)

    ev = cells.select("user_id", "value")
    z = per_group_zscore(ev, "user_id", "value")
    pandas_z = {
        r.user_id: (r.max_z, r.min_z, r.n)
        for r in z.groupBy("user_id")
        .agg(
            F.round(F.max("zscore"), 6).alias("max_z"),
            F.round(F.min("zscore"), 6).alias("min_z"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    rel = q_udf_grouped_zscore(spark, SF_SMOKE).collect()
    assert len(rel) == len(pandas_z)
    for r in rel:
        exp = pandas_z[r.user_id]
        assert r.n == exp[2]
        assert r.max_z == pytest.approx(exp[0], abs=1e-5)
        assert r.min_z == pytest.approx(exp[1], abs=1e-5)


def test_multimodal_decode_batches(spark):
    media = synthetic_media(spark, 12)
    out = decode_media_stats(media)
    rows = out.collect()
    assert len(rows) == 12
    assert out.columns == ["media_id", "kind", "n_bytes", "mean_r", "mean_g", "mean_b"]
    assert all(r.n_bytes == 128 for r in rows)
    # deterministic fake decode: same payload → same stats across runs
    again = {r.media_id: (r.mean_r, r.mean_g, r.mean_b) for r in decode_media_stats(media).collect()}
    for r in rows:
        assert again[r.media_id] == (r.mean_r, r.mean_g, r.mean_b)


def test_frame_sample_plan(spark):
    media = synthetic_media(spark, 6)
    frames = frame_sample_plan(media, every_n=50).collect()
    # videos have 120 frames → sampled at 0, 50, 100
    by_media = {}
    for r in frames:
        by_media.setdefault(r.media_id, []).append(r.frame_idx)
    assert all(sorted(v) == [0, 50, 100] for v in by_media.values())


def test_resize_is_stubbed():
    with pytest.raises(NotImplementedError):
        resize_stub(b"x", 10, 10)


def test_bucketed_range_join_equivalent(spark):
    """The §4.3 rewrite returns exactly the rows of the naive NLJ range
    join (``zonal.assign_zones``) — including an interval whose hi sits
    on a bucket edge. On the band edges ``lo`` is inside and ``hi`` is
    not; a value past the last ``hi``, below the first ``lo``, or NULL
    matches no zone."""
    ev = load_table(spark, SF_SMOKE, "events")
    edges = spark.createDataFrame(
        [(1, 0.0), (2, 24.99), (3, 25.0), (4, 150.0), (5, 349.99)]
        + [(6, 350.0), (7, -0.01), (8, None)],
        "event_id BIGINT, value DOUBLE",
    )
    got = {}
    for name, cells in (("events", ev), ("edges", edges)):
        naive = assign_zones(cells).select("event_id", "zone_id").collect()
        rewritten = (
            bucketed_range_join(cells, zones_df(spark), "value", width=25.0)
            .select("event_id", "zone_id")
            .collect()
        )
        got[name] = sorted(map(tuple, naive))
        assert got[name] == sorted(map(tuple, rewritten))
    assert len(got["events"]) > 0
    assert got["edges"] == [(1, 0), (2, 0), (3, 1), (4, 5), (5, 6)]
