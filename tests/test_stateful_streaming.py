"""applyInPandasWithState demo: final per-user state ≡ batch aggregate."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.sources.loader import load_table
from zonal_datacube_spark.streaming.stateful import run_stateful_demo


def test_stateful_profiles_match_batch(spark):
    updates = run_stateful_demo(spark, SF_SMOKE)
    # last update per user = final profile
    final = {
        r.user_id: (r.n_events, r.sum_value)
        for r in updates.orderBy("user_id", "n_events").collect()
    }
    batch = {
        r.user_id: (r.n, r.s)
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .collect()
    }
    assert final == batch



def test_stateful_profile_column_types_are_pinned(spark):
    """The key's columns keep the declared Arrow types. Each call logs
    pandas FutureWarnings ("concatenation with empty or all-NA entries"),
    but they come from PySpark's own all-NA padding frames in the
    applyInPandasWithState serializer, which then converts with these
    declared types; nothing the key builds can shift them."""
    from zonal_datacube_spark.operators.streaming_batch import (
        q_stream_stateful_profile,
    )

    want = [
        ("user_id", "bigint"),
        ("n_events", "bigint"),
        ("sum_value", "double"),
        ("last_us", "bigint"),
    ]
    sink = run_stateful_demo(spark, SF_SMOKE, table="zds_stateful_types")
    assert sink.dtypes == want
    assert q_stream_stateful_profile(spark, SF_SMOKE).dtypes == want
