"""Custom stateful streaming operator via applyInPandasWithState.

The Structured Streaming slot for operators the built-in windowed
aggregations can't express: arbitrary per-key state evolved batch by batch.
Demo operator: per-user running profile (event count, value sum, last-seen
timestamp) maintained in GroupState and emitted on every update.

Scale notes: state lives in the state store keyed by user_id (shuffled
once); each micro-batch touches only keys present in the batch. A real
deployment adds state TTL (GroupStateTimeout) to bound the store — shown
here with ProcessingTimeTimeout left NoTimeout for the finite fixture.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from zonal_datacube_spark.streaming.drain import drain

STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("total", DoubleType()),
        StructField("last_us", LongType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
        StructField("last_us", LongType()),
    ]
)


def _update_profile(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, total, last_us = state.get if state.exists else (0, 0.0, None)
    for pdf in pdfs:
        if not len(pdf):
            continue
        n += len(pdf)
        total += float(pdf["value"].sum())
        # guard the max: an all-null ts batch yields NaN, and pre-epoch
        # timestamps must not lose to a 0 initializer
        mx = pdf["ts_us"].max()
        if pd.notna(mx):
            mx = int(mx)
            last_us = mx if last_us is None else max(last_us, mx)
    state.update((n, total, last_us))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "sum_value": [round(total, 2)],
            "last_us": [last_us],
        }
    )


def user_profiles(stream: DataFrame) -> DataFrame:
    """events stream (with ts) → per-user evolving profile."""
    from pyspark.sql import functions as F

    prepared = stream.select(
        "user_id",
        "value",
        F.unix_micros("ts").alias("ts_us"),
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _update_profile,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stateful_demo(spark, sf_dir: str, table: str = "zds_stateful_demo") -> DataFrame:
    """Drive the stateful operator over the finite events fixture; the
    memory sink keeps every update — the LAST update per user is the final
    profile (asserted equal to the batch aggregate in tests)."""
    from zonal_datacube_spark.streaming.demo import events_stream

    drain(
        spark,
        user_profiles(events_stream(spark, sf_dir))
        .writeStream.format("memory")
        .queryName(table)
        .outputMode("update")
        .trigger(availableNow=True),
    )
    return spark.table(table)
