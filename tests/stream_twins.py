"""Streaming twins of batch keys, and the memory-sink runner the streaming
tests compare them with: each twin is the readStream form of a
``q_stream_*`` key over ``streaming/demo.events_stream``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zonal_datacube_spark.streaming.drain import drain


def sliding_counts(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """1-day windows sliding 6h — streaming twin of q_stream_sliding."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day", "6 hours").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "n_events",
            "sum_value",
        )
    )


def dedup_stream(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming dedup on (user_id, minute) within the watermark horizon —
    the true-streaming twin of q_stream_dedup's semantics (state for keys
    older than the watermark is evicted, bounding the store)."""
    keyed = stream.select(
        "user_id",
        F.date_trunc("minute", "ts").alias("minute_ts"),
        "event_id",
    ).withWatermark("minute_ts", watermark)
    return keyed.dropDuplicatesWithinWatermark(["user_id", "minute_ts"])


def run_stream_to_memory(
    stream_df: DataFrame, spark: SparkSession, table: str, output_mode: str = "complete"
) -> DataFrame:
    """Drive any finite streaming frame to a memory sink and return it."""
    drain(
        spark,
        stream_df.writeStream.format("memory")
        .queryName(table)
        .outputMode(output_mode)
        .trigger(availableNow=True),
    )
    return spark.table(table)
