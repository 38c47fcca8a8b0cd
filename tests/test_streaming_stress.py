"""Streaming state-bound stress (VERDICT r10 next-round #6).

The TRUE-streaming keys prove batch≡stream correctness but always drain
the single-file fixture in ONE micro-batch — the configuration where
watermark eviction never has to fire between batches. This module
re-runs the two stream-stream joins over the SAME events split into 8
chronological files with ``maxFilesPerTrigger=1`` (many tiny batches, a
fresh watermark advance per file) and asserts:

1. the many-batch result set is ROW-IDENTICAL to the one-batch drain
   (batching must never change answers — matched pairs emit on match,
   unmatched views emit exactly once after the final state flush);
2. the state store stays bounded by the WATERMARK HORIZON, numerically:
   at no point may either join hold more rows than one chunk plus the
   widest (join bound + watermark) window of the input — and it must
   end far below the total stream size (eviction actually fired).

Files are written in event-time order with strictly increasing mtimes so
the file source processes them chronologically — the arrival pattern a
time-ordered log produces; an out-of-order split would make rows late by
construction and test the LATE-DROP path instead of eviction."""

from __future__ import annotations

import os
import shutil
import time
from datetime import timedelta

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.sources.loader import load_table
from zonal_datacube_spark.streaming.demo import (
    view_purchase_join,
    view_purchase_left_join,
)
from zonal_datacube_spark.streaming.drain import drain

N_FILES = 8
# join bound (1h) + watermark (1h) + margin: rows older than this behind
# the watermark are evictable by construction
HORIZON = timedelta(hours=3)


@pytest.fixture(scope="module")
def chunked_events(spark, tmp_path_factory):
    """events split into N_FILES chronological parquet files (one dir),
    plus the per-chunk row counts and the widest HORIZON window size."""
    root = tmp_path_factory.mktemp("stream_stress")
    src = str(root / "events_in")
    os.makedirs(src)
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .select("event_id", "event_type", "user_id", "ts", "value")
        .orderBy("ts", "event_id")
    )
    rows = ev.collect()
    per = (len(rows) + N_FILES - 1) // N_FILES
    chunk_sizes = []
    stage = str(root / "stage")
    for i in range(N_FILES):
        chunk = rows[i * per : (i + 1) * per]
        if not chunk:
            break
        chunk_sizes.append(len(chunk))
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        part = next(
            f for f in os.listdir(stage)
            if f.endswith(".parquet") and not f.startswith("_")
        )
        dst = os.path.join(src, f"chunk_{i:02d}.parquet")
        shutil.copyfile(os.path.join(stage, part), dst)
        # strictly increasing mtimes → chronological processing order
        t = time.time() - (N_FILES - i) * 10
        os.utime(dst, (t, t))
    # widest HORIZON window of the stream (view+purchase rows only — the
    # only rows the joins keep in state)
    vps = sorted(
        r.ts for r in rows if r.event_type in ("view", "purchase")
    )
    widest = max(
        sum(1 for t2 in vps if t1 <= t2 < t1 + HORIZON) for t1 in vps
    )
    return src, ev.schema, chunk_sizes, widest, len(vps)


def _run(spark, src, schema, builder, out_dir, max_files):
    """Drain the chunked source through ``builder`` with availableNow;
    returns (rows, max_state_rows, final_state_rows, n_batches)."""
    reader = spark.readStream.schema(schema)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    stream = reader.parquet(src).withColumn(
        "ts", F.expr("cast(ts AS timestamp)")
    )
    result = builder(stream)

    def write_batch(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out_dir)

    # drain stops the query and raises if it does not finish in time, so
    # no live query writes while we read
    q = drain(
        spark,
        result.writeStream.foreachBatch(write_batch)
        .outputMode("append")
        .trigger(availableNow=True),
    )
    progress = q.recentProgress
    states = [
        op["numRowsTotal"]
        for p in progress
        for op in p.get("stateOperators", [])
    ]
    from collections import Counter

    rows = Counter(tuple(r) for r in spark.read.parquet(out_dir).collect())
    return rows, max(states or [0]), (states or [0])[-1], len(progress)


@pytest.mark.parametrize(
    "builder", [view_purchase_join, view_purchase_left_join],
    ids=["inner", "left_outer"],
)
def test_many_tiny_batches_match_one_drain_and_state_stays_bounded(
    spark, tmp_path, chunked_events, builder
):
    src, schema, chunk_sizes, widest, n_vp = chunked_events
    one_rows, _, _, _ = _run(
        spark, src, schema, builder, str(tmp_path / "one"), max_files=None
    )
    many_rows, max_state, final_state, n_batches = _run(
        spark, src, schema, builder, str(tmp_path / "many"), max_files=1
    )
    # 1 — batching never changes the answer (multiset equality)
    assert many_rows == one_rows
    assert sum(many_rows.values()) > 0
    # the stress actually ran as many tiny batches (availableNow adds a
    # final flush batch on top of the per-file ones)
    assert n_batches >= len(chunk_sizes)
    # 2 — state bounded by the watermark horizon: never more than one
    # in-flight chunk plus the widest (bound+watermark) window per side,
    # never anywhere near the whole stream
    bound = 2 * (max(chunk_sizes) + widest)
    assert max_state <= bound, (max_state, bound)
    assert max_state < n_vp, (max_state, n_vp)
    # eviction fired: by the final flush the store is (near-)empty
    assert final_state <= widest, (final_state, widest)


def test_left_outer_emits_null_purchase_rows(spark, tmp_path, chunked_events):
    src, schema, _, _, _ = chunked_events
    rows, _, _, _ = _run(
        spark,
        src,
        schema,
        view_purchase_left_join,
        str(tmp_path / "nulls"),
        max_files=1,
    )
    # (user_id, view_id, v_ts, purchase_id) — unmatched views surface with
    # a NULL purchase_id, exactly once each, and never ALSO with a match
    null_views = [r[1] for r, n in rows.items() for _ in range(n) if r[3] is None]
    assert null_views, "no unmatched view emitted a null-purchase row"
    assert len(null_views) == len(set(null_views))
    matched_views = {r[1] for r in rows if r[3] is not None}
    assert not (set(null_views) & matched_views)


def test_append_aggregation_finalizes_windows_progressively(
    spark, tmp_path, chunked_events
):
    """The stateful-AGGREGATION twin of the join stress: a watermarked
    1-day tumbling count in APPEND mode emits each window exactly once
    when the watermark passes its end. Under maxFilesPerTrigger=1 the
    chronological feed must finalize windows progressively (state holds
    only the open tail, never the whole month), and the drained result
    must equal both the one-batch drain and a plain batch groupBy."""
    from collections import Counter

    src, schema, chunk_sizes, _, _ = chunked_events

    def agg_builder(stream):
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
            .agg(F.count("*").alias("n"))
            .select(
                F.date_format("w.start", "yyyy-MM-dd").alias("day"),
                "event_type",
                "n",
            )
        )

    one, _, _, _ = _run(
        spark, src, schema, agg_builder, str(tmp_path / "agg1"), None
    )
    many, max_state, final_state, n_batches = _run(
        spark, src, schema, agg_builder, str(tmp_path / "aggN"), 1
    )
    assert many == one
    assert n_batches >= len(chunk_sizes)
    # batch ground truth over the same files, cut to FINALIZED windows:
    # append mode emits a window only once the watermark (max ts − 1 h)
    # passes its END, so the stream's last open day legitimately never
    # emits — the deterministic compared region is every earlier day
    # (the same horizon cut q_stream_outer_join documents)
    raw = spark.read.parquet(src).select(
        F.expr("cast(ts AS timestamp)").alias("ts"), "event_type"
    )
    batch_df = (
        raw.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .crossJoin(
            F.broadcast(
                raw.agg(
                    F.expr("max(ts) - INTERVAL 1 HOUR").alias("wm_final")
                )
            )
        )
        .filter(F.col("w.end") <= F.col("wm_final"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd").alias("day"),
            "event_type",
            "n",
        )
    )
    batch = Counter((r.day, r.event_type, r.n) for r in batch_df.collect())
    assert many == batch
    # state = OPEN windows only: one (day × type) row set per un-finalized
    # day — the chronological feed keeps at most a few days open at once,
    # never the month's full window count
    n_days = len({d for d, _, _ in batch})
    n_types = len({t for _, t, _ in batch})
    assert max_state < n_days * n_types, (max_state, n_days * n_types)
    assert final_state <= 2 * n_types, (final_state, n_types)
