"""Streaming semantics, batch-emulated and oracle-checked (SURVEY.md §2.9).

The reference is batch-only Dask; the engine adds the stream-table surface:
tumbling / sliding / session windows, stream dedup, late-data (watermark)
semantics. Each query here is the deterministic batch restatement of the
corresponding Structured Streaming pipeline in
``zonal_datacube_spark/streaming/demo.py`` (the demo asserts
batch ≡ stream for the tumbling case; see tests/test_streaming.py).

Time parity rules (SURVEY.md §5.4): all durations/gaps are computed in
integer MICROSECONDS (the storage precision of both engines) — second-level
diffs truncate differently when fractional parts straddle a boundary.
Spark's 1-day/6-hour windows are epoch-aligned, so window starts equal
``date_trunc``/generate_series values in UTC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zonal_datacube_spark.functions.tempdirs import fresh_dirs
from zonal_datacube_spark.session import scoped_conf
from zonal_datacube_spark.sources.derived import layout
from zonal_datacube_spark.sources.loader import load_table, read_layout
from zonal_datacube_spark.streaming.drain import drain

_GAP_US = 30 * 60 * 1_000_000  # 30-minute session gap in microseconds


# Drop the trailing NO-DATA micro-batch for a streaming run whose OUTPUT
# cannot depend on it (r14, guide §1.2 — don't run work whose result is
# discarded). The no-data batch exists to advance the watermark so held
# state can emit (outer-join nulls, append-mode window finalization) or
# evict. An INNER stream-stream join emits every row eagerly during data
# batches and the query stops right after the drain, so its finalize
# batch only evicts state the stopped query throws away — a full
# state-store load/commit cycle (8 partitions × 4 join stores) with zero
# observable effect. Callers whose semantics DO need the final watermark
# pass (q_stream_outer_join, watermarked-append aggregates) must never
# use these confs.
NO_DATA_BATCH_OFF = {"spark.sql.streaming.noDataMicroBatches.enabled": "false"}


def partitioned_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per corpus) a day-partitioned copy of events —
    the on-disk fishnet-tile analogue: ``day=YYYY-MM-DD/`` directories let a time predicate prune whole
    partitions at planning time instead of filtering rows at runtime."""
    return layout(
        sf_dir, ("events",), "events_by_day",
        lambda p: load_table(spark, sf_dir, "events")
        .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(p),
    )


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-day tumbling counts/sums per event_type via window()."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def q_stream_foreach_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Structured Streaming execution as a declared, oracle-checked
    key: file-source readStream → watermarked 1-day tumbling aggregate →
    foreachBatch parquet sink (availableNow) → read back the final
    snapshot. The oracle is q_stream_tumbling's SQL — stream ≡ batch on
    the finite fixture is exactly the semantics Structured Streaming
    promises. The sink dir is a fresh temp dir per call, left on disk
    until the next call because the returned DataFrame reads it
    lazily."""
    from zonal_datacube_spark.streaming.demo import (
        events_stream,
        read_foreach_batch_result,
        run_stream_foreach_batch,
        tumbling_counts,
    )

    (out,) = fresh_dirs("q_stream_foreach_roundtrip", "zds_foreach_")
    counts = tumbling_counts(events_stream(spark, sf_dir))
    run_stream_foreach_batch(counts, spark, out)
    return read_foreach_batch_result(spark, out, counts.schema)


def q_stream_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Structured Streaming in UPDATE mode as a declared, oracle-
    checked key: readStream → watermarked tumbling aggregate → foreachBatch
    MERGE into a versioned keyed parquet state (streaming/demo.py). Update
    mode emits only the keys whose aggregate changed per trigger, and the
    upsert sink folds them into serving state — the O(changed keys) shape
    that survives when complete-mode snapshots stop fitting. Final state ≡
    the batch tumbling aggregate (same oracle as q_stream_tumbling)."""
    from zonal_datacube_spark.streaming.demo import (
        events_stream,
        run_stream_upsert,
        tumbling_counts,
    )

    (out,) = fresh_dirs("q_stream_upsert_roundtrip", "zds_upsert_")
    return run_stream_upsert(
        tumbling_counts(events_stream(spark, sf_dir)),
        spark,
        out,
        keys=["bucket_start", "event_type"],
    )


TUMBLING_PART_DAYS = ("2024-01-05", "2024-01-14")  # inclusive day range


def q_stream_tumbling_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_stream_tumbling restricted to a 10-day range, read from the
    day-partitioned events layout: the ``day`` predicate becomes a
    PartitionFilter (asserted in tests/test_data_skipping.py), so only
    10 of ~31 day directories are scanned. 1-day tumbling windows are
    epoch-aligned UTC, so window start == partition day exactly."""
    lo, hi = TUMBLING_PART_DAYS
    ev = read_layout(spark, partitioned_events_path(spark, sf_dir)).filter(
        F.col("day").between(lo, hi)
    )
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-day windows sliding every 6 hours: each event lands in 4 windows;
    Spark expands window() into the 4 assignments, the oracle enumerates
    window starts with generate_series + a containment join."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day", "6 hours").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "n_events",
            "sum_value",
            "n_users",
        )
    )


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessionization with a 30-minute gap: lag → new-session flag
    → running sum = session id → per-session aggregate. One shuffle on
    user_id; the running sum never crosses users, so this scales with user
    cardinality (the batch twin of session_window + watermark)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    )
    order_w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    run_w = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = ev.withColumn(
        "new_session",
        F.when(
            (F.col("ts_us") - F.lag("ts_us").over(order_w)) > F.lit(_GAP_US), 1
        ).otherwise(F.when(F.lag("ts_us").over(order_w).isNull(), 1).otherwise(0)),
    ).withColumn("session_id", F.sum("new_session").over(run_w))
    return (
        flagged.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts_us").alias("start_us"),
            (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
        )
        .select("user_id", "session_id", "n_events", "start_us", "duration_us")
    )


def q_stream_session_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same 30-minute sessionization through Spark's NATIVE
    ``session_window`` operator (one groupBy, merging overlapping gap
    windows engine-side) instead of the manual lag→flag→running-sum
    pipeline — same output, same oracle. session_window's end = last event
    + gap, so duration = end − start − gap; session ids are assigned by
    start order per user to match the manual key's numbering."""
    ev = load_table(spark, sf_dir, "events")
    per_session = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            "n_events",
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', w.start)"
            ).alias("start_us"),
            (
                F.expr("timestampdiff(MICROSECOND, w.start, w.end)")
                - F.lit(_GAP_US)
            ).alias("duration_us"),
        )
    )
    sid_w = Window.partitionBy("user_id").orderBy("start_us")
    return per_session.select(
        "user_id",
        F.row_number().over(sid_w).cast("bigint").alias("session_id"),
        "n_events",
        "start_us",
        "duration_us",
    )


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream dedup restated deterministically: keep the min event_id per
    (user, minute) — ``dropDuplicates`` keeps an arbitrary row, which cannot
    hash-compare; min-per-key is the same semantics with a defined winner."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id",
            F.date_format(F.date_trunc("minute", "ts"), "yyyy-MM-dd HH:mm:ss").alias("minute"),
        )
        .agg(
            F.min("event_id").alias("kept_event_id"),
            F.count("*").alias("n_dups"),
        )
    )


def q_stream_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics, batch-restated: events more than 10 minutes
    behind the per-type max ts are 'late'; count kept vs dropped. The
    per-type max comes from a partial-agg groupBy broadcast back against
    the fact scan — the earlier full-partition window max forced every
    type's rows through one window partition (the r06 self-audit's
    enum-partition sweep class) for what is just a 5-row aggregate."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.groupBy("event_type").agg(F.max("ts").alias("_max_ts"))
    cutoff = F.col("_max_ts") - F.expr("INTERVAL 10 MINUTES")
    return (
        ev.join(F.broadcast(mx), "event_type")
        .withColumn("is_late", (F.col("ts") < cutoff).cast("bigint"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("is_late").alias("n_late"),
            (F.count("*") - F.sum("is_late")).alias("n_kept"),
        )
    )


def q_stream_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming stream-static enrichment: readStream events join the
    broadcast customer dimension, aggregate per market segment, complete-
    mode memory sink (availableNow). The oracle is the plain batch join —
    stream-static joins re-resolve the static side per micro-batch, so on
    a finite source the result must equal the batch plan exactly."""
    from zonal_datacube_spark.streaming.demo import (
        enriched_segment_counts,
        events_stream,
    )

    result = enriched_segment_counts(
        events_stream(spark, sf_dir), load_table(spark, sf_dir, "customer")
    )
    drain(
        spark,
        result.writeStream.format("memory")
        .queryName("zds_stream_enrich")
        .outputMode("complete")
        .trigger(availableNow=True),
    )
    return spark.table("zds_stream_enrich")


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE stream-stream interval join: watermarked view and purchase
    streams (both derived from the events file source) joined on user
    within [view_ts, view_ts + 1h), append-mode foreachBatch sink. The
    time-bound join condition is what lets each side's state store evict
    — unbounded stream-stream joins are rejected by Spark outright. The
    oracle is the equivalent batch self-join."""
    from zonal_datacube_spark.streaming.demo import (
        events_stream,
        read_sink,
        run_stream_append,
        view_purchase_join,
    )

    (out,) = fresh_dirs("q_stream_stream_join", "zds_ssjoin_")
    # stream-stream joins keep one state store PER JOIN SIDE per partition
    # — the stream scope's min(8, slots) width matters double here. The inner
    # join emits matches eagerly, so the trailing no-data batch would only
    # evict state this availableNow run discards — skip it (r14).
    joined = view_purchase_join(events_stream(spark, sf_dir))
    with scoped_conf(spark, NO_DATA_BATCH_OFF):
        run_stream_append(joined, spark, out)
    return read_sink(spark, out, joined.schema)


def q_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE stream-stream LEFT OUTER interval join: unmatched views must
    be HELD in state until the watermark proves no qualifying purchase
    can still arrive, then emitted once with a null purchase — the
    append-mode outer-join contract (inner joins emit matches eagerly
    and never face this). Result rolls up per day after cutting to
    v_ts < max_ts − (join bound + watermark + 1 s margin): beyond that
    horizon, null-emission depends on where the final watermark stops —
    both engine and oracle apply the identical cutoff, so the compared
    region is exactly the deterministic one."""
    from zonal_datacube_spark.streaming.demo import (
        events_stream,
        read_sink,
        run_stream_append,
        view_purchase_left_join,
    )

    (out,) = fresh_dirs("q_stream_outer_join", "zds_ssouter_")
    joined = view_purchase_left_join(events_stream(spark, sf_dir))
    run_stream_append(joined, spark, out)
    res = read_sink(spark, out, joined.schema)
    cutoff = F.broadcast(
        load_table(spark, sf_dir, "events").agg(
            F.expr(
                "cast(max(ts) AS timestamp)"
                " - INTERVAL 2 HOURS - INTERVAL 1 SECOND"
            ).alias("cut")
        )
    )
    return (
        res.crossJoin(cutoff)
        .filter(F.col("v_ts") < F.col("cut"))
        .groupBy(
            F.date_format(F.date_trunc("day", "v_ts"), "yyyy-MM-dd").alias(
                "day"
            )
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("view_id").alias("n_views"),
            F.sum(F.col("purchase_id").isNull().cast("bigint")).alias(
                "n_unmatched"
            ),
        )
    )


def q_stream_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store OBSERVABILITY (Spark 4 state data source): run a
    per-user streaming aggregation to completion, then read its state
    store back as a batch DataFrame — the debugging/auditing surface for
    stateful pipelines (inspect exactly what the operator holds, offline,
    without touching the running query). The state of an unwindowed
    per-user aggregate IS the full per-user rollup, so the oracle is the
    plain batch groupBy: hash-matching it proves the store's contents,
    the reader's decode, and the stream's exactly-once accumulation all
    at once."""
    import uuid

    from zonal_datacube_spark.streaming.demo import events_stream

    (ckpt,) = fresh_dirs("q_stream_state_reader", "zds_statereader_")
    agg = (
        events_stream(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_v"))
    )
    drain(
        spark,
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName(f"zds_sr_{uuid.uuid4().hex[:8]}")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True),
    )
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.count").alias("n_events"),
        F.round(F.col("value.sum"), 2).alias("sum_value"),
    )


def q_stream_stateful_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE custom stateful streaming (applyInPandasWithState) as an
    oracle-checked key: per-user profiles (count, sum, last-seen µs)
    evolved in GroupState, update-mode memory sink. The sink holds one
    update row per user per micro-batch; max_by on the strictly-growing
    event count selects each user's FINAL state however availableNow
    splits the input. Final state ≡ the batch per-user aggregate — the
    exactly-once contract for custom stateful operators."""
    from zonal_datacube_spark.streaming.stateful import run_stateful_demo

    sink = run_stateful_demo(spark, sf_dir, table="zds_stateful_key")
    return sink.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.expr("max_by(sum_value, n_events)").alias("sum_value"),
        F.expr("max_by(last_us, n_events)").alias("last_us"),
    )


QUERIES = {
    "q_stream_tumbling": q_stream_tumbling,
    "q_stream_stateful_profile": q_stream_stateful_profile,
    "q_stream_enrich_join": q_stream_enrich_join,
    "q_stream_stream_join": q_stream_stream_join,
    "q_stream_outer_join": q_stream_outer_join,
    "q_stream_state_reader": q_stream_state_reader,
    "q_stream_tumbling_partitioned": q_stream_tumbling_partitioned,
    "q_stream_foreach_roundtrip": q_stream_foreach_roundtrip,
    "q_stream_upsert_roundtrip": q_stream_upsert_roundtrip,
    "q_stream_session_fn": q_stream_session_fn,
    "q_stream_sliding": q_stream_sliding,
    "q_stream_session": q_stream_session,
    "q_stream_dedup": q_stream_dedup,
    "q_stream_late": q_stream_late,
}

ORACLE = {
    "q_stream_stateful_profile": """
        SELECT user_id,
               count(*)::BIGINT AS n_events,
               round(sum(value), 2) AS sum_value,
               max(date_diff('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts))::BIGINT
                   AS last_us
        FROM events
        GROUP BY user_id
    """,
    "q_stream_enrich_join": """
        SELECT c.c_mktsegment,
               count(*)::BIGINT AS n_events,
               round(sum(e.value), 2) AS sum_value
        FROM events e JOIN customer c ON c.c_custkey = e.user_id + 1
        GROUP BY 1
    """,
    "q_stream_state_reader": """
        SELECT user_id,
               count(*) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM events GROUP BY user_id
    """,
    "q_stream_outer_join": """
        WITH cutoff AS (
            SELECT max(ts) - INTERVAL 2 HOUR - INTERVAL 1 SECOND AS cut
            FROM events
        ),
        v AS (
            SELECT user_id, event_id AS view_id, ts AS v_ts
            FROM events WHERE event_type = 'view'
        ),
        p AS (
            SELECT user_id, event_id AS purchase_id, ts AS p_ts
            FROM events WHERE event_type = 'purchase'
        ),
        j AS (
            SELECT v.view_id, v.v_ts, p.purchase_id
            FROM v LEFT JOIN p
              ON v.user_id = p.user_id
             AND p.p_ts >= v.v_ts
             AND p.p_ts < v.v_ts + INTERVAL 1 HOUR
        )
        SELECT strftime(date_trunc('day', v_ts), '%Y-%m-%d') AS day,
               count(*) AS n_rows,
               count(DISTINCT view_id) AS n_views,
               sum(CASE WHEN purchase_id IS NULL THEN 1 ELSE 0 END)::BIGINT
                   AS n_unmatched
        FROM j, cutoff WHERE v_ts < cut
        GROUP BY 1
    """,
    "q_stream_stream_join": """
        SELECT v.user_id,
               v.event_id AS view_id,
               p.event_id AS purchase_id,
               date_diff('microsecond', v.ts, p.ts)::BIGINT AS gap_us
        FROM events v
        JOIN events p
          ON v.user_id = p.user_id
         AND p.ts >= v.ts
         AND p.ts < v.ts + INTERVAL 1 HOUR
        WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
    "q_stream_tumbling": """
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
               event_type,
               count(*) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    "q_stream_foreach_roundtrip": """
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
               event_type,
               count(*) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    "q_stream_upsert_roundtrip": """
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
               event_type,
               count(*) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    "q_stream_tumbling_partitioned": f"""
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
               event_type,
               count(*) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM events
        WHERE strftime(ts, '%Y-%m-%d') BETWEEN '{TUMBLING_PART_DAYS[0]}'
                                           AND '{TUMBLING_PART_DAYS[1]}'
        GROUP BY 1, 2
    """,
    "q_stream_sliding": """
        WITH bounds AS (
            -- derive the enumeration from the data (a fixture with events
            -- outside a hardcoded span would silently drop windows);
            -- day-truncation keeps starts aligned to epoch 6h boundaries,
            -- over-generation is harmless — the inner join drops empty
            -- windows, exactly like Spark's window() output
            SELECT date_trunc('day', min(ts)) - INTERVAL 1 DAY AS lo,
                   date_trunc('day', max(ts)) + INTERVAL 1 DAY AS hi
            FROM events
        ),
        starts AS (
            SELECT unnest(generate_series(
                (SELECT lo FROM bounds),
                (SELECT hi FROM bounds),
                INTERVAL 6 HOUR)) AS s
        )
        SELECT strftime(s, '%Y-%m-%d %H:%M:%S') AS win_start,
               count(*) AS n_events,
               round(sum(value), 2) AS sum_value,
               count(DISTINCT user_id) AS n_users
        FROM events JOIN starts ON ts >= s AND ts < s + INTERVAL 1 DAY
        GROUP BY s
    """,
    "q_stream_session": """
        WITH t AS (
            SELECT user_id, event_id,
                   date_diff('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts) AS ts_us
            FROM events
        ), flagged AS (
            SELECT *,
                   CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                        WHEN ts_us - lag(ts_us) OVER w > 1800000000 THEN 1
                        ELSE 0 END AS new_session
            FROM t
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        ), sessions AS (
            SELECT *,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
            FROM flagged
        )
        SELECT user_id, session_id::BIGINT AS session_id,
               count(*) AS n_events,
               min(ts_us) AS start_us,
               (max(ts_us) - min(ts_us)) AS duration_us
        FROM sessions
        GROUP BY user_id, session_id
    """,
    "q_stream_session_fn": """
        WITH t AS (
            SELECT user_id, event_id,
                   date_diff('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts) AS ts_us
            FROM events
        ), flagged AS (
            SELECT *,
                   CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                        WHEN ts_us - lag(ts_us) OVER w > 1800000000 THEN 1
                        ELSE 0 END AS new_session
            FROM t
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        ), sessions AS (
            SELECT *,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
            FROM flagged
        )
        SELECT user_id, session_id::BIGINT AS session_id,
               count(*) AS n_events,
               min(ts_us) AS start_us,
               (max(ts_us) - min(ts_us)) AS duration_us
        FROM sessions
        GROUP BY user_id, session_id
    """,
    "q_stream_dedup": """
        SELECT user_id,
               strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS minute,
               min(event_id) AS kept_event_id,
               count(*) AS n_dups
        FROM events
        GROUP BY 1, 2
    """,
    "q_stream_late": """
        WITH t AS (
            SELECT event_type, ts,
                   CASE WHEN ts < max(ts) OVER (PARTITION BY event_type)
                                 - INTERVAL 10 MINUTE
                        THEN 1 ELSE 0 END AS is_late
            FROM events
        )
        SELECT event_type,
               count(*) AS n_total,
               sum(is_late)::BIGINT AS n_late,
               (count(*) - sum(is_late))::BIGINT AS n_kept
        FROM t
        GROUP BY event_type
    """,
}
