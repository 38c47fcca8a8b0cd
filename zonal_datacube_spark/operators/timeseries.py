"""Time-series analytics over the events stream (SURVEY.md §2.14 cont.):
time-weighted averages, OHLC bar downsampling, and event-transition
matrices — the continuous-aggregate staples (TimescaleDB/kdb shapes) a
time-series user of the engine reaches for daily.

Determinism: every window order carries the unique event_id tie-break
(fixture timestamps can collide), durations are integer MICROSECONDS
(both engines' storage precision), and ratios round at 6.

Scale: user-keyed windows partition on a data-scaled key and stay; the
six enum-keyed (event_type has ~5 values) per-series windows route
through the two-level rewrites instead of a 5-partition sort (VERDICT
r06/r07 what's-wrong #2): a per-series DENSE row index from
functions/prefix_sweep.py turns every bounded ROWS frame into a RANGE
frame on the index, which then runs chunk-parallel with a halo exchange
(functions/chunked_window.py); the growing frames decompose into
prefix_sweep's strict-max (drawdown) and functions/chunk_carry.py's
last-non-null carry (resample bracketing). Each key's direct-window
oracle is UNCHANGED, so the hash gate proves each rewrite exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zonal_datacube_spark.functions.chunk_carry import carry_last
from zonal_datacube_spark.functions.chunked_window import (
    with_banded_range_window,
    with_trailing_range_window,
)
from zonal_datacube_spark.functions.exact import (
    G6_SQL,
    cents,
    g6,
    micro_mean,
    micro_units,
    wide,
)
from zonal_datacube_spark.functions.prefix_sweep import prefix_sweep
from zonal_datacube_spark.sources.loader import load_table

_EPOCH_US = (
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
)


def _with_series_idx(ev: DataFrame, total_col: str | None = None) -> DataFrame:
    """ev + ``idx``: the per-event_type DENSE 1-based row number over the
    (ts, event_id) total order — computed by the range-bucketed two-level
    prefix sweep (n_types × 64 bucket partitions), NOT a per-series
    window sort. A bounded ROWS frame over the series order is exactly a
    RANGE frame on this index (unique and gap-free per series), which
    the chunk+halo window then evaluates with time-span parallelism.
    ``total_col`` optionally attaches the series row count (for last-row
    selection) from the sweep's bucket-grain table — no extra pass."""
    return prefix_sweep(
        ev.withColumn("ts_us", F.expr(_EPOCH_US)),
        ["event_type"],
        "ts_us",
        tiebreak=["event_id"],
        row_number_col="idx",
        total_count_col=total_col,
    ).drop("ts_us")


def q_ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-weighted average per event_type: each observation holds its
    value until the next one, so it weighs by dt = next_ts − ts (the
    last observation of a series carries no interval and drops out) —
    the correct mean for irregularly-sampled series, where the naive avg
    over-weights bursts. next_ts is lead(1) over the series order ≡ the
    one-row RANGE frame (+1, +1) on the dense series index, evaluated
    chunk-parallel with a 1-row leading halo — never a 5-partition
    window over the data-scaled stream."""
    ev = load_table(spark, sf_dir, "events")
    idx = _with_series_idx(ev.select("event_type", "value", "ts", "event_id"))
    # timestampdiff handles TIMESTAMP_NTZ (unix_micros rejects it)
    spans = (
        with_banded_range_window(
            idx,
            ["event_type"],
            "idx",
            0,
            1,
            {"next_ts": (1, 1, F.max("ts"))},
        )
        .filter(F.col("next_ts").isNotNull())
        .select(
            "event_type",
            "value",
            F.expr("timestampdiff(MICROSECOND, ts, next_ts)").alias("dt_us"),
        )
    )
    # v6·dt_us can reach ~1.7e19 per row, so the product is taken wide
    v6 = micro_units(F.col("value"))
    spans = spans.withColumn("_v6", v6)
    return spans.groupBy("event_type").agg(
        F.count("*").alias("n_spans"),
        F.sum("dt_us").alias("total_us"),
        micro_mean(
            F.sum(wide(F.col("_v6")) * F.col("dt_us")), F.sum("dt_us")
        ).alias("tw_avg"),
        micro_mean(F.sum(wide(F.col("_v6"))), F.count("*")).alias("naive_avg"),
    )


def q_ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar downsampling: per (event_type, day) the opening value
    (first by time), high, low, and closing value (last by time) — the
    candlestick rollup every market/metrics store serves.

    Scale (r08, VERDICT r07 watch-list): first/last fold as min/max of
    the struct (ts, event_id, value) — a lexicographic argmin/argmax
    with the unique (ts, event_id) prefix as total order — inside the
    SAME single groupBy as high/low, so the whole key is one
    partial-aggregating shuffle with map-side combine and NO ranking
    window at all: within-day event rate can grow 100× and each task
    still carries one struct accumulator per (type, day) group."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )
    first_s = F.min(
        F.struct(F.col("ts"), F.col("event_id"), F.col("value").alias("v"))
    )
    last_s = F.max(
        F.struct(F.col("ts"), F.col("event_id"), F.col("value").alias("v"))
    )
    return ev.groupBy("event_type", "day").agg(
        F.round(first_s.getField("v"), 2).alias("open"),
        F.round(F.max("value"), 2).alias("high"),
        F.round(F.min("value"), 2).alias("low"),
        F.round(last_s.getField("v"), 2).alias("close"),
        F.count("*").alias("n_ticks"),
    )


def q_ts_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-transition matrix: P(next event_type | event_type) per user
    journey — the first-order Markov model behind next-action prediction
    and anomaly scoring on clickstreams. One user-keyed window forms the
    transitions; the conditional denominator reuses the pair counts via
    a window sum, so the stream aggregates exactly once."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n_trans"))
    )
    cw = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n_trans",
        F.round(F.col("n_trans") / F.sum("n_trans").over(cw), 6).alias(
            "p_next"
        ),
    )


ANOMALY_WINDOW_MIN = 6 * 60  # trailing 6 h, minute-aligned
ANOMALY_Z = 3.0


def q_ts_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each point scored against the
    TRAILING 6-hour window's mean/stddev on minute alignment (the
    current minute excluded — a spike must not justify itself), |z| > 3
    flags — the monitoring baseline every metrics pipeline starts from.
    The per-type rollup keeps output compact and the threshold count
    robust (a flag flip would need a z within FP noise of 3.0 —
    verified empirically at both SFs on this fixture).

    Scale design (VERDICT r04 what's-wrong #5 — the r04 chunked window
    was parallel but its per-row frame recompute still grew with event
    DENSITY): the fact table first collapses to a per-(type, minute)
    moment table (n, Σv, Σv²) — one partial-agg shuffle; the moment
    table is bounded by the TIME SPAN (43 200 minutes/month × n_types),
    not by row count, so 100× denser data leaves it unchanged. The
    sliding 360-minute frame then runs over that bounded grain through
    the time-chunk+halo rewrite (functions/chunked_window.py), each
    frame touching ≤ 360 moment rows; mean/std fold EXACTLY from the
    moments (values are pre-centered on the per-type global mean — a
    broadcast — so the Σv² − (Σv)²/N cancellation never sees the raw
    magnitude), and the grain stats join back to the rows on the same
    (type, minute) key to score every point. Frames depend only on the
    row's minute, so the rewrite is exact, and the oracle stays an
    INDEPENDENT direct window over the raw rows."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "epm",
        F.expr(
            "timestampdiff(MINUTE, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ),
    )
    center = ev.groupBy("event_type").agg(F.avg("value").alias("c"))
    rows = ev.join(F.broadcast(center), "event_type").select(
        "event_type", "epm", (F.col("value") - F.col("c")).alias("v")
    )
    grain = rows.groupBy("event_type", "epm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s1"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
    )
    moments = with_trailing_range_window(
        grain,
        ["event_type"],
        "epm",
        ANOMALY_WINDOW_MIN,
        lambda w: {
            "fn": F.sum("n").over(w),
            "fs1": F.sum("s1").over(w),
            "fs2": F.sum("s2").over(w),
        },
    )
    fn = F.col("fn")
    mu = F.col("fs1") / fn
    var = (F.col("fs2") - F.col("fs1") * F.col("fs1") / fn) / (fn - 1)
    stats = moments.select(
        "event_type",
        "epm",
        mu.alias("mu"),
        F.when(
            fn >= 2, F.sqrt(F.greatest(var, F.lit(0.0)))
        ).alias("sd"),
    ).filter(F.col("sd").isNotNull() & (F.col("sd") > 0))
    scored = rows.join(stats, ["event_type", "epm"])
    z = (F.col("v") - F.col("mu")) / F.col("sd")
    return scored.groupBy("event_type").agg(
        F.count("*").alias("n_scored"),
        F.sum((F.abs(z) > ANOMALY_Z).cast("bigint")).alias("n_anomalies"),
        F.round(F.max(F.abs(z)), 4).alias("max_abs_z"),
    )


def q_ts_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAST-TOUCH attribution: each purchase credits the user's most
    recent preceding non-purchase event (the marketing-attribution
    baseline); purchases with no prior touch in the stream credit
    'direct'. One user-keyed window pass — the carry-forward
    last(ignoreNulls) pattern, the same single-shuffle shape as the
    as-of join; never a per-purchase range join."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touched = ev.withColumn(
        "last_touch",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(w),
    )
    return (
        touched.filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("last_touch", F.lit("direct")).alias("touch"))
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("attributed_value"),
        )
    )


CONCURRENCY_DAYS = 30  # an order stays "open" for 30 days


def q_ts_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval CONCURRENCY via the +1/−1 sweep: treat each order as an
    open interval [orderdate, orderdate+30d) and compute the maximum
    number simultaneously open per priority class — the
    occupancy/connections/active-sessions analysis. The sweep explodes
    each interval into two delta events and takes a running sum over
    time (ends sort before starts at the same instant, so half-open
    adjacency never double-counts); the naive formulation is an interval
    self-join that explodes quadratically on busy periods. The running
    sum rides the range-bucketed prefix sweep on the integer-µs
    timestamp (the r06 self-audit retired the 5-priority-partition
    window over the data-scaled delta stream); rows tied on (ts, +1)
    are interchangeable for a running sum, so the max is order-stable."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.col("o_orderdate").alias("start_ts"),
        F.expr(f"o_orderdate + INTERVAL {CONCURRENCY_DAYS} DAYS").alias(
            "end_ts"
        ),
    )
    deltas = orders.select(
        "o_orderpriority", F.col("start_ts").alias("ts"), F.lit(1).alias("d")
    ).unionByName(
        orders.select(
            "o_orderpriority", F.col("end_ts").alias("ts"), F.lit(-1).alias("d")
        )
    )
    from zonal_datacube_spark.functions.prefix_sweep import prefix_sweep

    swept = prefix_sweep(
        deltas.withColumn(
            "ts_us",
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            ),
        ),
        ["o_orderpriority"],
        "ts_us",
        tiebreak=["d"],
        sum_cols={"open_now": "d"},
    )
    return swept.groupBy("o_orderpriority").agg(
        F.max("open_now").alias("max_concurrent"),
        (F.count("*") / 2).cast("bigint").alias("n_intervals"),
    )


EWMA_SPAN = 40  # truncated-window length; 0.5^40 ≈ 9e-13 ≪ the 1e-6 rounding


def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (half-life = 1 tick,
    recursive form s_t = ½·x_t + ½·s_{t-1}) truncated at 40 lags —
    beyond that the weights (0.5^40 ≈ 1e-12) are six orders below the
    1e-6 output rounding, so the truncation is invisible. Reported at
    each series' LAST point — the "current smoothed level" a monitoring
    dashboard shows. Weights are exact powers of two and both engines
    fold the same frame-ordered list left-to-right, so the sums agree
    to the last bits and round(…, 6) is pure formatting.

    Scale: the trailing 40-ROW frame becomes RANGE (−39, 0) on the dense
    series index (prefix-sweep row number) and runs through the
    time-chunk+halo rewrite — (series × chunk) parallelism with a
    39-index-unit halo, exactly as q_ts_anomaly's range frame. The
    "last row per series" selection reuses the sweep's per-series total
    (idx == n_total) instead of a second per-series ranking window."""
    ev = load_table(spark, sf_dir, "events")
    idx = _with_series_idx(
        ev.select("event_type", "value", "ts", "event_id"), total_col="n_total"
    )
    smoothed = with_trailing_range_window(
        idx,
        ["event_type"],
        "idx",
        EWMA_SPAN - 1,
        lambda w: {"vals": F.collect_list("value").over(w)},
        upper_bound=0,
    ).withColumn(
        "ewma",
        F.expr(
            "aggregate(transform(vals, (x, i) ->"
            "  x * power(0.5, size(vals) - 1 - i)),"
            " cast(0.0 as double), (acc, x) -> acc + x)"
            " / (2.0 - power(0.5, size(vals) - 1))"
        ),
    )
    return smoothed.filter(F.col("idx") == F.col("n_total")).select(
        "event_type",
        F.size("vals").alias("n_window"),
        F.round("ewma", 6).alias("ewma_last"),
    )


def q_ts_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation resampling: each series re-sampled onto an
    hourly grid, every grid instant valued by interpolating its
    bracketing observations — the irregular→regular conversion feature
    stores and downsampling pipelines need (gap-fill zero-fills; this
    interpolates). The spine generates DISTRIBUTED (per-series
    sequence + explode, no driver calendar); observations and grid
    points merge into ONE stream where carry-forward / carry-backward
    passes attach the bracketing (ts, value) pairs to every grid row —
    never a per-grid-point range join. Interpolation runs in
    epoch-microsecond arithmetic, identical in both engines. Output
    rolls up per series to stay compact.

    Scale: both brackets are GROWING last-non-null frames over the
    5-value series key — the enum-partition shape — so each runs
    through functions/chunk_carry.py's two-level carry: the
    carry-forward inside each (series, time-bucket), a bucket-grain
    struct-max rollup, and a broadcast carry-in stitch; (series x 64)
    parallelism in place of one reducer per series. The bracket pair
    travels as ONE struct per direction so ts and value always come
    from the same observation. Ordering inside a bucket reproduces the
    direct window exactly: forward = (ts asc, grid-before-observation),
    so an exact-hit grid row excludes its same-instant observation from
    the PREV bracket; backward = (ts desc, observation-before-grid), so
    the NEXT bracket includes it and exact hits resolve through the
    nt == ts branch (carried out on negated epoch/tiebreak columns --
    carry_last is ascending by contract)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "value", "event_id"
    )
    spine = (
        ev.groupBy("event_type")
        .agg(F.min("ts").alias("mn"), F.max("ts").alias("mx"))
        .select(
            "event_type",
            F.explode(
                F.expr(
                    "sequence(date_trunc('hour', mn), mx,"
                    " INTERVAL 1 HOUR)"
                )
            ).alias("ts"),
            "mn",
        )
        .filter(F.col("ts") >= F.col("mn"))
        .select("event_type", "ts", F.lit(1).alias("is_grid"))
    )
    merged = (
        ev.select(
            "event_type", "ts", "value", "event_id", F.lit(0).alias("is_grid")
        )
        .unionByName(
            spine.withColumn("value", F.lit(None).cast("double")).withColumn(
                "event_id", F.lit(None).cast("long")
            )
        )
        .withColumn("ts_us", F.expr(_EPOCH_US))
        # unique carry tiebreak (ADVICE r08): two same-type observations
        # at an identical timestamp would otherwise be order-ambiguous —
        # carry_last's level-1 last() and level-2 struct-max could pick
        # DIFFERENT tied rows. event_id is unique among observations;
        # grid rows take the -1 sentinel (they never tie with each other
        # — the spine is one row per hour — and grid-vs-obs ties resolve
        # on the is_grid tiebreak first).
        .withColumn("tb", F.coalesce(F.col("event_id"), F.lit(-1)))
        .withColumn(
            "obs",
            F.when(
                F.col("is_grid") == 0,
                F.struct(F.col("ts").alias("t"), F.col("value").alias("v")),
            ),
        )
    )
    fwd = carry_last(
        # grid sorts BEFORE a same-instant observation: tiebreak -is_grid
        merged.withColumn("grid_first", -F.col("is_grid")),
        ["event_type"],
        "ts_us",
        ["grid_first", "tb"],
        "obs",
        "prev_obs",
        # one-shot materialization between the two carries: the backward
        # carry references its input three times (bounds, level-1,
        # bucket totals), and un-truncated each reference re-expands the
        # ENTIRE forward carry — the plan's biggest duplication
        # multiplier (64 parquet scans in the r13 before-plan)
    ).drop("grid_first").localCheckpoint()
    both = carry_last(
        # reverse order: negate the epoch AND the unique tiebreak so the
        # pass is the exact reverse of the forward total order;
        # observation before grid at ties
        fwd.withColumn("neg_us", -F.col("ts_us")).withColumn(
            "neg_tb", -F.col("tb")
        ),
        ["event_type"],
        "neg_us",
        ["is_grid", "neg_tb"],
        "obs",
        "next_obs",
    ).drop("neg_us", "neg_tb", "tb", "event_id")
    bracketed = both.filter(
        (F.col("is_grid") == 1) & F.col("next_obs").isNotNull()
    ).select(
        "event_type",
        "ts",
        F.col("prev_obs.t").alias("pt"),
        F.col("prev_obs.v").alias("pv"),
        F.col("next_obs.t").alias("nt"),
        F.col("next_obs.v").alias("nv"),
    )
    us = lambda c: F.expr(  # noqa: E731
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {c})"
    )
    interp = bracketed.select(
        "event_type",
        F.when(us("nt") == us("ts"), F.col("nv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (us("ts") - us("pt"))
            / (us("nt") - us("pt"))
        )
        .alias("iv"),
    )
    return interp.groupBy("event_type").agg(
        F.count("*").alias("n_grid"),
        F.round(F.avg("iv"), 6).alias("avg_interp"),
        F.round(F.min("iv"), 6).alias("min_interp"),
        F.round(F.max("iv"), 6).alias("max_interp"),
    )


MOVMED_ROWS = 21  # trailing window length (current row + 20 predecessors)


def q_ts_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving median: the exact interpolated median over each point's
    trailing 21 observations — the robust denoiser (a median filter
    ignores a 10-point spike that would drag any moving AVERAGE). An
    ordered-set aggregate evaluated over a sliding ROWS frame — a
    physically different window op from sum/avg (per-frame ranked
    buffer, not a running accumulator). Rolled up per series to stay
    compact. The 21-ROW frame becomes RANGE (−20, 0) on the dense series
    index and runs chunk-parallel with a 20-unit halo — same rewrite as
    q_ts_ewma, so the per-frame ranked buffer never serializes on the
    5-value series key."""
    ev = load_table(spark, sf_dir, "events")
    idx = _with_series_idx(ev.select("event_type", "value", "ts", "event_id"))
    scored = with_trailing_range_window(
        idx,
        ["event_type"],
        "idx",
        MOVMED_ROWS - 1,
        lambda w: {"mmed": F.expr("percentile(value, 0.5)").over(w)},
        upper_bound=0,
    ).select("event_type", "value", "mmed")
    return scored.groupBy("event_type").agg(
        F.count("*").alias("n_points"),
        F.round(F.avg("mmed"), 6).alias("avg_moving_med"),
        F.round(F.min("mmed"), 6).alias("min_moving_med"),
        F.round(F.max("mmed"), 6).alias("max_moving_med"),
    )


def q_ts_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per series: the deepest relative drop from a
    running peak — the risk metric every portfolio/SLO dashboard tracks
    (for metrics: worst degradation from best-seen). Also reports time
    underwater (share of points below 90% of the running peak).

    Scale: the running peak is a GROWING max — exactly prefix_sweep's
    strict-running-max decomposition (per-(series, time-bucket) local
    max + broadcast earlier-bucket offsets), so the carry runs with
    (series × 64) parallelism instead of one reducer per enum series
    key; inclusive peak = greatest(own value, strict max), null-safe at
    each series' first row (greatest skips the null empty-frame max)."""
    ev = load_table(spark, sf_dir, "events")
    swept = prefix_sweep(
        ev.select("event_type", "value", "ts", "event_id").withColumn(
            "ts_us", F.expr(_EPOCH_US)
        ),
        ["event_type"],
        "ts_us",
        tiebreak=["event_id"],
        strict_max_cols={"peak_x": "value"},
    )
    scored = swept.select(
        "event_type",
        "value",
        F.greatest("value", "peak_x").alias("peak"),
    ).withColumn("dd", (F.col("peak") - F.col("value")) / F.col("peak"))
    return scored.groupBy("event_type").agg(
        F.count("*").alias("n_points"),
        F.round(F.max("dd"), 6).alias("max_drawdown"),
        F.round(
            F.avg((F.col("dd") > 0.1).cast("double")), 6
        ).alias("underwater_share"),
        F.round(F.max("peak"), 2).alias("all_time_peak"),
    )


PEAK_MIN_VALUE = 150.0


def q_ts_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-peak detection: points strictly above BOTH neighbors and
    above an absolute floor — the spike census monitoring systems run
    before alert tuning (prominence-0 peaks). Ties with a neighbor
    disqualify (a plateau is not a peak), endpoints disqualify (missing
    neighbor). Rolled up per series with the tallest peak.

    Scale: lag/lead(1) over the series order = the one-row RANGE frames
    (-1, -1) / (+1, +1) on the dense series index; ONE two-sided
    chunk+halo exchange serves both, with (series x chunk) parallelism
    instead of a 5-partition sort over the data-scaled stream; endpoints
    stay null because the first/last chunk has no halo on that side,
    exactly mirroring the direct window."""
    ev = load_table(spark, sf_dir, "events")
    idx = _with_series_idx(ev.select("event_type", "value", "ts", "event_id"))
    flagged = with_banded_range_window(
        idx,
        ["event_type"],
        "idx",
        1,
        1,
        {
            "prev_v": (-1, -1, F.max("value")),
            "next_v": (1, 1, F.max("value")),
        },
    ).withColumn(
        "is_peak",
        (F.col("value") > F.col("prev_v"))
        & (F.col("value") > F.col("next_v"))
        & (F.col("value") > PEAK_MIN_VALUE),
    )
    return flagged.groupBy("event_type").agg(
        F.count("*").alias("n_points"),
        F.sum(F.col("is_peak").cast("bigint")).alias("n_peaks"),
        F.round(
            F.max(F.when(F.col("is_peak"), F.col("value"))), 2
        ).alias("tallest_peak"),
    )

SESSION_GAP_MIN = 30


def q_ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: a user's events belong to one session while
    consecutive gaps stay ≤ 30 minutes (the island starts where the gap
    exceeds it) — the batch twin of q_stream_session, reported as global
    session statistics. One user-keyed window pass builds session ids
    (cumulative sum of gap-break flags), one rollup per session, one
    global aggregate; durations are integer seconds."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        # MICROSECOND diffs: at the storage precision both engines'
        # boundary-counting and truncating semantics coincide exactly —
        # a SECOND-granularity diff on sub-second timestamps does not
        # (DuckDB counts second-boundary crossings, Spark truncates the
        # true delta; a 1800.2 s gap straddling a boundary flips them)
        F.when(
            F.expr("timestampdiff(MICROSECOND, lag(ts) OVER "
                   "(PARTITION BY user_id ORDER BY ts, event_id), ts)")
            > SESSION_GAP_MIN * 60 * 1_000_000,
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    sess = flagged.select(
        "user_id",
        "ts",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "session_id"
        ),
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (
            F.expr("timestampdiff(MICROSECOND, min(ts), max(ts))")
            / 1_000_000.0
        ).alias("dur_s"),
    )
    return per_session.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_sessions"),
        F.round(F.avg("n_events"), 6).alias("avg_events_per_session"),
        F.round(F.avg("dur_s"), 6).alias("avg_session_seconds"),
        F.max("n_events").alias("max_session_events"),
        F.round(F.max("dur_s"), 6).alias("max_session_seconds"),
    )


def _minute_grain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(type, minute) mean value — the bounded series every
    minute-grain analysis here shares. Means round at 6 BEFORE any
    downstream arithmetic so both engines start from identical series."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        F.expr(
            "timestampdiff(MINUTE, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).alias("epm"),
    ).agg(F.round(F.avg("value"), 6).alias("mv"))


def q_ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each type's minute-mean series — THE
    one-number memory/whiteness screen (near 0 = noise; near 1 = strong
    persistence, a different animal for forecasting and anomaly
    thresholds). The series is the bounded minute grain; the lag pairs
    come from one type-keyed window over it and feed a plain corr
    aggregate."""
    g = _minute_grain(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("epm")
    paired = g.select(
        "event_type", "mv", F.lag("mv").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    return paired.groupBy("event_type").agg(
        F.count("*").alias("n_pairs"),
        F.round(F.corr("mv", "prev"), 6).alias("autocorr_lag1"),
    )


def q_ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection: the running sum of each minute-mean's
    deviation from its series mean; the max/min excursions are the
    standard change-point evidence (a sustained level shift walks the
    cusum away from zero long before any single point trips a z-score).
    The cumulative sweep runs over the bounded minute grain THROUGH the
    range-bucketed prefix sweep — a deliberate second user of
    functions/prefix_sweep.py on the time axis (cusum at 100 TB is
    exactly the enum-partition straggler shape q_agg_gini had). One
    sweep suffices: cusum_i = Σ_{j≤i} mv_j − i·mean folds the centering
    into the sweep's own totals (running sum, row number, and the
    series mean's numerator/denominator all ride the same bucket-grain
    offsets), so the grain subtree is never re-joined against a
    separate mean aggregate."""
    swept = prefix_sweep(
        _minute_grain(spark, sf_dir),
        ["event_type"],
        "epm",
        sum_cols={"cum_mv": "mv"},
        row_number_col="rn",
        total_sum_cols={"tot_mv": "mv"},
        total_count_col="n_min",
    )
    cusum = F.col("cum_mv") - F.col("rn") * (
        F.col("tot_mv") / F.col("n_min")
    )
    return swept.groupBy("event_type").agg(
        F.count("*").alias("n_minutes"),
        F.round(F.max(cusum), 4).alias("max_cusum"),
        F.round(F.min(cusum), 4).alias("min_cusum"),
    )


def q_ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diurnal-seasonality strength per series: 1 − var(value − hour-of-
    day mean)/var(value) — the variance-explained share of the 24-hour
    cycle (the STL "strength of seasonality" statistic on the hour
    component). Hour means broadcast back onto the same scan; both
    variances aggregate in one pass."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hh"), "value"
    )
    hmeans = ev.groupBy("event_type", "hh").agg(
        F.avg("value").alias("hm")
    )
    resid = ev.join(F.broadcast(hmeans), ["event_type", "hh"]).select(
        "event_type", "value", (F.col("value") - F.col("hm")).alias("r")
    )
    return resid.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.round(
            1 - F.var_samp("r") / F.var_samp("value"), 6
        ).alias("seasonal_strength"),
    )
_EPOCH_MIN = "timestampdiff(MINUTE, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"


ISLAND_TOP_USERS = 20


def q_ts_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval merge: each event opens a deterministic
    interval [ts, ts + 60·(1 + event_id % 7) s]; per user, overlapping or
    touching intervals merge into islands (an interval extends its island
    while its start ≤ the running max end of everything earlier), and the
    result is each user's covered-time census. One user-keyed window pass
    (strict running max of interval end) flags island breaks, a cumulative
    sum numbers them, two grouped rollups finish — the classic coverage/
    uptime operator, never a self-join. All comparisons run in integer
    epoch MICROSECONDS (cookbook rules 7/11); the single /1e6 division
    happens on identical integers in both engines."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr(_EPOCH_US).alias("start_us"),
        (
            F.expr(_EPOCH_US)
            + (60 + 60 * F.expr("event_id % 7")) * F.lit(1_000_000)
        ).alias("end_us"),
    )
    order = Window.partitionBy("user_id").orderBy("start_us", "event_id")
    prev_max_end = F.max("end_us").over(
        order.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = ev.select(
        "user_id",
        "event_id",
        "start_us",
        "end_us",
        F.when(F.col("start_us") > prev_max_end, 1).otherwise(0).alias("brk"),
    )
    islands = flagged.select(
        "user_id",
        "start_us",
        "end_us",
        F.sum("brk")
        .over(order.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island_id"),
    )
    per_island = islands.groupBy("user_id", "island_id").agg(
        F.count("*").alias("n_events"),
        (F.max("end_us") - F.min("start_us")).alias("span_us"),
    )
    per_user = per_island.groupBy("user_id").agg(
        F.count("*").alias("n_islands"),
        F.sum("span_us").alias("covered_us"),
        F.max("n_events").alias("max_island_events"),
    )
    return (
        per_user.select(
            "user_id",
            "n_islands",
            (F.col("covered_us") / F.lit(1_000_000.0)).alias("covered_s"),
            "max_island_events",
        )
        .orderBy(F.desc("covered_s"), "user_id")
        .limit(ISLAND_TOP_USERS)
    )


CORR_WINDOW_MIN = 60


def q_ts_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 60-minute correlation between per-minute view and click
    volumes, reported as a per-day profile. Events first collapse to the
    minute grain with conditional aggregation (bounded by TIME SPAN ×
    nothing — one row per active minute, the q_ts_anomaly lesson); the
    rolling frame then slides over that grain and the correlation folds
    from five windowed INTEGER sums — exact on both engines — with the
    degenerate zero-variance windows excluded by an integer predicate.
    Only the per-day averaging of the (identical) per-window doubles
    rounds, at 6dp.

    Scale shape (r09, VERDICT r08 what's-wrong #3): the minute grain is
    time-bounded, but the rolling pass no longer rides a single global
    ``Window.orderBy(epm)`` reducer — the dense row index comes from the
    range-bucketed prefix sweep and the 60-row trailing frame from the
    chunk+halo exchange (RANGE over the dense index ≡ ROWS over the
    grain), so parallelism grows with the time span instead of pinning
    at 1. Integer sums make the rewrite bit-identical to the direct
    window."""
    grain = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click"))
        .groupBy(F.expr(_EPOCH_MIN).alias("epm"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "view", 1).otherwise(0)
            ).alias("x"),
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("y"),
        )
    )
    indexed = prefix_sweep(grain, [], "epm", row_number_col="rn")
    sums = with_trailing_range_window(
        indexed,
        [],
        "rn",
        CORR_WINDOW_MIN - 1,
        lambda w: {
            "sx": F.sum("x").over(w),
            "sy": F.sum("y").over(w),
            "sxy": F.sum(F.col("x") * F.col("y")).over(w),
            "sxx": F.sum(F.col("x") * F.col("x")).over(w),
            "syy": F.sum(F.col("y") * F.col("y")).over(w),
        },
        upper_bound=0,
    ).filter(F.col("rn") >= CORR_WINDOW_MIN)
    nw = F.lit(CORR_WINDOW_MIN)
    varx = nw * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = nw * F.col("syy") - F.col("sy") * F.col("sy")
    cov = nw * F.col("sxy") - F.col("sx") * F.col("sy")
    corr = (
        sums.filter((varx > 0) & (vary > 0))
        .select(
            F.expr("epm div 1440").alias("day_idx"),
            (cov / F.sqrt(varx * vary)).alias("c"),
        )
    )
    return (
        corr.groupBy("day_idx")
        .agg(
            F.count("*").alias("n_windows"),
            F.round(F.avg("c"), 6).alias("avg_corr"),
            F.round(F.min("c"), 6).alias("min_corr"),
            F.round(F.max("c"), 6).alias("max_corr"),
        )
    )


# --------------------------------------------------------------------------
# LOCF null repair
# --------------------------------------------------------------------------

LOCF_MOD, LOCF_RESIDUE = 11, 3


def q_ts_locf_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward null repair — the sensor-dropout
    fix every telemetry pipeline ships: readings whose event_id ≡ 3
    (mod 11) are deterministically masked as missing, then repaired per
    user series with the last non-null value at or before each row
    (F.last ignorenulls over an incremental growing frame; ordering is
    integer epoch-µs + event_id tiebreak, rules 7/11). The report counts
    missing/repaired/unrepairable rows per event type and proves the
    repaired series' cent-exact sum; leading missings with no prior
    observation stay null (honest: LOCF cannot invent a first value)."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        "user_id",
        "event_id",
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).alias("eus"),
        F.when(
            F.col("event_id") % LOCF_MOD == LOCF_RESIDUE, F.lit(None)
        )
        .otherwise(cents(F.col("value")))
        .alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("eus", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rep = base.select(
        "event_type", "v", F.last("v", ignorenulls=True).over(w).alias("r")
    )
    return (
        rep.groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("v").isNull().cast("bigint")).alias("n_missing"),
            F.sum(
                (F.col("v").isNull() & F.col("r").isNotNull()).cast("bigint")
            ).alias("n_repaired"),
            F.sum(
                (F.col("v").isNull() & F.col("r").isNull()).cast("bigint")
            ).alias("n_unrepairable"),
            F.sum("v").alias("sum_observed_c"),
            F.sum("r").alias("sum_repaired_c"),
        )
    )


# --------------------------------------------------------------------------
# multi-lag ACF
# --------------------------------------------------------------------------

ACF_MAX_LAG = 6


def q_ts_acf_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function at lags 1..6 of each type's minute-mean
    series — the correlogram read before picking AR terms or seasonal
    windows (`q_ts_autocorr` is its lag-1 slice). All K lag columns come
    from ONE window pass over the bounded minute grain, explode to
    (lag, pair) rows, and each (type, lag) cell folds exact integer
    moments: the 6-dp-rounded minute means are integers on the 1e-6
    grid, so Σx, Σx², Σxy are DECIMAL(38,0)/HUGEINT-exact and the
    Pearson closed form sees identical doubles on both engines — no
    distributed-FP corr in the loop. Lags index the OBSERVED series
    (row lag over the grain), the standard gap-skipping correlogram."""
    g = _minute_grain(spark, sf_dir).select(
        "event_type",
        "epm",
        F.round(F.col("mv") * 1000000, 0).cast("bigint").alias("mvi"),
    )
    w = Window.partitionBy("event_type").orderBy("epm")
    lagged = g.select(
        "event_type",
        "mvi",
        *[
            F.lag("mvi", k).over(w).alias(f"p{k}")
            for k in range(1, ACF_MAX_LAG + 1)
        ],
    )
    stacked = (
        lagged.select(
            "event_type",
            "mvi",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("lag"),
                            F.col(f"p{k}").alias("prev"),
                        )
                        for k in range(1, ACF_MAX_LAG + 1)
                    ]
                )
            ).alias("s"),
        )
        .select("event_type", "mvi", "s.lag", "s.prev")
        .filter(F.col("prev").isNotNull())
    )
    x, y = wide(F.col("mvi")), wide(F.col("prev"))
    m = stacked.groupBy("event_type", "lag").agg(
        F.count("*").alias("n_pairs"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    corr = (d("n_pairs") * d("sxy") - d("sx") * d("sy")) / F.sqrt(
        (d("n_pairs") * d("sxx") - d("sx") * d("sx"))
        * (d("n_pairs") * d("syy") - d("sy") * d("sy"))
    )
    return m.select(
        "event_type", "lag", "n_pairs", g6(corr).alias("acf")
    )


QUERIES = {
    "q_ts_time_weighted_avg": q_ts_time_weighted_avg,
    "q_ts_peaks": q_ts_peaks,
    "q_ts_drawdown": q_ts_drawdown,
    "q_ts_moving_median": q_ts_moving_median,
    "q_ts_ewma": q_ts_ewma,
    "q_ts_resample_interp": q_ts_resample_interp,
    "q_ts_attribution": q_ts_attribution,
    "q_ts_concurrency": q_ts_concurrency,
    "q_ts_ohlc": q_ts_ohlc,
    "q_ts_transitions": q_ts_transitions,
    "q_ts_anomaly": q_ts_anomaly,
    "q_ts_sessionize": q_ts_sessionize,
    "q_ts_seasonal_strength": q_ts_seasonal_strength,
    "q_ts_autocorr": q_ts_autocorr,
    "q_ts_cusum": q_ts_cusum,
    "q_ts_interval_merge": q_ts_interval_merge,
    "q_ts_rolling_corr": q_ts_rolling_corr,
    "q_ts_locf_repair": q_ts_locf_repair,
    "q_ts_acf_multi": q_ts_acf_multi,
}

_MINUTE_GRAIN_SQL = """
        grain AS (
            SELECT event_type,
                   date_diff('minute', TIMESTAMP '1970-01-01 00:00:00', ts)
                       AS epm,
                   round(avg(value), 6) AS mv
            FROM events GROUP BY 1, 2
        )
"""

_US = "date_diff('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts)"
_MIN = "date_diff('minute', TIMESTAMP '1970-01-01 00:00:00', ts)"


def _acf_oracle() -> str:
    branches = []
    corr = (
        "(n_pairs::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)"
        " / sqrt((n_pairs::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)"
        " * (n_pairs::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))"
    )
    for k in range(1, ACF_MAX_LAG + 1):
        branches.append(
            f"""
        SELECT event_type, {k} AS lag, count(*)::BIGINT AS n_pairs,
               sum(mvi::HUGEINT) AS sx, sum(prev::HUGEINT) AS sy,
               sum(mvi::HUGEINT * mvi::HUGEINT) AS sxx,
               sum(prev::HUGEINT * prev::HUGEINT) AS syy,
               sum(mvi::HUGEINT * prev::HUGEINT) AS sxy
        FROM (
            SELECT event_type, mvi,
                   lag(mvi, {k}) OVER (PARTITION BY event_type ORDER BY epm)
                       AS prev
            FROM scaled
        ) WHERE prev IS NOT NULL GROUP BY event_type"""
        )
    union = " UNION ALL ".join(branches)
    return f"""
        WITH {_MINUTE_GRAIN_SQL.strip()},
        scaled AS (
            SELECT event_type, epm,
                   CAST(round(mv * 1000000) AS BIGINT) AS mvi
            FROM grain
        ),
        cells AS ({union})
        SELECT event_type, lag, n_pairs,
               {G6_SQL.format(x=corr)} AS acf
        FROM cells
        ORDER BY event_type, lag
    """

ORACLE = {
    "q_ts_peaks": f"""
        WITH flagged AS (
            SELECT event_type, value,
                   lag(value) OVER w AS prev_v,
                   lead(value) OVER w AS next_v
            FROM events
            WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        )
        SELECT event_type,
               count(*) AS n_points,
               sum(CASE WHEN value > prev_v AND value > next_v
                             AND value > {PEAK_MIN_VALUE}
                        THEN 1 ELSE 0 END)::BIGINT AS n_peaks,
               round(max(CASE WHEN value > prev_v AND value > next_v
                                   AND value > {PEAK_MIN_VALUE}
                              THEN value END), 2) AS tallest_peak
        FROM flagged GROUP BY event_type
    """,
    "q_ts_drawdown": """
        WITH scored AS (
            SELECT event_type, value,
                   max(value) OVER (PARTITION BY event_type
                                    ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS peak
            FROM events
        )
        SELECT event_type,
               count(*) AS n_points,
               round(max((peak - value) / peak), 6) AS max_drawdown,
               round(avg(CASE WHEN (peak - value) / peak > 0.1
                              THEN 1.0 ELSE 0.0 END), 6)
                   AS underwater_share,
               round(max(peak), 2) AS all_time_peak
        FROM scored GROUP BY event_type
    """,
    "q_ts_moving_median": f"""
        WITH scored AS (
            SELECT event_type, value,
                   quantile_cont(value, 0.5)
                       OVER (PARTITION BY event_type
                             ORDER BY ts, event_id
                             ROWS BETWEEN {MOVMED_ROWS - 1} PRECEDING
                                   AND CURRENT ROW) AS mmed
            FROM events
        )
        SELECT event_type,
               count(*) AS n_points,
               round(avg(mmed), 6) AS avg_moving_med,
               round(min(mmed), 6) AS min_moving_med,
               round(max(mmed), 6) AS max_moving_med
        FROM scored GROUP BY event_type
    """,
    "q_ts_ewma": f"""
        WITH smoothed AS (
            SELECT event_type, ts, event_id,
                   list(value) OVER (PARTITION BY event_type
                                     ORDER BY ts, event_id
                                     ROWS BETWEEN {EWMA_SPAN - 1} PRECEDING
                                           AND CURRENT ROW) AS vals
            FROM events
        ),
        scored AS (
            SELECT event_type, ts, event_id,
                   len(vals) AS n_window,
                   list_sum(list_transform(vals,
                       (x, i) -> x * power(0.5, len(vals) - i)))
                   / (2.0 - power(0.5, len(vals) - 1)) AS ewma,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM smoothed
        )
        SELECT event_type, n_window::INT AS n_window,
               round(ewma, 6) AS ewma_last
        FROM scored WHERE rn = 1
    """,
    "q_ts_resample_interp": """
        WITH bounds AS (
            SELECT event_type, min(ts) AS mn, max(ts) AS mx
            FROM events GROUP BY event_type
        ),
        spine AS (
            SELECT event_type,
                   unnest(generate_series(date_trunc('hour', mn), mx,
                                          INTERVAL 1 HOUR)) AS ts,
                   mn
            FROM bounds
        ),
        merged AS (
            -- event_id rides along as the SAME unique tie-break the
            -- engine's carry uses (ADVICE r08): without it, two
            -- observations at an identical (type, ts) leave the window
            -- order — and therefore which tied value brackets a grid
            -- point — to scan order, which diverges across engines the
            -- moment a corpus carries duplicate timestamps (caught by
            -- the r12 sf1x rehearsal, whose 10x fan duplicates every
            -- instant; the single-copy fixtures never tied in practice).
            -- Grid rows take NULL: is_grid DESC already orders them
            -- before same-instant observations, and the hourly spine
            -- never ties with itself.
            SELECT event_type, ts, value, 0 AS is_grid, event_id FROM events
            UNION ALL
            SELECT event_type, ts, NULL, 1, NULL FROM spine WHERE ts >= mn
        ),
        bracketed AS (
            SELECT event_type, ts, is_grid,
                   last_value(CASE WHEN is_grid = 0 THEN ts END IGNORE NULLS)
                       OVER (PARTITION BY event_type
                             ORDER BY ts, is_grid DESC, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS pt,
                   last_value(CASE WHEN is_grid = 0 THEN value END IGNORE NULLS)
                       OVER (PARTITION BY event_type
                             ORDER BY ts, is_grid DESC, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS pv,
                   first_value(CASE WHEN is_grid = 0 THEN ts END IGNORE NULLS)
                       OVER (PARTITION BY event_type
                             ORDER BY ts, is_grid DESC, event_id
                             ROWS BETWEEN CURRENT ROW
                                   AND UNBOUNDED FOLLOWING) AS nt,
                   first_value(CASE WHEN is_grid = 0 THEN value END IGNORE NULLS)
                       OVER (PARTITION BY event_type
                             ORDER BY ts, is_grid DESC, event_id
                             ROWS BETWEEN CURRENT ROW
                                   AND UNBOUNDED FOLLOWING) AS nv
            FROM merged
        ),
        interp AS (
            SELECT event_type,
                   CASE WHEN date_diff('microsecond',
                                       TIMESTAMP '1970-01-01 00:00:00', nt)
                             = date_diff('microsecond',
                                         TIMESTAMP '1970-01-01 00:00:00', ts)
                        THEN nv
                        ELSE pv + (nv - pv)
                             * (date_diff('microsecond', pt, ts))
                             / (date_diff('microsecond', pt, nt))
                   END AS iv
            FROM bracketed
            WHERE is_grid = 1 AND nt IS NOT NULL
        )
        SELECT event_type,
               count(*) AS n_grid,
               round(avg(iv), 6) AS avg_interp,
               round(min(iv), 6) AS min_interp,
               round(max(iv), 6) AS max_interp
        FROM interp GROUP BY event_type
    """,
    "q_ts_concurrency": f"""
        WITH deltas AS (
            SELECT o_orderpriority, o_orderdate AS ts, 1 AS d FROM orders
            UNION ALL
            SELECT o_orderpriority,
                   o_orderdate + INTERVAL {CONCURRENCY_DAYS} DAY, -1
            FROM orders
        ),
        swept AS (
            SELECT o_orderpriority,
                   sum(d) OVER (PARTITION BY o_orderpriority
                                ORDER BY ts ASC, d ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS open_now
            FROM deltas
        )
        SELECT o_orderpriority,
               max(open_now)::BIGINT AS max_concurrent,
               (count(*) / 2)::BIGINT AS n_intervals
        FROM swept GROUP BY o_orderpriority
    """,
    "q_ts_attribution": """
        WITH touched AS (
            SELECT event_type, value,
                   last_value(CASE WHEN event_type != 'purchase'
                                   THEN event_type END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS last_touch
            FROM events
        )
        SELECT coalesce(last_touch, 'direct') AS touch,
               count(*) AS n_purchases,
               round(sum(value), 2) AS attributed_value
        FROM touched
        WHERE event_type = 'purchase'
        GROUP BY touch
    """,
    "q_ts_anomaly": f"""
        WITH scored AS (
            SELECT event_type, value,
                   avg(value) OVER w AS mu,
                   stddev_samp(value) OVER w AS sd
            FROM (
                SELECT event_type, value,
                       date_diff('minute', TIMESTAMP '1970-01-01 00:00:00', ts)
                           AS ep
                FROM events
            )
            WINDOW w AS (PARTITION BY event_type ORDER BY ep
                         RANGE BETWEEN {ANOMALY_WINDOW_MIN} PRECEDING
                               AND 1 PRECEDING)
        )
        SELECT event_type,
               count(*) AS n_scored,
               sum(CASE WHEN abs((value - mu) / sd) > {ANOMALY_Z}
                        THEN 1 ELSE 0 END)::BIGINT AS n_anomalies,
               round(max(abs((value - mu) / sd)), 4) AS max_abs_z
        FROM scored
        WHERE sd IS NOT NULL AND sd > 0
        GROUP BY event_type
    """,
    "q_ts_time_weighted_avg": """
        WITH spans AS (
            SELECT event_type, value,
                   CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v6,
                   date_diff('microsecond', ts,
                             lead(ts) OVER (PARTITION BY event_type
                                            ORDER BY ts, event_id)) AS dt_us
            FROM events
        )
        SELECT event_type,
               count(*) AS n_spans,
               sum(dt_us)::BIGINT AS total_us,
               round(CAST(sum(v6::HUGEINT * dt_us) AS DOUBLE)
                     / sum(dt_us) / 1000000, 6) AS tw_avg,
               round(CAST(sum(v6) AS DOUBLE) / count(*) / 1000000, 6)
                   AS naive_avg
        FROM spans WHERE dt_us IS NOT NULL
        GROUP BY event_type
    """,
    "q_ts_ohlc": """
        WITH ranked AS (
            SELECT event_type,
                   strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   value,
                   row_number() OVER (PARTITION BY event_type,
                                      date_trunc('day', ts)
                                      ORDER BY ts ASC, event_id ASC) AS rn_a,
                   row_number() OVER (PARTITION BY event_type,
                                      date_trunc('day', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM events
        )
        SELECT event_type, day,
               round(max(CASE WHEN rn_a = 1 THEN value END), 2) AS open,
               round(max(value), 2) AS high,
               round(min(value), 2) AS low,
               round(max(CASE WHEN rn_d = 1 THEN value END), 2) AS close,
               count(*) AS n_ticks
        FROM ranked GROUP BY event_type, day
    """,
    "q_ts_transitions": """
        WITH pairs AS (
            SELECT from_type, to_type, count(*) AS n_trans
            FROM (
                SELECT event_type AS from_type,
                       lead(event_type) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id) AS to_type
                FROM events
            )
            WHERE to_type IS NOT NULL
            GROUP BY from_type, to_type
        )
        SELECT from_type, to_type, n_trans,
               round(n_trans * 1.0
                     / sum(n_trans) OVER (PARTITION BY from_type), 6) AS p_next
        FROM pairs
    """,
    "q_ts_seasonal_strength": """
        WITH hmeans AS (
            SELECT event_type, hour(ts) AS hh, avg(value) AS hm
            FROM events GROUP BY 1, 2
        ),
        resid AS (
            SELECT e.event_type, e.value, e.value - h.hm AS r
            FROM events e
            JOIN hmeans h ON e.event_type = h.event_type
                         AND hour(e.ts) = h.hh
        )
        SELECT event_type,
               count(*) AS n_rows,
               round(1 - var_samp(r) / var_samp(value), 6)
                   AS seasonal_strength
        FROM resid GROUP BY event_type
    """,
    "q_ts_sessionize": f"""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN date_diff('microsecond',
                                       lag(ts) OVER (PARTITION BY user_id
                                                     ORDER BY ts, event_id),
                                       ts) > {SESSION_GAP_MIN * 60 * 1_000_000}
                        THEN 1 ELSE 0 END AS brk
            FROM events
        ),
        sess AS (
            SELECT user_id, ts,
                   sum(brk) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS session_id
            FROM flagged
        ),
        per_session AS (
            SELECT user_id, session_id,
                   count(*) AS n_events,
                   date_diff('microsecond', min(ts), max(ts)) * 1.0
                       / 1000000 AS dur_s
            FROM sess GROUP BY 1, 2
        )
        SELECT count(DISTINCT user_id) AS n_users,
               count(*) AS n_sessions,
               round(avg(n_events), 6) AS avg_events_per_session,
               round(avg(dur_s), 6) AS avg_session_seconds,
               max(n_events) AS max_session_events,
               round(max(dur_s), 6) AS max_session_seconds
        FROM per_session
    """,
    "q_ts_autocorr": f"""
        WITH {_MINUTE_GRAIN_SQL.strip()},
        paired AS (
            SELECT event_type, mv,
                   lag(mv) OVER (PARTITION BY event_type ORDER BY epm)
                       AS prev
            FROM grain
        )
        SELECT event_type,
               count(*) AS n_pairs,
               round(corr(mv, prev), 6) AS autocorr_lag1
        FROM paired WHERE prev IS NOT NULL
        GROUP BY event_type
    """,
    "q_ts_cusum": f"""
        WITH {_MINUTE_GRAIN_SQL.strip()},
        centered AS (
            SELECT event_type, epm,
                   mv - avg(mv) OVER (PARTITION BY event_type) AS dev
            FROM grain
        ),
        swept AS (
            SELECT event_type,
                   sum(dev) OVER (PARTITION BY event_type ORDER BY epm
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS cusum
            FROM centered
        )
        SELECT event_type,
               count(*) AS n_minutes,
               round(max(cusum), 4) AS max_cusum,
               round(min(cusum), 4) AS min_cusum
        FROM swept GROUP BY event_type
    """,
    "q_ts_interval_merge": f"""
        WITH iv AS (
            SELECT user_id, event_id,
                   {_US} AS start_us,
                   {_US} + (60 + 60 * (event_id % 7)) * 1000000 AS end_us
            FROM events
        ),
        flagged AS (
            SELECT user_id, start_us, end_us,
                   CASE WHEN start_us > max(end_us) OVER (
                       PARTITION BY user_id ORDER BY start_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   THEN 1 ELSE 0 END AS brk,
                   event_id
            FROM iv
        ),
        isl AS (
            SELECT user_id, start_us, end_us,
                   sum(brk) OVER (
                       PARTITION BY user_id ORDER BY start_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS island_id
            FROM flagged
        ),
        per_island AS (
            SELECT user_id, island_id, count(*) AS n_events,
                   max(end_us) - min(start_us) AS span_us
            FROM isl GROUP BY 1, 2
        )
        SELECT user_id,
               count(*)::BIGINT AS n_islands,
               sum(span_us) / 1000000.0 AS covered_s,
               max(n_events)::BIGINT AS max_island_events
        FROM per_island GROUP BY user_id
        ORDER BY covered_s DESC, user_id LIMIT {ISLAND_TOP_USERS}
    """,
    "q_ts_rolling_corr": f"""
        WITH grain AS (
            SELECT {_MIN} AS epm,
                   sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                       ::BIGINT AS x,
                   sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                       ::BIGINT AS y
            FROM events WHERE event_type IN ('view', 'click')
            GROUP BY 1
        ),
        sums AS (
            SELECT epm,
                   row_number() OVER (ORDER BY epm) AS rn,
                   sum(x) OVER w AS sx, sum(y) OVER w AS sy,
                   sum(x * y) OVER w AS sxy,
                   sum(x * x) OVER w AS sxx,
                   sum(y * y) OVER w AS syy
            FROM grain
            WINDOW w AS (ORDER BY epm
                         ROWS BETWEEN {CORR_WINDOW_MIN - 1} PRECEDING
                         AND CURRENT ROW)
        ),
        c AS (
            SELECT epm // 1440 AS day_idx,
                   ({CORR_WINDOW_MIN} * sxy - sx * sy)
                       / sqrt(({CORR_WINDOW_MIN} * sxx - sx * sx)
                              * ({CORR_WINDOW_MIN} * syy - sy * sy)) AS c
            FROM sums
            WHERE rn >= {CORR_WINDOW_MIN}
              AND {CORR_WINDOW_MIN} * sxx - sx * sx > 0
              AND {CORR_WINDOW_MIN} * syy - sy * sy > 0
        )
        SELECT day_idx::BIGINT AS day_idx,
               count(*)::BIGINT AS n_windows,
               round(avg(c), 6) AS avg_corr,
               round(min(c), 6) AS min_corr,
               round(max(c), 6) AS max_corr
        FROM c GROUP BY 1 ORDER BY day_idx
    """,
    "q_ts_locf_repair": f"""
        WITH base AS (
            SELECT event_type, user_id, event_id,
                   date_diff('microsecond',
                             TIMESTAMP '1970-01-01 00:00:00', ts) AS eus,
                   CASE WHEN event_id % {LOCF_MOD} = {LOCF_RESIDUE}
                        THEN NULL
                        ELSE CAST(floor(value * 100 + 0.5) AS BIGINT)
                   END AS v
            FROM events
        ),
        rep AS (
            SELECT event_type, v,
                   last_value(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY eus, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS r
            FROM base
        )
        SELECT event_type, count(*)::BIGINT AS n_rows,
               count_if(v IS NULL)::BIGINT AS n_missing,
               count_if(v IS NULL AND r IS NOT NULL)::BIGINT AS n_repaired,
               count_if(v IS NULL AND r IS NULL)::BIGINT AS n_unrepairable,
               sum(v)::BIGINT AS sum_observed_c,
               sum(r)::BIGINT AS sum_repaired_c
        FROM rep GROUP BY event_type ORDER BY event_type
    """,
    "q_ts_acf_multi": _acf_oracle(),
}
