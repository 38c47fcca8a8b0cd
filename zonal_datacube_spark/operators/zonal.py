"""Zonal statistics — the reference's signature semantics (SURVEY.md §2.11).

Reference analogue (``/root/reference/README.md:2`` — "Scalable Dask-backed
zonal statistics"): assign each raster cell to a zone, then aggregate per
zone. Relationally (the Raptor decomposition, PAPERS.md:9) that is a
range/spatial join followed by a grouped aggregation.

Spark-first design:
- zones are a tiny inline dimension → ``broadcast()`` hint, so the huge cell
  side never shuffles for the join (the analogue of shipping the zone table
  to every Dask worker);
- the per-zone aggregation runs as partial (map-side) + final HashAggregate —
  Spark's built-in split-apply-combine, identical in shape to the reference's
  per-tile partial stats + tree-reduce combine;
- at 100 TB the plan is unchanged: cells stream through executors once, only
  the tiny per-zone partials shuffle.

The driver fixture stands in for the raster: ``events.value`` is the cell
value, an inline ``(zone_id, lo, hi)`` table is the zone layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zonal_datacube_spark.functions.exact import (
    from_micro,
    micro_mean,
    micro_units,
    wide,
)
from zonal_datacube_spark.functions.local_rel import local_relation
from zonal_datacube_spark.sources.loader import load_table

# Value-band zones over events.value (observed domain ~0–330). Half-open
# [lo, hi) intervals, deliberately non-uniform width with a catch-all tail.
ZONES = [
    (0, 0.0, 25.0),
    (1, 25.0, 50.0),
    (2, 50.0, 75.0),
    (3, 75.0, 100.0),
    (4, 100.0, 150.0),
    (5, 150.0, 200.0),
    (6, 200.0, 350.0),
]

ZONES_SQL_VALUES = ", ".join(f"({z}, {lo}, {hi})" for z, lo, hi in ZONES)


def zones_df(spark: SparkSession) -> DataFrame:
    return local_relation(spark, ZONES, "zone_id INT, lo DOUBLE, hi DOUBLE")


def assign_zones(cells: DataFrame) -> DataFrame:
    """``cells`` joined to the broadcast ``ZONES`` table on the half-open
    band ``lo <= value < hi``: one output row per cell inside a zone,
    carrying ``zone_id``, ``lo`` and ``hi``. A NULL or out-of-band value
    matches no zone."""
    zones = F.broadcast(zones_df(cells.sparkSession))
    return cells.join(
        zones, (cells.value >= zones.lo) & (cells.value < zones.hi), "inner"
    )


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-zone count/sum/mean/min/max/stddev of cell values.

    Flagship query: scan → broadcast range join → partial+final groupBy.

    Mean and stddev are exact folds on the 1e-6 grid (functions/exact.py;
    v6² ≤ 4e16 per row). The 2dp sum keeps the raw double fold: its
    rounding grain is ~7 orders above the accumulation noise."""
    joined = assign_zones(load_table(spark, sf_dir, "events")).withColumn(
        "_v6", micro_units(F.col("value"))
    )
    n = F.count("*")
    t1 = F.sum(wide(F.col("_v6")))
    s1 = t1.cast("double")
    s2 = F.sum(wide(F.col("_v6") * F.col("_v6"))).cast("double")
    stddev = F.when(
        n > 1,
        F.round(from_micro(F.sqrt((s2 - s1 * s1 / n) / (n - F.lit(1)))), 6),
    )
    return (
        joined.groupBy("zone_id")
        .agg(
            n.alias("n_cells"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            micro_mean(t1, n).alias("mean_value"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.max("value"), 2).alias("max_value"),
            stddev.alias("stddev_value"),
        )
    )


def q_zonal_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical zonal histogram: per-zone per-category cell counts,
    pivoted wide via conditional aggregation (engine-portable column names,
    FIXTURES.md parity rule 5)."""
    joined = assign_zones(load_table(spark, sf_dir, "events"))
    cats = ["click", "error", "purchase", "signup", "view"]
    aggs = [
        F.count(F.when(F.col("event_type") == c, F.lit(1))).alias(f"n_{c}")
        for c in cats
    ]
    return joined.groupBy("zone_id").agg(*aggs)


def q_zonal_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics × time — the actual DATACUBE operation: per-zone
    per-day aggregates over the cell stream (the reference's zonal stats
    applied along the cube's time axis). Same broadcast range join as the
    flagship; the grouping key widens to (zone, day), which stays
    high-cardinality and skew-free at any scale."""
    joined = assign_zones(load_table(spark, sf_dir, "events"))
    val_e6 = micro_units(F.col("value"))
    return joined.groupBy(
        "zone_id", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.count("*").alias("n_cells"),
        micro_mean(F.sum(wide(val_e6)), F.count("*")).alias("mean_value"),
        F.round(F.max("value"), 2).alias("max_value"),
    )


RASTER_N = 512  # synthetic raster edge (cells); 512² = 262,144 cells
RASTER_FACTOR = 8  # downsample factor per axis


def q_raster_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datacube resolution pyramid: downsample a raster by 8× per axis
    (mean + count per coarse cell) — the overview/pyramid-build every
    raster store runs. The raster is generated distributed
    (``spark.range``, integer-arithmetic values — no data files, exactly
    reproducible in the oracle), and the downsample is ONE partial+final
    aggregate keyed by the coarse cell; at 100 TB the same plan streams
    tiles through executors once."""
    n, f = RASTER_N, RASTER_FACTOR
    cells = spark.range(0, n * n).select(
        (F.col("id") % n).alias("x"),
        F.floor(F.col("id") / n).alias("y"),
        ((F.col("id") % n) * 31 + F.floor(F.col("id") / n) * 17).cast("long")
        .alias("_v"),
    ).select("x", "y", (F.col("_v") % 97).alias("val"))
    return (
        cells.groupBy(
            F.floor(F.col("x") / f).alias("tile_x"),
            F.floor(F.col("y") / f).alias("tile_y"),
        )
        .agg(
            F.count("*").alias("n_cells"),
            F.round(F.avg("val"), 6).alias("mean_val"),
            F.max("val").alias("max_val"),
        )
    )


def q_zonal_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED zonal statistics — the partial-coverage variant every
    real zonal engine needs (a pixel straddling a zone boundary
    contributes area-fraction weight, not 0-or-1): weighted mean =
    Σ(w·v)/Σ(w) per zone. The per-cell weight here is the events JSON
    payload's k value (standing in for coverage fraction); the plan is
    the flagship's broadcast range join + one partial+final aggregate,
    unchanged — weighting is pure map-side arithmetic."""
    cells = load_table(spark, sf_dir, "events").withColumn(
        "w", F.get_json_object("props", "$.k").cast("double")
    )
    # w is integer-valued, so w·v6 is an exact integer
    v6 = micro_units(F.col("value"))
    wl = F.col("w").cast("bigint")
    joined = assign_zones(cells).withColumn("_v6", v6).withColumn("_wl", wl)
    return joined.groupBy("zone_id").agg(
        F.count("*").alias("n_cells"),
        F.round(F.sum("w"), 2).alias("sum_weight"),
        micro_mean(
            F.sum(wide(F.col("_wl") * F.col("_v6"))), F.sum("_wl")
        ).alias("weighted_mean"),
        micro_mean(F.sum(wide(F.col("_v6"))), F.count("*")).alias(
            "unweighted_mean"
        ),
    )


def q_zonal_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal CHANGE DETECTION between two epochs — the reference
    domain's signature workflow (forest-cover loss per zone between
    years: wri/zonal-datacube's whole reason to exist). The time span
    splits at its midpoint (computed in exact epoch-µs arithmetic from
    a broadcast 1-row min/max aggregate — SF-invariant, no calendar
    constants), each epoch aggregates per zone in the SAME broadcast
    range join + partial-agg pass as q_zonal_stats (conditional
    aggregates, one scan, one shuffle), and the output is the per-zone
    delta and relative change."""
    cells = load_table(spark, sf_dir, "events")
    us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {})"
    bounds = F.broadcast(
        cells.agg(
            F.expr(
                f"({us.format('min(ts)')} + {us.format('max(ts)')}) div 2"
            ).alias("mid_us")
        )
    )
    joined = (
        assign_zones(cells)
        .crossJoin(bounds)
        .withColumn(
            "in_p1", F.expr(us.format("ts")) < F.col("mid_us")
        )
    )
    p1v = F.when(F.col("in_p1"), F.col("value"))
    p2v = F.when(~F.col("in_p1"), F.col("value"))
    v6 = micro_units(F.col("value"))
    p1v6 = wide(F.when(F.col("in_p1"), v6))
    p2v6 = wide(F.when(~F.col("in_p1"), v6))
    return (
        joined.groupBy("zone_id")
        .agg(
            F.count(p1v).alias("n_p1"),
            F.count(p2v).alias("n_p2"),
            micro_mean(F.sum(p1v6), F.count(p1v)).alias("mean_p1"),
            micro_mean(F.sum(p2v6), F.count(p2v)).alias("mean_p2"),
        )
        .select(
            "zone_id",
            "n_p1",
            "n_p2",
            "mean_p1",
            "mean_p2",
            F.round(F.col("mean_p2") - F.col("mean_p1"), 6).alias("delta"),
            F.round(
                (F.col("mean_p2") - F.col("mean_p1")) / F.col("mean_p1"), 6
            ).alias("rel_change"),
        )
    )


def q_raster_focal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOCAL (neighborhood) statistics — the raster-algebra smoothing
    kernel (3×3 focal mean, the moving-window op beside zonal in every
    raster engine). Expressed as scatter-gather: each cell EXPLODES to
    its 9 neighbor positions and the per-target mean folds in one
    partial+final aggregate keyed by cell — no self-join on coordinates,
    and at 100 TB the shuffle is 9× the raster, partitioned by target
    cell (in production, tile the grid so the halo exchange touches
    tile borders only — the chunk+halo pattern of
    functions/chunked_window.py in two dimensions). Edge cells average
    over their existing neighbors (count 4/6/9 for corner/edge/
    interior); the output rolls up per neighborhood class."""
    n = RASTER_N
    cells = spark.range(0, n * n).select(
        (F.col("id") % n).alias("x"),
        F.floor(F.col("id") / n).alias("y"),
    ).select(
        "x",
        "y",
        ((F.col("x") * 31 + F.col("y") * 17) % 97).alias("val"),
    )
    offsets = F.expr(
        "flatten(transform(sequence(-1, 1), dx ->"
        " transform(sequence(-1, 1), dy -> struct(dx, dy))))"
    )
    scattered = (
        cells.select(
            "x", "y", "val", F.explode(offsets).alias("o")
        )
        .select(
            (F.col("x") + F.col("o.dx")).alias("tx"),
            (F.col("y") + F.col("o.dy")).alias("ty"),
            "val",
        )
        .filter(
            (F.col("tx") >= 0)
            & (F.col("tx") < n)
            & (F.col("ty") >= 0)
            & (F.col("ty") < n)
        )
    )
    focal = scattered.groupBy("tx", "ty").agg(
        F.count("*").alias("n_nbrs"),
        F.avg("val").alias("fmean"),
    )
    return focal.groupBy("n_nbrs").agg(
        F.count("*").alias("n_cells"),
        F.round(F.avg("fmean"), 6).alias("avg_focal_mean"),
        F.round(F.min("fmean"), 6).alias("min_focal_mean"),
        F.round(F.max("fmean"), 6).alias("max_focal_mean"),
    )


# ---------------------------------------------------------------------------
# raster slope (Horn's method) — integer gradient algebra
# ---------------------------------------------------------------------------

SLOPE_N = 256  # synthetic raster edge; 256² = 65,536 cells
SLOPE_CLASS_W = 30_000  # slope² units per steepness class (max ≈ 295k)


def q_raster_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terrain slope via Horn's 3×3 gradient (Horn 1981, the
    slope/aspect kernel every raster engine ships next to focal stats):
    gx = (E·2 + NE + SE) − (W·2 + NW + SW), gy symmetric, on the same
    deterministic synthetic raster as q_raster_focal (zonal.py) — and
    ENTIRELY in integer algebra: the report classifies by slope² =
    gx² + gy² (monotone in slope, so the class census is identical) and
    never evaluates the float atan/sqrt, sidestepping rule 8 outright.

    Scale: same scatter-gather as q_raster_focal — each cell explodes
    to its 8 weighted neighbor contributions and one partial+final
    aggregate keyed by target cell folds both gradient sums; interior
    cells identify as contribution-count == 8 (no branchy edge logic).
    At 100 TB: tile the grid and halo-exchange tile borders — the 2-D
    instance of functions/chunked_window.py's pattern."""
    n = SLOPE_N
    cells = spark.range(0, n * n).select(
        (F.col("id") % n).alias("x"),
        F.floor(F.col("id") / n).alias("y"),
    ).select(
        "x", "y", ((F.col("x") * 31 + F.col("y") * 17) % 97).alias("val")
    )
    offsets = F.expr(
        "filter(flatten(transform(sequence(-1, 1), dx ->"
        " transform(sequence(-1, 1), dy -> struct(dx, dy)))),"
        " o -> o.dx != 0 OR o.dy != 0)"
    )
    wx = F.when(F.col("o.dx") == 0, F.lit(0)).otherwise(
        F.col("o.dx") * F.when(F.col("o.dy") == 0, 2).otherwise(1)
    )
    wy = F.when(F.col("o.dy") == 0, F.lit(0)).otherwise(
        F.col("o.dy") * F.when(F.col("o.dx") == 0, 2).otherwise(1)
    )
    scattered = (
        cells.select("x", "y", "val", F.explode(offsets).alias("o"))
        .select(
            (F.col("x") - F.col("o.dx")).alias("tx"),
            (F.col("y") - F.col("o.dy")).alias("ty"),
            (wx * F.col("val")).alias("wxv"),
            (wy * F.col("val")).alias("wyv"),
        )
        .filter(
            (F.col("tx") >= 0) & (F.col("tx") < n)
            & (F.col("ty") >= 0) & (F.col("ty") < n)
        )
    )
    grad = scattered.groupBy("tx", "ty").agg(
        F.sum("wxv").alias("gx"),
        F.sum("wyv").alias("gy"),
        F.count("*").alias("nc"),
    )
    steep = grad.filter(F.col("nc") == 8).select(
        (F.col("gx") * F.col("gx") + F.col("gy") * F.col("gy")).alias("ss")
    )
    return steep.groupBy(
        F.expr(f"least(9L, ss div {SLOPE_CLASS_W})").alias("steep_class")
    ).agg(
        F.count("*").alias("n_cells"),
        F.min("ss").alias("min_slope_sq"),
        F.max("ss").alias("max_slope_sq"),
        F.round(F.avg("ss"), 6).alias("avg_slope_sq"),
    )


QUERIES = {
    "q_zonal_stats": q_zonal_stats,
    "q_zonal_change": q_zonal_change,
    "q_raster_focal": q_raster_focal,
    "q_zonal_weighted": q_zonal_weighted,
    "q_zonal_categorical": q_zonal_categorical,
    "q_zonal_timeseries": q_zonal_timeseries,
    "q_raster_downsample": q_raster_downsample,
    "q_raster_slope": q_raster_slope,
}

ORACLE = {
    "q_raster_focal": f"""
        WITH cells AS (
            SELECT (i % {RASTER_N}) AS x, (i // {RASTER_N}) AS y,
                   ((i % {RASTER_N}) * 31 + (i // {RASTER_N}) * 17) % 97
                       AS val
            FROM generate_series(0, {RASTER_N * RASTER_N - 1}) AS t(i)
        ),
        scattered AS (
            SELECT c.x + dx.d AS tx, c.y + dy.d AS ty, c.val
            FROM cells c,
                 (VALUES (-1), (0), (1)) AS dx(d),
                 (VALUES (-1), (0), (1)) AS dy(d)
            WHERE c.x + dx.d BETWEEN 0 AND {RASTER_N - 1}
              AND c.y + dy.d BETWEEN 0 AND {RASTER_N - 1}
        ),
        focal AS (
            SELECT tx, ty, count(*) AS n_nbrs, avg(val) AS fmean
            FROM scattered GROUP BY tx, ty
        )
        SELECT n_nbrs, count(*) AS n_cells,
               round(avg(fmean), 6) AS avg_focal_mean,
               round(min(fmean), 6) AS min_focal_mean,
               round(max(fmean), 6) AS max_focal_mean
        FROM focal GROUP BY n_nbrs
    """,
    "q_zonal_change": f"""
        WITH bounds AS (
            SELECT (date_diff('microsecond',
                              TIMESTAMP '1970-01-01 00:00:00', min(ts))
                    + date_diff('microsecond',
                                TIMESTAMP '1970-01-01 00:00:00', max(ts)))
                   // 2 AS mid_us
            FROM events
        ),
        joined AS (
            SELECT z.zone_id, e.value,
                   CAST(floor(e.value * 1000000 + 0.5) AS BIGINT) AS v6,
                   date_diff('microsecond',
                             TIMESTAMP '1970-01-01 00:00:00', e.ts)
                       < b.mid_us AS in_p1
            FROM events e
            JOIN (VALUES {ZONES_SQL_VALUES}) AS z(zone_id, lo, hi)
              ON e.value >= z.lo AND e.value < z.hi
            CROSS JOIN bounds b
        ),
        agg AS (
            SELECT zone_id,
                   count(CASE WHEN in_p1 THEN value END) AS n_p1,
                   count(CASE WHEN NOT in_p1 THEN value END) AS n_p2,
                   round(CAST(sum(CASE WHEN in_p1 THEN v6 END) AS DOUBLE)
                         / count(CASE WHEN in_p1 THEN value END)
                         / 1000000, 6) AS mean_p1,
                   round(CAST(sum(CASE WHEN NOT in_p1 THEN v6 END) AS DOUBLE)
                         / count(CASE WHEN NOT in_p1 THEN value END)
                         / 1000000, 6) AS mean_p2
            FROM joined GROUP BY zone_id
        )
        SELECT zone_id, n_p1, n_p2, mean_p1, mean_p2,
               round(mean_p2 - mean_p1, 6) AS delta,
               round((mean_p2 - mean_p1) / mean_p1, 6) AS rel_change
        FROM agg
    """,
    "q_zonal_weighted": f"""
        WITH zones(zone_id, lo, hi) AS (VALUES {ZONES_SQL_VALUES}),
        cells AS (
            SELECT value, json_extract(props, '$.k')::DOUBLE AS w,
                   CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v6,
                   json_extract(props, '$.k')::BIGINT AS wl
            FROM events
        )
        SELECT zone_id,
               count(*) AS n_cells,
               round(sum(w), 2) AS sum_weight,
               round(CAST(sum(wl * v6) AS DOUBLE) / sum(wl) / 1000000, 6)
                   AS weighted_mean,
               round(CAST(sum(v6) AS DOUBLE) / count(*) / 1000000, 6)
                   AS unweighted_mean
        FROM cells JOIN zones ON value >= lo AND value < hi
        GROUP BY zone_id
    """,
    "q_zonal_timeseries": f"""
        WITH zones(zone_id, lo, hi) AS (VALUES {ZONES_SQL_VALUES})
        SELECT zone_id, date_trunc('day', ts) AS day,
               count(*) AS n_cells,
               round(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))::DOUBLE
                     / count(*) / 1000000, 6) AS mean_value,
               round(max(value), 2) AS max_value
        FROM events JOIN zones ON value >= lo AND value < hi
        GROUP BY zone_id, day
    """,
    "q_raster_downsample": f"""
        WITH cells AS (
            SELECT (i % {RASTER_N}) AS x, (i // {RASTER_N}) AS y,
                   ((i % {RASTER_N}) * 31 + (i // {RASTER_N}) * 17) % 97 AS val
            FROM generate_series(0, {RASTER_N * RASTER_N - 1}) AS t(i)
        )
        SELECT (x // {RASTER_FACTOR})::BIGINT AS tile_x,
               (y // {RASTER_FACTOR})::BIGINT AS tile_y,
               count(*) AS n_cells,
               round(avg(val), 6) AS mean_val,
               max(val) AS max_val
        FROM cells GROUP BY tile_x, tile_y
    """,
    "q_zonal_stats": f"""
        WITH zones(zone_id, lo, hi) AS (VALUES {ZONES_SQL_VALUES})
        SELECT zone_id,
               count(*) AS n_cells,
               round(sum(value), 2) AS sum_value,
               round(CAST(sum(v6) AS DOUBLE) / count(*) / 1000000, 6)
                   AS mean_value,
               round(min(value), 2) AS min_value,
               round(max(value), 2) AS max_value,
               CASE WHEN count(*) > 1 THEN
                   round(sqrt((CAST(sum(v6 * v6) AS DOUBLE)
                               - CAST(sum(v6) AS DOUBLE)
                                 * CAST(sum(v6) AS DOUBLE) / count(*))
                              / (count(*) - 1)) / 1000000, 6)
               END AS stddev_value
        FROM (SELECT value, CAST(floor(value * 1000000 + 0.5) AS BIGINT)
                     AS v6
              FROM events) e
        JOIN zones ON value >= lo AND value < hi
        GROUP BY zone_id
    """,
    "q_zonal_categorical": f"""
        WITH zones(zone_id, lo, hi) AS (VALUES {ZONES_SQL_VALUES})
        SELECT zone_id,
               count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
               count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
               count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
               count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
               count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view
        FROM events JOIN zones ON value >= lo AND value < hi
        GROUP BY zone_id
    """,
    "q_raster_slope": f"""
        WITH cells AS (
            SELECT i % {SLOPE_N} AS x, i // {SLOPE_N} AS y,
                   ((i % {SLOPE_N}) * 31 + (i // {SLOPE_N}) * 17) % 97 AS val
            FROM range(0, {SLOPE_N * SLOPE_N}) t(i)
        ),
        off(dx, dy) AS (
            VALUES (-1,-1), (-1,0), (-1,1), (0,-1),
                   (0,1), (1,-1), (1,0), (1,1)
        ),
        scat AS (
            SELECT x - dx AS tx, y - dy AS ty,
                   (CASE WHEN dx = 0 THEN 0
                         ELSE dx * (CASE WHEN dy = 0 THEN 2 ELSE 1 END)
                    END) * val AS wxv,
                   (CASE WHEN dy = 0 THEN 0
                         ELSE dy * (CASE WHEN dx = 0 THEN 2 ELSE 1 END)
                    END) * val AS wyv
            FROM cells, off
            WHERE x - dx BETWEEN 0 AND {SLOPE_N - 1}
              AND y - dy BETWEEN 0 AND {SLOPE_N - 1}
        ),
        g AS (
            SELECT tx, ty, sum(wxv) AS gx, sum(wyv) AS gy,
                   count(*) AS nc
            FROM scat GROUP BY tx, ty
        ),
        s AS (SELECT gx * gx + gy * gy AS ss FROM g WHERE nc = 8)
        SELECT least(9, ss // {SLOPE_CLASS_W})::BIGINT AS steep_class,
               count(*) AS n_cells,
               min(ss)::BIGINT AS min_slope_sq,
               max(ss)::BIGINT AS max_slope_sq,
               round(avg(ss), 6) AS avg_slope_sq
        FROM s GROUP BY steep_class
    """,
}
