"""True polygon zonal statistics — Raptor scanline intervals, relationally.

The reference's domain is zonal stats over real zone *polygons*; round 1
stood in bbox containment because no geo stack (GEOS/shapely) exists in
the container. This module closes that gap without one, using the
scanline decomposition of Raptor (raster ⋈ vector, VLDB 2019): the vector
side is turned into x-intervals per (zone, row), and points join them by
row equality plus an interval range —

1. polygons decompose into an EDGES dimension table (zone_id, x1,y1,x2,y2)
   — tiny, broadcast;
2. for every distinct point row ``py``, each edge that straddles it
   ((y1 > py) <> (y2 > py)) crosses the row at
   c = x1 + (x2-x1)·(py-y1)/(y2-y1) — the even-odd ray-casting formula;
3. per (zone, row) the crossings c₀ ≤ c₁ ≤ … ≤ cₙ₋₁ pair up into the
   intervals [c₂ₖ, c₂ₖ₊₁), and a point is inside the zone iff its px lies
   in one of them.

Equivalence with ray casting: a point is inside iff an odd number of
crossings lies east of it (px < c). With j = #{c ≤ px}, that count is
n − j; a closed ring crosses every row an even number of times, so n − j
is odd ⇔ j is odd ⇔ c_{j−1} ≤ px < c_j with j = 2k+1 ⇔ px ∈ [c₂ₖ, c₂ₖ₊₁).
Ties follow from the same identity: px equal to a crossing counts as
inside on ``lo`` and outside on ``hi``, exactly as ``px < c`` counts it.

Precondition: every ring is closed, so n is even per (zone, row). An odd
count is an unclosed ring and raises; no crossing is ever dropped.

The interval table holds one row per inside interval of each distinct
point row ``py`` that a zone spans: at most Σ over zones of
(distinct ``py`` within the zone's y-extent) × edges/2 rows. For grid rows
that count is fixed by the grid, not by the points (the fixtures put
every point on one of 200 rows), but when ``py`` is continuous nearly
every point brings its own row and the table grows with the points. It
is broadcast, so the fact side pays one hash probe on the row plus a range
check per candidate interval instead of one predicate per edge, and no
per-point aggregate or re-join. Every step is a broadcast join, codegen'd
arithmetic or a small hash aggregate — no UDF.

Degeneracy policy: polygons are authored with .5-offset vertices and no
horizontal edges, so fixture points (integer-grid y, arbitrary-double x)
never land on a vertex and the nullif-guarded division never divides by
zero. The DuckDB oracles still ray-cast edge by edge from the same VALUES
edge list, so parity checks the interval join against an independent
algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zonal_datacube_spark.functions.exact import micro_mean, micro_units, wide
from zonal_datacube_spark.functions.local_rel import local_relation
from zonal_datacube_spark.sources.loader import load_table

# (x: 0-200, y: 0-200) point space: px = events.value, py = event_id % 200.
# P0 pentagon, P1 triangle, P2 concave hexagon; .5 offsets keep every
# vertex/edge off the fixture's point lattice, and no edge is horizontal.
POLYGONS: dict[int, list[tuple[float, float]]] = {
    0: [(10.5, 5.5), (80.5, 15.5), (95.5, 90.5), (40.5, 120.5), (5.5, 60.5)],
    1: [(100.5, 20.5), (180.5, 40.5), (140.5, 110.5)],
    2: [
        (20.5, 130.5),
        (90.5, 125.5),
        (95.5, 185.5),
        (60.5, 180.5),
        (55.5, 150.5),
        (25.5, 155.5),
    ],
}


def polygon_edges() -> list[tuple[int, float, float, float, float]]:
    """(zone_id, x1, y1, x2, y2) per edge, closing each ring."""
    rows = []
    for zid, ring in POLYGONS.items():
        for i, (x1, y1) in enumerate(ring):
            x2, y2 = ring[(i + 1) % len(ring)]
            rows.append((zid, x1, y1, x2, y2))
    return rows


def edges_df(spark: SparkSession) -> DataFrame:
    return local_relation(
        spark,
        polygon_edges(),
        "zone_id INT, x1 DOUBLE, y1 DOUBLE, x2 DOUBLE, y2 DOUBLE",
    )


# per (zone_id, py): the sorted x where the zone's edges cross row py
# (the ray-casting crossing formula), raising on an odd count
_CROSSINGS = (
    "sort_array(collect_list(x1 + (x2 - x1) * (py - y1) / nullif(y2 - y1, 0.0D)))"
)
_EVEN_CROSSINGS = (
    f"CASE WHEN size({_CROSSINGS}) % 2 = 0 THEN {_CROSSINGS}"
    " ELSE raise_error(format_string('points_in_polygons: zone %s crosses"
    " row %s an odd number of times (unclosed ring)', zone_id, py)) END AS cs"
)
# consecutive crossings pair into the inside intervals [c2k, c2k+1)
_PAIR_INTERVALS = (
    "inline(transform(sequence(0, size(cs) div 2 - 1),"
    " k -> named_struct('lo', cs[2 * k], 'hi', cs[2 * k + 1])))"
)


def points_in_polygons(points: DataFrame, edges: DataFrame) -> DataFrame:
    """(point columns…, zone_id) for every point strictly inside a polygon.

    ``points`` needs (pid, px, py). The distinct rows ``py`` join the
    broadcast edges that straddle them; each zone's crossing x on a row
    are sorted and paired into intervals [c₂ₖ, c₂ₖ₊₁) — the even-odd rule,
    since a closed ring crosses a row an even number of times and
    px ∈ [c₂ₖ, c₂ₖ₊₁) ⇔ an odd number of crossings lie east of px. The
    interval table (≤ zones × distinct py × edges/2 rows: bounded for
    grid rows, growing with the points when py is continuous) is
    broadcast and the points join it on ``py = row AND lo <= px < hi``.
    An odd crossing count (an unclosed ring) raises instead of dropping a
    crossing. A null px or py matches no zone. Expressions are SQL strings: each
    Column built in Python is a JVM round trip, and this runs per call."""
    intervals = (
        points.select("py")
        .distinct()
        .join(F.broadcast(edges), F.expr("(y1 > py) <> (y2 > py)"))
        .groupBy("zone_id", "py")
        .agg(F.expr(_EVEN_CROSSINGS))
        .selectExpr("zone_id", "py AS row", _PAIR_INTERVALS)
    )
    return points.join(
        F.broadcast(intervals), F.expr("py = row AND px >= lo AND px < hi")
    ).select(*points.columns, "zone_id")


def q_zonal_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-polygon count/sum/mean of event values under TRUE polygon
    containment (concave-capable, even-odd) — the reference's actual
    zonal-statistics semantics, scan → broadcast join on (row, interval)
    → partial+final aggregate."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        F.col("event_id").alias("pid"),
        F.col("value").alias("px"),
        (F.col("event_id") % 200).cast("double").alias("py"),
        "value",
    )
    inside = points_in_polygons(pts, edges_df(spark))
    v6 = micro_units(F.col("value"))
    return inside.withColumn("_v6", v6).groupBy("zone_id").agg(
        F.count("*").alias("n_points"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        micro_mean(F.sum(wide(F.col("_v6"))), F.count("*")).alias("mean_value"),
    )


def q_zonal_polygon_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical zonal histogram under true polygon containment: per
    (polygon zone, event_type) counts — the classed-raster variant of
    q_zonal_polygon, same row-interval join with a two-key aggregate."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        F.col("event_id").alias("pid"),
        F.col("value").alias("px"),
        (F.col("event_id") % 200).cast("double").alias("py"),
        "event_type",
    )
    inside = points_in_polygons(pts, edges_df(spark))
    return inside.groupBy("zone_id", "event_type").agg(
        F.count("*").alias("n_points")
    )


def q_geo_polygon_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon geometry metrics from the edge table alone: shoelace area
    (|Σ (x1·y2 − x2·y1)| / 2), perimeter (Σ edge lengths), and the
    area-weighted centroid — one aggregate over the tiny edge relation.
    The same aggregations run per-zone over billions of polygons unchanged;
    nothing here depends on the fixture's scale."""
    edges = edges_df(spark)
    cross = F.col("x1") * F.col("y2") - F.col("x2") * F.col("y1")
    return (
        edges.groupBy("zone_id")
        .agg(
            F.count("*").alias("n_edges"),
            F.round(F.abs(F.sum(cross)) / 2, 4).alias("area"),
            F.round(
                F.sum(
                    F.sqrt(
                        (F.col("x2") - F.col("x1")) * (F.col("x2") - F.col("x1"))
                        + (F.col("y2") - F.col("y1")) * (F.col("y2") - F.col("y1"))
                    )
                ),
                4,
            ).alias("perimeter"),
            F.round(
                F.sum((F.col("x1") + F.col("x2")) * cross) / (3 * F.sum(cross)), 4
            ).alias("centroid_x"),
            F.round(
                F.sum((F.col("y1") + F.col("y2")) * cross) / (3 * F.sum(cross)), 4
            ).alias("centroid_y"),
        )
    )


_EDGES_SQL_VALUES = ", ".join(
    f"({z}, {x1}, {y1}, {x2}, {y2})" for z, x1, y1, x2, y2 in polygon_edges()
)

RADIUS = 0.05
RADIUS_SQ = 0.0025  # same literal on both engines — no recomputed product


def q_geo_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Points-within-radius self-join via GRID BUCKETING — the spatial
    analogue of LSH banding: never all-pairs. Each point lands in one
    cell of side RADIUS; a probe row per 3×3 neighbor cell equi-joins on
    the cell id, and only candidates sharing a neighborhood pay the exact
    squared-distance check. At 100 TB the shuffle key is the cell id
    (spatially local, naturally balanced for non-pathological data), and
    comparisons scale with local density, not n². Coordinates are the
    first two embedding dims cast to double; strict `<` on dist² with the
    identical literal bound keeps the two engines' boundaries aligned."""
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    ).select(
        "vec_id", "x", "y",
        F.floor(F.col("x") / RADIUS).alias("cx"),
        F.floor(F.col("y") / RADIUS).alias("cy"),
    )
    probes = (
        pts.select(
            F.col("vec_id").alias("a_id"),
            F.col("x").alias("ax"),
            F.col("y").alias("ay"),
            "cx", "cy",
            F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dx"),
        )
        .select(
            "a_id", "ax", "ay", "cx", "cy", "dx",
            F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dy"),
        )
        .select(
            "a_id", "ax", "ay",
            (F.col("cx") + F.col("dx")).alias("tcx"),
            (F.col("cy") + F.col("dy")).alias("tcy"),
        )
    )
    cand = probes.join(
        pts.select(
            F.col("vec_id").alias("b_id"),
            F.col("x").alias("bx"),
            F.col("y").alias("by"),
            "cx", "cy",
        ),
        (F.col("tcx") == F.col("cx")) & (F.col("tcy") == F.col("cy")),
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    return (
        cand.filter((F.col("a_id") < F.col("b_id")) & (d2 < RADIUS_SQ))
        .select("a_id", "b_id")
    )


NN_CELL = 0.1
NN_CELL_SQ = 0.01  # same literal on both sides of the resolve predicate


def q_geo_nearest_neighbor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT nearest-neighbor join via grid blocking: every probe point
    (labels 0–4, coords = first two embedding dims) finds its true
    nearest base point (labels 5–9). Candidates come from a 3×3
    neighbor-cell equi-join on the probe's grid cell (side NN_CELL);
    geometry guarantees any point OUTSIDE that neighborhood is ≥ NN_CELL
    away, so a best candidate with d² < NN_CELL² is provably the global
    nearest. Probes the grid cannot certify (none at observed densities —
    tests/test_analytics_r5b.py pins the fraction) fall back to one
    broadcast brute-force pass, keeping the operator exact at ANY
    density while the hot path stays a cell-keyed equi-join that scales
    with local density, not n². Per-probe argmin ties break on base id
    via a struct min (same (d², id) lexicographic rule as the oracle's
    row_number)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    )
    probes = emb.filter(F.col("label") <= 4).select(
        F.col("vec_id").alias("a_id"),
        F.col("label").alias("a_label"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        F.floor(F.col("x") / NN_CELL).alias("cx"),
        F.floor(F.col("y") / NN_CELL).alias("cy"),
    )
    base = emb.filter(F.col("label") >= 5).select(
        F.col("vec_id").alias("b_id"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.floor(F.col("x") / NN_CELL).alias("bcx"),
        F.floor(F.col("y") / NN_CELL).alias("bcy"),
    )
    neighborhood = (
        probes.select(
            "*", F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dx")
        )
        .select("*", F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dy"))
        .select(
            "a_id",
            "a_label",
            "ax",
            "ay",
            (F.col("cx") + F.col("dx")).alias("tcx"),
            (F.col("cy") + F.col("dy")).alias("tcy"),
        )
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    grid_best = (
        neighborhood.join(
            base,
            (F.col("tcx") == F.col("bcx")) & (F.col("tcy") == F.col("bcy")),
        )
        .select(
            "a_id",
            "a_label",
            F.struct(d2.alias("d2"), F.col("b_id").alias("b_id")).alias(
                "cand"
            ),
        )
        .groupBy("a_id", "a_label")
        .agg(F.min("cand").alias("best"))
    )
    resolved = grid_best.filter(F.col("best.d2") < F.lit(NN_CELL_SQ))
    # probes with no certifiable in-neighborhood winner (none at fixture
    # density): one broadcast brute-force pass keeps the result exact
    unresolved = probes.join(resolved.select("a_id"), "a_id", "left_anti")
    brute = (
        unresolved.crossJoin(F.broadcast(base))
        .select(
            "a_id",
            "a_label",
            F.struct(d2.alias("d2"), F.col("b_id").alias("b_id")).alias(
                "cand"
            ),
        )
        .groupBy("a_id", "a_label")
        .agg(F.min("cand").alias("best"))
    )
    nn = resolved.unionByName(brute)
    return (
        nn.select("a_label", F.sqrt(F.col("best.d2")).alias("d"))
        .groupBy("a_label")
        .agg(
            F.count("*").alias("n_probes"),
            F.round(F.avg("d"), 6).alias("avg_nn_dist"),
            F.round(F.min("d"), 6).alias("min_nn_dist"),
            F.round(F.max("d"), 6).alias("max_nn_dist"),
        )
    )


QUERIES = {
    "q_zonal_polygon": q_zonal_polygon,
    "q_zonal_polygon_categorical": q_zonal_polygon_categorical,
    "q_geo_polygon_metrics": q_geo_polygon_metrics,
    "q_geo_radius_join": q_geo_radius_join,
    "q_geo_nearest_neighbor": q_geo_nearest_neighbor,
}

ORACLE = {
    "q_geo_radius_join": f"""
        WITH pts AS (
            SELECT vec_id, embedding[1]::DOUBLE AS x, embedding[2]::DOUBLE AS y
            FROM embeddings
        )
        SELECT a.vec_id AS a_id, b.vec_id AS b_id
        FROM pts a JOIN pts b ON a.vec_id < b.vec_id
        WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
              < {RADIUS_SQ}
    """,
    "q_geo_polygon_metrics": f"""
        WITH edges(zone_id, x1, y1, x2, y2) AS (VALUES {_EDGES_SQL_VALUES})
        SELECT zone_id,
               count(*) AS n_edges,
               round(abs(sum(x1 * y2 - x2 * y1)) / 2, 4) AS area,
               round(sum(sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1))),
                     4) AS perimeter,
               round(sum((x1 + x2) * (x1 * y2 - x2 * y1))
                     / (3 * sum(x1 * y2 - x2 * y1)), 4) AS centroid_x,
               round(sum((y1 + y2) * (x1 * y2 - x2 * y1))
                     / (3 * sum(x1 * y2 - x2 * y1)), 4) AS centroid_y
        FROM edges
        GROUP BY zone_id
    """,
    "q_zonal_polygon_categorical": f"""
        WITH edges(zone_id, x1, y1, x2, y2) AS (VALUES {_EDGES_SQL_VALUES}),
        pts AS (
            SELECT event_id AS pid, value AS px,
                   (event_id % 200)::DOUBLE AS py, event_type
            FROM events
        ),
        crossings AS (
            SELECT pid, zone_id, count(*) AS n_cross
            FROM pts JOIN edges
              ON ((y1 > py) <> (y2 > py))
             AND px < x1 + (x2 - x1) * (py - y1) / nullif(y2 - y1, 0.0)
            GROUP BY pid, zone_id
        )
        SELECT zone_id, event_type, count(*) AS n_points
        FROM pts JOIN crossings ON pts.pid = crossings.pid
        WHERE n_cross % 2 = 1
        GROUP BY zone_id, event_type
    """,
    "q_zonal_polygon": f"""
        WITH edges(zone_id, x1, y1, x2, y2) AS (VALUES {_EDGES_SQL_VALUES}),
        pts AS (
            SELECT event_id AS pid, value AS px,
                   (event_id % 200)::DOUBLE AS py, value
            FROM events
        ),
        crossings AS (
            SELECT pid, zone_id, count(*) AS n_cross
            FROM pts JOIN edges
              ON ((y1 > py) <> (y2 > py))
             AND px < x1 + (x2 - x1) * (py - y1) / nullif(y2 - y1, 0.0)
            GROUP BY pid, zone_id
        ),
        inside AS (
            SELECT pts.pid, zone_id, value
            FROM pts JOIN crossings ON pts.pid = crossings.pid
            WHERE n_cross % 2 = 1
        )
        SELECT zone_id, count(*) AS n_points,
               round(sum(value), 2) AS sum_value,
               round(CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                          AS DOUBLE) / count(*) / 1000000, 6) AS mean_value
        FROM inside
        GROUP BY zone_id
    """,
    "q_geo_nearest_neighbor": """
        WITH p AS (
            SELECT vec_id, label,
                   embedding[1]::DOUBLE AS x, embedding[2]::DOUBLE AS y
            FROM embeddings
        ),
        pr AS (SELECT * FROM p WHERE label <= 4),
        ba AS (SELECT * FROM p WHERE label >= 5),
        scored AS (
            SELECT pr.vec_id AS a_id, pr.label AS a_label,
                   (pr.x - ba.x) * (pr.x - ba.x)
                       + (pr.y - ba.y) * (pr.y - ba.y) AS d2,
                   row_number() OVER (
                       PARTITION BY pr.vec_id
                       ORDER BY (pr.x - ba.x) * (pr.x - ba.x)
                                + (pr.y - ba.y) * (pr.y - ba.y),
                                ba.vec_id) AS rn
            FROM pr CROSS JOIN ba
        )
        SELECT a_label,
               count(*)::BIGINT AS n_probes,
               round(avg(sqrt(d2)), 6) AS avg_nn_dist,
               round(min(sqrt(d2)), 6) AS min_nn_dist,
               round(max(sqrt(d2)), 6) AS max_nn_dist
        FROM scored WHERE rn = 1
        GROUP BY a_label ORDER BY a_label
    """,
}
