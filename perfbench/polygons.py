"""The `zonal_polygons` call: many-edge zones over the sf0.1 event points.

The registry's polygon keys use three hand-written rings of 3 to 6
vertices, so per-point containment cost never shows. This call generates
star-shaped rings with many vertices from the run's seed and runs the
engine's own ``operators.geometry.points_in_polygons`` over every event
point, then a per-zone count and sum. Points use the same mapping as
``q_zonal_polygon``: px = events.value, py = event_id % 200.

The check is an independent NumPy even-odd ray cast with the same
crossing formula, so counts must match exactly and sums to rounding.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

CALL = "zonal_polygons"
N_RINGS = 4
VERTICES = 1024
RADIUS = 30.0
LOBES = 5
LOBE_DEPTH = 0.3
# zonal_mismatch: sums may differ by this share of the expected sum
SUM_REL_TOL = 1e-9


def make_rings(seed: int) -> list[np.ndarray]:
    """``N_RINGS`` concave flower-shaped rings, each a (VERTICES, 2) array.

    Centres, size and lobe count are fixed, so every seed covers the same
    points with the same number of edge crossings per point and costs the
    same; the seed draws the lobe phase and each vertex's angle and
    radius jitter. Vertex y values are non-integers with probability 1
    and no edge is horizontal, so no integer-y event point lies on an
    edge or vertex."""
    rng = np.random.default_rng(seed)
    rings = []
    for i in range(N_RINGS):
        cx, cy = 40.0 + 50.0 * (i % 2), 50.0 + 100.0 * ((i // 2) % 2) + 5.0 * (i // 4)
        theta = (np.arange(VERTICES) + rng.uniform(0.1, 0.9, VERTICES)) * 2 * np.pi / VERTICES
        lobes = 1.0 + LOBE_DEPTH * np.sin(LOBES * theta + rng.uniform(0.0, 2 * np.pi))
        r = RADIUS * lobes * rng.uniform(0.99, 1.01, VERTICES)
        rings.append(np.column_stack([cx + r * np.cos(theta), cy + r * np.sin(theta)]))
    return rings


def ring_edges(rings: list[np.ndarray]) -> list[tuple[int, float, float, float, float]]:
    """(zone_id, x1, y1, x2, y2) per edge, closing each ring."""
    rows = []
    for zid, ring in enumerate(rings):
        nxt = np.roll(ring, -1, axis=0)
        for (x1, y1), (x2, y2) in zip(ring.tolist(), nxt.tolist()):
            rows.append((zid, x1, y1, x2, y2))
    return rows


def zonal_polygons_call(edges: list[tuple[int, float, float, float, float]]):
    """A registry-shaped ``(spark, sf_dir) -> DataFrame`` over ``edges``."""

    def call(spark, sf_dir: str):
        from pyspark.sql import functions as F

        from zonal_datacube_spark.functions.local_rel import local_relation
        from zonal_datacube_spark.operators.geometry import points_in_polygons
        from zonal_datacube_spark.sources.loader import load_table

        ev = load_table(spark, sf_dir, "events")
        pts = ev.select(
            F.col("event_id").alias("pid"),
            F.col("value").alias("px"),
            (F.col("event_id") % 200).cast("double").alias("py"),
            "value",
        )
        zones = local_relation(spark, edges, "zone_id INT, x1 DOUBLE, y1 DOUBLE, x2 DOUBLE, y2 DOUBLE")
        return (
            points_in_polygons(pts, zones)
            .groupBy("zone_id")
            .agg(F.count("*").alias("n_points"), F.sum("value").alias("sum_value"))
        )

    return call


def numpy_zonal(px: np.ndarray, py: np.ndarray, value: np.ndarray, rings: list[np.ndarray]) -> pd.DataFrame:
    """Reference (zone_id, n_points, sum_value) by even-odd ray casting,
    evaluated edge by edge with the engine's crossing formula."""
    rows = []
    for zid, ring in enumerate(rings):
        inside = np.zeros(len(px), dtype=bool)
        nxt = np.roll(ring, -1, axis=0)
        for (x1, y1), (x2, y2) in zip(ring, nxt):
            straddles = (y1 > py) != (y2 > py)
            with np.errstate(divide="ignore", invalid="ignore"):
                x_cross = x1 + (x2 - x1) * (py - y1) / (y2 - y1)
            inside ^= straddles & (px < x_cross)
        if inside.any():
            rows.append((zid, int(inside.sum()), float(value[inside].sum())))
    return pd.DataFrame(rows, columns=["zone_id", "n_points", "sum_value"])


def zonal_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None if ``got`` matches ``want`` (counts exact, sums within
    ``SUM_REL_TOL``), else a one-line description of the first difference."""
    g = got.sort_values("zone_id").reset_index(drop=True)
    w = want.sort_values("zone_id").reset_index(drop=True)
    if list(g["zone_id"]) != list(w["zone_id"]):
        return f"zones: got {list(g['zone_id'])} want {list(w['zone_id'])}"
    for (zid, gn, gs), (_, wn, ws) in zip(
        g[["zone_id", "n_points", "sum_value"]].itertuples(index=False),
        w[["zone_id", "n_points", "sum_value"]].itertuples(index=False),
    ):
        if int(gn) != int(wn):
            return f"zone {zid}: n_points got {gn} want {wn}"
        if abs(float(gs) - float(ws)) > SUM_REL_TOL * max(1.0, abs(float(ws))):
            return f"zone {zid}: sum_value got {gs!r} want {ws!r}"
    return None
