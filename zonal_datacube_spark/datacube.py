"""Datacube core — the reference's signature surface, Spark-native
(SURVEY.md §1.1, §2.11; reference identity: /root/reference/README.md:2
"Scalable Dask-backed zonal statistics").

Data model (SURVEY.md §1.1 layout (a)): the **long pixel table**
``(tile_id, y, x, layer columns...)`` partitioned by tile_id — every zonal
operation becomes relational and Catalyst-optimizable. The fishnet is the
regular tile grid; zones here are rectangles (bbox containment, the
relational core of the real thing). TRUE polygon containment — concave-
capable ray casting as a broadcast edge join + parity count, no GEOS
needed — lives in ``operators/geometry.py`` (q_zonal_polygon) and slots
into this same pipeline wherever zones are real polygons.

Pipeline (the Raptor decomposition, PAPERS.md:9):
1. fishnet prune: only tiles intersecting any zone bbox are scanned
   (partition pruning on tile_id — the reference's signature I/O win);
2. pixel→zone assignment: broadcast join on bbox containment;
3. per-zone aggregate: partial per-partition + final combine.

Scale: pixels are generated/laid out so one tile ≈ one task; nothing ever
materializes a global raster. 100 TB of pixels = more tiles, same plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from zonal_datacube_spark.functions.local_rel import local_relation

TILE = 256  # pixels per tile edge


def synthetic_raster(
    spark: SparkSession, width: int = 2048, height: int = 1024, n_parts: int = 32
) -> DataFrame:
    """Deterministic synthetic raster as a long pixel table, generated
    distributively with ``spark.range`` (no driver-side arrays): two value
    layers (smooth gradient + hashed noise) and a nodata mask."""
    n = width * height
    px = spark.range(0, n, 1, n_parts).select(
        (F.col("id") % width).cast("int").alias("x"),
        (F.col("id") / width).cast("int").alias("y"),
    )
    px = px.withColumn(
        "tile_id",
        (F.col("y") / TILE).cast("int") * ((width + TILE - 1) // TILE)
        + (F.col("x") / TILE).cast("int"),
    )
    elevation = (
        F.sin(F.col("x") * 0.01) * 100.0 + F.cos(F.col("y") * 0.02) * 50.0 + 500.0
    )
    noise = (F.hash(F.col("x"), F.col("y")) % 1000).cast("double") / 10.0
    return px.select(
        "tile_id",
        "x",
        "y",
        F.round(elevation, 3).alias("elevation"),
        F.round(noise, 1).alias("landcover_score"),
        # nodata stripe: sensor dropout emulation
        F.when((F.col("x") % 97) == 0, None).otherwise(F.round(elevation, 3)).alias(
            "elevation_masked"
        ),
    )


def make_zones(spark: SparkSession) -> DataFrame:
    """Small vector-zone table: id + attributes + bbox rectangle."""
    rows = [
        (0, "park", 0, 0, 600, 500),
        (1, "city", 500, 200, 1200, 800),
        (2, "farm", 1100, 0, 2048, 600),
        (3, "lake", 300, 600, 900, 1024),
        (4, "ridge", 1500, 500, 2000, 1000),
    ]
    return local_relation(
        spark, rows, "zone_id INT, zone_name STRING, xmin INT, ymin INT, xmax INT, ymax INT"
    )


def tiles_intersecting(zones: DataFrame, width: int = 2048) -> DataFrame:
    """Fishnet pruning: the distinct tile_ids overlapped by any zone bbox —
    joined against the pixel table this prunes entire tiles before any
    pixel is touched (the COG-window-read analogue)."""
    tpr = (width + TILE - 1) // TILE  # tiles per row
    ty0 = F.floor(F.col("ymin") / TILE).cast("int")
    ty1 = F.floor((F.col("ymax") - 1) / TILE).cast("int")
    z = zones.select(
        F.explode(F.sequence(ty0, ty1)).alias("ty"),
        F.col("xmin"),
        F.col("xmax"),
    )
    return (
        z.select(
            F.explode(
                F.sequence(
                    F.floor(F.col("xmin") / TILE).cast("int"),
                    F.floor((F.col("xmax") - 1) / TILE).cast("int"),
                )
            ).alias("tx"),
            "ty",
        )
        .select((F.col("ty") * tpr + F.col("tx")).alias("tile_id"))
        .distinct()
    )


def assign_zones(pixels: DataFrame, zones: DataFrame) -> DataFrame:
    """Pixel→zone assignment: fishnet prune (semi join on tile_id) then
    broadcast bbox-containment join. Overlapping zones multi-assign (the
    zonal-stats convention: a pixel counts in every zone containing it)."""
    pruned = pixels.join(
        F.broadcast(tiles_intersecting(zones)), "tile_id", "left_semi"
    )
    z = F.broadcast(zones)
    return pruned.join(
        z,
        (pruned.x >= z.xmin) & (pruned.x < z.xmax)
        & (pruned.y >= z.ymin) & (pruned.y < z.ymax),
    )


def zonal_stats(pixels: DataFrame, zones: DataFrame, value_col: str = "elevation") -> DataFrame:
    """Relational zonal statistics (whole-stage codegen)."""
    return (
        assign_zones(pixels, zones)
        .groupBy("zone_id", "zone_name")
        .agg(
            F.count(value_col).alias("n_pixels"),
            F.round(F.sum(value_col), 2).alias("sum_v"),
            F.round(F.avg(value_col), 6).alias("mean_v"),
            F.round(F.min(value_col), 3).alias("min_v"),
            F.round(F.max(value_col), 3).alias("max_v"),
        )
    )
