"""Datacube-core tests: fishnet pruning, bbox assignment, nodata.

These lock in the reference's signature semantics (SURVEY.md §2.11) on a
real (synthetic, distributed) raster — no geo libraries required.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from zonal_datacube_spark.datacube import (
    TILE,
    assign_zones,
    make_zones,
    synthetic_raster,
    tiles_intersecting,
    zonal_stats,
)


@pytest.fixture(scope="module")
def raster(spark):
    return synthetic_raster(spark, width=1024, height=512)


@pytest.fixture(scope="module")
def zones(spark):
    return make_zones(spark).filter(F.col("xmin") < 1024)


def test_fishnet_prunes_tiles(spark, raster, zones):
    # pruning must really drop tiles of the actual raster (zone bboxes may
    # overhang the raster edge — phantom tiles are dropped by the semi join)
    all_tiles = raster.select("tile_id").distinct().count()
    one_zone = zones.filter(F.col("zone_id") == 0)  # 600x500 bbox
    kept = (
        raster.select("tile_id")
        .distinct()
        .join(tiles_intersecting(one_zone, width=1024), "tile_id", "left_semi")
        .count()
    )
    assert 0 < kept < all_tiles


def test_assignment_respects_bbox(spark, raster, zones):
    sample = assign_zones(raster, zones).filter(F.col("zone_id") == 0).limit(100).collect()
    assert sample
    for r in sample:
        assert 0 <= r.x < 600 and 0 <= r.y < 500


def test_nodata_excluded(spark, raster, zones):
    res = {r.zone_id: r for r in zonal_stats(raster, zones, "elevation_masked").collect()}
    full = {r.zone_id: r for r in zonal_stats(raster, zones, "elevation").collect()}
    for zid, r in res.items():
        assert r.n_pixels < full[zid].n_pixels  # masked pixels dropped
