"""Round-4 ADVICE regression tests: MV cache invalidation, keyset
pagination on short inputs, raster-source registration error surfacing."""

from __future__ import annotations

import os
import shutil

import pytest

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.operators.sorts_sets import (
    PAGE_SIZE,
    q_sort_keyset_pagination,
)
from zonal_datacube_spark.operators.warehouse import daily_events_mv_path
from zonal_datacube_spark.sources.derived import corpus_tag


def _mk_sf(tmp_path, name, tables=("events",)):
    d = tmp_path / name
    d.mkdir(parents=True)
    for t in tables:
        shutil.copy(os.path.join(SF_SMOKE, f"{t}.parquet"), d / f"{t}.parquet")
    return str(d)


class TestMvCacheFingerprint:
    def test_fingerprint_changes_on_mtime_bump(self, tmp_path):
        d = _mk_sf(tmp_path, "a")
        src = os.path.join(d, "events.parquet")
        f1 = corpus_tag(d, ("events",))
        st = os.stat(src)
        os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
        assert corpus_tag(d, ("events",)) != f1

    def test_same_basename_different_roots_do_not_alias(self, spark, tmp_path):
        # two dataset roots named identically (".../x/sf" and ".../y/sf")
        # must get distinct MV paths when their content differs
        da = _mk_sf(tmp_path / "x", "sf")
        db = _mk_sf(tmp_path / "y", "sf")
        src_b = os.path.join(db, "events.parquet")
        st = os.stat(src_b)
        os.utime(src_b, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
        assert daily_events_mv_path(spark, da) != daily_events_mv_path(spark, db)

    def test_regenerated_fixture_invalidates(self, spark, tmp_path):
        d = _mk_sf(tmp_path, "regen")
        p1 = daily_events_mv_path(spark, d)
        assert os.path.exists(os.path.join(p1, "_SUCCESS"))
        # "regenerate" the fixture: same bytes, new mtime → new MV path
        src = os.path.join(d, "events.parquet")
        st = os.stat(src)
        os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 2_000_000))
        p2 = daily_events_mv_path(spark, d)
        assert p2 != p1
        assert os.path.exists(os.path.join(p2, "_SUCCESS"))
        # stable when nothing changed
        assert daily_events_mv_path(spark, d) == p2


class TestKeysetPaginationShortInput:
    def test_short_orders_yield_empty_page3_not_indexerror(self, spark, tmp_path):
        from zonal_datacube_spark.sources.loader import load_table

        d = tmp_path / "short"
        d.mkdir()
        load_table(spark, SF_SMOKE, "orders").limit(PAGE_SIZE + 3).write.parquet(
            str(d / "orders.parquet")
        )
        out = q_sort_keyset_pagination(spark, str(d))
        assert out.count() == 0  # pages 1–2 consume 23 rows; page 3 empty

    def test_declaration_is_lazy(self, spark):
        # declaring the plan must not run query jobs — at most the one
        # parquet footer schema probe every load_table declaration costs.
        # The old implementation ran 2 eager page collects here.
        tracker = spark.sparkContext.statusTracker()
        before = tracker.getJobIdsForGroup(None)
        df = q_sort_keyset_pagination(spark, SF_SMOKE)
        after = tracker.getJobIdsForGroup(None)
        assert len(after) - len(before) <= 1
        assert df.count() == PAGE_SIZE


class TestRasterRegisterErrors:
    def test_non_registration_errors_surface(self):
        from zonal_datacube_spark.sources.raster_source import (
            register_raster_source,
        )

        class BrokenDataSourceApi:
            def register(self, cls):
                raise RuntimeError("py4j handshake failed")

        class FakeSpark:
            dataSource = BrokenDataSourceApi()

        with pytest.raises(RuntimeError, match="handshake"):
            register_raster_source(FakeSpark())

    def test_already_registered_tolerated(self, spark):
        from zonal_datacube_spark.sources.raster_source import (
            register_raster_source,
        )

        register_raster_source(spark)
        register_raster_source(spark)  # second call must not raise
