"""Corpus-identity tags for derived-layout caches (r12 review).

The CSV/ORC/partitioned/z-ordered/bucketed copies materialized once per
corpus under the temp dir were tagged by the sf_dir BASENAME alone — two
corpora sharing a basename (the rehearsal relayout of sf0.01 vs the
fixture sf0.01) aliased each other's caches, and a regenerated fixture
would silently serve the stale copy: the same silent-wrong-answer class
as the r11 streaming-glob weak mark. ``derived.corpus_tag`` embeds the
source tables' (path, mtime, size); these tests pin the de-aliasing."""

from __future__ import annotations

import os
import shutil

import pytest

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.sources.derived import corpus_tag
from zonal_datacube_spark.sources.loader import load_table


@pytest.fixture(scope="module")
def twin_dir(spark, tmp_path_factory):
    """A different corpus under the SAME basename as the fixture dir."""
    base = os.path.basename(os.path.normpath(SF_SMOKE))
    root = tmp_path_factory.mktemp("twin") / base
    root.mkdir()
    load_table(spark, SF_SMOKE, "events").limit(50).write.parquet(
        str(root / "events.parquet")
    )
    load_table(spark, SF_SMOKE, "orders").limit(50).write.parquet(
        str(root / "orders.parquet")
    )
    load_table(spark, SF_SMOKE, "lineitem").limit(80).write.parquet(
        str(root / "lineitem.parquet")
    )
    yield str(root)
    shutil.rmtree(str(root), ignore_errors=True)


def test_same_basename_different_corpus_gets_different_tag(twin_dir):
    assert os.path.basename(twin_dir) == os.path.basename(
        os.path.normpath(SF_SMOKE)
    )
    assert corpus_tag(SF_SMOKE, ("events",)) != corpus_tag(twin_dir, ("events",))
    assert corpus_tag(SF_SMOKE, ("orders",)) != corpus_tag(twin_dir, ("orders",))


def test_same_corpus_tag_is_stable():
    assert corpus_tag(SF_SMOKE, ("events",)) == corpus_tag(SF_SMOKE, ("events",))


def test_partitioned_events_paths_do_not_alias(spark, twin_dir):
    """The day-partitioned events cache must materialize separately for
    a same-basename twin corpus — and serve its OWN row count."""
    from zonal_datacube_spark.operators.streaming_batch import (
        partitioned_events_path,
    )

    p_fix = partitioned_events_path(spark, SF_SMOKE)
    p_twin = partitioned_events_path(spark, twin_dir)
    assert p_fix != p_twin
    n_fix = spark.read.parquet(p_fix).count()
    n_twin = spark.read.parquet(p_twin).count()
    assert n_twin == 50
    assert n_fix == load_table(spark, SF_SMOKE, "events").count()


def test_bucketed_tables_do_not_alias(spark, twin_dir):
    """One session touching two same-basename corpora must get two
    distinct bucketed-table pairs, each with its own row count."""
    from zonal_datacube_spark.operators.scale_ops import _bucketed_tables

    t_fix, _ = _bucketed_tables(spark, SF_SMOKE)
    t_twin, _ = _bucketed_tables(spark, twin_dir)
    assert t_fix != t_twin
    assert spark.table(t_twin).count() == 50
    assert (
        spark.table(t_fix).count()
        == load_table(spark, SF_SMOKE, "orders").count()
    )
