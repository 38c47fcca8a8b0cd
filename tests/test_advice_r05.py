"""Round-5 ADVICE regression tests: the per-day dynamic-overwrite oracle
blend, the entropy zero-width-bucket guard, and SSSP cache hygiene —
each pins a latent divergence the r04 advisor found before it could
flake."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.operators.sources_ext import (
    q_sink_dynamic_overwrite,
)
from zonal_datacube_spark.operators.stats_ext import q_agg_entropy
from zonal_datacube_spark.registry import all_oracle_sql
from zonal_datacube_spark.sources.loader import load_table


def _mk_events_dir(spark, tmp_path, df):
    d = tmp_path / "sf"
    d.mkdir()
    df.coalesce(1).write.parquet(str(d / "events.parquet"))
    return str(d)


def _duck_on(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # Spark writes each table as a DIRECTORY of part files
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{os.path.join(sf_dir, 'events.parquet', '*.parquet')}')"
    )
    return con


class TestDynamicOverwritePerDayBlend:
    def test_tail_day_without_purchases_keeps_old_rows(self, spark, tmp_path):
        """ADVICE r04: dynamic overwrite only rewrites partitions PRESENT
        in the corrected batch. Strip every purchase from the final day —
        the engine must keep that day's old rows, and the per-day oracle
        blend must agree (the old global blend dropped them)."""
        ev = load_table(spark, SF_SMOKE, "events")
        last_day = ev.agg(F.date_trunc("day", F.max("ts"))).first()[0]
        crafted = ev.filter(
            ~(
                (F.date_trunc("day", "ts") == F.lit(last_day))
                & (F.col("event_type") == "purchase")
            )
        )
        # the crafted fixture still needs purchases SOMEWHERE in the tail
        # (otherwise the scenario is vacuous)
        sf_dir = _mk_events_dir(spark, tmp_path, crafted)
        mode_key = "spark.sql.sources.partitionOverwriteMode"
        mode_before = spark.conf.get(mode_key)
        got = {
            r.event_type: r
            for r in q_sink_dynamic_overwrite(spark, sf_dir).collect()
        }
        # the dynamic mode is a per-write option: the session conf that
        # every other writer in the session reads is never touched
        assert spark.conf.get(mode_key) == mode_before
        con = _duck_on(sf_dir)
        want = {
            r[0]: r
            for r in con.execute(
                all_oracle_sql()["q_sink_dynamic_overwrite"]
            ).fetchall()
        }
        assert set(got) == set(want)
        for t in want:
            assert got[t].n_days == want[t][1], t
            assert got[t].total_n == want[t][2], t
        # the scenario actually exercised the guard: non-purchase types
        # must still be present on the (unrewritten) last day
        non_purch_last_day = (
            load_table(spark, sf_dir, "events")
            .filter(
                (F.date_trunc("day", "ts") == F.lit(last_day))
                & (F.col("event_type") != "purchase")
            )
            .count()
        )
        assert non_purch_last_day > 0


class TestEntropyConstantGroupGuard:
    def test_constant_valued_type_maps_to_bucket_zero(self, spark, tmp_path):
        """ADVICE r04: hi == lo made the bucket width 0 → NaN buckets in
        Spark and a floor(NaN)::INT cast error in DuckDB. Force one
        constant-valued event_type and require BOTH engines to return
        entropy 0 for it without erroring."""
        ev = load_table(spark, SF_SMOKE, "events")
        crafted = ev.withColumn(
            "value",
            F.when(F.col("event_type") == "view", F.lit(7.5)).otherwise(
                F.col("value")
            ),
        )
        sf_dir = _mk_events_dir(spark, tmp_path, crafted)
        got = {r.event_type: r for r in q_agg_entropy(spark, sf_dir).collect()}
        assert got["view"].n_buckets_hit == 1
        assert got["view"].norm_entropy == 0.0
        con = _duck_on(sf_dir)
        want = {
            r[0]: r for r in con.execute(all_oracle_sql()["q_agg_entropy"]).fetchall()
        }
        assert want["view"][2] == 1  # n_buckets_hit
        assert want["view"][3] == 0.0  # norm_entropy
        for t in got:
            assert got[t].norm_entropy == pytest.approx(want[t][3], abs=1e-9)


class TestSsspCacheHygiene:
    def test_heavy_edge_cache_released_after_run(self, spark):
        """ADVICE r04, amended r13: sssp's PER-RUN caches must still be
        released — but since r13 the nation-pair trade rollup is a
        deliberate PROCESS-level shared cache (operators/graph.
        trade_edges_cached: schema-bounded ≤ nations² rows, LRU-capped,
        serving seven graph keys), so the invariant is no longer 'cache
        empty' but 'exactly the one shared rollup survives, and repeat
        runs do not ACCUMULATE anything'. A growing count across
        invocations is the r04 leak class this test exists to catch."""
        from zonal_datacube_spark.operators.graph import _EDGES, q_graph_sssp

        # clean slate: clearCache() drops persists under memoized entries,
        # so drop the memo too (trade_edges_cached re-persists on a
        # cleared hit, but the test wants an attributable post-condition)
        spark.catalog.clearCache()
        _EDGES.clear()
        jsc = spark.sparkContext._jsc

        def n_persisted() -> int:
            return jsc.getPersistentRDDs().size()

        q_graph_sssp(spark, SF_SMOKE).collect()
        after_first = n_persisted()
        q_graph_sssp(spark, SF_SMOKE).collect()
        after_second = n_persisted()
        # the shared rollup is the ONLY survivor, and it does not grow
        assert after_first == len(_EDGES) == 1, (
            f"expected only the shared trade-edge rollup cached, "
            f"found {after_first} persisted RDDs"
        )
        assert after_second == after_first, (
            "sssp accumulated cached blocks across invocations "
            f"({after_first} -> {after_second})"
        )
