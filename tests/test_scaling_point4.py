"""Wiring test for the 4th-scaling-point corpus builder
(tools/scaling_point4.py — VERDICT r10 next-round #2). The measured
artifact is SCALING4.json from the full sf0.1 run; this test keeps the
synthesis from rotting by building a 2-copy corpus at sf0.001 and
checking the properties the measurement's honesty rests on: exact row
fan-out, re-keyed ids that keep the orders↔lineitem FK consistent,
on-grid value jitter that stays in-domain, and untouched dimensions."""

from __future__ import annotations

import importlib.util
import os

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.sources import derived
from zonal_datacube_spark.sources.loader import load_table

TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "scaling_point4.py",
)
spec = importlib.util.spec_from_file_location("scaling_point4", TOOL)
sp4 = importlib.util.module_from_spec(spec)
spec.loader.exec_module(sp4)

N = 2


def test_sf1x_synthesis_properties(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(derived, "LAYOUT_ROOT", str(tmp_path))
    dest = sp4.build_sf1x(spark, base_sf=SF_SMOKE, n_copies=N)
    assert dest.startswith(str(tmp_path))
    assert sp4.build_sf1x(spark, base_sf=SF_SMOKE, n_copies=N) == dest

    base_o = load_table(spark, SF_SMOKE, "orders")
    base_l = load_table(spark, SF_SMOKE, "lineitem")
    o = load_table(spark, dest, "orders")
    li = load_table(spark, dest, "lineitem")

    # exact fan-out on facts, verbatim dims
    assert o.count() == N * base_o.count()
    assert li.count() == N * base_l.count()
    assert (
        load_table(spark, dest, "nation").count()
        == load_table(spark, SF_SMOKE, "nation").count()
    )

    # ids unique after re-keying, and the orders↔lineitem FK still joins
    # every lineitem row to exactly one order
    assert o.select("o_orderkey").distinct().count() == o.count()
    joined = li.join(o, li.l_orderkey == o.o_orderkey).count()
    assert joined == li.count()

    # on-grid jitter: copy k shifts prices by k cents — the value domain
    # moves by at most (N-1) cents and every value stays positive
    lo_b, hi_b = base_o.agg(
        F.min("o_totalprice"), F.max("o_totalprice")
    ).first()
    lo, hi = o.agg(F.min("o_totalprice"), F.max("o_totalprice")).first()
    assert abs(lo - lo_b) < 0.02 * N and abs(hi - hi_b) < 0.02 * N
    assert lo > 0

    # the grain actually grows (fresh-draw behavior, not frozen copies):
    # distinct (priority, totalprice) cells increase with the copies
    g_base = (
        base_o.select("o_orderpriority", "o_totalprice").distinct().count()
    )
    g = o.select("o_orderpriority", "o_totalprice").distinct().count()
    assert g_base < g <= N * g_base

    # events: day span unchanged (time-bounded grains stay bounded)
    d_base = (
        load_table(spark, SF_SMOKE, "events")
        .select(F.date_trunc("day", "ts"))
        .distinct()
        .count()
    )
    d = (
        load_table(spark, dest, "events")
        .select(F.date_trunc("day", "ts"))
        .distinct()
        .count()
    )
    assert d == d_base
