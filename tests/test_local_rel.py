"""functions/local_rel.py — LocalRelation re-distribution contracts.

The exactness + plan-shape pin for the percentile-fold path lives in
tests/test_grain_percentiles.py::test_local_relation_exact_values_and_
plan_shape; this file pins the helper's own edges: the DDL-string schema
form, the empty input, relations far past any control-plane size (still
a LocalRelation, broadcast without a scan job), values identical to
``createDataFrame``'s under two process time zones, and the guard that
keeps ``createDataFrame`` out of the package except where a LocalRelation
would change what a key demonstrates."""

from __future__ import annotations

import ast
import datetime
import glob
import os
import time
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from zonal_datacube_spark.functions.local_rel import local_relation
from zonal_datacube_spark.session import scoped_conf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "zonal_datacube_spark")


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


def test_ddl_schema_and_values(spark):
    df = local_relation(spark, [(1, "a"), (2, None)], "k INT, s STRING")
    assert _plan(df) == "LocalRelation"
    assert sorted((r.k, r.s) for r in df.collect()) == [(1, "a"), (2, None)]
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "int",
        "string",
    ]


def test_empty_rows_fall_back(spark):
    df = local_relation(spark, [], "k INT, s STRING")
    assert _plan(df) == "LocalRelation"
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["k", "s"]


def _jobs_of(spark, action) -> int:
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first = dag.nextJobId()
    action()
    return dag.nextJobId() - first


def test_large_relations_stay_local(spark):
    edges = [
        (i % 7, float(i), float(i) + 0.5, float(i) + 1.0, float(i) - 0.25)
        for i in range(4096)
    ]
    lut = [(i, [float(j) + i / 3 for j in range(512)]) for i in range(2)]
    cases = {
        "edges": (edges, "k INT, x1 DOUBLE, y1 DOUBLE, x2 DOUBLE, y2 DOUBLE"),
        "lut": (lut, "k INT, v ARRAY<DOUBLE>"),
    }
    probe = spark.range(8).select(F.col("id").cast("int").alias("k"))
    for tag, (rows, schema) in cases.items():
        df = local_relation(spark, rows, schema)
        assert _plan(df) == "LocalRelation", tag
        # a collect is a driver-side copy: no job at all
        got = []
        assert _jobs_of(spark, lambda: got.extend(df.collect())) == 0, tag
        assert sorted(tuple(r) for r in got) == sorted(rows)
        # a broadcast ships the driver's rows; no scan of a LogicalRDD
        # (whose tasks would start Python workers) under the exchange
        joined = probe.join(F.broadcast(df), "k")
        assert joined.count() == sum(r[0] < 8 for r in rows)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, tag


_TYPED_SCHEMA = (
    "ts TIMESTAMP, ntz TIMESTAMP_NTZ, d DATE, dec DECIMAL(38,0), b BINARY,"
    " a ARRAY<DOUBLE>, s STRUCT<x: INT, y: STRING>, f DOUBLE"
)
_TYPED_ROWS = [
    (
        datetime.datetime(2024, 3, 10, 2, 30, 0, 123456),  # NY DST gap
        datetime.datetime(2024, 3, 10, 2, 30, 0, 123456),
        datetime.date(1901, 5, 6),
        Decimal(10) ** 30,
        bytearray(b"\x00\xff\x10"),
        [1.5, None, -0.0],
        (7, "q"),
        float("nan"),
    ),
    (
        datetime.datetime(1965, 11, 7, 1, 30),  # NY DST fold
        datetime.datetime(1, 1, 1),
        datetime.date(1969, 12, 31),
        Decimal(-(10**30)),
        bytearray(),
        [],
        (None, None),
        -0.0,
    ),
    (None,) * 8,
]


def _collect_both(spark):
    ours = local_relation(spark, _TYPED_ROWS, _TYPED_SCHEMA)
    ref = spark.createDataFrame(_TYPED_ROWS, _TYPED_SCHEMA)
    assert _plan(ours) == "LocalRelation"
    micros = [F.expr("unix_micros(ts)"), F.expr("unix_date(d)")]
    return [
        (repr(df.collect()), repr(df.select(*micros).collect()))
        for df in (ours, ref)
    ]


@pytest.mark.parametrize("tz", ["America/New_York", "UTC"])
def test_values_match_create_dataframe(spark, tz):
    saved = os.environ.get("TZ")
    os.environ["TZ"] = tz
    time.tzset()
    try:
        ours, ref = _collect_both(spark)
        assert ours == ref
        with scoped_conf(
            spark, {"spark.sql.execution.arrow.pyspark.enabled": "false"}
        ):
            assert _collect_both(spark) == [ours, ref]
    finally:
        if saved is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = saved
        time.tzset()


# createDataFrame over Python rows builds a LogicalRDD. These three keep it
# on purpose; everything else ships driver rows through local_relation.
CREATE_DATAFRAME_EXEMPT = {
    (os.path.join("operators", "sources_ext.py"), "q_join_dpp"): (
        "a LocalRelation category dimension folds into static partition "
        "pruning, so the dynamic pruning the key demonstrates never fires"
    ),
    (os.path.join("operators", "embedding_eval.py"), "q_sim_opq_eval"): (
        "a LocalRelation variants frame flips the interior join order "
        "(reverted conversion)"
    ),
    (os.path.join("functions", "multimodal.py"), "synthetic_media"): (
        "a stand-in data table, not control-plane data"
    ),
}


def create_dataframe_sites(package: str) -> list[tuple[str, str]]:
    """(module, enclosing top-level def) of every ``createDataFrame``
    reference in ``package``, except functions/local_rel.py."""
    sites = []
    for path in sorted(glob.glob(os.path.join(package, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, package)
        if rel == os.path.join("functions", "local_rel.py"):
            continue
        for top in ast.parse(open(path).read()).body:
            name = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if isinstance(node, ast.Attribute) and node.attr == "createDataFrame":
                    sites.append((rel, name))
    return sites


def test_only_local_rel_creates_dataframes():
    sites = create_dataframe_sites(PACKAGE)
    offences = [s for s in sites if s not in CREATE_DATAFRAME_EXEMPT]
    assert offences == []
    # each exemption names exactly one live call
    assert sorted(sites) == sorted(CREATE_DATAFRAME_EXEMPT)
