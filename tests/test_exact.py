"""functions/exact.py — the one engine-portable rounding policy.

Pins: (1) each helper builds the same Column expression tree as the
literal floor-half-up form it stands for, and the SQL templates render
the same text the oracles always used; (2) operator modules are named by
family, never by the round that wrote them; (3) no other package module
writes the half-up grid out by hand, and no ``functions/`` module
imports from ``operators/``."""

from __future__ import annotations

import ast
import glob
import os
import re

from pyspark.sql import functions as F

from zonal_datacube_spark.functions import exact

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "zonal_datacube_spark")


def test_helpers_build_the_literal_expression_trees(spark):
    c = F.col("value")
    pairs = [
        (exact.g6(c), F.floor(c * 1000000 + F.lit(0.5)) / 1000000),
        (exact.round4_half_up(c), F.floor(c * 10000 + F.lit(0.5)) / 10000),
        (exact.cents(c), F.floor(c * 100 + F.lit(0.5)).cast("bigint")),
        (exact.micro_units(c), F.floor(c * 1000000 + F.lit(0.5)).cast("bigint")),
        (exact.revenue(), F.col("l_extendedprice") * (1 - F.col("l_discount"))),
    ]
    for helper, literal in pairs:
        assert str(helper) == str(literal)
    assert exact.G6_SQL.format(x="v") == "floor((v) * 1000000 + 0.5) / 1000000"
    assert exact.CENTS_SQL.format(x="v") == "CAST(floor((v) * 100 + 0.5) AS BIGINT)"


# --- guard: one rounding module, family-named operators --------------------

_GRID_LITERALS = (
    "* 1000000 + F.lit(0.5)",
    "* 10000 + F.lit(0.5)",
    "* 100 + F.lit(0.5)",
)


def test_operators_by_family_and_one_rounding_module():
    offences = []
    for path in sorted(glob.glob(os.path.join(PACKAGE, "operators", "*.py"))):
        name = os.path.basename(path)[:-3]
        if re.search(r"_r\d|round\d", name):
            offences.append(f"operators/{name}.py: named by round")
    for path in sorted(glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, PACKAGE)
        src = open(path).read()
        if rel != os.path.join("functions", "exact.py"):
            for lit in _GRID_LITERALS:
                if lit in src:
                    offences.append(f"{rel}: hand-written grid {lit!r}")
        if rel.startswith("functions" + os.sep):
            for node in ast.walk(ast.parse(src)):
                if (
                    isinstance(node, ast.ImportFrom)
                    and (node.module or "").startswith("zonal_datacube_spark.operators")
                ) or (
                    isinstance(node, ast.Import)
                    and any(a.name.startswith("zonal_datacube_spark.operators") for a in node.names)
                ):
                    offences.append(f"{rel}: imports from operators/")
    assert offences == []
