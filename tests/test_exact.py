"""functions/exact.py — the one engine-portable rounding policy and exact
fold.

Pins: (1) each helper builds the same Column expression tree as the
literal form it stands for, and the SQL templates render the same text
the oracles always used; (2) the two engines split on a decimal midpoint
under ``round`` while the half-up grid agrees on both; (3) operator
modules are named by family, never by the round that wrote them; (4) no
other package or tool module writes the half-up grid, the DECIMAL(38,0)
widening or the 1e-6 de-scale out by hand, no module but
``operators/zonal.py:assign_zones`` writes the value-band join, and no
``functions/`` module imports from ``operators/``."""

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
        (exact.wide(c), c.cast("decimal(38,0)")),
        (exact.from_micro(c), c / 1000000),
        (
            exact.micro_mean(F.sum(exact.wide(c)), F.count("*")),
            F.round(
                F.sum(c.cast("decimal(38,0)")).cast("double") / F.count("*") / 1000000, 6
            ),
        ),
    ]
    for helper, literal in pairs:
        assert str(helper) == str(literal)
    assert exact.G6_SQL.format(x="v") == "floor((v) * 1000000 + 0.5) / 1000000"
    assert exact.CENTS_SQL.format(x="v") == "CAST(floor((v) * 100 + 0.5) AS BIGINT)"


def test_round_splits_on_decimal_midpoints_and_half_up_does_not(spark, duck):
    # 2.5 is a binary midpoint: both engines round it away from zero. The
    # double nearest 1.005 lies below it: Spark rounds its shortest decimal
    # string "1.005" HALF_UP, DuckDB rounds the binary value.
    sql = "SELECT round(CAST(2.5 AS DOUBLE)), round(CAST(1.005 AS DOUBLE), 2)"
    assert tuple(spark.sql(sql).first()) == (3.0, 1.01)
    assert tuple(duck.execute(sql).fetchone()) == (3.0, 1.0)
    for x, scale, want in ((2.5, 1, 3), (1.005, 100, 100)):
        x_sql = f"CAST({x!r} AS DOUBLE)"
        template = f"SELECT {exact.HALF_UP_SQL.format(x=x_sql, scale=scale)}"
        column = spark.range(1).select(exact.half_up(F.lit(x).cast("double"), scale))
        assert column.first()[0] == want
        assert spark.sql(template).first()[0] == want
        assert duck.execute(template).fetchone()[0] == want


# --- guards: one rounding module and one zonal fold, family-named operators -

_EXACT = os.path.join("functions", "exact.py")
_GRID_LITERALS = (
    "* 1000000 + F.lit(0.5)",
    "* 10000 + F.lit(0.5)",
    "* 100 + F.lit(0.5)",
)
_WIDE = re.compile(r"decimal\(38,\s*0\)", re.IGNORECASE)


def _name(node: ast.AST) -> str | None:
    return getattr(node, "attr", getattr(node, "id", None))


def _is_half(node: ast.AST) -> bool:
    if isinstance(node, ast.Call) and _name(node.func) == "lit" and node.args:
        node = node.args[0]
    return isinstance(node, ast.Constant) and node.value == 0.5


def _hand_written_folds(src: str):
    """(line, what) for each Column-side half-up grid, DECIMAL(38,0)
    widening or 1e-6 de-scale in ``src``. Code only: SQL strings, the
    DuckDB oracles among them, are never Column code, and a µs→s
    conversion divides by the float ``1_000_000.0``."""
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Call) and node.args:
            arg = node.args[0]
            if (
                _name(node.func) == "cast"
                and isinstance(arg, ast.Constant)
                and isinstance(arg.value, str)
                and _WIDE.fullmatch(arg.value.strip())
            ):
                yield node.lineno, "DECIMAL(38,0) widening (exact.wide)"
            if (
                _name(node.func) == "floor"
                and _name(getattr(node.func, "value", None)) == "F"
                and isinstance(arg, ast.BinOp)
                and isinstance(arg.op, ast.Add)
                and isinstance(arg.left, ast.BinOp)
                and isinstance(arg.left.op, ast.Mult)
                and _is_half(arg.right)
            ):
                yield node.lineno, "half-up grid (exact.half_up)"
        if (
            isinstance(node, ast.BinOp)
            and isinstance(node.op, ast.Div)
            and isinstance(node.right, ast.Constant)
            and type(node.right.value) is int
            and node.right.value == 1000000
        ):
            yield node.lineno, "1e-6 de-scale (exact.from_micro/micro_mean)"


def _band_predicates(src: str, allowed: str | None):
    """Line of each ``<x>.value >= <y>.lo`` comparison in ``src``'s code
    outside the function named ``allowed``."""
    tree = ast.parse(src)
    spans = [
        (n.lineno, n.end_lineno)
        for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef) and n.name == allowed
    ]
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Compare)
            and isinstance(node.ops[0], ast.GtE)
            and _name(node.left) == "value"
            and _name(node.comparators[0]) == "lo"
            and not any(lo <= node.lineno <= hi for lo, hi in spans)
        ):
            yield node.lineno


def test_exact_fold_and_zone_assignment_written_once():
    paths = sorted(glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True))
    paths += sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))
    zonal = os.path.join(PACKAGE, "operators", "zonal.py")
    offences = []
    for path in paths:
        rel = os.path.relpath(path, REPO)
        src = open(path).read()
        if path != os.path.join(PACKAGE, _EXACT):
            offences += [f"{rel}:{ln}: hand-written {what}" for ln, what in _hand_written_folds(src)]
        allowed = "assign_zones" if path == zonal else None
        offences += [
            f"{rel}:{ln}: value-band join outside zonal.assign_zones"
            for ln in _band_predicates(src, allowed)
        ]
    assert offences == []


def test_operators_by_family_and_one_rounding_module():
    offences = []
    for path in sorted(glob.glob(os.path.join(PACKAGE, "operators", "*.py"))):
        name = os.path.basename(path)[:-3]
        if re.search(r"_r\d|round\d", name):
            offences.append(f"operators/{name}.py: named by round")
    for path in sorted(glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, PACKAGE)
        src = open(path).read()
        if rel != _EXACT:
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
