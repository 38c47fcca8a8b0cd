"""Local differential-testing harness: Spark result vs DuckDB oracle.

Mirrors the driver's comparison (``__spark_entry__.py`` docstring): row
count + schema + order-insensitive value hash. Used by ``tests/`` and by
``tools/check_parity.py`` so a key is only *declared* once it is green
locally (SURVEY.md §2 footer rule).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

from zonal_datacube_spark.plans.diagnostics import unobserved_sort
from zonal_datacube_spark.sources.loader import TABLES

# Keys allowed to end in an unlimited global sort, each with the reason.
# Results are compared as unordered sets, so any other terminal sort pays
# a range-partition sample job and a sort stage that nothing reads.
ORDERED_KEYS: dict[str, str] = {
    "q_sql_pipe_syntax": (
        "the |> ORDER BY stage is one of the pipe-syntax operators the key "
        "demonstrates resolving to the nested-SQL plan"
    ),
}


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # multi-file layouts (tools/scale_rehearsal.py writes each table as
        # a directory of part files, the shape a real cluster produces)
        # need a glob; the driver's single-file fixtures stay verbatim
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical form: columns sorted by name, rows sorted by all values,
    cells stringified the way an order-insensitive value hash would see
    them. Floats are repr'd post-rounding (queries already round)."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame(index=df.index)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f").where(s.notna(), None)
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.map(lambda v: None if pd.isna(v) else repr(round(float(v), 9)))
        elif pd.api.types.is_integer_dtype(s) or pd.api.types.is_bool_dtype(s):
            out[c] = s.map(lambda v: None if pd.isna(v) else repr(int(v)))
        else:
            out[c] = s.map(lambda v: None if v is None or (isinstance(v, float) and pd.isna(v)) else str(v))
    out = out.fillna("\0NULL")
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


def driver_unhashable_cols(schema) -> list[str]:
    """Columns the DRIVER's canonicalizer cannot value-hash: array and map
    cells arrive in pandas as list/ndarray/dict — unhashable — and crashed
    the r02 driver run on q_agg_percentile_approx even though this repo's
    stringifying canonicalizer was happy. Structs are tuples (hashable)
    unless they nest an array/map. Every declared key's RESULT schema must
    come back empty here; checked by check_parity and tests so a
    canonicalizer-divergence bug can never be invisible locally again."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    def bad(dt) -> bool:
        if isinstance(dt, (ArrayType, MapType)):
            return True
        if isinstance(dt, StructType):
            return any(bad(f.dataType) for f in dt.fields)
        return False

    return [f.name for f in schema.fields if bad(f.dataType)]


def unobserved_sort_problems(key: str, df) -> list[str]:
    """A key's result is an unordered set: a terminal unlimited sort is
    rejected unless ``ORDERED_KEYS`` names the key. Checked by
    check_parity and tests for every key, oracle-hashed or rows-only."""
    if key in ORDERED_KEYS or not unobserved_sort(df):
        return []
    return [
        "unobserved terminal sort: results are compared order-insensitively; "
        "drop the sort or name the key in compare.ORDERED_KEYS with the reason"
    ]


@dataclass
class CompareResult:
    key: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    problems: list[str] = field(default_factory=list)

    def __str__(self) -> str:
        status = "OK " if self.ok else "FAIL"
        msg = f"[{status}] {self.key}: spark={self.spark_rows} oracle={self.oracle_rows}"
        for p in self.problems:
            msg += f"\n       - {p}"
        return msg


def compare_query(
    key: str,
    spark: SparkSession,
    con: duckdb.DuckDBPyConnection,
    query_fn,
    oracle_sql: str,
    sf_dir: str,
) -> CompareResult:
    result = query_fn(spark, sf_dir)
    problems = unobserved_sort_problems(key, result)
    for c in driver_unhashable_cols(result.schema):
        problems.append(
            f"driver-unhashable col={c}: array/map cells crash the driver's "
            "value hash (r02 q_agg_percentile_approx regression class)"
        )
    sdf = result.toPandas()
    odf = con.execute(oracle_sql).fetchdf()

    if len(sdf) != len(odf):
        problems.append(f"row count: spark={len(sdf)} oracle={len(odf)}")
    s_cols, o_cols = sorted(sdf.columns), sorted(odf.columns)
    if s_cols != o_cols:
        problems.append(f"columns: spark={s_cols} oracle={o_cols}")
    else:
        cs, co = _canon(sdf), _canon(odf)
        if len(cs) == len(co) and not cs.equals(co):
            neq = (cs != co).any(axis=0)
            for c in cs.columns[neq]:
                mism = (cs[c] != co[c]).to_numpy().nonzero()[0][:3]
                for i in mism:
                    problems.append(
                        f"value mismatch col={c} row={i}: spark={cs[c].iat[i]!r} oracle={co[c].iat[i]!r}"
                    )
        # dtype drift that a schema check would catch
        for c in sdf.columns:
            sk, ok_ = sdf[c].dtype.kind, odf[c].dtype.kind
            if {sk, ok_} <= {"i", "u"} or {sk, ok_} == {"f"} or sk == ok_:
                continue
            if {sk, ok_} <= {"O", "b"}:
                continue
            problems.append(f"dtype drift col={c}: spark={sdf[c].dtype} oracle={odf[c].dtype}")

    return CompareResult(key, not problems, len(sdf), len(odf), problems)
