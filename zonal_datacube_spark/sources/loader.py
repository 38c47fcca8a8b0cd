"""Parquet sources for the fixture star schema (TESTDATA.md).

The reference's sources are windowed COG/raster reads and vector file reads
(rioxarray / geopandas); ours is ``spark.read.parquet`` — Catalyst pushes
predicates to parquet row-group statistics and prunes columns, the direct
analogue of the reference's fishnet tile pruning + windowed reads
(SURVEY.md §4.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from zonal_datacube_spark.session import ensure_session_confs
from zonal_datacube_spark.sources.derived import DerivedCache, corpus_key

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Memo of the lazy table DataFrames. This caches the RELATION — file
# listing + footer schema inference, each a driver-side py4j + filesystem
# pass that `spark.read.parquet` repeats on every call (~40–80 ms) —
# never data or results: every action on the returned DataFrame re-reads
# the parquet from disk.
_RELATIONS = DerivedCache("relations", 64)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. Schema is inferred from parquet footers —
    no full-file scan happens at load time (lazy, like the reference's
    xarray open)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_session_confs(spark)
    return _RELATIONS.get_or_build(
        spark, corpus_key(sf_dir, (name,)), lambda: _read_table(spark, sf_dir, name)
    )


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # TIMESTAMP(NANOS) fixtures surface as raw int64 under the
        # nanosAsLong conf: floor-div nanos → µs (matching DuckDB's ns→µs
        # truncation) and rebuild a TIMESTAMP_NTZ TZ-independently.
        # µs-precision fixtures (current driver output) read natively as
        # TIMESTAMP_NTZ and skip this.
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def load_csv(spark: SparkSession, path: str, schema: str, header: bool = True) -> DataFrame:
    """CSV source with an explicit schema — inference would scan the data
    twice and guess types; at 100 TB both are unacceptable."""
    ensure_session_confs(spark)
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .csv(path)
    )


def load_json(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """JSON-lines source with an explicit schema (same rationale)."""
    ensure_session_confs(spark)
    return spark.read.schema(schema).json(path)


def load_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source (native reader). Like parquet: footer-only schema read,
    predicate pushdown into stripe/row-group statistics, column pruning."""
    ensure_session_confs(spark)
    return spark.read.orc(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view so ``spark.sql`` queries
    (GROUPING SETS etc.) can reference them by name."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
