"""Sources: the fixture star schema (TESTDATA.md) and its derived layouts.

The reference's sources are windowed COG/raster reads and vector file reads
(rioxarray / geopandas); ours is ``spark.read.parquet`` — Catalyst pushes
predicates to parquet row-group statistics and prunes columns, the direct
analogue of the reference's fishnet tile pruning + windowed reads
(SURVEY.md §4.1).

Every relation whose schema is read from disk is resolved here, once per
content stamp, through one memo (``_RELATIONS``): fixture tables through
``raw_table``/``load_table``, derived layouts through ``read_layout``.
CSV and JSON sources carry an explicit schema (``load_csv``/``load_json``),
infer nothing and are not memoized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from zonal_datacube_spark.session import ensure_session_confs
from zonal_datacube_spark.sources.derived import DerivedCache, corpus_key, source_stamp

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


# Memo of every relation whose schema is read from disk: the fixture tables
# (``raw_table``, and the µs-typed events view ``load_table`` derives
# from it) and the derived layouts (``read_layout``). It caches the
# RELATION — file listing + footer schema inference, which
# ``spark.read.parquet`` repeats on every call as a 1-task Spark job plus
# driver-side py4j and filesystem passes (~40–90 ms) — never data or
# results: every action on a returned DataFrame re-reads the files.
# Keys carry the content stamp (``derived.source_stamp``) of what they
# read, so a rewritten table or a rebuilt layout gets a fresh entry and
# a deleted one raises. One corpus's full suite needs at most 20 entries
# (10 raw tables, the typed events view of a nanos-ts corpus, 9
# layouts); the cap of 64 holds three corpora's full sets plus stale
# entries of rebuilt layouts.
_RELATIONS = DerivedCache("relations", 64)


def raw_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One fixture table exactly as its parquet footers type it (events'
    TIMESTAMP(NANOS) ``ts`` arrives as int64 under ``nanosAsLong``).
    Schema is inferred from the footers once per content stamp — no
    full-file scan happens at load time (lazy, like the reference's
    xarray open)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_session_confs(spark)
    return _RELATIONS.get_or_build(
        spark,
        ("raw", *corpus_key(sf_dir, (name,))),
        lambda: spark.read.parquet(f"{sf_dir}/{name}.parquet"),
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One fixture table as the engine's keys read it: ``raw_table``,
    with int64-nanos events ``ts`` rebuilt as TIMESTAMP_NTZ."""
    raw = raw_table(spark, sf_dir, name)
    if name != "events" or not isinstance(raw.schema["ts"].dataType, LongType):
        return raw
    # TIMESTAMP(NANOS) fixtures surface as raw int64 under the
    # nanosAsLong conf: floor-div nanos → µs (matching DuckDB's ns→µs
    # truncation) and rebuild a TIMESTAMP_NTZ TZ-independently.
    # µs-precision fixtures (current driver output) read natively as
    # TIMESTAMP_NTZ and skip this.
    return _RELATIONS.get_or_build(
        spark,
        ("typed", *corpus_key(sf_dir, (name,))),
        lambda: raw.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        ),
    )


def read_layout(
    spark: SparkSession, path: str, fmt: str = "parquet", **options: str
) -> DataFrame:
    """The relation of a derived layout (``derived.layout``'s path) in
    ``fmt``, read with ``options``. Resolved once per content stamp of
    ``path``: a warm call starts no listing or schema-inference job, a
    layout rewritten in place is re-read, and a deleted one raises
    ``FileNotFoundError`` instead of returning a stale relation."""
    ensure_session_confs(spark)
    key = ("layout", path, fmt, tuple(sorted(options.items())), source_stamp(path))
    return _RELATIONS.get_or_build(
        spark, key, lambda: getattr(spark.read.options(**options), fmt)(path)
    )


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


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view so ``spark.sql`` queries
    (GROUPING SETS etc.) can reference them by name."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
