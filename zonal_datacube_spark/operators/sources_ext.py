"""Source-format keys beyond parquet/ORC: CSV and JSON-lines roundtrips,
and Hive-style partitioned layout with observable partition pruning.

Each key writes a cached copy of a fixture table in the target format
(once per sf_dir, under the system temp dir), reads it back, and
aggregates; the oracle runs the SAME aggregate over the parquet original,
so the hash-compare proves the format roundtrip is lossless — including
text through JSON escaping (checksummed via md5, bit-identical across
engines) and date/double columns through CSV serialization.

Scale notes (100 TB):
- CSV/JSON reads use EXPLICIT schemas (sources/loader.py): schema
  inference scans the data twice and guesses types — unacceptable at any
  scale, wrong at 100 TB.
- The partitioned layout turns the `event_type = ...` predicate into
  directory pruning: the scan lists one partition directory instead of
  reading-and-discarding 4/5 of the table. The plan-lock test asserts the
  predicate lands in PartitionFilters (metadata-time), not PushedFilters
  (read-time).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zonal_datacube_spark.functions.tempdirs import fresh_dirs
from zonal_datacube_spark.sources.derived import layout
from zonal_datacube_spark.sources.loader import load_csv, load_json, load_table, read_layout
from zonal_datacube_spark.sources.sinks import write_csv, write_json, write_parquet
from zonal_datacube_spark.streaming.drain import drain

ORDERS_CSV_SCHEMA = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,"
    " o_totalprice DOUBLE, o_orderdate DATE, o_orderpriority STRING"
)
DOCS_JSON_SCHEMA = (
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
)


def csv_orders_path(spark: SparkSession, sf_dir: str) -> str:
    return layout(
        sf_dir, ("orders",), "orders_csv",
        lambda p: write_csv(load_table(spark, sf_dir, "orders"), p),
    )


def jsonl_documents_path(spark: SparkSession, sf_dir: str) -> str:
    return layout(
        sf_dir, ("documents",), "documents_jsonl",
        lambda p: write_json(load_table(spark, sf_dir, "documents"), p),
    )


def partitioned_events_by_type_path(spark: SparkSession, sf_dir: str) -> str:
    return layout(
        sf_dir, ("events",), "events_by_type",
        lambda p: write_parquet(
            load_table(spark, sf_dir, "events"), p, partition_by=["event_type"]
        ),
    )


def q_source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → CSV (header, no schema in-band) → explicit-schema read →
    aggregate. Doubles survive via shortest-roundtrip formatting; dates via
    ISO strings; hash-equality against the parquet original proves it."""
    orders = load_csv(spark, csv_orders_path(spark, sf_dir), ORDERS_CSV_SCHEMA)
    return orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_date"),
        F.sum(F.col("o_orderkey") % 997).alias("key_checksum"),
    )


def q_source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → JSON-lines → explicit-schema read → per-lang aggregate
    with an md5 text checksum: free text (quotes, unicode, newlines) must
    survive JSON escaping bit-exactly or the min/max digests drift."""
    docs = load_json(spark, jsonl_documents_path(spark, sf_dir), DOCS_JSON_SCHEMA)
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min(F.md5(F.col("text").cast("binary"))).alias("min_digest"),
        F.max(F.md5(F.col("text").cast("binary"))).alias("max_digest"),
    )


PRUNE_EVENT_TYPE = "purchase"


def q_source_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily rollup of one event type read from the type-partitioned
    layout: the filter prunes to a single partition directory at planning
    time (asserted in tests/test_sources_ext.py). The oracle scans the
    flat original — identical results, 1/5th the I/O here, 1/k at scale."""
    ev = read_layout(spark, partitioned_events_by_type_path(spark, sf_dir))
    return (
        ev.filter(F.col("event_type") == PRUNE_EVENT_TYPE)
        .groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


N_CORRUPT = 3
COMPACT_FILES = 4


def corrupt_csv_orders_path(spark: SparkSession, sf_dir: str) -> str:
    """The CSV orders copy plus one extra part file holding N_CORRUPT
    deliberately malformed lines — wrong arity / unparseable types, the
    rows every real ingest meets."""
    base = csv_orders_path(spark, sf_dir)

    def build(path: str) -> None:
        import shutil

        os.makedirs(path)
        for f in os.listdir(base):
            if f.endswith(".csv"):
                shutil.copy(os.path.join(base, f), os.path.join(path, f))
        bad = [
            "not-a-number,1,O,oops,2024-13-99,1-URGENT",
            "only,three,fields",
            ",,,,,,too,many,fields,here,extra",
        ]
        with open(os.path.join(path, "part-corrupt.csv"), "w") as fh:
            # header=true consumes the first line of EVERY file — lead
            # with a sacrificial header so all N_CORRUPT rows are parsed
            fh.write("o_orderkey,o_custkey,o_orderstatus,o_totalprice,"
                     "o_orderdate,o_orderpriority\n")
            fh.write("\n".join(bad[:N_CORRUPT]) + "\n")

    return layout(sf_dir, ("orders",), "orders_csv_corrupt", build)


def q_source_csv_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode ingest over a CSV dir containing malformed lines:
    bad rows null-fill and land in _corrupt_record instead of failing the
    job (FAILFAST) or vanishing silently (DROPMALFORMED). The key counts
    clean vs quarantined rows and checksums the clean side — the
    quarantine-don't-crash contract a 100 TB ingest needs, since at that
    scale SOME corrupt records are a certainty."""
    schema = ORDERS_CSV_SCHEMA + ", _corrupt_record STRING"
    df = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(corrupt_csv_orders_path(spark, sf_dir))
    )
    # caching before splitting on _corrupt_record is the documented Spark
    # requirement: the column is only populated during the physical parse
    df = df.cache()
    return df.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1)).alias("n_good"),
        F.count("_corrupt_record").alias("n_corrupt"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("o_orderkey") % 997)
        ).alias("key_checksum"),
    )


def compacted_events_path(spark: SparkSession, sf_dir: str) -> str:
    # repartition (not coalesce): exact file-count control with
    # round-robin balancing — the one shuffle is the compaction's price
    return layout(
        sf_dir, ("events",), "events_compacted",
        lambda p: write_parquet(
            load_table(spark, sf_dir, "events").repartition(COMPACT_FILES), p
        ),
    )


def q_source_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction: rewrite the (many-file) events table into
    COMPACT_FILES parquet files and prove content equality through the
    rewrite. Small-files is THE silent killer of 100 TB scans (one task +
    one footer fetch per file); compaction is a repartition-write whose
    only observable change is the file count (asserted in tests)."""
    ev = read_layout(spark, compacted_events_path(spark, sf_dir))
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("event_id") % 9973).alias("id_checksum"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def text_lines_path(spark: SparkSession, sf_dir: str) -> str:
    """documents.text exported one line per document (fixture text is
    single-line), the raw-corpus form text pipelines start from."""
    return layout(
        sf_dir, ("documents",), "documents_txt",
        lambda p: load_table(spark, sf_dir, "documents")
        .select("text")
        .write.mode("overwrite")
        .text(p),
    )


def q_source_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text-file source: read the exported corpus with ``read.text``
    (one row per line, single `value` column) and profile it. Line
    identity is order-free (md5 min/max + length sum), so the key is
    layout-independent — exactly how a 100 TB crawl dump is first
    touched: no schema, no delimiters, line-split only."""
    lines = read_layout(spark, text_lines_path(spark, sf_dir), "text")
    return lines.agg(
        F.count("*").alias("n_lines"),
        F.sum(F.length("value")).alias("total_chars"),
        F.min(F.md5(F.col("value").cast("binary"))).alias("min_digest"),
        F.max(F.md5(F.col("value").cast("binary"))).alias("max_digest"),
    )


EVENT_CATEGORIES = (
    ("click", "engagement"),
    ("view", "engagement"),
    ("signup", "conversion"),
    ("purchase", "conversion"),
    ("error", "ops"),
)
DPP_CATEGORY = "conversion"


def q_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning: the fact side is the type-partitioned
    events layout; the filter lives on a tiny category dimension, so the
    partition list is only known at RUNTIME — Catalyst broadcasts the
    dim, builds the pruning predicate from it, and the fact scan skips
    3/5 partition directories without a static filter ever existing
    (plan-locked in tests). This is the join-shaped twin of
    q_source_partitioned_pruning's static pruning — at 100 TB, star-join
    dashboards live or die by DPP."""
    ev = read_layout(spark, partitioned_events_by_type_path(spark, sf_dir))
    # NOT a LocalRelation (r13 note): with a literal inline dim Catalyst
    # folds the filter into static partition pruning and the
    # dynamicpruningexpression this key exists to DEMONSTRATE never
    # fires (tests/test_sources_ext.py plan-locks it). The LogicalRDD
    # dim keeps the partition list runtime-only, which is the point
    # (exempted from local_relation in tests/test_local_rel.py).
    cats = spark.createDataFrame(
        list(EVENT_CATEGORIES), "event_type string, category string"
    ).filter(F.col("category") == DPP_CATEGORY)
    return (
        ev.join(F.broadcast(cats), "event_type")
        .groupBy("category", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


PYDS_N = 256  # raster edge read through the custom Python source
PYDS_BAND = 32  # rows per InputPartition → 8 parallel band reads
PYDS_TILE = 32  # downsample factor for the aggregate


def q_source_python_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Spark 4 Python DataSource API
    (sources/raster_source.py): a partitioned synthetic raster-tile
    source — one InputPartition per row band, scheduled across executors
    exactly like a JVM DataSourceV2 — aggregated to tile statistics. The
    cell values are pure integer arithmetic, so the DuckDB oracle
    regenerates the raster and proves the connector path lossless. The
    Python read path is the deliberate flexibility tier; production
    connectors yield Arrow batches through the same API."""
    from zonal_datacube_spark.sources.raster_source import (
        RASTER_SOURCE_NAME,
        register_raster_source,
    )

    register_raster_source(spark)
    cells = (
        spark.read.format(RASTER_SOURCE_NAME)
        .option("n", PYDS_N)
        .option("band_rows", PYDS_BAND)
        .load()
    )
    return (
        cells.groupBy(
            F.floor(F.col("x") / PYDS_TILE).alias("tile_x"),
            F.floor(F.col("y") / PYDS_TILE).alias("tile_y"),
        )
        .agg(
            F.count("*").alias("n_cells"),
            F.round(F.avg("val"), 6).alias("mean_val"),
            F.max("val").alias("max_val"),
        )
    )


OVERWRITE_TAIL_DAYS = 3


def q_sink_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition overwrite — the idempotent-backfill primitive:
    re-running a day's job replaces exactly that day's partition and
    leaves the rest of the table untouched (static overwrite mode would
    TRUNCATE the whole table — the classic production data-loss
    footgun). Demonstrated end-to-end: a full daily×type rollup lands
    partitioned by day; a corrected job (purchases only) then rewrites
    the last 3 day-partitions with the write option
    partitionOverwriteMode=dynamic; the read-back
    shows old days intact and tail days fully replaced. The oracle
    computes that exact blend relationally."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(F.count("*").alias("n"), F.sum("value").alias("sum_v"))
    (out,) = fresh_dirs("q_sink_dynamic_overwrite", "zds_dynover_")
    daily.write.mode("overwrite").partitionBy("day").parquet(out)
    cutoff = ev.agg(
        F.date_format(
            F.date_trunc("day", F.max("ts"))
            - F.expr(f"INTERVAL {OVERWRITE_TAIL_DAYS - 1} DAYS"),
            "yyyy-MM-dd",
        )
    ).collect()[0][0]  # one scalar: the first rewritten day
    corrected = daily.filter(
        (F.col("day") >= cutoff) & (F.col("event_type") == "purchase")
    )
    # a per-write option, not the session conf: nothing session-global
    # changes, so concurrent writers never see each other's mode
    corrected.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("day").parquet(out)
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.countDistinct("day").alias("n_days"),
            F.sum("n").alias("total_n"),
            F.round(F.sum("sum_v"), 2).alias("total_v"),
        )
    )


def q_source_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-blob ingestion via the ``binaryFile`` source — the front
    door for multimodal corpora (images/audio/video land as binary
    columns with path/length/mtime metadata; operators/media.py picks up
    from exactly this shape). Globbed over the fixture's parquet files
    as stand-in blobs: name, byte length, and md5 digest per file. The
    lookup is recursive, so a ``<table>.parquet/part-*.parquet``
    directory layout yields its part files instead of nothing.
    Rows-only: DuckDB 1.0 cannot hash BLOBs (its BLOB→VARCHAR cast
    escapes bytes), so the digest parity pin lives in
    tests/test_sources_ext.py against hashlib instead."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .load(sf_dir)
        .select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            "length",
            F.md5("content").alias("content_md5"),
        )
    )


TICK_STREAM_TICKS = 512
TICK_STREAM_ROWS = 16
TICK_VAL_BUCKET = 10


def _tick_bucket_census(landed: DataFrame) -> DataFrame:
    """The shared value-bucket census both tick-stream keys aggregate —
    one definition, so the connector keys and their common oracle cannot
    drift apart."""
    return landed.groupBy(
        (F.col("val") / TICK_VAL_BUCKET).cast("int").alias("val_bucket")
    ).agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("tick").alias("n_ticks"),
        F.sum(F.col("tick").cast("bigint")).alias("tick_sum"),
        F.sum(F.col("i").cast("bigint")).alias("i_sum"),
    )


def q_source_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Structured Streaming from a CUSTOM PYTHON streaming source
    (Spark 4 ``pyspark.sql.datasource`` streaming contract — offsets,
    per-batch partition planning, exactly-once replay): the deterministic
    tick feed (sources/tick_stream_source.py) streams through a
    checkpointed parquet file sink until drained, and the landed table
    aggregates to a value-bucket census. The oracle regenerates the
    entire feed arithmetically via generate_series — row counts, tick
    sums, and bucket populations all match iff the connector delivered
    every offset exactly once."""
    from zonal_datacube_spark.sources.tick_stream_source import (
        TICK_STREAM_NAME,
        register_tick_stream_source,
    )
    from zonal_datacube_spark.streaming.demo import read_sink

    register_tick_stream_source(spark)
    out, ck = fresh_dirs(
        "q_source_python_stream", "zds_tickstream_out_", "zds_tickstream_ck_"
    )
    stream = (
        spark.readStream.format(TICK_STREAM_NAME)
        .option("ticks", TICK_STREAM_TICKS)
        .option("rows_per_tick", TICK_STREAM_ROWS)
        .load()
    )
    drain(
        spark,
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True),
    )
    return _tick_bucket_census(read_sink(spark, out, stream.schema))


def q_stream_python_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Structured Streaming INTO a CUSTOM PYTHON streaming sink
    (Spark 4 DataSourceStreamWriter contract — per-micro-batch executor
    writes + idempotent driver commit): the deterministic tick feed
    (sources/tick_stream_source.py) streams through the jsonl stream
    writer (sources/jsonl_sink.py), the read-back follows ONLY the
    per-batch manifest lines, and the landed rows aggregate to the same
    value-bucket census q_source_python_stream pins — the oracle
    regenerates the feed via generate_series, so the hash match proves
    the custom WRITE path delivered every offset exactly once. Completes
    the Python-connector matrix: batch reader (q_source_python_ds),
    streaming reader (q_source_python_stream), batch writer
    (q_sink_python_ds_write), streaming writer (this key)."""
    from zonal_datacube_spark.sources.jsonl_sink import (
        JSONL_SINK_NAME,
        read_stream_manifest,
        register_jsonl_sink,
    )
    from zonal_datacube_spark.sources.tick_stream_source import (
        TICK_STREAM_NAME,
        register_tick_stream_source,
    )

    register_tick_stream_source(spark)
    register_jsonl_sink(spark)
    out, ck = fresh_dirs(
        "q_stream_python_sink", "zds_pysink_out_", "zds_pysink_ck_"
    )
    stream = (
        spark.readStream.format(TICK_STREAM_NAME)
        .option("ticks", TICK_STREAM_TICKS)
        .option("rows_per_tick", TICK_STREAM_ROWS)
        .load()
    )
    drain(
        spark,
        stream.writeStream.format(JSONL_SINK_NAME)
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True),
    )
    committed = [
        f"{out}/{name}"
        for rec in read_stream_manifest(out)
        for name, _ in rec["files"]
    ]
    landed = spark.read.schema("tick int, i int, val int").json(committed)
    return _tick_bucket_census(landed)


QUERIES = {
    "q_source_binary_files": q_source_binary_files,
    "q_stream_python_sink": q_stream_python_sink,
    "q_sink_dynamic_overwrite": q_sink_dynamic_overwrite,
    "q_source_python_stream": q_source_python_stream,
    "q_source_csv_roundtrip": q_source_csv_roundtrip,
    "q_source_python_ds": q_source_python_ds,
    "q_source_csv_corrupt": q_source_csv_corrupt,
    "q_source_compaction": q_source_compaction,
    "q_source_text_lines": q_source_text_lines,
    "q_join_dpp": q_join_dpp,
    "q_source_jsonl_roundtrip": q_source_jsonl_roundtrip,
    "q_source_partitioned_pruning": q_source_partitioned_pruning,
}

_CATS_VALUES = ", ".join(f"('{t}', '{c}')" for t, c in EVENT_CATEGORIES)

# one oracle for BOTH tick-stream connector keys (reader and writer
# paths land the identical feed): regenerate arithmetically and census
_TICK_CENSUS_ORACLE = f"""
        WITH feed AS (
            SELECT (i // {TICK_STREAM_ROWS}) AS tick,
                   (i % {TICK_STREAM_ROWS}) AS ri,
                   ((i // {TICK_STREAM_ROWS}) * 31
                    + (i % {TICK_STREAM_ROWS}) * 17) % 97 AS val
            FROM generate_series(0,
                 {TICK_STREAM_TICKS * TICK_STREAM_ROWS - 1}) t(i)
        )
        SELECT (val // {TICK_VAL_BUCKET})::INT AS val_bucket,
               count(*) AS n_rows,
               count(DISTINCT tick) AS n_ticks,
               sum(tick)::BIGINT AS tick_sum,
               sum(ri)::BIGINT AS i_sum
        FROM feed GROUP BY 1
    """

ORACLE = {
    "q_stream_python_sink": _TICK_CENSUS_ORACLE,
    "q_source_python_stream": _TICK_CENSUS_ORACLE,
    "q_sink_dynamic_overwrite": f"""
        WITH daily AS (
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   event_type,
                   count(*) AS n,
                   sum(value) AS sum_v
            FROM events GROUP BY 1, 2
        ),
        cutoff AS (
            SELECT strftime(date_trunc('day', max(ts))
                            - INTERVAL {OVERWRITE_TAIL_DAYS - 1} DAY,
                            '%Y-%m-%d') AS cut
            FROM events
        ),
        -- dynamic overwrite only rewrites partitions PRESENT in the
        -- corrected batch: a tail day with zero purchase rows keeps its
        -- old contents (ADVICE r04 — the blend is per-day, not global)
        rewritten AS (
            SELECT DISTINCT day FROM daily, cutoff
            WHERE day >= cut AND event_type = 'purchase'
        ),
        blended AS (
            SELECT d.* FROM daily d, cutoff
            WHERE d.day < cut
               OR (d.event_type = 'purchase'
                   AND d.day IN (SELECT day FROM rewritten))
               OR (d.day >= cut
                   AND d.day NOT IN (SELECT day FROM rewritten))
        )
        SELECT event_type,
               count(DISTINCT day) AS n_days,
               sum(n)::BIGINT AS total_n,
               round(sum(sum_v), 2) AS total_v
        FROM blended GROUP BY event_type
    """,
    "q_source_python_ds": f"""
        WITH cells AS (
            SELECT (i % {PYDS_N}) AS x, (i // {PYDS_N}) AS y,
                   ((i % {PYDS_N}) * 31 + (i // {PYDS_N}) * 17) % 97 AS val
            FROM generate_series(0, {PYDS_N * PYDS_N - 1}) AS t(i)
        )
        SELECT (x // {PYDS_TILE})::BIGINT AS tile_x,
               (y // {PYDS_TILE})::BIGINT AS tile_y,
               count(*) AS n_cells,
               round(avg(val), 6) AS mean_val,
               max(val) AS max_val
        FROM cells GROUP BY tile_x, tile_y
    """,
    "q_source_text_lines": """
        SELECT count(*)::BIGINT AS n_lines,
               sum(length(text))::BIGINT AS total_chars,
               min(md5(text)) AS min_digest,
               max(md5(text)) AS max_digest
        FROM documents
    """,
    "q_join_dpp": f"""
        WITH cats(event_type, category) AS (VALUES {_CATS_VALUES})
        SELECT c.category, e.event_type,
               count(*)::BIGINT AS n_events,
               round(sum(e.value), 2) AS sum_value
        FROM events e JOIN cats c USING (event_type)
        WHERE c.category = '{DPP_CATEGORY}'
        GROUP BY 1, 2
    """,
    "q_source_csv_corrupt": f"""
        SELECT count(*)::BIGINT AS n_good,
               {N_CORRUPT}::BIGINT AS n_corrupt,
               sum(o_orderkey % 997)::BIGINT AS key_checksum
        FROM orders
    """,
    "q_source_compaction": """
        SELECT event_type,
               count(*)::BIGINT AS n_events,
               sum(event_id % 9973)::BIGINT AS id_checksum,
               round(sum(value), 2) AS sum_value
        FROM events
        GROUP BY event_type
    """,
    "q_source_csv_roundtrip": """
        SELECT o_orderpriority,
               count(*)::BIGINT AS n_orders,
               round(sum(o_totalprice), 2) AS sum_total,
               strftime(min(o_orderdate), '%Y-%m-%d') AS first_date,
               sum(o_orderkey % 997)::BIGINT AS key_checksum
        FROM orders
        GROUP BY o_orderpriority
    """,
    "q_source_jsonl_roundtrip": """
        SELECT lang,
               count(*)::BIGINT AS n_docs,
               sum(n_chars)::BIGINT AS sum_chars,
               min(md5(text)) AS min_digest,
               max(md5(text)) AS max_digest
        FROM documents
        GROUP BY lang
    """,
    "q_source_partitioned_pruning": f"""
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               count(*)::BIGINT AS n_events,
               round(sum(value), 2) AS sum_value,
               count(DISTINCT user_id)::BIGINT AS n_users
        FROM events
        WHERE event_type = '{PRUNE_EVENT_TYPE}'
        GROUP BY 1
    """,
}
