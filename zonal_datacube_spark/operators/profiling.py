"""Data-quality machinery: single-pass column profiling (the Deequ/
dbt-test shape) and schema-evolution reads — both declared as
oracle-checked keys.

- ``q_profile_table`` computes per-column metric rows (count, nulls,
  distinct, min/max, sum) for the numeric lineitem measures in ONE
  aggregate pass + an unpivot: profiling a 100 TB table must be one scan,
  not one scan per metric. count_distinct over several columns expands the
  aggregate (Expand operator) — the deliberate cost of exact distincts;
  the approx profile (HLL) is the q_agg_approx_distinct family.
- ``q_source_schema_evolution`` writes two parquet generations (the
  second adds a column), reads them with mergeSchema, and aggregates with
  null-fill for pre-evolution rows — the append-only schema-growth
  pattern every long-lived dataset hits. The oracle simulates the null
  backfill with a CASE on the generation split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zonal_datacube_spark.sources.derived import layout
from zonal_datacube_spark.sources.loader import load_table, read_layout

PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan numeric profile of lineitem's measure columns, emitted as
    one metric row per column."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in PROFILE_COLS:
        aggs += [
            F.count("*").alias(f"{c}__n"),
            (F.count("*") - F.count(c)).alias(f"{c}__n_null"),
            F.round(F.min(c), 4).alias(f"{c}__min"),
            F.round(F.max(c), 4).alias(f"{c}__max"),
            F.round(F.sum(c), 2).alias(f"{c}__sum"),
        ]
    # distinct counts ride SEPARATE single-column aggregates: four
    # count_distincts in ONE agg make Catalyst's distinct rewrite Expand
    # every row 5× before the exchange (5 full-width replicas at 100 TB);
    # per-column they are plain two-phase aggregates over column-pruned
    # scans — narrower bytes in total, no Expand. Each 1-row result
    # broadcast-crossjoins back onto the plain-metrics row.
    wide = li.agg(*aggs)
    for c in PROFILE_COLS:
        wide = wide.crossJoin(
            F.broadcast(
                li.agg(F.count_distinct(F.col(c)).alias(f"{c}__n_distinct"))
            )
        )
    stack = ", ".join(
        f"'{c}', {c}__n, {c}__n_null, {c}__n_distinct, {c}__min, {c}__max, {c}__sum"
        for c in PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(PROFILE_COLS)}, {stack}) AS"
        " (column_name, n_rows, n_nulls, n_distinct, min_val, max_val, sum_val)"
    )


def evolved_orders_path(spark: SparkSession, sf_dir: str) -> str:
    """Two-generation orders layout: gen1 (even orderkeys) lacks
    o_orderpriority; gen2 (odd orderkeys) carries it."""

    def build(path: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
        )
        gen1 = orders.filter(F.col("o_orderkey") % 2 == 0).drop("o_orderpriority")
        gen2 = orders.filter(F.col("o_orderkey") % 2 == 1)
        gen1.write.mode("overwrite").parquet(f"{path}/gen=1")
        gen2.write.mode("overwrite").parquet(f"{path}/gen=2")

    return layout(sf_dir, ("orders",), "orders_evolved", build)


def q_source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mergeSchema read across the two generations: pre-evolution rows
    surface the new column as NULL; the aggregate coalesces them into an
    explicit '<pre-schema>' bucket. mergeSchema costs a footer merge over
    every file, paid once per layout stamp (``read_layout``) — at 100 TB
    pin the merged schema in a catalog instead, but reads must still
    null-fill old files exactly like this."""
    df = read_layout(spark, evolved_orders_path(spark, sf_dir), mergeSchema="true")
    return (
        df.groupBy(
            F.coalesce("o_orderpriority", F.lit("<pre-schema>")).alias("priority"),
            "o_orderstatus",
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
        )
    )


QUERIES = {
    "q_profile_table": q_profile_table,
    "q_source_schema_evolution": q_source_schema_evolution,
}

_PROFILE_ORACLE = "\n        UNION ALL\n".join(
    f"""
        SELECT '{c}' AS column_name,
               count(*)::BIGINT AS n_rows,
               (count(*) - count({c}))::BIGINT AS n_nulls,
               count(DISTINCT {c})::BIGINT AS n_distinct,
               round(min({c}), 4) AS min_val,
               round(max({c}), 4) AS max_val,
               round(sum({c}), 2) AS sum_val
        FROM lineitem"""
    for c in PROFILE_COLS
)

ORACLE = {
    "q_profile_table": _PROFILE_ORACLE,
    "q_source_schema_evolution": """
        SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<pre-schema>'
                    ELSE o_orderpriority END AS priority,
               o_orderstatus,
               count(*)::BIGINT AS n_orders,
               round(sum(o_totalprice), 2) AS sum_total
        FROM orders
        GROUP BY 1, 2
    """,
}
