"""Subquery-heavy TPC-H report shapes (SURVEY.md §2.13 round-2 additions).

Second batch of composite decision-support shapes, complementing
operators/reports.py (Q3/Q4/Q5/Q6/Q7/Q10/Q14/Q18/Q19): these five exercise
the *subquery* patterns — scalar aggregates feeding filters, ratios of
conditional sums, aggregate-then-self-join, count-of-counts, and anti-join
against a derived key set — adapted to the fixture schema (FIXTURES.md: no
partsupp/phone/comment columns; nations referenced by key, not name).

Scale notes (100 TB):
- Scalar subqueries (global avg, max-of-aggregate) are computed as 1-row
  DataFrames and broadcast — never collected to the driver, never a
  single-partition window over fact rows.
- q_report_small_qty_revenue's per-part threshold is aggregate-then-join:
  the fact table shuffles once on l_partkey for the avg, and the join back
  reuses that partitioning on the aggregate side.
- q_report_customer_distribution's second groupBy keys on the count value
  (cardinality ≈ distinct order counts, tiny) — the only heavy shuffle is
  the first, on the join key.

FP parity: revenue/balance sums round to 4/2 decimals as in reports.py;
q_report_market_share's ratio rounds at 6 (ratio of ~1e7 sums keeps
partial-sum noise ~1e-9 relative, far below the grain). l_quantity is
integral in the fixture (verified), so Q17's 0.2·avg threshold is an exact
rational identical in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zonal_datacube_spark.functions.exact import revenue
from zonal_datacube_spark.sources.loader import load_table

Q8_REGION = 1
Q8_NATION = 9
Q8_YEARS = (1996, 1997)
Q13_EXCLUDED_STATUS = "P"
Q15_QUARTER_START = "1997-01-01"
Q15_QUARTER_END = "1997-04-01"
Q17_BRAND = "Brand#11"
Q22_CUTOFF = "1999-01-01"


def q_report_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of a customer region's
    order revenue, per order year. The numerator/denominator ratio is a
    single conditional aggregate (one partial+final pass), never two
    scans. Customer-side nation membership prunes via an inner join
    against the region-filtered nation dim (broadcast), so non-region
    rows drop before the fact join output grows."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate").between(*Q8_YEARS))
        .select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year"))
    )
    region_nations = F.broadcast(
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_regionkey") == Q8_REGION)
        .select("n_nationkey")
    )
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    )
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    )
    rev = revenue()
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(region_nations, cust.c_nationkey == region_nations.n_nationkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("s_nationkey") == Q8_NATION, rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("mkt_share"),
            F.count("*").alias("n_items"),
        )
    )


def q_report_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of order counts per customer — the
    count-of-counts histogram. Left outer join keeps zero-order customers
    (they land in the c_count = 0 bucket); the non-key join predicate
    (status exclusion) filters order rows without dropping customers.
    Heavy shuffle only on the join/first-group key; the histogram groupBy
    keys on the tiny count domain."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") != Q13_EXCLUDED_STATUS)
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def q_report_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum revenue for one ship
    quarter. Aggregate-then-self-compare: per-supplier revenue (one fact
    shuffle), then the scalar max of that aggregate re-joins as a 1-row
    broadcast equality — no global sort, no driver collect, ties kept
    (per spec)."""
    rev = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit(Q15_QUARTER_START).cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit(Q15_QUARTER_END).cast("timestamp_ntz"))
        )
        .groupBy("l_suppkey")
        .agg(F.round(F.sum(revenue()), 4).alias("total_rev"))
    )
    top = F.broadcast(rev.agg(F.max("total_rev").alias("max_rev")))
    return (
        rev.join(top, rev.total_rev == top.max_rev)
        .select("l_suppkey", "total_rev")
    )


def q_report_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: yearly-averaged revenue from small-quantity orders
    of one brand — lines below 20% of their part's average quantity.
    The correlated scalar subquery decorrelates to aggregate-then-join:
    per-part avg (fact shuffled once on l_partkey), joined back to the
    fact on the same key (the aggregate side keeps its partitioning);
    the brand dim is broadcast. l_quantity is integral ⇒ the threshold
    avg is an exact deterministic rational in both engines."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    thresholds = li.groupBy("l_partkey").agg(
        (0.2 * F.avg("l_quantity")).alias("qty_threshold")
    )
    brand_parts = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == Q17_BRAND)
        .select("p_partkey")
    )
    return (
        li.join(brand_parts, li.l_partkey == brand_parts.p_partkey)
        .join(
            thresholds.withColumnRenamed("l_partkey", "t_partkey"),
            F.col("l_partkey") == F.col("t_partkey"),
        )
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"),
        )
    )


def q_report_idle_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: per-nation count and total balance of
    above-average-balance customers with no recent orders. Two derived
    inputs feed the filter: the global positive-balance average (1-row
    broadcast scalar) and the recent-orderer key set (anti join). The
    strict 'never ordered' form is empty on this fixture, so 'recent'
    is orders since Q22_CUTOFF — same plan shape, non-empty output."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    avg_bal = F.broadcast(
        cust.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(Q22_CUTOFF).cast("timestamp_ntz"))
        .select("o_custkey")
    )
    return (
        cust.crossJoin(avg_bal)
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


QUERIES = {
    "q_report_market_share": q_report_market_share,
    "q_report_customer_distribution": q_report_customer_distribution,
    "q_report_top_supplier": q_report_top_supplier,
    "q_report_small_qty_revenue": q_report_small_qty_revenue,
    "q_report_idle_balance": q_report_idle_balance,
}

ORACLE = {
    "q_report_market_share": f"""
        WITH base AS (
            SELECT year(o_orderdate) AS o_year, s_nationkey,
                   l_extendedprice * (1 - l_discount) AS rev
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation nc ON c_nationkey = nc.n_nationkey
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE nc.n_regionkey = {Q8_REGION}
              AND year(o_orderdate) BETWEEN {Q8_YEARS[0]} AND {Q8_YEARS[1]}
        )
        SELECT o_year,
               round(sum(CASE WHEN s_nationkey = {Q8_NATION} THEN rev
                              ELSE 0.0 END) / sum(rev), 6) AS mkt_share,
               count(*) AS n_items
        FROM base GROUP BY o_year
    """,
    "q_report_customer_distribution": f"""
        SELECT c_count, count(*) AS custdist
        FROM (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer
            LEFT JOIN orders ON o_custkey = c_custkey
                 AND o_orderstatus <> '{Q13_EXCLUDED_STATUS}'
            GROUP BY c_custkey
        )
        GROUP BY c_count
    """,
    "q_report_top_supplier": f"""
        WITH rev AS (
            SELECT l_suppkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_rev
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '{Q15_QUARTER_START} 00:00:00'
              AND l_shipdate < TIMESTAMP '{Q15_QUARTER_END} 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT l_suppkey, total_rev
        FROM rev WHERE total_rev = (SELECT max(total_rev) FROM rev)
    """,
    "q_report_small_qty_revenue": f"""
        WITH thresholds AS (
            SELECT l_partkey AS t_partkey, 0.2 * avg(l_quantity) AS qty_threshold
            FROM lineitem GROUP BY l_partkey
        )
        SELECT count(*) AS n_items,
               round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN thresholds ON t_partkey = l_partkey
        WHERE p_brand = '{Q17_BRAND}' AND l_quantity < qty_threshold
    """,
    "q_report_idle_balance": f"""
        SELECT c_nationkey, count(*) AS n_cust,
               round(sum(c_acctbal), 2) AS total_bal
        FROM customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                           WHERE c_acctbal > 0)
          AND NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey
                AND o_orderdate >= TIMESTAMP '{Q22_CUTOFF} 00:00:00'
          )
        GROUP BY c_nationkey
    """,
}
