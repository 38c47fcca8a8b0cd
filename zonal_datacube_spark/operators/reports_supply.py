"""Supply-chain TPC-H report shapes — the last 7 of the 22 (SURVEY.md §2.13).

Third batch of composite decision-support queries, completing the full
TPC-H shape suite alongside operators/reports.py (Q1/Q3/Q4/Q5/Q6/Q7/Q10/
Q14/Q18/Q19) and operators/reports_subq.py (Q8/Q13/Q15/Q17/Q22): Q2, Q9,
Q11, Q12, Q16, Q20, Q21 — adapted to the fixture schema (FIXTURES.md has
no partsupp/commitdate/receiptdate, so part-supplier "offers" derive from
lineitem history and "late" means shipped >N days after the order date).

Scale notes (100 TB):
- Q2/Q20 build a (partkey, suppkey) offer table with ONE lineitem shuffle;
  the per-part min/total reuses that partitioning (child outputs
  hash(partkey, suppkey); the per-part re-agg is a cheap second exchange
  on the already-reduced offer table, never on fact rows).
- Q11's threshold is a 1-row aggregate cross-joined (broadcast) into the
  per-part aggregate — never collected to the driver.
- Q16's excluded-supplier set and Q20/Q2's dimension sides are broadcast;
  count(DISTINCT) runs as Spark's two-phase distinct aggregate.
- Q21 probes the fact table three ways (candidates, corroborating lines,
  exonerating lines) — the semi/anti probes shuffle on l_orderkey ONCE
  each and AQE plans them as shuffled hash joins; nothing is nested-loop.

FP parity: revenue/profit sums round at 4 (reports.py convention); Q2's
unit cost is a min over IEEE-double divisions computed identically by both
engines, so the cost = min(cost) equality join is exact; l_quantity is
integral (FIXTURES.md), so Q20's 0.5·total threshold is an exact rational.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zonal_datacube_spark.functions.exact import revenue
from zonal_datacube_spark.sources.loader import load_table

Q2_SIZE = 25
Q2_TYPE = "ECONOMY"
Q2_REGION = "ASIA"
Q2_TOPN = 10
Q9_NAME_FRAGMENT = "gear"
Q9_COST_FACTOR = 0.1
Q11_NATIONKEY = 3
Q11_FRACTION = 0.001
Q12_LATE_DAYS = 30
Q16_EXCL_BRAND = "Brand#11"
Q16_EXCL_TYPE = "ECONOMY"
Q16_SIZES = (1, 4, 9, 16, 25, 36, 49)
Q20_NAME_PREFIX = "red"
Q20_YEAR = 1997
Q20_SHARE = 0.5
Q20_NATIONKEY = 7
Q21_LATE_DAYS = 60
Q21_TOPN = 20


def q_report_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each part of one size/type, the supplier in one
    region offering the minimum unit cost (correlated-min subquery).

    No partsupp table in the fixture, so the offer book derives from
    shipping history: unit_cost = min(l_extendedprice / l_quantity) per
    (partkey, suppkey). The correlated ``cost = (SELECT min ...)`` becomes
    a per-part window min over the reduced offer table — the window's
    partkey partitioning is a reshuffle of aggregate output (|parts| ×
    |suppliers| rows max), never of fact rows. Dimensions broadcast."""
    offers = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost"))
    )
    parts = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_size") == Q2_SIZE) & (F.col("p_type") == Q2_TYPE))
        .select("p_partkey")
    )
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .join(
            load_table(spark, sf_dir, "nation"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            load_table(spark, sf_dir, "region").filter(
                F.col("r_name") == Q2_REGION
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    w = Window.partitionBy("p_partkey")
    return (
        offers.join(parts, offers.l_partkey == parts.p_partkey)
        .join(supp, offers.l_suppkey == supp.s_suppkey)
        .withColumn("min_cost", F.min("cost").over(w))
        .filter(F.col("cost") == F.col("min_cost"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            F.round("cost", 6).alias("unit_cost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(Q2_TOPN)
    )


def q_report_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per (supplier nation, order year) for parts
    matching a name fragment. profit = revenue − cost, with cost proxied
    as ``Q9_COST_FACTOR · p_retailprice · l_quantity`` (no ps_supplycost
    in the fixture). lineitem shuffles once on l_orderkey for the orders
    join; part/supplier/nation broadcast; year() folds into the grouping
    key JVM-side."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    parts = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").contains(Q9_NAME_FRAGMENT))
        .select("p_partkey", "p_retailprice")
    )
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    )
    nat = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    profit = revenue() - F.lit(Q9_COST_FACTOR) * F.col("p_retailprice") * F.col(
        "l_quantity"
    )
    return (
        li.join(parts, li.l_partkey == parts.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(nat, supp.s_nationkey == nat.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("n_name", F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(profit), 4).alias("sum_profit"))
    )


def q_report_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose shipped value via one nation's
    suppliers exceeds a fixed fraction of the nation's total (scalar-
    subquery HAVING). The total is a 1-row aggregate of the per-part
    aggregate, broadcast back via cross join — the fact table shuffles
    once (on l_partkey), the threshold comparison runs on the tiny
    aggregate output."""
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == Q11_NATIONKEY)
        .select("s_suppkey")
    )
    per_part = (
        load_table(spark, sf_dir, "lineitem")
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum("l_extendedprice").alias("value"))
    )
    total = per_part.agg(
        F.sum("value").alias("total_value")
    )  # 1 row — broadcast side of the cross join below
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value") > Q11_FRACTION * F.col("total_value"))
        .select("l_partkey", F.round("value", 4).alias("value"))
    )


def q_report_late_shipment_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q12 shape: for late shipments (shipped > N days after the
    order date — the fixture's commitdate/shipmode stand-in), count
    critical (URGENT/HIGH) vs other orders per return flag. The CASE sums
    are partial-aggregated map-side; one shuffle on l_orderkey for the
    join, one tiny one on the 3-value grouping key."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {Q12_LATE_DAYS} DAYS")
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(crit, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def q_report_supplier_part_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type, size)
    for a size list, excluding one brand, one type, and a "complaints"
    supplier set (s_acctbal < 0 — the fixture's comment-column stand-in).
    The part-supplier relationship derives from lineitem; the NOT IN is a
    broadcast anti-join; count(DISTINCT) runs two-phase (partial distinct
    map-side)."""
    bad_supp = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    parts = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != Q16_EXCL_BRAND)
            & (F.col("p_type") != Q16_EXCL_TYPE)
            & F.col("p_size").isin(*Q16_SIZES)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(parts, li.l_partkey == parts.p_partkey)
        .join(bad_supp, li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


def q_report_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in one nation holding a dominant share
    (> Q20_SHARE of the part's total shipped quantity in one year) of any
    name-prefixed part — the nested-IN chain (parts IN prefix set,
    suppliers IN excess-share set). The (suppkey, partkey) quantity roll-
    up shuffles fact rows once; the per-part total is a re-agg of that
    rollup joined back on partkey; the final supplier probe is a broadcast
    semi-join."""
    parts = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith(Q20_NAME_PREFIX))
        .select("p_partkey")
    )
    shipped = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.year("l_shipdate") == Q20_YEAR)
        .join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    per_part_total = shipped.groupBy("l_partkey").agg(
        F.sum("qty").alias("total_qty")
    )
    dominant = (
        shipped.join(per_part_total.withColumnRenamed("l_partkey", "pk"),
                     F.col("l_partkey") == F.col("pk"))
        .filter(F.col("qty") > Q20_SHARE * F.col("total_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == Q20_NATIONKEY)
        .join(dominant, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
    )


def q_report_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers whose line was late (shipped > N days
    after the order date) on a finished multi-supplier order where they
    were the ONLY late supplier — EXISTS(other supplier's line) +
    NOT EXISTS(other supplier's late line), then top-N by count.

    The EXISTS/NOT EXISTS become one left-semi and one left-anti probe of
    the lineitem table, each a shuffled hash join on l_orderkey with the
    supplier-inequality as the residual join predicate. Counting is
    per late line (TPC-H semantics)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    late = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {Q21_LATE_DAYS} DAYS")
        )
        .select("l_orderkey", "l_suppkey", "l_shipdate")
    )
    other = li.select(
        F.col("l_orderkey").alias("o2_orderkey"),
        F.col("l_suppkey").alias("o2_suppkey"),
    )
    other_late = late.select(
        F.col("l_orderkey").alias("x_orderkey"),
        F.col("l_suppkey").alias("x_suppkey"),
    )
    candidates = late.join(
        other,
        (F.col("l_orderkey") == F.col("o2_orderkey"))
        & (F.col("l_suppkey") != F.col("o2_suppkey")),
        "left_semi",
    ).join(
        other_late,
        (F.col("l_orderkey") == F.col("x_orderkey"))
        & (F.col("l_suppkey") != F.col("x_suppkey")),
        "left_anti",
    )
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    )
    return (
        candidates.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(Q21_TOPN)
    )


QUERIES = {
    "q_report_min_cost_supplier": q_report_min_cost_supplier,
    "q_report_product_profit": q_report_product_profit,
    "q_report_important_stock": q_report_important_stock,
    "q_report_late_shipment_priority": q_report_late_shipment_priority,
    "q_report_supplier_part_counts": q_report_supplier_part_counts,
    "q_report_dominant_suppliers": q_report_dominant_suppliers,
    "q_report_waiting_suppliers": q_report_waiting_suppliers,
}

_SIZES_SQL = ", ".join(str(s) for s in Q16_SIZES)

ORACLE = {
    "q_report_min_cost_supplier": f"""
        WITH offers AS (
            SELECT l_partkey, l_suppkey,
                   min(l_extendedprice / l_quantity) AS cost
            FROM lineitem GROUP BY l_partkey, l_suppkey
        ),
        rsupp AS (
            SELECT s_suppkey, s_name, s_acctbal, n_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = '{Q2_REGION}'
        )
        SELECT s_acctbal, s_name, n_name, p_partkey,
               round(cost, 6) AS unit_cost
        FROM offers
        JOIN part ON l_partkey = p_partkey
        JOIN rsupp ON l_suppkey = s_suppkey
        WHERE p_size = {Q2_SIZE} AND p_type = '{Q2_TYPE}'
        QUALIFY cost = min(cost) OVER (PARTITION BY p_partkey)
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT {Q2_TOPN}
    """,
    "q_report_product_profit": f"""
        SELECT n_name, year(o_orderdate) AS o_year,
               round(sum(l_extendedprice * (1 - l_discount)
                         - {Q9_COST_FACTOR} * p_retailprice * l_quantity),
                     4) AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%{Q9_NAME_FRAGMENT}%'
        GROUP BY n_name, o_year
        ORDER BY n_name, o_year DESC
    """,
    "q_report_important_stock": f"""
        WITH per_part AS (
            SELECT l_partkey, sum(l_extendedprice) AS value
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE s_nationkey = {Q11_NATIONKEY}
            GROUP BY l_partkey
        )
        SELECT l_partkey, round(value, 4) AS value
        FROM per_part
        WHERE value > {Q11_FRACTION} * (SELECT sum(value) FROM per_part)
        ORDER BY value DESC, l_partkey
    """,
    "q_report_late_shipment_priority": f"""
        SELECT l_returnflag,
               sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
               sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 0 ELSE 1 END)::BIGINT AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL {Q12_LATE_DAYS} DAY
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    "q_report_supplier_part_counts": f"""
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> '{Q16_EXCL_BRAND}'
          AND p_type <> '{Q16_EXCL_TYPE}'
          AND p_size IN ({_SIZES_SQL})
          AND l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
          )
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    "q_report_dominant_suppliers": f"""
        WITH shipped AS (
            SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
            FROM lineitem
            WHERE year(l_shipdate) = {Q20_YEAR}
              AND l_partkey IN (
                  SELECT p_partkey FROM part
                  WHERE p_name LIKE '{Q20_NAME_PREFIX}%'
              )
            GROUP BY l_partkey, l_suppkey
        ),
        dominant AS (
            SELECT DISTINCT s.l_suppkey
            FROM shipped s
            JOIN (SELECT l_partkey, sum(qty) AS total_qty
                  FROM shipped GROUP BY l_partkey) t
              ON s.l_partkey = t.l_partkey
            WHERE s.qty > {Q20_SHARE} * t.total_qty
        )
        SELECT s_name, round(s_acctbal, 2) AS s_acctbal
        FROM supplier
        WHERE s_nationkey = {Q20_NATIONKEY}
          AND s_suppkey IN (SELECT l_suppkey FROM dominant)
        ORDER BY s_name
    """,
    "q_report_waiting_suppliers": f"""
        WITH late AS (
            SELECT l_orderkey, l_suppkey
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F'
              AND l_shipdate > o_orderdate + INTERVAL {Q21_LATE_DAYS} DAY
        )
        SELECT s_name, count(*) AS numwait
        FROM late l1
        JOIN supplier ON l1.l_suppkey = s_suppkey
        WHERE EXISTS (
                SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey
              )
          AND NOT EXISTS (
                SELECT 1 FROM late l3
                WHERE l3.l_orderkey = l1.l_orderkey
                  AND l3.l_suppkey <> l1.l_suppkey
              )
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT {Q21_TOPN}
    """,
}
