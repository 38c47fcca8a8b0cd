"""Composite TPC-H-shaped reports (SURVEY.md §2.13 realistic workloads).

Each key is a full end-to-end decision-support query — multi-table join +
grouped aggregate + window/having + ordered limit — the shapes the TPC-H
suite standardized (Q3, Q4, Q5, Q10, Q18), adapted to the fixture schema
(FIXTURES.md: no commitdate/receiptdate/partsupp, o_orderpriority instead
of o_shippriority). Unlike the single-operator keys these exercise operator
*composition*: Catalyst's join reordering, semi-join rewrite of EXISTS,
aggregate-then-join, and TopK (sort + limit pushed into a single
TakeOrderedAndProject) all in one plan.

Scale notes (100 TB): every plan here keeps exactly ONE fact-table shuffle
(the first fact join or the first rollup); all dimension sides are
broadcast-hinted. The ordered-limit heads are TakeOrderedAndProject —
per-partition top-N then a driver merge of N×partitions rows, never a
global sort. Q18's having-filter runs on the aggregate output (tiny),
not the fact rows.

FP parity: revenue sums round to 4 decimals (same grain as
q_report_segment_topn, proven stable on this fixture); ordered limits
tie-break on a unique key so LIMIT is deterministic on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zonal_datacube_spark.functions.exact import revenue, round4_half_up
from zonal_datacube_spark.functions.prefix_sweep import prefix_sweep
from zonal_datacube_spark.sources.loader import load_table

Q3_CUTOFF = "1997-03-15"
Q3_TOPN = 10
Q5_YEARS = (1996, 1997)
Q10_QUARTER_START = "1996-01-01"
Q10_QUARTER_END = "1996-04-01"
Q10_TOPN = 20
Q18_QTY_THRESHOLD = 150.0


def q_report_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: unshipped-revenue per order for one market segment.

    customer(broadcast) ⋈ orders ⋈ lineitem, date-banded on both fact
    tables (predicates push to the parquet scans), per-order revenue
    rollup, top-10 by revenue. One shuffle on o_orderkey/l_orderkey."""
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit(Q3_CUTOFF).cast("timestamp_ntz"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit(Q3_CUTOFF).cast("timestamp_ntz"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(revenue()), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(Q3_TOPN)
    )


def q_report_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order counts per priority where at least one line
    item shipped after the order date (the fixture's 'late' predicate —
    no commit/receipt dates). The EXISTS is a left-semi join: lineitem
    never multiplies the orders rows, and the aggregate runs on orders
    only. Spark plans it as shuffled semi-join + partial/final count."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q_report_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue per (region, nation) where the supplier and
    the ordering customer share a nation ("local" supply), over a 2-year
    order window. Six-table join: lineitem (fact, shuffled once) against
    orders (fact) and four broadcast dims — supplier, customer, nation,
    region. The c_nationkey = s_nationkey equality is the join's extra
    non-key predicate; Catalyst folds it into the customer join."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate").between(*Q5_YEARS))
        .select("o_orderkey", "o_custkey")
    )
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    )
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    )
    nat = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
    )
    reg = F.broadcast(
        load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(
            cust,
            (orders.o_custkey == cust.c_custkey)
            & (supp.s_nationkey == cust.c_nationkey),
        )
        .join(nat, supp.s_nationkey == nat.n_nationkey)
        .join(reg, nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(revenue()), 4).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q_report_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns
    (l_returnflag = 'R') for one order quarter. Fact⋈fact on orderkey
    (one shuffle), customer+nation broadcast, rollup keyed by the
    customer attributes, TakeOrderedAndProject head."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit(Q10_QUARTER_START).cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit(Q10_QUARTER_END).cast("timestamp_ntz"))
        )
        .select("o_orderkey", "o_custkey")
    )
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_acctbal", "c_nationkey"
        )
    )
    nat = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nat, cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(revenue()), 4).alias("revenue"),
            F.round(F.max("c_acctbal"), 2).alias("acctbal"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(Q10_TOPN)
    )


def q_report_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total line quantity exceeds a
    threshold, with the ordering customer. Aggregate-THEN-join: the
    having-filter runs on the per-order aggregate (tiny), and only
    qualifying orderkeys join back to orders/customer — the fact table
    is shuffled once for the aggregate and never again."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > Q18_QTY_THRESHOLD)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
    )


Q6_YEAR = 1997
Q6_DISC_LO, Q6_DISC_HI = 0.02, 0.04
Q6_QTY_MAX = 24.0


def q_report_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the what-if revenue delta — a pure filter+global-agg
    over the fact table. The whole query is one map-only pass plus a
    single-row combine; every predicate (year band, discount band, qty
    cap) reaches the parquet scan as a pushed filter."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.year("l_shipdate") == Q6_YEAR)
            & (F.col("l_discount").between(Q6_DISC_LO, Q6_DISC_HI))
            & (F.col("l_quantity") < Q6_QTY_MAX)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


Q14_MONTH_START = "1997-03-01"
Q14_MONTH_END = "1997-04-01"


def q_report_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share for one ship month —
    conditional aggregation over a fact⋈broadcast-dim join, producing a
    ratio of two sums in a single partial+final aggregate (never two
    passes). Rounded at 4 decimals: the ratio of ~1e7-magnitude sums keeps
    partial-sum FP noise two orders below the rounding grain."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit(Q14_MONTH_START).cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit(Q14_MONTH_END).cast("timestamp_ntz"))
        )
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    part = F.broadcast(load_table(spark, sf_dir, "part").select("p_partkey", "p_type"))
    rev = revenue()
    return li.join(part, li.l_partkey == part.p_partkey).agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
            / F.sum(rev),
            4,
        ).alias("promo_pct"),
        F.count("*").alias("n_items"),
    )


_Q19_ARMS = (
    ("Brand#12", 1, 5, 1.0, 11.0),
    ("Brand#23", 1, 10, 10.0, 20.0),
    ("Brand#34", 1, 15, 20.0, 30.0),
)


def q_report_special_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive multi-attribute join predicate (three
    OR'd brand/size/quantity arms) over lineitem⋈part. The equi-key
    (partkey) still drives a broadcast hash join; the OR ladder evaluates
    as a post-join filter on the joined row — the planner must NOT fall
    back to a nested-loop join just because the residual is disjunctive."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = F.broadcast(
        load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    )
    arm = None
    for brand, size_lo, size_hi, qty_lo, qty_hi in _Q19_ARMS:
        clause = (
            (F.col("p_brand") == brand)
            & (F.col("p_size").between(size_lo, size_hi))
            & (F.col("l_quantity").between(qty_lo, qty_hi))
        )
        arm = clause if arm is None else (arm | clause)
    return (
        li.join(part, (li.l_partkey == part.p_partkey) & arm)
        .agg(
            F.round(F.sum(revenue()), 4).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


Q7_NATION_A = 1
Q7_NATION_B = 2


def q_report_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: trade volume between two nations by year, with the
    nation dimension joined TWICE under different roles (supplier's nation
    vs customer's nation) — the self-role-dim pattern. Both nation copies
    broadcast; the symmetric either-direction pair filter applies to the
    joined row. Nations are selected by key, not name, so the query is
    fixture-name-agnostic."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    )
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    )
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = F.broadcast(
        nat.select(
            F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = F.broadcast(
        nat.select(
            F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
        )
    )
    pair = (
        (F.col("s_nationkey") == Q7_NATION_A) & (F.col("c_nationkey") == Q7_NATION_B)
    ) | ((F.col("s_nationkey") == Q7_NATION_B) & (F.col("c_nationkey") == Q7_NATION_A))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(pair)
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(F.sum(revenue()), 4).alias("volume"),
            F.count("*").alias("n_items"),
        )
    )


Q7_YEARS = (1996, 1997)


def q_report_trade_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): the cross-border revenue matrix
    — (supplier nation → customer nation, ship year) with summed
    discounted revenue, cross-nation flows only. Fact table joins two
    broadcast dimension chains (supplier→nation, orders→customer→nation);
    the year band reaches the parquet scan as a pushed filter; one final
    groupBy on the (nation, nation, year) matrix key. The classic
    star-join report at 100 TB: the fact scan never shuffles until the
    matrix rollup, and the rollup key is matrix-sized."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate").isin(*Q7_YEARS)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    supp_n = F.broadcast(
        supp.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust_n = F.broadcast(
        cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp_n, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust_n, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(revenue()), 4).alias("revenue"),
        )
    )


RANK_YEARS = (1996, 1997)
RANK_TOPN = 10


def q_report_rank_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-migration report: each supplier's revenue RANK in 1996 vs
    1997 and the top-10 movers by absolute rank change — the
    competitive-dynamics readout (league-table deltas) that needs two
    ranked windows over one grouped pass, then a self-alignment on the
    entity. Movers need a rank in BOTH years: the year alignment is an
    INNER join, so suppliers active in only one year drop out of the
    migration table (entries/exits are a churn report, not a rank
    delta). Both ranking and the final cut order on integers + the
    unique key, so the limit is engine-stable."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate").isin(*RANK_YEARS)
    )
    per_year = li.groupBy(
        "l_suppkey", F.year("l_shipdate").alias("yr")
    ).agg(
        F.round(F.sum(revenue()), 4).alias("rev")
    )
    # (rev desc, suppkey) is a total order so rank == row_number; the
    # per-year rank rides the range-bucketed prefix sweep — the r06
    # self-audit retired the 2-year-partition window over the
    # supplier-grain rollup (supplier-scaled, 2 reducers at 100 TB)
    from zonal_datacube_spark.functions.prefix_sweep import prefix_sweep

    # one-shot materialization (the q_behavior_rfm per_cust discipline,
    # r13): the a/b year split below references the ranked table twice,
    # and Spark re-plans shared subtrees per reference — unmaterialized,
    # the fact scan + per-year agg ran TWICE (event-log profile: four
    # duplicate ~0.34 s stages). The checkpoint sits on the SUPPLIER-
    # GRAIN rollup BEFORE the sweep (not after): the duplicate fact
    # scans are what cost; the sweep's bounded window work stays visible
    # to the plan audits (tests/test_plans_round6.py asserts the bucket
    # mark) and re-plans cheaply over the checkpointed input.
    per_year = per_year.localCheckpoint()
    ranked = prefix_sweep(
        per_year,
        ["yr"],
        "rev",
        descending=True,
        tiebreak=["l_suppkey"],
        row_number_col="rnk",
        boundaries="quantile",
    ).select("l_suppkey", "yr", F.col("rnk").cast("bigint").alias("rnk"))
    a = ranked.filter(F.col("yr") == RANK_YEARS[0]).select(
        "l_suppkey", F.col("rnk").alias("rank_a")
    )
    b = ranked.filter(F.col("yr") == RANK_YEARS[1]).select(
        "l_suppkey", F.col("rnk").alias("rank_b")
    )
    return (
        a.join(b, "l_suppkey")  # movers need a rank in BOTH years
        .select(
            "l_suppkey",
            "rank_a",
            "rank_b",
            (F.col("rank_a") - F.col("rank_b")).alias("delta"),
        )
        .orderBy(
            F.abs("delta").desc(), F.col("l_suppkey").asc()
        )
        .limit(RANK_TOPN)
    )


REPORT_TOPN = 3


def q_report_segment_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite reporting query — the end-to-end shape a BI layer emits:
    4-table join (facts shuffled, dims broadcast) → revenue rollup →
    dense_rank window → top-3 nations per market segment. One fact
    shuffle for the join, one for the rollup, one output-sized window:
    the plan a 100 TB reporting tier actually wants."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey", "c_mktsegment"
        )
    )
    nat = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nat, cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_mktsegment", "n_name")
        .agg(
            round4_half_up(
                F.sum(revenue())
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("revenue").desc(), F.col("n_name").asc()
    )
    return (
        rev.withColumn("rk", F.dense_rank().over(w))
        .filter(F.col("rk") <= REPORT_TOPN)
        .select(
            "c_mktsegment",
            F.col("rk").cast("int").alias("rk"),
            "n_name",
            "revenue",
            "n_items",
        )
    )


ABC_A, ABC_B = 0.8, 0.95  # cumulative-share class boundaries


def q_report_abc_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts bucketed by cumulative revenue
    share — A carries the first 80%, B the next 15%, C the tail — the
    assortment-management partner of the Pareto report. A part's class
    comes from its PRECEDING cumulative share (so the crossing part
    belongs to the class it completes); revenue rounds before ranking for
    an engine-stable order. The part-grain rollup scales with the
    catalog, so the cumulative share runs through the range-bucketed
    two-level prefix sweep (functions/prefix_sweep.py) — the old global
    Window.orderBy was a one-reducer sort of every part at 100×
    (VERDICT r04 what's-wrong #4); the grand total is a one-row
    broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    parts = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (
        li.join(parts, li.l_partkey == parts.p_partkey)
        .groupBy("p_partkey")
        .agg(
            round4_half_up(
                F.sum(revenue())
            ).alias("rev")
        )
    )
    ranked = (
        prefix_sweep(
            rev,
            [],
            "rev",
            descending=True,
            tiebreak=["p_partkey"],
            sum_cols={"cum_incl": "rev"},
            total_sum_cols={"tot_rev": "rev"},
            boundaries="quantile",
        )
        .select(
            "rev",
            ((F.col("cum_incl") - F.col("rev")) / F.col("tot_rev")).alias(
                "cum_before"
            ),
        )
    )
    cls = (
        F.when(F.col("cum_before") < ABC_A, "A")
        .when(F.col("cum_before") < ABC_B, "B")
        .otherwise("C")
    )
    return ranked.groupBy(cls.alias("abc_class")).agg(
        F.count("*").alias("n_parts"),
        F.round(F.sum("rev"), 2).alias("class_revenue"),
    )


def q_report_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per nation: the (nation, year)
    revenue rollup (orders→customer shuffled hash join, broadcast
    nation names) with the previous year's revenue aligned by one lag
    over the bounded year axis; revenue rounds to 2dp BEFORE the ratio
    so near-tie growth rates are engine-stable."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name"
        )
    )
    rolled = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").alias("yr"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    )
    w = Window.partitionBy("n_name").orderBy("yr")
    return (
        rolled.select(
            "n_name",
            "yr",
            "rev",
            F.lag("rev").over(w).alias("prev_rev"),
        )
        .filter(F.col("prev_rev").isNotNull())
        .select(
            "n_name",
            "yr",
            "rev",
            "prev_rev",
            F.round(
                (F.col("rev") - F.col("prev_rev")) / F.col("prev_rev"), 6
            ).alias("yoy_pct"),
        )
    )


def q_report_order_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase cadence per market segment: the day gaps between a
    customer's consecutive orders (one customer-keyed window pass),
    rolled to median / p90 / mean per segment — the replenishment-cycle
    readout behind "order every N days" lifecycle campaigns. Gaps are
    integer days; percentiles interpolate identically on both engines
    and fold from the (segment, gap)-grain prefix sweep (functions/
    percentiles.py, round-10 exact-percentile rewrite — the gap grain is
    calendar-bounded, the old buffered aggregate was order-count-sized
    per segment)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.select(
            "o_custkey",
            F.datediff(
                "o_orderdate", F.lag("o_orderdate").over(w)
            ).alias("gap_d"),
        )
        .filter(F.col("gap_d").isNotNull())
    )
    from zonal_datacube_spark.functions.percentiles import (
        grain_percentiles,
        pivot_percentiles,
    )

    from pyspark.storagelevel import StorageLevel

    # persisted: the segment-gap table (one customer-keyed window pass)
    # feeds both the count/mean rollup and the percentile grain sweep —
    # unpersisted, Spark re-plans the window subtree at every reference
    seg_gaps = (
        gaps.join(cust, gaps.o_custkey == cust.c_custkey)
        .select("c_mktsegment", "gap_d")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    base = seg_gaps.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_gaps"),
        F.round(F.avg("gap_d"), 6).alias("mean_gap_d"),
    )
    qs = pivot_percentiles(
        grain_percentiles(seg_gaps, ["c_mktsegment"], "gap_d", (0.5, 0.9)),
        ["c_mktsegment"],
        {0.5: "mg", 0.9: "pg"},
    )
    return base.join(qs, "c_mktsegment").select(
        "c_mktsegment",
        "n_gaps",
        F.round("mg", 6).alias("median_gap_d"),
        F.round("pg", 6).alias("p90_gap_d"),
        "mean_gap_d",
    )


def q_report_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: customers grouped by FIRST-order month, revenue
    tracked per months-since-acquisition — the (cohort × age) revenue
    matrix behind every retention/payback chart. One customer-grain first
    aggregate, one shuffled join back on the natural key, one matrix
    rollup; month indices are pure integer arithmetic (y·12+m), so every
    cell key is engine-exact."""
    orders = load_table(spark, sf_dir, "orders")
    ym = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    firsts = orders.groupBy("o_custkey").agg(F.min(ym).alias("cohort_ym"))
    joined = orders.join(firsts, "o_custkey").select(
        "o_custkey",
        "o_totalprice",
        F.col("cohort_ym"),
        (ym - F.col("cohort_ym")).alias("month_idx"),
    )
    return joined.groupBy(
        (F.floor((F.col("cohort_ym") - 1) / 12)).cast("int").alias("cohort_year"),
        ((F.col("cohort_ym") - 1) % 12 + 1).cast("int").alias("cohort_month"),
        F.col("month_idx").cast("int").alias("month_idx"),
    ).agg(
        F.countDistinct("o_custkey").alias("n_active"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


def q_report_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier concentration per brand via the Herfindahl–Hirschman
    index (Σ market-share² × 10000 — the antitrust threshold scale):
    supplier-grain revenue rolls up on the 1e-4 decimal grid, brand
    totals fold from the same rollup, one final aggregate. Two shuffles
    total; shares are ratios of identically-rounded sums."""
    li = load_table(spark, sf_dir, "lineitem")
    parts = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (
        li.join(parts, li.l_partkey == parts.p_partkey)
        .groupBy("p_brand", "l_suppkey")
        .agg(
            round4_half_up(
                F.sum(revenue())
            ).alias("rev")
        )
    )
    # brand totals via a partial-agg groupBy broadcast back — the earlier
    # full-partition window forced each brand's supplier rollup through
    # one window partition for a 25-row aggregate (r06 self-audit)
    tot = rev.groupBy("p_brand").agg(F.sum("rev").alias("_brand_rev"))
    shared = rev.join(F.broadcast(tot), "p_brand").select(
        "p_brand", (F.col("rev") / F.col("_brand_rev")).alias("share")
    )
    return shared.groupBy("p_brand").agg(
        F.count("*").alias("n_suppliers"),
        F.round(F.sum(F.col("share") * F.col("share")) * 10000, 4).alias("hhi"),
        F.round(F.max("share"), 6).alias("top_share"),
    )


QUERIES = {
    "q_report_trade_matrix": q_report_trade_matrix,
    "q_report_rank_migration": q_report_rank_migration,
    "q_report_shipping_priority": q_report_shipping_priority,
    "q_report_nation_volume": q_report_nation_volume,
    "q_report_revenue_change": q_report_revenue_change,
    "q_report_promo_revenue": q_report_promo_revenue,
    "q_report_special_revenue": q_report_special_revenue,
    "q_report_order_priority": q_report_order_priority,
    "q_report_local_supplier_volume": q_report_local_supplier_volume,
    "q_report_returned_items": q_report_returned_items,
    "q_report_big_orders": q_report_big_orders,
    "q_report_segment_topn": q_report_segment_topn,
    "q_report_abc_class": q_report_abc_class,
    "q_report_cohort_ltv_curve": q_report_cohort_ltv_curve,
    "q_report_supplier_hhi": q_report_supplier_hhi,
    "q_report_yoy_growth": q_report_yoy_growth,
    "q_report_order_gap_stats": q_report_order_gap_stats,
}

_Q19_ARMS_SQL = " OR ".join(
    f"(p_brand = '{b}' AND p_size BETWEEN {slo} AND {shi}"
    f" AND l_quantity BETWEEN {qlo} AND {qhi})"
    for b, slo, shi, qlo, qhi in _Q19_ARMS
)

ORACLE = {
    "q_report_rank_migration": f"""
        WITH per_year AS (
            SELECT l_suppkey, year(l_shipdate) AS yr,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS rev
            FROM lineitem
            WHERE year(l_shipdate) IN {RANK_YEARS}
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT l_suppkey, yr,
                   rank() OVER (PARTITION BY yr
                                ORDER BY rev DESC, l_suppkey) AS rnk
            FROM per_year
        )
        SELECT a.l_suppkey,
               a.rnk AS rank_a,
               b.rnk AS rank_b,
               (a.rnk - b.rnk)::BIGINT AS delta
        FROM ranked a JOIN ranked b USING (l_suppkey)
        WHERE a.yr = {RANK_YEARS[0]} AND b.yr = {RANK_YEARS[1]}
        ORDER BY abs(a.rnk - b.rnk) DESC, a.l_suppkey
        LIMIT {RANK_TOPN}
    """,
    "q_report_trade_matrix": f"""
        SELECT sn.n_name AS supp_nation,
               cn.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               count(*) AS n_items,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        WHERE year(l_shipdate) IN {Q7_YEARS}
          AND sn.n_name != cn.n_name
        GROUP BY 1, 2, 3
    """,
    "q_report_nation_volume": f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS volume,
               count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (s_nationkey = {Q7_NATION_A} AND c_nationkey = {Q7_NATION_B})
           OR (s_nationkey = {Q7_NATION_B} AND c_nationkey = {Q7_NATION_A})
        GROUP BY 1, 2, 3
    """,
    "q_report_revenue_change": f"""
        SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
               count(*) AS n_items
        FROM lineitem
        WHERE year(l_shipdate) = {Q6_YEAR}
          AND l_discount BETWEEN {Q6_DISC_LO} AND {Q6_DISC_HI}
          AND l_quantity < {Q6_QTY_MAX}
    """,
    "q_report_promo_revenue": f"""
        SELECT round(100.0
                     * sum(CASE WHEN p_type = 'PROMO'
                                THEN l_extendedprice * (1 - l_discount)
                                ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '{Q14_MONTH_START} 00:00:00'
          AND l_shipdate < TIMESTAMP '{Q14_MONTH_END} 00:00:00'
    """,
    "q_report_special_revenue": f"""
        SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE {_Q19_ARMS_SQL}
    """,
    "q_report_shipping_priority": f"""
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '{Q3_CUTOFF} 00:00:00'
          AND l_shipdate > TIMESTAMP '{Q3_CUTOFF} 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT {Q3_TOPN}
    """,
    "q_report_order_priority": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
        )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "q_report_local_supplier_volume": f"""
        SELECT r_name, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey AND s_nationkey = c_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE year(o_orderdate) BETWEEN {Q5_YEARS[0]} AND {Q5_YEARS[1]}
        GROUP BY r_name, n_name
    """,
    "q_report_returned_items": f"""
        SELECT c_custkey, c_name, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
               round(max(c_acctbal), 2) AS acctbal
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '{Q10_QUARTER_START} 00:00:00'
          AND o_orderdate < TIMESTAMP '{Q10_QUARTER_END} 00:00:00'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT {Q10_TOPN}
    """,
    "q_report_big_orders": f"""
        WITH big AS (
            SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
            FROM lineitem
            GROUP BY l_orderkey
            HAVING round(sum(l_quantity), 2) > {Q18_QTY_THRESHOLD}
        )
        SELECT c_custkey, c_name, o_orderkey, o_orderdate,
               round(o_totalprice, 2) AS o_totalprice, total_qty
        FROM big
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY total_qty DESC, o_orderkey ASC
    """,
    "q_report_abc_class": f"""
        WITH rev AS (
            SELECT p.p_partkey,
                   floor(sum(l.l_extendedprice * (1 - l.l_discount)) * 10000 + 0.5) / 10000 AS rev
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY 1
        ),
        ranked AS (
            SELECT rev,
                   (sum(rev) OVER (ORDER BY rev DESC, p_partkey ASC
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) - rev)
                       / sum(rev) OVER () AS cum_before
            FROM rev
        )
        SELECT CASE WHEN cum_before < {ABC_A} THEN 'A'
                    WHEN cum_before < {ABC_B} THEN 'B'
                    ELSE 'C' END AS abc_class,
               count(*) AS n_parts,
               round(sum(rev), 2) AS class_revenue
        FROM ranked
        GROUP BY abc_class
    """,
    "q_report_segment_topn": f"""
        WITH rev AS (
            SELECT c.c_mktsegment, n.n_name,
                   floor(sum(l.l_extendedprice * (1 - l.l_discount)) * 10000 + 0.5) / 10000
                       AS revenue,
                   count(*)::BIGINT AS n_items
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT *, dense_rank() OVER (
                       PARTITION BY c_mktsegment
                       ORDER BY revenue DESC, n_name ASC) AS rk
            FROM rev
        )
        SELECT c_mktsegment, rk::INT AS rk, n_name, revenue, n_items
        FROM ranked WHERE rk <= {REPORT_TOPN}
    """,
    "q_report_cohort_ltv_curve": """
        WITH firsts AS (
            SELECT o_custkey,
                   min(year(o_orderdate) * 12 + month(o_orderdate))
                       AS cohort_ym
            FROM orders GROUP BY o_custkey
        ),
        joined AS (
            SELECT o.o_custkey, o.o_totalprice, f.cohort_ym,
                   (year(o.o_orderdate) * 12 + month(o.o_orderdate))
                       - f.cohort_ym AS month_idx
            FROM orders o JOIN firsts f USING (o_custkey)
        )
        SELECT ((cohort_ym - 1) // 12)::INT AS cohort_year,
               ((cohort_ym - 1) % 12 + 1)::INT AS cohort_month,
               month_idx::INT AS month_idx,
               count(DISTINCT o_custkey) AS n_active,
               round(sum(o_totalprice), 2) AS revenue
        FROM joined GROUP BY 1, 2, 3
    """,
    "q_report_supplier_hhi": """
        WITH rev AS (
            SELECT p.p_brand, l.l_suppkey,
                   floor(sum(l.l_extendedprice * (1 - l.l_discount))
                         * 10000 + 0.5) / 10000 AS rev
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY 1, 2
        ),
        shared AS (
            SELECT p_brand,
                   rev / sum(rev) OVER (PARTITION BY p_brand) AS share
            FROM rev
        )
        SELECT p_brand,
               count(*) AS n_suppliers,
               round(sum(share * share) * 10000, 4) AS hhi,
               round(max(share), 6) AS top_share
        FROM shared GROUP BY p_brand
    """,
    "q_report_yoy_growth": """
        WITH rolled AS (
            SELECT n.n_name, year(o.o_orderdate) AS yr,
                   round(sum(o.o_totalprice), 2) AS rev
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY 1, 2
        ),
        lagged AS (
            SELECT n_name, yr, rev,
                   lag(rev) OVER (PARTITION BY n_name ORDER BY yr)
                       AS prev_rev
            FROM rolled
        )
        SELECT n_name, yr, rev, prev_rev,
               round((rev - prev_rev) / prev_rev, 6) AS yoy_pct
        FROM lagged WHERE prev_rev IS NOT NULL
    """,
    "q_report_order_gap_stats": """
        WITH gaps AS (
            SELECT o_custkey,
                   date_diff('day',
                             lag(o_orderdate) OVER (PARTITION BY o_custkey
                                                    ORDER BY o_orderdate,
                                                             o_orderkey),
                             o_orderdate) AS gap_d
            FROM orders
        )
        SELECT c.c_mktsegment,
               count(*) AS n_gaps,
               round(quantile_cont(gap_d, 0.5), 6) AS median_gap_d,
               round(quantile_cont(gap_d, 0.9), 6) AS p90_gap_d,
               round(avg(gap_d), 6) AS mean_gap_d
        FROM gaps g JOIN customer c ON g.o_custkey = c.c_custkey
        WHERE gap_d IS NOT NULL
        GROUP BY c.c_mktsegment
    """,
}
