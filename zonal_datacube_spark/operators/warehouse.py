"""Warehouse-maintenance operators (SURVEY.md §2.13): SCD type-2 interval
builds and declarative data-quality constraint checks — the ops that run
around an analytics engine's tables rather than inside a single report.

Scale notes (100 TB):
- `q_scd2_build` is one window pass partitioned by the entity key — the
  same single shuffle a dimension-history rebuild needs at any scale; no
  self-join (the naive SCD2 formulation joins each row to its successor).
- `q_dq_checks` fuses each table's constraint battery into ONE scan +
  aggregate per table (conditional counts), and the referential check is
  a left join + null count, not a per-row lookup. Adding a constraint to
  an existing table costs zero extra scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zonal_datacube_spark.sources.derived import layout
from zonal_datacube_spark.sources.loader import load_table

EVENT_TYPES = ("signup", "click", "error", "view", "purchase")


def daily_events_mv_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per corpus) the daily-grain continuous aggregate
    of events — the materialized view every warehouse keeps under its
    time-series tables. Unrounded partial sums/counts are stored so any
    coarser rollup can be answered from the MV exactly."""
    return layout(
        sf_dir, ("events",), "mv_daily_events",
        lambda p: load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sv"))
        .write.mode("overwrite")
        .parquet(p),
    )


BRIDGE_YEAR_A, BRIDGE_YEAR_B = 1996, 1997


def q_report_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period revenue BRIDGE (waterfall): decompose the
    1996→1997 revenue delta per market segment into new / churned /
    expanded / contracted customer components — the report a finance
    review runs on every close, and an identity check by construction
    (components sum exactly to the delta; the test pins it). One
    customer-grain full outer self-comparison via conditional aggregation
    (never two scans: both years come out of one grouped pass), then a
    broadcast dim join and the segment rollup."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        orders.filter(F.year("o_orderdate").isin(BRIDGE_YEAR_A, BRIDGE_YEAR_B))
        .groupBy("o_custkey")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.year("o_orderdate") == BRIDGE_YEAR_A, F.col("o_totalprice")
                    ).otherwise(0.0)
                ),
                2,
            ).alias("rev_a"),
            F.round(
                F.sum(
                    F.when(
                        F.year("o_orderdate") == BRIDGE_YEAR_B, F.col("o_totalprice")
                    ).otherwise(0.0)
                ),
                2,
            ).alias("rev_b"),
        )
    )
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    classified = per_cust.join(
        cust, per_cust.o_custkey == cust.c_custkey
    ).select(
        "c_mktsegment",
        "rev_a",
        "rev_b",
        F.when((F.col("rev_a") == 0) & (F.col("rev_b") > 0), "new")
        .when((F.col("rev_a") > 0) & (F.col("rev_b") == 0), "churned")
        .when(F.col("rev_b") >= F.col("rev_a"), "expanded")
        .otherwise("contracted")
        .alias("component"),
    )
    return classified.groupBy("c_mktsegment", "component").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum(F.col("rev_b") - F.col("rev_a")), 2).alias("delta_rev"),
    )


def q_mv_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view rollup answering: the monthly report is computed
    from the DAILY continuous aggregate, never rescanning the base table
    — sums re-sum and counts re-sum, the average is derived as sum/count
    (avg-of-avgs would be wrong). The oracle computes the same report
    directly over base events, proving the MV path exact. At 100 TB the
    MV is ~3 orders of magnitude smaller than the fact table, which is
    the entire point of a continuous aggregate."""
    mv = spark.read.parquet(daily_events_mv_path(spark, sf_dir))
    return mv.groupBy(
        F.date_format(F.date_trunc("month", "day"), "yyyy-MM").alias("month"),
        "event_type",
    ).agg(
        F.sum("n").alias("n_events"),
        F.round(F.sum("sv"), 2).alias("sum_value"),
        F.round(F.sum("sv") / F.sum("n"), 6).alias("avg_value"),
    )


def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build: treat each order as a state change for its
    customer and derive validity intervals — valid_from = the change's
    timestamp, valid_to = the next change's (NULL on the open/current
    row). One window shuffle on the entity key; ties broken on the unique
    order key so the interval chain is total-ordered and deterministic."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
        F.when(F.lead("o_orderdate").over(w).isNull(), 1)
        .otherwise(0)
        .alias("is_current"),
        F.round("o_totalprice", 2).alias("state_price"),
    )


def q_scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME join against the SCD2 dimension: each lineitem
    shipment is joined to the state its customer was in AT SHIP TIME
    (valid_from ≤ ship < valid_to, open current row) — the temporal-
    correctness join every feature store needs to avoid label leakage
    (training rows must see the dimension as it was, never the future).

    LEFT join: a shipment matches AT MOST one interval (intervals
    partition [first_order, ∞) per customer; zero-length intervals from
    same-day changes match nothing), and this synthetic fixture ships
    some lineitems before their customer's first state — those must
    surface as NULL state (counted in n_no_state), never silently drop
    and never leak a later state backward. The join is equi on custkey
    with the interval predicate as a residual — hash-join scaling with
    per-customer interval scans; at extreme per-key interval counts the
    q_join_asof union + carry-forward single-pass rewrite applies
    unchanged."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    dim = orders.select(
        F.col("o_custkey").alias("d_custkey"),
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
        F.round("o_totalprice", 2).alias("state_price"),
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    fact = li.join(
        orders.select("o_orderkey", "o_custkey"),
        li.l_orderkey == F.col("o_orderkey"),
    )
    # open intervals close at a sentinel far-future endpoint: the residual
    # becomes two pure inequalities (no OR), which DuckDB's IEJoin and
    # Spark's range-predicate codegen both handle without degenerating to
    # a nested-loop scan per probe row
    pit = fact.join(
        dim.withColumn(
            "valid_to_c",
            F.coalesce("valid_to", F.lit("9999-12-31").cast("timestamp_ntz")),
        ),
        (fact.o_custkey == F.col("d_custkey"))
        & (F.col("l_shipdate") >= F.col("valid_from"))
        & (F.col("l_shipdate") < F.col("valid_to_c")),
        "left",
    )
    return pit.groupBy(F.year("l_shipdate").alias("ship_year")).agg(
        F.count("*").alias("n_shipments"),
        F.round(F.sum("state_price"), 2).alias("sum_state_price"),
        F.sum(
            (F.col("valid_to").isNull() & F.col("d_custkey").isNotNull()).cast(
                "bigint"
            )
        ).alias("n_on_current"),
        F.sum(F.col("d_custkey").isNull().cast("bigint")).alias("n_no_state"),
    )


def q_dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law screen on order totals — the forensic DQ check for
    fabricated or truncated monetary data: the leading-digit distribution
    of naturally-occurring multi-decade amounts should track
    log10(1 + 1/d); a flat or spiked profile flags synthetic injection
    or clipped exports. One map-side digit extraction + a 9-row
    aggregate; the deviation column localizes which digit drifts."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") >= 1
    )
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = orders.select(digit.alias("d")).groupBy("d").agg(
        F.count("*").alias("n")
    )
    total = counts.agg(F.sum("n").alias("tot"))
    expected = F.log10(1 + 1 / F.col("d"))
    return counts.crossJoin(F.broadcast(total)).select(
        "d",
        "n",
        F.round(F.col("n") / F.col("tot"), 6).alias("share"),
        F.round(expected, 6).alias("benford_expected"),
        F.round(F.col("n") / F.col("tot") - expected, 6).alias("deviation"),
    )


def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality battery: one row per constraint with its
    violation count and pass flag. Constraints are fused per table —
    orders runs pk-uniqueness and customer-FK integrity in one join+agg,
    lineitem runs all range checks in one conditional aggregate, events
    runs the enum/null checks in another. A clean fixture yields all
    zeros; the *shape* (scan count, join strategy) is what must survive
    scale-up."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders_checked = (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "left")
        .agg(
            (F.count("*") - F.countDistinct("o_orderkey")).alias("pk_dup"),
            F.count(F.when(F.col("c_custkey").isNull(), 1)).alias("fk_orphan"),
        )
        .select(
            F.explode(
                F.create_map(
                    F.lit("orders_pk_unique"), F.col("pk_dup"),
                    F.lit("orders_fk_customer"), F.col("fk_orphan"),
                )
            ).alias("check_name", "n_violations")
        )
    )
    li = load_table(spark, sf_dir, "lineitem")
    li_checked = li.agg(
        F.count(
            F.when(~F.col("l_discount").between(0.0, 1.0), 1)
        ).alias("bad_discount"),
        F.count(F.when(~F.col("l_tax").between(0.0, 1.0), 1)).alias("bad_tax"),
        F.count(F.when(F.col("l_quantity") <= 0, 1)).alias("bad_qty"),
    ).select(
        F.explode(
            F.create_map(
                F.lit("lineitem_discount_range"), F.col("bad_discount"),
                F.lit("lineitem_tax_range"), F.col("bad_tax"),
                F.lit("lineitem_qty_positive"), F.col("bad_qty"),
            )
        ).alias("check_name", "n_violations")
    )
    ev = load_table(spark, sf_dir, "events")
    ev_checked = ev.agg(
        F.count(F.when(~F.col("event_type").isin(*EVENT_TYPES), 1)).alias("bad_enum"),
        F.count(F.when(F.col("props").isNull(), 1)).alias("null_props"),
    ).select(
        F.explode(
            F.create_map(
                F.lit("events_type_enum"), F.col("bad_enum"),
                F.lit("events_props_not_null"), F.col("null_props"),
            )
        ).alias("check_name", "n_violations")
    )
    return (
        orders_checked.unionByName(li_checked)
        .unionByName(ev_checked)
        .withColumn("passed", F.when(F.col("n_violations") == 0, 1).otherwise(0))
    )


CDC_CUT_A = "2000-01-01"
CDC_CUT_B = "2001-01-01"


def q_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-feed GENERATION (the inverse of q_merge_upsert's
    apply): diff two snapshots of the "active customer" dimension —
    customers with any order in the trailing 12 months of each cutoff,
    carrying (order count, spend) — into INSERT / UPDATE / DELETE ops
    with their spend deltas. One full-outer join on the key; op
    classification is pure projection; unchanged rows drop out. This is
    how a warehouse without a CDC log bootstraps one from periodic
    snapshots (I=appeared, D=went inactive, U=state moved)."""
    orders = load_table(spark, sf_dir, "orders")

    def snapshot(cut: str) -> DataFrame:
        return (
            orders.filter(
                (F.col("o_orderdate") < F.lit(cut).cast("timestamp_ntz"))
                & (
                    F.col("o_orderdate")
                    >= F.lit(cut).cast("timestamp_ntz")
                    - F.expr("INTERVAL 12 MONTHS")
                )
            )
            .groupBy("o_custkey")
            .agg(
                F.count("*").alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("spend"),
            )
        )

    a = snapshot(CDC_CUT_A).select(
        F.col("o_custkey").alias("k"),
        F.col("n_orders").alias("n_a"),
        F.col("spend").alias("s_a"),
    )
    b = snapshot(CDC_CUT_B).select(
        F.col("o_custkey").alias("k"),
        F.col("n_orders").alias("n_b"),
        F.col("spend").alias("s_b"),
    )
    diff = (
        a.join(b, "k", "full_outer")
        .select(
            "k",
            F.when(F.col("n_a").isNull(), F.lit("I"))
            .when(F.col("n_b").isNull(), F.lit("D"))
            .when(
                (F.col("n_a") != F.col("n_b"))
                | (F.col("s_a") != F.col("s_b")),
                F.lit("U"),
            )
            .alias("op"),
            (F.coalesce("s_b", F.lit(0.0)) - F.coalesce("s_a", F.lit(0.0))).alias(
                "delta"
            ),
        )
        .filter(F.col("op").isNotNull())  # unchanged rows are not changes
    )
    return diff.groupBy("op").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("delta"), 2).alias("spend_delta"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
    )


QUERIES = {
    "q_cdc_diff": q_cdc_diff,
    "q_scd2_build": q_scd2_build,
    "q_scd2_pit_join": q_scd2_pit_join,
    "q_dq_checks": q_dq_checks,
    "q_dq_benford": q_dq_benford,
    "q_mv_rewrite": q_mv_rewrite,
    "q_report_revenue_bridge": q_report_revenue_bridge,
}

_EVENT_TYPES_SQL = ", ".join(f"'{t}'" for t in EVENT_TYPES)

ORACLE = {
    "q_cdc_diff": f"""
        WITH a AS (
            SELECT o_custkey AS k, count(*) AS n_a,
                   round(sum(o_totalprice), 2) AS s_a
            FROM orders
            WHERE o_orderdate < TIMESTAMP '{CDC_CUT_A}'
              AND o_orderdate >= TIMESTAMP '{CDC_CUT_A}' - INTERVAL 12 MONTH
            GROUP BY o_custkey
        ),
        b AS (
            SELECT o_custkey AS k, count(*) AS n_b,
                   round(sum(o_totalprice), 2) AS s_b
            FROM orders
            WHERE o_orderdate < TIMESTAMP '{CDC_CUT_B}'
              AND o_orderdate >= TIMESTAMP '{CDC_CUT_B}' - INTERVAL 12 MONTH
            GROUP BY o_custkey
        ),
        diff AS (
            SELECT coalesce(a.k, b.k) AS k,
                   CASE WHEN a.k IS NULL THEN 'I'
                        WHEN b.k IS NULL THEN 'D'
                        WHEN a.n_a != b.n_b OR a.s_a != b.s_b THEN 'U'
                   END AS op,
                   coalesce(s_b, 0.0) - coalesce(s_a, 0.0) AS delta
            FROM a FULL OUTER JOIN b ON a.k = b.k
        )
        SELECT op,
               count(*) AS n_customers,
               round(sum(delta), 2) AS spend_delta,
               min(k) AS min_key,
               max(k) AS max_key
        FROM diff WHERE op IS NOT NULL
        GROUP BY op
    """,
    "q_report_revenue_bridge": f"""
        WITH per_cust AS (
            SELECT o_custkey,
                   round(sum(CASE WHEN extract(year FROM o_orderdate)
                                       = {BRIDGE_YEAR_A}
                                  THEN o_totalprice ELSE 0 END), 2) AS rev_a,
                   round(sum(CASE WHEN extract(year FROM o_orderdate)
                                       = {BRIDGE_YEAR_B}
                                  THEN o_totalprice ELSE 0 END), 2) AS rev_b
            FROM orders
            WHERE extract(year FROM o_orderdate)
                      IN ({BRIDGE_YEAR_A}, {BRIDGE_YEAR_B})
            GROUP BY o_custkey
        ),
        classified AS (
            SELECT c.c_mktsegment, p.rev_a, p.rev_b,
                   CASE WHEN p.rev_a = 0 AND p.rev_b > 0 THEN 'new'
                        WHEN p.rev_a > 0 AND p.rev_b = 0 THEN 'churned'
                        WHEN p.rev_b >= p.rev_a THEN 'expanded'
                        ELSE 'contracted' END AS component
            FROM per_cust p JOIN customer c ON p.o_custkey = c.c_custkey
        )
        SELECT c_mktsegment, component,
               count(*) AS n_customers,
               round(sum(rev_b - rev_a), 2) AS delta_rev
        FROM classified
        GROUP BY c_mktsegment, component
    """,
    "q_dq_benford": """
        WITH counts AS (
            SELECT substr(floor(o_totalprice)::BIGINT::VARCHAR, 1, 1)::INT AS d,
                   count(*) AS n
            FROM orders WHERE o_totalprice >= 1
            GROUP BY 1
        ),
        total AS (SELECT sum(n) AS tot FROM counts)
        SELECT d, n,
               round(n * 1.0 / tot, 6) AS share,
               round(log10(1 + 1.0 / d), 6) AS benford_expected,
               round(n * 1.0 / tot - log10(1 + 1.0 / d), 6) AS deviation
        FROM counts CROSS JOIN total
    """,
    "q_scd2_pit_join": """
        WITH dim AS (
            SELECT o_custkey AS d_custkey,
                   o_orderdate AS valid_from,
                   lead(o_orderdate) OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderdate, o_orderkey)
                       AS valid_to,
                   round(o_totalprice, 2) AS state_price
            FROM orders
        ),
        fact AS (
            SELECT l.l_shipdate, o.o_custkey
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        )
        SELECT extract(year FROM f.l_shipdate)::INT AS ship_year,
               count(*) AS n_shipments,
               round(sum(d.state_price), 2) AS sum_state_price,
               sum(CASE WHEN d.valid_to IS NULL AND d.d_custkey IS NOT NULL
                        THEN 1 ELSE 0 END)::BIGINT AS n_on_current,
               sum(CASE WHEN d.d_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT
                   AS n_no_state
        FROM fact f LEFT JOIN dim d
          ON f.o_custkey = d.d_custkey
         AND f.l_shipdate >= d.valid_from
         AND f.l_shipdate < coalesce(d.valid_to, TIMESTAMP '9999-12-31')
        GROUP BY ship_year
    """,
    "q_mv_rewrite": """
        SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month,
               event_type,
               count(*) AS n_events,
               round(sum(value), 2) AS sum_value,
               round(sum(value) / count(*), 6) AS avg_value
        FROM events
        GROUP BY month, event_type
    """,
    "q_scd2_build": """
        SELECT o_custkey, o_orderkey,
               o_orderdate AS valid_from,
               lead(o_orderdate) OVER w AS valid_to,
               CASE WHEN lead(o_orderdate) OVER w IS NULL THEN 1 ELSE 0
               END AS is_current,
               round(o_totalprice, 2) AS state_price
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "q_dq_checks": f"""
        WITH checks AS (
            SELECT 'orders_pk_unique' AS check_name,
                   (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
                   AS n_violations
            UNION ALL
            SELECT 'orders_fk_customer',
                   (SELECT count(*) FROM orders
                    LEFT JOIN customer ON o_custkey = c_custkey
                    WHERE c_custkey IS NULL)
            UNION ALL
            SELECT 'lineitem_discount_range',
                   (SELECT count(*) FROM lineitem
                    WHERE l_discount NOT BETWEEN 0.0 AND 1.0)
            UNION ALL
            SELECT 'lineitem_tax_range',
                   (SELECT count(*) FROM lineitem
                    WHERE l_tax NOT BETWEEN 0.0 AND 1.0)
            UNION ALL
            SELECT 'lineitem_qty_positive',
                   (SELECT count(*) FROM lineitem WHERE l_quantity <= 0)
            UNION ALL
            SELECT 'events_type_enum',
                   (SELECT count(*) FROM events
                    WHERE event_type NOT IN ({_EVENT_TYPES_SQL}))
            UNION ALL
            SELECT 'events_props_not_null',
                   (SELECT count(*) FROM events WHERE props IS NULL)
        )
        SELECT check_name, n_violations,
               CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS passed
        FROM checks
    """,
}
