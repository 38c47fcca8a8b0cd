"""Window functions (SURVEY.md §2.5).

All window orderings carry an explicit unique tie-break column (orderkey /
event_id) so ranking, ntile and frame contents are deterministic on both
engines — window results over tied sort keys are otherwise
implementation-defined (SURVEY.md §7 watch-list).

Scale note: every window over fact-scaled rows partitions by a
high-cardinality key (custkey, user_id) → one shuffle, no global sort.
The few unpartitioned windows run over bounded intermediates (a day
spine, a post-aggregation rollup) and are listed with their bound in
tools/window_audit.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zonal_datacube_spark.functions.exact import cents, revenue, round4_half_up
from zonal_datacube_spark.functions.prefix_sweep import prefix_sweep
from zonal_datacube_spark.sources.loader import load_table

# Whole seconds since epoch for a TIMESTAMP_NTZ, TZ-independent; DuckDB
# twin: date_diff('second', TIMESTAMP '1970-01-01', ts). Both floor.
_EPOCH_S = "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"


def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function battery per customer over order value."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed top-k per group (REPOSE pattern, PAPERS.md:5): rank
    within partition then filter — no global sort, map-side prunable."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("price"), "rn")
    )


def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event deltas via lag/lead."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("delta_value"),
        F.lead("event_type").over(w).alias("next_type"),
    )


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum + cumulative count per user (rows frame)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("running_sum"),
        F.count("*").over(w).alias("running_n"),
    )


def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour sum per user: RANGE frame over an integer epoch-second
    key — Spark range frames need a numeric order key, and aligning both
    engines on floor(epoch seconds) removes sub-second frame-boundary
    ambiguity (SURVEY.md §5.4)."""
    ev = load_table(spark, sf_dir, "events").withColumn("ts_s", F.expr(_EPOCH_S))
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_s").asc())
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.col("ts_s").alias("epoch_s"),
        F.round(F.sum("value").over(w), 2).alias("hour_sum"),
        F.count("*").over(w).alias("hour_n"),
    )


def q_window_cume_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution + navigation window functions: cume_dist, nth_value,
    first/last over the full-partition frame."""
    orders = load_table(spark, sf_dir, "orders")
    order_w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    full_w = order_w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.cume_dist().over(order_w), 6).alias("cume"),
        F.nth_value("o_orderkey", 2).over(full_w).alias("second_best"),
        F.first("o_orderkey").over(full_w).alias("best"),
        F.last("o_orderkey").over(full_w).alias("worst"),
    )


def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile + percent_rank: quartile bucketing and relative rank per
    group — the windowed scaffolding of the relational trimmed mean.
    The (price, orderkey) order is total, so rank == row_number and
    percent_rank = (rn−1)/(n−1): both ride the range-bucketed prefix
    sweep + arithmetic ntile (the r06 self-audit retired the
    3-status-partition window over all orders)."""
    from zonal_datacube_spark.functions.prefix_sweep import (
        ntile_from_row_number,
        prefix_sweep,
    )

    orders = load_table(spark, sf_dir, "orders")
    ranked = prefix_sweep(
        orders.select("o_orderstatus", "o_orderkey", "o_totalprice"),
        ["o_orderstatus"],
        "o_totalprice",
        tiebreak=["o_orderkey"],
        row_number_col="rn",
        total_count_col="n",
        boundaries="quantile",
    )
    return ranked.select(
        "o_orderstatus",
        "o_orderkey",
        ntile_from_row_number(F.col("rn"), F.col("n"), 4).alias("quartile"),
        F.round(
            F.when(
                F.col("n") > 1,
                (F.col("rn") - 1).cast("double") / (F.col("n") - 1),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("pct_rank"),
    )


def q_window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative DISTINCT users per day — COUNT(DISTINCT) OVER, which
    neither engine supports directly, rewritten exactly: a user counts on
    the day of their FIRST event, and the cumulative distinct total is the
    running sum of first-appearance counts. The heavy work (per-user min)
    shuffles on user_id; the final running sum runs over the tiny day
    spine (post-aggregation — a ~10³-row frame even for years of days, so
    the single-partition window is driver-safe at any corpus scale)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts")
    )
    daily = ev.groupBy("day").agg(F.countDistinct("user_id").alias("n_active"))
    firsts = (
        ev.groupBy("user_id")
        .agg(F.min("day").alias("first_day"))
        .groupBy("first_day")
        .agg(F.count("*").alias("n_new"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.join(firsts, daily.day == firsts.first_day, "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_active",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
        .withColumn("cum_distinct_users", F.sum("n_new").over(w))
    )


def q_window_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per-user consecutive-active-day streaks via the
    classic (day − row_number) island key — consecutive days share one
    anchor, any gap starts a new island; no self-join, no iteration. Two
    user-keyed shuffles (distinct days, ranking window) + one island
    aggregate: the retention/streak analysis shape at any scale."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.select(
        "user_id",
        "day",
        F.date_sub(
            F.col("day").cast("date"), F.row_number().over(w)
        ).alias("anchor"),
    )
    streaks = islands.groupBy("user_id", "anchor").agg(
        F.count("*").alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("len").alias("n_active_days"),
        F.max("len").alias("longest_streak"),
        F.count("*").alias("n_streaks"),
    )


PARETO_SHARE = 0.8


def q_window_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto (80/20) concentration analysis: per brand, how many parts
    carry 80% of revenue — rank by revenue desc, running share via one
    cumulative pass, count the minimal prefix whose PRECEDING cumulative
    is still under the threshold (so the crossing part is included). The
    classic assortment/concentration report. The part-grain rollup
    scales with the catalog, so the running sum goes through the
    range-bucketed two-level prefix sweep (functions/prefix_sweep.py)
    at (brand × bucket) parallelism instead of one sort per brand
    (VERDICT r04 what's-wrong #4); brand totals are a broadcast-sized
    rollup joined back."""
    li = load_table(spark, sf_dir, "lineitem")
    parts = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # per-part revenue rounds to 4dp BEFORE ranking: the sort key and the
    # running sums are then engine-stable (raw FP sums can differ in the
    # last ulp between reducer orders, which would reorder near-ties)
    rev = (
        li.join(parts, li.l_partkey == parts.p_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(
            round4_half_up(
                F.sum(revenue())
            ).alias("rev")
        )
    )
    ranked = (
        prefix_sweep(
            rev,
            ["p_brand"],
            "rev",
            descending=True,
            tiebreak=["p_partkey"],
            sum_cols={"cum_incl": "rev"},
            total_sum_cols={"tot_rev": "rev"},
            boundaries="quantile",
        )
        .select(
            "p_brand",
            "rev",
            ((F.col("cum_incl") - F.col("rev")) / F.col("tot_rev")).alias(
                "cum_before"
            ),
            (F.col("rev") / F.col("tot_rev")).alias("share"),
        )
    )
    return ranked.groupBy("p_brand").agg(
        F.count("*").alias("n_parts"),
        F.sum((F.col("cum_before") < PARETO_SHARE).cast("bigint")).alias(
            "n_parts_for_80pct"
        ),
        F.round(F.max("share"), 6).alias("top_part_share"),
    )


PR_TOP = 40


def q_window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist over suppliers within nation by account
    balance — the remaining ANSI ranking-function surface. The suppkey
    tiebreak makes every rank distinct, so rank == row_number and both
    ratios collapse to exact integer quotients — percent_rank =
    (rn−1)/(n−1), cume_dist = rn/n — computed through the
    range-bucketed prefix sweep (the r06 self-audit retired the
    25-nation-partition window over the data-scaled supplier table)
    and rounded at 6dp."""
    from zonal_datacube_spark.functions.prefix_sweep import prefix_sweep

    sup = load_table(spark, sf_dir, "supplier")
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    j = sup.join(nation, sup.s_nationkey == F.col("n_nationkey"))
    ranked = prefix_sweep(
        j.select("n_name", "s_suppkey", "s_acctbal"),
        ["n_name"],
        "s_acctbal",
        tiebreak=["s_suppkey"],
        row_number_col="rn",
        total_count_col="n",
        boundaries="quantile",
    )
    return (
        ranked.select(
            "n_name",
            "s_suppkey",
            F.round(
                F.when(
                    F.col("n") > 1,
                    (F.col("rn") - 1).cast("double") / (F.col("n") - 1),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("pct_rank"),
            F.round(F.col("rn").cast("double") / F.col("n"), 6).alias(
                "cume_dist"
            ),
        )
        .orderBy("n_name", "s_suppkey")
        .limit(PR_TOP)
    )


# --------------------------------------------------------------------------
# IGNORE NULLS window surface
# --------------------------------------------------------------------------


# identical semantics, two spellings: Spark parses IGNORE NULLS after
# the call parens, DuckDB inside them — the ONLY divergence between the
# engines here, so the body is a template over that token position
_IGNORE_NULLS_TEMPLATE = """
        SELECT event_id, user_id,
               coalesce(last_value(purchase_cents{inner}){outer} OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), -1) AS prev_purchase_cents,
               coalesce(first_value(error_cents{inner}){outer} OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ), -1) AS next_error_cents,
               coalesce(nth_value(purchase_cents, 2{inner}){outer} OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ), -1) AS second_purchase_cents
        FROM base
"""

_IGNORE_NULLS_BODY = _IGNORE_NULLS_TEMPLATE.format(
    inner="", outer=" IGNORE NULLS"
)
# the oracle keeps its declared trailing ORDER BY; the comparison never
# reads row order, so only the Spark body drops it
_IGNORE_NULLS_BODY_DUCK = (
    _IGNORE_NULLS_TEMPLATE.format(inner=" IGNORE NULLS", outer="")
    + "        ORDER BY event_id\n"
)


def q_window_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window-function surface (ANSI null treatment):
    last_value / first_value / nth_value IGNORE NULLS carry the nearest
    non-null purchase/error amount across each user's event stream —
    the idiom behind 'attribute every event to the preceding purchase'
    without a LOCF self-join. All three functions share ONE user_id
    ordering (single exchange; user_id is a data-scaled key), values
    ride the cent grid and the order key is integer microseconds, so
    both engines emit identical integers."""
    load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP '1970-01-01 00:00:00', ts)"
        ).alias("us"),
        F.when(
            F.col("event_type") == "purchase",
            cents(F.col("value")),
        ).alias("purchase_cents"),
        F.when(
            F.col("event_type") == "error",
            cents(F.col("value")),
        ).alias("error_cents"),
    ).createOrReplaceTempView("base")
    return spark.sql(_IGNORE_NULLS_BODY)


QUERIES = {
    "q_window_rank": q_window_rank,
    "q_window_topk_per_group": q_window_topk_per_group,
    "q_window_lag_lead": q_window_lag_lead,
    "q_window_running": q_window_running,
    "q_window_range_frame": q_window_range_frame,
    "q_window_streaks": q_window_streaks,
    "q_window_pareto": q_window_pareto,
    "q_window_running_distinct": q_window_running_distinct,
    "q_window_cume_nth": q_window_cume_nth,
    "q_window_ntile": q_window_ntile,
    "q_window_percent_rank": q_window_percent_rank,
    "q_window_ignore_nulls": q_window_ignore_nulls,
}

ORACLE = {
    "q_window_rank": """
        SELECT o_custkey, o_orderkey,
               row_number() OVER w AS rn,
               rank() OVER w AS rnk,
               dense_rank() OVER w AS drnk,
               round(percent_rank() OVER w, 6) AS pct_rnk,
               ntile(4) OVER w AS quartile
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
    """,
    "q_window_topk_per_group": """
        SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        FROM orders
        QUALIFY rn <= 3
    """,
    "q_window_lag_lead": """
        SELECT event_id, user_id,
               round(value - lag(value) OVER w, 2) AS delta_value,
               lead(event_type) OVER w AS next_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
    "q_window_running": """
        SELECT event_id, user_id,
               round(sum(value) OVER w, 2) AS running_sum,
               count(*) OVER w AS running_n
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    "q_window_range_frame": """
        SELECT event_id, user_id,
               date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS epoch_s,
               round(sum(value) OVER w, 2) AS hour_sum,
               count(*) OVER w AS hour_n
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts)
                     RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
    "q_window_pareto": f"""
        WITH rev AS (
            SELECT p.p_brand, p.p_partkey,
                   floor(sum(l.l_extendedprice * (1 - l.l_discount)) * 10000 + 0.5) / 10000 AS rev
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT p_brand, rev,
                   (sum(rev) OVER (PARTITION BY p_brand
                                   ORDER BY rev DESC, p_partkey ASC
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) - rev)
                       / sum(rev) OVER (PARTITION BY p_brand) AS cum_before,
                   rev / sum(rev) OVER (PARTITION BY p_brand) AS share
            FROM rev
        )
        SELECT p_brand,
               count(*) AS n_parts,
               sum(CASE WHEN cum_before < {PARETO_SHARE} THEN 1 ELSE 0 END)::BIGINT
                   AS n_parts_for_80pct,
               round(max(share), 6) AS top_part_share
        FROM ranked GROUP BY p_brand
    """,
    "q_window_streaks": """
        WITH days AS (
            SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
        ),
        islands AS (
            SELECT user_id, day,
                   day::DATE - to_days(row_number()
                       OVER (PARTITION BY user_id ORDER BY day)::INT) AS anchor
            FROM days
        ),
        streaks AS (
            SELECT user_id, anchor, count(*) AS len
            FROM islands GROUP BY user_id, anchor
        )
        SELECT user_id,
               sum(len)::BIGINT AS n_active_days,
               max(len) AS longest_streak,
               count(*) AS n_streaks
        FROM streaks GROUP BY user_id
    """,
    "q_window_running_distinct": """
        WITH ev AS (SELECT date_trunc('day', ts) AS day, user_id FROM events),
        daily AS (
            SELECT day, count(DISTINCT user_id) AS n_active FROM ev GROUP BY day
        ),
        firsts AS (
            SELECT first_day, count(*) AS n_new
            FROM (SELECT user_id, min(day) AS first_day FROM ev GROUP BY user_id)
            GROUP BY first_day
        )
        SELECT strftime(day, '%Y-%m-%d') AS day,
               n_active,
               coalesce(n_new, 0)::BIGINT AS n_new,
               (sum(coalesce(n_new, 0)) OVER (
                   ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
                   AS cum_distinct_users
        FROM daily LEFT JOIN firsts ON day = first_day
    """,
    "q_window_cume_nth": """
        SELECT o_custkey, o_orderkey,
               round(cume_dist() OVER w, 6) AS cume,
               nth_value(o_orderkey, 2) OVER wf AS second_best,
               first_value(o_orderkey) OVER wf AS best,
               last_value(o_orderkey) OVER wf AS worst
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC),
               wf AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    "q_window_ntile": """
        SELECT o_orderstatus, o_orderkey,
               ntile(4) OVER w AS quartile,
               round(percent_rank() OVER w, 6) AS pct_rank
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus
                     ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
    "q_window_percent_rank": f"""
        SELECT n_name, s_suppkey,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cume_dist
        FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        WINDOW w AS (PARTITION BY n_name ORDER BY s_acctbal, s_suppkey)
        ORDER BY n_name, s_suppkey LIMIT {PR_TOP}
    """,
    "q_window_ignore_nulls": f"""
        WITH base AS (
            SELECT event_id, user_id,
                   date_diff('microsecond', TIMESTAMP '1970-01-01',
                             ts)::BIGINT AS us,
                   CASE WHEN event_type = 'purchase' THEN
                       CAST(floor(value * 100 + 0.5) AS BIGINT)
                   END AS purchase_cents,
                   CASE WHEN event_type = 'error' THEN
                       CAST(floor(value * 100 + 0.5) AS BIGINT)
                   END AS error_cents
            FROM events
        )
        {_IGNORE_NULLS_BODY_DUCK}
    """,
}
