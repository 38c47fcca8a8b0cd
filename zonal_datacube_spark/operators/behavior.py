"""Behavioral analytics — ordered funnel conversion and cohort retention
over the events stream. These are the product-analytics workloads every
warehouse engine ships (funnel, retention) expressed as pure relational
plans: no UDFs, no driver loops, one shuffle on ``user_id`` for the heavy
step in each.

Scale notes (100 TB events):
- The funnel chains four stage timestamps per user. All four are window
  aggregates over the SAME ``partitionBy(user_id)`` window, so Catalyst
  plans ONE Exchange on user_id and stacks the Window operators on top of
  it — stage count never adds shuffles.
- Retention's heavy step is the distinct (user, week) activity set — a
  single shuffle keyed by the same user_id; the cohort dimension (one row
  per user) joins back on that key, and the final rollup is output-sized
  (cohorts x weeks).
- Ratios are emitted as parts-per-million via truncating integer division
  (`div` / `//`), not floats — identical across engines by construction
  (SURVEY.md §5.4 rounding-tie rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zonal_datacube_spark.functions.exact import G6_SQL, g6
from zonal_datacube_spark.functions.prefix_sweep import (
    ntile_from_row_number,
    prefix_sweep,
)
from zonal_datacube_spark.sources.loader import load_table

FUNNEL_STAGES = ("signup", "view", "click", "purchase")


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 4-stage funnel (signup → view → click → purchase): a user
    counts for stage k only if an event of that type happened STRICTLY
    AFTER their stage-(k-1) time. Chained min-over-user windows share one
    partitioning; the funnel table is a 4-row unpivot of a single-row
    aggregate with truncating ppm conversion rates."""
    w = Window.partitionBy("user_id")
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    t_prev = None
    for i, stage in enumerate(FUNNEL_STAGES):
        cond = F.col("event_type") == stage
        if t_prev is not None:
            cond = cond & (F.col("ts") > F.col(t_prev))
        ev = ev.withColumn(f"t{i + 1}", F.min(F.when(cond, F.col("ts"))).over(w))
        t_prev = f"t{i + 1}"
    per_user = ev.groupBy("user_id").agg(
        *[F.max(f"t{i + 1}").alias(f"t{i + 1}") for i in range(4)]
    )
    counts = per_user.agg(
        *[F.count(f"t{i + 1}").alias(f"n{i + 1}") for i in range(4)]
    )
    stack_args = ", ".join(
        f"{i + 1}, '{s}', n{i + 1}" for i, s in enumerate(FUNNEL_STAGES)
    )
    return counts.selectExpr(
        f"stack(4, {stack_args}) AS (stage_no, stage, n_users)", "n1"
    ).select(
        F.col("stage_no").cast("int").alias("stage_no"),
        "stage",
        "n_users",
        F.expr("n_users * 1000000L div n1").alias("conv_ppm"),
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: cohort = Monday-truncated week of a user's
    first event; a cohort member is retained in week k if they have ANY
    event in cohort_week + k weeks. Emits cohort size and ppm retention
    per (cohort, week-offset) cell."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    # ONE shuffle on user_id computes both the cohort assignment (week of
    # first event) and the distinct-weeks activity set; collect_set is
    # bounded by the retention horizon in weeks, not by event count.
    per_user = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week"),
        F.collect_set(F.date_trunc("week", "ts")).alias("weeks"),
    )
    cells = (
        per_user.select(
            "cohort_week", F.explode("weeks").alias("active_week")
        )
        .withColumn(
            "week_k",
            (F.datediff("active_week", "cohort_week") / 7).cast("int"),
        )
        .groupBy("cohort_week", "week_k")
        .agg(F.count("*").alias("n_active"))
    )
    # every user is active in their own cohort week, so the k=0 cell IS the
    # cohort size — a window over the (output-sized) cells table replaces
    # a join against a separately aggregated sizes dimension
    size_w = Window.partitionBy("cohort_week")
    return cells.select(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "week_k",
        F.max(F.when(F.col("week_k") == 0, F.col("n_active")))
        .over(size_w)
        .alias("cohort_size"),
        "n_active",
    ).withColumn(
        "retained_ppm", F.expr("n_active * 1000000L div cohort_size")
    )


def q_ts_diurnal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diurnal (hour-of-day) seasonal profile: per (event_type, hour)
    the observation count, mean value, and the seasonal index (hour mean
    ÷ series mean) — the multiplicative-decomposition seasonal factor a
    capacity planner reads off first. One groupBy on (type, hour); the
    series-wide mean folds from the SAME aggregates via a window over
    the 24-row-per-type result, so the events table is scanned once."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.hour("ts").alias("hour_of_day")
    ).agg(F.count("*").alias("n"), F.sum("value").alias("sum_v"))
    tw = Window.partitionBy("event_type")
    return hourly.select(
        "event_type",
        "hour_of_day",
        "n",
        F.round(F.col("sum_v") / F.col("n"), 6).alias("avg_value"),
        F.round(
            (F.col("sum_v") / F.col("n"))
            / (F.sum("sum_v").over(tw) / F.sum("n").over(tw)),
            6,
        ).alias("seasonal_index"),
    )


CONVERT_FROM, CONVERT_TO = "view", "purchase"


def q_behavior_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert latency: per user, the gap between the FIRST
    'view' and the first 'purchase' AFTER it; rolled up to conversion
    count, median / p90 latency (exact interpolated percentiles over
    integer second gaps), and mean. One groupBy pass computes both
    firsts via conditional min aggregates — no window, no self-join;
    the percentile rollup runs over the user-sized conversion table."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == CONVERT_FROM, F.col("ts"))
        ).alias("first_view")
    )
    purchases = (
        ev.filter(F.col("event_type") == CONVERT_TO)
        .join(per_user, "user_id")
        .filter(
            F.col("first_view").isNotNull()
            & (F.col("ts") >= F.col("first_view"))
        )
        .groupBy("user_id")
        .agg(
            F.first("first_view").alias("first_view"),
            F.min("ts").alias("first_purchase"),
        )
    )
    # µs diff ÷ 1e6: at µs storage precision the boundary-count and
    # interval-truncation readings coincide, so both engines agree
    # (plain SECOND diffs diverge on sub-second components).
    gaps = purchases.select(
        (
            F.expr(
                "timestampdiff(MICROSECOND, first_view, first_purchase)"
            )
            / 1e6
        ).alias("gap_s")
    )
    # the conversion-gap percentiles are GLOBAL over a user-scaled gap
    # table: folded from the gap-value grain (functions/percentiles.py,
    # round-10 exact-percentile rewrite — the old single buffered
    # percentile() held every user's gap in one executor buffer)
    from zonal_datacube_spark.functions.percentiles import (
        grain_percentiles,
        pivot_percentiles,
    )

    from pyspark.storagelevel import StorageLevel

    # persisted: the gap table (two event-window passes) feeds both the
    # count/mean aggregate and the percentile grain sweep
    gaps = gaps.persist(StorageLevel.MEMORY_AND_DISK)
    base = gaps.agg(
        F.count("*").alias("n_converted"),
        F.round(F.avg("gap_s"), 2).alias("avg_gap_s"),
    )
    qs = pivot_percentiles(
        grain_percentiles(gaps, [], "gap_s", (0.5, 0.9)),
        [],
        {0.5: "mg", 0.9: "pg"},
    )
    return base.crossJoin(F.broadcast(qs)).select(
        "n_converted",
        F.round("mg", 2).alias("median_gap_s"),
        F.round("pg", 2).alias("p90_gap_s"),
        "avg_gap_s",
    )


BASKET_TOPK = 20


def q_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: the top-20 brand pairs by co-occurrence
    with support / confidence / lift — the association-rule readout
    behind "frequently bought together". Baskets collapse to DISTINCT
    (order, brand) first, so the pair expansion is bounded by C(brands
    per basket, 2), never line items²; singles totals broadcast back.
    Ranking orders by the INTEGER pair count (tie-broken on the pair),
    so the cut is engine-stable — ratios are display columns only."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    items = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_orderkey", "p_brand")
        .distinct()
        # (order, brand)-grain and consumed by FOUR branches (basket
        # total, singles, both sides of the pair join): one-shot
        # materialization keeps the lineitem scan + distinct shuffle
        # single instead of re-expanded per branch
        .localCheckpoint()
    )
    # 1-row basket total joined in lazily — the key stays a pure plan
    # (no eager driver action at construction time)
    totals = F.broadcast(
        items.agg(F.countDistinct("l_orderkey").alias("n_baskets"))
    )
    singles = items.groupBy("p_brand").agg(F.count("*").alias("n_single"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.p_brand") < F.col("b.p_brand"))
        .groupBy(
            F.col("a.p_brand").alias("brand_a"),
            F.col("b.p_brand").alias("brand_b"),
        )
        .agg(F.count("*").alias("n_ab"))
    )
    sa = F.broadcast(
        singles.select(
            F.col("p_brand").alias("brand_a"), F.col("n_single").alias("n_a")
        )
    )
    sb = F.broadcast(
        singles.select(
            F.col("p_brand").alias("brand_b"), F.col("n_single").alias("n_b")
        )
    )
    return (
        pairs.join(sa, "brand_a")
        .join(sb, "brand_b")
        .crossJoin(totals)
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            F.round(F.col("n_ab") / F.col("n_baskets"), 6).alias("support"),
            F.round(F.col("n_ab") / F.col("n_a"), 6).alias("confidence"),
            F.round(
                F.col("n_ab") * F.col("n_baskets") / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("n_ab").desc(), "brand_a", "brand_b")
        .limit(BASKET_TOPK)
    )


RFM_TILES = 5


def q_behavior_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every customer scored 1–5 on Recency (days
    since last order — lower is better), Frequency (order count), and
    Monetary (total spend), then the segment census — the classic
    marketing cube. Each quintile assignment is a distributed
    row_number through the range-bucketed prefix sweep plus the
    arithmetic ANSI ntile (functions/prefix_sweep.py) — the
    customer-grain table never enters a global window. Ties split
    deterministically on custkey.

    r13 (guide §2.4; the q_stats_spearman stacking trick): the three
    per-axis quintile assignments ran as three separate quantile sweeps
    (a GK-sketch aggregate + bucketed window each) joined back on
    custkey — 30 sequential jobs at sf0.1. The axis now rides the
    sweep's PARTITION key: per_cust stacks to (axis, custkey, v) with v
    negated on the descending axes (descending=True orders by (val
    DESC, custkey ASC); ordering -val ASC with the same tiebreak is the
    identical total order, and recency/frequency/monetary are
    integer-or-2dp-grid values whose negation is exact), ONE sweep
    ranks all three axes (quantile edges are drawn per part key, so
    each axis keeps its own boundaries), and the scores pivot back by
    axis — one sketch job + one sweep + one pivot shuffle instead of
    three of each."""
    orders = load_table(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("maxd"))
    per_cust = (
        orders.crossJoin(F.broadcast(anchor))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.first("maxd"), F.max("o_orderdate")).alias(
                "recency_d"
            ),
            F.count("*").alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
        # customer-grain and consumed by TEN branches (three sweeps at
        # three references each + the score join): one-shot
        # materialization keeps the orders scan/rollup single and the
        # plan linear in the branch count
        .localCheckpoint()
    )

    # stack the three axes so ONE sweep ranks them all (docstring r13
    # note): ascending -frequency / -monetary == descending original,
    # custkey tiebreak unchanged; values are grid-exact so negation is
    # lossless
    stacked = per_cust.selectExpr(
        "o_custkey",
        "stack(3,"
        " 'r', CAST(recency_d AS DOUBLE),"
        " 'f', -CAST(frequency AS DOUBLE),"
        " 'm', -monetary) AS (axis, v)",
    )
    swept = prefix_sweep(
        stacked,
        ["axis"],
        "v",
        tiebreak=["o_custkey"],
        row_number_col="_rn",
        total_count_col="_n",
        boundaries="quantile",
    )
    tiles = swept.select(
        "axis",
        "o_custkey",
        ntile_from_row_number(F.col("_rn"), F.col("_n"), RFM_TILES).alias(
            "_tile"
        ),
    )
    # pivot the per-axis scores back to one row per customer; every
    # customer appears on all three axes, so the pivoted columns are
    # never null and the old three-way inner join is reproduced exactly
    scores = tiles.groupBy("o_custkey").agg(
        F.max(F.when(F.col("axis") == "r", F.col("_tile"))).alias("r_score"),
        F.max(F.when(F.col("axis") == "f", F.col("_tile"))).alias("f_score"),
        F.max(F.when(F.col("axis") == "m", F.col("_tile"))).alias("m_score"),
    )
    scored = per_cust.select("o_custkey", "monetary").join(scores, "o_custkey")
    # cell SUM, not avg: monetary sits on the 1e-2 decimal grid, so the
    # sum rounds exactly at 2dp on both engines — an avg divides by the
    # cell count and can land exactly on a half-cent midpoint, where
    # Spark and DuckDB round differently (functions/exact.py; hit at sf0.001)
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("monetary"), 2).alias("cell_monetary"),
    )


def q_behavior_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per ISO week: average daily active users over
    weekly active users — the engagement-health ratio every product
    dashboard carries. Two distinct-user aggregations (day grain, week
    grain) joined on the bounded week axis; every input to the ratio is
    an exact integer, and the single derived ratio floors half-up at 6dp
    on both engines (cookbook rule 15)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("extract(YEAROFWEEK FROM ts)").cast("int").alias("iso_year"),
        F.weekofyear("ts").cast("int").alias("iso_week"),
        F.dayofmonth("ts").alias("dom"),
        F.month("ts").alias("mo"),
        "user_id",
    )
    dau = (
        ev.groupBy("iso_year", "iso_week", "mo", "dom")
        .agg(F.count_distinct("user_id").alias("dau"))
        .groupBy("iso_year", "iso_week")
        .agg(F.sum("dau").alias("sum_dau"), F.count("*").alias("n_days"))
    )
    wau = ev.groupBy("iso_year", "iso_week").agg(
        F.count_distinct("user_id").alias("wau")
    )
    j = dau.join(wau, ["iso_year", "iso_week"])
    ratio = F.col("sum_dau") / (F.col("n_days") * F.col("wau"))
    return j.select(
        "iso_year",
        "iso_week",
        "sum_dau",
        "n_days",
        "wau",
        g6(ratio).alias("stickiness"),
    )


# --------------------------------------------------------------------------
# windowFunnel
# --------------------------------------------------------------------------

FUNNEL_STEPS = ("view", "click", "purchase")
FUNNEL_WINDOW_US = 72 * 3600 * 1_000_000  # 72 h, integer microseconds


def q_behavior_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse-style windowFunnel(72h): per user, the deepest prefix
    of view → click → purchase completed strictly in order within 72
    hours of the FIRST view. Three conditional-min windows stack over
    ONE user_id hash partitioning (t2 conditions on t1, t3 on t2 —
    Catalyst plans consecutive same-partitioning windows with a single
    exchange) and the per-user rollup reuses that partitioning. Times
    are integer epoch-microseconds (rules 7/11), so every comparison is
    exact. Output: users per depth with the cohort share."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP '1970-01-01 00:00:00', ts)"
        ).alias("us"),
    )
    w = Window.partitionBy("user_id")
    s1, s2, s3 = FUNNEL_STEPS
    t1 = ev.withColumn(
        "t1",
        F.min(F.when(F.col("event_type") == s1, F.col("us"))).over(w),
    )
    t2 = t1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == s2)
                & (F.col("us") > F.col("t1"))
                & (F.col("us") <= F.col("t1") + FUNNEL_WINDOW_US),
                F.col("us"),
            )
        ).over(w),
    )
    t3 = t2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == s3)
                & (F.col("us") > F.col("t2"))
                & (F.col("us") <= F.col("t1") + FUNNEL_WINDOW_US),
                F.col("us"),
            )
        ).over(w),
    )
    per_user = t3.groupBy("user_id").agg(
        F.max(
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .when(F.col("t1").isNotNull(), 1)
            .otherwise(0)
        ).alias("depth")
    )
    census = per_user.groupBy("depth").agg(
        F.count("*").alias("n_users")
    )
    tot = Window.partitionBy()  # depth grain: ≤ 4 rows, schema-bounded
    return census.select(
        "depth",
        "n_users",
        g6(
            F.col("n_users").cast("double")
            / F.sum("n_users").over(tot).cast("double")
        ).alias("user_share"),
    )


# --------------------------------------------------------------------------
# top path triples
# --------------------------------------------------------------------------

PATH_TOP = 10


def q_behavior_path_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event-path triples — the 'what do users do next' census
    behind sankey/path-analysis dashboards: every consecutive
    (step1, step2, step3) along each user's time-ordered stream,
    counted corpus-wide. Two leads share ONE user_id ordering (single
    exchange over a data-scaled key; ties broken by event_id), the
    census is a partial-agg groupBy on the path tuple, and the top-10
    is a TakeOrdered heap with the full path as tiebreak."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = ev.select(
        F.col("event_type").alias("step1"),
        F.lead("event_type", 1).over(w).alias("step2"),
        F.lead("event_type", 2).over(w).alias("step3"),
    ).filter(F.col("step3").isNotNull())
    return (
        paths.groupBy("step1", "step2", "step3")
        .agg(F.count("*").alias("n_paths"))
        .orderBy(
            F.col("n_paths").desc(),
            F.col("step1").asc(),
            F.col("step2").asc(),
            F.col("step3").asc(),
        )
        .limit(PATH_TOP)
    )


QUERIES = {
    "q_basket_affinity": q_basket_affinity,
    "q_ts_diurnal_profile": q_ts_diurnal_profile,
    "q_behavior_time_to_convert": q_behavior_time_to_convert,
    "q_funnel_conversion": q_funnel_conversion,
    "q_cohort_retention": q_cohort_retention,
    "q_behavior_rfm": q_behavior_rfm,
    "q_behavior_stickiness": q_behavior_stickiness,
    "q_behavior_window_funnel": q_behavior_window_funnel,
    "q_behavior_path_triples": q_behavior_path_triples,
}

_FUNNEL_SQL = f"""
        WITH e AS (
            SELECT user_id, event_type,
                   date_diff('microsecond', TIMESTAMP '1970-01-01',
                             ts)::BIGINT AS us
            FROM events
        ),
        s1 AS (
            SELECT user_id,
                   min(CASE WHEN event_type = '{FUNNEL_STEPS[0]}'
                            THEN us END) AS t1
            FROM e GROUP BY user_id
        ),
        s2 AS (
            SELECT e.user_id,
                   min(CASE WHEN event_type = '{FUNNEL_STEPS[1]}'
                            AND us > t1
                            AND us <= t1 + {FUNNEL_WINDOW_US}
                            THEN us END) AS t2
            FROM e JOIN s1 ON e.user_id = s1.user_id
            GROUP BY e.user_id
        ),
        s3 AS (
            SELECT e.user_id,
                   min(CASE WHEN event_type = '{FUNNEL_STEPS[2]}'
                            AND us > t2
                            AND us <= t1 + {FUNNEL_WINDOW_US}
                            THEN us END) AS t3
            FROM e
            JOIN s1 ON e.user_id = s1.user_id
            JOIN s2 ON e.user_id = s2.user_id
            GROUP BY e.user_id
        ),
        depths AS (
            SELECT s1.user_id,
                   CASE WHEN t3 IS NOT NULL THEN 3
                        WHEN t2 IS NOT NULL THEN 2
                        WHEN t1 IS NOT NULL THEN 1
                        ELSE 0 END AS depth
            FROM s1
            JOIN s2 ON s1.user_id = s2.user_id
            JOIN s3 ON s1.user_id = s3.user_id
        ),
        census AS (
            SELECT depth, count(*)::BIGINT AS n_users
            FROM depths GROUP BY depth
        )
        SELECT depth, n_users,
               {G6_SQL.format(
                   x="n_users::DOUBLE / sum(n_users) OVER ()::DOUBLE"
               )} AS user_share
        FROM census
        ORDER BY depth
"""

ORACLE = {
    "q_basket_affinity": f"""
        WITH items AS (
            SELECT DISTINCT l.l_orderkey, p.p_brand
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ),
        totals AS (
            SELECT count(DISTINCT l_orderkey) AS n_baskets FROM items
        ),
        singles AS (
            SELECT p_brand, count(*) AS n_single FROM items GROUP BY p_brand
        ),
        pairs AS (
            SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
                   count(*) AS n_ab
            FROM items a JOIN items b
              ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
            GROUP BY 1, 2
        )
        SELECT brand_a, brand_b, n_ab,
               round(n_ab * 1.0 / t.n_baskets, 6) AS support,
               round(n_ab * 1.0 / sa.n_single, 6) AS confidence,
               round(n_ab * 1.0 * t.n_baskets
                     / (sa.n_single * sb.n_single), 6) AS lift
        FROM pairs
        JOIN singles sa ON sa.p_brand = brand_a
        JOIN singles sb ON sb.p_brand = brand_b
        CROSS JOIN totals t
        ORDER BY n_ab DESC, brand_a, brand_b
        LIMIT {BASKET_TOPK}
    """,
    "q_ts_diurnal_profile": """
        WITH hourly AS (
            SELECT event_type, hour(ts) AS hour_of_day,
                   count(*) AS n, sum(value) AS sum_v
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, hour_of_day, n,
               round(sum_v / n, 6) AS avg_value,
               round((sum_v / n)
                     / (sum(sum_v) OVER (PARTITION BY event_type)
                        / sum(n) OVER (PARTITION BY event_type)),
                     6) AS seasonal_index
        FROM hourly
    """,
    "q_behavior_time_to_convert": f"""
        WITH per_user AS (
            SELECT user_id,
                   min(CASE WHEN event_type = '{CONVERT_FROM}' THEN ts END)
                       AS first_view
            FROM events GROUP BY user_id
        ),
        purchases AS (
            SELECT e.user_id,
                   any_value(p.first_view) AS first_view,
                   min(e.ts) AS first_purchase
            FROM events e JOIN per_user p USING (user_id)
            WHERE e.event_type = '{CONVERT_TO}'
              AND p.first_view IS NOT NULL
              AND e.ts >= p.first_view
            GROUP BY e.user_id
        ),
        gaps AS (
            SELECT date_diff('microsecond', first_view, first_purchase) / 1e6
                       AS gap_s
            FROM purchases
        )
        SELECT count(*) AS n_converted,
               round(quantile_cont(gap_s, 0.5), 2) AS median_gap_s,
               round(quantile_cont(gap_s, 0.9), 2) AS p90_gap_s,
               round(avg(gap_s), 2) AS avg_gap_s
        FROM gaps
    """,
    "q_funnel_conversion": """
        WITH e1 AS (
            SELECT user_id, ts, event_type,
                   min(CASE WHEN event_type = 'signup' THEN ts END)
                       OVER (PARTITION BY user_id) AS t1
            FROM events
        ),
        e2 AS (
            SELECT *, min(CASE WHEN event_type = 'view' AND ts > t1 THEN ts END)
                          OVER (PARTITION BY user_id) AS t2
            FROM e1
        ),
        e3 AS (
            SELECT *, min(CASE WHEN event_type = 'click' AND ts > t2 THEN ts END)
                          OVER (PARTITION BY user_id) AS t3
            FROM e2
        ),
        e4 AS (
            SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t3 THEN ts END)
                          OVER (PARTITION BY user_id) AS t4
            FROM e3
        ),
        pu AS (
            SELECT user_id, max(t1) AS t1, max(t2) AS t2,
                   max(t3) AS t3, max(t4) AS t4
            FROM e4 GROUP BY user_id
        ),
        c AS (
            SELECT count(t1)::BIGINT AS n1, count(t2)::BIGINT AS n2,
                   count(t3)::BIGINT AS n3, count(t4)::BIGINT AS n4
            FROM pu
        )
        SELECT stage_no::INT AS stage_no, stage, n_users,
               (n_users * 1000000) // n1 AS conv_ppm
        FROM (
            SELECT 1 AS stage_no, 'signup' AS stage, n1 AS n_users, n1 FROM c
            UNION ALL SELECT 2, 'view', n2, n1 FROM c
            UNION ALL SELECT 3, 'click', n3, n1 FROM c
            UNION ALL SELECT 4, 'purchase', n4, n1 FROM c
        )
    """,
    "q_cohort_retention": """
        WITH first_ev AS (
            SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
            FROM events
        ),
        sizes AS (
            SELECT cohort_week, count(*)::BIGINT AS cohort_size
            FROM first_ev GROUP BY cohort_week
        ),
        cells AS (
            SELECT f.cohort_week,
                   (date_diff('day', f.cohort_week, a.active_week) // 7)::INT
                       AS week_k,
                   count(DISTINCT a.user_id)::BIGINT AS n_active
            FROM activity a JOIN first_ev f USING (user_id)
            GROUP BY 1, 2
        )
        SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
               c.week_k, s.cohort_size, c.n_active,
               (c.n_active * 1000000) // s.cohort_size AS retained_ppm
        FROM cells c JOIN sizes s USING (cohort_week)
    """,
    "q_behavior_rfm": f"""
        WITH anchor AS (SELECT max(o_orderdate) AS maxd FROM orders),
        per_cust AS (
            SELECT o_custkey,
                   date_diff('day', max(o_orderdate), any_value(maxd))
                       AS recency_d,
                   count(*) AS frequency,
                   round(sum(o_totalprice), 2) AS monetary
            FROM orders, anchor
            GROUP BY o_custkey
        ),
        scored AS (
            SELECT monetary,
                   ntile({RFM_TILES}) OVER (ORDER BY recency_d ASC,
                                            o_custkey ASC) AS r_score,
                   ntile({RFM_TILES}) OVER (ORDER BY frequency DESC,
                                            o_custkey ASC) AS f_score,
                   ntile({RFM_TILES}) OVER (ORDER BY monetary DESC,
                                            o_custkey ASC) AS m_score
            FROM per_cust
        )
        SELECT r_score, f_score, m_score,
               count(*) AS n_customers,
               round(sum(monetary), 2) AS cell_monetary
        FROM scored GROUP BY 1, 2, 3
    """,
    "q_behavior_stickiness": """
        WITH ev AS (
            SELECT isoyear(ts)::INT AS iso_year, week(ts)::INT AS iso_week,
                   month(ts) AS mo, day(ts) AS dom, user_id
            FROM events
        ),
        dau AS (
            SELECT iso_year, iso_week, sum(dau)::BIGINT AS sum_dau,
                   count(*)::BIGINT AS n_days
            FROM (SELECT iso_year, iso_week, mo, dom,
                         count(DISTINCT user_id) AS dau
                  FROM ev GROUP BY 1, 2, 3, 4)
            GROUP BY 1, 2
        ),
        wau AS (
            SELECT iso_year, iso_week, count(DISTINCT user_id)::BIGINT AS wau
            FROM ev GROUP BY 1, 2
        )
        SELECT iso_year, iso_week, sum_dau, n_days, wau,
               floor(sum_dau / (n_days * wau)::DOUBLE * 1000000 + 0.5)
                   / 1000000 AS stickiness
        FROM dau JOIN wau USING (iso_year, iso_week)
        ORDER BY iso_year, iso_week
    """,
    "q_behavior_window_funnel": _FUNNEL_SQL,
    "q_behavior_path_triples": f"""
        WITH paths AS (
            SELECT event_type AS step1,
                   lead(event_type, 1) OVER w AS step2,
                   lead(event_type, 2) OVER w AS step3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT step1, step2, step3, count(*)::BIGINT AS n_paths
        FROM paths WHERE step3 IS NOT NULL
        GROUP BY step1, step2, step3
        ORDER BY n_paths DESC, step1 ASC, step2 ASC, step3 ASC
        LIMIT {PATH_TOP}
    """,
}
