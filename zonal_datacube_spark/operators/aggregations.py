"""Aggregations (SURVEY.md §2.4) — the heart of zonal statistics.

Reference analogue: per-zone sum/mean/min/max/count/std and categorical
histograms, computed as per-tile partials + a tree-reduce combine. Spark's
HashAggregate does exactly this natively: partial (map-side) aggregation →
shuffle of the tiny partial state → final aggregation. Nothing here needs a
UDF; every aggregate is JVM-side and codegen'd.

FP-parity note (SURVEY.md §5.4): double aggregates are rounded identically
on both engines. Statistics on *large-magnitude* columns (variance of
prices ~1e8) cannot be rounded to fixed decimals portably — the stats query
uses small-magnitude columns (quantity, discount) where double partial-sum
nondeterminism sits far below the rounding grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zonal_datacube_spark.functions.exact import cents, g6, revenue
from zonal_datacube_spark.sources.loader import load_table


def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped aggregates over the fact table (single final combine).
    avg_discount folds the 2dp discount on its exact integer cent grid
    (one division at the end — a double avg's partial-sum order is
    partition-layout dependent, and the r11 multi-file rehearsal caught
    it flipping the 6dp rounding on a boundary value; FIXTURES.md rule
    6)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_c = cents(F.col("l_discount"))
    return li.agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(
            F.sum(disc_c).cast("double") / F.count("*") / 100, 6
        ).alias("avg_discount"),
    )


def q_agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical partial+final grouped aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(revenue()), 4).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            # exact cent-grid fold (q_agg_global r11 discipline — a raw
            # double avg's 6dp rounding is partition-order dependent)
            F.round(
                F.sum(
                    cents(F.col("l_discount"))
                ).cast("double")
                / F.count("*")
                / 100,
                6,
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts: Spark expands to a two-phase aggregate
    (distinct keys shuffled once, then counted)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct count — rows-only key (approx values are
    implementation-defined, so no value oracle by design). Since r13 the
    row carries its OWN referee (VERDICT r12 next-round #8, the
    q_agg_sketch_error_eval pattern): the exact distinct count, the
    relative error, and a boolean ``in_bound`` against 3× the sketch's
    default relative standard deviation (rsd 0.05 → 0.15) — so the
    driver's rows-only check attests a bounded error, not just a row
    count. Exact and approx are one fused aggregate: both are
    distinct-rewrites over the same (type, user) expand, no extra scan."""
    ev = load_table(spark, sf_dir, "events")
    out = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    rel_err = (F.col("approx_users") - F.col("exact_users")) / F.col(
        "exact_users"
    )
    return out.select(
        "event_type",
        "approx_users",
        "exact_users",
        F.round(rel_err, 6).alias("rel_err"),
        (F.abs(rel_err) <= 3 * 0.05).alias("in_bound"),
    )


PCTL_APPROX_ACC = 10_000  # percentile_approx accuracy → rank eps = 1/acc


def q_agg_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles via percentile_approx (Greenwald-Khanna-style
    mergeable summaries) — the sketch real 100 TB users reach for daily:
    partial summaries merge associatively, so only fixed-size sketch state
    ever shuffles, never raw values. Rows-only key like
    ``q_agg_approx_distinct`` (approx values are implementation-defined;
    the exact-percentile twin ``q_agg_percentile`` is the oracle-checked
    surface). Scalar columns only: the driver's rows-only canonicalizer
    sorts every column, and array cells are unhashable there — one sketch
    per output column keeps the check runnable.

    Since r13 the row carries its own referee (VERDICT r12 next-round
    #8): each returned cell is an ACTUAL data value whose rank the GK
    summary guarantees within ``±n/accuracy`` of the target; the five
    cells melt to (flag, axis, p, v), each value's exact rank interval
    ``[n_lt+1, n_le]`` folds from the shared (flag, value) grains
    (functions/grain_cache.py — grain-side integer sums, no fact
    re-scan), and ``ranks_in_bound`` attests every interval intersects
    the guaranteed window — a bounded-error attestation inside the
    rows-only check itself."""
    from zonal_datacube_spark.functions.grain_cache import (
        GRAIN_COUNT,
        table_value_grain,
    )

    li = load_table(spark, sf_dir, "lineitem")
    approx = li.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_extendedprice", 0.25, PCTL_APPROX_ACC
        ).alias("price_p25"),
        F.percentile_approx(
            "l_extendedprice", 0.5, PCTL_APPROX_ACC
        ).alias("price_p50"),
        F.percentile_approx(
            "l_extendedprice", 0.75, PCTL_APPROX_ACC
        ).alias("price_p75"),
        F.percentile_approx(
            "l_extendedprice", 0.99, PCTL_APPROX_ACC
        ).alias("price_p99"),
        F.percentile_approx("l_quantity", 0.5, PCTL_APPROX_ACC).alias(
            "median_qty"
        ),
    )

    def _c(axis: str, p: float, col: str) -> F.Column:
        return F.struct(
            F.lit(axis).alias("axis"),
            F.lit(p).alias("p"),
            F.col(col).cast("double").alias("v"),
        )

    cells = approx.select(
        "l_returnflag",
        F.explode(
            F.array(
                _c("price", 0.25, "price_p25"),
                _c("price", 0.5, "price_p50"),
                _c("price", 0.75, "price_p75"),
                _c("price", 0.99, "price_p99"),
                _c("qty", 0.5, "median_qty"),
            )
        ).alias("cell"),
    ).select("l_returnflag", "cell.*")
    # both axes are the canonical family grains — pre-warmed in-suite,
    # and at any SF a bounded-grid table, never the fact table
    price = table_value_grain(
        spark, sf_dir, "lineitem", ("l_returnflag",),
        "l_extendedprice", "l_extendedprice",
    ).select(
        "l_returnflag",
        F.lit("price").alias("axis"),
        F.col("l_extendedprice").cast("double").alias("gv"),
        F.col(GRAIN_COUNT).alias("c"),
    )
    qty = table_value_grain(
        spark, sf_dir, "lineitem", ("l_returnflag",),
        "CAST(l_quantity AS DOUBLE)", "l_quantity",
    ).select(
        "l_returnflag",
        F.lit("qty").alias("axis"),
        F.col("l_quantity").alias("gv"),
        F.col(GRAIN_COUNT).alias("c"),
    )
    checked = (
        price.unionByName(qty)
        .join(F.broadcast(cells), ["l_returnflag", "axis"])
        .groupBy("l_returnflag", "axis", "p", "v")
        .agg(
            F.sum(
                F.when(F.col("gv") < F.col("v"), F.col("c")).otherwise(0)
            ).alias("n_lt"),
            F.sum(
                F.when(F.col("gv") <= F.col("v"), F.col("c")).otherwise(0)
            ).alias("n_le"),
            F.sum("c").alias("n"),
        )
    )
    eps = 1.0 / PCTL_APPROX_ACC
    ok = (
        F.col("n_lt") + 1 <= (F.col("p") + eps) * F.col("n") + 1
    ) & (F.col("n_le") >= (F.col("p") - eps) * F.col("n"))

    def _cell(axis: str, p: float) -> F.Column:
        return F.max(
            F.when(
                (F.col("axis") == axis) & (F.col("p") == F.lit(p)),
                F.col("v"),
            )
        )

    return checked.withColumn("ok", ok).groupBy("l_returnflag").agg(
        _cell("price", 0.25).alias("price_p25"),
        _cell("price", 0.5).alias("price_p50"),
        _cell("price", 0.75).alias("price_p75"),
        _cell("price", 0.99).alias("price_p99"),
        _cell("qty", 0.5).alias("median_qty"),
        F.bool_and("ok").alias("ranks_in_bound"),
    )


def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical MODE per group with a DEFINED tie winner: engines'
    built-in mode() breaks ties arbitrarily (engine- and order-
    dependent), so the portable form is the explicit count + argmax —
    highest frequency, then smallest value. The argmax is ONE
    max-of-struct aggregation over the counts table, (count, −value)
    ordered so ties fall to the smaller value — no rank window at all
    (the r06 self-audit retired the distinct-value-grain window here:
    at a wide value domain it was a per-flag single-reducer sort; a
    struct max folds map-side like any aggregate)."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count("*").alias("c")
    )
    best = counts.groupBy("l_returnflag").agg(
        F.max(
            F.struct(
                F.col("c").alias("c"),
                (-F.col("l_quantity")).alias("neg_q"),
            )
        ).alias("best")
    )
    return best.select(
        "l_returnflag",
        F.round(-F.col("best.neg_q"), 2).alias("mode_qty"),
        F.col("best.c").alias("n_occurrences"),
    )


def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates on small-magnitude columns (see module note)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 3).alias("std_qty"),
        F.round(F.var_samp("l_quantity"), 3).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 4).alias("covar_qty_disc"),
    )


def q_agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax/argmin per group: the order that realized the customer's max /
    min total price. Packed (value, key) comparison makes ties deterministic
    on both engines."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.max(F.struct("o_totalprice", "o_orderkey"))["o_orderkey"].alias("max_order"),
        F.min(F.struct("o_totalprice", "o_orderkey"))["o_orderkey"].alias("min_order"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals flag→status→grand; NULL marks the rolled level."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping combinations of (flag, status)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets via Spark SQL (the parser is part of the
    public surface — SURVEY.md §7 non-goals: no custom dialect)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("zds_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n_rows,
               round(sum(l_extendedprice), 2) AS sum_price
        FROM zds_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


def q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical histogram pivoted wide — conditional aggregation with
    explicit aliases (engine-portable pivot, FIXTURES.md rule 5)."""
    ev = load_table(spark, sf_dir, "events")
    cats = ["click", "error", "purchase", "signup", "view"]
    return ev.groupBy("user_id").agg(
        *[
            F.count(F.when(F.col("event_type") == c, F.lit(1))).alias(f"n_{c}")
            for c in cats
        ]
    )


def q_agg_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level distinct counting via MERGEABLE HLL sketches: per
    (event_type, day) sketches of user_id are unioned up to event_type —
    the pre-aggregation pattern exact distincts cannot use (distincts
    don't compose; sketches do). At 100 TB the daily sketch table is the
    stored rollup; any time-range distinct is a sketch union over it,
    never a rescan. Rows-only: sketch estimates are implementation-
    defined (tests pin ≤5% error vs exact)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.expr("hll_sketch_agg(user_id)").alias("sketch"))
    return (
        daily.groupBy("event_type")
        .agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sketch))").alias(
                "approx_users"
            ),
            F.count("*").alias("n_daily_sketches"),
        )
    )


def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median / p90) per group — folded
    from the (flag, value)-grain prefix sweeps of functions/
    percentiles.py (round-10 exact-percentile rewrite: the old buffered
    percentile() held every quantity AND every price in flag-keyed
    executor buffers; the quantity grain is ~50 rows, the price grain is
    the domain-bounded weighted-median class). Identical interpolation,
    same DuckDB oracle."""
    from zonal_datacube_spark.functions.grain_cache import table_swept_grain
    from zonal_datacube_spark.functions.percentiles import (
        cached_swept_percentiles,
    )

    # r13: BOTH variables extract from their shared SWEPT per-axis grains
    # (functions/grain_cache.table_swept_grain) — the stacked per-key
    # sweep of the r12 shape is gone (guide §2.4: the sweep depends only
    # on the axis, so one swept grain per axis serves the whole family).
    # Interpolated cells are identical: each (flag, var, p) cell folds
    # from exactly the grain rows and exact integer cumulative counts of
    # its own axis, which the per-axis sweep produces bit-for-bit (the
    # stacked sweep partitioned by (flag, var), so its cum counts never
    # mixed axes either). Grains are fetched under their CANONICAL
    # (val_expr, val_name) specs (grain_cache.FAMILY_GRAINS, ADVICE r12
    # medium) and the long results are unioned under the old var tags.
    price = table_swept_grain(
        spark, sf_dir, "lineitem", ("l_returnflag",),
        "l_extendedprice", "l_extendedprice",
    )
    qty = table_swept_grain(
        spark, sf_dir, "lineitem", ("l_returnflag",),
        "CAST(l_quantity AS DOUBLE)", "l_quantity",
    )
    qs = cached_swept_percentiles(
        qty, ["l_returnflag"], "l_quantity", (0.5, 0.9)
    ).select("l_returnflag", F.lit("qty").alias("var"), "p", "q").unionByName(
        cached_swept_percentiles(
            price, ["l_returnflag"], "l_extendedprice", (0.5,)
        ).select("l_returnflag", F.lit("price").alias("var"), "p", "q")
    )

    def _cell(var: str, p: float) -> F.Column:
        return F.max(
            F.when(
                (F.col("var") == var) & (F.col("p") == F.lit(p)), F.col("q")
            )
        )

    return qs.groupBy("l_returnflag").agg(
        F.round(_cell("qty", 0.5), 4).alias("median_qty"),
        F.round(_cell("qty", 0.9), 4).alias("p90_qty"),
        F.round(_cell("price", 0.5), 4).alias("median_price"),
    )


def q_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered distinct list aggregation (listagg/string_agg semantics) —
    deterministic via sort-before-join."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderpriority")), ",").alias(
            "priorities"
        ),
        F.count("*").alias("n_orders"),
    )


def q_agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt: wide per-group measure columns → long (measure, val)
    rows via ``stack`` — the inverse of q_agg_pivot, and the standard
    reshape before feeding generic per-measure pipelines."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("price"),
        F.round(F.sum("l_discount"), 2).alias("disc"),
    )
    return wide.select(
        "l_returnflag",
        F.expr("stack(3, 'qty', qty, 'price', price, 'disc', disc) AS (measure, val)"),
    )


def q_agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean and filtered aggregates: bool_and/bool_or and conditional
    counts per group (count_if ≡ FILTER (WHERE ...))."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("bool_and(value >= 0)").alias("all_nonneg"),
        F.expr("bool_or(value > 150)").alias("any_large"),
        F.expr("count_if(value > 100)").alias("n_over_100"),
        F.count("*").alias("n_total"),
    )


def q_agg_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT money aggregation: sum in DECIMAL, not double — the
    principled fix for the engine's #1 parity trap (distributed FP sums
    are reducer-order-dependent; SURVEY §5.4 works around it by rounding,
    this key removes the nondeterminism at the source). Fixed-point
    decimal addition is associative, so any partition order and either
    engine produces the IDENTICAL sum — emitted as its exact decimal
    string, no round() and no double anywhere. (A final cast-to-double
    is NOT portable: DuckDB's decimal→double conversion divides after an
    int128→double rounding and can land one ulp off Spark's correctly-
    rounded BigDecimal conversion — measured at sf0.1. Exact in, exact
    out.) Same partial+final hash-aggregate plan as the double sum."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = F.col("l_extendedprice").cast("decimal(18,2)")
    disc_rev = dec * (
        F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)")
    )
    return li.groupBy("l_returnflag").agg(
        F.sum(dec).cast("string").alias("sum_price"),
        F.sum(disc_rev).cast("string").alias("sum_revenue"),
        F.count("*").alias("n_items"),
    )


BOOL_HI_PRICE = 400_000.0
BOOL_LO_PRICE = 1_000.0


def q_agg_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates per order priority: BOOL_AND / BOOL_OR /
    COUNT_IF — the SQL:2023 EVERY/ANY surface DQ rules compile to
    ("every row priced", "any whale order", "how many finished").
    Integer/boolean-exact, fully partial-aggregable."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.expr(f"bool_and(o_totalprice > {BOOL_LO_PRICE})").alias(
            "all_priced"
        ),
        F.expr(f"bool_or(o_totalprice > {BOOL_HI_PRICE})").alias(
            "any_whale"
        ),
        F.expr("count_if(o_orderstatus = 'F')").alias("n_finished"),
    )


PDISC_PS = (0.25, 0.5, 0.75)


def q_agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE percentiles (percentile_disc / SQL:2008 inverse
    distribution WITHIN GROUP): the smallest ACTUAL data value whose
    cumulative distribution reaches p — the right quantile when the
    domain is categorical-ish (quantities, latencies bucketed to ms)
    and an interpolated fraction would be a value that never occurred.
    Returned values are real data points, so engines compare exactly
    with no rounding at all."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [
        F.expr(
            f"percentile_disc({p}) WITHIN GROUP (ORDER BY l_quantity)"
        ).alias(f"p{int(p * 100)}")
        for p in PDISC_PS
    ]
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"), *aggs
    )


# --------------------------------------------------------------------------
# sketch error eval
# --------------------------------------------------------------------------


def q_agg_sketch_error_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy eval per event type: exact distinct users vs
    approx_count_distinct (HLL++) and the exact interpolated median vs
    percentile_approx (KLL-style), with the relative distinct-count
    error — the audit a production rollup tier ships next to its
    sketches (the q_dedup_minhash_eval pattern for the aggregate
    family). Rows-only by design: sketch estimates are engine-specific
    (no DuckDB oracle can reproduce Spark's register layout), but they
    are DETERMINISTIC for fixed data — HLL/KLL merges commute — so the
    test pins cross-run equality and the exact side against pandas."""
    ev = load_table(spark, sf_dir, "events")
    # Two separate aggregations, joined on the 5-row type grain: mixing
    # count_distinct with percentile in ONE agg makes Catalyst's
    # distinct rewrite evaluate percentile partials per (type, user)
    # group — thousands of sketch buffers where five suffice (measured
    # 5 s vs 0.1 s at sf0.1, and a per-user memory blowup at 100 TB).
    distincts = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("distinct_exact"),
        F.approx_count_distinct("user_id").alias("distinct_approx"),
    )
    # the EXACT side folds from the (type, value) grain (functions/
    # percentiles.py, round-10 exact-percentile rewrite — the referee
    # must not itself be the OOM class it audits); the approx side is
    # the bounded KLL-style sketch under test
    from zonal_datacube_spark.functions.grain_cache import table_swept_grain
    from zonal_datacube_spark.functions.percentiles import (
        cached_swept_percentiles,
        pivot_percentiles,
    )

    # r13: extracts from the shared SWEPT (type, value) grain — no
    # per-key prefix sweep (one sweep per axis per process).
    p50e = pivot_percentiles(
        cached_swept_percentiles(
            table_swept_grain(
                spark, sf_dir, "events", ("event_type",), "value", "value"
            ),
            ["event_type"],
            "value",
            (0.5,),
        ),
        ["event_type"],
        {0.5: "p50_exact"},
    )
    pcts = (
        ev.groupBy("event_type")
        .agg(
            F.percentile_approx("value", F.lit(0.5), F.lit(10_000)).alias(
                "p50_approx"
            )
        )
        .join(p50e, "event_type")
    )
    per_type = distincts.join(F.broadcast(pcts), "event_type")
    return per_type.select(
        "event_type",
        "distinct_exact",
        "distinct_approx",
        g6(
            F.abs(F.col("distinct_approx") - F.col("distinct_exact"))
            .cast("double")
            / F.col("distinct_exact").cast("double")
        ).alias("distinct_rel_err"),
        g6(F.col("p50_exact")).alias("p50_exact"),
        g6(F.col("p50_approx")).alias("p50_approx"),
    )


QUERIES = {
    "q_agg_hll_rollup": q_agg_hll_rollup,
    "q_agg_global": q_agg_global,
    "q_agg_groupby": q_agg_groupby,
    "q_agg_distinct": q_agg_distinct,
    "q_agg_approx_distinct": q_agg_approx_distinct,
    "q_agg_percentile_approx": q_agg_percentile_approx,
    "q_agg_mode": q_agg_mode,
    "q_agg_stats": q_agg_stats,
    "q_agg_minmax_by": q_agg_minmax_by,
    "q_agg_rollup": q_agg_rollup,
    "q_agg_cube": q_agg_cube,
    "q_agg_grouping_sets": q_agg_grouping_sets,
    "q_agg_pivot": q_agg_pivot,
    "q_agg_decimal_exact": q_agg_decimal_exact,
    "q_agg_percentile": q_agg_percentile,
    "q_agg_listagg": q_agg_listagg,
    "q_agg_unpivot": q_agg_unpivot,
    "q_agg_filtered": q_agg_filtered,
    "q_agg_percentile_disc": q_agg_percentile_disc,
    "q_agg_boolean": q_agg_boolean,
    "q_agg_sketch_error_eval": q_agg_sketch_error_eval,
}

ORACLE = {
    "q_agg_mode": """
        WITH counts AS (
            SELECT l_returnflag, l_quantity, count(*) AS c
            FROM lineitem GROUP BY 1, 2
        )
        SELECT l_returnflag,
               round(l_quantity, 2) AS mode_qty,
               c AS n_occurrences
        FROM counts
        QUALIFY row_number() OVER (PARTITION BY l_returnflag
                                   ORDER BY c DESC, l_quantity ASC) = 1
    """,
    "q_agg_global": """
        SELECT count(*) AS n_rows,
               round(sum(l_quantity), 2) AS sum_qty,
               round(min(l_extendedprice), 2) AS min_price,
               round(max(l_extendedprice), 2) AS max_price,
               round(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT))::DOUBLE
                     / count(*) / 100, 6) AS avg_discount
        FROM lineitem
    """,
    "q_agg_groupby": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
               round(avg(l_quantity), 6) AS avg_qty,
               round(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT))::DOUBLE
                     / count(*) / 100, 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q_agg_distinct": """
        SELECT event_type,
               count(DISTINCT user_id) AS n_users,
               count(*) AS n_events
        FROM events GROUP BY event_type
    """,
    "q_agg_stats": """
        SELECT l_returnflag,
               round(stddev_samp(l_quantity), 3) AS std_qty,
               round(var_samp(l_quantity), 3) AS var_qty,
               round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
               round(covar_samp(l_quantity, l_discount), 4) AS covar_qty_disc
        FROM lineitem GROUP BY l_returnflag
    """,
    "q_agg_minmax_by": """
        SELECT DISTINCT o_custkey,
               first_value(o_orderkey) OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey DESC) AS max_order,
               first_value(o_orderkey) OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice ASC, o_orderkey ASC) AS min_order,
               round(max(o_totalprice) OVER (PARTITION BY o_custkey), 2) AS max_price
        FROM orders
    """,
    "q_agg_rollup": """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n_rows,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "q_agg_cube": """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n_rows,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "q_agg_grouping_sets": """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n_rows,
               round(sum(l_extendedprice), 2) AS sum_price
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    "q_agg_pivot": """
        SELECT user_id,
               count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
               count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
               count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
               count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
               count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view
        FROM events GROUP BY user_id
    """,
    "q_agg_decimal_exact": """
        SELECT l_returnflag,
               (sum(l_extendedprice::DECIMAL(18,2)))::VARCHAR AS sum_price,
               (sum(l_extendedprice::DECIMAL(18,2)
                    * (1::DECIMAL(18,6) - l_discount::DECIMAL(18,6))))::VARCHAR
                   AS sum_revenue,
               count(*) AS n_items
        FROM lineitem
        GROUP BY l_returnflag
    """,
    "q_agg_percentile": """
        SELECT l_returnflag,
               round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
               round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price
        FROM lineitem GROUP BY l_returnflag
    """,
    "q_agg_listagg": """
        SELECT o_orderstatus,
               string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
                   AS priorities,
               count(*) AS n_orders
        FROM orders GROUP BY o_orderstatus
    """,
    "q_agg_unpivot": """
        WITH wide AS (
            SELECT l_returnflag,
                   round(sum(l_quantity), 2) AS qty,
                   round(sum(l_extendedprice), 2) AS price,
                   round(sum(l_discount), 2) AS disc
            FROM lineitem GROUP BY 1
        )
        SELECT l_returnflag, 'qty' AS measure, qty AS val FROM wide
        UNION ALL
        SELECT l_returnflag, 'price', price FROM wide
        UNION ALL
        SELECT l_returnflag, 'disc', disc FROM wide
    """,
    "q_agg_filtered": """
        SELECT event_type,
               bool_and(value >= 0) AS all_nonneg,
               bool_or(value > 150) AS any_large,
               count(*) FILTER (WHERE value > 100) AS n_over_100,
               count(*) AS n_total
        FROM events GROUP BY 1
    """,
    "q_agg_percentile_disc": f"""
        SELECT l_returnflag,
               count(*) AS n_rows,
               {", ".join(
                   f"quantile_disc(l_quantity, {p}) AS p{int(p * 100)}"
                   for p in PDISC_PS
               )}
        FROM lineitem GROUP BY l_returnflag
    """,
    "q_agg_boolean": f"""
        SELECT o_orderpriority,
               count(*) AS n_orders,
               bool_and(o_totalprice > {BOOL_LO_PRICE}) AS all_priced,
               bool_or(o_totalprice > {BOOL_HI_PRICE}) AS any_whale,
               count_if(o_orderstatus = 'F')::BIGINT AS n_finished
        FROM orders GROUP BY o_orderpriority
    """,
}
