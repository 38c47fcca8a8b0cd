"""Hypothesis tests and rank correlations: Wilson A/B intervals, Welch's
t, chi-square, Mann–Whitney U, two-sample Kolmogorov–Smirnov, one-way
ANOVA, Spearman and Kendall tau-b. Each key has an independent DuckDB
oracle.

Determinism (FIXTURES.md cookbook): every statistic folds from exact
integer moments on the cent grid (rule 8); products that can pass 2^63
ride DECIMAL(38,0) in Spark and HUGEINT in DuckDB (rule 12); values that
feed ranks are single correctly-rounded divisions of exact integers;
display doubles use the 1e-6 half-up grid (functions/exact.py).

Scale notes (100 TB): each test first collapses the fact table onto a
bounded grain (value × group, or event type × day), so every window and
self-join after that is grain-sized, not row-sized; rank statistics use
the range-bucketed prefix sweep (functions/prefix_sweep.py) rather than
a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zonal_datacube_spark.functions.exact import CENTS_SQL, G6_SQL, cents, g6, wide
from zonal_datacube_spark.functions.prefix_sweep import prefix_sweep
from zonal_datacube_spark.operators.timeseries_forecast import (
    DAILY_GRAIN_SQL,
    daily_grain,
)
from zonal_datacube_spark.sources.loader import load_table


WILSON_Z = 1.96  # 95% interval


def q_ab_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B-test readout with Wilson score intervals: per market segment,
    the purchase-conversion rate of its event-active users with proper
    small-n confidence bounds — the readout an experimentation platform
    serves (Wilson never leaves [0,1] and stays honest at tiny n, unlike
    the normal approximation). IEEE sqrt is correctly rounded, so the
    interval arithmetic is bit-portable given identical inputs; the
    conversion counts are exact integers. One user-grain aggregate, a
    broadcast dim join, a segment rollup."""
    ev = load_table(spark, sf_dir, "events")
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select(
            (F.col("c_custkey") - 1).alias("user_id"), "c_mktsegment"
        )
    )
    users = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv")
    )
    seg = users.join(cust, "user_id").groupBy("c_mktsegment").agg(
        F.count("*").alias("n_users"),
        F.sum("conv").alias("n_conv"),
    )
    n, z = F.col("n_users"), F.lit(WILSON_Z)
    p = F.col("n_conv") / n
    denom = 1 + z * z / n
    center = p + z * z / (2 * n)
    margin = z * F.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
    return seg.select(
        "c_mktsegment",
        "n_users",
        "n_conv",
        F.round(p, 6).alias("conv_rate"),
        F.round((center - margin) / denom, 6).alias("wilson_low"),
        F.round((center + margin) / denom, 6).alias("wilson_high"),
    )


def q_stats_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test, one-vs-rest per event type: does
    this type's `value` distribution differ from everything else's? One
    partial-aggregated groupBy produces per-type (n, Σv, Σv²), one
    broadcast of the global totals derives the complement group by
    subtraction — the whole test is closed-form moment folding, no second
    scan, no window. Both engines evaluate the identical variance form
    (Σv² − (Σv)²/n)/(n−1) and Welch–Satterthwaite df, rounded at 6dp."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    per = ev.groupBy("event_type").agg(
        F.count("*").alias("n1"),
        F.sum("value").alias("s1"),
        F.sum(F.col("value") * F.col("value")).alias("ss1"),
    )
    tot = ev.agg(
        F.count("*").alias("nt"),
        F.sum("value").alias("st"),
        F.sum(F.col("value") * F.col("value")).alias("sst"),
    )
    j = per.crossJoin(F.broadcast(tot))
    n1, s1, ss1 = F.col("n1"), F.col("s1"), F.col("ss1")
    n2 = F.col("nt") - n1
    s2 = F.col("st") - s1
    ss2 = F.col("sst") - ss1
    # nullif guards: a single-row group (n−1 = 0) or a single-type corpus
    # (n2 = 0) yields NULL statistics on BOTH engines instead of an ANSI
    # DIVIDE_BY_ZERO crash here and an inf/NULL divergence in the oracle
    m1 = s1 / n1
    m2 = s2 / F.nullif(n2, F.lit(0))
    v1 = (ss1 - s1 * s1 / n1) / F.nullif(n1 - 1, F.lit(0))
    v2 = (ss2 - s2 * s2 / F.nullif(n2, F.lit(0))) / F.nullif(
        n2 - 1, F.lit(0)
    )
    a, b = v1 / n1, v2 / F.nullif(n2, F.lit(0))
    se2 = a + b
    t = (m1 - m2) / F.sqrt(se2)
    df = (se2 * se2) / (
        a * a / F.nullif(n1 - 1, F.lit(0))
        + b * b / F.nullif(n2 - 1, F.lit(0))
    )
    return j.select(
        "event_type",
        n1.alias("n_rows"),
        F.round(m1, 6).alias("mean_v"),
        F.round(m2, 6).alias("rest_mean"),
        F.round(t, 6).alias("t_stat"),
        F.round(df, 6).alias("welch_df"),
    )


def q_stats_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between customer market segment
    and home REGION (nation rolled up through the broadcast dims), plus
    Cramér's V effect size. The contingency table is one partial-agg
    groupBy; marginals come from windows over the CONTINGENCY grain —
    bounded by |segments| × |regions| (25 cells), never the data. Every
    input to the statistic is an exact integer count, so both engines
    derive bit-identical doubles (cookbook rule 8 by construction)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    joined = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).select("c_mktsegment", "n_regionkey")
    cells = joined.groupBy("c_mktsegment", "n_regionkey").agg(
        F.count("*").alias("o")
    )
    # full marginal grid: segments × regions (broadcast-tiny), so absent
    # combinations still contribute their expected count e = st·rt/N —
    # the textbook statistic, not the present-cells-only approximation
    seg_t = cells.groupBy("c_mktsegment").agg(F.sum("o").alias("st"))
    reg_t = cells.groupBy("n_regionkey").agg(F.sum("o").alias("rt"))
    grand = cells.agg(F.sum("o").alias("n"))
    grid = (
        seg_t.crossJoin(F.broadcast(reg_t))
        .crossJoin(F.broadcast(grand))
        .join(F.broadcast(cells), ["c_mktsegment", "n_regionkey"], "left")
        .select(
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
            (F.col("st") * F.col("rt") / F.col("n")).alias("e"),
            "n",
            "c_mktsegment",
            "n_regionkey",
        )
    )
    chi2 = F.sum(
        (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
    )
    dof = (F.count_distinct("c_mktsegment") - 1) * (
        F.count_distinct("n_regionkey") - 1
    )
    return grid.agg(
        F.max("n").alias("n_customers"),
        F.count("*").alias("n_cells"),
        F.round(chi2, 6).alias("chi2"),
        dof.cast("bigint").alias("dof"),
        F.round(
            F.sqrt(
                chi2
                / (
                    F.max("n")
                    * F.least(
                        F.count_distinct("c_mktsegment") - 1,
                        F.count_distinct("n_regionkey") - 1,
                    )
                )
            ),
            6,
        ).alias("cramers_v"),
    )


def q_stats_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Mann-Whitney U ('click' vs 'view' event values): the
    rank-sum test computed at the VALUE GRAIN — group events by exact
    value (one shuffle keyed on value), attach the strict cumulative
    count through the range-bucketed prefix sweep, and every tied run's
    average rank is cum_before + (n_v+1)/2 in closed form. R₁ folds as
    Σ n₁ᵥ·avgrank; the tie-corrected normal approximation needs only
    Σ(n_v³−n_v). No row-level rank is ever materialized and the sweep
    parallelizes over value buckets (functions/prefix_sweep.py) — the
    100 TB plan, not a global sort. Ranks live on the exact 0.5 grid, so
    U is bit-identical across engines; only z/r round (6dp)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    grain = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "n1_v"
        ),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "n2_v"
        ),
        F.count("*").alias("n_v"),
    )
    swept = prefix_sweep(
        grain,
        [],
        "value",
        strict_sum_cols={"cum_before": "n_v"},
        # width, not quantile: value-grain sweep on the bounded events
        # value domain — occupancy counts distinct values (axis
        # concentration 2.8× at sf0.1 ⇒ ≥23 effective buckets, and the
        # grid saturates toward exact balance at scale); see
        # functions/percentiles.py's boundary-mode docstring
        boundaries="width",
    )
    ranked = swept.select(
        "n1_v",
        "n2_v",
        "n_v",
        (
            F.coalesce(F.col("cum_before"), F.lit(0))
            + (F.col("n_v") + 1) / F.lit(2.0)
        ).alias("avg_rank"),
    )
    ag = ranked.agg(
        F.sum("n1_v").alias("n1"),
        F.sum("n2_v").alias("n2"),
        F.sum(F.col("n1_v") * F.col("avg_rank")).alias("r1"),
        F.sum(
            F.col("n_v") * F.col("n_v") * F.col("n_v") - F.col("n_v")
        ).alias("tie"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    n = n1 + n2
    u1 = F.col("r1") - n1 * (n1 + 1) / F.lit(2.0)
    mu = n1 * n2 / F.lit(2.0)
    sig2 = (n1 * n2 / F.lit(12.0)) * (
        (n + 1) - F.col("tie") / (n * (n - F.lit(1.0)))
    )
    z = (u1 - mu) / F.sqrt(sig2)
    return ag.select(
        n1.alias("n_click"),
        n2.alias("n_view"),
        F.round(u1, 1).alias("u_stat"),
        F.round(z, 6).alias("z_stat"),
        F.round(1 - 2 * u1 / (n1 * n2), 6).alias("rank_biserial"),
    )


# --------------------------------------------------------------------------
# Kolmogorov–Smirnov and one-way ANOVA
# --------------------------------------------------------------------------

KS_A, KS_B = "view", "click"


def q_stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test between the view and click
    value distributions — the standard drift/shape screen (PSI's
    nonparametric sibling; `q_drift_psi` bins, KS doesn't). Both samples
    collapse to the shared cent-value grain, the two ECDFs come from one
    range-bucketed prefix sweep over that grain, and the decision
    statistic is kept INTEGER-scaled: D·n1·n2 = max|c1·n2 − c2·n1|, so
    the max and its argmax location are exact — no FP tolerance anywhere
    until the final display division. Also emits the α=0.05 two-sample
    threshold c(α)·sqrt((n1+n2)/(n1·n2)) for the read-off."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(KS_A, KS_B)
    )
    grain = ev.groupBy(cents(F.col("value")).alias("v")).agg(
        F.sum(F.when(F.col("event_type") == KS_A, 1).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.sum(F.when(F.col("event_type") == KS_B, 1).otherwise(0))
        .cast("bigint")
        .alias("cb"),
    )
    swept = prefix_sweep(
        grain,
        [],
        "v",
        sum_cols={"cum_a": "ca", "cum_b": "cb"},
        total_sum_cols={"n1": "ca", "n2": "cb"},
        # width, not quantile: the sweep runs at the cent-grid value
        # grain of the bounded events domain — occupancy counts
        # distinct grid values, saturating toward exact balance at
        # scale; see functions/percentiles.py's boundary-mode docstring
        boundaries="width",
    )
    ds = F.abs(
        F.col("cum_a") * F.col("n2") - F.col("cum_b") * F.col("n1")
    ).alias("ds")
    # one struct-max pass: lexicographic (ds, -v) max == max ds, then
    # min v among its attainers — integer fields, so ties break exactly
    scored = swept.select("n1", "n2", ds, (-F.col("v")).alias("negv"))
    m = scored.groupBy("n1", "n2").agg(
        F.max(F.struct("ds", "negv")).alias("m")
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    return m.select(
        "n1",
        "n2",
        F.col("m.ds").alias("d_scaled"),
        g6(F.col("m.ds").cast("double") / (n1d * n2d)).alias("d_stat"),
        g6(F.lit(1.358) * F.sqrt((n1d + n2d) / (n1d * n2d))).alias(
            "d_crit_05"
        ),
        F.round(-F.col("m.negv") / 100.0, 2).alias("ks_at_value"),
    )


def q_stats_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across the five event types (does mean value differ
    by type?) — the k-group generalization `q_stats_ttest` stops short
    of. Everything folds from per-group (n, Σv, Σv²) on the CENT grid:
    the moments are exact integers, so SSB/SSW/F are identical doubles
    on both engines (the F ratio is scale-invariant, the cent unit
    cancels). One groupBy + one 5-row rollup."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(cents(F.col("value"))).alias("s"),
        F.sum(cents(F.col("value")) * cents(F.col("value"))).alias("ss"),
    )
    sd = F.col("s").cast("double")
    rolled = g.agg(
        F.count("*").alias("k"),
        F.sum("n").alias("n_total"),
        F.sum("s").alias("s_tot"),
        F.sum("ss").alias("ss_tot"),
        F.sum(sd * sd / F.col("n").cast("double")).alias("ssq_over_n"),
    )
    st = F.col("s_tot").cast("double")
    nt = F.col("n_total").cast("double")
    ssb = F.col("ssq_over_n") - st * st / nt
    ssw = F.col("ss_tot").cast("double") - F.col("ssq_over_n")
    sst = F.col("ss_tot").cast("double") - st * st / nt
    kd = F.col("k").cast("double")
    f_stat = (ssb / (kd - 1)) / (ssw / (nt - kd))
    return rolled.select(
        "k",
        "n_total",
        g6(f_stat).alias("f_stat"),
        g6(ssb / sst).alias("eta_sq"),
    )


# --------------------------------------------------------------------------
# Spearman rank correlation
# --------------------------------------------------------------------------


def _doubled_ranks_stacked(
    df: DataFrame, part: str, xval: str, yval: str
) -> DataFrame:
    """BOTH variables' value-grain doubled tie-averaged ranks from ONE
    prefix sweep (VERDICT r09 next-round #3 — the r09 shape ran the
    sweep once per variable; the two sweeps shared the fact scan and
    the sketch machinery, so stacking the variables into a single
    (part, var, val) grain halves the sweep executions and reads the
    fact table once for both grains).

    Returns (part, var, val, u) where u = 2·(tie-averaged rank of val
    within (part, var)). Doubling keeps the average rank integral
    (rule 8: values that feed arithmetic stay exact): for a run of n_v
    ties after c earlier rows, avg rank = c + (n_v+1)/2, so
    2·avg = 2c + n_v + 1. The strict cumulative count c comes from the
    range-bucketed prefix sweep — no enum-partition window ever touches
    a data-scaled table. ``var`` rides the sweep's PARTITION key, so
    slice bounds are drawn per (part, var): mixing the two value
    distributions in one column costs no bucket balance. 32 buckets per
    (part, var) slice keep the same part×var×32 parallelism the two
    32-bucket sweeps had, with one bounds pass instead of two.

    The result is PERSISTED (MEMORY_AND_DISK): both rank-attach joins
    consume it, and Spark plans — not caches — shared DataFrame
    branches, so an unpersisted sweep would execute twice and give the
    fold back. The grain is bounded by the value-grid cardinality
    (cents/integer quantities), not by data volume, so the persist is
    control-plane sized at any SF."""
    grain = (
        df.selectExpr(
            part,
            f"stack(2, 'x', {xval}, 'y', {yval}) AS (var, val)",
        )
        .groupBy(part, "var", "val")
        .agg(F.count("*").alias("n_v"))
    )
    return _sweep_stacked_ranks(grain, part)


def _sweep_stacked_ranks(grain: DataFrame, part: str) -> DataFrame:
    """The rank sweep over a pre-built stacked (part, var, val, n_v)
    grain — factored out so q_stats_spearman can feed it the union of
    the two cached canonical grains (r13) while engineered-input tests
    keep the fact-table stack path."""
    from pyspark.storagelevel import StorageLevel

    swept = prefix_sweep(
        grain, [part, "var"], "val", strict_sum_cols={"cum_before": "n_v"},
        # width, not quantile (round-10 second pass): the sweep runs at
        # the VALUE GRAIN, where slice occupancy counts DISTINCT grid
        # values — the quantity grid and cent-grid prices are near-dense
        # on their ranges (max/avg ≤ 1.05 measured at sf0.1), and bounds
        # are drawn per (part, var) so each variable gets its own range;
        # skips the GK sketch + per-row edge scan entirely. See
        # functions/percentiles.py's boundary-mode docstring.
        n_buckets=32, boundaries="width",
    )
    return swept.select(
        part,
        "var",
        "val",
        "n_v",
        (
            2 * F.coalesce(F.col("cum_before"), F.lit(0))
            + F.col("n_v")
            + 1
        ).alias("u"),
    ).persist(StorageLevel.MEMORY_AND_DISK)


_RANK_SQL = """
        SELECT l_returnflag, {val} AS v,
               2 * coalesce(sum(count(*)) OVER (
                       PARTITION BY l_returnflag ORDER BY {val}
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) + count(*) + 1 AS {out}
        FROM lineitem GROUP BY l_returnflag, {val}
"""


def q_stats_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between l_quantity and l_extendedprice
    per return flag — the monotone-association screen run before
    assuming linearity. Tie-averaged ranks are attached at the VALUE
    GRAIN (doubling keeps them integral), rows join back by (flag,
    value), and rho folds from five exact DECIMAL(38,0) moments with the
    closed Pearson-on-ranks form: every double is one correctly-rounded
    cast/sqrt/mul/div chain over the same integers in both engines.

    Perf note (VERDICT r06/r07 next-round #7, measured r08; rewritten
    r09 next-round #3): both variables' ranks fold from ONE stacked
    prefix sweep (see _doubled_ranks_stacked), and the moment fold now
    never sort-merge-joins the row table at all. The r09 shape shuffled
    the full fact TWICE (one rank-attach join per variable); the key
    observation is an asymmetric grain: the quantity grain is
    GRID-BOUNDED (≈ 50 integer values × flags — broadcast-sized at any
    data volume), while the price grain is cent-grid bounded but large.
    So the x-rank attaches to rows via a broadcast hash join (AQE picks
    it from the persisted table's runtime size — map-only, no fact
    shuffle), rows then collapse to the PRICE GRAIN with map-side
    partial sums of (n_p, Σux, Σux²), and the y-rank attaches with one
    grain×grain equi-join. Every moment is a sum of exact integers
    regrouped by price value — addition order is irrelevant, so the
    fold is bit-identical to the row-level one and hash parity with the
    unchanged DuckDB oracle holds. Net: one map-side broadcast probe +
    one grain shuffle replace two full-fact shuffle-sorts."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    return _spearman_fold(li, ranks=_stacked_ranks_from_cached(spark, sf_dir))


def _stacked_ranks_from_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stacked (part, var, val) rank sweep INPUT assembled from the
    two canonical shared grains (functions/grain_cache.py) instead of a
    fresh stack+groupBy over the fact table (r13 — the q_agg_percentile
    union trick applied here): the grain rows are the same multiset
    (``var`` discriminates, so grouping the stack equals unioning the
    per-axis groupings — tests/test_grain_cache.py pins it), and both
    axes are pre-warmed in-suite, so the rank sweep becomes entirely
    grain-side and spearman's only remaining fact scan is the moment
    fold. Ranks are identical: the sweep runs on the same (part, var,
    val, n_v) rows either way."""
    from zonal_datacube_spark.functions.grain_cache import (
        SWEPT_COUNT,
        SWEPT_CUM,
        table_swept_grain,
    )

    # r13 second pass: the doubled tie-averaged rank is pure arithmetic
    # on the SWEPT grain's exact inclusive cumulative count — with
    # cum_before = _gp_cum − n_v, u = 2·cum_before + n_v + 1
    # = 2·_gp_cum − n_v + 1 — so spearman's rank attach no longer runs
    # ANY sweep of its own: both axes read the shared swept entries
    # (functions/grain_cache.table_swept_grain) map-side. Integer
    # arithmetic on the same integers the stacked sweep produced —
    # identical ranks, hash parity with the unchanged oracle.
    qty = table_swept_grain(
        spark, sf_dir, "lineitem", ("l_returnflag",),
        "CAST(l_quantity AS DOUBLE)", "l_quantity",
    )
    price = table_swept_grain(
        spark, sf_dir, "lineitem", ("l_returnflag",),
        "l_extendedprice", "l_extendedprice",
    )
    u = (2 * F.col(SWEPT_CUM) - F.col(SWEPT_COUNT) + 1).alias("u")
    return qty.select(
        "l_returnflag",
        F.lit("x").alias("var"),
        F.col("l_quantity").alias("val"),
        F.col(SWEPT_COUNT).alias("n_v"),
        u,
    ).unionByName(
        price.select(
            "l_returnflag",
            F.lit("y").alias("var"),
            F.col("l_extendedprice").alias("val"),
            F.col(SWEPT_COUNT).alias("n_v"),
            u,
        )
    )


def _spearman_fold(li: DataFrame, ranks: DataFrame | None = None) -> DataFrame:
    """The full pipeline on a (l_returnflag, l_quantity,
    l_extendedprice) frame — split out so tests can feed ENGINEERED
    inputs the fixture never produces (NULLs in either value column:
    the statistic's row universe is rows present in BOTH grains, and
    n_p must be counted in that joined universe, never taken from the
    y-grain — see the in-body comment)."""
    if ranks is None:
        ranks = _doubled_ranks_stacked(
            li, "l_returnflag", "l_quantity", "l_extendedprice"
        )
    xr = ranks.filter(F.col("var") == "x").select(
        "l_returnflag",
        F.col("val").alias("l_quantity"),
        F.col("u").alias("ux"),
    )
    yr = ranks.filter(F.col("var") == "y").select(
        "l_returnflag",
        F.col("val").alias("l_extendedprice"),
        F.col("u").alias("uy"),
    )
    # price-grain partial moments of the x-rank (exact integers: count,
    # Σux, Σux² per (flag, price)). n_p is counted HERE, not taken from
    # the y-grain's n_v: the statistic's row universe is rows that
    # inner-join BOTH grains (the oracle's JOIN xr JOIN yr), and a row
    # with a NULL quantity is in the y-grain but not here.
    ux = wide(F.col("ux"))
    pg = (
        li.join(xr, ["l_returnflag", "l_quantity"])
        .groupBy("l_returnflag", "l_extendedprice")
        .agg(
            F.count("*").alias("n_p"),
            F.sum(ux).alias("sux"),
            F.sum(ux * ux).alias("suxx"),
        )
    )
    joined = pg.join(yr, ["l_returnflag", "l_extendedprice"])
    npd, uy = wide(F.col("n_p")), wide(F.col("uy"))
    s = joined.groupBy("l_returnflag").agg(
        F.sum("n_p").alias("n_rows"),
        F.sum(F.col("sux")).alias("su"),
        F.sum(npd * uy).alias("sv"),
        F.sum(F.col("sux") * uy).alias("suv"),
        F.sum(F.col("suxx")).alias("suu"),
        F.sum(npd * uy * uy).alias("svv"),
    )
    n = wide(F.col("n_rows"))
    num = (n * F.col("suv") - F.col("su") * F.col("sv")).cast("double")
    a = (n * F.col("suu") - F.col("su") * F.col("su")).cast("double")
    b = (n * F.col("svv") - F.col("sv") * F.col("sv")).cast("double")
    return s.select(
        "l_returnflag",
        "n_rows",
        g6(num / (F.sqrt(a) * F.sqrt(b))).alias("spearman_rho"),
    )


# --------------------------------------------------------------------------
# Kendall tau-b
# --------------------------------------------------------------------------


def q_stats_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between daily event count and daily value sum per
    event type — the concordance test robust to any monotone rescaling.
    Pairs come from the TIME-BOUNDED day grain (never raw events): one
    broadcast self-join of the daily table on (type, d1 < d2), then
    exact integer counts of concordant / discordant / x-tied / y-tied
    pairs fold tau-b = (C−D)/(√(n0−tx)·√(n0−ty)) as a fixed chain of
    correctly-rounded double ops. Cent-grid daily sums make every pair
    comparison integer-exact (rule 6)."""
    daily = daily_grain(spark, sf_dir)
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        F.broadcast(b),
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.d") < F.col("b.d")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (F.col("b.nd") - F.col("a.nd")).alias("dx"),
        (F.col("b.sd") - F.col("a.sd")).alias("dy"),
    )
    pos = (F.col("dx") > 0) & (F.col("dy") > 0)
    neg = (F.col("dx") < 0) & (F.col("dy") < 0)
    stats = pairs.groupBy("event_type").agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.when(pos | neg, 1).otherwise(0)).alias("concordant"),
        F.sum(
            F.when(
                ((F.col("dx") > 0) & (F.col("dy") < 0))
                | ((F.col("dx") < 0) & (F.col("dy") > 0)),
                1,
            ).otherwise(0)
        ).alias("discordant"),
        F.sum(F.when(F.col("dx") == 0, 1).otherwise(0)).alias("tied_x"),
        F.sum(F.when(F.col("dy") == 0, 1).otherwise(0)).alias("tied_y"),
    )
    ax = (F.col("n_pairs") - F.col("tied_x")).cast("double")
    ay = (F.col("n_pairs") - F.col("tied_y")).cast("double")
    tau = F.when(
        (F.col("n_pairs") > F.col("tied_x"))
        & (F.col("n_pairs") > F.col("tied_y")),
        (F.col("concordant") - F.col("discordant")).cast("double")
        / (F.sqrt(ax) * F.sqrt(ay)),
    )
    return stats.select(
        "event_type",
        "n_pairs",
        "concordant",
        "discordant",
        g6(tau).alias("tau_b"),
    )


QUERIES = {
    "q_ab_wilson": q_ab_wilson,
    "q_stats_ttest": q_stats_ttest,
    "q_stats_chi2": q_stats_chi2,
    "q_stats_mannwhitney": q_stats_mannwhitney,
    "q_stats_ks_test": q_stats_ks_test,
    "q_stats_anova": q_stats_anova,
    "q_stats_spearman": q_stats_spearman,
    "q_stats_kendall": q_stats_kendall,
}


_XRANK = _RANK_SQL.format(val="l_quantity", out="ux")
_YRANK = _RANK_SQL.format(val="l_extendedprice", out="uy")


ORACLE = {
    "q_ab_wilson": f"""
        WITH users AS (
            SELECT user_id,
                   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS conv
            FROM events GROUP BY user_id
        ),
        seg AS (
            SELECT c.c_mktsegment,
                   count(*) AS n_users,
                   sum(u.conv)::BIGINT AS n_conv
            FROM users u JOIN customer c ON c.c_custkey = u.user_id + 1
            GROUP BY 1
        )
        SELECT c_mktsegment, n_users, n_conv,
               round(n_conv * 1.0 / n_users, 6) AS conv_rate,
               round(((n_conv * 1.0 / n_users) + {WILSON_Z} * {WILSON_Z} / (2 * n_users)
                      - {WILSON_Z} * sqrt((n_conv * 1.0 / n_users) * (1 - n_conv * 1.0 / n_users) / n_users
                                          + {WILSON_Z} * {WILSON_Z} / (4 * n_users * n_users)))
                     / (1 + {WILSON_Z} * {WILSON_Z} / n_users), 6) AS wilson_low,
               round(((n_conv * 1.0 / n_users) + {WILSON_Z} * {WILSON_Z} / (2 * n_users)
                      + {WILSON_Z} * sqrt((n_conv * 1.0 / n_users) * (1 - n_conv * 1.0 / n_users) / n_users
                                          + {WILSON_Z} * {WILSON_Z} / (4 * n_users * n_users)))
                     / (1 + {WILSON_Z} * {WILSON_Z} / n_users), 6) AS wilson_high
        FROM seg
    """,
    "q_stats_ttest": """
        WITH per AS (
            SELECT event_type, count(*)::BIGINT AS n1,
                   sum(value) AS s1, sum(value * value) AS ss1
            FROM events GROUP BY event_type
        ),
        tot AS (
            SELECT count(*)::BIGINT AS nt, sum(value) AS st,
                   sum(value * value) AS sst
            FROM events
        ),
        derived AS (
            SELECT event_type, n1, nt - n1 AS n2,
                   s1 / n1 AS m1,
                   (st - s1) / nullif(nt - n1, 0) AS m2,
                   (ss1 - s1 * s1 / n1) / nullif(n1 - 1, 0) / n1 AS a,
                   ((sst - ss1)
                    - (st - s1) * (st - s1) / nullif(nt - n1, 0))
                       / nullif(nt - n1 - 1, 0)
                       / nullif(nt - n1, 0) AS b
            FROM per, tot
        )
        SELECT event_type, n1 AS n_rows,
               round(m1, 6) AS mean_v,
               round(m2, 6) AS rest_mean,
               round((m1 - m2) / sqrt(a + b), 6) AS t_stat,
               round((a + b) * (a + b)
                     / (a * a / nullif(n1 - 1, 0)
                        + b * b / nullif(n2 - 1, 0)), 6) AS welch_df
        FROM derived
        ORDER BY event_type
    """,
    "q_stats_chi2": """
        WITH cells AS (
            SELECT c.c_mktsegment, n.n_regionkey, count(*)::BIGINT AS o
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY 1, 2
        ),
        seg_t AS (SELECT c_mktsegment, sum(o)::BIGINT AS st FROM cells
                  GROUP BY 1),
        reg_t AS (SELECT n_regionkey, sum(o)::BIGINT AS rt FROM cells
                  GROUP BY 1),
        grand AS (SELECT sum(o)::BIGINT AS n FROM cells),
        grid AS (
            SELECT coalesce(c.o, 0) AS o,
                   s.st * r.rt / g.n::DOUBLE AS e,
                   g.n, s.c_mktsegment, r.n_regionkey
            FROM seg_t s CROSS JOIN reg_t r CROSS JOIN grand g
            LEFT JOIN cells c
              ON c.c_mktsegment = s.c_mktsegment
             AND c.n_regionkey = r.n_regionkey
        )
        SELECT max(n)::BIGINT AS n_customers,
               count(*)::BIGINT AS n_cells,
               round(sum((o - e) * (o - e) / e), 6) AS chi2,
               ((count(DISTINCT c_mktsegment) - 1)
                * (count(DISTINCT n_regionkey) - 1))::BIGINT AS dof,
               round(sqrt(sum((o - e) * (o - e) / e)
                          / (max(n) * least(count(DISTINCT c_mktsegment) - 1,
                                            count(DISTINCT n_regionkey) - 1))),
                     6) AS cramers_v
        FROM grid
    """,
    "q_stats_mannwhitney": """
        WITH vg AS (
            SELECT value,
                   sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                       ::BIGINT AS n1_v,
                   sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                       ::BIGINT AS n2_v,
                   count(*)::BIGINT AS n_v
            FROM events WHERE event_type IN ('click', 'view')
            GROUP BY value
        ),
        sw AS (
            SELECT n1_v, n2_v, n_v,
                   coalesce(sum(n_v) OVER (
                       ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) + (n_v + 1) / 2.0 AS avg_rank
            FROM vg
        ),
        ag AS (
            SELECT sum(n1_v)::BIGINT AS n1, sum(n2_v)::BIGINT AS n2,
                   sum(n1_v * avg_rank) AS r1,
                   sum(n_v * n_v * n_v - n_v)::BIGINT AS tie
            FROM sw
        )
        SELECT n1 AS n_click, n2 AS n_view,
               round(r1 - n1 * (n1 + 1) / 2.0, 1) AS u_stat,
               round(((r1 - n1 * (n1 + 1) / 2.0) - n1 * n2 / 2.0)
                     / sqrt(n1 * n2 / 12.0
                            * ((n1 + n2 + 1)
                               - tie / ((n1 + n2) * (n1 + n2 - 1.0)))),
                     6) AS z_stat,
               round(1 - 2 * (r1 - n1 * (n1 + 1) / 2.0) / (n1 * n2), 6)
                   AS rank_biserial
        FROM ag
    """,
    "q_stats_ks_test": f"""
        WITH s AS (
            SELECT {CENTS_SQL.format(x='value')} AS v, event_type AS t
            FROM events WHERE event_type IN ('{KS_A}', '{KS_B}')
        ),
        g AS (
            SELECT v,
                   count_if(t = '{KS_A}')::BIGINT AS ca,
                   count_if(t = '{KS_B}')::BIGINT AS cb
            FROM s GROUP BY v
        ),
        tot AS (
            SELECT sum(ca)::BIGINT AS n1, sum(cb)::BIGINT AS n2 FROM g
        ),
        c AS (
            SELECT v,
                   sum(ca) OVER (ORDER BY v)::BIGINT AS cum_a,
                   sum(cb) OVER (ORDER BY v)::BIGINT AS cum_b
            FROM g
        ),
        d AS (
            SELECT v,
                   abs(cum_a * tot.n2 - cum_b * tot.n1)::BIGINT AS ds
            FROM c, tot
        ),
        m AS (SELECT max(ds)::BIGINT AS md FROM d)
        SELECT tot.n1, tot.n2, m.md AS d_scaled,
               {G6_SQL.format(x='m.md::DOUBLE / (tot.n1::DOUBLE * tot.n2::DOUBLE)')}
                   AS d_stat,
               {G6_SQL.format(x='1.358 * sqrt((tot.n1::DOUBLE + tot.n2::DOUBLE) / (tot.n1::DOUBLE * tot.n2::DOUBLE))')}
                   AS d_crit_05,
               round(min(d.v) / 100.0, 2) AS ks_at_value
        FROM d, m, tot
        WHERE d.ds = m.md
        GROUP BY tot.n1, tot.n2, m.md
    """,
    "q_stats_anova": f"""
        WITH q AS (
            SELECT event_type, {CENTS_SQL.format(x='value')} AS v
            FROM events
        ),
        g AS (
            SELECT event_type, count(*)::BIGINT AS n,
                   sum(v)::BIGINT AS s, sum(v * v)::BIGINT AS ss
            FROM q GROUP BY event_type
        ),
        r AS (
            SELECT count(*)::BIGINT AS k,
                   sum(n)::BIGINT AS n_total,
                   sum(s)::BIGINT AS s_tot,
                   sum(ss)::BIGINT AS ss_tot,
                   sum(s::DOUBLE * s::DOUBLE / n::DOUBLE) AS ssq_over_n
            FROM g
        )
        SELECT k, n_total,
               {G6_SQL.format(x='((ssq_over_n - s_tot::DOUBLE * s_tot::DOUBLE / n_total::DOUBLE) / (k::DOUBLE - 1)) / ((ss_tot::DOUBLE - ssq_over_n) / (n_total::DOUBLE - k::DOUBLE))')}
                   AS f_stat,
               {G6_SQL.format(x='(ssq_over_n - s_tot::DOUBLE * s_tot::DOUBLE / n_total::DOUBLE) / (ss_tot::DOUBLE - s_tot::DOUBLE * s_tot::DOUBLE / n_total::DOUBLE)')}
                   AS eta_sq
        FROM r
    """,
    "q_stats_spearman": f"""
        WITH xr AS ({_XRANK}),
        yr AS ({_YRANK}),
        r AS (
            SELECT l.l_returnflag,
                   xr.ux::HUGEINT AS ux, yr.uy::HUGEINT AS uy
            FROM lineitem l
            JOIN xr ON l.l_returnflag = xr.l_returnflag
                   AND l.l_quantity = xr.v
            JOIN yr ON l.l_returnflag = yr.l_returnflag
                   AND l.l_extendedprice = yr.v
        ),
        s AS (
            SELECT l_returnflag, count(*)::HUGEINT AS n,
                   sum(ux) AS su, sum(uy) AS sv,
                   sum(ux * uy) AS suv,
                   sum(ux * ux) AS suu,
                   sum(uy * uy) AS svv
            FROM r GROUP BY l_returnflag
        )
        SELECT l_returnflag, n::BIGINT AS n_rows,
               {G6_SQL.format(
                   x="(n * suv - su * sv)::DOUBLE"
                   " / (sqrt((n * suu - su * su)::DOUBLE)"
                   " * sqrt((n * svv - sv * sv)::DOUBLE))"
               )} AS spearman_rho
        FROM s ORDER BY l_returnflag
    """,
    "q_stats_kendall": f"""
        WITH daily AS ({DAILY_GRAIN_SQL}),
        pairs AS (
            SELECT a.event_type,
                   b.nd - a.nd AS dx, b.sd - a.sd AS dy
            FROM daily a JOIN daily b
              ON a.event_type = b.event_type AND a.d < b.d
        ),
        s AS (
            SELECT event_type,
                   count(*)::BIGINT AS n_pairs,
                   sum(CASE WHEN (dx > 0 AND dy > 0)
                              OR (dx < 0 AND dy < 0)
                            THEN 1 ELSE 0 END)::BIGINT AS concordant,
                   sum(CASE WHEN (dx > 0 AND dy < 0)
                              OR (dx < 0 AND dy > 0)
                            THEN 1 ELSE 0 END)::BIGINT AS discordant,
                   sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END)::BIGINT
                       AS tied_x,
                   sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END)::BIGINT
                       AS tied_y
            FROM pairs GROUP BY event_type
        )
        SELECT event_type, n_pairs, concordant, discordant,
               CASE WHEN n_pairs > tied_x AND n_pairs > tied_y THEN
                   {G6_SQL.format(
                       x="(concordant - discordant)::DOUBLE"
                       " / (sqrt((n_pairs - tied_x)::DOUBLE)"
                       " * sqrt((n_pairs - tied_y)::DOUBLE))"
                   )}
               END AS tau_b
        FROM s ORDER BY event_type
    """,
}
