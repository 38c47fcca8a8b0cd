#!/usr/bin/env python
"""Fourth scaling point for the grain-bounded value sweeps
(VERDICT r10 next-round #2).

SCALING.json measures every key at sf0.001/0.01/0.1; the width-mode
argument for the value-grain prefix sweeps ("bounded grids go dense at
100 TB, so the grain stops growing and width boundaries are exactly
balanced", SURVEY §8.5 / functions/percentiles.py) was extrapolated
from sf0.1. This tool manufactures a ~10× corpus (sf1x) by self-union
with RE-KEYED ids and ON-GRID value jitter, then measures the
grain-bounded keys at the 4th point and — the part a wall-clock number
alone can't show — decomposes each ratio into GRAIN growth × time per
grain row:

* fact ids shift by copy·1e9 (keys stay unique, orders↔lineitem FKs
  stay consistent);
* graining values shift by copy·0.01 — still on the cent grid, same
  domain, so new copies mimic fresh draws from the same quantized
  distribution instead of freezing the grain at 1× (a verbatim
  self-union would hand the sweep a grain that never grows — the
  favorable case, not the honest one);
* dates/timestamps stay — the day/minute grains are bounded by TIME
  SPAN and saturate immediately (that IS their claim);
* documents duplicate verbatim (token-count grains are already dense).

What "bending toward the asymptote" means per table (cent-grid cells ×
enum parts vs rows at sf1x):

* events.value lives on a ~20k-cell grid — at 1M rows the per-(type,
  cent) grain crosses saturation and its growth must measurably drop
  below 10×;
* lineitem.l_extendedprice (~1e7 cells) approaches ~0.6 rows/cell —
  growth should begin dipping under 10×;
* orders.o_totalprice (~6e7 cells) is still sparse at 15M rows — grain
  growth stays ~10× HERE, and saturation arrives only at the 100 TB
  row counts the claim targets (1.5e9 orders → ~25 rows/cell); the
  artifact records that honestly instead of claiming a bend.

The gate is therefore time-per-grain-row: for every key,
t(sf1x)/t(sf0.1) divided by grain growth must stay ≤ ~2× — the sweep's
cost is its grain, so a flat normalized ratio IS the asymptote argument
even where the grain itself still grows.

The synthetic corpora are derived layouts of the base corpus
(``sources/derived.py``): each lands under
``$TMPDIR/zds_layouts/<corpus tag>/<name>``, is built once, and is
rebuilt when the base corpus changes.

Writes SCALING4.json + SCALING4.md. Usage:
  python tools/scaling_point4.py [--saturation-only] [key ...]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from zonal_datacube_spark.functions.exact import cents
from zonal_datacube_spark.registry import all_queries
from zonal_datacube_spark.session import get_spark
from zonal_datacube_spark.sources.derived import layout
from zonal_datacube_spark.sources.loader import TABLES, load_table

BASE_SF = "/root/testdata/sf0.1"
N_COPIES = 10
ID_OFF = 1_000_000_000
N_RUNS = 3

# the grain-bounded keys the width-mode / saturation argument covers
KEYS = [
    "q_agg_gini",
    "q_agg_weighted_median",
    "q_agg_quantiles_multi",
    "q_agg_percentile",
    "q_agg_percentile_disc",
    "q_agg_winsorized_mean",
    "q_stats_mannwhitney",
    "q_stats_ks_test",
    "q_stats_spearman",
    "q_window_ntile",
    "q_dq_outlier_iqr",
    "q_dq_outlier_mad",
    "q_data_curriculum_tokens",
    "q_report_order_gap_stats",
]

# table-level grain probes (part × value-grid distinct counts) used to
# decompose each key's wall-clock ratio into grain growth × per-row cost
GRAINS = {
    "lineitem (flag, price)": (
        "lineitem",
        lambda df: df.select("l_returnflag", "l_extendedprice"),
    ),
    "orders (priority, totalprice)": (
        "orders",
        lambda df: df.select("o_orderpriority", "o_totalprice"),
    ),
    "events (type, value cents)": (
        "events",
        lambda df: df.select("event_type", cents(F.col("value")).alias("vc")),
    ),
    "documents (token count)": (
        "documents",
        lambda df: df.select(
            F.size(F.split(F.col("text"), r"\s+")).alias("ntok")
        ),
    ),
}

# ---- the iterative / join-heavy class (VERDICT r11 next-round #5) ----
# These keys' 100x survival was previously argued from plan shape alone;
# the sf1x corpus now measures them. No grain normalization applies —
# each row records the wall ratio plus the OUTPUT-row growth and a note
# naming the expected cost driver, because several of these face a
# deliberately adversarial corpus: verbatim 10x copies give every
# document/vector/part-name 9 exact twins, so true duplicate PAIRS grow
# ~45x per entity (C(10,2)) — superlinear OUTPUT is the honest physics
# of duplication, and the gate is that WALL tracks the bounded candidate
# work, not the naive all-pairs blowup.
ITER_KEYS = {
    "q_graph_triangles": (
        "10x rows touch only the edge ROLLUP scan; the triangle join "
        "runs on the fixed nation-grain graph"
    ),
    "q_graph_pagerank": (
        "same fixed-grain rolled-up edges; 5 rank iterations cost the "
        "same after the 10x rollup scan"
    ),
    "q_dedup_near": (
        "verbatim copies: every doc gains 9 exact twins; candidates stay "
        "bounded by the banded shingle index (prefix filter), output "
        "pairs grow with true duplication"
    ),
    "q_dedup_minhash": (
        "banded signature join; 10 identical signatures per band bucket "
        "multiply in-bucket pairs — the hot-bucket case the band width "
        "bounds"
    ),
    "q_dedup_clusters": (
        "connected components over the minhash pair set; components are "
        "10-copy stars, so iterations stay shallow"
    ),
    "q_sim_join": (
        "sign-LSH bucket join over 10x vectors with 10 exact twins per "
        "bucket; in-bucket pair work grows ~45x per original vector"
    ),
    "q_ts_resample_interp": (
        "two-level chunk carries over 10x event rows; grid points per "
        "(type, bucket) grow with the time span, which is fixed — cost "
        "is the extra scan"
    ),
    "q_er_fuzzy_block": (
        "NAME-GRAIN fuzzy join: verbatim copies leave the distinct-name "
        "grain unchanged, so the levenshtein pair set does not grow at "
        "all — the types-not-tokens claim, now measured"
    ),
}

# which grain probe explains which key's sweep input
KEY_GRAIN = {
    "q_agg_gini": "orders (priority, totalprice)",
    "q_agg_weighted_median": "lineitem (flag, price)",
    "q_agg_quantiles_multi": "lineitem (flag, price)",
    "q_agg_percentile": "lineitem (flag, price)",
    "q_agg_percentile_disc": "lineitem (flag, price)",
    "q_agg_winsorized_mean": "lineitem (flag, price)",
    "q_stats_mannwhitney": "events (type, value cents)",
    "q_stats_ks_test": "events (type, value cents)",
    "q_stats_spearman": "lineitem (flag, price)",
    "q_window_ntile": "orders (priority, totalprice)",
    "q_dq_outlier_iqr": "lineitem (flag, price)",
    "q_dq_outlier_mad": "events (type, value cents)",
    "q_data_curriculum_tokens": "documents (token count)",
    "q_report_order_gap_stats": "orders (priority, totalprice)",
}


def fan_out(
    spark,
    base_sf: str,
    dest: str,
    n_copies: int,
    repls: dict[str, dict[str, F.Column]],
) -> None:
    """Write each table named in ``repls`` ``n_copies``x to ``dest``, its
    columns replaced per copy by expressions over the copy index ``_cp``;
    copy every other table verbatim."""
    os.makedirs(dest)
    copies = spark.range(n_copies).select(F.col("id").alias("_cp"))
    for table in TABLES:
        out = os.path.join(dest, f"{table}.parquet")
        if table not in repls:
            shutil.copyfile(os.path.join(base_sf, f"{table}.parquet"), out)
            continue
        df = load_table(spark, base_sf, table)
        cols = [repls[table].get(c, F.col(c)).alias(c) for c in df.columns]
        df.crossJoin(copies).select(*cols).repartition(16).write.parquet(out)


def build_sf1x(spark, base_sf: str = BASE_SF, n_copies: int = N_COPIES) -> str:
    """Path of the ``n_copies``x corpus, built on first use."""

    def build(dest: str) -> None:
        cp = F.col("_cp")
        rekey = lambda c: F.col(c) + cp * ID_OFF  # noqa: E731
        jitter = lambda c: F.col(c) + cp * F.lit(0.01)  # noqa: E731
        fan_out(
            spark,
            base_sf,
            dest,
            n_copies,
            {
                "orders": {
                    "o_orderkey": rekey("o_orderkey"),
                    "o_totalprice": jitter("o_totalprice"),
                },
                "lineitem": {
                    "l_orderkey": rekey("l_orderkey"),
                    "l_extendedprice": jitter("l_extendedprice"),
                },
                "events": {"event_id": rekey("event_id"), "value": jitter("value")},
                "documents": {"doc_id": rekey("doc_id")},
                # vectors and part rows duplicate VERBATIM under fresh keys —
                # the duplicate-heavy corpus every real 10x ingest carries
                # (exact twins are what dedup/LSH tiers exist to absorb;
                # jitter would dodge the stress instead of measuring it)
                "embeddings": {"vec_id": rekey("vec_id")},
                "part": {"p_partkey": rekey("p_partkey")},
            },
        )

    return layout(base_sf, TABLES, f"sf1x-x{n_copies}", build)


# ---- saturation bend (r13 — VERDICT r12 next-round #4) ----------------
# SCALING4 honestly recorded that the lineitem (flag, price) and orders
# (priority, totalprice) grains still grow ~10x at sf1x: their cent
# grids are orders of magnitude larger than sf0.1's row count, so
# domain saturation — the regime the width-mode/flat-cost claim actually
# targets at 100 TB — was argued, not measured. This section MEASURES
# it: a second fan whose on-grid jitter wraps inside a CAPPED cent
# domain sized below rows-per-part, so at 10x rows the grain has
# nowhere left to grow. Two corpora per cap (1 copy and 10 copies, both
# through the same wrap so the comparison is apples-to-apples), the
# value-grain cells counted at each, and the grain-dominated keys timed
# at both points. Done-bar: grain growth < 2x at 10x rows with the
# wall tracking the grain, not the row count.
SAT_CAP_LI = 60_000  # lineitem price cents wrap into [0, 600.00)
SAT_CAP_ORD = 20_000  # orders totalprice cents wrap into [0, 200.00)
SAT_KEYS = {
    # key -> (grain probe label, which table feeds it)
    "q_agg_quantiles_multi": "lineitem (flag, price)",
    "q_dq_outlier_iqr": "lineitem (flag, price)",
    "q_agg_gini": "orders (priority, totalprice)",
}


def build_saturated(spark, n_copies: int) -> str:
    """Path of the capped corpus: lineitem + orders fanned ``n_copies``x
    with ids re-keyed and value cents wrapped into the capped grids (a
    distinct prime stride per copy mimics fresh draws from the bounded
    domain); every other table copies verbatim — the measured keys read
    only lineitem/orders. Built on first use."""

    def build(dest: str) -> None:
        cp = F.col("_cp")

        def wrap(col: str, cap: int) -> F.Column:
            return (
                F.pmod(cents(F.col(col)) + cp * F.lit(9973), F.lit(cap)).cast("double")
                / 100.0
            )

        fan_out(
            spark,
            BASE_SF,
            dest,
            n_copies,
            {
                "lineitem": {
                    "l_orderkey": F.col("l_orderkey") + cp * ID_OFF,
                    "l_extendedprice": wrap("l_extendedprice", SAT_CAP_LI),
                },
                "orders": {
                    "o_orderkey": F.col("o_orderkey") + cp * ID_OFF,
                    "o_totalprice": wrap("o_totalprice", SAT_CAP_ORD),
                },
            },
        )

    name = f"sat-x{n_copies}-li{SAT_CAP_LI}-ord{SAT_CAP_ORD}"
    return layout(BASE_SF, TABLES, name, build)


def measure_saturation(spark, queries) -> dict:
    sat = {"sat1": build_saturated(spark, 1), "sat10": build_saturated(spark, N_COPIES)}
    out: dict = {"grains": {}, "results": {}}
    for gname, (table, proj) in GRAINS.items():
        if gname not in set(SAT_KEYS.values()):
            continue
        g1 = proj(load_table(spark, sat["sat1"], table)).distinct().count()
        g10 = proj(load_table(spark, sat["sat10"], table)).distinct().count()
        out["grains"][gname] = {
            "sat1": g1,
            "sat10": g10,
            "growth": round(g10 / g1, 2),
        }
    for k, gname in SAT_KEYS.items():
        times = {}
        for label, dest in sat.items():
            queries[k](spark, dest).count()  # warm
            runs = []
            for _ in range(N_RUNS):
                t0 = time.perf_counter()
                queries[k](spark, dest).count()
                runs.append(time.perf_counter() - t0)
            runs.sort()
            times[label] = round(runs[len(runs) // 2], 3)
        g = out["grains"][gname]
        ratio = times["sat10"] / times["sat1"] if times["sat1"] else None
        out["results"][k] = {
            "sat1": times["sat1"],
            "sat10": times["sat10"],
            "wall_ratio": round(ratio, 2),
            "grain": gname,
            "grain_growth": g["growth"],
        }
        print(
            f"{k}: sat1 {times['sat1']} -> sat10 {times['sat10']} s "
            f"({ratio:.2f}x wall at 10x rows; grain {g['growth']:.2f}x)",
            file=sys.stderr,
        )
    return out


def main() -> int:
    if "--saturation-only" in sys.argv[1:]:
        # debug mode while iterating on the capped fan: measures and
        # prints the saturation section, writes NO artifacts (same
        # no-clobber rule as key subsets)
        spark = get_spark("zds-scaling4")
        sat = measure_saturation(spark, all_queries())
        print(json.dumps(sat))
        return 0
    only = sys.argv[1:]
    queries = all_queries()
    # validate BEFORE the expensive corpus build: a key must exist, be in
    # one of the two measured classes (grain-bounded sweep, with a grain
    # probe to normalize by, or the iterative/join-heavy class with its
    # documented cost driver), and have a committed sf0.1 baseline row
    bad = [
        k
        for k in only
        if k not in queries or (k not in KEY_GRAIN and k not in ITER_KEYS)
    ]
    if bad:
        print(
            f"keys outside both measured classes: {bad}",
            file=sys.stderr,
        )
        return 2
    keys = [k for k in (only or KEYS) if k in KEY_GRAIN]
    iter_keys = [k for k in (only or ITER_KEYS) if k in ITER_KEYS]
    with open("SCALING.json") as f:
        base = json.load(f)["results"]
    no_base = [
        k for k in keys + iter_keys if k not in base or "sf0.1" not in base[k]
    ]
    if no_base:
        print(
            f"keys without an sf0.1 baseline in SCALING.json: {no_base}",
            file=sys.stderr,
        )
        return 2

    spark = get_spark("zds-scaling4")
    dest = build_sf1x(spark)

    grains: dict[str, dict[str, int]] = {}
    for gname, (table, proj) in GRAINS.items():
        grains[gname] = {
            "sf0.1": proj(load_table(spark, BASE_SF, table)).distinct().count(),
            "sf1x": proj(load_table(spark, dest, table)).distinct().count(),
        }

    results: dict[str, dict[str, float]] = {}
    for k in keys:
        queries[k](spark, dest).count()  # warm
        times = []
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            queries[k](spark, dest).count()
            times.append(time.perf_counter() - t0)
        times.sort()
        t1x = round(times[len(times) // 2], 3)
        t01 = base[k]["sf0.1"]
        g = grains[KEY_GRAIN[k]]
        ggrow = g["sf1x"] / g["sf0.1"]
        ratio = t1x / t01 if t01 else float("inf")
        results[k] = {
            "sf0.1": t01,
            "sf1x": t1x,
            "ratio": round(ratio, 2),
            "grain": KEY_GRAIN[k],
            "grain_growth": round(ggrow, 2),
            "per_grain_ratio": round(ratio / ggrow, 2),
        }
        print(f"{k}: {t01} -> {t1x} s ({ratio:.2f}x; grain {ggrow:.2f}x; "
              f"normalized {ratio/ggrow:.2f}x)", file=sys.stderr)

    # ---- the iterative / join-heavy class: wall ratio + output growth ----
    iter_results: dict[str, dict] = {}
    for k in iter_keys:
        rows01 = queries[k](spark, BASE_SF).count()
        rows1x = queries[k](spark, dest).count()  # warm
        times = []
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            queries[k](spark, dest).count()
            times.append(time.perf_counter() - t0)
        times.sort()
        t1x = round(times[len(times) // 2], 3)
        t01 = base[k]["sf0.1"]
        ratio = t1x / t01 if t01 else float("inf")
        iter_results[k] = {
            "sf0.1": t01,
            "sf1x": t1x,
            "ratio": round(ratio, 2),
            "rows_sf0.1": rows01,
            "rows_sf1x": rows1x,
            "rows_growth": round(rows1x / rows01, 2) if rows01 else None,
            "cost_driver": ITER_KEYS[k],
        }
        print(
            f"{k}: {t01} -> {t1x} s ({ratio:.2f}x; output rows "
            f"{rows01} -> {rows1x})",
            file=sys.stderr,
        )

    if only:
        # subset invocations are for iterating on single keys — never let
        # a partial run clobber the committed full artifacts
        print(json.dumps({"keys": len(results) + len(iter_results),
                          "subset": True}))
        return 0

    saturation = measure_saturation(spark, queries)

    with open("SCALING4.json", "w") as f:
        json.dump(
            {"base": "sf0.1", "copies": N_COPIES, "n_runs": N_RUNS,
             "grains": grains, "results": results,
             "iter_results": iter_results, "saturation": saturation},
            f, indent=1,
        )
    with open("SCALING4.md", "w") as f:
        f.write(
            "# 4th scaling point — grain-bounded value sweeps at ~10x "
            "sf0.1 (synthetic sf1x)\n\n"
            "Corpus: sf0.1 self-unioned 10x with re-keyed ids and on-grid "
            "cent jitter (tools/scaling_point4.py — jitter makes copies "
            "act like fresh draws from the same quantized distribution, "
            "so the value grain grows naturally toward its domain bound "
            "instead of being frozen at 1x).\n\n"
            "## Grain growth at 10x rows\n\n"
            "| grain | sf0.1 cells | sf1x cells | growth |\n|---|---|---|---|\n"
        )
        for gname, g in grains.items():
            f.write(
                f"| {gname} | {g['sf0.1']} | {g['sf1x']} "
                f"| {g['sf1x']/g['sf0.1']:.2f}x |\n"
            )
        f.write(
            "\n## Key timings (warm 3-run medians)\n\n"
            "| key | sf0.1 s | sf1x s | 10x-data ratio | grain growth "
            "| ratio / grain growth |\n|---|---|---|---|---|---|\n"
        )
        for k, r in results.items():
            f.write(
                f"| {k} | {r['sf0.1']} | {r['sf1x']} | {r['ratio']:.2f}x "
                f"| {r['grain_growth']:.2f}x | {r['per_grain_ratio']:.2f}x |\n"
            )
        f.write(
            "\nReading: the sweeps' cost driver is the GRAIN, so the "
            "normalized column (wall-clock growth per unit of grain "
            "growth) is the asymptote evidence — ~1x means the plan "
            "scales with its grain and the flat-at-saturation claim "
            "follows wherever the domain bound caps the grain. The grain "
            "table shows where saturation already bit at sf1x (the ~20k-"
            "cell events cent grid) and where the domain is still sparse "
            "(orders' ~6e7-cell totalprice grid keeps growing ~10x here "
            "and saturates only at 100 TB row counts — recorded honestly "
            "rather than claimed bent).\n"
        )
        if iter_results:
            f.write(
                "\n## Iterative / join-heavy class (r12 — VERDICT r11 "
                "next-round #5)\n\n"
                "Same sf1x corpus, now with embeddings and part fanned "
                "out too (verbatim payloads under fresh keys): every "
                "document/vector/part-name carries 9 exact twins — the "
                "duplicate-heavy shape a real 10x ingest has and the "
                "adversarial case for LSH buckets. Where output rows "
                "grow superlinearly that is the physics of duplication "
                "(C(10,2)=45 true pairs per original), so each row names "
                "its cost driver; the gate is wall tracking the bounded "
                "candidate work, not the naive all-pairs blowup.\n\n"
                "| key | sf0.1 s | sf1x s | wall ratio | output rows "
                "sf0.1 → sf1x | cost driver |\n|---|---|---|---|---|---|\n"
            )
            for k, r in iter_results.items():
                f.write(
                    f"| {k} | {r['sf0.1']} | {r['sf1x']} "
                    f"| {r['ratio']:.2f}x | {r['rows_sf0.1']} → "
                    f"{r['rows_sf1x']} ({r['rows_growth']}x) "
                    f"| {r['cost_driver']} |\n"
                )
        if saturation["results"]:
            f.write(
                "\n## Saturation bend — the two still-growing grains, "
                "measured AT the domain bound (r13 — VERDICT r12 "
                "next-round #4)\n\n"
                "The sf1x table above records honestly that the lineitem "
                "price and orders totalprice grains still grow ~10x: "
                "their cent grids dwarf sf0.1's row count, so domain "
                "saturation was argued, not measured. This section wraps "
                "the same on-grid jitter inside a CAPPED cent domain "
                "(lineitem 60k cells, orders 20k — sized below rows per "
                "part at 1x) and measures the grain-dominated keys on a "
                "1-copy and a 10-copy corpus built through the SAME "
                "wrap: at 10x rows the grain has nowhere left to grow, "
                "and wall must track the (now ~flat) grain, not the row "
                "count. The residual wall ratio is the one fact-scaled "
                "map-side-combined grain-build scan — the part that "
                "parallelizes with executors at 100 TB.\n\n"
                "| grain | sat1 cells | sat10 cells | growth |\n"
                "|---|---|---|---|\n"
            )
            for gname, g in saturation["grains"].items():
                f.write(
                    f"| {gname} (capped) | {g['sat1']} | {g['sat10']} "
                    f"| {g['growth']:.2f}x |\n"
                )
            f.write(
                "\n| key | sat1 s | sat10 s | wall ratio at 10x rows "
                "| grain growth |\n|---|---|---|---|---|\n"
            )
            for k, r in saturation["results"].items():
                f.write(
                    f"| {k} | {r['sat1']} | {r['sat10']} "
                    f"| {r['wall_ratio']:.2f}x | {r['grain_growth']:.2f}x |\n"
                )
    summary = {"keys": len(results) + len(iter_results)}
    if results:
        summary["worst_norm"] = max(
            r["per_grain_ratio"] for r in results.values()
        )
    if iter_results:
        summary["worst_iter_ratio"] = max(
            r["ratio"] for r in iter_results.values()
        )
    if saturation["results"]:
        summary["worst_sat_wall"] = max(
            r["wall_ratio"] for r in saturation["results"].values()
        )
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
