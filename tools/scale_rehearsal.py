#!/usr/bin/env python
"""Cluster-rehearsal plan gate (VERDICT r10 next-round #1).

The standing suite runs every key in the one configuration a real
cluster never sees: 32 shuffle partitions and single-file fixture
tables — exactly the shape where several scale behaviors are least
exercised (AQE partition coalescing works on 32 tiny reducers, skew
split granularity is one mapper, broadcast-vs-SMJ flips never trigger
because every input is one scan split). q_join_skew_split's own
docstring documents how config can mask behavior: a single-file scan
yields ONE mapper and an unsplittable hot partition no matter the
thresholds.

This tool re-runs the registry under a CLUSTER-SHAPED configuration and
asserts every key keeps its plan class:

1. **Layout**: each fixture table is rewritten as a DIRECTORY of part
   files (facts 16 files, dims 2) — the multi-mapper shape a 1000-
   executor scan produces. The events table is normalized through
   ``load_table`` first (TIMESTAMP(NANOS) → TIMESTAMP_NTZ µs, the same
   values both engines already compare at), so the rehearsal copy reads
   identically in Spark and DuckDB.
2. **Conf**: ``spark.sql.shuffle.partitions=200`` (the cluster-sizing
   default this repo's session docstring promises at 100 TB) with AQE
   and its skew/coalesce passes on, everything else per
   ``session.get_spark``. ``autoBroadcastJoinThreshold`` stays at the
   Spark default (10 MB) — the suite never overrides it, so dim-table
   broadcasts in the rehearsal come from statistics, not hints.
3. **Plan-class gate, ALL plannable keys**: the physical plan under
   (rehearsal conf × rehearsal layout) is classified against the same
   key's plan under (standard conf × standard layout). A key FAILS if
   the rehearsal plan acquires a red flag its baseline plan did not
   have: a CartesianProduct, a BroadcastNestedLoopJoin, a
   single-partition shuffle Exchange, or a buffered exact
   ``percentile(...)`` aggregate. Broadcast↔SMJ strategy flips are
   REPORTED but allowed — reacting to statistics is the desired
   behavior, the gate only rejects shapes that are wrong at any scale.
4. **Parity spot-gate, representative subset (~45 keys across every
   operator family)**: the key's result on the MULTI-FILE layout is
   hash-compared against DuckDB reading the same rehearsal files —
   plan flips must never change answers. Rows-only keys in the subset
   assert a non-empty stable row count instead.

Streaming keys and the two eager keys execute at plan time, so they are
excluded from the PLAN gate with the same notes as tools/plan_audit.py
(their state-store / training behavior is audited in tests, not in a
batch plan) — but since r12 the 7 TRUE-streaming keys RUN in the parity
gate over the multi-file layout: the streaming file source is
layout-aware and must produce batch-identical results on a directory of
part files, never a silent empty (the r11 weak mark).

Exit 0 iff every gated key passes. Wired into tests via
tests/test_scale_rehearsal.py (a fast subset so the gate can never rot;
the full pass is this tool).

The layout is a derived layout of the corpus (``sources/derived.py``):
it lands under ``$TMPDIR/zds_layouts/<corpus tag>/rehearsal``, keyed by
the content stamp of every fixture table, and is built temp-then-rename,
so a regenerated corpus gets a fresh copy and two concurrent rehearsals
never read a half-written one. Deleting ``zds_layouts`` under the temp
root forces a rebuild.

Usage:
  python tools/scale_rehearsal.py [sf_dir] [key ...]   # default sf0.1
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from zonal_datacube_spark.compare import compare_query, duck_connect
from zonal_datacube_spark.plans.diagnostics import formatted_plan
from zonal_datacube_spark.registry import all_oracle_sql, all_queries
from zonal_datacube_spark.session import get_spark, scoped_conf
from zonal_datacube_spark.sources.derived import layout
from zonal_datacube_spark.sources.loader import TABLES, load_table

REHEARSAL_PARTITIONS = "200"
REHEARSAL_CONFS = {"spark.sql.shuffle.partitions": REHEARSAL_PARTITIONS}
FACT_FILES, DIM_FILES = 16, 2
DIM_TABLES = {"region", "nation"}

# PLAN-phase skips (superset of tools/plan_audit.py's): TRUE-streaming keys
# EXECUTE a streaming query at plan time and pin their own shuffle
# partitions (the state-store sizing contract in
# streaming/drain.STREAM_CONFS — the rehearsal conf wouldn't
# even apply), and the two eager keys return local relations — there is no
# lazy batch plan to classify. They are NOT exempt from the PARITY phase:
# since r12 the streaming file source is layout-aware (streaming/demo.py
# _events_source reads single-file AND directory-of-part-files layouts,
# asserting ≥1 input file), so every one of these keys runs — and must be
# green — in the rehearsal parity sweep below (VERDICT r11 next-round #1).
SKIP_PLAN = {
    "q_stream_foreach_roundtrip",
    "q_stream_upsert_roundtrip",
    "q_stream_enrich_join",
    "q_stream_stream_join",
    "q_stream_outer_join",
    "q_stream_state_reader",
    "q_stream_stateful_profile",
    "q_stream_python_sink",
    "q_sim_opq_eval",
    "q_embed_pca_var",
}

# representative parity subset: one-or-more keys per operator family,
# weighted toward shapes whose PHYSICAL strategy is config-sensitive
# (joins, skew, salting, sweeps, LSH band joins).
PARITY_SUBSET = (
    # zonal (flagship) + scan pushdown
    "q_zonal_stats",
    "q_zonal_polygon",
    "q_scan_filter_pushdown",
    # join strategies
    "q_join_inner_hash",
    "q_join_broadcast",
    "q_join_multiway",
    "q_join_left_outer",
    "q_join_semi",
    "q_join_asof",
    "q_join_theta_range",
    "q_join_salted",
    "q_join_skew_split",
    "q_join_dpp",
    "q_join_bloom_semi",
    "q_join_range_bucketed",
    # aggregation (incl. skew salting and the grain-sweep class)
    "q_agg_groupby",
    "q_agg_salted_skew",
    "q_agg_percentile",
    "q_agg_weighted_median",
    "q_agg_quantiles_multi",
    "q_agg_gini",
    "q_agg_rollup",
    # windows (incl. the salted rewrite)
    "q_window_topk_per_group",
    "q_window_salted",
    "q_window_ntile",
    "q_window_running",
    # dedup / similarity / ER
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_dedup_simhash",
    "q_sim_join_auto",
    "q_sim_knn",
    "q_er_fuzzy_block",
    # text / LLM-pipeline
    "q_text_tfidf",
    "q_text_bm25_wand",
    "q_text_pmi",
    "q_data_curriculum_tokens",
    # graph / timeseries / stats
    "q_graph_pagerank",
    "q_graph_triangles",
    "q_ts_resample_interp",
    "q_ts_sessionize",
    "q_ts_changepoint",
    "q_stats_spearman",
    "q_dq_outlier_iqr",
    # reports / warehouse / sets / subqueries
    "q_report_shipping_priority",
    "q_report_market_share",
    "q_scd2_pit_join",
    "q_view_ivm_join",
    "q_set_union_distinct",
    "q_subquery_correlated",
    # TRUE streaming over the rehearsal's directory-per-table layout —
    # the r11 weak mark: the old glob source saw 0 files here and two of
    # these returned EMPTY silently (REHEARSAL_r11.txt:308). Layout-aware
    # since r12; a regression to silent-empty fails this gate.
    "q_stream_foreach_roundtrip",
    "q_stream_upsert_roundtrip",
    "q_stream_enrich_join",
    "q_stream_stream_join",
    "q_stream_outer_join",
    "q_stream_state_reader",
    "q_stream_stateful_profile",
)

RED_FLAGS = ("cartesian", "nlj", "single_part", "buffered_pct")


def classify(plan: str) -> dict[str, int]:
    """Plan-class fingerprint: the four any-scale red flags plus the two
    join-strategy counters (reported, not gated)."""
    return {
        "cartesian": plan.count("CartesianProduct"),
        "nlj": plan.count("BroadcastNestedLoopJoin"),
        "single_part": plan.count("Exchange SinglePartition"),
        # Spark's buffered exact percentile aggregate (the unbounded
        # per-group executor buffer the r10 grain sweep retired) — the
        # word also appears in approx_percentile, hence the word-boundary
        "buffered_pct": len(re.findall(r"\bpercentile\(", plan)),
        "smj": plan.count("SortMergeJoin"),
        "bhj": plan.count("BroadcastHashJoin"),
    }


def build_layout(spark, sf_dir: str) -> str:
    """Path of the corpus rewritten as multi-file table directories,
    built on first use."""

    def build(dest: str) -> None:
        for t in TABLES:
            n = DIM_FILES if t in DIM_TABLES else FACT_FILES
            # load_table normalizes events' TIMESTAMP(NANOS) to the µs NTZ
            # values both engines already compare at; other tables pass
            # through. repartition = round-robin → near-equal part files,
            # the multi-mapper scan shape of a real cluster.
            load_table(spark, sf_dir, t).repartition(n).write.parquet(
                os.path.join(dest, f"{t}.parquet")
            )

    return layout(sf_dir, TABLES, "rehearsal", build)


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.1"
    only = [a for a in args if not os.path.isdir(a)]

    queries, oracles = all_queries(), all_oracle_sql()
    unknown = [k for k in only if k not in queries]
    if unknown:
        print(f"unknown keys: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark("scale-rehearsal")
    dest = build_layout(spark, sf_dir)

    plan_keys = [k for k in sorted(only or queries) if k not in SKIP_PLAN]
    parity_keys = list(only or PARITY_SUBSET)

    failures, flips = 0, 0
    # ---- phase 1: plan-class gate over every plannable key ----
    base_cls: dict[str, dict[str, int]] = {}
    for k in plan_keys:
        try:
            base_cls[k] = classify(formatted_plan(queries[k](spark, sf_dir)))
        except Exception as exc:  # pragma: no cover — surfaced in output
            failures += 1
            print(f"[BASE-ERROR] {k}: {type(exc).__name__}: {exc}")
    with scoped_conf(spark, REHEARSAL_CONFS):
        for k in plan_keys:
            if k not in base_cls:
                continue
            try:
                reh = classify(formatted_plan(queries[k](spark, dest)))
            except Exception as exc:  # pragma: no cover
                failures += 1
                print(f"[REH-ERROR] {k}: {type(exc).__name__}: {exc}")
                continue
            base = base_cls[k]
            new_flags = [
                f"{fl}:{base[fl]}->{reh[fl]}"
                for fl in RED_FLAGS
                if reh[fl] > base[fl]
            ]
            flip = (reh["smj"], reh["bhj"]) != (base["smj"], base["bhj"])
            if new_flags:
                failures += 1
                print(f"[PLAN-FAIL] {k}: {', '.join(new_flags)}")
            elif flip:
                flips += 1
                print(
                    f"[FLIP] {k}: smj {base['smj']}->{reh['smj']}, "
                    f"bhj {base['bhj']}->{reh['bhj']} (allowed)"
                )

        # ---- phase 2: parity spot-gate on the rehearsal layout ----
        con = duck_connect(dest)
        for k in parity_keys:
            if k in oracles:
                res = compare_query(k, spark, con, queries[k], oracles[k], dest)
                if not res.ok:
                    failures += 1
                print(str(res).replace("[OK ]", "[PARITY-OK ]"))
            else:
                n = queries[k](spark, dest).count()
                tag = "PARITY-ROWS" if n > 0 else "PARITY-EMPTY"
                if n <= 0:
                    failures += 1
                print(f"[{tag}] {k}: {n} rows (rows-only key)")
        con.close()

    print(
        f"\nscale-rehearsal: {len(plan_keys)} plans gated "
        f"({flips} allowed strategy flips), {len(parity_keys)} parity keys, "
        f"{failures} failures at partitions={REHEARSAL_PARTITIONS} "
        f"layout={dest}"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
