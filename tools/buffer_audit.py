#!/usr/bin/env python
"""Registry-wide aggregation-BUFFER audit — the reproducible check
behind the round-10 "no unbounded per-group executor buffer over
data-scaled input" claim (the aggregation twin of window_audit.py).

Spark's buffering aggregates — exact ``percentile()``, ``collect_list``,
``collect_set``, ``mode`` — materialize every (distinct) value of a
group inside ONE executor's aggregation buffer. Bounded groups are fine;
a group whose row count scales with the corpus is an OOM at 100 TB no
matter how balanced the shuffle is. Round 10 retired the exact-
percentile instances (functions/percentiles.py grain fold, eight keys);
this audit keeps the class retired: every declared key's physical plan
is scanned for buffering-aggregate signatures, and each hit must either
be inside a BOUNDED window frame (ROWS BETWEEN -N AND M — at most
N+M+1 elements per buffer) or appear on the whitelist below with the
bound spelled out.

Exit 0 iff no unexplained buffering aggregate exists and every
whitelist entry waived at least one hit. Run time ~5-8 min (one plan
per key at sf0.001).

Usage: python tools/buffer_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from zonal_datacube_spark.plans.diagnostics import formatted_plan
from zonal_datacube_spark.registry import all_queries
from zonal_datacube_spark.session import get_spark

# buffering aggregate signatures in plan text; percentile_approx /
# approx_count_distinct are bounded sketches and deliberately excluded
BUFFER_FNS = re.compile(r"\b(percentile|collect_list|collect_set|mode|listagg|array_agg)\(")

# a bounded trailing frame hosting the aggregate: the chunk/halo
# rewrites (chunked_window.py) evaluate collect_list / percentile over
# ≤ span+1 elements per buffer. RowFrame(-N, M) is bounded outright; a
# RangeFrame(-N, currentrow) is row-bounded ONLY over the DENSE
# prefix-sweep row index (one row per index unit) — so Range frames are
# accepted only when the spec orders on the sweep's idx column.
BOUNDED_ROW_FRAME = re.compile(
    r"specifiedwindowframe\(RowFrame, -\d+, (?:currentrow\$\(\)|\d+)"
)
BOUNDED_RANGE_FRAME = re.compile(
    r"specifiedwindowframe\(RangeFrame, -\d+, (?:currentrow\$\(\)|\d+)"
)
DENSE_IDX_ORDER = re.compile(r"\bidx#\d+L? ASC")

# groupBy-side buffering aggregates whose element count is bounded by a
# DIMENSION, not by the fact stream — each entry names the bound; a key
# hitting BUFFER_FNS outside a bounded frame and absent here FLAGS, and
# an entry that waives no hit in the run FLAGS too (stale waiver).
BOUNDED_GROUPS = {
    "q_cohort_retention": (
        "collect_set(week) per user: bounded by the CALENDAR span "
        "(~52/yr), not by event count (behavior.py:81, one user pass)"
    ),
    "q_dedup_cross_source": (
        "collect_set(source) per shingle digest: bounded by the source "
        "enum (~20), the fold that replaced the digest self-join "
        "(dedup.py:779)"
    ),
    "q_agg_listagg": (
        "collect_set(o_orderpriority) per group: the 5-value priority "
        "enum (aggregations.py:411)"
    ),
    "q_zonal_polygon": (
        "sort_array(collect_list(c)) per (zone, row): the ray crossings "
        "of one polygon with one row, at most that zone's edge count -- "
        "a vector-side size that does not grow with points "
        "(geometry.py:points_in_polygons)"
    ),
    "q_zonal_polygon_categorical": (
        "sort_array(collect_list(c)) per (zone, row): the ray crossings "
        "of one polygon with one row, at most that zone's edge count -- "
        "a vector-side size that does not grow with points "
        "(geometry.py:points_in_polygons)"
    ),
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("buffer-audit")
    flagged: list[tuple[str, str]] = []
    waived_frames = 0
    waived_groups = 0
    used: set[str] = set()
    for key, fn in sorted(all_queries().items()):
        try:
            plan = formatted_plan(fn(spark, sf_dir))
        except Exception as exc:  # streaming/eager keys: audited in tests
            print(f"[skip] {key}: {type(exc).__name__}", file=sys.stderr)
            continue
        hits = list(BUFFER_FNS.finditer(plan))
        if not hits:
            continue
        # window-frame hits: bounded iff every frame in the plan that
        # hosts a buffering aggregate is a bounded ROWS frame — the
        # chunk/halo rewrites put the aggregate and its frame in the
        # same Window operator line
        unexplained = []
        for m in hits:
            line_start = plan.rfind("\n", 0, m.start()) + 1
            line = plan[line_start : plan.find("\n", m.start())]
            if "windowspecdefinition" in line and (
                BOUNDED_ROW_FRAME.search(line)
                or (
                    BOUNDED_RANGE_FRAME.search(line)
                    and DENSE_IDX_ORDER.search(line)
                )
            ):
                waived_frames += 1
                continue
            if key in BOUNDED_GROUPS:
                waived_groups += 1
                used.add(key)
                continue
            unexplained.append(line.strip()[:140])
        for line in unexplained:
            flagged.append((key, line))
    print(
        f"{len(flagged)} unexplained buffering aggregates; "
        f"{waived_frames} bounded window frames; "
        f"{waived_groups} dimension-bounded groups "
        f"(whitelisted: {sorted(BOUNDED_GROUPS)})"
    )
    for key, line in flagged:
        print(f"[FLAG] {key}: {line}")
    unused = sorted(set(BOUNDED_GROUPS) - used)
    for key in unused:
        print(f"[FLAG] {key}: whitelisted, but no buffering aggregate was waived")
    return 1 if flagged or unused else 0


if __name__ == "__main__":
    raise SystemExit(main())
