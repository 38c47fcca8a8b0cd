#!/usr/bin/env python
"""Registry-wide window audit — the reproducible check behind the
"no enum-keyed or one-reducer window over data-scaled input" claim
(SURVEY §8.4).

For every declared key's physical plan, every windowspecdefinition is
classified (balanced-paren extraction — the old regex truncated specs
whose expressions contain parentheses, ADVICE r08):

* windows carrying a chunk/bucket partition key
  (functions/prefix_sweep.py, chunked_window.py, chunk_carry.py) are
  the two-level scale-parallel rewrites — pass;
* windows that BOTH partition on a bounded enum column AND order on a
  data-grain column are flagged unless the key is on the documented
  GRAIN_BOUNDED whitelist (input bounded by TIME SPAN, not row count);
* windows with NO partition key at all (one reducer — strictly worse
  than the enum class, and previously the audit's blind spot, VERDICT
  r08 what's-wrong #3) are flagged unless the key is on the
  NO_PARTITION_BOUNDED whitelist, which names the bounded intermediate
  each such window runs over.

Exit 0 iff no unexplained window exists. Run time ~5-8 min (one plan
per key at sf0.001).

Usage: python tools/window_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from zonal_datacube_spark.plans.diagnostics import (
    formatted_plan,
    partition_args,
    window_specs,
)
from zonal_datacube_spark.registry import all_queries
from zonal_datacube_spark.session import get_spark

ENUM_COLS = re.compile(
    r"\b(event_type|lang|source|l_returnflag|l_linestatus"
    r"|o_orderpriority|o_orderstatus|label)#\d+"
)
BUCKET_MARKS = ("_zds_ps_bucket", "_zds_chunk_b", "_zds_cc_bucket")
DATA_ORDER = re.compile(
    r"\b(ts|ts_us|event_id|doc_id|idx|neg_us|epm|o_orderdate|l_shipdate)#\d+"
)

# enum-keyed windows whose INPUT is bounded by construction (per-(type,
# minute) moment tables: 43,200 minutes/month × ~5 types regardless of
# row count — the grain-bounded class SCALING.md documents)
GRAIN_BOUNDED = {
    "q_ts_autocorr": "lag-1 pairs over the bounded minute grain",
    "q_ts_acf_multi": "lag-1..6 pairs over the bounded minute grain",
}

# UNPARTITIONED (one-reducer) windows whose input is a bounded
# intermediate, verified by reading the producing plan: the window runs
# AFTER an aggregation/limit that caps its row count by a dimension
# (a ≤4-row census, a TakeOrdered top-N candidate set, the day spine),
# never by the fact stream. A key appears here only with the bounding
# argument spelled out; anything else with a no-partition window FLAGS.
# (prefix_sweep's level-2 bucket-grain windows don't need entries: they
# carry the _zds_ps_bucket mark in-spec and skip via BUCKET_MARKS.)
NO_PARTITION_BOUNDED = {
    "q_behavior_window_funnel": (
        "cohort-share total over the depth census (≤ 4 rows, "
        "behavior.py:464)"
    ),
    "q_report_ltv_deciles": (
        "revenue-share total over the decile-grain rollup (≤ 10 rows, "
        "stats_ext.py:540)"
    ),
    "q_sort_limit_with_ties": (
        "rank over the threshold-filtered WITH TIES candidate set — "
        "output-sized by the lazy top-n threshold (sorts_sets.py:236)"
    ),
    "q_text_rrf_fusion": (
        "two rank windows over orderBy().limit(RRF_TOPN) candidate sets "
        "(TakeOrderedAndProject feeds ≤ N rows, text_retrieval.py:433,460)"
    ),
    "q_text_bm25_wand": (
        "rank over the final orderBy().limit(k) result (≤ k rows, "
        "text_retrieval.py:282 — the WAND rescue's TakeOrdered output)"
    ),
    "q_window_running_distinct": (
        "running sum over the day spine (post-aggregation, ≤ ~10³ rows "
        "for years of days, windows.py:180)"
    ),
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("window-audit")
    flagged: list[tuple[str, str]] = []
    waived_enum = 0
    waived_np = 0
    for key, fn in sorted(all_queries().items()):
        try:
            plan = formatted_plan(fn(spark, sf_dir))
        except Exception as exc:  # streaming/eager keys: audited in tests
            print(f"[skip] {key}: {type(exc).__name__}", file=sys.stderr)
            continue
        for spec in window_specs(plan):
            if any(b in spec for b in BUCKET_MARKS):
                continue  # two-level rewrite: bucket/chunk-parallel
            parts = partition_args(spec)
            if not parts:
                # one-reducer window: bounded-input whitelist or flag
                if key in NO_PARTITION_BOUNDED:
                    waived_np += 1
                    continue
                flagged.append((key, "NO-PARTITION: " + spec[:130]))
                continue
            if ENUM_COLS.search(" ".join(parts)) and DATA_ORDER.search(spec):
                if key in GRAIN_BOUNDED:
                    waived_enum += 1
                    continue
                flagged.append((key, spec[:140]))
    print(
        f"{len(flagged)} unexplained windows; "
        f"{waived_enum} grain-bounded enum (whitelisted: {sorted(GRAIN_BOUNDED)}); "
        f"{waived_np} bounded no-partition "
        f"(whitelisted: {sorted(NO_PARTITION_BOUNDED)})"
    )
    for key, spec in flagged:
        print(f"[FLAG] {key}: {spec}")
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
