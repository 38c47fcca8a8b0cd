#!/usr/bin/env python
"""Per-key job-chain profile: wall seconds + number of Spark jobs.

Usage: python tools/job_profile.py [key ...]   (default: 20 slowest from
BENCH_FULL.json). Guide §1: at fixture scale a key whose wall is large
relative to its data is usually SEQUENTIAL-JOB-bound (driver folds,
iterative loops, eager materializations) — the job count makes that
visible without the UI. Timing uses the noop sink (§1.4) after the same
suite warm-up bench.py performs, so shared caches are billed to warm-up,
not to whichever profiled key runs first.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from zonal_datacube_spark.registry import all_queries
from zonal_datacube_spark.session import get_spark
from zonal_datacube_spark.warmup import warm_up


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("zds-job-profile")
    queries = all_queries()

    keys = [a for a in sys.argv[1:] if not a.startswith("-")]
    if not keys:
        with open(
            os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH_FULL.json")
        ) as f:
            med = json.load(f)["queries"]
        keys = [k for k, _ in sorted(med.items(), key=lambda t: -t[1])[:20]]
    unknown = [k for k in keys if k not in queries]
    if unknown:
        print(f"unknown keys: {unknown}", file=sys.stderr)
        return 2

    # the same warm-up bench.py runs
    spark.sparkContext.setJobGroup("warmup", "warmup")
    warm_up(spark, sf_dir)
    tracker = spark.sparkContext.statusTracker()

    print(f"{'key':34s} {'wall_s':>7s} {'jobs':>5s}")
    for k in keys:
        spark.sparkContext.setJobGroup(k, k)
        t0 = time.time()
        df = queries[k](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        n_jobs = len(tracker.getJobIdsForGroup(k))
        print(f"{k:34s} {wall:7.2f} {n_jobs:5d}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
