#!/usr/bin/env python
"""Run the full declared query suite against the DuckDB oracle locally.

Usage: python tools/check_parity.py [sf_dir] [key ...]
Default sf_dir: /root/testdata/sf0.01 (the driver's t2 scale).
Exit code 0 iff every compared key is green.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from zonal_datacube_spark.compare import (
    compare_query,
    driver_unhashable_cols,
    duck_connect,
    unobserved_sort_problems,
)
from zonal_datacube_spark.registry import all_oracle_sql, all_queries
from zonal_datacube_spark.session import get_spark


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    keys = [a for a in args if not os.path.isdir(a)]

    queries, oracle = all_queries(), all_oracle_sql()
    selected = keys or sorted(queries)
    unknown = [k for k in selected if k not in queries]
    if unknown:
        print(f"unknown keys: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark("parity-check")
    con = duck_connect(sf_dir)
    failures = 0
    for k in selected:
        if k not in oracle:
            df = queries[k](spark, sf_dir)
            bad = driver_unhashable_cols(df.schema)
            unread = unobserved_sort_problems(k, df)
            n = df.count()
            if bad:
                print(f"[ERR ] {k}: driver-unhashable cols {bad} ({n} rows)")
                failures += 1
            elif unread:
                print(f"[ERR ] {k}: {unread[0]} ({n} rows)")
                failures += 1
            else:
                print(f"[ROWS] {k}: {n} rows (rows-only key, no oracle)")
            continue
        t0 = time.perf_counter()
        try:
            res = compare_query(k, spark, con, queries[k], oracle[k], sf_dir)
        except Exception as exc:  # keep going: one broken key ≠ broken suite
            print(f"[ERR ] {k}: {type(exc).__name__}: {str(exc).splitlines()[0][:200]}")
            failures += 1
            continue
        print(f"{res}  ({time.perf_counter() - t0:.2f}s)")
        failures += 0 if res.ok else 1
    print(f"\n{len(selected) - failures}/{len(selected)} green at {sf_dir}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
