"""Subprocess driver for tests/test_commit_retry.py (VERDICT r12
next-round #6: the write-audit-publish and two-phase task-commit paths
are correctness-critical under task RETRY, which no test exercised).

Runs in its OWN process because local-mode task retries come from the
master string ``local[N, maxFailures]`` — the shared test session's
plain ``local[*]`` master fails the whole job on the first task failure,
so retry semantics are untestable there.

Three scenarios, one JSON verdict line on stdout (last line):

A. jsonl batch sink under a once-per-attempt task failure: partition 3's
   attempt 0 dies mid-write; attempt 1 succeeds. The manifest must
   expose every row exactly once, and the dead attempt's partial file
   must exist on disk but stay OUT of the manifest (two-phase commit:
   unreturned commit messages are invisible).
B. write-audit-publish under the same injected retry in the candidate:
   the staged batch must be COMPLETE after the retry, all audits pass,
   and the published manifest's row count exact.
C. jsonl batch sink when the failure exhausts maxFailures (both
   attempts die): save() must raise and NO manifest may be published —
   a consumer following the manifest sees nothing, never a partial
   write.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark import TaskContext
from pyspark.sql import functions as F

from zonal_datacube_spark.session import get_spark
from zonal_datacube_spark.sources.jsonl_sink import (
    JSONL_SINK_NAME,
    MANIFEST,
    read_manifest,
    register_jsonl_sink,
)

FAIL_PART = 3


def _flaky(max_dead_attempts: int):
    """mapInPandas hook: partition FAIL_PART dies on its first
    ``max_dead_attempts`` attempts, succeeds after."""

    def gen(it):
        tc = TaskContext.get()
        if (
            tc.partitionId() == FAIL_PART
            and tc.attemptNumber() < max_dead_attempts
        ):
            raise RuntimeError(
                f"injected failure: partition {tc.partitionId()} "
                f"attempt {tc.attemptNumber()}"
            )
        yield from it

    return gen


def scenario_a(spark) -> dict:
    out = tempfile.mkdtemp(prefix="zds_retry_sink_")
    df = (
        spark.range(0, 10_000)
        .repartition(8)
        .mapInPandas(_flaky(1), "id long")
    )
    df.write.format(JSONL_SINK_NAME).option("path", out).mode("append").save()
    man = read_manifest(out)
    on_disk = {f for f in os.listdir(out) if f.endswith(".jsonl")}
    committed = {name for name, _ in man["files"]}
    ids: list[int] = []
    for name, n in man["files"]:
        with open(os.path.join(out, name)) as fh:
            rows = [json.loads(line) for line in fh if line.strip()]
        assert len(rows) == n, f"manifest count mismatch for {name}"
        ids.extend(r["id"] for r in rows)
    res = {
        "manifest_rows": man["total_rows"],
        "n_ids": len(ids),
        "n_unique": len(set(ids)),
        "stray_files": len(on_disk - committed),
    }
    shutil.rmtree(out, ignore_errors=True)
    return res


def scenario_b(spark) -> dict:
    from zonal_datacube_spark.operators.warehouse import _audit_and_publish

    root = tempfile.mkdtemp(prefix="zds_retry_wap_")
    rows = [
        (f"2024-01-{d:02d}", t, 10 * d + len(t))
        for d in range(1, 6)
        for t in ("click", "view", "purchase", "signup")
    ]
    n_src = sum(n for _, _, n in rows)
    cand = (
        spark.createDataFrame(rows, "day string, event_type string, n bigint")
        .repartition(8)
        .mapInPandas(_flaky(1), "day string, event_type string, n bigint")
    )
    ledger = {
        r["check_name"]: (r["observed"], r["passed"])
        for r in _audit_and_publish(spark, cand, n_src, root).collect()
    }
    res = {
        "all_passed": all(p for _, p in ledger.values()),
        "published_rows": ledger["5_published_rows"][0],
        "n_cand": len(rows),
        "manifest_exists": os.path.exists(os.path.join(root, "manifest.json")),
    }
    shutil.rmtree(root, ignore_errors=True)
    return res


def scenario_c(spark) -> dict:
    out = tempfile.mkdtemp(prefix="zds_retry_fatal_")
    df = (
        spark.range(0, 1_000)
        .repartition(8)
        .mapInPandas(_flaky(99), "id long")  # dies on EVERY attempt
    )
    raised = False
    try:
        df.write.format(JSONL_SINK_NAME).option("path", out).mode(
            "append"
        ).save()
    except Exception:
        raised = True
    res = {
        "raised": raised,
        "manifest_published": os.path.exists(os.path.join(out, MANIFEST)),
    }
    shutil.rmtree(out, ignore_errors=True)
    return res


def main() -> int:
    # local[8, 2]: 8 threads, maxFailures=2 — one retry per task
    spark = get_spark("zds-retry-injection", cpus="8, 2")
    register_jsonl_sink(spark)
    verdict = {
        "a": scenario_a(spark),
        "b": scenario_b(spark),
        "c": scenario_c(spark),
    }
    print(json.dumps(verdict))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
