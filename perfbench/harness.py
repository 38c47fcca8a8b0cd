"""One benchmark run in a fresh process: set up, warm up, time, check.

``run.py`` starts this file in a new process with a private TMPDIR and a
fixed Spark environment, and prints what it writes to ``--out``.

The loop is closed with one client: each call starts only after the
previous one has returned. A pass runs every call of the workload once,
in an order drawn from ``--seed``. Set-up covers the interpreter and
imports, ``session.get_spark``, ``registry.all_queries`` and three untimed
warm-up passes; timed passes then run until ``--seconds`` would be
exceeded. Output checks run after the timed passes, outside every timer.

With ``--trace 1`` the timed passes alternate between untraced and
traced. A traced call is split into build (calling the registry
function), plan (forcing the executed plan) and exec (the Arrow
collect), and the engine counters of each call are read after it.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
from contextlib import nullcontext

from checks import digest, digest_mismatch, oracle_digests, rows_only_mismatch
from polygons import CALL as POLYGONS, make_rings, numpy_zonal, ring_edges, zonal_mismatch, zonal_polygons_call
from tracing import EngineCounters, HostSampler, Tracer, live_heap_mb, make_stream_listener
from workloads import DATA_DIR, metric_units, workloads

# Untimed passes in set-up: the first fills caches and on-disk layouts;
# the JVM's JIT is still compiling through the second, and with two the
# first timed pass still ran slower than the rest.
WARMUP_PASSES = 3


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cpus", type=int, required=True)
    p.add_argument("--spawn-mono", type=float, required=True, help="time.monotonic() when run.py started this process")
    p.add_argument("--spawn-wall", type=float, required=True, help="time.time() at the same moment")
    p.add_argument("--out", required=True, help="result JSON path")
    p.add_argument("--trace-out", default="", help="span JSON path (traced runs)")
    return p.parse_args(argv)


def layout_markers(tmpdir: str) -> dict[str, int]:
    """``_SUCCESS`` markers (path → mtime_ns) under the TMPDIR's ``zds_*``
    directories: each marks one committed on-disk layout or output."""
    out = {}
    for top in os.listdir(tmpdir):
        if not top.startswith("zds_"):
            continue
        for root, _dirs, files in os.walk(os.path.join(tmpdir, top)):
            if "_SUCCESS" in files:
                path = os.path.join(root, "_SUCCESS")
                out[path] = os.stat(path).st_mtime_ns
    return out


def layout_builds(before: dict[str, int], after: dict[str, int], persistent: set[str]) -> int:
    """Markers created or rewritten in a derived-layout root, i.e. a
    ``zds_*`` directory that already existed when timing began. Per-call
    staging directories get fresh mkdtemp names, so they are not counted
    here; if they leak they show in ``sources.tmp_mb``."""
    n = 0
    for path, mtime in after.items():
        top = path.split(os.sep + "zds_", 1)[1].split(os.sep, 1)[0]
        if "zds_" + top in persistent and before.get(path) != mtime:
            n += 1
    return n


def describe(exc: Exception) -> str:
    first = str(exc).splitlines()[0][:300] if str(exc) else ""
    return f"{type(exc).__name__}: {first}"


def du_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except FileNotFoundError:
                pass
    return total / 1e6


class Run:
    """State of one benchmark run."""

    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.rng = random.Random(args.seed)
        self.workload = workloads()[args.workload]
        self.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
        self.tmpdir = os.environ["TMPDIR"]
        self.sf_dir = DATA_DIR
        self.records: list[dict] = []  # one per call, warm-up included
        self.passes: list[dict] = []
        self.rings = make_rings(args.seed) if POLYGONS in self.workload.calls else []

    def span(self, name: str, on: bool, **attrs):
        return self.tracer.span(name, **attrs) if on else nullcontext()

    # --- set-up -------------------------------------------------------
    def setup(self) -> None:
        a, t = self.args, self.tracer
        traced = bool(a.trace)
        self.run_idx = t.open("run", a.spawn_wall)
        setup_idx = t.open("setup", a.spawn_wall)

        from zonal_datacube_spark import registry, session

        t0 = time.perf_counter()
        with self.span("session.start", traced):
            self.spark = session.get_spark("perfbench", cpus=str(a.cpus))
        self.session_start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")

        t0 = time.perf_counter()
        with self.span("registry.collect", traced):
            queries = registry.all_queries()
        self.registry_collect_s = time.perf_counter() - t0

        unknown = [k for k in self.workload.calls if k not in queries and k != POLYGONS]
        if unknown:
            raise SystemExit(f"workload {self.workload.name}: unknown registry keys {unknown}")
        self.calls = {k: queries[k] for k in self.workload.calls if k in queries}
        if self.rings:
            self.calls[POLYGONS] = zonal_polygons_call(ring_edges(self.rings))

        from zonal_datacube_spark.functions.grain_cache import STATS

        self.grain_stats = STATS
        self.counters = EngineCounters(self.spark)
        self.listener = None
        if traced:
            self.listener = make_stream_listener()
            self.spark.streams.addListener(self.listener)

        with self.span("warmup", traced):
            for _ in range(WARMUP_PASSES):
                for key in self.workload.pass_order(self.rng):
                    self.records.append(self.plain_call(key, pass_no=-1))

        self.setup_s = time.monotonic() - a.spawn_mono
        t.close(setup_idx)

    # --- calls --------------------------------------------------------
    def fingerprint(self, key: str, pdf):
        """What the check needs of a result: the small per-zone frame for
        the polygon call, a canonical digest for registry keys."""
        return pdf if key == POLYGONS else digest(pdf)

    def plain_call(self, key: str, pass_no: int) -> dict:
        fn = self.calls[key]
        err, pdf = None, None
        t0 = time.perf_counter()
        try:
            pdf = fn(self.spark, self.sf_dir).toPandas()
        except Exception as exc:  # a failing call is counted, not fatal
            err = describe(exc)
        wall = time.perf_counter() - t0
        fp = self.fingerprint(key, pdf) if pdf is not None else None
        return {"key": key, "pass": pass_no, "wall": wall, "error": err, "fp": fp}

    def traced_call(self, key: str, pass_no: int) -> dict:
        fn, t, c = self.calls[key], self.tracer, self.counters
        g0 = dict(self.grain_stats)
        s_before = dict(self.listener.totals)
        n_batches = len(self.listener.batches)
        j0, s0 = c.ids()
        err, pdf, plan = None, None, None
        phase_idx = []
        t0 = time.perf_counter()
        with t.span(f"call:{key}") as call_idx:
            try:
                with t.span("build") as i:
                    phase_idx.append(i)
                    df = fn(self.spark, self.sf_dir)
                jb, _ = c.ids()
                with t.span("plan") as i:
                    phase_idx.append(i)
                    plan = df._jdf.queryExecution().executedPlan()
                with t.span("exec") as i:
                    phase_idx.append(i)
                    pdf = df.toPandas()
            except Exception as exc:  # a failing call is counted, not fatal
                err = describe(exc)
                jb = c.ids()[0]
        wall = time.perf_counter() - t0
        c.drain()
        j1, s1 = c.ids()
        stages = c.stage_totals(s0, s1)
        pm = c.plan_metrics(plan if pdf is not None else None)
        for start, end, attrs in self.listener.batches[n_batches:]:
            parent = next((i for i in phase_idx if t.spans[i].start <= end <= t.spans[i].end), call_idx)
            t.add("batch", start, end, attrs, parent=parent)
        phases = {t.spans[i].name: t.spans[i].end - t.spans[i].start for i in phase_idx}
        span_wall = t.spans[call_idx].end - t.spans[call_idx].start
        return {
            "key": key,
            "pass": pass_no,
            "wall": wall,
            "error": err,
            "fp": self.fingerprint(key, pdf) if pdf is not None else None,
            "traced": True,
            "build_s": phases.get("build", 0.0),
            "plan_s": phases.get("plan", 0.0),
            "exec_s": phases.get("exec", 0.0),
            "coverage": sum(phases.values()) / span_wall if span_wall > 0 else 1.0,
            "jobs": j1 - j0,
            "build_jobs": jb - j0,
            "stages": s1 - s0,
            "stage": stages,
            "plan_rows": pm["numOutputRows"],
            "python_bytes": pm["pythonDataSent"],
            "result_rows": len(pdf) if pdf is not None else 0,
            "grain": {k: self.grain_stats[k] - g0[k] for k in g0},
            "stream": {k: self.listener.totals[k] - s_before[k] for k in s_before},
        }

    # --- timed passes -------------------------------------------------
    def measure(self) -> None:
        a, c = self.args, self.counters
        persistent = {d for d in os.listdir(self.tmpdir) if d.startswith("zds_")}
        start = time.monotonic()
        min_passes = 2 if a.trace else 1
        while True:
            pass_no = len(self.passes)
            traced = bool(a.trace) and pass_no % 2 == 1
            order = self.workload.pass_order(self.rng)
            markers = layout_markers(self.tmpdir)
            g0 = dict(self.grain_stats)
            c.drain()
            j0, s0 = c.ids()
            p0 = time.monotonic()
            with self.span("pass", traced, n=pass_no):
                recs = [(self.traced_call if traced else self.plain_call)(k, pass_no) for k in order]
            p1 = time.monotonic()
            c.drain()
            j1, s1 = c.ids()
            totals = c.stage_totals(s0, s1)
            self.records.extend(recs)
            self.passes.append(
                {
                    "traced": traced,
                    "wall_s": sum(r["wall"] for r in recs),
                    "call_s": {r["key"]: r["wall"] for r in recs},
                    "jobs": j1 - j0,
                    "stages": s1 - s0,
                    "tasks": totals["numTasks"],
                    "shuffle_write_bytes": totals["shuffleWriteBytes"],
                    "grain_hits": self.grain_stats["hits"] - g0["hits"],
                    "grain_misses": self.grain_stats["misses"] - g0["misses"],
                    "layout_builds": layout_builds(markers, layout_markers(self.tmpdir), persistent),
                }
            )
            elapsed = time.monotonic() - start
            if len(self.passes) >= min_passes and elapsed + (p1 - p0) > a.seconds:
                break
        self.measure_s = time.monotonic() - start

    # --- checks -------------------------------------------------------
    def check(self) -> None:
        """Set ``problem`` on every record; oracle work is untimed."""
        from zonal_datacube_spark.registry import all_oracle_sql

        oracle = all_oracle_sql()
        want = oracle_digests(self.sf_dir, {k: oracle[k] for k in self.workload.calls if k in oracle})
        zonal_want = None
        if self.rings:
            import pandas as pd

            ev = pd.read_parquet(os.path.join(self.sf_dir, "events.parquet"), columns=["event_id", "value"])
            zonal_want = numpy_zonal(
                ev["value"].to_numpy(), (ev["event_id"] % 200).to_numpy(dtype=float), ev["value"].to_numpy(), self.rings
            )
        by_key: dict[str, list[dict]] = {}
        for r in self.records:
            by_key.setdefault(r["key"], []).append(r)
        for key, recs in by_key.items():
            ok = [r for r in recs if r["error"] is None]
            for r in recs:
                r["problem"] = r["error"]
            if key == POLYGONS:
                for r in ok:
                    r["problem"] = zonal_mismatch(r["fp"], zonal_want)
            elif key in want:
                for r in ok:
                    r["problem"] = digest_mismatch(r["fp"], want[key])
            else:
                for r, problem in zip(ok, rows_only_mismatch([r["fp"] for r in ok])):
                    r["problem"] = problem

    # --- results ------------------------------------------------------
    def key_medians(self) -> dict[str, float]:
        """Each call's median wall over the untraced timed passes."""
        per_key: dict[str, list[float]] = {}
        for r in self.records:
            if r["pass"] >= 0 and not r.get("traced"):
                per_key.setdefault(r["key"], []).append(r["wall"])
        return {k: statistics.median(v) for k, v in per_key.items()}

    def end_to_end(self, heap_mb: float) -> dict[str, float]:
        failed = sum(1 for r in self.records if r["problem"])
        return {
            "setup_s": self.setup_s,
            "pass_s": statistics.median(p["wall_s"] for p in self.passes if not p["traced"]),
            "slowest_key_s": max(self.key_medians().values()),
            "ok_frac": 1.0 - failed / len(self.records),
            "live_heap_mb": heap_mb,
        }

    def per_layer(self, host: dict, storage: tuple[int, float], tmp_mb: float) -> dict[str, float]:
        traced = [r for r in self.records if r.get("traced")]
        by_pass: dict[int, list[dict]] = {}
        for r in traced:
            by_pass.setdefault(r["pass"], []).append(r)

        def med(fn) -> float:
            return statistics.median(fn(recs) for recs in by_pass.values())

        def tot(field: str, recs) -> float:
            return sum(r[field] for r in recs)

        def stage(field: str, recs) -> float:
            return sum(r["stage"][field] for r in recs)

        def grain(field: str, recs) -> float:
            return sum(r["grain"][field] for r in recs)

        def stream(field: str, recs) -> float:
            return sum(r["stream"][field] for r in recs)

        def hit_frac(recs) -> float:
            h, m = grain("hits", recs), grain("misses", recs)
            return h / (h + m) if h + m else 0.0

        k = self.args.cpus
        traced_walls = [p["wall_s"] for p in self.passes if p["traced"]]
        plain_walls = [p["wall_s"] for p in self.passes if not p["traced"]]
        out = {
            "session.start_s": self.session_start_s,
            "registry.collect_s": self.registry_collect_s,
            "operators.build_s": med(lambda rs: tot("build_s", rs)),
            "operators.build_jobs": med(lambda rs: tot("build_jobs", rs)),
            "operators.plan_s": med(lambda rs: tot("plan_s", rs)),
            "operators.exec_s": med(lambda rs: tot("exec_s", rs)),
            "operators.jobs": med(lambda rs: tot("jobs", rs)),
            "operators.stages": med(lambda rs: tot("stages", rs)),
            "operators.tasks": med(lambda rs: stage("numTasks", rs)),
            "operators.task_failures": med(lambda rs: stage("numFailedTasks", rs)),
            "operators.executor_run_s": med(lambda rs: stage("executorRunTime", rs) / 1e3),
            "operators.executor_cpu_s": med(lambda rs: stage("executorCpuTime", rs) / 1e9),
            "operators.gc_s": med(lambda rs: stage("jvmGcTime", rs) / 1e3),
            "operators.core_busy_frac": med(lambda rs: stage("executorRunTime", rs) / 1e3 / (tot("wall", rs) * k)),
            "operators.shuffle_write_mb": med(lambda rs: stage("shuffleWriteBytes", rs) / 1e6),
            "operators.shuffle_read_mb": med(lambda rs: stage("shuffleReadBytes", rs) / 1e6),
            "operators.spill_mb": med(lambda rs: stage("diskBytesSpilled", rs) / 1e6),
            "operators.rows_per_result": med(lambda rs: tot("plan_rows", rs) / max(1, tot("result_rows", rs))),
            "sources.input_mb": med(lambda rs: stage("inputBytes", rs) / 1e6),
            "sources.output_mb": med(lambda rs: stage("outputBytes", rs) / 1e6),
            "sources.layout_builds": sum(p["layout_builds"] for p in self.passes),
            "sources.tmp_mb": tmp_mb,
            "functions.grain_cache.hits": med(lambda rs: grain("hits", rs)),
            "functions.grain_cache.misses": med(lambda rs: grain("misses", rs)),
            "functions.grain_cache.evictions": med(lambda rs: grain("evictions", rs)),
            "functions.grain_cache.hit_frac": med(hit_frac),
            "functions.persisted_rdds": storage[0],
            "functions.persisted_mb": storage[1],
            "functions.python_mb": med(lambda rs: tot("python_bytes", rs) / 1e6),
            "streaming.queries": med(lambda rs: stream("queries", rs)),
            "streaming.batches": med(lambda rs: stream("batches", rs)),
            "streaming.trigger_s": med(lambda rs: stream("trigger_ms", rs) / 1e3),
            "streaming.add_batch_s": med(lambda rs: stream("add_batch_ms", rs) / 1e3),
            "streaming.commit_s": med(lambda rs: stream("commit_ms", rs) / 1e3),
            "streaming.input_rows": med(lambda rs: stream("input_rows", rs)),
            "host.steal_frac": host["steal_frac"],
            "host.loadavg1": host["loadavg1"],
            "trace.overhead_s": statistics.median(traced_walls) - statistics.median(plain_walls),
            "trace.phase_coverage_min": min(r["coverage"] for r in traced),
        }
        return out

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    host = HostSampler()
    run = Run(args)
    try:
        run.setup()
        run.measure()
        heap = live_heap_mb(run.spark)
        storage = run.counters.storage()
        host_stats = host.read()
        tmp_mb = du_mb(run.tmpdir)
    finally:
        if hasattr(run, "spark"):
            run.stop()
    run.check()
    run.tracer.close(run.run_idx)
    if args.trace and args.trace_out:
        run.tracer.write(args.trace_out)

    failed = sum(1 for r in run.records if r["problem"])
    if args.trace:
        metrics = run.per_layer(host_stats, storage, tmp_mb)
        units = metric_units("per_layer")
    else:
        metrics = run.end_to_end(heap)
        units = metric_units("end_to_end")
    timed = [r for r in run.records if r["pass"] >= 0]
    info = {
        "workload": run.workload.name,
        "calls": list(run.workload.calls),
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "settings": {
            "master": f"local[{args.cpus}]",
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY"),
            "TMPDIR": "<private per run>",
            "sf_dir": "perfbench/data/sf0.1",
            "python": sys.version.split()[0],
            "pyspark": __import__("pyspark").__version__,
            "zonal_polygons": {"rings": len(run.rings), "vertices": len(run.rings[0]) if run.rings else 0},
        },
        "samples": {"passes": len(run.passes), "timed_calls": len(timed), "measure_s": run.measure_s},
        "key_median_s": run.key_medians(),
        "passes": run.passes,
        "grain_cache": dict(run.grain_stats),
        "host": host_stats,
        "problems": [
            {"key": r["key"], "pass": r["pass"], "problem": r["problem"]} for r in run.records if r["problem"]
        ],
    }
    result = {
        "correct": failed == 0,
        "attempted": len(run.records),
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in units.items()},
    }
    with open(args.out, "w") as f:
        json.dump({"info": info, "result": result}, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
