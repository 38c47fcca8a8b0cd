#!/usr/bin/env python3
"""Layered benchmark of zonal_datacube_spark at sf0.1.

    python3 perfbench/run.py --workload zonal --seed 1 --seconds 18 --trace 0

Runs one workload (see plan.json) in a fresh child process with a
private TMPDIR under ``.perfbench/`` in the checkout, ``local[k]`` with
k <= nproc and a fixed driver memory. Prints the run's settings, pass
counts and host record as one JSON line, then, as the last line, the
result: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones (spans go to ``.perfbench/traces/``).

Exits 0 only when every call's output checked correct. Exits 2 without a
result when the checkout lacks the engine package or the fixture data.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_CPUS = 4
DRIVER_MEMORY = "4g"
CHILD_TIMEOUT_S = 150.0
SESSION_EXIT_S = 10.0


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="zonal_datacube_spark layered benchmark")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def missing_inputs(data_dir: str) -> list[str]:
    """What the checkout lacks to run the benchmark; empty when complete."""
    problems = []
    if not os.path.isfile(os.path.join(ROOT, "zonal_datacube_spark", "registry.py")):
        problems.append("zonal_datacube_spark/ package not found next to perfbench/")
    sums = os.path.join(data_dir, "SHA256SUMS")
    if not os.path.isfile(sums):
        return problems + ["perfbench/data/sf0.1/SHA256SUMS not found"]
    with open(sums) as f:
        for line in f:
            want, name = line.split()
            path = os.path.join(data_dir, name)
            if not os.path.isfile(path):
                problems.append(f"fixture {name} not found")
                continue
            with open(path, "rb") as fh:
                if hashlib.sha256(fh.read()).hexdigest() != want:
                    problems.append(f"fixture {name} differs from its recorded SHA-256")
    return problems


def session_pids(sid: int) -> list[int]:
    """Live (not zombie) processes of session ``sid``."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                state, _ppid, _pgrp, session = f.read().rsplit(")", 1)[1].split()[:4]
        except (OSError, ValueError):
            continue
        if int(session) == sid and state != "Z":
            out.append(int(d))
    return out


def end_session(proc: subprocess.Popen) -> None:
    """Kill every process left in the child's session and wait until they
    have ended. The gateway JVM stays in the child's process group, but
    PySpark's worker daemon makes a group of its own, so the session is
    what holds them all."""
    deadline = time.monotonic() + SESSION_EXIT_S
    while time.monotonic() < deadline:
        pids = session_pids(proc.pid)
        if not pids:
            break
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
    proc.wait()


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    from workloads import DATA_DIR, workloads

    if args.workload not in workloads():
        print(f"unknown workload {args.workload!r}; choose from {sorted(workloads())}", file=sys.stderr)
        return 2
    problems = missing_inputs(DATA_DIR)
    if problems:
        print("cannot run: " + "; ".join(problems), file=sys.stderr)
        return 2

    cpus = min(MAX_CPUS, os.cpu_count() or 1)
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-{time.time_ns()}")
    tmp, spark_local, java_tmp = (os.path.join(run_dir, d) for d in ("tmp", "spark-local", "java-tmp"))
    for d in (tmp, spark_local, java_tmp):
        os.makedirs(d)
    out_path = os.path.join(run_dir, "result.json")
    trace_out = os.path.join(
        ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
    ) if args.trace else ""

    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=spark_local,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH", "")])),
        PYTHONHASHSEED="0",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    env["SPARK_SUBMIT_OPTS"] = " ".join(
        filter(None, [env.get("SPARK_SUBMIT_OPTS", ""), f"-Djava.io.tmpdir={java_tmp}", "-XX:-UsePerfData"])
    )

    cmd = [
        sys.executable,
        os.path.join(HERE, "harness.py"),
        f"--workload={args.workload}",
        f"--seed={args.seed}",
        f"--seconds={args.seconds}",
        f"--trace={args.trace}",
        f"--cpus={cpus}",
        f"--out={out_path}",
        f"--trace-out={trace_out}",
    ]
    spawn_mono, spawn_wall = time.monotonic(), time.time()
    cmd += [f"--spawn-mono={spawn_mono!r}", f"--spawn-wall={spawn_wall!r}"]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    end_session(proc)

    try:
        with open(out_path) as f:
            report = json.load(f)
    except (OSError, ValueError):
        report = None
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or report is None:
        why = "timed out" if code is None else f"exited with code {code}"
        print(f"benchmark child {why} without a result", file=sys.stderr)
        return 1
    print(json.dumps(report["info"]))
    print(json.dumps(report["result"]))
    return 0 if report["result"]["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
