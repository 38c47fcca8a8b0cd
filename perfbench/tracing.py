"""Spans and engine counters for the traced run.

Spans are recorded from the benchmark's own files, around the calls into
each layer's public functions; nothing inside the program is changed.
They stay in memory and are written out once, when the run ends.

Engine counters come from the driver JVM through py4j:

- job and stage ids from the DAG scheduler's id counters, so every job a
  call starts is attributed to it (the loop has one client, so nothing
  else runs meanwhile);
- task metrics per stage from the application status store
  (``AppStatusStore.lastStageAttempt``), read after the listener bus has
  drained;
- SQL metrics from the final executed plan of the call's DataFrame.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

MB = 1e6
# live_heap_mb: forced collections, and the pause after each that lets
# Spark's ContextCleaner drop what the previous one found unreachable.
HEAP_GC_ROUNDS = 4
HEAP_GC_PAUSE_S = 0.5


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Times are ``time.time()`` seconds, so
    streaming progress timestamps can be placed on the same axis."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Record a span around the block; yields the span's index."""
        idx = self.open(name, time.time(), attrs)
        try:
            yield idx
        finally:
            self.close(idx)

    def open(self, name: str, start: float, attrs: dict | None = None) -> int:
        """Start a span at ``start``; spans opened later nest under it."""
        idx = self.add(name, start, 0.0, attrs)
        self._stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self._stack.remove(idx)
        self.spans[idx].end = time.time()

    def add(self, name: str, start: float, end: float, attrs: dict | None = None, parent: int | None = None) -> int:
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append(Span(name, start, end, parent, self.run_id, attrs or {}))
        return len(self.spans) - 1

    def self_times(self) -> list[float]:
        """Each span's duration minus the part of it its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        out = []
        for i, s in enumerate(self.spans):
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(i, [])):
                a, b = max(a, s.start), min(b, s.end)
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out.append((s.end - s.start) - covered)
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        rows = [dict(asdict(s), id=i, self_s=selfs[i]) for i, s in enumerate(self.spans)]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": rows}, f)


class EngineCounters:
    """Reads the driver JVM's scheduler, status store and plan metrics."""

    STAGE_FIELDS = (
        "numTasks",
        "numFailedTasks",
        "executorRunTime",
        "executorCpuTime",
        "jvmGcTime",
        "inputBytes",
        "outputBytes",
        "shuffleReadBytes",
        "shuffleWriteBytes",
        "diskBytesSpilled",
    )

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        self.dag = self.sc.dagScheduler()

    def drain(self) -> None:
        self.sc.listenerBus().waitUntilEmpty(30000)

    def ids(self) -> tuple[int, int]:
        """(next job id, next stage id)."""
        return int(self.dag.nextJobId()), int(self.dag.nextStageId())

    def stage_totals(self, first_stage: int, end_stage: int) -> dict[str, int]:
        """Task metrics summed over stages [first_stage, end_stage)."""
        from py4j.protocol import Py4JJavaError

        store = self.sc.statusStore()
        tot = dict.fromkeys(self.STAGE_FIELDS, 0)
        for sid in range(first_stage, end_stage):
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage evicted from the store or never registered
                continue
            for f in self.STAGE_FIELDS:
                tot[f] += int(getattr(sd, f)())
        return tot

    @staticmethod
    def plan_metrics(executed_plan) -> dict[str, int]:
        """Σ numOutputRows and Σ pythonDataSent over a final executed plan,
        descending through adaptive and query-stage wrappers; zeros when
        there is no executed plan."""
        tot = {"numOutputRows": 0, "pythonDataSent": 0}
        todo = [executed_plan] if executed_plan is not None else []
        while todo:
            node = todo.pop()
            kind = node.getClass().getSimpleName()
            metrics = node.metrics()
            for name in tot:
                opt = metrics.get(name)
                if opt.isDefined():
                    tot[name] += int(opt.get().value())
            if kind == "AdaptiveSparkPlanExec":
                todo.append(node.executedPlan())
            elif kind.endswith("QueryStageExec"):
                todo.append(node.plan())
            else:
                children = node.children()
                todo.extend(children.apply(i) for i in range(children.size()))
        return tot

    def storage(self) -> tuple[int, float]:
        """(persisted RDDs holding cached partitions, their MB)."""
        n, size = 0, 0
        for info in self.sc.getRDDStorageInfo():
            if info.numCachedPartitions() > 0:
                n += 1
                size += info.memSize() + info.diskSize()
        return n, size / MB


def live_heap_mb(spark) -> float:
    """Driver JVM heap left after a forced full collection: the heap pools'
    post-collection usage, lowest of ``HEAP_GC_ROUNDS`` collections."""
    import gc

    jvm = spark._jvm
    pools = [
        p
        for p in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        if p.getType().toString() == "Heap memory" and p.isCollectionUsageThresholdSupported()
    ]
    best = float("inf")
    for _ in range(HEAP_GC_ROUNDS):
        gc.collect()  # release py4j proxies so the JVM objects they pin can go
        jvm.java.lang.System.gc()
        best = min(best, sum(p.getCollectionUsage().getUsed() for p in pools))
        time.sleep(HEAP_GC_PAUSE_S)
    return best / MB


def make_stream_listener():
    """A ``StreamingQueryListener`` that totals progress events and keeps
    each micro-batch's (start, end, attrs) for the tracer."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.totals = dict.fromkeys(
                ("queries", "batches", "trigger_ms", "add_batch_ms", "commit_ms", "input_rows"), 0
            )
            self.batches: list[tuple[float, float, dict]] = []

        def onQueryStarted(self, event):
            self.totals["queries"] += 1

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            trig = d.get("triggerExecution", 0)
            self.totals["batches"] += 1
            self.totals["trigger_ms"] += trig
            self.totals["add_batch_ms"] += d.get("addBatch", 0)
            self.totals["commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
            self.totals["input_rows"] += p.numInputRows or 0
            start = _iso_epoch(p.timestamp)
            self.batches.append((start, start + trig / 1000.0, {"batch": p.batchId, "rows": p.numInputRows}))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def _iso_epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f").replace(tzinfo=timezone.utc).timestamp()


class HostSampler:
    """/proc/stat steal share and 1-minute loadavg across an interval."""

    def __init__(self):
        self._t0 = self._cpu()

    @staticmethod
    def _cpu() -> tuple[int, int]:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals[:8])

    def read(self) -> dict[str, float]:
        s1, t1 = self._cpu()
        s0, t0 = self._t0
        return {
            "steal_frac": (s1 - s0) / (t1 - t0) if t1 > t0 else 0.0,
            "loadavg1": os.getloadavg()[0],
        }
