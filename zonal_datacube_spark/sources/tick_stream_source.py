"""Custom Python STREAMING DataSource (Spark 4 public API): a
deterministic tick stream — the streaming twin of
``raster_source.py``'s batch connector.

Why this matters: the reference-style deployment ingests from custom
feeds (sensor APIs, tile-update queues) that ship no JVM connector. The
``pyspark.sql.datasource`` streaming contract — ``initialOffset`` /
``latestOffset`` / ``partitions(start, end)`` / ``read(partition)`` /
``commit`` — is the public pip-only way to plug such a feed into
Structured Streaming with real offset tracking and per-partition
parallel reads (the same admission-control surface a JVM V2 source
gets, including exactly-once via offset replay).

Scale design:
- offsets are a single monotonically increasing tick counter; each
  micro-batch's (start, end] range splits into fixed-size tick chunks,
  one ``InputPartition`` each — a 1000-executor cluster drains a deep
  backlog 1000 chunks at a time;
- rows are pure integer arithmetic of (tick, i), so replaying any
  offset range regenerates identical rows — the determinism
  exactly-once recovery relies on, and what lets the DuckDB oracle
  regenerate the whole feed via ``generate_series`` to prove the
  connector loses nothing end-to-end;
- the source is FINITE (``ticks`` option) so availableNow/poll-drain
  terminates; a production feed would return its live tail from
  ``latestOffset`` instead.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

TICK_STREAM_NAME = "zds_tick_stream"
# Row budget per InputPartition: chunk width derives from rows_per_tick
# so partitions track DATA VOLUME, not a fixed tick count (guide §2
# scale-adaptive partitioning — the r13 fixed CHUNK_TICKS=64 cut the
# 8192-row fixture feed into 8 × 1024-row partitions, paying 8 Python
# worker round-trips per micro-batch for arithmetic a single worker
# does in microseconds, while a production feed at millions of rows
# per tick would have OVERFILLED a 64-tick chunk). A backlog of T ticks
# at R rows/tick drains in ceil(T*R/CHUNK_ROWS) partitions either way —
# deep backlogs still fan out cluster-wide. A tick is never split across
# partitions, so a partition holds at most max(CHUNK_ROWS, R) rows: once
# R exceeds the budget, every partition carries exactly one tick.
CHUNK_ROWS = 4096


class _TickRange(InputPartition):
    def __init__(self, start: int, end: int, rows_per_tick: int):
        self.start, self.end, self.rows_per_tick = start, end, rows_per_tick


class SyntheticTickStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.total_ticks = int(options.get("ticks", 512))
        self.rows_per_tick = int(options.get("rows_per_tick", 16))

    def initialOffset(self) -> dict:  # noqa: D102
        return {"tick": 0}

    def latestOffset(self) -> dict:  # noqa: D102
        # finite feed: everything is available immediately; a live feed
        # would return its current tail here
        return {"tick": self.total_ticks}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:  # noqa: D102
        s, e = int(start["tick"]), int(end["tick"])
        chunk_ticks = max(1, CHUNK_ROWS // max(1, self.rows_per_tick))
        return [
            _TickRange(t0, min(t0 + chunk_ticks, e), self.rows_per_tick)
            for t0 in range(s, e, chunk_ticks)
        ] or [_TickRange(s, s, self.rows_per_tick)]

    def read(self, partition: _TickRange) -> Iterator[tuple]:  # noqa: D102
        for t in range(partition.start, partition.end):
            base = t * 31
            for i in range(partition.rows_per_tick):
                yield (t, i, (base + i * 17) % 97)

    def commit(self, end: dict) -> None:  # noqa: D102
        pass  # offsets are derivable; nothing external to acknowledge


class SyntheticTickStreamSource(DataSource):
    """``spark.readStream.format("zds_tick_stream").option("ticks", 512)``
    — a deterministic finite tick feed, partition-parallel per batch."""

    @classmethod
    def name(cls) -> str:  # noqa: D102
        return TICK_STREAM_NAME

    def schema(self) -> str:  # noqa: D102
        return "tick INT, i INT, val INT"

    def streamReader(self, schema) -> DataSourceStreamReader:  # noqa: D102
        return SyntheticTickStreamReader(dict(self.options))


def register_tick_stream_source(spark) -> None:
    """Idempotent registration (same contract as register_raster_source)."""
    try:
        spark.dataSource.register(SyntheticTickStreamSource)
    except Exception as exc:
        msg = str(exc).lower()
        if "already" in msg and "regist" in msg:
            return
        raise
