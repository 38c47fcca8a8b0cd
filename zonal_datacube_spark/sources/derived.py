"""Derived state: the one place that decides how state derived from a
fixture corpus is identified, built, checked and evicted.

- **Identity.** ``corpus_key`` folds the corpus path and the content
  stamp of every source table a derivation reads; ``corpus_tag`` is its
  path-safe form. A regenerated corpus (even rewritten in place) or a
  second corpus under the same basename never aliases a derived copy.
- **On-disk layouts.** ``layout`` materializes a derived copy (CSV, ORC,
  partitioned, z-ordered, MV, ...) once per corpus under ``LAYOUT_ROOT``.
  The builder writes to a private sibling ``<path>.tmp-<uuid>`` that is
  renamed into place only when complete, so "the final directory
  exists" is the whole completeness test, and two processes sharing the
  temp dir never read a half-written copy: the loser of a build race
  deletes its own temp copy and reads the winner's.
- **In-process caches.** ``DerivedCache`` is a capped, locked LRU keyed by
  the SparkContext ``applicationId`` (a fresh session never receives a
  value bound to a dead context). Evicted DataFrames the builder
  persisted are unpersisted; a persisted hit whose storage was cleared
  underneath it (``spark.catalog.clearCache()``) is re-persisted.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import threading
import uuid
from collections import OrderedDict
from collections.abc import Callable, Iterable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

# One root for every derived layout. The ``zds_`` prefix is what the
# benchmark's layout-build counter scans for under ``$TMPDIR``.
LAYOUT_ROOT = os.path.join(tempfile.gettempdir(), "zds_layouts")


def source_stamp(path: str) -> tuple:
    """Content-identity stamp of a source: (mtime_ns, size) for a plain
    file; for a DIRECTORY of part files, the sorted (name, mtime_ns,
    size) listing of its entries. The directory's own stat is not
    enough: rewriting part-file contents in place (same filenames)
    leaves the directory's mtime and size unchanged."""
    st = os.stat(path)
    if not os.path.isdir(path):
        return (st.st_mtime_ns, st.st_size)
    parts = []
    for name in sorted(os.listdir(path)):
        pst = os.stat(os.path.join(path, name))
        parts.append((name, pst.st_mtime_ns, pst.st_size))
    return (len(parts), tuple(parts))


def corpus_key(sf_dir: str, tables: Iterable[str]) -> tuple:
    """Identity of the part of a corpus a derivation reads: the resolved
    corpus path plus the content stamp of each source table."""
    return (
        os.path.realpath(sf_dir),
        tuple(
            (t, source_stamp(os.path.join(sf_dir, f"{t}.parquet"))) for t in tables
        ),
    )


def corpus_tag(sf_dir: str, tables: Iterable[str]) -> str:
    """``corpus_key`` as a path-safe name: the corpus basename (for
    readability) plus a hash of the full key."""
    base = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    digest = hashlib.md5(repr(corpus_key(sf_dir, tables)).encode()).hexdigest()
    return f"{base}-{digest[:10]}"


def layout(
    sf_dir: str, tables: Iterable[str], name: str, build: Callable[[str], None]
) -> str:
    """Path of the derived layout ``name`` of the corpus ``sf_dir``,
    built on first use by ``build(tmp_path)``, which must write the
    complete layout at ``tmp_path``. ``tables`` names every source table
    the build reads, so a change to any of them builds a fresh copy."""
    path = os.path.join(LAYOUT_ROOT, corpus_tag(sf_dir, tables), name)
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    try:
        build(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            if not os.path.isdir(path):
                raise
            # lost the build race: a complete copy is already in place
    finally:
        shutil.rmtree(tmp, ignore_errors=True)  # no-op once renamed
    return path


def _persisted(value: Any) -> list[DataFrame]:
    """The DataFrames in ``value`` (one, or a tuple of them) that the
    builder persisted."""
    items = value if isinstance(value, tuple) else (value,)
    return [v for v in items if isinstance(v, DataFrame) and v.is_cached]


_CACHES: list["DerivedCache"] = []


class DerivedCache:
    """Capped LRU of values derived in one Spark application.

    ``get_or_build`` holds the cache's lock across the build, so
    concurrent callers asking for the same key build it once; the lock is
    re-entrant because one entry's build may request another entry of the
    same cache. ``stats`` is a live ``{"hits", "misses", "evictions"}``
    dict."""

    def __init__(self, name: str, cap: int):
        self.name = name
        self.cap = cap
        self.stats = {"hits": 0, "misses": 0, "evictions": 0}
        self._entries: OrderedDict[tuple, Any] = OrderedDict()
        self._lock = threading.RLock()
        _CACHES.append(self)

    def __len__(self) -> int:
        return len(self._entries)

    def get_or_build(
        self, spark: SparkSession, key: tuple, build: Callable[[], Any]
    ) -> Any:
        """The cached value for ``key`` in ``spark``'s application, else
        ``build()``'s result (cached). Callers treat the value as
        read-only and never unpersist it: its lifecycle belongs here."""
        key = (spark.sparkContext.applicationId, *key)
        with self._lock:
            if key in self._entries:
                self._entries.move_to_end(key)
                self.stats["hits"] += 1
                value = self._entries[key]
                for df in _persisted(value):
                    if df.storageLevel == StorageLevel.NONE:
                        df.persist(StorageLevel.MEMORY_AND_DISK)
                        df.count()
                return value
            self.stats["misses"] += 1
            value = build()
            self._entries[key] = value
            while len(self._entries) > self.cap:
                self.stats["evictions"] += 1
                _unpersist(self._entries.popitem(last=False)[1])
            return value

    def clear(self) -> None:
        """Unpersist and drop every entry (counters are kept)."""
        with self._lock:
            while self._entries:
                _unpersist(self._entries.popitem(last=False)[1])


def _unpersist(value: Any) -> None:
    for df in _persisted(value):
        try:
            df.unpersist()
        except Exception:
            # an entry of a STOPPED SparkContext cannot be unpersisted;
            # dropping the reference is all the cleanup left, and
            # eviction must never break the live caller
            pass


def cache_stats() -> dict[str, dict[str, int]]:
    """Counters of every in-process cache, by cache name."""
    return {c.name: dict(c.stats) for c in _CACHES}
