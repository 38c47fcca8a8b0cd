"""Remove-predecessor temp-dir tracking for operator keys that stage
files on local disk (ADVICE r05: time travel / WAP / tick-stream /
python-sink each mkdtemp'd per invocation and never cleaned up, so
multi-run benches, two-SF parity sweeps, and test sessions accumulated
unbounded garbage).

Contract: ``fresh_dirs(key, *prefixes)`` deletes the dirs the SAME key
created on its previous invocation, then hands back fresh ones. Deleting
on the NEXT call (not atexit-only) keeps the returned lazy DataFrames
readable until the caller has consumed them. An atexit hook sweeps
whatever the final invocation left behind.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import threading

_LAST: dict[str, list[str]] = {}
# concurrency contract (ADVICE r06): the registry is process-global and
# callers may run keys from worker threads (pytest-xdist, a concurrent
# bench harness) — the pop/insert pair must be atomic or two racing
# invocations of the SAME key can both claim (and one then delete) a
# live dir set. Per-key serialization is the caller's business; this
# lock only keeps the bookkeeping itself consistent.
_LOCK = threading.Lock()


def fresh_dirs(key: str, *prefixes: str) -> list[str]:
    """Fresh mkdtemp dirs for ``key``, removing the key's previous set."""
    with _LOCK:
        stale = _LAST.pop(key, [])
    for d in stale:
        shutil.rmtree(d, ignore_errors=True)
    dirs = [tempfile.mkdtemp(prefix=p) for p in prefixes]
    with _LOCK:
        _LAST[key] = dirs
    return dirs


@atexit.register
def _sweep_remaining() -> None:  # pragma: no cover - process teardown
    with _LOCK:
        doomed = [d for dirs in _LAST.values() for d in dirs]
        _LAST.clear()
    for d in doomed:
        shutil.rmtree(d, ignore_errors=True)
