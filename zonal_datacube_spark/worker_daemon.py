"""PySpark worker daemon that re-reads a zipped import path only when it changed.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module, so
every Python task process the session forks (UDF, pandas and Arrow tasks,
Python data source reads, Python streaming sink writes) starts here: the JVM
runs ``python -m zonal_datacube_spark.worker_daemon <worker module>``, the
stat gate below is installed, and ``pyspark.daemon.manager`` takes over with
``sys.argv`` untouched, so it still picks the worker module the JVM asked
for. Spark 4.1 starts its planner runners (``create_data_source``,
``plan_data_source_read``, the data source write and streaming-commit
planners) from the hard-coded ``pyspark.daemon`` instead, so
``zonal_datacube_spark.sources`` installs the gate when such a worker
unpickles one of its data source classes; from then on that worker is gated
too.

Before every task PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. A worker's path holds a ``zipimporter``
per package directory of ``pyspark.zip``, the py4j zip and the spark-core
jar, and CPython 3.11's ``zipimporter.invalidate_caches`` re-parses the
archive's whole central directory each time: about 0.25 s of CPU per task
on a 4-core host, before the task reads a row. The gate keeps the importer's
directory while the archive's ``os.stat`` ``(st_mtime_ns, st_size,
st_ino)`` equals the one taken before that importer's last re-read. An
importer's first call still re-reads, a rewritten or replaced archive is
re-read, and a missing one is handed to the original method. Directory
finders are not touched, so files shipped with ``addPyFile`` are still
found. CPython 3.13's lazy ``invalidate_caches`` only drops the cached
directory; the gate skips that drop the same way.

The workers must be able to import this package: run from the repository
root or put it on ``PYTHONPATH``. If they cannot, every Python task fails.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _archive_stat(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    # Stat before the re-read: an archive rewritten in between leaves an
    # older stat behind, so the next call re-reads again.
    stat = _archive_stat(self.archive)
    if stat is not None and stat == getattr(self, "_stat_at_read", None):
        return
    _reread(self)
    self._stat_at_read = stat


_invalidate_if_changed.stat_gated = True  # type: ignore[attr-defined]


def install() -> None:
    """Put the stat gate on every ``zipimporter`` in this process. A second
    call, from this module or from a second copy of it (the daemon runs it
    as ``__main__``), changes nothing."""
    if not getattr(zipimport.zipimporter.invalidate_caches, "stat_gated", False):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
