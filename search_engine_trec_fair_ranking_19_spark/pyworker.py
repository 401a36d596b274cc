"""Python worker daemon of the engine's sessions (``spark.python.daemon.module``).

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 that makes every
``zipimporter`` on the path re-read its archive's whole directory: ~16 reads
of pyspark.zip, ≈0.2 s per Python task. This daemon runs the stock
``pyspark.daemon`` after wrapping ``zipimporter.invalidate_caches`` so that
an importer re-reads only when its archive's ``(st_mtime_ns, st_size)``
differs from that at its own last read. Files added with ``addPyFile`` land at
new paths and get new importers, which read on first use as before.
"""

from __future__ import annotations

import os
import weakref
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# importer → archive stamp at its last read (per importer: each holds its own
# copy of the directory, so one importer's read refreshes no other)
_stamps: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive's directory unless it is unchanged since the last read."""
    stamp = _stamp(self.archive)
    if stamp is None or _stamps.get(self) != stamp:
        _reread(self)
        _stamps[self] = stamp


if __name__ == "__main__":
    # set before the fork, so every worker the daemon forks inherits it
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon  # reads the worker module from sys.argv

    daemon.manager()
