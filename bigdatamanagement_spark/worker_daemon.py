"""Python-worker daemon that stops re-reading zip directories per task.

Spark starts Python workers by forking them from a daemon process
(``python -m <spark.python.daemon.module> <worker module>``). Every task
a worker runs begins with ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()`` so that files shipped with
``addPyFile`` become importable. On CPython 3.11,
``zipimporter.invalidate_caches()`` re-reads the whole central directory
of its archive, and it does so once for every cached zipimporter: one
for each archive on ``sys.path`` plus one for each package imported out
of it. Spark puts ``pyspark.zip`` (1,328 entries) and the spark-core jar
(5,359 entries) on every worker's path, so each task paid 0.14-0.44 s of
directory parsing on a 4-core host before it read a row.

This module runs pyspark's own daemon after replacing that method with
one that re-reads an archive only when its ``(mtime_ns, size)`` differs
from what this process saw when it last read it. Unchanged archives keep
their parsed directory; a rewritten archive is re-read exactly as
before. Nothing else changes: ``FileFinder`` caches are still
invalidated every task (a new ``.py`` file in a path directory imports),
and a zip added at runtime gets a fresh zipimporter on first import.
Forked workers inherit the patch and the recorded signatures.

``get_spark`` selects this module through ``spark.python.daemon.module``,
so every executor must be able to import ``bigdatamanagement_spark``
(for example through ``PYTHONPATH``). Engine UDFs already need that, but
with the daemon a failed import stops every Python UDF, not only the
engine's.
"""

from __future__ import annotations

import importlib
import os
import zipimport

# archive path -> (st_mtime_ns, st_size) when this process last read it
_SIGNATURES: dict[str, tuple[int, int]] = {}
_reread_directory = zipimport.zipimporter.invalidate_caches


def _signature(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read this importer's archive directory only if the archive
    changed since this process last read it; otherwise share the
    directory that read produced."""
    sig = _signature(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if sig is not None and files is not None and _SIGNATURES.get(self.archive) == sig:
        self._files = files
        return
    # stat before the read: a write racing the read leaves an older
    # signature behind, so the next call reads again
    _reread_directory(self)
    if sig is not None and self.archive in zipimport._zip_directory_cache:
        _SIGNATURES[self.archive] = sig
    else:
        _SIGNATURES.pop(self.archive, None)


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process (idempotent)
    and record the signature of every archive already on the import path.
    A zipimporter with ``_get_files`` reads its directory lazily and is
    left unpatched."""
    cls = zipimport.zipimporter
    if cls.invalidate_caches is _invalidate_caches or hasattr(cls, "_get_files"):
        return
    cls.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()  # one read per archive, signature recorded


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
