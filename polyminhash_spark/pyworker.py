"""Stat-gated zip import-cache invalidation for Python worker processes.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py:setup_spark_files``).  On CPython
3.11, ``zipimport.zipimporter.invalidate_caches`` eagerly re-reads the
archive's whole central directory, once per zipimporter in
``sys.path_importer_cache``.  A reused worker that has run the engine's
Arrow/pandas UDFs holds 16 of them (``pyspark.zip`` and 11 of its
sub-packages, the spark-core jar and its ``org/``, two py4j entries),
so every Python task paid about 0.2 s of CPU re-reading archives that
had not changed: 9.6 ms per ``pyspark.zip`` read (1,328 entries), 43 ms
per spark-core jar read (5,359 entries), measured on a 4-core host.

:func:`install` replaces that method, for the whole process, with one
that re-reads an archive only when its ``(st_ino, st_size,
st_mtime_ns)`` differs from the stat taken before the last read of
that path; otherwise it points the importer back at the shared
directory cache.  A changed or new archive (a ``--py-files`` zip
included) is still re-read, so the invalidation contract holds.

The package ``__init__`` calls :func:`install`; every engine UDF closure
imports the package, so a worker installs the gate the first time it
runs an engine task and keeps it for its reused life.
"""

from __future__ import annotations

import functools
import os
import threading
import zipimport


def installed() -> bool:
    """True when this process runs the stat-gated invalidation."""
    method = getattr(getattr(zipimport, "zipimporter", None),
                     "invalidate_caches", None)
    return getattr(method, "_stat_gated", False)


def install() -> bool:
    """Install the gate on ``zipimport.zipimporter`` (idempotent).

    Returns whether the gate is in place.  Does nothing, and returns
    False, when the stdlib internals it relies on are missing."""
    if installed():
        return True
    importer = getattr(zipimport, "zipimporter", None)
    cache = getattr(zipimport, "_zip_directory_cache", None)
    reread = getattr(importer, "invalidate_caches", None)
    if reread is None or not isinstance(cache, dict):
        return False

    stamps: dict = {}  # archive path -> stat key taken before its last read
    lock = threading.Lock()

    @functools.wraps(reread)
    def invalidate_caches(self):
        archive = self.archive
        try:
            st = os.stat(archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
        with lock:
            files = cache.get(archive)
            if key is not None and files is not None \
                    and stamps.get(archive) == key:
                self._files = files
                return
            # stat BEFORE the read: an archive rewritten in between keeps
            # the older stamp, so the next call reads it again
            reread(self)
            if key is not None and archive in cache:
                stamps[archive] = key
            else:
                stamps.pop(archive, None)

    invalidate_caches._stat_gated = True
    importer.invalidate_caches = invalidate_caches
    return True
