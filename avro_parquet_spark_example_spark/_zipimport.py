"""Stat-checked ``zipimport`` cache invalidation.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``), so that files added
with ``addPyFile`` become importable. On CPython 3.11 that makes every
``zipimport.zipimporter`` re-parse the whole central directory of its
archive. A worker that imports PySpark from
``$SPARK_HOME/python/lib/pyspark.zip`` holds one importer per package it
loaded from the zip (14-17 of them), so each task re-read the 1,328-entry
directory that many times before the task's own code ran (0.16-0.19 s in an
idle process, more in a busy worker), in every UDF, ``mapInArrow`` and
Python data source task.

Importing this module (the package ``__init__`` does it first, so every
worker that unpickles engine code does) replaces
``zipimporter.invalidate_caches`` with :func:`invalidate_caches`. It re-reads
an archive only when the archive's ``(st_mtime_ns, st_size, st_ino)``
differs from the one taken just before its directory was last read, or when
``os.stat`` fails; otherwise an invalidation costs one ``stat`` and the
importer takes the directory already read. A changed, replaced or deleted
archive is therefore still re-read exactly as before; this is the kind of
check ``FileFinder`` already makes on a directory's mtime. On import, each
archive already open is read once more, so that every later check has a
``stat`` to compare with.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches

#: Archive path -> its ``(st_mtime_ns, st_size, st_ino)`` (None when ``stat``
#: failed), taken just before :func:`invalidate_caches` last read it.
_read_at: dict[str, tuple[int, int, int] | None] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read this importer's archive only if it changed since it was last
    read here; otherwise reuse the directory read then."""
    archive = self.archive
    key = _stat_key(archive)
    files = zipimport._zip_directory_cache.get(archive)
    if key is not None and files is not None and _read_at.get(archive) == key:
        self._files = files
        return
    _read_at[archive] = key
    _reread(self)


zipimport.zipimporter.invalidate_caches = invalidate_caches
for _importer in list(sys.path_importer_cache.values()):
    if isinstance(_importer, zipimport.zipimporter):
        _importer.invalidate_caches()
