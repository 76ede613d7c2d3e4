"""Python worker daemon whose zip-import cache survives each task's
``importlib.invalidate_caches()``.

Every Python task pyspark runs starts with ``setup_spark_files``, which
calls ``importlib.invalidate_caches()``. On CPython before 3.13,
``zipimporter.invalidate_caches`` re-reads its archive's whole central
directory at once. A worker holds one importer per package directory
it imported from ``pyspark.zip``, plus one each for the py4j zip and
the spark-core jar: 16 importers, so 16 directory reads per task. With
4 tasks starting together on a 4-core host that took 125–307 ms of
every task (Python 3.11, Spark 4.1); with this daemon the call takes
0.07–0.53 ms. CPython 3.13 made the re-read lazy.

This module replaces ``zipimporter.invalidate_caches`` with a version
that re-reads an archive only when its ``(st_mtime_ns, st_size)`` differs
from the stamp taken when it was last read, then runs pyspark's own
daemon loop, so every worker it forks inherits the patch. An archive
rewritten in place still gets re-read, and a module added to it still
imports. ``session.get_spark`` sets ``spark.python.daemon.module`` to
this module.
"""

from __future__ import annotations

import os
import zipimport

# archive path -> (st_mtime_ns, st_size) taken just before its last read;
# None when the archive could not be stat'ed
_read_at: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _read(archive: str) -> dict:
    """Read ``archive``'s directory into zipimport's shared cache. The
    stamp is taken first, so a rewrite racing the read shows up as a
    changed stamp on the next call."""
    stamp = _stamp(archive)
    try:
        files = zipimport._read_directory(archive)
    except zipimport.ZipImportError:
        zipimport._zip_directory_cache.pop(archive, None)
        _read_at.pop(archive, None)
        return {}
    zipimport._zip_directory_cache[archive] = files
    _read_at[archive] = stamp
    return files


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read this importer's archive only if it changed since its
    last read; otherwise point the importer at the cached directory."""
    archive = self.archive
    files = zipimport._zip_directory_cache.get(archive)
    stamp = _read_at.get(archive)
    if files is None or stamp is None or _stamp(archive) != stamp:
        files = _read(archive)
    self._files = files


def install() -> None:
    """Patch ``zipimporter`` in this process and stamp every archive it
    has cached (by reading each one once more, stamp first)."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    for archive in list(zipimport._zip_directory_cache):
        _read(archive)


if __name__ == "__main__":
    from pyspark import daemon

    install()
    daemon.manager()
