"""Stat-checked ``zipimporter.invalidate_caches`` for PySpark worker processes.

PySpark's worker calls ``importlib.invalidate_caches()`` once per task
(``pyspark.worker_util.setup_spark_files``) so that a ``--py-files`` archive
replaced between tasks is picked up.  On CPython < 3.13 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its whole archive
directory.  A warm worker holds one importer per zip path it imported from
(16 under pyspark 4.1.2: pyspark subpackages, py4j, the spark-core jar), so
each task parsed the 1,328-entry ``pyspark.zip`` directory 16 times, ~0.2 s
per task on a 4-core VM before its UDF ran (NOTES.md, "Python task floor").  CPython 3.13 drops the cached directory instead of
re-reading it, so the stdlib method is left alone there.

The replacement re-reads an archive only when its ``(st_ino, st_mtime_ns,
st_size)`` changed since the last read; otherwise the importer takes the
directory already in ``zipimport._zip_directory_cache``.  A replaced archive
is still re-read on the next task, and new ``sys.path`` entries get new
importers anyway.

``dataflow_spark/__init__.py`` imports this module, so every engine UDF
installs it in its worker when its pickle loads; workers are reused, so
every later task of that worker skips the re-reads.  The driver is never
patched.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STDLIB_INVALIDATE_CACHES = zipimport.zipimporter.invalidate_caches

# archive path -> stat stamp taken just before its directory was last read.
# Process-wide like zipimport._zip_directory_cache, which it annotates.
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def stat_checked_invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read ``self.archive``'s directory only if the file changed."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    # Stamp taken before the read: a rewrite racing the read leaves an old
    # stamp, so the next call reads again rather than trusting a stale one.
    _STDLIB_INVALIDATE_CACHES(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp
    else:
        _stamps.pop(self.archive, None)


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` in a PySpark worker on CPython
    < 3.13; return whether the stat-checked method is installed."""
    # pyspark.daemon imports pyspark.worker before it forks each worker; the
    # driver never imports it.
    if sys.version_info >= (3, 13) or "pyspark.worker" not in sys.modules:
        return False
    zipimport.zipimporter.invalidate_caches = stat_checked_invalidate_caches
    return True


install()
