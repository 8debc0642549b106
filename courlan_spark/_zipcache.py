"""Keep zipimport's directory cache across ``importlib.invalidate_caches()``.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark.worker_util.setup_spark_files``), and the
worker imports pyspark itself from ``$SPARK_HOME/python/lib/pyspark.zip``
(1,328 entries).  On CPython 3.10-3.12 ``zipimporter.invalidate_caches``
re-reads the archive's whole central directory eagerly, and
``sys.path_importer_cache`` holds one zipimporter per package directory
imported from the zip (about 16), so every task re-parses pyspark.zip
about 16 times: most of a short task's Python-side cost.  At local[4]
on a 4-core host, 20 four-task jobs of a trivial pandas UDF took
6.2-6.8 s of wall with the eager re-read and 2.9-3.0 s without it.
CPython 3.13 made the re-read lazy (``invalidate_caches`` only drops the
cached entry and ``zipimporter._get_files`` reloads on demand); there
this module installs nothing.

The replacement keeps the one invariant the eager re-read exists for: an
archive whose contents changed is re-read.  It stats the archive and
re-reads it only when ``(st_mtime_ns, st_size)`` differs from the stamp
taken before its last read; otherwise the importer takes the directory
already in ``zipimport._zip_directory_cache``.  The stamp is taken
before the read, so a write that lands during a read still changes the
stamp and the next call reads again.  Every importer of one archive
shares the archive's entry, so after one re-read the others pick up the
new directory without reading it themselves.

``install()`` runs when the ``courlan_spark`` package is imported, which
every UDF's module import in a worker goes through (also when the
package ships as a ``--py-files`` zip).  It is idempotent.
"""

from __future__ import annotations

import os
import zipimport

# archive path -> (st_mtime_ns, st_size) taken just before its last read
_stamps: dict[str, tuple[int, int]] = {}
_eager_invalidate = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    """Re-read the archive's directory only if the archive changed."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _eager_invalidate(self)
    if stamp is not None:
        _stamps[self.archive] = stamp


def install() -> None:
    "Install the replacement on interpreters whose re-read is eager."
    if hasattr(zipimport.zipimporter, "_get_files"):
        return  # lazy re-read (CPython >= 3.13): nothing to save
    zipimport.zipimporter.invalidate_caches = invalidate_caches
