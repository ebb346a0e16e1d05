"""Zip-import cache invalidation that re-reads only changed archives.

Every PySpark task ends its set-up with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  Before CPython 3.13,
``zipimporter.invalidate_caches`` re-reads the whole central directory of
its archive, and a worker holds one importer per package it imported
from ``pyspark.zip`` (14, over 1,328 entries): 0.13–0.19 CPU s per task,
more than the work of a small task.  CPython 3.13 made the call drop the
cache entry instead.

``install`` backports a cheap invalidation on Python < 3.13: every
directory read records the archive's ``(st_mtime_ns, st_size)``, taken
before the read, and ``invalidate_caches`` re-reads an archive only when
that stamp has changed, so a changed archive is re-read before the next
import from it.  An archive read before ``install`` has no stamp and is
re-read once.  The package ``__init__`` installs it, so every worker that
unpickles one of the package's functions has it, however the package
ships (site-packages, ``PYTHONPATH`` or ``--py-files``).
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> (stamp before the read, directory the read returned)
_read_at: dict[str, tuple[tuple[int, int], dict]] = {}


def _stamp(archive: str) -> tuple[int, int]:
    st = os.stat(archive)
    return st.st_mtime_ns, st.st_size


def _stamped(read):
    """``zipimport._read_directory`` that records the stamp of each read."""

    def _read_directory(archive):
        try:
            stamp = _stamp(archive)
        except OSError:
            return read(archive)  # raises ZipImportError, as before
        files = read(archive)
        _read_at[archive] = (stamp, files)
        return files

    return _read_directory


def _invalidate_caches(self) -> None:
    """Re-read the archive's directory only if the archive changed since
    it was last read."""
    archive = self.archive
    seen = _read_at.get(archive)
    try:
        fresh = seen is not None and seen[0] == _stamp(archive)
    except OSError:
        fresh = False
    if fresh:
        self._files = seen[1]
        return
    _read_at.pop(archive, None)
    try:
        # looked up at call time: the stamping reader, or whatever wraps it
        files = zipimport._read_directory(archive)
    except zipimport.ZipImportError:
        zipimport._zip_directory_cache.pop(archive, None)
        self._files = {}
    else:
        self._files = zipimport._zip_directory_cache[archive] = files


def install() -> None:
    """Patch ``zipimport`` on Python < 3.13; idempotent."""
    if sys.version_info >= (3, 13):
        return
    if zipimport.zipimporter.invalidate_caches is _invalidate_caches:
        return
    zipimport._read_directory = _stamped(zipimport._read_directory)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
