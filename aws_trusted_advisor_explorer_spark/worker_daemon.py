"""Python worker daemon for the sessions ``session.get_spark`` builds
(``spark.python.daemon.module``): PySpark's ``pyspark.daemon`` with
zip importers that re-read an archive's directory only when the
archive has changed.

Before every task, PySpark's worker calls ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``). Under CPython 3.11 each
``zipimport.zipimporter`` then re-reads its archive's whole directory;
a worker holds 16 importers over ``pyspark.zip`` (one per package on
the import path), so every task parsed about 26,700 directory entries
before its kernel ran. Here each directory read records the archive's
``(st_size, st_mtime_ns)``, taken just before the read, and an
importer re-reads only when the archive's stat differs from the one
recorded at its last read. A failed stat falls back to the stock
re-read. The daemon refreshes every importer it holds once before it
forks, so a worker's first task skips the read too.

Workers find this module where they already find the package: kernel
closures pickle package functions by reference, so the package must be
importable by the workers (the working directory or ``PYTHONPATH``),
with or without this daemon. Only a session whose Python tasks run no
package function at all could do without it before; now its first
Python task fails to start the daemon.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_read_directory = zipimport._read_directory
_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> (st_size, st_mtime_ns) taken just before its
# directory was last read
_stamps: dict[str, tuple[int, int]] = {}


def _stat(archive: str) -> tuple[int, int]:
    st = os.stat(archive)
    return st.st_size, st.st_mtime_ns


def _read_directory(archive):
    """The stock directory read, recording the archive's stamp. The
    stamp is taken before the read: an archive rewritten during the
    read keeps its old stamp and is re-read at the next refresh."""
    try:
        stamp = _stat(archive)
    except OSError:
        stamp = None
    _stamps.pop(archive, None)
    files = _stock_read_directory(archive)
    if stamp is not None:
        _stamps[archive] = stamp
    return files


def invalidate_caches(self):
    """Refresh the importer's file data from the archive only if the
    archive changed since its directory was last read; otherwise pick
    up the directory cached by that read."""
    try:
        stamp = _stat(self.archive)
    except OSError:
        return _stock_invalidate_caches(self)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if cached is None or _stamps.get(self.archive) != stamp:
        return _stock_invalidate_caches(self)
    self._files = cached


def install() -> None:
    """Route every zip importer's directory read and refresh through
    this module."""
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    install()
    import pyspark.daemon

    # stamp the importers this process already holds, before any fork
    importlib.invalidate_caches()
    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
