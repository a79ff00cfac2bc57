"""Python worker daemon of the engine's sessions (``spark.python.daemon.module``).

PySpark calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark/worker_util.py:setup_spark_files``). Before CPython 3.13,
``zipimporter.invalidate_caches`` re-reads the archive's central
directory on every call, once per importer, and a worker holds one
importer per pyspark subpackage: ``pyspark.zip`` is re-read about 16
times per task. Here an archive is re-read only when its
``(st_ino, st_size, st_mtime_ns)`` changed; otherwise the importer is
pointed at the directory already cached. CPython 3.13 made the re-read
lazy, so there the stdlib method is left as it is.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches
_read_stamps: dict[str, tuple[int, int, int] | None] = {}


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    cached = zipimport._zip_directory_cache.get(self.archive)
    known = stamp is not None and _read_stamps.get(self.archive) == stamp
    if known and cached is not None:
        self._files = cached
        return
    # stat before the read: a rewrite racing the read changes the stamp again
    _stdlib_invalidate_caches(self)
    _read_stamps[self.archive] = stamp


def install() -> None:
    """Swap in the stat-checked ``zipimporter.invalidate_caches``; idempotent."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


def main() -> None:
    install()
    # read each archive once here, so every forked worker inherits the stamps
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
