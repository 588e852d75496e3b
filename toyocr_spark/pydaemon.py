"""Python worker daemon for ``get_spark`` sessions: the stock
``pyspark.daemon`` with a cheaper ``zipimporter.invalidate_caches``.

Every Python task starts in ``pyspark.worker_util.setup_spark_files``,
which ends in ``importlib.invalidate_caches()``. Before CPython 3.13
that call makes every ``zipimporter`` in ``sys.path_importer_cache``
re-parse its archive's central directory, eagerly and in pure Python.
A worker holds one importer per imported ``pyspark`` subpackage (14-16
of them), all on the 3.5 MB ``pyspark.zip``, so each task re-reads
that directory 14-16 times: 0.2-0.4 s of fixed cost per task, more than
the extraction kernel spends on a typical partition. CPython 3.13 made
the invalidation lazy.

This module backports the saving: an archive is re-read only when its
``(st_mtime_ns, st_size, st_ino)`` differs from when it was last read,
so a replaced or rewritten zip is still picked up. ``FileFinder``
invalidation (the ``SparkFiles`` and ``addPyFile`` directories) is
untouched. On Python >= 3.13 the module just runs the stock daemon.

Spark starts it as ``python -m toyocr_spark.pydaemon <worker module>``
(``spark.python.daemon.module``); forked workers inherit the patch.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches

# archive path -> stat signature taken just before its directory was last read
_read_at: dict[str, tuple[int, int, int] | None] = {}


def _signature(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    sig = _signature(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if sig is not None and files is not None and _read_at.get(self.archive) == sig:
        self._files = files
        return
    _stock_invalidate_caches(self)
    _read_at[self.archive] = sig


def install() -> None:
    """Patch ``zipimporter`` and stamp every archive already imported
    from, so forked workers start with nothing to re-read."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if __name__ == "__main__":
    import pyspark.daemon

    if sys.version_info < (3, 13):
        install()
    pyspark.daemon.manager()
