"""Spark's Python worker daemon, minus a zip re-read on every task.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``), so that files added with
``addPyFile`` become importable. On CPython 3.11 that makes every cached
``zipimporter`` re-read its archive's whole directory, and the workers
import pyspark itself from ``$SPARK_HOME/python/lib/pyspark.zip``: one
importer per package directory, each re-reading the 3.5 MB archive, about
0.2 s of CPU per task before any work. Here an importer re-reads its
archive only when the archive's ``(mtime_ns, size)`` has changed since
it was last read, so an added or replaced zip is still picked up.
``get_spark`` starts the workers through this module
(``spark.python.daemon.module``); it then runs ``pyspark.daemon``.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.
    The stamp is taken before the read, so a change during the read
    shows up as a new stamp at the next call."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _stamps[self.archive] = stamp


# lets a Python task check that it runs with this patch
invalidate_caches.stat_gated = True


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # stamp the archives already imported from
    from pyspark.daemon import manager

    manager()
