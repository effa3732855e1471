"""Python-worker setup for the functions the package ships to Spark.

PySpark starts every Python task with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  On CPython before 3.13,
``zipimporter.invalidate_caches`` re-reads the whole directory of its
archive, and a warm worker holds about 16 zipimporters over
``pyspark.zip``, the py4j zip and the spark-core jar (5359 entries):
120–330 ms of every task on a 4-core host, for directories that have
not changed.  :func:`skip_unchanged_zip_rereads` keeps a directory
until its archive changes.

The setup cannot go into a custom ``spark.python.daemon.module``: the
daemon starts before ``--py-files`` reach the worker, so it could not
import this package.  Each worker function calls it first instead; the
first task of a worker process still pays one re-read, the later ones
none.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _archive_stat(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive's (mtime, size) differs from what
    that importer last read; a changed or missing archive is handled as
    before.  Importers already in ``sys.path_importer_cache`` count as
    read now.  Idempotent; correct over both the eager (3.11, 3.12) and
    the lazy (3.13) ``invalidate_caches``."""
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "skips_unchanged", False):
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self) -> None:
        stat = _archive_stat(self.archive)
        if stat is None or stat != getattr(self, "_read_stat", None):
            reread(self)
            self._read_stat = stat

    invalidate_caches.skips_unchanged = True
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            finder._read_stat = _archive_stat(finder.archive)
    cls.invalidate_caches = invalidate_caches
