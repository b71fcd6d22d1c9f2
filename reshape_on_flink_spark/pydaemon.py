"""The Python worker daemon Spark starts for this engine
(``spark.python.daemon.module``, set by :func:`session.get_spark`).

On CPython < 3.13, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task, and each
cached ``zipimporter`` then re-reads its archive's directory: 16
importers over ``pyspark.zip``, the py4j zip and the Spark core jar,
0.15-0.34 s per task on a 4-core box (CPython 3.13 made the re-read
lazy). This daemon gates that re-read on the archive's
``(st_mtime_ns, st_size, st_ino)``, primes every importer once, and
then runs ``pyspark.daemon``: the forked workers inherit the primed
importers, so a task re-reads only an archive that changed.
``FileFinder`` directories are still invalidated on every task, so
``addPyFile`` modules appear as before. On CPython >= 3.13 this is plain
``pyspark.daemon``.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when its stat differs from the one recorded at this importer's last
    read. The stat is taken before the read, so a write racing the read
    leaves a stale record and the next call reads again."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        import importlib

        import pyspark.worker  # noqa: F401  (creates the importers to prime)

        zipimport.zipimporter.invalidate_caches = invalidate_if_changed
        importlib.invalidate_caches()

    from pyspark.daemon import manager

    manager()
