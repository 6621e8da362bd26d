"""PySpark daemon for the package's Python workers
(``spark.python.daemon.module``, set by ``session.get_spark``).

Every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before Python 3.13 a
``zipimport.zipimporter`` answers that by re-reading its archive's whole
central directory, and a worker holds importers for pyspark.zip, the
spark-core jar and py4j: 16 directory re-reads, ~230 ms of CPU, per task.
Here an importer re-reads its archive only when the archive's stat stamp
differs from the one that importer last read, so a rewritten archive
(``addPyFile`` of an updated zip) is still picked up. The daemon patches
before it forks, so every worker inherits the patch; the rest is
``pyspark.daemon`` unchanged.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def reread_if_changed(reread):
    """``zipimporter.invalidate_caches`` that calls ``reread`` only when
    the archive changed since this importer last read it (or is gone)."""

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            reread(self)
            self._read_stamp = stamp

    return invalidate_caches


if __name__ == "__main__":
    if sys.version_info < (3, 13):  # 3.13 made the re-read lazy upstream
        zipimport.zipimporter.invalidate_caches = reread_if_changed(
            zipimport.zipimporter.invalidate_caches)
    from pyspark import daemon

    daemon.manager()
