"""The Python worker daemon of local sessions: ``pyspark.daemon`` with a
cheaper ``zipimport.zipimporter.invalidate_caches``.

PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` before every task. On CPython 3.11 that
makes every cached ``zipimporter`` re-read its whole archive directory, so
each task re-reads the 1,328 entries of ``pyspark.zip`` (task launch to UDF
entry: 0.117 s, against 0.013 s with this module; no-op Arrow tasks,
local[4] on 4 vCPU). Here an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from what that importer last read, so a
zip that ``addPyFile`` ships again still gets re-read.
``session.get_spark`` names this module in ``spark.python.daemon.module``.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)
    if stamp is None or getattr(self, "_read_stamp", None) != stamp:
        _reread(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # stamp the importers the forked workers inherit
    daemon.manager()
