"""Python worker daemon for the engine's sessions (`spark.python.daemon.module`).

Every Python task runs `pyspark.worker_util.setup_spark_files`, which calls
`importlib.invalidate_caches()`. Before CPython 3.13 that makes every
`zipimporter` on the worker's path re-read its archive directory, and Spark
always puts pyspark.zip, the py4j zip and the 5k-entry spark-core jar
there: 150-225 ms of each task on a 4-core x86 host with CPython 3.11.
Here an importer re-reads only when its archive's (st_mtime_ns, st_size)
differs from the stamp it last read; the first call always reads. The
daemon makes that first call before it forks workers.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_read = zipimport.zipimporter.invalidate_caches


def stamped_invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_stamp", None) != stamp:
        _read(self)
        self._stamp = stamp


stamped_invalidate_caches.__wrapped__ = _read

if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = stamped_invalidate_caches
    importlib.invalidate_caches()
    from pyspark import daemon
    daemon.manager()
