"""Python worker daemon: PySpark's own daemon, minus a per-task zip reread.

Every Python task runs ``importlib.invalidate_caches()`` (pyspark's
``worker_util.setup_spark_files``).  Before CPython 3.13 that makes each
``zipimporter`` re-read its archive's central directory at once: 14-16
importers over pyspark.zip's 1,328 entries, 0.11-0.14 s per task on
CPython 3.11 (4-core x86 host).  Run as the daemon
(``spark.python.daemon.module``, set by ``session.get_spark``), this module
lets a zipimporter re-read only when its archive's (mtime, size) changed
since its last read; workers fork from the daemon and inherit that.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None  # gone: let the stock reread drop its directory
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager

    manager()
