"""pyspark-geotile: the OSM PBF conversion engine on Spark.

Importing the package installs one process-wide change to ``zipimport``
(``_invalidate_caches_if_changed``); it has no other side effects.
"""

import os
import zipimport

_stock_invalidate_caches = getattr(
    zipimport.zipimporter.invalidate_caches, "__wrapped__",
    zipimport.zipimporter.invalidate_caches)  # idempotent under reload


def _invalidate_caches_if_changed(self):
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive file changed.

    PySpark's ``worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` at the start of every Python task. On
    Python 3.11 the stock ``zipimporter.invalidate_caches`` re-reads the
    archive's whole central directory each time. A worker's importer cache
    holds 16 zipimporters: 12 over ``pyspark.zip`` (1,328 entries) and its
    subpackages, 2 over the ``spark-core`` jar (5,359 entries) and 2 over
    the py4j zip. That is 26,672 directory entries parsed again per task,
    0.11-0.19 s of a 0.30 s no-op two-task ``mapInArrow`` stage on a
    4-vCPU VM, and every Arrow stage of the engine pays it.

    This wrapper keeps each importer's last ``(st_ino, st_size,
    st_mtime_ns, st_ctime_ns)`` of ``self.archive`` and calls the stock
    method only when that key changed or ``os.stat`` failed, so a rewritten
    or deleted archive is handled exactly as before; an unchanged one costs
    a ``stat``. Any write changes ``st_ctime_ns`` and ``os.utime`` cannot
    set it, so an in-place rewrite at the same size whose mtime is then set
    back (``cp -p``, ``touch -r``) is still re-read.

    Every engine stage unpickles package code, which imports this package,
    so each Python worker installs the wrapper during its first task and
    its later tasks skip the re-reads; the driver gets the same wrapper.
    """
    try:
        st = os.stat(self.archive)
        key = (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)
    except OSError:
        key = None
    if key is None or key != getattr(self, "_directory_key", None):
        _stock_invalidate_caches(self)
        self._directory_key = key


_invalidate_caches_if_changed.__wrapped__ = _stock_invalidate_caches
zipimport.zipimporter.invalidate_caches = _invalidate_caches_if_changed
