"""PySpark worker daemon that stops re-reading unchanged zip archives.

``get_spark`` starts Python workers through this module
(``spark.python.daemon.module``). Before every task,
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. Before CPython 3.13 that makes every
``zipimport.zipimporter`` on ``sys.path`` re-read its archive's central
directory: one importer per imported pyspark subpackage over
``pyspark.zip`` (1,328 entries) and two over the spark-core jar (5,359).
Inside a worker on a 4-vCPU VM, with 16 zip importers, one such call
took 54–80 ms of CPU, every task, before any user code ran; 0.03 ms here.

Here an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from the one taken before the last
read; otherwise it adopts the directory already read. The change is
installed in the daemon, so every worker it forks inherits it, then
``pyspark.daemon.manager()`` runs as usual.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) taken just before its last read
_read_at: dict[str, tuple[int, int] | None] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        sig = (st.st_mtime_ns, st.st_size)
    except OSError:
        sig = None
    current = zipimport._zip_directory_cache.get(self.archive)
    if sig is not None and current is not None and _read_at.get(self.archive) == sig:
        self._files = current
        return
    # the signature is taken BEFORE the read: an archive rewritten
    # meanwhile differs from it and is read again next time
    _stock_invalidate(self)
    _read_at[self.archive] = sig


def install() -> None:
    """Patch ``zipimporter`` and read each archive on ``sys.path`` once,
    so forked workers start with every signature recorded."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    # run as ``python -m``: install through the module's import name, so
    # workers see the function as ``grapefruit_spark.pyworker``'s
    from pyspark import daemon

    from grapefruit_spark import pyworker

    pyworker.install()
    daemon.manager()
