"""Lazy zip-archive refresh inside Spark Python workers.

At the start of every task PySpark's worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
The workers import pyspark itself from ``$SPARK_HOME/python/lib/pyspark.zip``,
so ``sys.path_importer_cache`` holds one ``zipimport.zipimporter`` over that
archive per imported sub-package (16 in a Spark 4.1 worker). On CPython
< 3.12 each one's ``invalidate_caches()`` re-parses the whole zip central
directory in pure Python, so every Python task paid a fixed 0.17-0.33 s
(4 tasks at once on 4 vCPUs) whatever its rows. CPython 3.12 made the
refresh lazy (gh-103200).

:func:`install_lazy_zip_refresh` gives older interpreters that behaviour: an
archive's listing is re-read only when the file's ``(st_mtime_ns, st_size)``
differs from the stamp taken at its last read, or when
``zipimport._zip_directory_cache`` no longer holds it. Otherwise the importer
takes the cached listing. ``ocr_spark/__init__.py`` calls it, and unpickling
any engine stage in a worker imports this package (also under
``--py-files``). It installs once per process, only on CPython < 3.12 and
only inside a PySpark worker, where a task context is set while the worker
unpickles a stage; the driver's import machinery is never touched. Without
the private ``zipimport._zip_directory_cache`` it installs nothing, and an
archive that cannot be stat'ed goes through the stock method.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _in_worker() -> bool:
    # The worker imports pyspark.taskcontext and sets the task context
    # before it unpickles a stage; a driver never sets it.
    taskcontext = sys.modules.get("pyspark.taskcontext")
    return taskcontext is not None and taskcontext.TaskContext.get() is not None


def install_lazy_zip_refresh() -> bool:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    the file changed. Returns whether the lazy method is installed."""
    if sys.version_info >= (3, 12) or not _in_worker():
        return False
    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "lazy_zip_refresh", False):
        return True
    listings = getattr(zipimport, "_zip_directory_cache", None)
    if not isinstance(listings, dict):
        return False
    stamps: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stock(self)
        stamp = (st.st_mtime_ns, st.st_size)
        files = listings.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        stock(self)
        stamps[self.archive] = stamp

    invalidate_caches.lazy_zip_refresh = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
