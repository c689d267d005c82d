"""Re-read a zip archive on ``importlib.invalidate_caches()`` only when it
changed.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark/worker_util.py`` ``setup_spark_files``).
On CPython 3.11 ``zipimport.zipimporter.invalidate_caches`` answers by
re-parsing the whole central directory of its archive, eagerly
(``zipimport.py``, ``zipimporter.invalidate_caches``).  A reused worker
holds one importer for ``pyspark.zip`` and one per imported subpackage,
plus importers on Spark's jars, so every task waits 0.1-0.3 s before its
first row.

:func:`install` wraps the method: an importer re-reads its archive only
when the archive's ``(st_mtime_ns, st_size)`` differs from what that
importer last read.  The stamp is kept per importer, not per path:
several importers share one archive, and each must pick up a change.  A
missing archive falls through to the stock method.  Importing
:mod:`geetiles_spark` installs it, in the driver and in every Python
worker that unpickles an engine closure.
"""

from __future__ import annotations

import functools
import os
import zipimport

_STAMP = "_geetiles_stamp"


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches``; a second call is a no-op."""
    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "_geetiles_guard", False):
        return

    @functools.wraps(stock)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            self.__dict__.pop(_STAMP, None)
            return stock(self)
        # stat before the read: a change during the read shows next time
        stamp = (st.st_mtime_ns, st.st_size)
        if self.__dict__.get(_STAMP) != stamp:
            stock(self)
            setattr(self, _STAMP, stamp)

    invalidate_caches._geetiles_guard = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


install()
