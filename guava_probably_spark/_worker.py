"""Spark Python worker start-up cost: refresh zip import caches only when
an archive changed.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py``, after it extends ``sys.path`` with
the task's ``--py-files``). On CPython 3.10-3.12 that reaches
``zipimport.zipimporter.invalidate_caches`` for every zip on ``sys.path``,
and each call re-reads the archive's whole central directory. A warm worker
holds about 16 such importers: 14 over ``pyspark.zip`` (1,328 entries) and
2 over the spark-core jar (5,359 entries), which Spark puts on the worker's
``PYTHONPATH``. Measured at 0.2-0.4 s per task on a 4-core host, it was most
of the fixed cost of a Python task wave. CPython 3.13 made the call lazy.

:func:`install` wraps the method so that an importer re-reads its archive
only when the archive's ``(st_mtime_ns, st_size)`` differs from the one it
last read, or when ``os.stat`` fails. A zip added later (``addPyFile``) is
a new ``sys.path`` entry with a freshly built importer, and an archive
rewritten in place changes its stamp, so imports see the same files as
before. The package ``__init__`` calls :func:`install_on_worker`, which
does nothing outside a Spark Python worker.

:func:`install` also stamps the zip importers already in
``sys.path_importer_cache`` with their archives' current stamps, so a
worker reads each archive once, in pyspark's refresh at the start of its
first library task, and not once more in the next task. That trusts the
refresh: the package is imported when that same task's functions are
unpickled, after the refresh but before the task reads any input (a whole
warm task takes 20-60 ms on a 4-core host), and an archive rewritten
inside that window keeps its old directory until the archive changes
again. Spark rewrites none of these archives while a worker lives.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

# attribute on each zipimporter: the stamp of the archive it last read
_STAMP = "_gps_archive_stamp"


def _archive_stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def _stamped(refresh):
    @functools.wraps(refresh)
    def invalidate_caches(self):
        stamp = _archive_stamp(self.archive)
        # stat before the read: a rewrite during the read leaves a stamp
        # that differs from the next one, so it is re-read next time
        if stamp is None or getattr(self, _STAMP, None) != stamp:
            refresh(self)
            setattr(self, _STAMP, stamp)

    return invalidate_caches


def install() -> bool:
    """Wrap ``zipimport.zipimporter.invalidate_caches`` (once per process)
    and stamp the zip importers already cached as fresh. Returns whether
    the method is wrapped; False when this Python has no such method."""
    cls = zipimport.zipimporter
    refresh = getattr(cls, "invalidate_caches", None)
    if refresh is None:
        return False
    if not hasattr(refresh, "__wrapped__"):
        cls.invalidate_caches = _stamped(refresh)
        for importer in list(sys.path_importer_cache.values()):
            if isinstance(importer, cls):
                setattr(importer, _STAMP, _archive_stamp(importer.archive))
    return True


def install_on_worker() -> bool:
    """:func:`install` inside a Spark Python worker; nothing elsewhere.
    pyspark's worker sets ``SparkFiles._is_running_on_worker`` before it
    unpickles a task's functions, which is when this package is imported
    there. A process that never imported pyspark is not a worker."""
    spark_files = getattr(sys.modules.get("pyspark"), "SparkFiles", None)
    if not getattr(spark_files, "_is_running_on_worker", False):
        return False
    return install()
