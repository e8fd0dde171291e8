"""Stat-stamped ``zipimporter.invalidate_caches`` for PySpark Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). On CPython 3.10 and 3.11,
``zipimport.zipimporter.invalidate_caches`` answers by re-reading its
archive's whole central directory in pure Python. A warm worker holds one
importer per package directory it has imported from, 16 to 21 in this
engine's workers, most of them on ``pyspark.zip`` (1,328 entries) and the
spark-core jar (5,359), the rest on the py4j zip and this package's
shipped zip. Every task thus re-parses tens of thousands of directory
entries, 0.15-0.27 s of worker CPU on a 4-core x86 host, whatever its
row count.

``install`` replaces the method with one that re-reads an archive only
when its ``(st_ino, st_size, st_mtime_ns)`` stamp differs from the one
taken just before that importer last read it, so an unchanged archive
costs one ``os.stat``. A rewritten archive still becomes importable after
``importlib.invalidate_caches()``, as with stock. The stamp cannot see a
rewrite in place that keeps both the size and the modification time; a
worker's archives (Spark's own zips and files shipped with ``addPyFile``)
are not rewritten during its life.

Scope: the package ``__init__`` calls ``install``, which patches only a
process the Spark JVM started as a Python worker (``WORKER_ENV`` is set in
executor workers and in the data-source planner workers alike), so a
driver keeps the stock method. CPython 3.12+ re-reads lazily already and
is left alone. ``SPARK_GRAFT_ZIP_STAMP=0`` in the worker environment
(``sc.environment`` on the driver) routes every invalidation to the stock
method: the A/B lever and the kill switch.

Standard library only: it runs while a worker unpickles the first engine
function of a task.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: set by the JVM in the environment of every Python worker it starts
WORKER_ENV = "PYTHON_WORKER_FACTORY_SECRET"
#: "0" in the worker environment restores the stock method per call
KILL_SWITCH = "SPARK_GRAFT_ZIP_STAMP"


def _make_invalidate_caches(stock):
    def invalidate_caches(self):
        if os.environ.get(KILL_SWITCH, "1") == "0":
            stock(self)
            return
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        if stamp is not None and stamp == self.__dict__.get("_zip_stamp"):
            return
        stock(self)
        # stamped BEFORE the read, so a rewrite racing it shows up as a
        # changed stamp next time; a failed read (no files) is retried
        self._zip_stamp = stamp if self._files else None

    invalidate_caches._zip_stamped = True
    return invalidate_caches


def install() -> bool:
    """Stamp-gate ``zipimporter.invalidate_caches`` in this process.

    Idempotent. Returns True when the stamped method is in place; returns
    False, leaving the stock method untouched, outside a PySpark worker,
    on CPython 3.12+ and where zipimporter has no ``invalidate_caches``
    (before 3.10)."""
    cls = zipimport.zipimporter
    stock = getattr(cls, "invalidate_caches", None)
    if stock is None or sys.version_info >= (3, 12) or WORKER_ENV not in os.environ:
        return False
    if not getattr(stock, "_zip_stamped", False):
        cls.invalidate_caches = _make_invalidate_caches(stock)
    return True
