"""Skip the Python worker's per-task re-read of unchanged zip archives.

PySpark starts every Python task with ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``, ``setup_spark_files``), so that ``--py-files``
added for the task become importable. That calls ``invalidate_caches`` on
every cached path finder, and on CPython 3.11 a ``zipimporter`` re-reads
its archive's central directory there and then. A worker holds one
importer per package dir it imported from a zip: 16 over ``pyspark.zip``
(3.5 MB, 1328 entries), the py4j zip and the spark-core jar. Measured on a
4-vCPU VM, that is 0.15-0.40 s of every task, ahead of any row.

``install()`` replaces ``zipimporter.invalidate_caches`` with a version
that re-reads an archive only when its stat (inode, size, mtime_ns)
changed since that importer last read it. A rewritten or new archive is
still read, so an added or replaced ``--py-files`` zip is seen as before.
On an interpreter whose ``invalidate_caches`` does not read eagerly
(it only drops a cache that the next import refills), nothing is patched.

The package's UDF bodies call ``install()``. It runs inside a task, after
PySpark's call for that task, so a fresh worker's first task still pays
the stock cost once; the worker's later tasks do not. A worker module
selected through ``spark.python.worker.module`` would install it earlier,
but the stock daemon honours only module names that start with
``pyspark`` (``pyspark/daemon.py``) and would silently ignore a package
module, and a daemon module cannot be imported at daemon start by
``spark-submit --py-files`` workers.
"""

from __future__ import annotations

import os
import zipimport

_STOCK = zipimport.zipimporter.invalidate_caches


def _archive_stat(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _invalidate_caches(self) -> None:
    # stat BEFORE the read: an archive replaced during the read records
    # the older stat, so the next call sees a change and reads again
    stat = _archive_stat(self.archive)
    if stat is not None and getattr(self, "_read_stat", None) == stat:
        return
    _STOCK(self)
    self._read_stat = stat


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` (idempotent). True when the
    patch is in place; False on an interpreter that does not re-read."""
    cls = zipimport.zipimporter
    if cls.invalidate_caches is _invalidate_caches:
        return True
    code = getattr(cls.invalidate_caches, "__code__", None)
    if code is None or "_read_directory" not in code.co_names:
        return False  # a lazy implementation: nothing to skip
    cls.invalidate_caches = _invalidate_caches
    return True
