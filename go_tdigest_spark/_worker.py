"""Per-task import-cache cost in Spark's Python workers.

Before every task a reused Python worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
Workers import pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``, which
the JVM puts first on the worker ``PYTHONPATH`` with the py4j zip and the
spark-core jar, so ``sys.path_importer_cache`` holds one
``zipimport.zipimporter`` per archive and per imported subpackage (16 in
a warmed worker).  On Python < 3.13 ``zipimporter.invalidate_caches``
eagerly re-reads its archive's whole central directory, which costs
about 0.2 s per task, more than the body of a typical library UDF.

``install()`` makes that re-read conditional: an importer reloads only
when its archive's (inode, size, mtime) differs from what it recorded at
its last load, or when the archive cannot be stat-ed.  A rewritten
archive still reloads, so ``invalidate_caches`` keeps its contract, and
the stdlib's own ``_read_directory`` still does the reading.  It acts
only inside a Spark Python worker (a task context exists) on Python
< 3.13, where the re-read is lazy already.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

# instance attribute holding the archive key of the importer's last load
_KEY = "_go_tdigest_spark_archive_key"


def _archive_key(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _patch() -> None:
    """Replace ``zipimporter.invalidate_caches`` with the conditional
    reload (idempotent).  Importers already in ``sys.path_importer_cache``
    record their archive's current key: in a worker this runs while a
    task's UDFs load, right after that task's ``invalidate_caches``
    re-read every archive."""
    cls = zipimport.zipimporter
    if hasattr(cls.invalidate_caches, "__wrapped__"):
        return
    original = cls.invalidate_caches

    @functools.wraps(original)
    def invalidate_caches(self):
        key = _archive_key(self.archive)
        if key is None or key != self.__dict__.get(_KEY):
            original(self)
            self.__dict__[_KEY] = key

    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, cls):
            importer.__dict__[_KEY] = _archive_key(importer.archive)
    cls.invalidate_caches = invalidate_caches


def install() -> bool:
    """Apply the conditional reload inside a Spark Python worker on
    Python < 3.13; a no-op on the driver, outside Spark and on newer
    Pythons.  Returns whether the patch is in place."""
    if sys.version_info >= (3, 13):
        return False
    pyspark = sys.modules.get("pyspark")  # a worker has always imported it
    if pyspark is None or pyspark.TaskContext.get() is None:
        return False
    _patch()
    return True
