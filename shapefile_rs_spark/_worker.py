"""Stop PySpark workers re-reading every zip on ``sys.path`` per task.

Spark puts ``pyspark.zip``, the py4j zip and the spark-core jar on a
Python worker's ``sys.path`` ahead of site-packages, and
``pyspark.worker_util.setup_spark_files`` ends the set-up of every task
with ``importlib.invalidate_caches()``.  On CPython < 3.13 that calls
``zipimporter.invalidate_caches`` for every zip importer the worker holds
(one per archive, plus one per subpackage imported from it), and each
call parses the archive's whole central directory again in pure Python:
about 27k entries, 150-370 ms of every task's start on a 4-core host.

:func:`install` replaces that method, inside a worker task only, by one
that re-reads an archive only when its ``(st_mtime_ns, st_size, st_ino)``
differs from when this process last read it; otherwise the importer is
pointed at the directory already in ``zipimport._zip_directory_cache``.
A changed archive is re-read and a missing one empties the importer, as
before.  Every engine UDF imports this package when it is unpickled, so
a worker's first engine task installs it; the next task's set-up reads
each archive once more (to stamp it) and later tasks read none.

Delete this module once workers run CPython >= 3.13, whose
``invalidate_caches`` only drops the cached directory, or once no zip is
on the worker's ``sys.path``.
"""

import os
import sys
import zipimport

_stock = zipimport.zipimporter.invalidate_caches
_read_at: dict = {}  # archive path -> stat key taken just before its last read


def _stat_key(path: str):
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    try:
        key = _stat_key(self.archive)
    except OSError:
        key = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _read_at.get(self.archive) == key:
        self._files = files
        return
    # stat before the read: an archive rewritten in between is stamped
    # with its old key, so the next call reads it again
    _stock(self)
    if key is not None and self.archive in zipimport._zip_directory_cache:
        _read_at[self.archive] = key
    else:
        _read_at.pop(self.archive, None)


def install() -> None:
    """Install :func:`_invalidate_caches` if this process is running a
    PySpark task on CPython < 3.13; otherwise, or if already installed,
    do nothing."""
    if sys.version_info >= (3, 13) or "pyspark" not in sys.modules:
        return
    from pyspark import TaskContext

    if TaskContext.get() is not None:
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
