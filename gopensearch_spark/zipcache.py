"""Skip PySpark workers' per-task re-read of unchanged zip archives.

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), so that ``--py-files`` sent
with the task become importable. On Python < 3.12 that makes every
``zipimport.zipimporter`` on ``sys.path`` re-read its archive's whole
central directory, even when the archive did not change (CPython
gh-103200, fixed in 3.12). A worker holds a dozen importers for
``pyspark.zip`` plus ones for py4j and the spark-core jar, so the re-read
costs ~150 ms of CPU per task however little the task does. That is the
fixed cost of every pandas-UDF task the engine runs: the search kernels,
the index build and the datapipe operators.

``install()`` replaces ``zipimporter.invalidate_caches`` with one that
re-reads an archive only when its ``(st_mtime_ns, st_size, st_ino)``
differs from the last read; an importer of an unchanged archive takes the
directory already in ``zipimport._zip_directory_cache``. A rewritten
archive, or a new ``--py-files`` zip, is read exactly as before. The
package ``__init__`` calls it, so a worker is patched from the first task
that unpickles one of the engine's UDFs. It does nothing on Python 3.12+
and outside a PySpark worker, so the driver's ``zipimport`` is untouched.
"""

from __future__ import annotations

import os
import sys
import zipimport

_ORIGINAL = zipimport.zipimporter.invalidate_caches
# archive path -> stat stamp it had when its directory was last read
_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    # stat before any read: an archive rewritten during it is re-read next time
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _ORIGINAL(self)
    _stamps[self.archive] = stamp


def _in_pyspark_worker() -> bool:
    if "pyspark" not in sys.modules:
        return False
    from pyspark import TaskContext

    return TaskContext.get() is not None


def install() -> bool:
    """Patch this process's zipimporters if it is a PySpark worker on
    Python < 3.12; returns whether the patch is in place."""
    if sys.version_info >= (3, 12) or not _in_pyspark_worker():
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True
