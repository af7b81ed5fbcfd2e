"""Keep zip-import directories across Spark tasks in a Python worker.

Before every task, a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py::setup_spark_files``), reused workers included.
On CPython 3.11 each ``zipimporter`` then re-reads its archive's whole
central directory. A worker's path starts with ``pyspark.zip``, the py4j
zip and the ``spark-core`` jar, and it holds about 16 zipimporters over
them, so that call cost ~0.1 s of CPU per task on a 4-vCPU host: more
than a small raster tile's own work.

``install()`` replaces ``zipimporter.invalidate_caches`` with one that
re-reads an archive only when its ``(st_mtime_ns, st_size)`` changed, the
staleness test Python's directory finders use. While the archive is
unchanged, the importer re-points ``_files`` at the shared
``zipimport._zip_directory_cache`` entry. A changed, new or missing
archive takes the stdlib path. It installs only inside a Spark task and
only where ``zipimport`` has the 3.11 shape that re-reads eagerly; the
driver's ``zipimport`` is never touched.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STDLIB = zipimport.zipimporter.invalidate_caches

# archive path -> (st_mtime_ns, st_size) when its directory was last read.
_stamps: dict[str, tuple[int, int]] = {}


def invalidate_caches(self) -> None:
    """Reload the file data of the archive path if the archive changed."""
    archive = self.archive
    try:
        st = os.stat(archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(archive)
    if files is not None and stamp is not None \
            and _stamps.get(archive) == stamp:
        self._files = files
        return
    # Stat before the read: a change in between only costs another read.
    _STDLIB(self)
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _stamps[archive] = stamp
    else:
        _stamps.pop(archive, None)


def _eager_rereads() -> bool:
    """True where ``zipimporter.invalidate_caches`` re-reads the archive
    into ``_files`` at once (CPython 3.11), the shape this module wraps."""
    code = getattr(_STDLIB, "__code__", None)
    return isinstance(getattr(zipimport, "_zip_directory_cache", None), dict) \
        and {"_read_directory", "_files"} <= set(getattr(code, "co_names", ()))


def _in_spark_task() -> bool:
    """True inside a Spark task. A process that never imported
    ``pyspark.taskcontext`` is not a worker, so none is imported here."""
    mod = sys.modules.get("pyspark.taskcontext")
    return mod is not None and mod.TaskContext.get() is not None


def install() -> bool:
    """Install the stamp-checked ``invalidate_caches`` in a Spark worker;
    returns whether it is installed."""
    if _in_spark_task() and _eager_rereads():
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    return zipimport.zipimporter.invalidate_caches is invalidate_caches
