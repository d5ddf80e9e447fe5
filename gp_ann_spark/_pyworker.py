"""Stop PySpark Python workers re-reading every zip archive on every task.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of each
task (``pyspark.worker_util.setup_spark_files``) so that files shipped with
``sc.addPyFile`` become importable. On CPython < 3.12 that call makes every
``zipimporter`` on the path eagerly re-read its archive's central directory:
pyspark.zip (once per sub-package importer), the py4j zip and the 5k-entry
spark-core jar — about 200 ms per task, before the UDF runs. CPython 3.12
made the call lazy (gh-103200). ``install`` backports the saving: an
archive's directory is re-read only when its ``(st_mtime_ns, st_size,
st_ino)`` changed since the last read, so a rewritten archive is still
picked up on the next task, exactly as before.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat stamp of the file when its directory was last read
# (None: it could not be read)
_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self) -> None:
    archive = self.archive
    stamp = _stamp(archive)
    files = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and files is not None and _stamps.get(archive) == stamp:
        self._files = files
        return
    _stock_invalidate_caches(self)  # re-reads, or drops a vanished archive
    _stamps[archive] = stamp


_invalidate_caches.gp_ann_spark = True
_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` in this process when it is a
    PySpark worker on CPython < 3.12; returns whether it patched. Idempotent.
    """
    if sys.version_info >= (3, 12) or not hasattr(zipimport, "_zip_directory_cache"):
        return False
    if getattr(zipimport.zipimporter.invalidate_caches, "gp_ann_spark", False):
        return False
    if "pyspark" not in sys.modules:  # workers import it before any UDF
        return False
    from pyspark.taskcontext import TaskContext

    if TaskContext.get() is None:  # driver, or a plain interpreter
        return False
    # This task's setup_spark_files has just re-read every importer's
    # archive, so the cached directories match the files as they are now.
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            _stamps[finder.archive] = _stamp(finder.archive)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True
