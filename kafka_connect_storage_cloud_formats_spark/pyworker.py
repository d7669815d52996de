"""Per-task set-up cost of the Python workers that run the engine's Arrow UDFs.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark/worker_util.py`` ``setup_spark_files``). On CPython 3.11 that
makes every ``zipimporter`` on the worker's path re-read its archive's
central directory: ``pyspark.zip`` and 12 of its package paths, the
``spark-core`` jar that ``PythonUtils.sparkPythonPath`` appends (5,359
entries) and its ``/org`` path, and the py4j zip — about 26,700 entries and
~0.2 CPU-s per task, more than the kernels of ``knn_bruteforce`` or
``image_decode_stats`` spend on a test corpus.

:func:`install_zip_guard` makes that re-read conditional: an archive is read
again only when its ``(st_mtime_ns, st_size)`` changed since its last read,
and all importers of one archive then share that one read. The package
``__init__`` installs it in worker processes only, so unpickling any engine
UDF installs it; the driver's import machinery is left as it is. A freshly
forked worker still pays the full re-read in its first task (the call comes
before the UDF is unpickled) and one read per distinct archive in its
second; with ``spark.python.worker.reuse=false`` every task is a first task.
"""

from __future__ import annotations

import os
import zipimport

# archive path → (st_mtime_ns, st_size) as stat'ed just before its last read
_read_at: dict[str, tuple[int, int]] = {}


def install_zip_guard() -> None:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives.
    Idempotent."""
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "_stat_guarded", False):
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:  # gone or unreadable: zipimport decides
            reread(self)
            return
        sig = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and _read_at.get(self.archive) == sig:
            self._files = files
            return
        # stat before the read: a write racing the read shows as a changed
        # signature next time, never as a stale directory kept for good
        reread(self)
        _read_at[self.archive] = sig

    invalidate_caches._stat_guarded = True
    cls.invalidate_caches = invalidate_caches
