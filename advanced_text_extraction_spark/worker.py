"""Python-worker bootstrap shared by every Python-UDF kernel.

Each ``mapInPandas`` / pandas-UDF kernel of the package calls
:func:`bootstrap_worker` when its first batch arrives. The call is cheap
and idempotent, so kernels need no guard of their own.
"""

from __future__ import annotations

import os
import sys
import zipimport

_installed = False


def bootstrap_worker() -> None:
    """Stop this Python worker re-reading every zip on ``sys.path`` per task.

    Before each task, pyspark's worker runs ``setup_spark_files``, which
    ends in ``importlib.invalidate_caches()``. On Python < 3.12 that calls
    ``zipimport.zipimporter.invalidate_caches`` on every zip importer the
    process has used, and each call re-reads the archive's whole central
    directory: ``pyspark.zip``, the py4j zip and the Spark core JAR, which
    Spark puts on the worker path. On a reused worker that costs about
    0.2 core-s per task, more than the kernels of a small task. Python
    3.12 made the method lazy, so there this helper does nothing.

    After the first call, an importer re-reads its archive only when the
    archive's size or mtime differ from the last read, so a zip replaced
    in place is still picked up. ``importlib.invalidate_caches`` keeps
    its other effects, and a zip newly put on ``sys.path``
    (``SparkContext.addPyFile``) gets a fresh importer from
    ``sys.path_hooks``, so it stays importable.
    """
    global _installed
    if _installed or sys.version_info >= (3, 12):
        return
    reread = zipimport.zipimporter.invalidate_caches
    read_at: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            reread(self)
            return
        sig = (st.st_mtime_ns, st.st_size)
        if read_at.get(self.archive) != sig:
            reread(self)
            read_at[self.archive] = sig

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    _installed = True
