"""Python worker daemon that keeps its zip-archive directory caches.

``get_spark`` names this module as ``spark.python.daemon.module`` for
single-JVM local masters, so Spark starts the daemon as
``python -m blspark.pyworker``; the daemon forks one worker per Python
task slot and workers are reused across tasks.

Why: before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython < 3.13 that makes every
``zipimporter`` re-read its whole archive directory at once: the worker
holds one importer per imported sub-package of ``pyspark.zip`` (1,328
entries) plus importers over the spark-core jar (5,359 entries), about
0.25 CPU s per task before user code runs. CPython 3.13 made the re-read
lazy. Here, on older interpreters, ``zipimporter.invalidate_caches``
re-reads an archive only when its ``(st_mtime_ns, st_size)`` differs
from the one seen at its last read, so an archive rewritten in place
(an updated ``--py-files`` zip) is still picked up. The daemon warms the
record once before forking, and every worker inherits it.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` to skip unchanged archives
    (CPython < 3.13 only; later versions re-read lazily already)."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    read_at: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        cached = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and read_at.get(self.archive) == key and cached is not None:
            # Another importer over the same archive may have re-read it
            # since this one did: share the current directory.
            self._files = cached
            return
        # Stat before reading: a rewrite racing the read changes the key
        # again, so the next call re-reads.
        reread(self)
        if key is not None:
            read_at[self.archive] = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    importlib.invalidate_caches()

    from pyspark.daemon import manager

    manager()
