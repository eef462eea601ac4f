"""Per-process setup for the Python workers that run the package's
executor-side code (the ``mapInPandas`` bodies of the Kafka sink and the
pgoutput codec).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``), so that files a
job added with ``addPyFile`` become importable. On CPython <= 3.12 that
makes every ``zipimport.zipimporter`` in ``sys.path_importer_cache``
re-read its archive's whole central directory, eagerly. A reused worker
of Spark 4.1 holds 16 of them: 12 over ``pyspark.zip`` (1,328 entries),
two over the py4j source zip and two over ``spark-core``'s jar (5,359
entries). That is roughly 150-200 ms per task on a 4-core host, paid
again by every task of every micro-batch although no archive changed.

CPython 3.13 changed ``zipimporter.invalidate_caches`` to drop the cache
entry only and re-read lazily. ``guard_zip_invalidation`` gives older
interpreters the same cost for an unchanged archive: a re-read happens
only when the archive's ``(st_mtime_ns, st_size)`` differs from what it
was when its directory was last read.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def _guarded(original):
    # archive path -> (st_mtime_ns, st_size), taken just before the read
    # whose directory ``zipimport._zip_directory_cache`` holds
    stamps: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        """Keep the cached directory while the archive is unchanged;
        a changed, replaced or missing archive goes through
        ``original``."""
        archive = self.archive
        stamp = _stamp(archive)
        files = zipimport._zip_directory_cache.get(archive)
        if stamp is not None and files is not None and stamps.get(archive) == stamp:
            self._files = files
            return
        original(self)
        if stamp is not None and archive in zipimport._zip_directory_cache:
            stamps[archive] = stamp
        else:
            stamps.pop(archive, None)

    invalidate_caches.__wrapped__ = original
    return invalidate_caches


def guard_zip_invalidation() -> None:
    """Make ``importlib.invalidate_caches()`` skip re-reading unchanged
    zip archives in this process. Idempotent; call it first thing in a
    Python-worker task body, so every later task on the same (reused)
    worker skips the re-read. A no-op on Python >= 3.13."""
    if sys.version_info >= (3, 13):
        return
    cls = zipimport.zipimporter
    if cls.invalidate_caches.__module__ == __name__:
        return
    guarded = _guarded(cls.invalidate_caches)
    # read each archive once more, after stamping it, so every stamp
    # describes the directory the cache holds
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, cls):
            guarded(imp)
    cls.invalidate_caches = guarded
