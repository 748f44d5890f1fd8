"""Keep zip-archive directory caches across Spark Python worker requests.

Every planner request and every task a Spark Python worker serves starts
in ``pyspark.worker_util.setup_spark_files``, which ends with
``importlib.invalidate_caches()``.  That call reaches every
``zipimport.zipimporter`` in ``sys.path_importer_cache``, and each one
re-reads its archive's central directory in pure Python.  With
``$SPARK_HOME/python/lib/pyspark.zip`` (3.5 MB, ~1.3k entries) on the
worker path there are about fifteen such importers, all over that one
archive, so the call costs 140–400 ms per request: more than the
planner and task work of a point read together.

:func:`install_on_spark_worker` wraps ``zipimporter.invalidate_caches``
so that it re-reads an archive only when the archive's
``(st_mtime_ns, st_size)`` differs from the stamp taken just before its
last read.  An archive
rewritten in place is still re-read; a zip shipped with ``addPyFile``
arrives as a new ``sys.path`` entry, with an importer of its own, and
``.py`` files arrive in a directory, so neither is affected.

The package ``__init__`` calls it, and it acts only inside a Spark
Python worker; the driver and the fresh interpreters of
``tools/jvm_bridge.py`` keep the stock importer.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) taken before its last read
_stamps: dict[str, tuple[int, int]] = {}
_original = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    # stat BEFORE the read: a rewrite racing the read leaves an older
    # stamp behind, so the next call reads again
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and (
        _stamps.get(self.archive) == stamp
    ):
        # unchanged on disk: adopt the directory another importer of
        # the same archive already holds
        self._files = files
        return
    _original(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp


def installed() -> bool:
    return zipimport.zipimporter.invalidate_caches is _invalidate_caches


def install_on_spark_worker() -> None:
    """Install the wrapper when this process is a Spark Python worker.
    Reads the flag ``setup_spark_files`` sets without importing pyspark:
    a process that has not imported it is no worker."""
    mod = sys.modules.get("pyspark.core.files")
    if mod is not None and mod.SparkFiles._is_running_on_worker:
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
