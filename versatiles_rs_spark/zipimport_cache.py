"""Keep ``importlib.invalidate_caches()`` from re-reading unchanged zip archives.

Spark's Python worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark.worker_util.setup_spark_files``). On CPython 3.10-3.12 that
makes every ``zipimporter`` on ``sys.path_importer_cache`` re-read its
archive's whole central directory at once. A worker has one importer per
package directory of ``pyspark.zip`` (about 16), and the zip is about
3.5 MB, so each task spends about 75 ms of CPU on it. CPython 3.13 only
drops the cached directory, so there is nothing to fix there.

``install()`` replaces ``zipimporter.invalidate_caches`` with a method that
re-reads an archive only when its ``(st_size, st_mtime_ns, st_ino)``
differs from the last read's. An archive that has not changed holds the
same directory, so imports see exactly what the eager re-read gives them.
The package calls ``install()`` on import: every engine UDF imports an
engine module when it is unpickled in a worker, so a reused worker runs
its later tasks with the cheap method.

Stdlib only, so the module can be loaded without the rest of the package.
"""

from __future__ import annotations

import os
import sys
import threading
import zipimport

# archive path -> stat key of the archive at its last directory read
_read_keys: dict[str, tuple[int, int, int]] = {}
_lock = threading.Lock()


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns, st.st_ino


def _re_reads_eagerly(method) -> bool:
    """True when ``method`` reads the archive's directory itself (CPython
    3.10-3.12) rather than dropping the cached one (3.13+)."""
    code = getattr(method, "__code__", None)
    return code is not None and "_read_directory" in code.co_names


def _keyed(eager):
    def invalidate_caches(self):
        """Re-read the archive's directory only if the archive changed
        since its last read; otherwise share the cached directory."""
        key = _stat_key(self.archive)
        cache = zipimport._zip_directory_cache
        with _lock:
            if key is not None and _read_keys.get(self.archive) == key and self.archive in cache:
                self._files = cache[self.archive]
                return
            # stat before the read: an archive rewritten during the read
            # differs from the recorded key next time and is read again
            eager(self)
            if key is not None and self.archive in cache:
                _read_keys[self.archive] = key
            else:
                _read_keys.pop(self.archive, None)

    invalidate_caches.eager = eager
    return invalidate_caches


def installed() -> bool:
    return hasattr(zipimport.zipimporter.invalidate_caches, "eager")


def install() -> bool:
    """Install the stat-keyed ``invalidate_caches`` once per process, only
    where the stdlib one re-reads eagerly. Returns whether it is installed."""
    with _lock:
        if installed():
            return True
        current = zipimport.zipimporter.invalidate_caches
        if sys.implementation.name != "cpython" or not _re_reads_eagerly(current):
            return False
        zipimport.zipimporter.invalidate_caches = _keyed(current)
        return True
