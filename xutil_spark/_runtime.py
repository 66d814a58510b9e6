"""Lazy zip-archive invalidation for the Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task (``worker_util.setup_spark_files``).  Before CPython 3.13 that makes
every ``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read
its archive's central directory.  A worker holds 14–16 of them, into
pyspark.zip (1,328 entries), py4j's zip and the spark-core jar, so each
task spends 150–220 ms of CPU before it touches a row (measured on a
4-vCPU host, CPython 3.11).  CPython 3.13 made the invalidation lazy.

``install()`` backports that onto ``zipimporter.invalidate_caches`` for
CPython < 3.13.  An archive is re-read only when its
``(st_mtime_ns, st_size, st_ino)`` stamp differs from the one taken
before its last read here, at most once per archive however many
importers point into it, and every importer then shares the fresh
``_zip_directory_cache`` entry.  A directory read before the install
carries no stamp, so the first invalidation after it re-reads each
archive once.  A rewritten archive (``addPyFile``, ``--py-files``) is
still seen on the next import.  The package calls ``install()`` on
import, which every worker does when it unpickles an engine UDF; from a
reused worker's next task on, the per-task re-read is gone.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stamps: dict[str, tuple[int, int, int]] = {}  # archive -> stamp before its last read


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_caches(self) -> None:
    """Reload the archive's directory only if the file changed since
    its last read; share the cached directory otherwise."""
    path = self.archive
    stamp = _stamp(path)
    files = zipimport._zip_directory_cache.get(path)
    if stamp is None or files is None or _stamps.get(path) != stamp:
        try:
            files = zipimport._read_directory(path)
        except zipimport.ZipImportError:
            zipimport._zip_directory_cache.pop(path, None)
            _stamps.pop(path, None)
            self._files = {}
            return
        zipimport._zip_directory_cache[path] = files
        _stamps[path] = stamp
    self._files = files


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` lazy on CPython < 3.13;
    a no-op on 3.13 and later and when already installed."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
