"""Stat-guarded zip-importer cache invalidation for Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py``, after it adds the task's
``--py-files`` to ``sys.path``). On CPython 3.10/3.11 that reaches
``zipimport.zipimporter.invalidate_caches``, which re-parses the whole
central directory of its archive in pure Python — once for every
importer that points into the archive, and a worker holds one importer
per imported sub-package of ``pyspark.zip`` (1,328 entries) and of the
spark-core jar on its path (5,359 entries). Measured on a
``local[4]`` worker: 18 importers into 5 archives, 0.13–0.25 s of CPU
per task re-reading archives that had not changed, which is most of
the ~0.3 s floor of an empty Python job. CPython 3.12 made this
invalidation lazy (gh-103200), so nothing is installed there.

``install()`` replaces the method once with a guard that re-reads an
archive only when its ``(st_ino, st_size, st_mtime_ns)`` differs from
the stamp taken when its directory was last read; an unchanged archive
re-points the importer at the shared ``zipimport._zip_directory_cache``
entry. A missing archive goes to the stdlib method (which empties the
importer). The package ``__init__`` calls ``install()``: every package
UDF is pickled by reference, so any worker that runs a package operator
imports the package, and the guard then holds for the life of that
reused worker — on a cluster too, since the package travels with
``addPyFile``.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import zipimport

# archive path -> (st_ino, st_size, st_mtime_ns) when its directory was
# last read through the guard. The lock keeps a stamp and the directory
# cache entry from two racing reads of a rewritten archive from pairing
# a new stamp with the old directory.
_stamps: dict[str, tuple[int, int, int]] = {}
_lock = threading.Lock()


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _guarded(original):
    @functools.wraps(original)
    def invalidate_caches(self):
        archive = self.archive
        with _lock:
            stamp = _stamp(archive)
            if stamp is not None and _stamps.get(archive) == stamp:
                files = zipimport._zip_directory_cache.get(archive)
                if files is not None:
                    self._files = files
                    return
            # stat before reading: a rewrite after the stat leaves an old
            # stamp behind, so the next call reads again
            original(self)
            if stamp is not None and archive in zipimport._zip_directory_cache:
                _stamps[archive] = stamp
            else:
                _stamps.pop(archive, None)

    return invalidate_caches


def install() -> None:
    """Install the guard once per interpreter; a no-op on CPython 3.12+."""
    if sys.version_info >= (3, 12):
        return
    current = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if current is None or hasattr(current, "__wrapped__"):
        return
    zipimport.zipimporter.invalidate_caches = _guarded(current)
