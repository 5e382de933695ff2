"""Python daemon for ``get_spark`` sessions: pyspark's own daemon, minus a
re-read of every zip archive on every task.

pyspark 4.1 ends each task's set-up in ``worker_util.setup_spark_files``
with ``importlib.invalidate_caches()``. On CPython 3.11 that calls
``zipimporter.invalidate_caches`` on every zipimporter in
``sys.path_importer_cache``, and each one re-reads its archive's whole
central directory, whether or not the archive changed: about 10 ms for
``pyspark.zip`` (some 27k entries). A reused worker holds about 16 such
importers (one per package directory of ``pyspark.zip`` it has imported
from, plus ``py4j`` and the shipped package zip), so every Python task pays
a fixed ~0.15 CPU-s before it runs a line of user code.

``get_spark`` runs this module as ``spark.python.daemon.module``. (A
``spark.python.worker.module`` would not do: ``pyspark.daemon`` ignores one
whose name does not start with ``pyspark``.) Before the daemon forks any
worker, :func:`install` points ``pyspark.worker_util``'s ``importlib`` at a
copy whose ``invalidate_caches`` is :func:`invalidate_caches` below, and the
daemon then hands over to ``pyspark.daemon.manager()``. Every forked worker
inherits both, and imports this package from the tree the daemon imported
it from rather than from the shipped zip. A session built without
``get_spark`` keeps stock pyspark behaviour.

:func:`invalidate_caches` does everything the stdlib version does, with one
difference: it skips a zipimporter whose archive's ``(st_ino, st_size,
st_mtime_ns)`` has not changed since this process last re-read it. So an
``addPyFile`` that adds or overwrites a zip, or copies a ``.py`` file into
the files directory, is still picked up by the next task.
"""

from __future__ import annotations

import importlib
import importlib.machinery
import os
import stat
import sys
import types
import zipimport
from importlib._bootstrap_external import _NamespacePath, _path_isabs

# Process-wide, like the sys.path_importer_cache they track.
# archive path -> (signature, directory) as of this process's last re-read
_READ: dict[str, tuple[tuple[int, int, int], dict]] = {}
# archive on sys.path with no importer yet -> (signature, the directory a
# new importer would take from zipimport's cache) when last seen so
_NEW: dict[str, tuple[tuple[int, int, int], dict | None]] = {}

# archives re-read by the latest invalidate_caches() call (for tests)
last_rereads: list[str] = []


def _signature(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _invalidate_zip(finder: zipimport.zipimporter) -> None:
    archive = finder.archive
    sig = _signature(archive)  # before the read: a racing rewrite shows next time
    seen = _READ.get(archive)
    if sig is not None and seen is not None and seen[0] == sig:
        # several importers share one archive (one per package directory);
        # the first to see a change re-reads it for all of them
        finder._files = seen[1]
        return
    seen = _NEW.pop(archive, None)
    if (
        sig is not None
        and seen is not None
        and seen[0] == sig
        and finder._files is not seen[1]
    ):
        # the importer read the archive after that stat, and the archive
        # has not changed since: its directory is current
        _READ[archive] = (sig, finder._files)
        return
    finder.invalidate_caches()
    last_rereads.append(archive)
    if sig is not None:
        _READ[archive] = (sig, finder._files)


def _note_new_entries() -> None:
    # an archive added to sys.path (addPyFile) gets its importer on the
    # next import, after this stat
    for entry in sys.path:
        if entry not in sys.path_importer_cache and entry not in _READ:
            sig = _signature(entry)
            if sig is not None:
                _NEW[entry] = (sig, zipimport._zip_directory_cache.get(entry))


def _invalidate_path_entries() -> None:
    # importlib._bootstrap_external.PathFinder.invalidate_caches, with the
    # zipimporter step made change-aware
    for name, finder in list(sys.path_importer_cache.items()):
        # a relative entry may resolve elsewhere once the cwd changes
        if finder is None or not _path_isabs(name):
            del sys.path_importer_cache[name]
        elif isinstance(finder, zipimport.zipimporter):
            _invalidate_zip(finder)
        elif hasattr(finder, "invalidate_caches"):
            finder.invalidate_caches()
    # https://bugs.python.org/issue45703
    _NamespacePath._epoch += 1
    _note_new_entries()


def invalidate_caches() -> None:
    """Drop-in ``importlib.invalidate_caches`` that skips re-reading an
    unchanged zip archive."""
    last_rereads.clear()
    for finder in sys.meta_path:
        if finder is importlib.machinery.PathFinder:
            _invalidate_path_entries()
        elif hasattr(finder, "invalidate_caches"):
            finder.invalidate_caches()


def install() -> None:
    """Point ``pyspark.worker_util`` at :func:`invalidate_caches` and
    record the archives the daemon has open, so forked workers start with
    nothing to re-read."""
    from pyspark import worker_util

    shim = types.ModuleType(importlib.__name__, importlib.__doc__)
    shim.__dict__.update(importlib.__dict__)
    shim.invalidate_caches = invalidate_caches
    worker_util.importlib = shim
    invalidate_caches()


def main() -> None:
    from pyspark import daemon  # imports pyspark.worker: record its archives too

    install()
    daemon.manager()


if __name__ == "__main__":
    # run the module under its package name, so the records and the
    # function workers call live in ``event_store_spark._pyworker``
    from event_store_spark import _pyworker

    _pyworker.main()
