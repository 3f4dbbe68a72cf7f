"""Stat-guarded ``zipimporter.invalidate_caches`` for Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``), after it adds the
task's ``--py-files`` to ``sys.path``. That call reaches every cached
``zipimporter``. On CPython 3.10-3.12, ``zipimporter.invalidate_caches``
re-reads the archive's whole central directory at once; 3.13 made it
lazy (it only drops the ``_zip_directory_cache`` entry).

A worker that imports pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``
(1,328 entries) holds 16 zip importers: the archive root, its subpackages
and py4j's source zip. On a 4-core box with CPython 3.11, re-parsing all
of them costs 0.07-0.10 s per task on an idle core and 0.13-0.48 s under
load (the perfbench ``tables`` roundtrip runs 8 workers on 4 cores), paid
again by every task of a reused worker.

``install()`` wraps the method so that it re-reads an archive only when
the file may have changed. It records the archive's ``os.stat``
signature, taken just before each eager read, and skips the read while
the signature still matches and ``_zip_directory_cache`` still holds
the parsed directory. A changed, replaced or deleted archive is read
exactly as before, so the stdlib's semantics hold. A worker's first
guarded invalidation reads each archive once, not once per importer;
every later one costs one ``stat`` per importer (50-90 µs for all of
them) instead of 16 directory parses. On
the same box the ``tables`` roundtrip's ``op_p50_ms`` fell from 1.83 s
to 1.11 s (10 interleaved pairs).

The package ``__init__`` calls ``install()``, so every worker that
unpickles an engine UDF installs it, including workers that import the
package from a ``--py-files`` zip. A freshly forked worker still pays
one eager re-read in its first task, which invalidates before any
engine code is unpickled.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

# archive path -> stat signature taken just before this process's last
# eager read of that archive's directory
_signatures: dict[str, tuple[int, int, int, int, int]] = {}


def _signature(path: str) -> tuple[int, int, int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)


def _guard(eager):
    @functools.wraps(eager)
    def invalidate_caches(self):
        archive = self.archive
        sig = _signature(archive)
        files = zipimport._zip_directory_cache.get(archive)
        if sig is not None and files is not None and _signatures.get(archive) == sig:
            self._files = files
            return
        # stat first, read second: a change racing the read leaves an older
        # signature behind, so the next call reads again
        eager(self)
        if sig is not None and archive in zipimport._zip_directory_cache:
            _signatures[archive] = sig
        else:
            _signatures.pop(archive, None)

    return invalidate_caches


def install() -> None:
    """Guard ``zipimporter.invalidate_caches``; idempotent, and a no-op on
    CPython 3.13+, whose method is already lazy."""
    if sys.version_info >= (3, 13):
        return
    current = zipimport.zipimporter.invalidate_caches
    if hasattr(current, "__wrapped__"):
        return
    zipimport.zipimporter.invalidate_caches = _guard(current)
