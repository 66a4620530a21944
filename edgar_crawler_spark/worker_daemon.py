"""PySpark worker daemon that keeps zipimport directory caches across tasks
and imports pandas and pyarrow once, before it forks.

Spark starts every Python worker by forking it from a daemon process
(``spark.python.daemon.module``, default ``pyspark.daemon``), and the
workers import pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``.
At the start of every task ``pyspark.worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()``.  Before CPython 3.13,
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory straight away, and a worker holds one zipimporter per pyspark
subpackage it has imported (16 over the 1,328-entry pyspark.zip), so
each task re-parses that directory 16 times: about 0.2 s of CPU per
task that does no useful work.

This module wraps ``zipimporter.invalidate_caches`` so an importer
re-reads its archive only when the archive's ``(st_ino, st_size,
st_mtime_ns)`` differs from what it was when that importer last read
it, then hands off to ``pyspark.daemon.manager()``.  Installing the
guard in the daemon, before any fork, covers every Python worker of
every stage from its first task; installing it on package import would
miss workers that never import this package (a ``foreachPartition``
sink, for one).  :func:`edgar_crawler_spark.session.get_spark` points
``spark.python.daemon.module`` here.

CPython 3.13 made ``invalidate_caches`` lazy, so there the guard is not
installed.

The daemon also imports pandas and pyarrow before its first fork
(:data:`PRELOAD`).  ``pyspark.worker`` imports them inside each worker,
on that worker's first pandas or Arrow task: about 0.4 s of CPU per
worker process, paid again by every worker a stage forks when it needs
more than the pool holds.  Imported in the daemon, they reach every
worker through the fork.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

#: attribute a guarded importer keeps the stat key of its last read in
_READ_KEY = "_edgar_read_key"

#: modules the daemon imports before it forks a worker
PRELOAD = ("pandas", "pyarrow")

#: the :data:`PRELOAD` modules this process imported (set by :func:`preload`)
preloaded: tuple[str, ...] = ()


def _archive_key(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def install_zip_cache_guard() -> bool:
    """Make ``zipimporter.invalidate_caches`` skip the re-read while the
    archive is unchanged since this importer last read it.

    A changed (or unreadable) archive is always re-read, so a rewritten
    zip is never hidden.  Returns True when the guard was installed by
    this call; False on Python >= 3.13 or when it is already in place.
    """
    if sys.version_info >= (3, 13):
        return False
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "__wrapped__", None) is not None:
        return False

    def invalidate_caches(self: zipimport.zipimporter) -> None:
        # stat before the read: a write racing the read leaves the old
        # key, so the next call reads again instead of trusting it
        key = _archive_key(self.archive)
        if key is not None and getattr(self, _READ_KEY, None) == key:
            return
        reread(self)
        setattr(self, _READ_KEY, key)

    invalidate_caches.__wrapped__ = reread
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def preload() -> None:
    """Import the :data:`PRELOAD` modules and record them in
    :data:`preloaded`."""
    global preloaded
    for name in PRELOAD:
        importlib.import_module(name)
    preloaded = PRELOAD


def main() -> None:
    install_zip_cache_guard()
    preload()
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    # Run from the importable module rather than this ``__main__`` copy,
    # so the patched method's ``__module__`` names where it lives.
    from edgar_crawler_spark.worker_daemon import main as _main

    _main()
