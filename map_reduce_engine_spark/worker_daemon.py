"""Python worker daemon: ``pyspark.daemon`` minus the per-task zip re-read.

``session.get_spark`` installs this module with Spark's
``spark.python.daemon.module`` conf, so Spark starts
``python -m map_reduce_engine_spark.worker_daemon`` where it would start
``python -m pyspark.daemon``. The daemon forks (and reuses) the Python
workers that run every Python UDF task (``mapInArrow``, ``applyInArrow``,
``mapInPandas``, ``applyInPandas``, pandas UDFs), including both stages of
``mapreduce.map_reduce``.

Why: every Python task starts in ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()`` so that files added with
``addPyFile`` become importable. Workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` (3.5 MB), and before CPython 3.13
``zipimport.zipimporter.invalidate_caches`` eagerly re-reads the archive's
whole central directory, once per zipimporter: one per package imported
from the zip, 14 in a pandas-UDF worker. That was 80-150 ms of every Python
task, more than the map and reduce work of a small job.

``install`` replaces that method with one that re-reads an archive only when
its ``(st_mtime_ns, st_size)`` differs from the stamp taken at its last
read, so a rewritten or newly added archive is still re-read. CPython 3.13
made ``invalidate_caches`` lazy (it only drops the cache entry), and there
``install`` changes nothing.

The patch lives only in the daemon and the workers it forks, never in the
driver. Importing this module patches nothing and starts nothing.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read only changed archives.

    A no-op on CPython >= 3.13, whose ``invalidate_caches`` reads nothing.
    """
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int]] = {}  # archive -> stamp at its last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:  # gone: the read fails and drops the cache entry
            reread(self)
            return
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files
        else:
            # stamped before the read, so a rewrite during the read shows next time
            stamps[self.archive] = stamp
            reread(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    """Patch, then run ``pyspark.daemon``'s fork-and-serve loop."""
    install()
    from pyspark import daemon

    # Stamp every archive the daemon imported from, so forked workers start
    # with stamps and their first task reads nothing either.
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # Run under the package name, not as __main__, so the patched method's
    # __module__ names this module.
    from map_reduce_engine_spark.worker_daemon import main as _main

    _main()
