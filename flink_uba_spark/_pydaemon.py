"""PySpark worker daemon that stops re-reading installation archives.

Spark forks every Python worker from one daemon process and, for every
task, the worker calls ``importlib.invalidate_caches()`` after putting the
task's ``addPyFile`` archives on ``sys.path`` (``pyspark.worker_util.
setup_spark_files``). Under Python 3.11 that call makes each cached
``zipimport.zipimporter`` re-read its archive's whole zip directory, and a
worker caches one importer per package directory it imported from:
``pyspark.zip``, the py4j zip and the spark-core jar that Spark puts on the
workers' path. Those archives are part of the installation and never change
while the application runs, so this daemon wraps ``invalidate_caches`` in
the forked workers to leave their importers alone. Every other importer is
still invalidated on every task: directories, ``addPyFile`` archives and
the SparkFiles directory.

``session.get_spark`` selects this module with ``spark.python.daemon.module``.
Spark runs it as ``python -m flink_uba_spark._pydaemon <worker module>``.
"""

from __future__ import annotations

import functools
import importlib
import os
import sys
import zipimport


def installation_archives(path: list[str]) -> frozenset[str]:
    """The archive files (zip, jar, egg) among the ``path`` entries."""
    return frozenset(p for p in path if os.path.isfile(p))


def skipping_archives(invalidate, archives: frozenset[str]):
    """``invalidate`` (``importlib.invalidate_caches``) run with the cached
    importers of ``archives`` set aside, then put back unchanged."""

    @functools.wraps(invalidate)
    def invalidate_caches() -> None:
        cache = sys.path_importer_cache
        kept = {
            entry: finder
            for entry, finder in cache.items()
            if isinstance(finder, zipimport.zipimporter) and finder.archive in archives
        }
        for entry in kept:
            del cache[entry]
        try:
            invalidate()
        finally:
            cache.update(kept)

    return invalidate_caches


def main() -> None:
    # pyspark.daemon reads the worker module from sys.argv[1] on import
    from pyspark import daemon

    importlib.invalidate_caches = skipping_archives(
        importlib.invalidate_caches, installation_archives(sys.path)
    )
    daemon.manager()


if __name__ == "__main__":
    main()
