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

A reused worker also runs ``gc.collect()`` after every task (in
``pyspark.daemon``), and the engine's tasks import numpy, pandas and
pyarrow. Imported in each worker after the fork, their objects sit in the
worker's own heap and every one of those collections walks them, about
25 ms each. The daemon imports them once before it forks, then moves
everything it holds into the collector's permanent generation
(``gc.freeze()``), so a worker's collection walks only what its tasks
made, and the frozen objects' pages stay shared with the daemon. Over
one pass of the catalog at sf0.001 (4 cores) the Python workers' CPU
fell from 35.5 to 9.8 s.

``session.get_spark`` selects this module with ``spark.python.daemon.module``.
Spark runs it as ``python -m flink_uba_spark._pydaemon <worker module>``.
"""

from __future__ import annotations

import functools
import gc
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
    # the task-side libraries, imported once here and frozen out of every
    # worker's collections
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401

    gc.collect()
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
