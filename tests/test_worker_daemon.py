"""The PySpark worker daemon selected by ``session.get_spark``
(``flink_uba_spark/_pydaemon.py``): tasks skip re-reading the installation
archives and nothing else changes for them."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import uuid
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_task_invalidation_rereads_no_installation_archive(spark):
    def probe(_rows):
        """Which archives ``importlib.invalidate_caches()`` re-reads in a
        task: as the worker calls it, and as Python's own call would."""
        import importlib
        import zipimport

        reads: list[str] = []
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            by_task = list(reads)
            reads.clear()
            importlib.invalidate_caches.__wrapped__()
            by_python = list(reads)
        finally:
            zipimport._read_directory = read_directory
        yield by_task, by_python

    sc = spark.sparkContext
    sc.parallelize([0], 1).count()  # a warm worker, as every later task has
    ((by_task, by_python),) = sc.parallelize([0], 1).mapPartitions(probe).collect()
    assert any(a.endswith("pyspark.zip") for a in by_python)  # the cost being skipped
    assert by_task == []


def test_task_finds_its_libraries_imported_and_frozen(spark):
    """Workers fork with numpy, pandas and pyarrow already imported and
    frozen out of the collector, so the ``gc.collect()`` a reused worker
    runs after each task does not walk them."""

    def probe(_rows):
        import gc
        import sys

        loaded = [m for m in ("numpy", "pandas", "pyarrow") if m in sys.modules]
        yield loaded, gc.get_freeze_count()

    sc = spark.sparkContext
    sc.parallelize([0], 1).count()
    ((loaded, frozen),) = sc.parallelize([0], 1).mapPartitions(probe).collect()
    assert loaded == ["numpy", "pandas", "pyarrow"]
    assert frozen > 0


def test_py_file_added_mid_session_imports_in_later_task(spark, tmp_path):
    sc = spark.sparkContext
    sc.parallelize([0], 1).count()  # the daemon already runs
    name = f"fubs_probe_{uuid.uuid4().hex[:8]}"
    archive = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}/__init__.py", "VALUE = 42\n")
    sc.addPyFile(str(archive))

    def use(_rows):
        import importlib

        yield importlib.import_module(name).VALUE

    assert sc.parallelize([0], 1).mapPartitions(use).collect() == [42]


def test_session_outside_repo_runs_python_udf(tmp_path):
    """Workers import the daemon and the engine from the engine root, not
    from the driver's working directory."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(ROOT)!r})
        from flink_uba_spark.session import get_spark
        from pyspark.sql import functions as F

        spark = get_spark("outside", master="local[1]", shuffle_partitions=1,
                          extra_conf={{"spark.driver.memory": "1g"}})
        double = F.udf(lambda v: 2 * v, "long")
        print("RESULT", spark.range(3).select(double("id")).collect())
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    assert "RESULT [Row(<lambda>(id)=0), Row(<lambda>(id)=2), Row(<lambda>(id)=4)]" in run.stdout
