"""The session factory's Python worker daemon (``worker_daemon.py``).

Every Python task calls ``importlib.invalidate_caches()`` before it runs;
before CPython 3.13 that re-read ``pyspark.zip``'s central directory once per
zipimporter the worker held. The daemon backports 3.13's lazy cache, and
``get_spark`` makes the daemon importable by the workers wherever the
driver runs.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_worker_task_rereads_no_zip_directory(spark):
    # defined here so that it pickles by value
    def _rereads(batches):
        """mapInPandas probe: how often the worker's ``invalidate_caches``
        re-reads a zip directory, and how many zipimporters the worker holds."""
        import importlib
        import zipimport

        import pandas as pd

        calls = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: calls.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        held = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame({"rereads": [len(calls)], "zipimporters": [held]})

    rows = (
        spark.range(0, 8, numPartitions=4)
        .mapInPandas(_rereads, "rereads long, zipimporters long")
        .collect()
    )
    assert len(rows) == 4
    # pyspark itself is imported from pyspark.zip on the workers
    assert any(r.zipimporters >= 1 for r in rows), rows
    assert all(r.rereads == 0 for r in rows if r.zipimporters), rows


def test_rewritten_zip_is_read_once_on_next_import(tmp_path):
    """A zip rewritten in place: invalidating reads nothing, and the next
    import re-reads the archive once and finds the added module."""
    code = textwrap.dedent(
        """
        import importlib, sys, zipfile, zipimport

        import datalake_brief_spark.worker_daemon  # noqa: F401

        path = sys.argv[1]

        def write(names):
            with zipfile.ZipFile(path, "w") as z:
                for n in names:
                    z.writestr(n + ".py", f"NAME = {n!r}\\n")

        write(["alpha"])
        sys.path.insert(0, path)
        import alpha  # noqa: F401

        write(["alpha", "beta"])
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        importlib.invalidate_caches()
        on_invalidate = len(reads)
        import beta
        print(on_invalidate, reads.count(path), beta.NAME)
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", code, str(tmp_path / "mods.zip")],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.split() == ["0", "1", "beta"]


def test_workers_find_the_daemon_outside_the_checkout(tmp_path):
    """A driver run from another directory with no PYTHONPATH: the workers
    still import the daemon, because get_spark hands them the package's
    location."""
    code = textwrap.dedent(
        f"""
        import sys

        sys.path.insert(0, {str(ROOT)!r})
        from datalake_brief_spark import get_spark

        spark = get_spark("daemon-path", master="local[1]", shuffle_partitions=1)
        n = spark.range(5).mapInPandas(lambda it: it, "id long").count()
        spark.stop()
        print(n)
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "512m"
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert out.stdout.split()[-1:] == ["5"]
