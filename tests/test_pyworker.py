"""The engine's Python worker daemon (``flink_kafka_spark.pyworker``):
the per-task importer-cache trim, what the workers of a ``get_spark``
session hold between tasks, and that those workers import the engine
from any working directory."""

import importlib.machinery
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd
import pytest

from flink_kafka_spark import pyworker

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_trim_drops_only_package_level_zip_importers(tmp_path, monkeypatch):
    archive = str(tmp_path / "pyspark.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/sql/__init__.py", "")
    root = zipimport.zipimporter(archive)
    package = zipimport.zipimporter(os.path.join(archive, "pyspark"))
    assert root.prefix == "" and package.prefix == "pyspark/"
    finder = importlib.machinery.FileFinder(str(tmp_path))
    cache = {
        archive: root,
        os.path.join(archive, "pyspark"): package,
        str(tmp_path): finder,
        "/no/such/dir": None,
    }
    monkeypatch.setattr(sys, "path_importer_cache", cache)
    pyworker.trim_importer_cache()
    assert cache == {archive: root, str(tmp_path): finder, "/no/such/dir": None}


def test_workers_hold_one_zip_importer_per_archive(spark):
    def zip_importers(batches):
        import sys
        import zipimport

        for _ in batches:
            pass
        rows = [
            (path, finder.prefix)
            for path, finder in list(sys.path_importer_cache.items())
            if isinstance(finder, zipimport.zipimporter)
        ]
        yield pd.DataFrame(rows, columns=["path", "prefix"], dtype=object)

    df = spark.range(0, 2, numPartitions=2).mapInPandas(
        zip_importers, "path string, prefix string"
    )
    runs = [df.collect() for _ in range(3)]
    if not any(r.path.endswith("pyspark.zip") for run in runs for r in run):
        pytest.skip("workers import pyspark from a directory, not pyspark.zip")
    later = {(r.path, r.prefix) for run in runs[1:] for r in run}
    assert {prefix for _, prefix in later} == {""}, sorted(later)


def test_workers_import_engine_from_any_cwd(tmp_path):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        import pandas as pd
        from flink_kafka_spark.session import get_spark
        from flink_kafka_spark.streaming.stateful import _epoch_s

        def to_epoch(batches):
            for pdf in batches:
                yield pd.DataFrame({{"s": _epoch_s(pdf)}})

        spark = get_spark(master="local[1]")
        try:
            df = spark.sql("SELECT TIMESTAMP '1970-01-01 00:01:40' AS ts")
            print("EPOCH", df.mapInPandas(to_epoch, "s long").first().s)
        finally:
            spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "EPOCH 100" in out.stdout
