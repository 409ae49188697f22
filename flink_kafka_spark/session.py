"""SparkSession factory tuned for this engine.

Defaults target the test harness (``local[$SPARK_GRAFT_CPUS]``,
single JVM) but every knob is chosen to also be the right default on a
real multi-executor cluster at ~100 TB scale:

- AQE on (runtime coalescing, skew-join splitting, dynamic join
  strategy switch) so plans self-correct at scale.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a
  cluster AQE's coalescing makes the initial number less critical.
- Session timezone pinned to UTC so event-time semantics (and the
  DuckDB oracle comparison) are deterministic.
- Arrow enabled: every Pandas-UDF operator ships columnar batches.
- Python workers run ``flink_kafka_spark.pyworker`` as their daemon
  (``spark.python.daemon.module``), which keeps each task from
  re-reading ``pyspark.zip`` once per imported pyspark package, and get
  the package's parent directory on ``PYTHONPATH``
  (``spark.executorEnv.PYTHONPATH``), so the daemon and UDFs that
  reference engine functions import from any working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    except ValueError:
        return os.cpu_count() or 4


def get_spark(
    app_name: str = "flink_kafka_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults."""
    cpus = _cpus()
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # testdata events.parquet stores TIMESTAMP(NANOS) which Spark has
        # no native type for; read as long and convert in tables.load()
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.python.daemon.module", "flink_kafka_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
