"""SparkSession factory used by tests, the driver contract, and bench.

Local-mode settings follow the sandbox shape (single JVM, 32 threads,
128 GiB); on a real cluster only ``master`` and memory sizing change —
shuffle partitioning is re-derived from ``spark.sparkContext.defaultParallelism``
by the operators, so the same code scales to 1000 executors.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "associationabacminer_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cores) if str(cores).isdigit() else 32
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # workers fork from worker_daemon (per-task zip re-reads skipped,
        # kernels pre-imported), which imports from the package's parent
        # directory whatever the working directory
        .config("spark.python.daemon.module", "associationabacminer_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
