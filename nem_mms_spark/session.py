"""SparkSession factory.

Every ``spark.sql.*`` value set here differs from Spark's default
(``tests/test_session.py`` checks it): shuffle partitions follow the
session's core count, timestamps are UTC, and Arrow carries the Python
boundary.  Scans fan out over the cores on their own: with
``spark.sql.files.minPartitionNum`` unset, Spark sizes file splits from
``defaultParallelism``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "nem_mms_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    n_threads = _parallelism_of(master, cpus)
    shuffle_partitions = shuffle_partitions or max(n_threads, 4)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(n_threads))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        # Spark keeps one Python worker daemon per distinct worker env,
        # and its SQL UDF runners (mapInArrow) add this variable where
        # RDD runners (the encode job, binaryFiles) do not.  Setting it
        # for every executor makes the two envs equal, so every Python
        # task shares one daemon and its forked workers.
        .config("spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK", "1")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _parallelism_of(master: str, default: int) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or default
        try:
            return int(inner)
        except ValueError:
            return default
    return default
