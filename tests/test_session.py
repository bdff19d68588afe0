"""The session and its Python workers carry only settings that change
something: every ``spark.sql.*`` value ``get_spark`` sets differs from
Spark's default, and an engine kernel leaves the worker it ran on as
Spark started it."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from nem_mms_spark.datagen.webpages import generate_pages
from nem_mms_spark.jobs.encode import encode_parquet

# spark.sql.* keys that Spark or pyspark put in the SparkConf themselves
SPARK_SETS = {
    "spark.sql.artifact.isolation.enabled": "the classic pyspark session "
    "turns artifact isolation off for itself",
    "spark.sql.warehouse.dir": "Spark records the resolved warehouse path "
    "when the catalog is first used",
}


def test_every_session_conf_differs_from_spark_default(spark):
    same = {}
    for k, _v in spark.sparkContext.getConf().getAll():
        if not k.startswith("spark.sql.") or k in SPARK_SETS:
            continue
        value = spark.conf.get(k)
        spark.conf.unset(k)
        try:
            default = spark.conf.get(k)
        finally:
            spark.conf.set(k, value)
        if default == value:
            same[k] = value
    assert not same, f"set to Spark's own default: {same}"


def test_no_kernel_inherits_an_encode_tasks_worker_state(spark, tmp_path):
    """Python workers are reused across tasks, so whatever an encode task
    does to its process outlives it.  After an encode that runs a task
    on every worker, a query kernel still sees the driver's CPU
    affinity."""
    src = tmp_path / "src"
    src.mkdir()
    for i in range(4):
        pages = generate_pages(np.arange(i * 500, (i + 1) * 500))
        pq.write_table(
            pa.Table.from_pandas(pages, preserve_index=False),
            str(src / f"part-{i:05d}.parquet"),
        )
    encode_parquet(
        spark, str(src), str(tmp_path / "enc"), resume=False, parallelism=4
    )

    def n_cpus(batches):
        for batch in batches:
            n = len(os.sched_getaffinity(0))
            yield pa.RecordBatch.from_pydict(
                {"n_cpus": pa.array([n] * batch.num_rows, pa.int32())}
            )

    seen = [
        r["n_cpus"]
        for r in spark.range(4, numPartitions=4)
        .mapInArrow(n_cpus, "n_cpus int")
        .collect()
    ]
    assert seen == [len(os.sched_getaffinity(0))] * 4


def _ppid(pid: int) -> int:
    with open(f"/proc/{pid}/stat") as fh:
        return int(fh.read().rsplit(")", 1)[1].split()[1])


def test_every_python_task_shares_one_daemon(spark, tmp_path):
    """Spark keeps one Python worker daemon per distinct worker env, and
    its SQL runners add an env key that RDD runners do not, so the
    session sets that key for every executor.  An encode (an RDD job), a
    ``mapInArrow`` and a ``parallelize().mapPartitions`` then all run on
    workers forked by one daemon."""
    src = tmp_path / "src"
    src.mkdir()
    for i in range(4):
        pages = generate_pages(np.arange(i * 200, (i + 1) * 200))
        pq.write_table(
            pa.Table.from_pandas(pages, preserve_index=False),
            str(src / f"part-{i:05d}.parquet"),
        )
    m = encode_parquet(
        spark, str(src), str(tmp_path / "enc"), resume=False, parallelism=4
    )
    parents = {"encode": {_ppid(t["pid"]) for t in m["timeline"]}}

    def sql_ppid(batches):
        for batch in batches:
            yield pa.RecordBatch.from_pydict(
                {"ppid": pa.array([os.getppid()] * batch.num_rows, pa.int64())}
            )

    parents["mapInArrow"] = {
        r["ppid"]
        for r in spark.range(4, numPartitions=4)
        .mapInArrow(sql_ppid, "ppid long")
        .collect()
    }
    parents["mapPartitions"] = set(
        spark.sparkContext.parallelize(range(4), 4)
        .mapPartitions(lambda it: [os.getppid() for _ in it])
        .collect()
    )
    assert len(set().union(*parents.values())) == 1, parents
