"""Incremental encode: Structured Streaming over an arriving-files source.

The reference's 'stream' is a directory that grows a new file every five
minutes (nemweb Current feed — /root/reference/src/packages/fetch.rs:302-305),
which it polls.  The Spark-native restatement is `readStream` on the landing
directory + `foreachBatch` into the batch encode job: each micro-batch is
encoded with `resume=False` semantics against a *batch-scoped* partition
space, and Spark's own streaming checkpoint provides exactly-once file
tracking (our per-partition checkpoint table remains the intra-batch
idempotence layer).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from nem_mms_spark.jobs.encode import encode_dataframe


def incremental_encode(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    schema: str | None = None,
    trigger_once: bool = True,
):
    """Start (and with trigger_once=True, drain) a streaming encode.

    Each micro-batch lands under out_dir/batch=<epoch_id> so replays of a
    failed batch overwrite their own partition dirs (idempotent).
    Returns the StreamingQuery.
    """
    if schema is None:
        schema = spark.read.parquet(source_dir).schema

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "64")
        .parquet(source_dir)
    )

    def handle(batch_df, epoch_id: int):
        if batch_df.isEmpty():
            return
        encode_dataframe(
            spark,
            batch_df,
            os.path.join(out_dir, f"batch={epoch_id}"),
            resume=True,
        )

    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", os.path.join(out_dir, "_stream_ckpt"))
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if trigger_once:
        q.awaitTermination()
    return q


def decode_stream_output(
    spark: SparkSession, out_dir: str, columns: list[str] | None = None
):
    """Decode the WHOLE streaming output — every batch=<epoch> dir — as
    one DataFrame.  ``decode_blocks`` builds one split list from every
    committed (epoch, part_id) file and reads it with a single Python
    map, so the plan is the same size whatever the epoch count (a
    per-batch union would re-plan per epoch, driver-bound at thousands
    of epochs); splits are keyed by (epoch, part_id) so same-numbered
    partitions from different epochs never merge."""
    from nem_mms_spark.jobs.decode import decode_blocks

    if not any(d.startswith("batch=") for d in os.listdir(out_dir)):
        raise ValueError(f"no batch outputs under {out_dir}")
    return decode_blocks(spark, out_dir, columns=columns, stream_batches=True)
