"""Incremental encode: Structured Streaming over an arriving-files source.

The reference's 'stream' is a directory that grows a new file every five
minutes (nemweb Current feed — /root/reference/src/packages/fetch.rs:302-305),
which it polls.  The Spark-native restatement is `readStream` of the
landing directory's file PATHS + `foreachBatch` into the batch encode
job: each micro-batch's new parquet files are encoded source-direct
against a *batch-scoped* partition space, and Spark's own streaming
checkpoint provides exactly-once file tracking (our per-partition
checkpoint table remains the intra-batch idempotence layer).

The output root holds one ``batch=<epoch>`` encode output per
micro-batch and no checkpoint of its own; ``jobs.decode.decode_blocks``
and ``scan_blocks`` recognise such a root and read every committed
batch in one plan.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from nem_mms_spark.jobs.encode import encode_parquet


# the binaryFile source's fixed schema; a stream must be given it
_BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def incremental_encode(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
):
    """Run a streaming encode until it has drained every file in
    ``source_dir`` (an ``availableNow`` trigger).

    The stream carries only the paths of the new ``*.parquet`` files
    (the ``binaryFile`` source's fixed schema, no table schema to infer);
    each epoch encodes its files with ``encode_parquet``, whose tasks
    read them with pyarrow.  Each micro-batch lands under
    out_dir/batch=<epoch_id> and resumes there, so a replay of a failed
    batch skips the parts it already committed.  Returns the
    StreamingQuery.
    """
    stream = (
        spark.readStream.format("binaryFile")
        .schema(_BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", "64")
        .load(source_dir)
        .select("path")
    )

    def handle(batch_df, epoch_id: int):
        # the source reports Hadoop path strings: "file:" and the local
        # path as it is, not percent-encoded (a '%' or '#' in a name
        # stays literal, so URL-decoding would corrupt it)
        paths = [r["path"].removeprefix("file:") for r in batch_df.collect()]
        if not paths:
            return
        encode_parquet(
            spark,
            paths,
            os.path.join(out_dir, f"batch={epoch_id}"),
            resume=True,
        )

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", os.path.join(out_dir, "_stream_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q

