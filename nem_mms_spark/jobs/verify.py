"""Round-trip verification: decode everything and compare bit-identical
against the source — the engine-wide correctness gate (BASELINE.json
input_hint: "byte-identical extracted text per url"; testing philosophy from
the reference's parser round-trip tests, /root/reference/src/flatfile.rs:648+).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from nem_mms_spark.jobs.decode import decode_blocks


def verify_roundtrip(
    spark: SparkSession,
    source: DataFrame,
    out_dir: str,
) -> dict:
    """Exact multiset equality between source and decoded rows; any
    difference raises ``ValueError``.

    Both sides are grouped by ALL columns with a count, then full-outer
    null-safe-joined on those columns; any group whose counts differ (or
    that exists on one side only) is a mismatch.  This is duplicate-safe:
    repeated key values (common for url-keyed crawl data) cannot inflate
    the comparison the way a key-equijoin would.  Distributed end to end —
    one shuffle per side plus the join; no driver materialization.
    """
    decoded = decode_blocks(spark, out_dir)
    cols = source.columns
    sg = source.groupBy(*cols).agg(F.count("*").alias("cs")).alias("s")
    dg = (
        decoded.select(*cols)
        .groupBy(*cols)
        .agg(F.count("*").alias("cd"))
        .alias("d")
    )
    cond = reduce(
        operator.and_,
        [F.col(f"s.{c}").eqNullSafe(F.col(f"d.{c}")) for c in cols],
    )
    joined = sg.join(dg, cond, "full_outer")
    agg = joined.agg(
        F.sum(F.coalesce(F.col("cs"), F.lit(0))).alias("source_rows"),
        F.sum(F.coalesce(F.col("cd"), F.lit(0))).alias("decoded_rows"),
        F.sum(
            F.when(~F.col("cs").eqNullSafe(F.col("cd")), 1).otherwise(0)
        ).alias("mismatched_groups"),
    ).collect()[0]
    result = {
        "source_rows": int(agg["source_rows"] or 0),
        "decoded_rows": int(agg["decoded_rows"] or 0),
        "mismatched_groups": int(agg["mismatched_groups"] or 0),
    }
    if result["mismatched_groups"]:
        raise ValueError(f"multiset mismatch: {result}")
    if result["source_rows"] != result["decoded_rows"]:
        raise ValueError(f"row count mismatch: {result}")
    return result
