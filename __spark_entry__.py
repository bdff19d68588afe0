"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: run the full columnar-encode engine
                 (source-direct encode_parquet: the documents parquet
                 file is one part, read and encoded in one task, no
                 shuffle -> per-column vectorized codec selection ->
                 encoded blocks + checkpoint) over the sf0.001
                 documents table and return per-column compression metrics.
queries()      — operator surface per SURVEY.md §2 + training-data ops.
oracle_sql()   — DuckDB-equivalent ANSI SQL per query (rows-only ops omit).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: encode the documents table, return per-column totals of
    its block table (the codec manifest)."""
    from nem_mms_spark.queries import encode_roundtrip_metrics

    return encode_roundtrip_metrics(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from nem_mms_spark.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from nem_mms_spark.queries import ORACLE_SQL

    return dict(ORACLE_SQL)
