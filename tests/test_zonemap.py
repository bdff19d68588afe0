"""Zone-map data skipping: per-block min/max stats, block pruning,
partition pruning, and exactness against a full-scan filter."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import Row, functions as F

from nem_mms_spark.datagen.webpages import web_pages_df
from nem_mms_spark.jobs.decode import decode_blocks, scan_blocks
from nem_mms_spark.jobs.encode import encode_parquet


@pytest.fixture(scope="module")
def enc_dir(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("enc_zm")
    src, out = str(root / "src"), str(root / "enc")
    web_pages_df(spark, 4000, num_partitions=4).write.parquet(src)
    encode_parquet(spark, src, out, block_rows=256)
    return out, spark.read.parquet(src)


def test_zone_stats_present(spark, enc_dir):
    out, _ = enc_dir
    b = spark.read.parquet(os.path.join(out, "blocks"))
    ts = b.filter(F.col("column") == "warc_ts")
    assert ts.filter(F.col("zmin_i").isNull()).count() == 0
    assert ts.filter(F.col("zmax_i") < F.col("zmin_i")).count() == 0
    # bytes columns carry NULL zone maps (cannot skip)
    url = b.filter(F.col("column") == "url")
    assert url.filter(F.col("zmin_i").isNotNull()).count() == 0


def test_range_scan_matches_full_filter(spark, enc_dir):
    out, pages = enc_dir
    lo, hi = pages.agg(
        F.expr("percentile(unix_micros(cast(warc_ts as timestamp)), 0.45)"),
        F.expr("percentile(unix_micros(cast(warc_ts as timestamp)), 0.55)"),
    ).first()
    lo, hi = int(lo), int(hi)
    got = scan_blocks(spark, out, "warc_ts", lo=lo, hi=hi)
    expect = pages.filter(F.unix_micros(F.col("warc_ts").cast("timestamp")).between(lo, hi))
    assert got.count() == expect.count()
    csum = lambda df: df.agg(  # noqa: E731 — order-insensitive multiset hash
        F.sum(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)"))
    ).first()[0]
    assert csum(got) == csum(expect.select(*got.columns))


def test_range_scan_actually_skips_blocks(spark, enc_dir):
    out, pages = enc_dir
    b = spark.read.parquet(os.path.join(out, "blocks"))
    total_groups = b.select("part_id", "block_id").distinct().count()
    lo = pages.agg(F.expr("percentile(unix_micros(cast(warc_ts as timestamp)), 0.98)")).first()[0]
    scanned = scan_blocks(spark, out, "warc_ts", lo=int(lo))
    # narrow tail predicate must decode far fewer than all block groups;
    # measure by the survivors the metadata pass admits
    meta = b.filter(F.col("column") == "warc_ts")
    survivors = meta.filter(F.col("zmax_i") >= int(lo)).count()
    assert survivors < total_groups * 0.6, (survivors, total_groups)
    # and the result is still exact
    assert scanned.count() == pages.filter(
        F.unix_micros(F.col("warc_ts").cast("timestamp")) >= int(lo)
    ).count()


def test_empty_range_returns_empty(spark, enc_dir):
    out, _ = enc_dir
    got = scan_blocks(spark, out, "warc_ts", lo=2**62)
    assert got.count() == 0


def test_partition_pruning_reaches_scan(spark, enc_dir, tmp_path):
    """A part filter prunes whole part files: with every other part's
    blocks file overwritten by garbage, decoding parts 0 and 1 still
    succeeds, because the garbage files are never opened.  Decoding
    every part fails on the driver, naming a garbage file."""
    import shutil

    import pyarrow.parquet as pq

    src, _ = enc_dir
    out = str(tmp_path / "enc")
    shutil.copytree(src, out)
    blocks = os.path.join(out, "blocks")
    others = [d for d in os.listdir(blocks) if d not in ("part_id=0", "part_id=1")]
    assert others
    for d in others:
        with open(os.path.join(blocks, d, "data.parquet"), "wb") as fh:
            fh.write(b"not a parquet file")
    ckpt = pq.read_table(os.path.join(out, "checkpoint")).to_pylist()
    want = sum(r["n_rows"] for r in ckpt if r["part_id"] in (0, 1))
    assert decode_blocks(spark, out, parts=[0, 1]).count() == want
    with pytest.raises(
        ValueError,
        match=r"unreadable block file .*/blocks/part_id=\d+/data\.parquet",
    ):
        decode_blocks(spark, out).count()


def test_scan_int64_full_range_exact(spark, tmp_path_factory):
    """64-bit-range column: the overlap test must stay in int64 (a double
    cast would round and could skip a matching block)."""
    root = tmp_path_factory.mktemp("enc_zm64")
    src, out = str(root / "src"), str(root / "enc")
    big = 2**62 + 12345
    rows = [Row(k=i, v=(big + i if i >= 900 else -big - i)) for i in range(1000)]
    spark.createDataFrame(rows).write.parquet(src)
    encode_parquet(spark, src, out, key_col="k", block_rows=128)
    got = scan_blocks(spark, out, "v", lo=big)
    assert got.count() == 100


def test_scan_reads_each_block_file_once(spark, enc_dir, monkeypatch):
    """A scan reads block metadata once: every committed block file is
    opened by the driver exactly once, by the zone-map prune, whose
    table also gives the decode its schema."""
    import pyarrow.parquet as pq

    from nem_mms_spark.jobs.decode import block_files

    out, _ = enc_dir
    opened = []
    real = pq.ParquetFile

    def counting(source, *args, **kwargs):
        opened.append(source)
        return real(source, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    scan_blocks(spark, out, "warc_ts", lo=0)
    monkeypatch.undo()
    assert sorted(opened) == sorted(p for _pid, p in block_files(out))


def test_scan_stream_root_with_repeated_part_ids(spark, tmp_path):
    """A streaming-encode root whose two batches both hold part_id=0
    scans exactly like the filter over both sources: survivors are keyed
    by block file, which is unique across batches."""
    root = tmp_path / "stream"
    srcs = []
    for epoch, n in enumerate((400, 800)):
        src = str(tmp_path / f"src{epoch}")
        web_pages_df(spark, n, num_partitions=1).write.parquet(src)
        encode_parquet(spark, src, str(root / f"batch={epoch}"), block_rows=64)
        srcs.append(src)
    pages = spark.read.parquet(*srcs)
    micros = F.unix_micros(F.col("warc_ts").cast("timestamp"))
    lo, hi = pages.agg(
        F.percentile(micros, 0.3), F.percentile(micros, 0.6)
    ).first()
    lo, hi = int(lo), int(hi)
    got = scan_blocks(spark, str(root), "warc_ts", lo=lo, hi=hi)
    expect = pages.filter(micros.between(lo, hi)).select(*got.columns)
    csum = lambda df: df.agg(  # noqa: E731 — order-insensitive multiset hash
        F.count("*"),
        F.sum(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")),
    ).first()
    assert csum(got) == csum(expect)
    assert csum(got)[0] > 0
