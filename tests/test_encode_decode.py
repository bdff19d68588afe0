"""End-to-end encode -> decode -> bit-identical verification, plus
checkpoint resume idempotence (SURVEY.md §7 M1/M5)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from nem_mms_spark.datagen.webpages import web_pages_df
from nem_mms_spark.jobs.encode import encode_dataframe, with_part_id
from nem_mms_spark.jobs.decode import decode_blocks, read_manifest
from nem_mms_spark.jobs.verify import verify_roundtrip

N_ROWS = 4000


@pytest.fixture(scope="module")
def pages(spark):
    return web_pages_df(spark, N_ROWS).cache()


def test_encode_decode_bit_identical(spark, pages, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc"))
    metrics = encode_dataframe(spark, pages, out, num_parts=6, block_rows=512)
    assert metrics["rows"] == N_ROWS
    assert metrics["ratio"] < 0.6, f"expected real compression, got {metrics}"
    result = verify_roundtrip(spark, pages, out, key="url")
    assert result["mismatched_groups"] == 0
    assert result["decoded_rows"] == N_ROWS


def test_manifest_selector_outcomes(spark, pages, tmp_path_factory):
    """FIXTURES.md §A expected selector outcomes per column."""
    out = str(tmp_path_factory.mktemp("enc_sel"))
    encode_dataframe(spark, pages, out, num_parts=4)
    man = read_manifest(spark, out).collect()
    by_col = {}
    for r in man:
        by_col.setdefault(r["column"], []).append(r["codecs"])
    assert any("FSST" in c for c in by_col["url"]), by_col["url"]
    assert any(("DICT" in c) or ("RLE" in c) for c in by_col["lang"])
    assert any(
        ("DELTA_FOR_BITPACK" in c) or ("DELTA_PFOR_BITPACK" in c)
        for c in by_col["warc_ts"]
    )


def test_column_subset_decode(spark, pages, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc_sub"))
    encode_dataframe(spark, pages, out, num_parts=4)
    d = decode_blocks(spark, out, columns=["url", "lang"])
    assert d.columns == ["url", "lang"]
    assert d.count() == N_ROWS
    with pytest.raises(ValueError, match="not in manifest"):
        decode_blocks(spark, out, columns=["nope"])


def test_resume_skips_done_and_completes_partial(spark, pages, tmp_path_factory):
    # salted_full: part ids are CONTENT hashes, so resume can stitch a
    # grown input onto a partial encode (aligned/hybrid key on input
    # splits and support same-input retry only — enforced by the
    # checkpoint partitioning metadata guard)
    out = str(tmp_path_factory.mktemp("enc_resume"))
    # first: encode only a subset of partitions (simulates a mid-run kill
    # after some partitions committed their checkpoint rows)
    part_ids = with_part_id(pages, 6).select("part_id").distinct().collect()
    all_parts = sorted(r["part_id"] for r in part_ids)
    half = all_parts[: len(all_parts) // 2]
    subset = with_part_id(pages, 6).filter(F.col("part_id").isin(half)).drop("part_id")
    m1 = encode_dataframe(spark, subset, out, num_parts=6, partitioning="salted_full")
    assert m1["rows"] < N_ROWS

    # resume over the FULL input — stitched from the done subset plus the
    # remainder with a real set-op (unionByName, order-insensitive): must
    # skip done partitions, encode the rest
    rest = (
        with_part_id(pages, 6)
        .filter(~F.col("part_id").isin(half))
        .drop("part_id")
    )
    full = subset.unionByName(rest.select(*subset.columns))
    m2 = encode_dataframe(spark, full, out, num_parts=6, partitioning="salted_full")
    assert m2["skipped_parts"] == len(half)
    assert m2["rows"] == N_ROWS

    verify_roundtrip(spark, pages, out, key="url")

    # third run: everything already done -> no work, output unchanged
    m3 = encode_dataframe(spark, pages, out, num_parts=6, partitioning="salted_full")
    assert m3["skipped_parts"] == len(all_parts)
    assert m3["rows"] == N_ROWS
    assert m3["encoded_bytes"] == m2["encoded_bytes"]


def test_fresh_reencode_truncates_stale_partitions(spark, pages, tmp_path_factory):
    """resume=False into an existing out_dir must not leak prior-run
    partitions: a smaller re-encode fully replaces blocks/manifest/
    checkpoint (static partition overwrite)."""
    out = str(tmp_path_factory.mktemp("enc_fresh"))
    encode_dataframe(spark, pages.limit(400), out, num_parts=6)
    small = pages.limit(100)
    m = encode_dataframe(spark, small, out, num_parts=2, resume=False)
    assert m["rows"] == 100 and m["parts"] <= 2, m
    decoded = decode_blocks(spark, out)
    assert decoded.count() == 100
    verify_roundtrip(spark, small, out, key="url")


def test_verify_roundtrip_with_duplicate_keys(spark, pages, tmp_path_factory):
    """Duplicate url values (legit for crawl data) must not break the
    multiset verify the way a key-equijoin would."""
    dupes = pages.limit(200)
    doubled = dupes.unionByName(dupes)
    out = str(tmp_path_factory.mktemp("enc_dup"))
    m = encode_dataframe(spark, doubled, out, num_parts=3)
    assert m["rows"] == 400
    result = verify_roundtrip(spark, doubled, out, key="url")
    assert result["source_rows"] == result["decoded_rows"] == 400


def test_aligned_mode_zero_shuffle_roundtrip(spark, pages, tmp_path_factory):
    """partitioning='aligned' encodes each input split in place: no
    exchange anywhere in the plan, still bit-identical round-trip."""
    from pyspark.sql import functions as F

    out = str(tmp_path_factory.mktemp("enc_aligned"))
    m = encode_dataframe(
        spark, pages, out, partitioning="aligned", resume=False
    )
    assert m["rows"] == N_ROWS
    verify_roundtrip(spark, pages, out, key="url")
    # the aligned pre-encode plan shape contains no shuffle
    work = pages.withColumn(
        "part_id", F.spark_partition_id()
    ).sortWithinPartitions("warc_ts")
    plan = work._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "Exchange" not in plan, plan


def test_determinism_across_runs(spark, pages, tmp_path_factory):
    """Same input twice -> identical checkpoint fingerprints + byte sizes
    (codec choice is a pure function of partition content)."""
    out1 = str(tmp_path_factory.mktemp("enc_d1"))
    out2 = str(tmp_path_factory.mktemp("enc_d2"))
    encode_dataframe(spark, pages, out1, num_parts=5)
    encode_dataframe(spark, pages, out2, num_parts=5)
    c1 = {r["part_id"]: (r["fingerprint"], r["encoded_bytes"], r["n_rows"])
          for r in spark.read.parquet(os.path.join(out1, "checkpoint")).collect()}
    c2 = {r["part_id"]: (r["fingerprint"], r["encoded_bytes"], r["n_rows"])
          for r in spark.read.parquet(os.path.join(out2, "checkpoint")).collect()}
    assert c1 == c2


def test_uncommitted_partition_is_invisible(spark, pages, tmp_path_factory):
    """Visibility contract (round-4 ADVICE): data files land task-side,
    so a partition dir written by a failed/still-running encode must not
    be readable until its checkpoint row commits.  Simulate a torn job
    by copying a partition dir under a part_id that has no checkpoint
    row: decode and zone-map scans must not see its rows."""
    import shutil

    from nem_mms_spark.jobs.decode import scan_blocks

    out = str(tmp_path_factory.mktemp("enc_vis"))
    encode_dataframe(spark, pages, out, num_parts=4, resume=False)
    n_committed = decode_blocks(spark, out).count()
    n_scan = scan_blocks(
        spark, out, "warc_ts", lo=0, columns=["url", "warc_ts"]
    ).count()
    # torn write: a partition dir with no checkpoint row
    for sub in ("blocks", "manifest"):
        src_dir = next(
            d
            for d in os.listdir(os.path.join(out, sub))
            if d.startswith("part_id=")
        )
        shutil.copytree(
            os.path.join(out, sub, src_dir),
            os.path.join(out, sub, "part_id=9999"),
        )
    assert decode_blocks(spark, out).count() == n_committed
    assert (
        scan_blocks(spark, out, "warc_ts", lo=0, columns=["url", "warc_ts"])
        .count()
        == n_scan
    )


def test_decode_without_any_commit_raises(spark, pages, tmp_path_factory):
    import shutil

    out = str(tmp_path_factory.mktemp("enc_nockpt"))
    encode_dataframe(spark, pages, out, num_parts=4, resume=False)
    shutil.rmtree(os.path.join(out, "checkpoint"))
    with pytest.raises(ValueError, match="no committed checkpoint"):
        decode_blocks(spark, out).count()


def test_cli_decode_roundtrip(spark, pages, tmp_path, capsys):
    """``cli decode --columns`` writes exactly the source's columns, and
    the decode command has no engine choice."""
    import json

    from nem_mms_spark.cli import main

    src = str(tmp_path / "src")
    enc = str(tmp_path / "enc")
    back = str(tmp_path / "back")
    pages.write.parquet(src)
    assert main(["encode", "--input", src, "--out", enc,
                 "--partitioning", "source_direct"]) == 0
    assert main(["decode", "--encoded", enc, "--out", back,
                 "--columns", "url,lang"]) == 0
    assert json.loads(capsys.readouterr().out.splitlines()[-1]) == {
        "written": back
    }
    got = spark.read.parquet(back)
    want = spark.read.parquet(src).select("url", "lang")
    assert got.columns == ["url", "lang"]
    assert got.count() == N_ROWS
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    with pytest.raises(SystemExit):
        main(["decode", "--encoded", enc, "--out", back, "--engine", "arrow"])
