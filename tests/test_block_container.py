"""The block file container: zstd pages with a CRC32 each.

Every block file is written with zstd-compressed, checksummed pages, and
every read of one verifies the checksums, so a flipped byte raises with
the file named instead of decoding to other rows.  Outputs written with
plain, unchecksummed pages (every output before zstd pages) keep
decoding, alone and mixed with new parts in one output.  ``file_bytes``
reports what the block files take on disk beside the payload totals.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from nem_mms_spark.checkpoint import checkpoint_totals
from nem_mms_spark.datagen.webpages import web_pages_df
from nem_mms_spark.jobs.decode import block_files, decode_blocks, read_block_meta
from nem_mms_spark.jobs.encode import encode_parquet
from nem_mms_spark.jobs.verify import verify_roundtrip

N_ROWS = 3000


@pytest.fixture(scope="module")
def src(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pages") / "src")
    web_pages_df(spark, N_ROWS, num_partitions=3).write.parquet(d)
    return d


@pytest.fixture(scope="module")
def pages(spark, src):
    return spark.read.parquet(src)


def _codecs(path: str) -> set[str]:
    md = pq.ParquetFile(path).metadata
    return {
        md.row_group(g).column(c).compression
        for g in range(md.num_row_groups)
        for c in range(md.num_columns)
    }


def _flip_byte_in(path: str, column: str) -> None:
    """Flip one bit in the middle of ``column``'s chunk of ``path``."""
    md = pq.ParquetFile(path).metadata
    names = [md.schema.column(i).name for i in range(md.num_columns)]
    cc = md.row_group(0).column(names.index(column))
    off = cc.data_page_offset + cc.total_compressed_size // 2
    with open(path, "r+b") as f:
        f.seek(off)
        b = f.read(1)
        f.seek(off)
        f.write(bytes([b[0] ^ 0x01]))


def _rewrite_plain(path: str, timing_cols: bool = False) -> None:
    """Rewrite a block file in the layout of every output before zstd
    pages: uncompressed pages, no checksums.  With ``timing_cols``, every
    row also carries the part's ``encode_ns`` and ``fingerprint`` after
    ``encoded_bytes``, as block files did before those two moved to the
    checkpoint row alone."""
    tbl = pq.read_table(path)
    if timing_cols:
        at = tbl.column_names.index("encoded_bytes") + 1
        for i, (name, v) in enumerate(
            [("encode_ns", 987_654_321), ("fingerprint", -4_242_424_242)]
        ):
            tbl = tbl.add_column(
                at + i, name, pa.array([v] * tbl.num_rows, pa.int64())
            )
    pq.write_table(
        tbl, path, compression="NONE",
        write_statistics=False, use_dictionary=False,
        data_page_size=4 << 20,
    )


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_block_files_are_zstd_and_file_bytes_are_on_disk(
    spark, src, tmp_path, capsys
):
    """Every page of every block file is zstd.  ``file_bytes`` (encode
    result, checkpoint totals and ``cli info``) is the committed block
    files' size on disk, which a torn part does not change."""
    from nem_mms_spark.cli import main

    out = str(tmp_path / "enc")
    m = encode_parquet(spark, src, out)
    files = block_files(out)
    assert len(files) == m["parts"] == 3
    assert all(_codecs(p) == {"ZSTD"} for _pid, p in files)
    on_disk = sum(os.path.getsize(p) for _pid, p in files)
    assert m["file_bytes"] == checkpoint_totals(out)["file_bytes"] == on_disk
    # the zstd stage shrinks the web_pages payloads
    assert on_disk < m["encoded_bytes"]

    def info():
        capsys.readouterr()
        assert main(["info", "--encoded", out]) == 0
        return json.loads(capsys.readouterr().out)

    got = info()
    assert got["file_bytes"] == on_disk
    assert sum(c["encoded_bytes"] for c in got["columns"]) == m["encoded_bytes"]
    # a torn write: a part file with no checkpoint row is not counted
    blocks = os.path.join(out, "blocks")
    shutil.copytree(
        os.path.dirname(files[0][1]), os.path.join(blocks, "part_id=9999")
    )
    assert checkpoint_totals(out)["file_bytes"] == on_disk
    assert info()["file_bytes"] == on_disk


def test_flipped_byte_is_refused_with_the_file_named(spark, src, tmp_path):
    """One flipped bit inside a payload page fails the decode with the
    block file named (with plain pages it decoded to wrong rows).  The
    metadata columns still read: their pages are intact.  A flipped bit
    in a metadata page fails ``read_block_meta`` with the file named."""
    out = str(tmp_path / "enc")
    encode_parquet(spark, src, out)
    _pid, path = block_files(out)[0]
    _flip_byte_in(path, "payload")
    assert len(read_block_meta([(0, path)], ["block_id", "codec"])) > 0
    with pytest.raises(Exception, match="CRC checksum") as exc:
        decode_blocks(spark, out).collect()
    assert f"unreadable block file {path}" in str(exc.value)

    _flip_byte_in(path, "params")
    with pytest.raises(ValueError, match=f"unreadable block file {path}"):
        read_block_meta([(0, path)], ["params"])


def test_plain_page_outputs_keep_decoding(
    spark, src, pages, tmp_path, drop_committed_parts
):
    """An output whose block files have plain, unchecksummed pages
    decodes to the source, with or without the per-row ``encode_ns`` and
    ``fingerprint`` columns of older block files, and so does one where
    a resume re-encoded some parts in the current layout beside the old
    ones."""
    from nem_mms_spark.jobs.decode import scan_blocks

    out = str(tmp_path / "enc")
    encode_parquet(spark, src, out)
    want = _sorted_rows(decode_blocks(spark, out))
    n_scan = scan_blocks(spark, out, "warc_ts", lo=0).count()
    files = block_files(out)
    assert "encode_ns" not in pq.read_schema(files[0][1]).names
    for timing_cols in (False, True):
        for _pid, path in files:
            _rewrite_plain(path, timing_cols)
            assert _codecs(path) == {"UNCOMPRESSED"}
            assert timing_cols == (
                "encode_ns" in pq.read_schema(path).names
            )
        assert _sorted_rows(decode_blocks(spark, out)) == want
        assert scan_blocks(spark, out, "warc_ts", lo=0).count() == n_scan
        assert verify_roundtrip(spark, pages, out)["decoded_rows"] == N_ROWS

    # mixed: the first part is re-encoded by a resume, the rest stay old
    drop_committed_parts(out, [files[0][0]])
    resumed = encode_parquet(spark, src, out, resume=True)
    assert resumed["skipped_parts"] == len(files) - 1
    assert [_codecs(p) for _pid, p in files] == (
        [{"ZSTD"}] + [{"UNCOMPRESSED"}] * (len(files) - 1)
    )
    assert _sorted_rows(decode_blocks(spark, out)) == want
    assert verify_roundtrip(spark, pages, out)["decoded_rows"] == N_ROWS
