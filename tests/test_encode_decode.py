"""End-to-end encode -> decode -> bit-identical verification, plus
checkpoint resume idempotence (SURVEY.md §7 M1/M5).  The source is the
web_pages table written once per module as parquet files, one part
each."""

from __future__ import annotations

import os
import shutil

import pytest

from nem_mms_spark.datagen.webpages import web_pages_df
from nem_mms_spark.jobs.encode import encode_parquet
from nem_mms_spark.jobs.decode import (
    block_files,
    decode_blocks,
    read_block_meta,
)
from nem_mms_spark.jobs.verify import verify_roundtrip

N_ROWS = 4000


@pytest.fixture(scope="module")
def src(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pages") / "src")
    web_pages_df(spark, N_ROWS, num_partitions=4).write.parquet(d)
    return d


@pytest.fixture(scope="module")
def pages(spark, src):
    return spark.read.parquet(src)


def _written(df, path: str) -> str:
    """``df`` written as one parquet file under ``path``."""
    df.coalesce(1).write.parquet(path)
    return path


def test_encode_decode_bit_identical(spark, src, pages, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc"))
    metrics = encode_parquet(spark, src, out, block_rows=512)
    assert metrics["rows"] == N_ROWS
    assert metrics["ratio"] < 0.6, f"expected real compression, got {metrics}"
    if shutil.which("gcc"):
        nk = metrics["native_kernels"]
        assert nk["loaded_tasks"] == nk["tasks"] == metrics["parts"], nk
        assert nk["error"] is None
    result = verify_roundtrip(spark, pages, out)
    assert result["mismatched_groups"] == 0
    assert result["decoded_rows"] == N_ROWS


def test_manifest_selector_outcomes(spark, src, tmp_path_factory):
    """FIXTURES.md §A expected selector outcomes per column."""
    out = str(tmp_path_factory.mktemp("enc_sel"))
    encode_parquet(spark, src, out)
    meta = read_block_meta(block_files(out), ["column", "codec"])
    by_col = {}
    for r in meta.to_pylist():
        by_col.setdefault(r["column"], []).append(r["codec"])
    assert any("FSST" in c for c in by_col["url"]), by_col["url"]
    assert any(("DICT" in c) or ("RLE" in c) for c in by_col["lang"])
    assert any(
        ("DELTA_FOR_BITPACK" in c) or ("DELTA_PFOR_BITPACK" in c)
        for c in by_col["warc_ts"]
    )


def test_column_subset_decode(spark, src, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc_sub"))
    encode_parquet(spark, src, out)
    d = decode_blocks(spark, out, columns=["url", "lang"])
    assert d.columns == ["url", "lang"]
    assert d.count() == N_ROWS
    with pytest.raises(ValueError, match="not in manifest"):
        decode_blocks(spark, out, columns=["nope"])


def _ckpt_parts(spark, out):
    """{part_id: (fingerprint, encoded_bytes, n_rows)} of the committed
    checkpoint."""
    return {
        r["part_id"]: (r["fingerprint"], r["encoded_bytes"], r["n_rows"])
        for r in spark.read.parquet(f"{out}/checkpoint").collect()
    }


def test_resume_skips_done_and_completes_partial(
    spark, src, pages, tmp_path_factory, drop_committed_parts
):
    """A run killed after committing all but two parts resumes by
    encoding exactly those two, and ends byte-equal to an uninterrupted
    run part by part."""
    out = str(tmp_path_factory.mktemp("enc_resume"))
    m1 = encode_parquet(spark, src, out, resume=False)
    full = _ckpt_parts(spark, out)
    assert m1["parts"] == len(full) > 2
    drop_committed_parts(out, sorted(full)[:2])

    m2 = encode_parquet(spark, src, out, resume=True)
    assert m2["skipped_parts"] == m1["parts"] - 2
    assert m2["rows"] == N_ROWS
    assert _ckpt_parts(spark, out) == full
    verify_roundtrip(spark, pages, out)


def test_resume_partitioning_mismatch_raises(spark, src, pages, tmp_path):
    """Resuming under another key column or another file listing raises
    instead of matching fresh part ids against stale done ids."""
    out = str(tmp_path / "enc")
    small = _written(pages.limit(2000), str(tmp_path / "small"))
    encode_parquet(spark, small, out, resume=False)
    with pytest.raises(ValueError, match="partitioning parameters changed"):
        encode_parquet(spark, small, out, key_col="lang", resume=True)
    with pytest.raises(ValueError, match="partitioning parameters changed"):
        encode_parquet(spark, src, out, resume=True)


def test_resume_without_partitioning_meta_raises(spark, pages, tmp_path):
    """A checkpoint with committed runs but no _partitioning.json (older
    engine version / lost meta) must refuse to resume: its done-ids were
    produced by an unknown part-id assignment, and silently adopting the
    current meta is exactly the stale-done-ids data drop the guard
    prevents."""
    out = str(tmp_path / "enc")
    small = _written(pages.limit(2000), str(tmp_path / "small"))
    encode_parquet(spark, small, out, resume=False)
    os.remove(os.path.join(out, "checkpoint", "_partitioning.json"))
    with pytest.raises(ValueError, match="no\\s+_partitioning.json"):
        encode_parquet(spark, small, out, resume=True)
    # an EMPTY checkpoint dir without meta is fine (first run writes it)
    out2 = str(tmp_path / "enc2")
    encode_parquet(spark, small, out2, resume=True)


def test_same_input_resume_is_noop(spark, src, tmp_path):
    """Re-running the same input over a completed encode skips every
    partition and leaves the output byte-identical."""
    from nem_mms_spark.checkpoint import checkpoint_totals

    out = str(tmp_path / "enc")
    m1 = encode_parquet(spark, src, out, resume=False)
    before = checkpoint_totals(out)
    m2 = encode_parquet(spark, src, out, resume=True)
    assert m2["skipped_parts"] == before["parts"]
    assert m2["rows"] == m1["rows"] == N_ROWS
    assert m2["encoded_bytes"] == m1["encoded_bytes"]


def test_fresh_reencode_truncates_stale_partitions(spark, src, pages, tmp_path_factory):
    """resume=False into an existing out_dir must not leak prior-run
    partitions: a smaller re-encode fully replaces blocks/checkpoint
    (static partition overwrite)."""
    out = str(tmp_path_factory.mktemp("enc_fresh"))
    encode_parquet(spark, src, out)
    small = _written(
        pages.limit(100), str(tmp_path_factory.mktemp("fresh") / "small")
    )
    m = encode_parquet(spark, small, out, resume=False)
    assert m["rows"] == 100 and m["parts"] == 1, m
    decoded = decode_blocks(spark, out)
    assert decoded.count() == 100
    verify_roundtrip(spark, spark.read.parquet(small), out)


def test_verify_roundtrip_with_duplicate_keys(spark, pages, tmp_path_factory):
    """Duplicate url values (legit for crawl data) must not break the
    multiset verify the way a key-equijoin would."""
    dupes = pages.limit(200)
    doubled = _written(
        dupes.unionByName(dupes), str(tmp_path_factory.mktemp("dup") / "src")
    )
    out = str(tmp_path_factory.mktemp("enc_dup"))
    m = encode_parquet(spark, doubled, out)
    assert m["rows"] == 400
    result = verify_roundtrip(spark, spark.read.parquet(doubled), out)
    assert result["source_rows"] == result["decoded_rows"] == 400


def test_verify_roundtrip_raises_on_missing_part(
    spark, src, pages, tmp_path_factory, drop_committed_parts
):
    """The round-trip gate is an exception, not an ``assert`` (which
    ``python -O`` strips): a committed part dropped from the checkpoint
    leaves the decode short, and verify raises ``ValueError``."""
    out = str(tmp_path_factory.mktemp("enc_short"))
    encode_parquet(spark, src, out, resume=False)
    drop_committed_parts(out, [0])
    with pytest.raises(ValueError, match="multiset mismatch"):
        verify_roundtrip(spark, pages, out)


def test_encode_zero_shuffle_roundtrip(
    spark, src, pages, tmp_path_factory, drop_committed_parts
):
    """encode_parquet encodes each source file in place: every Spark job
    it runs, fresh or as a partial resume, is ONE stage (an exchange
    would add a shuffle-map stage), and the round-trip is bit-identical."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    out = str(tmp_path_factory.mktemp("enc_in_place"))

    def stages_per_job(group, **kw):
        try:
            sc.setJobGroup(group, "encode_parquet")
            m = encode_parquet(spark, src, out, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
        jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
        stage_names = [
            i.name for j in jobs for s in j.stageIds
            if (i := st.getStageInfo(s)) is not None
        ]
        # the encode job itself was seen, so the check is not vacuous
        assert any("encode.py" in n for n in stage_names), stage_names
        return m, [len(j.stageIds) for j in jobs]

    m, stages = stages_per_job("in-place-fresh", resume=False)
    assert m["rows"] == N_ROWS
    assert stages and max(stages) == 1, stages
    drop_committed_parts(out, [0])
    m, stages = stages_per_job("in-place-resume", resume=True)
    assert m["skipped_parts"] == m["parts"] - 1
    assert stages and max(stages) == 1, stages
    verify_roundtrip(spark, pages, out)


def test_determinism_across_runs(spark, src, tmp_path_factory):
    """Same input twice -> identical checkpoint fingerprints + byte sizes
    (codec choice is a pure function of partition content)."""
    out1 = str(tmp_path_factory.mktemp("enc_d1"))
    out2 = str(tmp_path_factory.mktemp("enc_d2"))
    encode_parquet(spark, src, out1)
    encode_parquet(spark, src, out2)
    assert _ckpt_parts(spark, out1) == _ckpt_parts(spark, out2)


def test_uncommitted_partition_is_invisible(
    spark, src, tmp_path_factory, monkeypatch, capsys
):
    """Visibility contract (round-4 ADVICE): data files land task-side,
    so a partition dir written by a failed/still-running encode must not
    be readable until its checkpoint row commits.  Simulate a torn job
    by copying a partition dir under a part_id that has no checkpoint
    row: decode, zone-map scans and the per-column totals of
    ``encode_roundtrip_metrics`` and ``cli info`` must not see its
    rows."""
    import json
    import shutil

    from nem_mms_spark import queries as Q
    from nem_mms_spark.cli import main
    from nem_mms_spark.jobs.decode import scan_blocks

    out = str(tmp_path_factory.mktemp("enc_vis"))
    encode_parquet(spark, src, out, resume=False)
    monkeypatch.setattr(Q, "_encoded_documents", lambda *_a, **_k: out)

    def totals():
        metrics = sorted(
            tuple(r) for r in Q.encode_roundtrip_metrics(spark, "-").collect()
        )
        capsys.readouterr()
        assert main(["info", "--encoded", out]) == 0
        info = json.loads(capsys.readouterr().out)["columns"]
        return metrics, sorted(
            (c["column"], c["n_values"], c["raw_bytes"], c["encoded_bytes"])
            for c in info
        )

    n_committed = decode_blocks(spark, out).count()
    n_scan = scan_blocks(
        spark, out, "warc_ts", lo=0, columns=["url", "warc_ts"]
    ).count()
    metrics, info = totals()
    assert {m[1] for m in metrics} == {n_committed}
    assert {i[1] for i in info} == {n_committed}
    # torn write: a partition dir with no checkpoint row
    blocks = os.path.join(out, "blocks")
    src_dir = next(d for d in os.listdir(blocks) if d.startswith("part_id="))
    shutil.copytree(
        os.path.join(blocks, src_dir), os.path.join(blocks, "part_id=9999")
    )
    assert decode_blocks(spark, out).count() == n_committed
    assert (
        scan_blocks(spark, out, "warc_ts", lo=0, columns=["url", "warc_ts"])
        .count()
        == n_scan
    )
    assert totals() == (metrics, info)


def test_output_with_old_manifest_dir(spark, src, pages, tmp_path_factory):
    """Outputs written before the block table became the one file per
    part also hold manifest/part_id=N/data.parquet.  Nothing reads it:
    decode and zone-map scans return the same rows, a resume skips every
    part, and a fresh re-encode removes the dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nem_mms_spark.jobs.decode import scan_blocks

    out = str(tmp_path_factory.mktemp("enc_old_manifest"))
    m = encode_parquet(spark, src, out, resume=False)

    def scanned():
        return sorted(
            tuple(r)
            for r in scan_blocks(
                spark, out, "warc_ts", lo=0, columns=["url", "warc_ts"]
            ).collect()
        )

    n_scan = scanned()
    for pid, _path in block_files(out):
        stale = os.path.join(out, "manifest", f"part_id={pid}")
        os.makedirs(stale)
        pq.write_table(
            pa.table({"col_idx": [0], "column": ["url"], "n_values": [7]}),
            os.path.join(stale, "data.parquet"),
        )
    assert verify_roundtrip(spark, pages, out)["decoded_rows"] == N_ROWS
    assert scanned() == n_scan
    resumed = encode_parquet(spark, src, out, resume=True)
    assert resumed["skipped_parts"] == m["parts"]
    assert resumed["rows"] == N_ROWS
    encode_parquet(spark, src, out, resume=False)
    assert not os.path.exists(os.path.join(out, "manifest"))
    verify_roundtrip(spark, pages, out)


def test_decode_without_any_commit_raises(spark, src, tmp_path_factory):
    import shutil

    out = str(tmp_path_factory.mktemp("enc_nockpt"))
    encode_parquet(spark, src, out, resume=False)
    shutil.rmtree(os.path.join(out, "checkpoint"))
    with pytest.raises(ValueError, match="no committed checkpoint"):
        decode_blocks(spark, out).count()


def test_cli_decode_roundtrip(spark, src, tmp_path, capsys):
    """``cli decode --columns`` writes exactly the source's columns, and
    the decode command has no engine choice."""
    import json

    from nem_mms_spark.cli import main

    enc = str(tmp_path / "enc")
    back = str(tmp_path / "back")
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
