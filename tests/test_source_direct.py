"""Source-direct parquet encode (`encode_parquet`): the scan happens
inside the Arrow task (pyarrow reader), Spark distributes file splits.
Contract: one blocks file per source file (part id = index in the
sorted listing), resumable and idempotent."""

from __future__ import annotations

import hashlib
import os
import shutil

import pytest
from pyspark.sql import functions as F

from nem_mms_spark.jobs.decode import decode_blocks
from nem_mms_spark.jobs.encode import encode_parquet

N = 6000


@pytest.fixture(scope="module")
def src(spark, tmp_path_factory):
    from nem_mms_spark.datagen import web_pages_df

    d = str(tmp_path_factory.mktemp("sd") / "pages")
    web_pages_df(spark, N, num_partitions=5).write.mode("overwrite").parquet(d)
    return d


def test_roundtrip_multiset_equal(spark, src, tmp_path):
    out = str(tmp_path / "enc")
    m = encode_parquet(spark, src, out, resume=False)
    assert m["rows"] == N and m["parts"] == 5
    if shutil.which("gcc"):
        assert m["native_kernels"] == {
            "loaded_tasks": 5, "tasks": 5, "error": None,
        }
    dec = decode_blocks(spark, out)
    s = spark.read.parquet(src)
    key = F.md5(
        F.concat_ws("|", "url", F.col("warc_ts").cast("string"),
                    F.col("html").cast("string"), "text", "lang")
    ).alias("h")
    a = s.select(key).groupBy("h").count()
    b = dec.select(key).groupBy("h").count()
    assert dec.count() == N
    assert a.join(b, ["h", "count"]).count() == a.count()


def test_resume_skips_done_and_completes_partial(
    spark, src, tmp_path, drop_committed_parts
):
    """A run killed after committing all but two parts resumes by
    encoding exactly those two, and ends byte-equal to an uninterrupted
    run part by part."""
    def parts(out):
        return {
            r["part_id"]: (r["fingerprint"], r["encoded_bytes"])
            for r in spark.read.parquet(f"{out}/checkpoint").collect()
        }

    out = str(tmp_path / "enc")
    m1 = encode_parquet(spark, src, out, resume=False)
    full = parts(out)
    drop_committed_parts(out, [1, 3])
    m2 = encode_parquet(spark, src, out, resume=True)
    assert m2["skipped_parts"] == m1["parts"] - 2
    assert m2["rows"] == N
    assert parts(out) == full


def test_mode_mismatch_with_salted_raises(spark, src, tmp_path):
    """Resuming a source_direct output as salted raises: the stored done
    ids hold only under the mode that wrote them.  The refusal comes
    before the hot plan's key-count job, so no Spark job runs."""
    sc = spark.sparkContext
    out = str(tmp_path / "enc")
    encode_parquet(spark, src, out, resume=False)
    try:
        sc.setJobGroup("salted-refused", "refused salted resume")
        with pytest.raises(
            ValueError, match="partitioning parameters changed.*salted_direct"
        ):
            encode_parquet(spark, src, out, resume=True, partitioning="salted")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    assert sc.statusTracker().getJobIdsForGroup("salted-refused") == []


@pytest.mark.parametrize("typ", ["uint8", "uint16"])
def test_encode_refuses_type_decode_cannot_emit(spark, tmp_path, typ):
    """A source column whose type decode could never emit (Spark has no
    unsigned integers) is refused on the driver, naming the column and
    the type, before any checkpoint or block file is written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    pq.write_table(
        pa.table({
            "url": ["http://a.example/", "http://b.example/"],
            "x": pa.array([1, 2], type=getattr(pa, typ)()),
        }),
        str(src_dir / "part-0.parquet"),
    )
    out = tmp_path / "enc"
    with pytest.raises(
        ValueError, match=f"unsupported logical type '{typ}' of column 'x'"
    ):
        encode_parquet(spark, str(src_dir), str(out), resume=False)
    assert not (out / "checkpoint").exists()
    assert not (out / "blocks").exists()


def _block_digests(out: str) -> dict[str, str]:
    """sha256 of every block file under ``out``, by part dir."""
    blocks = os.path.join(out, "blocks")
    digests = {}
    for part in sorted(os.listdir(blocks)):
        with open(os.path.join(blocks, part, "data.parquet"), "rb") as f:
            digests[part] = hashlib.sha256(f.read()).hexdigest()
    return digests


def test_deterministic_blocks_across_runs(spark, src, tmp_path):
    """Block files are a pure function of input content: two fresh
    encodes write byte-identical files, so a retried task's last
    replace is safe.  A salted run whose hot plan is empty is the same
    kernel over the same splits, so it writes the same files as
    source-direct."""
    out1 = str(tmp_path / "e1")
    out2 = str(tmp_path / "e2")
    out3 = str(tmp_path / "e3")
    encode_parquet(spark, src, out1, resume=False)
    encode_parquet(spark, src, out2, resume=False)
    m3 = encode_parquet(spark, src, out3, resume=False,
                        partitioning="salted", min_hot_rows=10**9)
    assert m3["hot_parts"] == 0
    want = _block_digests(out1)
    assert len(want) == 5
    assert _block_digests(out2) == want
    assert _block_digests(out3) == want


def test_salted_direct_roundtrip_and_skew_routing(spark, src, tmp_path):
    """SALTED-DIRECT hybrid (round-5 verdict item 2): hot url-host rows
    spill to negative salt-bucket part ids and encode in a second
    source-direct pass; the multiset of decoded rows is identical to the
    plain source-direct encode, every hot bucket is right-sized, and the
    LPT bin plumbing carries through both passes."""
    out = str(tmp_path / "salt")
    m = encode_parquet(
        spark, src, out, resume=False, parallelism=2,
        partitioning="salted", min_hot_rows=500, hot_factor=0.5,
    )
    assert m["rows"] == N
    # the Zipfian fixture has hot hosts above N/5 rows -> a real hot set
    assert m["hot_keys"] >= 1 and m["hot_parts"] >= m["hot_keys"]
    # both passes time their split reads like source-direct does
    assert m["task_stage_s"]["rfetch"] > 0
    assert m["task_stage_s"]["rparse"] > 0
    # negative (hot) part dirs exist on disk
    hot_dirs = [
        d for d in os.listdir(os.path.join(out, "blocks"))
        if d.startswith("part_id=-")
    ]
    assert hot_dirs, "expected hot salt-bucket partitions"
    # spill is cleaned up after full commit
    assert not os.path.exists(os.path.join(out, "hot_spill"))
    # decoded content identical to plain source-direct
    dec = decode_blocks(spark, out)
    s = spark.read.parquet(src)
    key = F.md5(
        F.concat_ws("|", "url", F.col("warc_ts").cast("string"),
                    F.col("html").cast("string"), "text", "lang")
    ).alias("h")
    a = s.select(key).groupBy("h").count()
    b = dec.select(key).groupBy("h").count()
    assert dec.count() == N
    assert a.join(b, ["h", "count"]).count() == a.count()
    # no hot partition is oversized: every bucket <= ~target (with the
    # 2% inflation margin and integer rounding slack)
    import pyarrow.dataset as ds

    t = ds.dataset(
        os.path.join(out, "checkpoint"), format="parquet"
    ).to_table(columns=["part_id", "n_rows"])
    rows_by_part = dict(
        zip(t.column("part_id").to_pylist(), t.column("n_rows").to_pylist())
    )
    target = N // 5
    for pid, n in rows_by_part.items():
        if pid < 0:
            assert n <= target * 1.6, (pid, n, target)


def test_decode_blocks_matches_source(spark, src, tmp_path):
    """The per-part-file decode of a hybrid output (negative hot part
    ids) returns exactly the source rows — full table, a column subset
    packed into fewer tasks than parts, and a part filter."""
    out = str(tmp_path / "enc")
    encode_parquet(spark, src, out, resume=False, partitioning="salted",
                   min_hot_rows=500, hot_factor=0.5)
    source = spark.read.parquet(src)

    def sorted_pdf(df):
        p = df.toPandas()
        cols = sorted(p.columns)
        return p[cols].sort_values(cols).reset_index(drop=True)

    assert sorted_pdf(decode_blocks(spark, out)).equals(sorted_pdf(source))
    # column subset, packed into fewer tasks than parts
    c = decode_blocks(spark, out, columns=["url", "lang"], parallelism=2)
    assert c.columns == ["url", "lang"]
    assert sorted_pdf(c).equals(sorted_pdf(source.select("url", "lang")))
    # part filter (one negative hot id): that part's rows only
    hot = [
        int(d.split("=")[1])
        for d in os.listdir(os.path.join(out, "blocks"))
        if d.startswith("part_id=-")
    ]
    one = decode_blocks(spark, out, parts=[hot[0]])
    assert 0 < one.count() < N
    assert one.exceptAll(source).count() == 0
    # missing column raises
    with pytest.raises(ValueError, match="not in manifest"):
        decode_blocks(spark, out, columns=["nope"])


def test_salted_direct_resume_after_pass1_crash(
    spark, src, tmp_path, monkeypatch
):
    """Kill the job between the cold commit and the hot pass: the spill
    and the cold checkpoint rows persist, and a resume completes ONLY
    the hot buckets — the two-commit structure's whole point."""
    import nem_mms_spark.checkpoint as ckpt_mod

    out = str(tmp_path / "s")
    orig = ckpt_mod.commit_checkpoint_rows
    calls = []

    def crash_after_first(rows, out_dir):
        orig(rows, out_dir)
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("injected crash after cold commit")

    monkeypatch.setattr(ckpt_mod, "commit_checkpoint_rows", crash_after_first)
    with pytest.raises(RuntimeError, match="injected crash"):
        encode_parquet(
            spark, src, out, resume=False, partitioning="salted",
            min_hot_rows=500, hot_factor=0.5,
        )
    monkeypatch.setattr(ckpt_mod, "commit_checkpoint_rows", orig)
    # the spill survived the crash (it is the hot pass's input)
    assert os.path.isdir(os.path.join(out, "hot_spill"))
    m = encode_parquet(
        spark, src, out, resume=True, partitioning="salted",
        min_hot_rows=500, hot_factor=0.5,
    )
    # every cold file part was committed before the crash -> skipped
    assert m["skipped_parts"] == 5
    assert m["rows"] == N
    # full commit -> spill cleaned, decode complete
    assert not os.path.exists(os.path.join(out, "hot_spill"))
    assert decode_blocks(spark, out).count() == N


def test_salted_direct_resume_noop_and_content_determinism(
    spark, src, tmp_path
):
    """Two fresh salted encodes write byte-identical block files, hot
    buckets included; a resume of a complete output encodes nothing."""
    o1 = str(tmp_path / "s1")
    o2 = str(tmp_path / "s2")
    m1 = encode_parquet(spark, src, o1, resume=False, partitioning="salted",
                        min_hot_rows=500, hot_factor=0.5)
    encode_parquet(spark, src, o2, resume=False, partitioning="salted",
                   min_hot_rows=500, hot_factor=0.5)
    assert m1["hot_parts"] > 0
    digests = _block_digests(o1)
    assert len(digests) == m1["parts"]
    assert _block_digests(o2) == digests
    m3 = encode_parquet(spark, src, o1, resume=True, partitioning="salted",
                        min_hot_rows=500, hot_factor=0.5)
    assert m3["skipped_parts"] == m1["parts"]
    # mode switch on resume raises (meta guard covers salted_direct too)
    with pytest.raises(ValueError, match="partitioning parameters changed"):
        encode_parquet(spark, src, o1, resume=True)


def test_parallelism_bins_identical_output(spark, src, tmp_path):
    """LPT task bins cap concurrency without changing the result: the
    checkpoint rows (fingerprints, byte counts, part ids) and block
    content are bit-identical at parallelism=2 vs one task per file."""
    import pyarrow.dataset as ds

    def ckpt_content(root):
        t = ds.dataset(
            os.path.join(root, "checkpoint"), format="parquet"
        ).to_table(columns=["part_id", "fingerprint", "encoded_bytes", "n_rows"])
        return sorted(zip(*[t.column(c).to_pylist() for c in t.column_names]))

    out_full = str(tmp_path / "full")
    out_p2 = str(tmp_path / "p2")
    m_full = encode_parquet(spark, src, out_full, resume=False, parallelism=5)
    m_p2 = encode_parquet(spark, src, out_p2, resume=False, parallelism=2)
    assert m_full["rows"] == m_p2["rows"]
    assert ckpt_content(out_full) == ckpt_content(out_p2)


def _stage_tasks(spark, group: str) -> list[tuple[str, int]]:
    """(name, task count) of every stage the job group ran."""
    st = spark.sparkContext.statusTracker()
    stages = {
        sid
        for j in st.getJobIdsForGroup(group)
        for sid in st.getJobInfo(j).stageIds
    }
    return [
        (si.name, si.numTasks)
        for si in map(st.getStageInfo, sorted(stages))
        if si is not None
    ]


def test_parallelism_is_the_task_count(spark, src, tmp_path):
    """``parallelism`` is the number of kernel tasks, not a concurrency
    cap over finer bins: 5 files at parallelism=2 encode in exactly 2
    tasks, and a decode left at the default runs at most the session's
    defaultParallelism tasks."""
    sc = spark.sparkContext
    out = str(tmp_path / "enc")
    try:
        sc.setJobGroup("bins-encode", "encode_parquet at parallelism=2")
        encode_parquet(spark, src, out, resume=False, parallelism=2)
        kernel = [
            n for name, n in _stage_tasks(spark, "bins-encode")
            if "encode.py" in name
        ]
        assert kernel == [2]

        sc.setJobGroup("bins-decode", "decode_blocks at default")
        decode_blocks(spark, out).write.format("noop").mode(
            "overwrite"
        ).save()
        tasks = [n for _name, n in _stage_tasks(spark, "bins-decode")]
        assert tasks and max(tasks) <= sc.defaultParallelism
        assert sum(tasks) == min(5, sc.defaultParallelism)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_driver_metadata_reads_submit_no_job(spark, src, tmp_path):
    """The source schema and the checkpoint's done ids are read on the
    driver with pyarrow, so a fresh source-direct encode submits only its
    kernel job, resuming a fully committed output submits none, and
    salted submits its hot-key count plus its two encode passes."""
    sc = spark.sparkContext
    st = sc.statusTracker()

    def jobs(group, out, **kw):
        try:
            sc.setJobGroup(group, "encode_parquet")
            m = encode_parquet(spark, src, out, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
        return m, len(st.getJobIdsForGroup(group))

    out = str(tmp_path / "enc")
    m, n_jobs = jobs("jobs-fresh", out)
    assert m["rows"] == N and n_jobs == 1
    m, n_jobs = jobs("jobs-resume", out)
    assert m["skipped_parts"] == 5 and n_jobs == 0
    m, n_jobs = jobs(
        "jobs-salted", str(tmp_path / "salt"), resume=False,
        partitioning="salted", min_hot_rows=500, hot_factor=0.5,
    )
    assert m["hot_parts"] > 0 and n_jobs == 3
