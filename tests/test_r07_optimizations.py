"""Round-7 optimization contracts: distributed hot-detection branch,
task-bin concurrency cap, survivor-map broadcast + weak selectivity,
_host_of fast/regex parity, fold-kernel bit-exactness, candidate-pair
plan equivalences."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from nem_mms_spark.functions import similarity as S
from nem_mms_spark.jobs.encode import encode_parquet

N = 6000
SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def src(spark, tmp_path_factory):
    from nem_mms_spark.datagen import web_pages_df

    d = str(tmp_path_factory.mktemp("r07") / "pages")
    web_pages_df(spark, N, num_partitions=5).write.mode("overwrite").parquet(d)
    return d


def _ckpt_fingerprints(out: str) -> dict[int, int]:
    import pyarrow.dataset as ds

    t = ds.dataset(
        os.path.join(out, "checkpoint"), format="parquet"
    ).to_table(columns=["part_id", "fingerprint", "n_rows"])
    return {
        pid: (fp, nr)
        for pid, fp, nr in zip(
            t.column("part_id").to_pylist(),
            t.column("fingerprint").to_pylist(),
            t.column("n_rows").to_pylist(),
        )
    }


def test_hot_detection_distributed_branch_matches_counter(
    spark, src, tmp_path, monkeypatch
):
    """Verdict item 3: above ``HOT_COLLECT_ROWS``, hot detection merges
    its key counts with a distributed reduceByKey whose collect is
    bounded by rows/min_hot_rows.  The hot plan — and therefore every
    output partition — must be identical to the driver-Counter branch."""
    from nem_mms_spark.jobs import encode as encode_mod

    kw = dict(
        resume=False, parallelism=2, partitioning="salted",
        min_hot_rows=500, hot_factor=0.5,
    )
    out_a = str(tmp_path / "counter")
    m_a = encode_parquet(spark, src, out_a, **kw)
    assert m_a["hot_keys"] > 0
    monkeypatch.setattr(encode_mod, "HOT_COLLECT_ROWS", 0)  # distributed
    out_b = str(tmp_path / "grouped")
    m_b = encode_parquet(spark, src, out_b, **kw)
    assert m_b["hot_keys"] == m_a["hot_keys"]
    assert m_b["hot_parts"] == m_a["hot_parts"]
    assert m_b["hot_rows"] == m_a["hot_rows"]
    assert _ckpt_fingerprints(out_b) == _ckpt_fingerprints(out_a)


def test_parallelism_bins_cap_concurrent_parts(spark, src, tmp_path):
    """``parallelism`` is the task count, and a task encodes its bin's
    files one after another, so no more than ``parallelism`` parts are
    ever being encoded at once — even on a session with more slots.
    Asserted from the returned per-part timeline."""
    out = str(tmp_path / "enc")
    m = encode_parquet(spark, src, out, resume=False, parallelism=2)
    tl = m["timeline"]
    assert len(tl) == 5
    events = sorted(
        [(t["start_s"], 1) for t in tl] + [(t["end_s"], -1) for t in tl]
    )
    cur = peak = 0
    for _t, d in events:
        cur += d
        peak = max(peak, cur)
    assert peak <= 2, (peak, tl)


def test_scan_blocks_weak_selectivity_broadcast_map(spark, tmp_path):
    """Verdict item 4: the zone-map survivor map rides a Spark broadcast
    variable, and a weakly-selective predicate (most blocks survive)
    still returns exactly the source-table filter result."""
    from nem_mms_spark.jobs.decode import scan_blocks
    from nem_mms_spark.jobs.encode import encode_parquet

    docs_file = f"{SF_SMALL}/documents.parquet"
    docs = spark.read.parquet(docs_file)
    out = str(tmp_path / "enc")
    encode_parquet(
        spark, [docs_file], out, key_col="doc_id", sort_cols=["n_chars"],
        resume=False,
    )
    lo, hi = 10, 10_000  # survives nearly every block
    got = (
        scan_blocks(spark, out, "n_chars", lo=lo, hi=hi)
        .groupBy("lang").agg(F.count("*").alias("n"))
    )
    want = (
        docs.filter(F.col("n_chars").between(lo, hi))
        .groupBy("lang").agg(F.count("*").alias("n"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_scan_blocks_empty_selection_returns_typed_empty(spark, tmp_path):
    """r6 ADVICE: a parts/block_ids filter that leaves nothing must
    yield an empty typed DataFrame, not an ArrowInvalid from
    ds.dataset([])."""
    from nem_mms_spark.jobs.decode import decode_blocks
    from nem_mms_spark.jobs.encode import encode_parquet

    docs_file = f"{SF_SMALL}/documents.parquet"
    docs = spark.read.parquet(docs_file)
    out = str(tmp_path / "enc")
    encode_parquet(spark, [docs_file], out, key_col="doc_id", resume=False)
    empty = decode_blocks(spark, out, parts=[99_999])
    assert empty.count() == 0
    assert set(empty.columns) == set(docs.columns)


def test_host_of_fast_and_regex_paths_agree(spark):
    """r6 ADVICE: userinfo/port must not leak into the fast path's host
    key — both paths now strip them, so a url's host (and therefore its
    hot-spill routing) no longer depends on which path its batch took."""
    import pyarrow as pa

    from nem_mms_spark.jobs.encode import _HOST_RE, _host_of

    urls = [
        "http://plain.example.com/a/b",
        "https://user@auth.example.com/x",
        "http://ported.example.com:8080/y",
        "ftp://u:pw@both.example.com:21/z",
        "http://a@b@last.example.com/w",
    ]
    fast = _host_of(pa.array(urls)).to_pylist()
    import pyarrow.compute as pc

    rex = pc.struct_field(
        pc.extract_regex(pa.array(urls), _HOST_RE), "host"
    ).to_pylist()
    assert fast == rex
    assert fast == [
        "plain.example.com", "auth.example.com", "ported.example.com",
        "both.example.com", "last.example.com",
    ]


def test_fold_kernel_matches_catalyst_fold_bits(spark):
    """The r7 numpy fold kernel must reproduce Catalyst's
    F.aggregate(zip_with(...)) left fold BIT-exactly (not approximately):
    same multiply/add sequence per IEEE-754."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    planes = S.hyperplanes(64, 8, seed=123)
    exprs = [
        S._dot(
            F.col("embedding"),
            F.array(*[F.lit(float(x)) for x in p]),
        ).alias(f"d{i}")
        for i, p in enumerate(planes)
    ]
    rows = emb.select("vec_id", *exprs).orderBy("vec_id").collect()
    want = np.array([[r[f"d{i}"] for i in range(8)] for r in rows])

    vec_rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    mat = np.array([list(r["embedding"]) for r in vec_rows], dtype=np.float64)
    got = S._fold_dots(mat, np.ascontiguousarray(planes.T))
    assert got.shape == want.shape
    # bitwise equality, not closeness
    assert np.array_equal(got, want), np.max(np.abs(got - want))


def test_banded_pairs_distinct_false_same_set(spark):
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    dist = {
        (r["vec_a"], r["vec_b"])
        for r in S.banded_candidate_pairs(emb, seed=11).collect()
    }
    raw = [
        (r["vec_a"], r["vec_b"])
        for r in S.banded_candidate_pairs(
            emb, seed=11, distinct=False
        ).collect()
    ]
    assert set(raw) == dist
    assert len(raw) >= len(dist)


def cosine_pairs_topk(
    embeddings, pairs, k: int = 20, id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Unfused oracle for ``banded_cosine_topk``: exact fold-cosine on a
    (vec_a, vec_b) candidate set -> top-k.  The vector table is gathered
    once driver-side and broadcast as a packed matrix + fold-norms; each
    task deduplicates its pairs, scores them and keeps its local top-k
    under the total order (cosine desc, vec_a, vec_b).  Cross-task
    duplicates score identically, so distinct-of-local-top-ks followed by
    the global top-k returns exactly the full-set top-k, and pairs may
    arrive with multiplicity (once per colliding band)."""
    import pyarrow as pa

    ids, mat, norms = S._gather_vectors(embeddings, id_col, vec_col)
    bc = embeddings.sparkSession.sparkContext.broadcast((ids, mat, norms))

    def topk_stream(batches):
        g_ids, g_mat, g_norms = bc.value
        acc_a: list[np.ndarray] = []
        acc_b: list[np.ndarray] = []
        acc_c: list[np.ndarray] = []

        def dedup(a, b, c):
            # first occurrence per (a, b); duplicates carry identical c
            order = np.lexsort((b, a))
            a, b, c = a[order], b[order], c[order]
            first = np.empty(len(a), dtype=bool)
            first[0] = True
            np.logical_or(
                a[1:] != a[:-1], b[1:] != b[:-1], out=first[1:]
            )
            return a[first], b[first], c[first]

        def topk(a, b, c):
            order = np.lexsort((b, a, -c))[:k]
            return a[order], b[order], c[order]

        for batch in batches:
            a = batch.column("vec_a").to_numpy(zero_copy_only=False)
            b = batch.column("vec_b").to_numpy(zero_copy_only=False)
            if len(a) == 0:
                continue
            # in-batch dedup (keeps the local-top-k containment argument
            # exact when pairs arrive once per colliding band)
            order = np.lexsort((b, a))
            a, b = a[order], b[order]
            first = np.empty(len(a), dtype=bool)
            first[0] = True
            np.logical_or(a[1:] != a[:-1], b[1:] != b[:-1], out=first[1:])
            a, b = a[first], b[first]
            ia = np.searchsorted(g_ids, a)
            ib = np.searchsorted(g_ids, b)
            ma = np.ascontiguousarray(g_mat[ia])
            mb = np.ascontiguousarray(g_mat[ib])
            dot = S._fold_pair_dots(ma, mb)
            cos = dot / (g_norms[ia] * g_norms[ib])
            ta, tb, tc = topk(a, b, cos)
            acc_a.append(ta)
            acc_b.append(tb)
            acc_c.append(tc)
        if acc_a:
            a = np.concatenate(acc_a)
            b = np.concatenate(acc_b)
            c = np.concatenate(acc_c)
            # the same pair can reach this task in TWO batches (one per
            # colliding band): dedup before the merged top-k, or
            # duplicate rows crowd distinct pairs out of the k slots
            a, b, c = dedup(a, b, c)
            a, b, c = topk(a, b, c)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(a, type=pa.int64()),
                    pa.array(b, type=pa.int64()),
                    pa.array(c, type=pa.float64()),
                ],
                names=["vec_a", "vec_b", "_cos"],
            )

    local = pairs.select("vec_a", "vec_b").mapInArrow(
        topk_stream, "vec_a long, vec_b long, _cos double"
    )
    return (
        local.distinct()
        .orderBy(F.desc("_cos"), "vec_a", "vec_b")
        .limit(k)
        .select("vec_a", "vec_b", F.round("_cos", 4).alias("cosine"))
    )


def test_banded_cosine_topk_matches_unfused_path(spark):
    """The fused bucket-Gram top-k (BLAS prescreen + fold-exact rescore)
    must return exactly what candidate-set + cosine_pairs_topk does."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    cand = S.banded_candidate_pairs(emb, seed=11)
    want = [tuple(r) for r in cosine_pairs_topk(emb, cand, k=20).collect()]
    got = [
        tuple(r)
        for r in S.banded_cosine_topk(emb, k=20, seed=11).collect()
    ]
    assert got == want
    assert len(got) == 20


def test_banded_cosine_topk_respects_bucket_cap(spark, clustered_embeddings):
    """max_bucket drops mega-buckets BEFORE scoring in the fused path,
    same as the candidate-set path."""
    cand = S.banded_candidate_pairs(
        clustered_embeddings, seed=11, max_bucket=30
    )
    want = [
        tuple(r)
        for r in cosine_pairs_topk(
            clustered_embeddings, cand, k=10
        ).collect()
    ]
    got = [
        tuple(r)
        for r in S.banded_cosine_topk(
            clustered_embeddings, k=10, seed=11, max_bucket=30
        ).collect()
    ]
    assert got == want


@pytest.fixture(scope="module")
def clustered_embeddings(spark):
    """60 near-identical vectors (band buckets collide) + 40 spread."""
    rng = np.random.default_rng(3)
    base = rng.standard_normal(64)
    rows = []
    for i in range(60):
        v = base + 1e-4 * rng.standard_normal(64)
        rows.append((i, [float(x) for x in v]))
    for i in range(60, 100):
        rows.append((i, [float(x) for x in rng.standard_normal(64)]))
    return spark.createDataFrame(
        rows, schema="vec_id long, embedding array<float>"
    )


def test_triangle_chunks_cover_triangle_exactly():
    """Bounded-chunk triangle enumeration must emit every i<k pair
    exactly once, at any chunk bound (incl. the one-shot small path)."""
    for b in [0, 1, 2, 3, 5, 37, 100]:
        want = set(zip(*np.triu_indices(b, 1)))
        for mp in [3, 10, 64, 1 << 30]:
            got = []
            for i0, i1 in S._triangle_chunks(b, mp):
                assert (i0 < i1).all()
                got += list(zip(i0.tolist(), i1.tolist()))
            assert len(got) == len(set(got)) == len(want)
            assert set(got) == want


def test_cosine_pairs_topk_handles_duplicate_pairs(spark):
    """cosine_pairs_topk dedups per task + final distinct: feeding the
    raw (per-band) candidate stream returns the identical top-k as the
    pre-distincted stream."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    dist = S.banded_candidate_pairs(emb, seed=11)
    raw = S.banded_candidate_pairs(emb, seed=11, distinct=False)
    a = [tuple(r) for r in cosine_pairs_topk(emb, dist, k=20).collect()]
    b = [tuple(r) for r in cosine_pairs_topk(emb, raw, k=20).collect()]
    assert a == b
    assert len(a) > 0


def _pair_sets(spark):
    """The fold and matmul candidate pair sets of SF_SMALL's embeddings,
    materialized independently of banded_matmul_parity's plan."""
    from nem_mms_spark import queries as Q

    kw = dict(
        n_bands=Q._PAIR_BANDS, band_bits=Q._PAIR_BAND_BITS,
        seed=Q._PAIR_SEED, distinct=False,
    )
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    return [
        {
            (r.vec_a, r.vec_b)
            for r in S.banded_candidate_pairs(emb, method=m, **kw).collect()
        }
        for m in ("fold", "matmul")
    ]


def test_banded_matmul_parity_matches_pair_level_set_algebra(spark):
    """banded_matmul_parity must return the pair-level set algebra:
    n_pairs = |fold pair set| and n_sym_diff = |fold set ^ matmul set|,
    recomputed here independently by materializing both sets."""
    from nem_mms_spark import queries as Q

    res = Q.banded_matmul_parity(spark, SF_SMALL).collect()[0]
    fold, mm = _pair_sets(spark)
    assert res.n_pairs == len(fold) > 0
    assert res.n_sym_diff == len(fold ^ mm)


@pytest.mark.parametrize("perturbation", ["flip", "drop"])
def test_banded_parity_fallback_on_sig_divergence(
    spark, monkeypatch, perturbation
):
    """When the matmul sig table diverges — one (vec 0, band 0) sig
    flipped, or that row missing from the matmul side — the query must
    report the TRUE counts for the perturbed engine path, not zero."""
    from nem_mms_spark import queries as Q

    orig = S._band_sigs

    def perturbed(
        embeddings, planes, n_bands, band_bits, id_col, vec_col, exact
    ):
        out = orig(
            embeddings, planes, n_bands, band_bits, id_col, vec_col, exact
        )
        if exact:
            return out
        row00 = (F.col(id_col) == 0) & (F.col("band") == 0)
        if perturbation == "drop":
            return out.filter(~row00)
        return out.withColumn(
            "sig", F.when(row00, F.col("sig") + 1).otherwise(F.col("sig"))
        )

    monkeypatch.setattr(S, "_band_sigs", perturbed)
    res = Q.banded_matmul_parity(spark, SF_SMALL).collect()[0]
    fold, mm = _pair_sets(spark)
    assert res.n_pairs == len(fold)
    assert res.n_sym_diff == len(fold ^ mm) > 0


def test_sort_by_unless_sorted_matches_sort_by():
    """The monotonicity skip must be byte-identical to sort_by on every
    shape: strictly sorted (skip path), ties, unsorted, nulls, NaN,
    floats, multi-key, and trivial sizes."""
    import pyarrow as pa

    from nem_mms_spark.jobs.encode import _sort_by_unless_sorted

    cases = [
        ({"k": [1, 2, 3, 5], "v": ["a", "b", "c", "d"]}, ["k"]),
        ({"k": [1, 2, 2, 5], "v": ["a", "b", "c", "d"]}, ["k"]),  # ties
        ({"k": [5, 1, 3, 2], "v": ["a", "b", "c", "d"]}, ["k"]),  # unsorted
        ({"k": [1, None, 3, 4], "v": list("abcd")}, ["k"]),       # nulls
        ({"k": [1.0, float("nan"), 3.0], "v": list("abc")}, ["k"]),
        ({"k": [1.5, 2.5, 3.5], "v": list("abc")}, ["k"]),        # floats
        ({"k": [1, 1, 2], "j": [2, 1, 0], "v": list("abc")}, ["k", "j"]),
        ({"k": [7], "v": ["a"]}, ["k"]),
        ({"k": [], "v": []}, ["k"]),
    ]
    def canon(t):
        # NaN-tolerant row compare (Table.equals treats NaN != NaN)
        import math

        return [
            [
                "nan" if isinstance(x, float) and math.isnan(x) else x
                for x in row
            ]
            for row in zip(*t.to_pydict().values())
        ]

    for data, cols in cases:
        tbl = pa.table(data)
        want = tbl.sort_by([(c, "ascending") for c in cols])
        got = _sort_by_unless_sorted(tbl, cols)
        assert canon(got) == canon(want), (data, cols)
    # timestamp key (the ingest shape): strictly increasing -> identity
    import numpy as np

    ts = pa.array(np.arange(10, dtype="int64"), type=pa.timestamp("us"))
    tbl = pa.table({"warc_ts": ts, "v": [str(i) for i in range(10)]})
    assert _sort_by_unless_sorted(tbl, ["warc_ts"]) is tbl


def _exotic_keys():
    import datetime
    import decimal

    import pyarrow as pa

    d = decimal.Decimal
    day = datetime.date
    return {
        "list": pa.array([[1], [0], [2]]),
        "dictionary": pa.array(["b", "a", "c"]).dictionary_encode(),
        "month_day_nano_interval": pa.array(
            [pa.MonthDayNano([0, 1, 2]), pa.MonthDayNano([0, 0, 1])],
            type=pa.month_day_nano_interval(),
        ),
        "struct": pa.array([{"a": 2}, {"a": 1}, {"a": 3}]),
        "decimal": pa.array([d("1.5"), d("0.5"), d("2.5")]),
        "decimal_sorted": pa.array([d("0.5"), d("1.5"), d("2.5")]),
        "time": pa.array([datetime.time(1), datetime.time(0)]),
        "duration": pa.array([2, 1, 3], type=pa.duration("s")),
        "duration_sorted": pa.array([1, 2, 3], type=pa.duration("s")),
        "bool": pa.array([True, False, True]),
        "bool_sorted": pa.array([False, True]),
        "binary": pa.array([b"b", b"a", b"c"]),
        "tz_timestamp": pa.array([2, 1, 3], type=pa.timestamp("us", "UTC")),
        "tz_timestamp_sorted": pa.array(
            [1, 2, 3], type=pa.timestamp("us", "UTC")
        ),
        "date": pa.array([day(2020, 1, 2), day(2020, 1, 1)]),
        "date_sorted": pa.array([day(2020, 1, 1), day(2020, 1, 2)]),
        "all_null": pa.array([None, None, None], type=pa.int64()),
    }


@pytest.mark.parametrize("kind", sorted(_exotic_keys()))
def test_sort_by_unless_sorted_exotic_key_types(kind):
    """The monotonicity probe never raises on its own: for every key type
    the skip either returns ``sort_by``'s rows or fails exactly where
    ``sort_by`` itself fails (list, dictionary and interval keys cannot
    be sorted by pyarrow at all)."""
    import pyarrow as pa

    from nem_mms_spark.jobs.encode import _sort_by_unless_sorted

    key = _exotic_keys()[kind]
    tbl = pa.table({"k": key, "row": pa.array(range(len(key)))})
    try:
        want = tbl.sort_by([("k", "ascending")])
    except pa.ArrowException as exc:
        with pytest.raises(type(exc)):
            _sort_by_unless_sorted(tbl, ["k"])
        return
    got = _sort_by_unless_sorted(tbl, ["k"])
    assert got.column("row").to_pylist() == want.column("row").to_pylist()


def test_sort_probe_failure_of_any_kind_falls_through_to_sort_by():
    """A sortedness probe that fails with something other than an Arrow
    type error (here a RuntimeError from the key column's ``to_numpy``)
    still ends in the real ``sort_by``, never in the caller."""
    import pyarrow as pa

    from nem_mms_spark.jobs.encode import _sort_by_unless_sorted

    class _FailingProbe:
        """A table whose key column cannot be read as numpy."""

        def __init__(self, tbl):
            self.tbl = tbl
            self.column_names = tbl.column_names

        def column(self, name):
            col = self.tbl.column(name)

            class _Col:
                null_count = col.null_count

                def __len__(self):
                    return len(col)

                def to_numpy(self, zero_copy_only=True):
                    raise RuntimeError("probe failed")

            return _Col()

        def sort_by(self, keys):
            return self.tbl.sort_by(keys)

    tbl = pa.table({"k": [3, 1, 2], "v": list("abc")})
    got = _sort_by_unless_sorted(_FailingProbe(tbl), ["k"])
    assert got.to_pydict() == {"k": [1, 2, 3], "v": list("bca")}
