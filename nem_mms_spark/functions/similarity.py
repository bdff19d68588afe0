"""Similarity search over an embedding column (array<float>).

  brute-force cosine top-k  — exact baseline; cosines evaluated by the
                              numpy fold kernel (bit-exact with the SQL
                              oracle's list_dot_product left fold)
  LSH-bucketed ANN          — random-hyperplane signs -> bucket key;
                              candidates = same-bucket rows (scale path:
                              the full scan becomes a bucket-pruned scan)

The hyperplanes are derived deterministically from a seed (splitmix-style
per-dimension hash) so signatures are reproducible across engines/runs.

FOLD-ORDER BIT-EXACTNESS (the r7 optimization contract).  Every dot
product on the oracle-parity paths used to be a Catalyst
``F.aggregate(zip_with(...))`` left fold — interpreted per row, or (for
band signatures) a 64x posexplode + broadcast join + two shuffles kept
only to preserve float addition order.  A strict left fold is
reproducible in numpy: one rounded float64 multiply and one rounded add
per dimension, in ascending dimension order, starting from 0.0
(`_fold_dots` / `_fold_pair_dots` below).  IEEE-754 ops are
deterministic, so the numpy kernel returns the IDENTICAL bits as the
Catalyst fold and as DuckDB's ``list_dot_product`` — proven by operation
sequence, not just tested — while running vectorized across rows inside
one zero-shuffle ``mapInArrow`` pass.  numpy ufuncs do not fuse
multiply+add; a BLAS matmul (pairwise summation, may differ within
summation-ulp of zero) is deliberately reserved for the separate
``matmul`` engine path whose parity the ``banded_matmul_parity`` query
measures.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(col) -> "F.Column":
    return F.sqrt(
        F.aggregate(
            col,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


# ------------------------------------------------- numpy fold kernel


def _fold_dots(mat: np.ndarray, wt: np.ndarray) -> np.ndarray:
    """acc[i, p] = ((0.0 + x[i,0]*w[0,p]) + x[i,1]*w[1,p]) + ... —
    the strict left fold, vectorized across rows and planes.  One
    rounded float64 multiply and one rounded add per term in ascending
    dimension order: the identical IEEE-754 operation sequence as
    Catalyst's F.aggregate fold and DuckDB's list_dot_product, so the
    results are equal bit-for-bit.  ``mat`` is (n, dim) float64,
    ``wt`` is (dim, p) float64."""
    n, dim = mat.shape
    p = wt.shape[1]
    acc = np.zeros((n, p), dtype=np.float64)
    tmp = np.empty((n, p), dtype=np.float64)
    for d in range(dim):
        np.multiply(mat[:, d, None], wt[None, d, :], out=tmp)
        np.add(acc, tmp, out=acc)
    return acc


def _fold_pair_dots(ma: np.ndarray, mb: np.ndarray) -> np.ndarray:
    """Elementwise-row left-fold dot: acc[i] = fold_d(ma[i,d]*mb[i,d]).
    Same bit-exactness contract as `_fold_dots`."""
    n, dim = ma.shape
    acc = np.zeros(n, dtype=np.float64)
    tmp = np.empty(n, dtype=np.float64)
    for d in range(dim):
        np.multiply(ma[:, d], mb[:, d], out=tmp)
        np.add(acc, tmp, out=acc)
    return acc


def _vec_matrix(lv, dim: int) -> np.ndarray:
    """Arrow list<float|double> array -> (n, dim) float64 matrix (the
    float32 -> float64 widening is exact, same as Catalyst's
    cast(array<double>))."""
    vals = np.asarray(lv.flatten().to_numpy(zero_copy_only=False))
    return vals.astype(np.float64, copy=False).reshape(len(lv), dim)


def _gather_vectors(embeddings: DataFrame, id_col: str, vec_col: str):
    """Driver-side gather of (ids, matrix, fold-norms), sorted by id —
    the packed-numpy equivalent of the JVM broadcast-hash-join build
    side the old per-pair plan shipped TWICE (once per join).  Same
    data volume as that broadcast relation; the candidate-pair stream
    then carries 16 bytes/row instead of two vectors + norms (guide
    §2.3/§8: shuffle keys, move payloads once)."""
    tbl = embeddings.select(id_col, vec_col).toArrow()
    ids = np.asarray(tbl.column(id_col).to_numpy(zero_copy_only=False))
    lv = tbl.column(vec_col).combine_chunks()
    dim = len(lv[0]) if len(lv) else 0
    mat = _vec_matrix(lv, dim)
    order = np.argsort(ids, kind="stable")
    ids = np.ascontiguousarray(ids[order])
    mat = np.ascontiguousarray(mat[order])
    norms = np.sqrt(_fold_pair_dots(mat, mat))
    return ids, mat, norms


def brute_force_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k (deterministic ties via id).

    r7: the per-row interpreted Catalyst folds became one mapInArrow
    pass through the numpy fold kernel — identical bits (dot and norm
    are the same left folds; qn, the query norm, is the same
    driver-side np.sum constant as before), identical ordering and
    rounding, zero shuffle (orderBy+limit is TakeOrdered)."""
    q = np.ascontiguousarray(np.asarray(query, dtype=np.float64))
    qn = float(np.sqrt(np.sum(np.asarray(query, dtype=np.float64) ** 2)))
    dim = len(q)

    import pyarrow as pa

    def score(batches):
        wt = np.ascontiguousarray(q[:, None])
        for batch in batches:
            lv = batch.column(vec_col)
            if len(lv) == 0:
                continue
            mat = _vec_matrix(lv, dim)
            dot = _fold_dots(mat, wt)[:, 0]
            den = np.sqrt(_fold_pair_dots(mat, mat)) * qn
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(id_col),
                    pa.array(dot / den, type=pa.float64()),
                ],
                names=[id_col, "_cos"],
            )

    scored = embeddings.select(id_col, vec_col).mapInArrow(
        score, f"{id_col} long, _cos double"
    )
    return (
        scored.orderBy(F.desc("_cos"), F.col(id_col))
        .limit(k)
        .select(id_col, F.round("_cos", 4).alias("cosine"))
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_bucket_col(vec_col, planes: np.ndarray):
    """Sign-bit bucket id from random hyperplanes (JVM-side dot products).
    Reference Catalyst-fold column; the engine paths compute the same
    signs via the bit-exact numpy fold kernel (parity pinned by
    test_materialize_buckets_matches_catalyst_fold_column)."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        arr = F.array(*[F.lit(float(x)) for x in p])
        bucket = bucket + F.when(
            _dot(vec_col, arr) > 0, F.lit(1 << i)
        ).otherwise(F.lit(0).cast("long"))
    return bucket


def _fold_sigs(mat: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """Fold-order sign buckets for an (n, dim) matrix: bit i set iff the
    left-fold dot with plane i is > 0 (bit-exact with lsh_bucket_col)."""
    wt = np.ascontiguousarray(planes.astype(np.float64).T)
    dots = _fold_dots(mat, wt)
    pows = 1 << np.arange(planes.shape[0], dtype=np.int64)
    return (dots > 0).astype(np.int64) @ pows


def multiprobe_buckets(
    query: list[float], planes: np.ndarray, n_probes: int
) -> list[int]:
    """Probe sequence: the query's exact bucket plus single-bit flips of
    the ``n_probes`` planes with the smallest |margin| (the planes the
    query sits closest to — where a true neighbor most likely landed on
    the other side).  r7: the margins are evaluated with the numpy fold
    kernel — the same float64 values, bit-for-bit, as the Catalyst fold
    expressions this used to run as a one-row Spark job (and as the SQL
    replication's list_dot_product), so the probe set is unchanged while
    no Spark job runs at all."""
    q = np.asarray(query, dtype=np.float64)[None, :]
    wt = np.ascontiguousarray(planes.astype(np.float64).T)
    dots = _fold_dots(q, wt)[0]
    pows = 1 << np.arange(planes.shape[0], dtype=np.int64)
    sig = int(((dots > 0).astype(np.int64) * pows).sum())
    order = sorted(range(len(planes)), key=lambda i: (abs(dots[i]), i))
    return [sig] + [sig ^ (1 << i) for i in order[:n_probes]]


def multiprobe_buckets_np(
    query: list[float], planes: np.ndarray, n_probes: int
) -> list[int]:
    """Matmul twin of ``multiprobe_buckets`` for the engine path: BLAS
    dots (pairwise summation), same probe-selection rule (smallest
    |margin| planes first, plane index as tiebreak).  Signs match the
    fold except when a dot product sits within float-summation ulp of
    zero — measure-zero for real embeddings (parity-tested)."""
    q = np.asarray(query, dtype=np.float64)
    dots = planes.astype(np.float64) @ q
    sig = int(np.sum((dots > 0) * (1 << np.arange(len(planes), dtype=np.int64))))
    order = sorted(range(len(planes)), key=lambda i: (abs(dots[i]), i))
    return [sig] + [sig ^ (1 << i) for i in order[:n_probes]]


def materialize_buckets(
    embeddings: DataFrame,
    n_planes: int = 8,
    seed: int = 7,
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
) -> DataFrame:
    """PRECOMPUTE the LSH bucket column in one zero-shuffle mapInArrow
    numpy matmul pass — the persisted-bucket API ``lsh_topk``'s docstring
    promises: write this out partitioned/bucketed by ``bucket_col`` once,
    then every query is an (n_probes+1)-bucket pruned scan via
    ``lsh_topk(..., precomputed=...)`` instead of an interpreted per-row
    fold over the full table."""
    import pyarrow as pa

    from pyspark.sql.types import LongType, StructField, StructType

    dim = _dim_of(embeddings, vec_col)
    planes = hyperplanes(dim, n_planes, seed)
    out_schema = StructType(
        embeddings.schema.fields + [StructField(bucket_col, LongType())]
    )

    def tag(batches):
        weights = np.ascontiguousarray(planes.astype(np.float64).T)
        pows = 1 << np.arange(n_planes, dtype=np.int64)
        for batch in batches:
            lv = batch.column(vec_col)
            if len(lv) == 0:
                continue
            mat = _vec_matrix(lv, dim)
            bucket = ((mat @ weights) > 0).astype(np.int64) @ pows
            yield batch.append_column(
                bucket_col, pa.array(bucket, type=pa.int64())
            )

    return embeddings.mapInArrow(tag, out_schema)


def lsh_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    n_probes: int = 4,
    precomputed: DataFrame | None = None,
    bucket_col: str = "bucket",
) -> DataFrame:
    """ANN: restrict the exact scan to the query's LSH bucket plus the
    ``n_probes`` nearest sign-flip buckets (multi-probe: an empty or
    sparse exact bucket no longer silently shrinks the result — the
    single-probe recall hole from round 2).

    ``precomputed``: a table from ``materialize_buckets`` (same
    n_planes/seed) — the scale path: the bucket column is computed ONCE
    at ingest, the table is stored partitioned by it, and each query
    prunes to (n_probes+1) buckets with zero per-query signature work.
    Without it, r7 runs ONE mapInArrow pass that derives each row's
    fold-order bucket sign (bit-exact with the Catalyst fold the SQL
    oracle replicates), prunes to the probe set in-task, and scores the
    survivors — the same bucket signs, candidate set, cosines and
    ordering as the old two-step fold plan, in a single zero-shuffle
    scan.  Recall vs the exact scan is contract-checked by the
    ``ann_lsh_recall`` query.
    """
    planes = hyperplanes(len(query), n_planes, seed)
    if precomputed is not None:
        probes = multiprobe_buckets_np(query, planes, n_probes)
        cand = precomputed.filter(F.col(bucket_col).isin(probes))
        return brute_force_topk(cand, query, k, id_col, vec_col)
    probes = multiprobe_buckets(query, planes, n_probes)
    probe_arr = np.asarray(sorted(probes), dtype=np.int64)
    q = np.ascontiguousarray(np.asarray(query, dtype=np.float64))
    qn = float(np.sqrt(np.sum(np.asarray(query, dtype=np.float64) ** 2)))
    dim = len(q)

    import pyarrow as pa

    def scan(batches):
        wt = np.ascontiguousarray(q[:, None])
        for batch in batches:
            lv = batch.column(vec_col)
            if len(lv) == 0:
                continue
            mat = _vec_matrix(lv, dim)
            bucket = _fold_sigs(mat, planes)
            keep = np.flatnonzero(np.isin(bucket, probe_arr))
            if len(keep) == 0:
                continue
            sub = np.ascontiguousarray(mat[keep])
            dot = _fold_dots(sub, wt)[:, 0]
            den = np.sqrt(_fold_pair_dots(sub, sub)) * qn
            ids = batch.column(id_col).to_numpy(zero_copy_only=False)[keep]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, type=pa.int64()),
                    pa.array(dot / den, type=pa.float64()),
                ],
                names=[id_col, "_cos"],
            )

    scored = embeddings.select(id_col, vec_col).mapInArrow(
        scan, f"{id_col} long, _cos double"
    )
    return (
        scored.orderBy(F.desc("_cos"), F.col(id_col))
        .limit(k)
        .select(id_col, F.round("_cos", 4).alias("cosine"))
    )


def banded_candidate_pairs(
    embeddings: DataFrame,
    n_bands: int = 8,
    band_bits: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
    max_bucket: int | None = 100_000,
    method: str = "fold",
    distinct: bool = True,
) -> DataFrame:
    """LSH-banded candidate pairs for embedding near-dup (the MinHash-LSH
    band trick applied to sign-LSH): ``n_bands`` independent signatures of
    ``band_bits`` hyperplane sign bits each; two vectors are candidates if
    they collide in ANY band.  Pair work is O(sum of bucket^2 per band),
    never the all-pairs O(n^2).

    ``max_bucket`` (round-4 verdict item): clustered real-world
    embeddings WILL produce degenerate band buckets (a bucket of B
    members contributes B^2/2 join rows, so one mega-bucket makes the
    pair step quadratic again — the failure mode this path exists to
    avoid).  Band buckets larger than the cap are dropped BEFORE pair
    enumeration, mirroring ``dedup.lsh_candidate_pairs``; members of a
    dropped bucket still pair through their other bands.  Buckets of
    size 1 are dropped too (they can produce no pair).

    ``method``: "fold" (default) computes signatures with the numpy fold
    kernel — bit-exact with the Catalyst fold / DuckDB list_dot_product
    addition order (r7: this replaced the 64x posexplode + broadcast
    join + two-shuffle plan with one zero-shuffle mapInArrow pass;
    identical signs by IEEE-754 determinism); "matmul" is the ENGINE
    path — one BLAS matmul per batch (pairwise summation, can differ
    within summation-ulp of zero; parity pinned by the
    ``banded_matmul_parity`` oracle row).

    Pair generation (r7): ONE shuffle of (id, band, sig) rows — three
    ints per row, never a vector — into a groupBy that packs each band
    bucket, then a mapInArrow kernel enumerates each bucket's sorted-id
    upper triangle.  The old plan shuffled the same sig rows into a
    window + self-join and produced the identical pair multiset; the
    bucket filter (2 <= size <= cap) is the same per-(band, sig) row
    count as the old window count, and the triangle of sorted unique
    ids is exactly the old ``a.id < b.id`` join condition.

    ``distinct``: True returns the deduplicated pair set (the declared
    candidate-set semantics).  False returns the raw enumeration (each
    pair once per colliding band) for consumers that dedupe as part of
    their own aggregation (top-k, set-algebra counts) — skipping a
    full-width shuffle of the pair set.

    Returns (vec_a, vec_b) with vec_a < vec_b (distinct iff ``distinct``).
    """
    planes = hyperplanes(
        _dim_of(embeddings, vec_col), n_bands * band_bits, seed
    )
    sig_fn = _band_sigs_matmul if method == "matmul" else _band_sigs
    tagged = sig_fn(
        embeddings, planes, n_bands, band_bits, id_col, vec_col
    )
    raw = _bucket_pairs(tagged, id_col, max_bucket)
    return raw.distinct() if distinct else raw


def _bucket_pairs(
    tagged: DataFrame, id_col: str, max_bucket: int | None
) -> DataFrame:
    """(band, sig) buckets -> raw candidate pairs (vec_a < vec_b, one
    row per colliding band).  One shuffle (the groupBy of 3-int sig
    rows); the quadratic enumeration runs vectorized in-task over each
    packed bucket's sorted-id upper triangle.

    The shuffle is an EXPLICIT repartition by the bucket key: the sig
    rows are byte-tiny (three ints per row), so AQE's size-based
    coalescing would fuse them into ONE post-shuffle partition — and
    everything downstream of this exploding operator (pair enumeration,
    cosines, dedup) would run on a single core (measured 26 s vs ~2 s at
    sf1.0).  An explicit partition count is exempt from AQE coalescing,
    and the groupBy reuses the partitioning (no second exchange)."""
    import pyarrow as pa

    par = tagged.sparkSession.sparkContext.defaultParallelism
    grouped = (
        tagged.repartition(par, "band", "sig")
        .groupBy("band", "sig")
        .agg(F.collect_list(id_col).alias("_ids"))
    )
    sz = F.size("_ids")
    cond = sz >= 2
    if max_bucket is not None:
        cond = cond & (sz <= max_bucket)
    grouped = grouped.filter(cond).select("_ids")

    out_schema = pa.schema(
        [pa.field("vec_a", pa.int64()), pa.field("vec_b", pa.int64())]
    )

    def enum(batches):
        for batch in batches:
            lv = batch.column("_ids")
            for j in range(len(lv)):
                ids = np.sort(
                    np.asarray(lv[j].values.to_numpy(zero_copy_only=False))
                )
                for iu0, iu1 in _triangle_chunks(len(ids)):
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array(ids[iu0], type=pa.int64()),
                            pa.array(ids[iu1], type=pa.int64()),
                        ],
                        schema=out_schema,
                    )

    return grouped.mapInArrow(enum, "vec_a long, vec_b long")


_MAX_CHUNK_PAIRS = 4 << 20


def _triangle_chunks(b: int, max_pairs: int = _MAX_CHUNK_PAIRS):
    """Yield the i<k index pairs of a b-element upper triangle in
    bounded-size chunks (row bands).  One-shot triu_indices for small
    triangles (the common case — identical arrays, zero overhead); a
    bucket just under a large ``max_bucket`` cap would otherwise
    materialize its whole b^2/2 triangle (~80 GB at b=100k) in one
    allocation."""
    if b < 2:
        return
    if b * (b - 1) // 2 <= max_pairs:
        iu = np.triu_indices(b, k=1)
        yield iu[0], iu[1]
        return
    rows_per = max(1, max_pairs // b)
    for s in range(0, b - 1, rows_per):
        e = min(s + rows_per, b - 1)
        mask = np.arange(b)[None, :] > np.arange(s, e)[:, None]
        ii, kk = np.nonzero(mask)
        yield ii + s, kk


def _band_sigs(
    embeddings: DataFrame,
    planes: np.ndarray,
    n_bands: int,
    band_bits: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, band, sig) band signatures, ORACLE-PARITY path: one numpy
    fold-kernel pass per Arrow batch — zero shuffle, zero explode.

    Bit-exactness contract with the SQL oracle's list_dot_product fold
    (and with the posexplode + ordered-partial-sum plan this replaced in
    r7): `_fold_dots` adds one rounded float64 product per dimension in
    ascending dimension order from 0.0 — the identical IEEE-754
    operation sequence as the left fold, so every sign bit equals the
    oracle's bit-for-bit.  The old plan achieved the same sequence by
    64x-exploding the table through a broadcast join and two shuffles;
    the sequence, not the plan, is the contract."""
    import pyarrow as pa

    n_planes, dim = planes.shape
    out_schema = pa.schema(
        [
            pa.field(id_col, pa.int64()),
            pa.field("band", pa.int32()),
            pa.field("sig", pa.int64()),
        ]
    )
    spark_schema = f"{id_col} long, band int, sig long"

    def sigs(batches):
        wt = np.ascontiguousarray(planes.astype(np.float64).T)
        pows = 1 << np.arange(band_bits, dtype=np.int64)
        bands = np.arange(n_bands, dtype=np.int32)
        for batch in batches:
            lv = batch.column(vec_col)
            n = len(lv)
            if n == 0:
                continue
            ids = batch.column(id_col).to_numpy(zero_copy_only=False)
            mat = _vec_matrix(lv, dim)
            bits = _fold_dots(mat, wt) > 0  # n x n_planes
            sig = (
                bits.reshape(n, n_bands, band_bits).astype(np.int64) @ pows
            )  # n x n_bands
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(ids, n_bands), type=pa.int64()),
                    pa.array(np.tile(bands, n), type=pa.int32()),
                    pa.array(sig.reshape(-1), type=pa.int64()),
                ],
                schema=out_schema,
            )

    return embeddings.select(id_col, vec_col).mapInArrow(sigs, spark_schema)


def _band_sigs_matmul(
    embeddings: DataFrame,
    planes: np.ndarray,
    n_bands: int,
    band_bits: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, band, sig) band signatures, ENGINE path: one BLAS matmul per
    Arrow batch against the (dim x n_planes) plane matrix computes every
    sign in a single zero-shuffle scan.  Signs can differ from the fold
    path only when a dot product lands within summation-ulp of zero
    (parity-tested on the fixture and pinned by the
    ``banded_matmul_parity`` oracle row)."""
    import pyarrow as pa

    n_planes, dim = planes.shape
    out_schema = pa.schema(
        [
            pa.field(id_col, pa.int64()),
            pa.field("band", pa.int32()),
            pa.field("sig", pa.int64()),
        ]
    )
    spark_schema = f"{id_col} long, band int, sig long"

    def sigs(batches):
        weights = np.ascontiguousarray(planes.astype(np.float64).T)
        pows = 1 << np.arange(band_bits, dtype=np.int64)
        bands = np.arange(n_bands, dtype=np.int32)
        for batch in batches:
            lv = batch.column(vec_col)
            n = len(lv)
            if n == 0:
                continue
            ids = batch.column(id_col).to_numpy(zero_copy_only=False)
            mat = _vec_matrix(lv, dim)
            bits = (mat @ weights) > 0  # n x n_planes
            sig = (
                bits.reshape(n, n_bands, band_bits).astype(np.int64) @ pows
            )  # n x n_bands
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(ids, n_bands), type=pa.int64()),
                    pa.array(np.tile(bands, n), type=pa.int32()),
                    pa.array(sig.reshape(-1), type=pa.int64()),
                ],
                schema=out_schema,
            )

    return embeddings.select(id_col, vec_col).mapInArrow(sigs, spark_schema)


def _dim_of(embeddings: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality from one row (metadata-scale collect)."""
    row = embeddings.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    return int(row[0]["d"]) if row else 0


def banded_cosine_topk(
    embeddings: DataFrame,
    k: int = 20,
    n_bands: int = 8,
    band_bits: int = 6,
    seed: int = 11,
    max_bucket: int | None = 100_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "fold",
) -> DataFrame:
    """FUSED banded-LSH near-dup top-k: candidates = pairs colliding in
    any band (identical to ``banded_candidate_pairs``), score = the exact
    fold cosine on each candidate pair, result = the top-k of the whole
    candidate set — computed without ever materializing that set.

    Per (band, sig) bucket, ONE task: a BLAS Gram matrix over the
    bucket's vectors prescreens the upper triangle, the exact fold
    cosine runs only on a guaranteed superset of the bucket's top-k, and
    only local top-k rows leave the task.  The prescreen is sound by a
    standard float error bound: any-order and left-fold float64 dot
    products of 64-term vectors each differ from the exact value by at
    most gamma_64 * ||x||*||y|| (gamma_64 ~= 1.4e-14), so after norm
    division |cos_blas - cos_fold| <= ~3e-14; the margin used is 1e-9 —
    4+ orders of magnitude of slack — so the fold-order top-k of a
    bucket always survives the prescreen.  Cross-bucket duplicates score
    identically (deterministic function of content), so
    distinct-of-local-top-ks -> global top-k equals the full-set answer
    (the containment argument: no pair of the global top-k can be
    missing from the local top-k of a bucket that holds it).

    Work drops from O(pairs) gather+fold (27M pairs at sf1.0) to one
    small GEMM per bucket plus ~k fold cosines per bucket."""
    import pyarrow as pa

    planes = hyperplanes(
        _dim_of(embeddings, vec_col), n_bands * band_bits, seed
    )
    sig_fn = _band_sigs_matmul if method == "matmul" else _band_sigs
    tagged = sig_fn(
        embeddings, planes, n_bands, band_bits, id_col, vec_col
    )
    par = tagged.sparkSession.sparkContext.defaultParallelism
    grouped = (
        tagged.repartition(par, "band", "sig")
        .groupBy("band", "sig")
        .agg(F.collect_list(id_col).alias("_ids"))
    )
    sz = F.size("_ids")
    cond = sz >= 2
    if max_bucket is not None:
        cond = cond & (sz <= max_bucket)
    grouped = grouped.filter(cond).select("_ids")

    ids_g, mat_g, norms_g = _gather_vectors(embeddings, id_col, vec_col)
    bc = embeddings.sparkSession.sparkContext.broadcast(
        (ids_g, mat_g, norms_g)
    )

    def bucket_topk(batches):
        g_ids, g_mat, g_norms = bc.value
        acc_a: list[np.ndarray] = []
        acc_b: list[np.ndarray] = []
        acc_c: list[np.ndarray] = []
        for batch in batches:
            lv = batch.column("_ids")
            for j in range(len(lv)):
                ids = np.sort(
                    np.asarray(lv[j].values.to_numpy(zero_copy_only=False))
                )
                idx = np.searchsorted(g_ids, ids)
                m = np.ascontiguousarray(g_mat[idx])
                nrm = g_norms[idx]
                # triangle in bounded row-band chunks (one chunk at
                # bench bucket sizes): the Gram rows are computed per
                # band, so a bucket just under a large cap never
                # materializes its whole b^2 matrix; the prescreen's
                # gamma-bound + 1e-9 margin is blocking-agnostic, so
                # any BLAS row-band split leaves the fold-exact result
                # unchanged
                for iu0, iu1 in _triangle_chunks(len(ids)):
                    lo, hi = int(iu0[0]), int(iu0[-1]) + 1
                    gc = m[lo:hi] @ m.T
                    vals = gc[iu0 - lo, iu1] / (nrm[iu0] * nrm[iu1])
                    if len(vals) > k:
                        kth = np.partition(vals, len(vals) - k)[
                            len(vals) - k
                        ]
                        keep = np.flatnonzero(vals >= kth - 1e-9)
                        iu0, iu1 = iu0[keep], iu1[keep]
                    # exact fold cosine on the surviving superset only
                    dot = _fold_pair_dots(
                        np.ascontiguousarray(m[iu0]),
                        np.ascontiguousarray(m[iu1]),
                    )
                    cos = dot / (nrm[iu0] * nrm[iu1])
                    acc_a.append(ids[iu0])
                    acc_b.append(ids[iu1])
                    acc_c.append(cos)
        if acc_a:
            a = np.concatenate(acc_a)
            b = np.concatenate(acc_b)
            c = np.concatenate(acc_c)
            # cross-bucket duplicates within this task: first occurrence
            # wins (identical c), then the task-local top-k
            order = np.lexsort((b, a))
            a, b, c = a[order], b[order], c[order]
            first = np.empty(len(a), dtype=bool)
            first[0] = True
            np.logical_or(a[1:] != a[:-1], b[1:] != b[:-1], out=first[1:])
            a, b, c = a[first], b[first], c[first]
            order = np.lexsort((b, a, -c))[:k]
            a, b, c = a[order], b[order], c[order]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(a, type=pa.int64()),
                    pa.array(b, type=pa.int64()),
                    pa.array(c, type=pa.float64()),
                ],
                names=["vec_a", "vec_b", "_cos"],
            )

    local = grouped.mapInArrow(
        bucket_topk, "vec_a long, vec_b long, _cos double"
    )
    return (
        local.distinct()
        .orderBy(F.desc("_cos"), "vec_a", "vec_b")
        .limit(k)
        .select("vec_a", "vec_b", F.round("_cos", 4).alias("cosine"))
    )


def exact_pairs_topk(
    embeddings: DataFrame,
    k: int = 20,
    n_blocks: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block_bytes: int = 8 << 20,
) -> DataFrame:
    """EXACT all-pairs cosine top-k via blocked Gram matrices — the
    distributed brute-force baseline the LSH recall contract compares
    against.  The table is split into row blocks; every unordered block
    PAIR (including each block with itself) computes its Gram submatrix
    in one numpy matmul and emits only its local top-k, so the quadratic
    compute is vectorized (BLAS, not an interpreted per-pair fold) and
    fully distributed; the driver-side final top-k sees only
    n_blocks^2/2 * k rows.  O(n^2) WORK is inherent to an exact
    baseline — the scale answer is the banded LSH path; this exists to
    measure that path's recall.

    Coverage (round-4 ADVICE fix): the join generates blk_a <= blk_b;
    off-diagonal block pairs evaluate EVERY (i, j) cross pair and emit it
    as (min, max) — the old ``ia < ib`` mask silently skipped the ~half
    of cross-block pairs whose smaller id lives in the higher-numbered
    block, making the "exact" baseline non-exact and tainting the recall
    floor.  The diagonal pair keeps ``ia < ib`` (its only duplicate risk
    is the pair with itself).

    Row-size bound (round-4 verdict item): ``n_blocks`` defaults to
    whatever keeps one packed block row under ``max_block_bytes`` of
    vector payload (collect_list packs a block into a single row; an
    unbounded block would hit Arrow's 2 GB element limit / executor OOM
    long before the O(n^2) compute became the problem).

    r7: the per-block-pair kernel is mapInArrow — packed rows unpack to
    numpy via Arrow buffer flattening instead of the old
    mapInPandas/iterrows path that materialized every nested struct as
    Python objects (the measured bulk of this baseline's wall); the
    count and dim probes collapsed into one job.  Same blocks, same
    Gram arithmetic, same emit rules."""
    import pyarrow as pa

    if n_blocks is None:
        row = embeddings.agg(
            F.count("*").alias("n"),
            F.min(F.size(F.col(vec_col))).alias("d"),
        ).collect()[0]
        n, dim = int(row["n"]), int(row["d"] or 0)
        bytes_per_vec = dim * 4 + 16  # float32 payload + id + offsets
        # two bounds (r7 added the second): the packed ROW must fit
        # max_block_bytes of vector payload (Arrow element limit), and
        # the per-task GRAM matrix (rows_a x rows_b float64) must stay
        # ~64 MB — at 10x the bench scale the row bound alone allowed
        # ~25k-row blocks whose 5 GB Gram would OOM the worker.  More
        # blocks never changes the result (exact all-pairs top-k is
        # invariant to the block partition); at every bench scale the
        # floor of 8 still dominates, so plans there are unchanged.
        gram_rows = max(1, int((64 << 20) ** 0.5 // 8))  # ~2.8k rows
        n_blocks = max(
            8,
            -(-(n * bytes_per_vec) // max_block_bytes),
            -(-n // gram_rows),
        )

    packed = embeddings.groupBy(
        F.pmod(F.col(id_col), F.lit(n_blocks)).cast("int").alias("blk")
    ).agg(
        F.collect_list(F.struct(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))).alias("rows")
    )
    bp = (
        packed.alias("x")
        .join(packed.alias("y"), F.col("x.blk") <= F.col("y.blk"))
        .select(
            F.col("x.blk").alias("blk_a"),
            F.col("x.rows").alias("rows_a"),
            F.col("y.blk").alias("blk_b"),
            F.col("y.rows").alias("rows_b"),
        )
        .repartition(n_blocks * (n_blocks + 1) // 2)
    )

    def _unpack(cell):
        """list<struct<i,v>> scalar -> (ids, unit-row matrix)."""
        sa = cell.values
        ids = np.asarray(sa.field("i").to_numpy(zero_copy_only=False))
        lv = sa.field("v")
        m = _vec_matrix(lv, len(lv[0]) if len(lv) else 0)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        return ids, m

    def gram_topk(batches):
        for batch in batches:
            ra = batch.column("rows_a")
            rb = batch.column("rows_b")
            ba = batch.column("blk_a").to_numpy(zero_copy_only=False)
            bb = batch.column("blk_b").to_numpy(zero_copy_only=False)
            for j in range(batch.num_rows):
                ia, ma = _unpack(ra[j])
                ib, mb = _unpack(rb[j])
                g = ma @ mb.T
                diagonal = ba[j] == bb[j]
                if diagonal:
                    # same block on both sides: keep i < j once
                    mask = ia[:, None] < ib[None, :]
                    flat = np.flatnonzero(mask)
                else:
                    # distinct blocks (distinct residues -> ids never
                    # equal): every cross pair is valid exactly once in
                    # this task — normalize to (min, max) on emit
                    flat = np.arange(g.size)
                if len(flat) == 0:
                    continue
                kk = min(k, len(flat))
                top = flat[np.argpartition(-g.ravel()[flat], kk - 1)[:kk]]
                rra, rrb = np.unravel_index(top, g.shape)
                va, vb = ia[rra], ib[rrb]
                if not diagonal:
                    va, vb = np.minimum(va, vb), np.maximum(va, vb)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(va, type=pa.int64()),
                        pa.array(vb, type=pa.int64()),
                        pa.array(g[rra, rrb], type=pa.float64()),
                    ],
                    names=["vec_a", "vec_b", "_cos"],
                )

    local = bp.mapInArrow(
        gram_topk, schema="vec_a long, vec_b long, _cos double"
    )
    return (
        local.orderBy(F.desc("_cos"), "vec_a", "vec_b")
        .limit(k)
        .select("vec_a", "vec_b", F.round("_cos", 4).alias("cosine"))
    )


def avg_norm_by_label(embeddings: DataFrame) -> DataFrame:
    return (
        embeddings.groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(l2_norm(F.col("embedding"))), 4).alias("avg_norm"),
        )
        .select("label", "n", "avg_norm")
    )
