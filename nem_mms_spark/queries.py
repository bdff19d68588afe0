"""Headline queries over the driver-provided testdata tables, each paired
with an ANSI-SQL oracle (DuckDB) in ORACLE_SQL.  Contract: identical column
names, types and (order-insensitive) values between the Spark DataFrame and
the oracle result — floats are rounded at the query boundary, timestamps
are rendered as strings, and every LIMIT has a deterministic tie-break.

Every query has an oracle.  Engine-internal or hash-dependent operators
are expressed as oracle-checkable contracts: LSH recall against SQL-verified
Jaccard pairs, SimHash via an engine-portable md5-prefix token hash DuckDB
can replicate bit-exactly, ANN-LSH via inlined deterministic hyperplanes,
encode metrics via SQL-reconstructible byte accounting.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from nem_mms_spark.functions import dedup, similarity, text as T
from nem_mms_spark.worker import drop_archive_importers


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ------------------------------------------------------ relational suite


def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def q3_shipping_priority(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1995-06-01"
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1995-06-01")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


def q5_nation_revenue(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def topk_events_per_type(spark, sf_dir):
    """Top-3 per event type.

    r7 plan change (identical result): a deterministic salt splits each
    type's window into `par` sub-windows first — the top-3 of a type is
    contained in the union of its sub-window top-3s under the SAME total
    order (value desc, event_id asc; at most 2 rows of the type outrank
    a true top-3 row anywhere), so the global window then ranks only
    ~3*types*par candidate rows.  The old single-level window sorted the
    whole table in `n_types` tasks — at 5 types, 5 busy cores out of 32;
    shuffled bytes are unchanged, the sort parallelism is now `par`.

    A batch-local top-3 Arrow prefilter ahead of the windows was tried
    and removed: it regressed 0.577x on sf1.0 (the JVM->Python round
    trip costs more than the shuffle it saves) and crashed on a null
    event_type."""
    ev = _t(spark, sf_dir, "events")
    par = spark.sparkContext.defaultParallelism
    salt = F.pmod(F.col("event_id"), F.lit(par))
    wl = W.partitionBy("event_type", salt).orderBy(
        F.desc("value"), "event_id"
    )
    cand = (
        ev.withColumn("_rn", F.row_number().over(wl))
        .filter(F.col("_rn") <= 3)
        .drop("_rn")
    )
    w = W.partitionBy("event_type").orderBy(F.desc("value"), "event_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "event_type", "event_id", F.round("value", 4).alias("value"),
            F.col("rn").cast("long").alias("rn"),
        )
    )


def events_hourly_rollup(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def user_sessions(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts").cast("timestamp")) - F.lag(
        F.unix_micros(F.col("ts").cast("timestamp"))
    ).over(w)
    new_s = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    return (
        ev.withColumn("new_s", new_s)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("new_s").alias("n_sessions"),
        )
    )


def orders_priority_matrix(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_f"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_o"),
        F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)).alias("n_p"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
    )


# --------------------------------------------- codec-analytics suite
# (the SQL-visible shadows of the encode engine's per-column statistics)


def lang_dict_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


_SEG = 4096  # two-level segmented-scan bucket width (rows per segment)


def lang_rle_runs(spark, sf_dir):
    """Run-length structure of `lang` in doc_id order — the RLE codec's
    cost-model statistic as a query.

    Two-level segmented scan, NOT a global window: rows are bucketed by
    doc_id range, run starts are counted inside each bucket with a
    PARTITIONED window, and bucket-boundary starts are stitched with a
    tiny window over the per-bucket summary (one row per _SEG rows — the
    only single-task step, over already-aggregated data)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    d2 = d.withColumn("bkt", F.floor(F.col("doc_id") / _SEG))
    w = W.partitionBy("bkt").orderBy("doc_id")
    prev = F.lag("lang").over(w)
    interior = (
        d2.withColumn(
            "start",
            F.when(prev.isNotNull() & (prev != F.col("lang")), 1).otherwise(0),
        )
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("start").alias("n_interior"))
    )
    summary = d2.groupBy("bkt").agg(
        F.min_by("lang", "doc_id").alias("first_lang"),
        F.max_by("lang", "doc_id").alias("last_lang"),
    )
    ws = W.orderBy("bkt")
    boundary = (
        summary.withColumn("prev_last", F.lag("last_lang").over(ws))
        .withColumn(
            "start",
            F.when(
                F.col("prev_last").isNull()
                | (F.col("prev_last") != F.col("first_lang")),
                1,
            ).otherwise(0),
        )
        .groupBy(F.col("first_lang").alias("lang"))
        .agg(F.sum("start").alias("n_boundary"))
    )
    return interior.join(boundary, "lang", "left").select(
        "lang",
        "n_docs",
        (F.col("n_interior") + F.coalesce(F.col("n_boundary"), F.lit(0))).alias(
            "n_runs"
        ),
    )


def events_ts_delta_stats(spark, sf_dir):
    """Delta distribution of the timestamp column in event_id order — the
    DELTA+FOR+bitpack codec's width estimator as a query.

    Two-level segmented scan: within-bucket deltas via a partitioned
    window, bucket-boundary deltas stitched from a tiny per-bucket
    first/last summary, unioned before the final aggregate."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    e2 = ev.withColumn("bkt", F.floor(F.col("event_id") / _SEG))
    w = W.partitionBy("bkt").orderBy("event_id")
    within = e2.select(
        (F.col("us") - F.lag("us").over(w)).alias("delta_us")
    ).filter(F.col("delta_us").isNotNull())
    summary = e2.groupBy("bkt").agg(
        F.min_by("us", "event_id").alias("first_us"),
        F.max_by("us", "event_id").alias("last_us"),
    )
    ws = W.orderBy("bkt")
    boundary = summary.select(
        (F.col("first_us") - F.lag("last_us").over(ws)).alias("delta_us")
    ).filter(F.col("delta_us").isNotNull())
    return within.unionByName(boundary).agg(
        F.count("*").alias("n_deltas"),
        F.min("delta_us").alias("min_delta_us"),
        F.max("delta_us").alias("max_delta_us"),
        F.round(F.avg("delta_us"), 4).alias("avg_delta_us"),
    )


def for_bitwidth_by_type(spark, sf_dir):
    """Frame-of-reference bit width per group (user_id column)."""
    ev = _t(spark, sf_dir, "events")
    rng = F.max("user_id") - F.min("user_id")
    return ev.groupBy("event_type").agg(
        F.min("user_id").alias("for_ref"),
        F.max("user_id").alias("max_id"),
        F.when(rng > 0, F.floor(F.log2(rng) + 1)).otherwise(F.lit(0))
        .cast("long")
        .alias("bit_width"),
    )


def block_framing_stats(spark, sf_dir):
    """Row-aligned 256-row block framing over documents (P6 analogue).

    Global row_number via two-level segmented scan: per-bucket row_number
    (partitioned window) + broadcast-joined cumulative bucket offsets (the
    per-bucket count table is tiny; its prefix-sum window runs over
    aggregated rows only)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    d2 = d.withColumn("bkt", F.floor(F.col("doc_id") / _SEG))
    w = W.partitionBy("bkt").orderBy("doc_id")
    d3 = d2.withColumn("rn_in", F.row_number().over(w))
    counts = d2.groupBy("bkt").agg(F.count("*").alias("cnt"))
    ws = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    offs = counts.select(
        "bkt", F.coalesce(F.sum("cnt").over(ws), F.lit(0)).alias("base")
    )
    return (
        d3.join(F.broadcast(offs), "bkt")
        .withColumn("rn", F.col("base") + F.col("rn_in"))
        .withColumn("block_id", F.floor((F.col("rn") - 1) / 256))
        .groupBy("block_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# the MMS fixture ships as package data so the query works from an
# installed wheel, not only a repo checkout
def _fixture_path() -> str:
    from importlib.resources import files

    return str(files("nem_mms_spark") / "fixtures" / "scada_fixture.csv")


_FLATFILE_FIXTURE = _fixture_path()


def flatfile_scada_rollup(spark, sf_dir):
    """The flat-file parse layer (S1-S3 / P1-P11) as an oracle-checked
    query: parse the committed MMS fixture (RFC-4180 quoting, C/I/D
    segmentation, NAME-bound typed projection, EOR checksum) and roll up
    per unit.  The DuckDB oracle re-parses the SAME file independently via
    read_csv, so quoting and typing are cross-checked engine-to-engine.
    sf_dir is unused — this operator's input is a flat file, not the
    testdata tables."""
    from nem_mms_spark.sources.flatfile import parse_flatfiles

    df = parse_flatfiles(spark, _FLATFILE_FIXTURE)["DISPATCH_UNIT_SCADA"]
    return df.groupBy("DUID").agg(
        F.count("*").alias("n_readings"),
        F.sum(F.col("SCADAVALUE").isNull().cast("long")).alias("n_null"),
        F.round(F.sum("SCADAVALUE"), 4).alias("sum_value"),
        F.date_format(F.max("SETTLEMENTDATE"), "yyyy-MM-dd HH:mm:ss").alias(
            "max_settlement"
        ),
    )


# ------------------------------------------------- training-data suite


def dedup_exact_stats(spark, sf_dir):
    return dedup.exact_dedup_stats(_t(spark, sf_dir, "documents"))


def jaccard_pairs_small(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dedup.jaccard_pairs(d, k=1, threshold=0.5)


def doc_fingerprints(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", T.fingerprint(F.col("text")).alias("md5"))


# text_quality, token_counts_by_source and lang_id_accuracy repartition
# documents across the session's cores: the file is one parquet row group,
# which scans as a single task, so the per-row text work would run on one
# core.


def text_quality(spark, sf_dir):
    # per-row outputs -> multiset-invariant under the repartition
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return T.text_quality_df(d)


def token_counts_by_source(spark, sf_dir):
    # count + exact integer sums -> invariant under the repartition
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(T.token_count(F.col("text"))).alias("n_tokens"),
        F.sum(T.bpe_ish_token_count(F.col("text"))).alias("n_bpe_tokens"),
    )


def lang_id_accuracy(spark, sf_dir):
    # r7: tokenize once per row, then materialize each language's
    # marker-hit count once as a named column — inlined, the old
    # expression tree re-split the document per language AND replicated
    # each hit count ~3-4x through the when/greatest decision chain
    # (interpreted array filters re-ran per replica).  Decision logic
    # unchanged.
    # count + exact integer sum -> invariant under the repartition
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toked = d.select(
        "lang", T.tokens_col(F.lower(F.col("text"))).alias("_ltoks")
    )
    hit_cols = T.lang_marker_hits(F.col("_ltoks"))
    hits = toked.select(
        "lang",
        *[expr.alias(f"_h_{lang}") for lang, expr in hit_cols.items()],
    )
    pred = T.lang_id_from_hits(
        {lang: F.col(f"_h_{lang}") for lang in hit_cols}
    )
    return (
        hits.withColumn("pred", pred)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("pred") == F.col("lang"), 1).otherwise(0)).alias(
                "n_match"
            ),
        )
    )


def _query_vector(sf_dir: str) -> list[float]:
    """The ANN queries' query vector: row vec_id == 0's embedding, read
    on the driver with pyarrow (no Spark job).  ``as_py`` widens float32
    to Python floats exactly as a collected Row does."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        f"{sf_dir}/embeddings.parquet",
        columns=["embedding"],
        filters=[("vec_id", "=", 0)],
    )
    return t.column("embedding")[0].as_py()


def ann_topk_cosine(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vector(sf_dir)
    return similarity.brute_force_topk(emb, q, k=10).select("vec_id")


def embedding_norms_by_label(spark, sf_dir):
    return similarity.avg_norm_by_label(_t(spark, sf_dir, "embeddings"))


# ------------------- formerly rows-only, now oracle-checked end to end


def minhash_lsh_recall(spark, sf_dir):
    """The LSH recall contract as a query: every true pair with Jaccard
    >= 0.9 (independently computable in SQL) must appear among the banded
    LSH candidates — n_missed is 0 iff the contract holds.  Integer-only
    outputs so the oracle compare is exact."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    true_pairs = dedup.jaccard_pairs(d, k=1, threshold=0.9)
    cand = dedup.lsh_candidate_pairs(d, n_perm=32, bands=16, k=1)
    # r7 plan change (identical three values): the old shape referenced
    # the true-pairs subtree twice (once under the stats agg, once under
    # a left-anti join) and cross-joined the two aggregates — Spark
    # plans are trees, so the whole shingle self-join EXECUTED twice.
    # A left join with a candidate marker computes membership and the
    # stats in ONE pass over one true-pairs subtree: count/sum are the
    # same aggregates, and `_hit is null` is exactly the left-anti
    # predicate (cand is distinct, so the join never duplicates rows).
    joined = true_pairs.select("doc_a", "doc_b", "n_common").join(
        cand.withColumn("_hit", F.lit(1)), ["doc_a", "doc_b"], "left"
    )
    return joined.agg(
        F.count("*").alias("n_true_pairs"),
        F.sum("n_common").alias("sum_common"),
        F.coalesce(
            F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_missed"),
    )


def simhash_fingerprints(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return dedup.simhash_df(d)


def ann_lsh_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vector(sf_dir)
    return similarity.lsh_topk(emb, q, k=10, n_planes=6).select("vec_id")


def ann_lsh_recall(spark, sf_dir):
    """Recall contract for multi-probe ANN-LSH: the approximate top-k
    must contain at least ``recall_floor`` of the exact brute-force
    top-k.  n_below_floor is 0 iff the contract holds — the oracle pins
    it to 0 (the minhash_lsh_recall pattern), so a recall regression
    hash-mismatches.

    Floor calibration: the synthetic embeddings are near-random (no
    cluster structure), so sign-LSH recall tracks the scanned fraction —
    4 planes / 4 probes scans 5/16 buckets (~31% of rows), a random
    31% scan would recall ~3/10, and the LSH probe set recovers 6-7/10
    (~2x the random baseline — the signal the contract protects).  On
    clustered real-world embeddings the same probe set recalls far more."""
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vector(sf_dir)
    floor = 5
    brute = similarity.brute_force_topk(emb, q, k=10).select("vec_id")
    lsh = similarity.lsh_topk(
        emb, q, k=10, n_planes=4, n_probes=4
    ).select("vec_id")
    ov = brute.join(lsh, "vec_id").agg(F.count("*").alias("n_overlap"))
    return ov.select(
        F.lit(10).cast("long").alias("k"),
        F.lit(floor).cast("long").alias("recall_floor"),
        F.greatest(F.lit(0).cast("long"), F.lit(floor) - F.col("n_overlap"))
        .cast("long")
        .alias("n_below_floor"),
    )


_PAIR_BANDS = 8
_PAIR_BAND_BITS = 6
_PAIR_SEED = 11


def embedding_cosine_pairs(spark, sf_dir):
    """Embedding-cosine near-dup, SCALE PATH (round-3 verdict item 4):
    candidates come from the banded sign-LSH equi-join (collide in any of
    8 bands of 6 hyperplane sign bits), and only candidates pay the exact
    fold cosine — top-20 of the candidate set.  Pair work is
    O(sum bucket^2 per band), not the all-pairs O(n^2)
    BroadcastNestedLoopJoin this query used to run.  The oracle replicates
    the bands, the candidate join, and the cosine ordering bit-exactly in
    SQL; the recall of this candidate set vs the exact all-pairs top-20 is
    contract-checked by ``embedding_pairs_recall``.

    r7 plan change (same candidate set, same fold cosines, same top-20):
    the fused ``banded_cosine_topk`` scores each band bucket in-task
    (BLAS prescreen + exact fold cosine on a guaranteed superset of the
    bucket top-k, error-bound-sound — see its docstring) instead of
    materializing + distinct-shuffling the ~O(sum bucket^2) candidate
    pair set and joining vectors onto every pair."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.banded_cosine_topk(
        emb, k=20, n_bands=_PAIR_BANDS, band_bits=_PAIR_BAND_BITS,
        seed=_PAIR_SEED,
    )


def embedding_pairs_recall(spark, sf_dir):
    """Recall contract for the banded-LSH near-dup pairs: the LSH top-20
    must contain at least ``recall_floor`` of the EXACT all-pairs top-20
    (computed by the distributed blocked-Gram baseline — one BLAS matmul
    per block pair, local top-k, never an interpreted per-pair fold).

    Floor calibration (re-measured round 5 after the exact-baseline
    coverage fix — the old baseline skipped ~44% of cross-block pairs,
    so the old 12/20 figure compared against a wrong top-20; the fixed
    baseline is verified pair-identical to a single-matrix numpy
    all-pairs at sf0.001/0.01/0.1): the synthetic embeddings are random
    (top pair cosine ~0.5), so band collision probability per pair is
    (1 - theta/pi)^6 ~= 0.09 and the 8-band union recalls a fraction of
    the true top-20 — measured overlap 10/20 at sf0.01 (the oracle
    scale), 16/20 at sf0.1, 5/20 at sf0.001 — while scanning only ~13%
    of pairs (a random 13% sample would recall ~2.6/20).  floor=5 holds
    at every scale the harness checks (deterministic data -> the
    measured overlaps are exact, not noisy); clustered real-world
    embeddings recall far more."""
    emb = _t(spark, sf_dir, "embeddings")
    floor = 5
    exact = similarity.exact_pairs_topk(emb, k=20).select("vec_a", "vec_b")
    lsh = similarity.banded_cosine_topk(
        emb, k=20, n_bands=_PAIR_BANDS, band_bits=_PAIR_BAND_BITS,
        seed=_PAIR_SEED,
    ).select("vec_a", "vec_b")
    ov = exact.join(lsh, ["vec_a", "vec_b"]).agg(
        F.count("*").alias("n_overlap")
    )
    return ov.select(
        F.lit(20).cast("long").alias("k"),
        F.lit(floor).cast("long").alias("recall_floor"),
        F.greatest(F.lit(0).cast("long"), F.lit(floor) - F.col("n_overlap"))
        .cast("long")
        .alias("n_below_floor"),
    )


def ann_lsh_topk_precomputed(spark, sf_dir):
    """The PRODUCTION ANN path under the hard oracle signal (round-5
    verdict item 4): buckets come from ``materialize_buckets`` (one
    zero-shuffle mapInArrow numpy matmul at ingest), the probe set from
    ``multiprobe_buckets(exact=False)`` (the same matmul margins, no
    Spark job), and the result must hash-match the same
    DuckDB replication as ``ann_lsh_topk`` — proving the persisted-bucket
    engine path returns exactly what the oracle-parity fold path does."""
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vector(sf_dir)
    pre = similarity.materialize_buckets(emb, n_planes=6)
    return similarity.lsh_topk(
        emb, q, k=10, n_planes=6, precomputed=pre
    ).select("vec_id")


def banded_matmul_parity(spark, sf_dir):
    """Engine-path parity as an oracle row (round-5 verdict item 4): the
    matmul signature path (one zero-shuffle numpy matmul pass) must
    produce the IDENTICAL banded candidate set as the fold path whose
    float addition order the SQL oracle replicates bit-exactly.
    ``n_sym_diff`` counts pairs in exactly one of the two sets — the
    oracle pins it to 0, so any sign divergence between the engine path
    and the oracle-parity path hash-mismatches; ``n_pairs`` is recomputed
    independently by the oracle's own band replication.

    r7 plan change (same two values, exact set algebra): the two raw
    candidate streams are tagged and unioned into ONE groupBy on the
    pair key — per distinct pair, f/m record membership in the fold /
    matmul sets (the groupBy subsumes both ``.distinct()`` calls), so
    |fold| = sum(f) and |symmetric difference| = #{f != m}.  The old
    plan paid two distinct shuffles plus two sort-merge anti-joins over
    the full pair sets for the identical counts."""
    emb = _t(spark, sf_dir, "embeddings")
    kw = dict(
        n_bands=_PAIR_BANDS, band_bits=_PAIR_BAND_BITS, seed=_PAIR_SEED,
        distinct=False,
    )
    fold = similarity.banded_candidate_pairs(emb, method="fold", **kw)
    mm = similarity.banded_candidate_pairs(emb, method="matmul", **kw)
    both = fold.select(
        "vec_a", "vec_b", F.lit(1).alias("_f"), F.lit(0).alias("_m")
    ).unionByName(
        mm.select(
            "vec_a", "vec_b", F.lit(0).alias("_f"), F.lit(1).alias("_m")
        )
    )
    flags = both.groupBy("vec_a", "vec_b").agg(
        F.max("_f").alias("f"), F.max("_m").alias("m")
    )
    return flags.agg(
        F.coalesce(F.sum("f"), F.lit(0)).cast("long").alias("n_pairs"),
        F.coalesce(
            F.sum(F.when(F.col("f") != F.col("m"), 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_sym_diff"),
    )


def multimodal_image_meta(spark, sf_dir):
    """Image decode plumbing over a format MIX: deterministic blobs
    derived from documents rotate through real PNG (built + parsed from
    actual PNG bytes: signature, IHDR, stored-deflate IDAT), real 24-bit
    BMP, and the fake fixture format by doc_id % 3; the Arrow-batched
    extractor parses each from its header bytes.  Every output column —
    including total n_bytes, which for PNG/BMP follows from the format's
    framing arithmetic — is a pure function of (doc_id, n_chars), so a
    SQL oracle recomputes the expected rows exactly, checking the whole
    blob build -> mapInPandas header-parse path end to end."""
    from nem_mms_spark.functions import multimodal as MM

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)

    def attach(batches):
        drop_archive_importers()
        builders = (MM.make_fake_image, MM.make_png, MM.make_bmp)
        for pdf in batches:
            pdf = pdf[["doc_id", "n_chars"]].copy()
            blobs = []
            for i, c in zip(pdf["doc_id"], pdf["n_chars"]):
                w = 8 + int(c) % 16
                b = builders[int(i) % 3]
                blobs.append(
                    b(w, 8, seed=int(i)) if b is not MM.make_fake_image
                    else b(w, 8, 3, seed=int(i))
                )
            pdf["image"] = blobs
            yield pdf[["doc_id", "image"]]

    imgs = d.mapInPandas(attach, schema="doc_id long, image binary")
    return MM.decode_image_meta(imgs)


def multimodal_gif_pixels(spark, sf_dir):
    """Real GIF pixel decode end to end (round-5 verdict item 6): each
    document builds a GIF whose palette indices follow the closed-form
    pattern p_i = (doc_id + i) % 2, through the REAL variable-width LZW
    encoder; the decode side LZW-decodes and palette-maps the pixels and
    reports the white-pixel count and the index-weighted white sum —
    both pure functions of (doc_id, n_chars), so the SQL oracle
    recomputes them exactly.  Any LZW bit error scrambles wsum."""
    from nem_mms_spark.functions import multimodal as MM

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)

    def build_and_decode(batches):
        drop_archive_importers()
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {"doc_id": [], "width": [], "height": [],
                   "n_white": [], "wsum": []}
            for i, c in zip(pdf["doc_id"], pdf["n_chars"]):
                w = 8 + int(c) % 16
                n = w * 8
                px = ((int(i) + np.arange(n)) % 2).astype(np.uint8)
                flat = MM._pixels(MM.make_gif(w, 8, pixels=px))
                r = flat[0::3]
                white = np.flatnonzero(r == 255)
                out["doc_id"].append(int(i))
                out["width"].append(w)
                out["height"].append(8)
                out["n_white"].append(len(white))
                out["wsum"].append(int(white.sum()))
            yield pd.DataFrame(out)

    return d.mapInPandas(
        build_and_decode,
        schema="doc_id long, width int, height int, n_white long, wsum long",
    )


_ENCODE_CACHE: dict[tuple, str] = {}


def _encoded_documents(spark, sf_dir: str, sort_cols=None) -> str:
    """One encode of the documents table per (sf_dir, sort) per session,
    removed at interpreter exit — repeated bench reps / correctness runs
    reuse it instead of accumulating tempdir copies on disk."""
    import atexit
    import shutil
    import tempfile

    from nem_mms_spark.jobs.encode import encode_parquet

    key = (sf_dir, tuple(sort_cols or ()))
    out = _ENCODE_CACHE.get(key)
    if out is None or not os.path.isdir(out):
        out = tempfile.mkdtemp(prefix="nem_mms_encq_")
        # the documents file encodes in place as one part, read by the
        # task itself: no row crosses the JVM
        encode_parquet(
            spark, [f"{sf_dir}/documents.parquet"], out,
            key_col="doc_id", sort_cols=sort_cols, resume=False,
        )
        _ENCODE_CACHE[key] = out
        atexit.register(shutil.rmtree, out, ignore_errors=True)
    return out


def zonemap_range_scan(spark, sf_dir):
    """Data skipping end to end: encode documents, range-scan n_chars
    through the zone maps (metadata pass prunes partitions + blocks, data
    pass decodes survivors only), aggregate.  The oracle is the same range
    query straight over the source table — equality proves the skipping
    never drops or duplicates rows."""
    from nem_mms_spark.jobs.decode import scan_blocks

    out = _encoded_documents(spark, sf_dir, sort_cols=["n_chars"])
    scanned = scan_blocks(spark, out, "n_chars", lo=500, hi=900)
    return scanned.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


def encode_roundtrip_metrics(spark, sf_dir):
    """Full engine run on the documents table: encode -> per-column
    totals of the block table (the codec manifest), read on the driver
    from the committed parts only, with no Spark job.  n_values and
    raw_bytes are reconstructible in SQL from the source table (raw =
    data bytes + 8-byte offsets per string value; 8 bytes per int64),
    so the oracle checks the engine's accounting end to end.
    encoded_bytes is covered by bench + the size-vs-parquet gate, not
    here (no independent SQL derivation)."""
    from nem_mms_spark.jobs.decode import block_files, read_block_meta

    out = _encoded_documents(spark, sf_dir)
    meta = read_block_meta(
        block_files(out), ["column", "value_count", "raw_bytes"]
    )
    totals = meta.group_by("column", use_threads=False).aggregate(
        [("value_count", "sum"), ("raw_bytes", "sum")]
    )
    # an Arrow table this small becomes a local relation: no Spark job
    return spark.createDataFrame(
        totals.rename_columns(["col_name", "n_values", "raw_bytes"])
    )


# ------------------------------------------------- oracle SQL builders


def _sql_toks(expr: str) -> str:
    """DuckDB tokenization matching Spark's tokens_col exactly: split on
    runs of ANY whitespace, drop empty tokens (plain string_split on ' '
    diverges on tabs/newlines/double spaces)."""
    return (
        "list_filter(string_split(regexp_replace("
        + expr
        + r", '\s+', ' ', 'g'), ' '), t -> t != '')"
    )


def _jaccard_cte(limit: int = 200) -> str:
    """Shared word-shingle Jaccard pipeline (k=1) as DuckDB CTEs."""
    return f"""
        WITH sh AS (
            SELECT DISTINCT doc_id, unnest({_sql_toks('lower(text)')}) AS shingle
            FROM documents WHERE doc_id < {limit}
        ),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        pairs AS (
            SELECT doc_a, doc_b, n_common,
                   CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
                       AS raw_j
            FROM inter JOIN sizes sa ON sa.doc_id = doc_a
                       JOIN sizes sb ON sb.doc_id = doc_b
        )
    """


def _simhash_sql() -> str:
    """DuckDB replication of simhash_df: same portable 60-bit md5-prefix
    token hash (hex-string cast), same sign-sum per bit."""
    from nem_mms_spark.functions.dedup import SIMHASH_BITS

    bit_sums = ",\n                   ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(SIMHASH_BITS)
    )
    compose = "\n             + ".join(
        f"CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(SIMHASH_BITS)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest({_sql_toks('lower(text)')}) AS tok
            FROM documents WHERE doc_id < 500
        ),
        h AS (
            SELECT doc_id,
                   CAST(CAST(concat('0x', substring(md5(tok), 1, 15))
                        AS UBIGINT) AS BIGINT) AS h
            FROM toks
        ),
        bits AS (SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id)
        SELECT doc_id, CAST({compose} AS BIGINT) AS simhash FROM bits
    """


def _banded_pairs_sql() -> str:
    """DuckDB replication of the banded-LSH near-dup pair query: the
    seeded hyperplanes are inlined as float64 literals, band signatures
    are the same weighted sign sums (bit j of band g = plane g*bits+j,
    weight 1<<j), the candidate set is the same any-band equi-join, and
    the exact fold cosine (list_dot_product) orders the final top-20
    identically to Spark's F.aggregate fold."""
    dim = 64
    planes = similarity.hyperplanes(
        dim, _PAIR_BANDS * _PAIR_BAND_BITS, _PAIR_SEED
    )

    def sig_expr(g: int) -> str:
        return "\n                 + ".join(
            "CASE WHEN list_dot_product(v, ["
            + ", ".join(repr(float(x)) for x in planes[g * _PAIR_BAND_BITS + j])
            + f"]) > 0 THEN {1 << j} ELSE 0 END"
            for j in range(_PAIR_BAND_BITS)
        )

    band_selects = "\n            UNION ALL\n            ".join(
        f"SELECT vec_id, {g} AS band, ({sig_expr(g)}) AS sig FROM e"
        for g in range(_PAIR_BANDS)
    )
    cos = (
        "list_dot_product(ea.v, eb.v) / (sqrt(list_dot_product(ea.v, ea.v))"
        " * sqrt(list_dot_product(eb.v, eb.v)))"
    )
    cte = f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        sigs AS (
            {band_selects}
        ),
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM sigs a JOIN sigs b
              ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
        )
    """
    return f"""{cte}
        SELECT vec_a, vec_b, round({cos}, 4) AS cosine
        FROM cand
        JOIN e ea ON cand.vec_a = ea.vec_id
        JOIN e eb ON cand.vec_b = eb.vec_id
        ORDER BY {cos} DESC, vec_a, vec_b
        LIMIT 20
    """


def _banded_parity_sql() -> str:
    """Oracle for ``banded_matmul_parity``: the candidate-set SIZE is
    recomputed by the same band replication `_banded_pairs_sql` uses, and
    n_sym_diff is pinned to 0 — the Spark side must genuinely measure an
    empty symmetric difference between the fold and matmul paths for the
    value hash to match."""
    full = _banded_pairs_sql()
    cte = full[: full.rindex("SELECT vec_a")]
    return f"""{cte}
        SELECT COUNT(*) AS n_pairs, CAST(0 AS BIGINT) AS n_sym_diff
        FROM cand
    """


def _ann_lsh_sql(
    n_planes: int = 6, dim: int = 64, seed: int = 7, n_probes: int = 4
) -> str:
    """DuckDB replication of multi-probe lsh_topk: the hyperplanes are
    deterministic (seeded), so their exact float64 values are inlined as
    literals; dot products fold left-to-right in both engines
    (F.aggregate / list_dot_product), so bucket signs, probe-margin
    ordering, and cosine ordering agree.  The probe set — exact bucket
    plus single-bit flips of the n_probes smallest-|margin| planes — is
    derived in SQL exactly as multiprobe_buckets derives it in Spark."""
    planes = similarity.hyperplanes(dim, n_planes, seed)
    cases = "\n               + ".join(
        "CASE WHEN list_dot_product(e, ["
        + ", ".join(repr(float(x)) for x in p)
        + f"]) > 0 THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(planes)
    )
    plane_rows = ",\n            ".join(
        f"({i}, [" + ", ".join(repr(float(x)) for x in p) + "])"
        for i, p in enumerate(planes)
    )
    return f"""
        WITH b AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ),
        bb AS (SELECT vec_id, e, ({cases}) AS bucket FROM b),
        q AS (SELECT e AS qe, bucket AS qb FROM bb WHERE vec_id = 0),
        planes(i, p) AS (VALUES
            {plane_rows}
        ),
        flips AS (
            SELECT i FROM planes, q
            ORDER BY abs(list_dot_product(q.qe, p)), i
            LIMIT {n_probes}
        ),
        probes AS (
            SELECT qb AS pb FROM q
            UNION ALL
            SELECT xor(qb, CAST(1 << i AS BIGINT)) FROM flips, q
        )
        SELECT vec_id
        FROM bb, q
        WHERE bb.bucket IN (SELECT pb FROM probes)
        ORDER BY list_dot_product(e, qe)
                 / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe)))
                 DESC, vec_id
        LIMIT 10
    """


# ------------------------------------------------------------- registry

QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_nation_revenue": q5_nation_revenue,
    "topk_events_per_type": topk_events_per_type,
    "events_hourly_rollup": events_hourly_rollup,
    "user_sessions": user_sessions,
    "orders_priority_matrix": orders_priority_matrix,
    "lang_dict_stats": lang_dict_stats,
    "lang_rle_runs": lang_rle_runs,
    "events_ts_delta_stats": events_ts_delta_stats,
    "for_bitwidth_by_type": for_bitwidth_by_type,
    "block_framing_stats": block_framing_stats,
    "flatfile_scada_rollup": flatfile_scada_rollup,
    "dedup_exact_stats": dedup_exact_stats,
    "jaccard_pairs_small": jaccard_pairs_small,
    "doc_fingerprints": doc_fingerprints,
    "text_quality": text_quality,
    "token_counts_by_source": token_counts_by_source,
    "lang_id_accuracy": lang_id_accuracy,
    "ann_topk_cosine": ann_topk_cosine,
    "embedding_norms_by_label": embedding_norms_by_label,
    "minhash_lsh_recall": minhash_lsh_recall,
    "simhash_fingerprints": simhash_fingerprints,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_lsh_topk_precomputed": ann_lsh_topk_precomputed,
    "ann_lsh_recall": ann_lsh_recall,
    "embedding_cosine_pairs": embedding_cosine_pairs,
    "banded_matmul_parity": banded_matmul_parity,
    "embedding_pairs_recall": embedding_pairs_recall,
    "multimodal_image_meta": multimodal_image_meta,
    "multimodal_gif_pixels": multimodal_gif_pixels,
    "zonemap_range_scan": zonemap_range_scan,
    "encode_roundtrip_metrics": encode_roundtrip_metrics,
}

ORACLE_SQL = {
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(avg(l_quantity), 4) AS avg_qty,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q3_shipping_priority": """
        SELECT l_orderkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-06-01 00:00:00'
          AND l_shipdate > TIMESTAMP '1995-06-01 00:00:00'
        GROUP BY l_orderkey
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    "q5_nation_revenue": """
        SELECT r_name, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    """,
    "topk_events_per_type": """
        SELECT event_type, event_id, round(value, 4) AS value, rn
        FROM (
            SELECT event_type, event_id, value,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY value DESC, event_id) AS rn
            FROM events
        )
        WHERE rn <= 3
    """,
    "events_hourly_rollup": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    "user_sessions": """
        SELECT user_id, count(*) AS n_events, CAST(sum(new_s) AS BIGINT) AS n_sessions
        FROM (
            SELECT user_id,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id)
                        > 1800000000 OR
                        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        IS NULL
                   THEN 1 ELSE 0 END AS new_s
            FROM events
        ) GROUP BY user_id
    """,
    "orders_priority_matrix": """
        SELECT o_orderpriority, count(*) AS n_orders,
               CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
               CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
               CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
               round(avg(o_totalprice), 2) AS avg_price
        FROM orders GROUP BY o_orderpriority
    """,
    "lang_dict_stats": """
        SELECT lang, count(*) AS n_docs,
               count(DISTINCT source) AS n_sources,
               round(avg(n_chars), 4) AS avg_chars,
               min(n_chars) AS min_chars, max(n_chars) AS max_chars
        FROM documents GROUP BY lang
    """,
    "lang_rle_runs": """
        SELECT lang, count(*) AS n_docs, CAST(sum(run_start) AS BIGINT) AS n_runs
        FROM (
            SELECT lang,
                   CASE WHEN lag(lang) OVER (ORDER BY doc_id) IS DISTINCT FROM lang
                   THEN 1 ELSE 0 END AS run_start
            FROM documents
        ) GROUP BY lang
    """,
    "events_ts_delta_stats": """
        SELECT count(*) AS n_deltas, min(delta_us) AS min_delta_us,
               max(delta_us) AS max_delta_us,
               round(avg(delta_us), 4) AS avg_delta_us
        FROM (
            SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (ORDER BY event_id)
                   AS delta_us
            FROM events
        ) WHERE delta_us IS NOT NULL
    """,
    "for_bitwidth_by_type": """
        SELECT event_type, min(user_id) AS for_ref, max(user_id) AS max_id,
               CAST(CASE WHEN max(user_id) - min(user_id) > 0
                    THEN floor(log2(max(user_id) - min(user_id)) + 1)
                    ELSE 0 END AS BIGINT) AS bit_width
        FROM events GROUP BY event_type
    """,
    "block_framing_stats": """
        SELECT block_id, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               min(doc_id) AS min_doc, max(doc_id) AS max_doc
        FROM (
            SELECT doc_id, n_chars,
                   CAST(floor((row_number() OVER (ORDER BY doc_id) - 1) / 256)
                        AS BIGINT) AS block_id
            FROM documents
        ) GROUP BY block_id
    """,
    "flatfile_scada_rollup": f"""
        SELECT column5 AS DUID,
               count(*) AS n_readings,
               CAST(sum(CASE WHEN column6 IS NULL OR column6 = ''
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               round(sum(CAST(nullif(column6, '') AS DOUBLE)), 4) AS sum_value,
               strftime(max(strptime(column4, '%Y/%m/%d %H:%M:%S')),
                        '%Y-%m-%d %H:%M:%S') AS max_settlement
        FROM read_csv('{_FLATFILE_FIXTURE}', header=false,
                      all_varchar=true, null_padding=true)
        WHERE column0 = 'D'
        GROUP BY column5
    """,
    "dedup_exact_stats": """
        SELECT lang, count(*) AS n_docs,
               count(DISTINCT md5(text)) AS n_distinct,
               count(*) - count(DISTINCT md5(text)) AS dup_docs
        FROM documents GROUP BY lang
    """,
    "jaccard_pairs_small": _jaccard_cte(200) + """
        SELECT doc_a, doc_b, n_common, round(raw_j, 4) AS jaccard
        FROM pairs WHERE raw_j >= 0.5
    """,
    "minhash_lsh_recall": _jaccard_cte(200) + """
        SELECT count(*) AS n_true_pairs,
               CAST(sum(n_common) AS BIGINT) AS sum_common,
               CAST(0 AS BIGINT) AS n_missed
        FROM pairs WHERE raw_j >= 0.9
    """,
    "simhash_fingerprints": _simhash_sql(),
    "ann_lsh_topk": _ann_lsh_sql(),
    "ann_lsh_topk_precomputed": _ann_lsh_sql(),
    "multimodal_gif_pixels": """
        -- pattern p_i = (doc_id + i) % 2 over n = 8*width pixels:
        -- white pixels sit at odd (even doc_id) or even (odd doc_id)
        -- indices -> n_white = n/2 = 4*width always; the index-weighted
        -- white sum is sum of odd i < n = (n/2)^2, or of even i < n =
        -- (n/2)(n/2 - 1)
        SELECT doc_id,
               CAST(8 + n_chars % 16 AS INTEGER) AS width,
               CAST(8 AS INTEGER) AS height,
               CAST(4 * (8 + n_chars % 16) AS BIGINT) AS n_white,
               CAST(CASE WHEN doc_id % 2 = 0
                 THEN (4 * (8 + n_chars % 16)) * (4 * (8 + n_chars % 16))
                 ELSE (4 * (8 + n_chars % 16)) * (4 * (8 + n_chars % 16) - 1)
               END AS BIGINT) AS wsum
        FROM documents WHERE doc_id < 200
    """,
    "embedding_cosine_pairs": _banded_pairs_sql(),
    "banded_matmul_parity": _banded_parity_sql(),
    "ann_lsh_recall": """
        SELECT CAST(10 AS BIGINT) AS k,
               CAST(5 AS BIGINT) AS recall_floor,
               CAST(0 AS BIGINT) AS n_below_floor
    """,
    "embedding_pairs_recall": """
        SELECT CAST(20 AS BIGINT) AS k,
               CAST(5 AS BIGINT) AS recall_floor,
               CAST(0 AS BIGINT) AS n_below_floor
    """,
    "multimodal_image_meta": """
        -- formats rotate by doc_id % 3; n_bytes follows each format's
        -- framing arithmetic: fake = 20-byte header + w*h*3 pixels;
        -- png = 8 sig + 25 IHDR + 12 IDAT overhead + stored-deflate
        -- (raw + 11 for raw < 64KiB) + 12 IEND, raw = h*(1+3w);
        -- bmp = 54 headers + h * 4-byte-aligned 24bpp rows
        SELECT doc_id,
               CAST(8 + n_chars % 16 AS INTEGER) AS width,
               CAST(8 AS INTEGER) AS height,
               CAST(3 AS INTEGER) AS channels,
               CAST(CASE doc_id % 3
                 WHEN 0 THEN 20 + (8 + n_chars % 16) * 24
                 WHEN 1 THEN 68 + 8 * (1 + 3 * (8 + n_chars % 16))
                 ELSE 54 + 8 * (((3 * (8 + n_chars % 16) + 3) // 4) * 4)
               END AS BIGINT) AS n_bytes,
               CASE doc_id % 3
                 WHEN 0 THEN 'fake' WHEN 1 THEN 'png' ELSE 'bmp'
               END AS format
        FROM documents WHERE doc_id < 200
    """,
    "zonemap_range_scan": """
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               min(doc_id) AS min_doc, max(doc_id) AS max_doc
        FROM documents
        WHERE n_chars BETWEEN 500 AND 900
        GROUP BY lang
    """,
    "encode_roundtrip_metrics": """
        SELECT 'doc_id' AS col_name, count(*) AS n_values,
               CAST(8 * count(doc_id) AS BIGINT) AS raw_bytes FROM documents
        UNION ALL
        SELECT 'lang', count(*),
               CAST(sum(strlen(lang)) + 8 * count(lang) AS BIGINT)
        FROM documents
        UNION ALL
        SELECT 'n_chars', count(*), CAST(8 * count(n_chars) AS BIGINT)
        FROM documents
        UNION ALL
        SELECT 'source', count(*),
               CAST(sum(strlen(source)) + 8 * count(source) AS BIGINT)
        FROM documents
        UNION ALL
        SELECT 'text', count(*),
               CAST(sum(strlen(text)) + 8 * count(text) AS BIGINT)
        FROM documents
    """,
    "doc_fingerprints": "SELECT doc_id, md5(text) AS md5 FROM documents",
    "text_quality": f"""
        SELECT doc_id,
               CAST(n_tokens AS INTEGER) AS n_tokens,
               round(char_total / greatest(n_tokens, 1), 4) AS avg_token_len,
               round(n_stop / greatest(n_tokens, 1), 4) AS stopword_ratio,
               round((CASE WHEN n_tokens BETWEEN 10 AND 5000 THEN 1.0 ELSE 0.3 END
                    + CASE WHEN char_total / greatest(n_tokens, 1) BETWEEN 3 AND 12
                           THEN 1.0 ELSE 0.5 END
                    + CASE WHEN punct / greatest(length(text), 1) < 0.2
                           THEN 1.0 ELSE 0.4 END) / 3.0, 4) AS quality
        FROM (
            SELECT doc_id, text,
                   len({_sql_toks('text')}) AS n_tokens,
                   CAST(len(list_filter({_sql_toks('lower(text)')},
                        t -> t IN ('the','a','an','and','or','of','to','in','is','it')))
                        AS DOUBLE) AS n_stop,
                   CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
                        AS char_total,
                   CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                        AS DOUBLE) AS punct
            FROM documents
        )
    """,
    "token_counts_by_source": f"""
        SELECT source, count(*) AS n_docs,
               CAST(sum(len({_sql_toks('text')})) AS BIGINT) AS n_tokens,
               CAST(sum(CAST(ceil(length(text) / 4.0) AS BIGINT)) AS BIGINT) AS n_bpe_tokens
        FROM documents GROUP BY source
    """,
    "lang_id_accuracy": f"""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_match
        FROM (
            SELECT lang,
                   CASE
                     WHEN h_es > greatest(h_en, h_de, h_fr, 0) THEN 'es'
                     WHEN h_fr > greatest(h_en, h_de, 0) THEN 'fr'
                     WHEN h_de > greatest(h_en, 0) THEN 'de'
                     WHEN h_en > 0 THEN 'en'
                     ELSE 'und'
                   END AS pred
            FROM (
                SELECT lang,
                   len(list_filter({_sql_toks('lower(text)')},
                       t -> t IN ('the','and','of'))) AS h_en,
                   len(list_filter({_sql_toks('lower(text)')},
                       t -> t IN ('der','die','und'))) AS h_de,
                   len(list_filter({_sql_toks('lower(text)')},
                       t -> t IN ('le','la','et'))) AS h_fr,
                   len(list_filter({_sql_toks('lower(text)')},
                       t -> t IN ('el','los','que'))) AS h_es
                FROM documents
            )
        ) GROUP BY lang
    """,
    "ann_topk_cosine": """
        WITH q AS (
            SELECT generate_subscripts(embedding, 1) AS i,
                   CAST(unnest(embedding) AS DOUBLE) AS qv
            FROM embeddings WHERE vec_id = 0
        ),
        e AS (
            SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                   CAST(unnest(embedding) AS DOUBLE) AS ev
            FROM embeddings
        )
        SELECT vec_id
        FROM e JOIN q USING (i)
        GROUP BY vec_id
        ORDER BY sum(ev * qv) / (sqrt(sum(ev * ev)) * sqrt(sum(qv * qv))) DESC,
                 vec_id
        LIMIT 10
    """,
    "embedding_norms_by_label": """
        SELECT label, count(*) AS n, round(avg(norm), 4) AS avg_norm
        FROM (
            SELECT label, sqrt(sum_sq) AS norm
            FROM (
                SELECT label, vec_id,
                       sum(CAST(e AS DOUBLE) * CAST(e AS DOUBLE)) AS sum_sq
                FROM (SELECT label, vec_id, unnest(embedding) AS e FROM embeddings)
                GROUP BY label, vec_id
            )
        ) GROUP BY label
    """,
}

ROWS_ONLY_QUERIES = sorted(set(QUERIES) - set(ORACLE_SQL))
