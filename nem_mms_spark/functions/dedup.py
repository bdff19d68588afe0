"""Deduplication operators for web-scale corpora.

  exact            hash-groupBy on content fingerprint (one shuffle)
  ngram Jaccard    word-shingle explode + self-join on shingle
  MinHash + LSH    per-doc signature via min(xxhash64(shingle, seed)),
                   banded bucket join -> candidate pairs (the scalable
                   near-dup path: no O(n^2) compare, shuffle on band key)
  SimHash          64-bit sign-sum of token hashes, all JVM-side aggs

Everything stays in built-in functions (xxhash64, explode, groupBy) so the
shuffles are the only cost; at 100 TB the LSH band join is the intended
path and the pairwise Jaccard is a verification tool for candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from nem_mms_spark.functions.text import tokens_col


def exact_dedup_stats(documents: DataFrame) -> DataFrame:
    """Per-lang distinct/total text counts (hash-groupBy dedup metrics)."""
    return (
        documents.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct(F.md5("text")).alias("n_distinct"),
        )
        .withColumn("dup_docs", F.col("n_docs") - F.col("n_distinct"))
        .select("lang", "n_docs", "n_distinct", "dup_docs")
    )


def shingles_df(
    documents: DataFrame, k: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """Distinct word k-shingles per document (explode path)."""
    toks = tokens_col(F.lower(F.col("text")))
    sh = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    return (
        documents.select(id_col, F.explode(sh).alias("shingle"))
        .distinct()
    )


def jaccard_pairs(
    documents: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Pairwise n-gram Jaccard via shingle self-join (verification-scale;
    run on LSH candidates at scale, never the full corpus).

    `max_shingle_df` drops shingles whose document frequency exceeds the
    cap BEFORE the self-join (standard MinHash practice): one boilerplate
    shingle shared by 10**6 docs would otherwise contribute 10**12 join
    rows.  Capped shingles still count toward each doc's shingle-set size,
    so the Jaccard DENOMINATOR is exact and the estimate is a lower bound
    dominated by rare (discriminative) shingles.  None = exact (small
    inputs / LSH-candidate verification only)."""
    sh = shingles_df(documents, k, id_col)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    # explicit partition count on the join key (r7): the shingle rows are
    # byte-tiny, so AQE's size-based coalescing would fuse the shuffle to
    # one partition and run the EXPLODING self-join (sum df^2 rows —
    # boilerplate shingles shared by most docs make it quadratic in doc
    # count) on a single core; an explicit count is exempt from
    # coalescing, and the window/join reuse the partitioning
    par = documents.sparkSession.sparkContext.defaultParallelism
    sh = sh.repartition(par, "shingle")
    if max_shingle_df is not None:
        dfreq = F.count("*").over(W.partitionBy("shingle"))
        sh = (
            sh.withColumn("df", dfreq)
            .filter(F.col("df") <= max_shingle_df)
            .drop("df")
        )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(
        F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a")
    )
    sb = sizes.select(
        F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b")
    )
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .withColumn(
            "raw_j",
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("raw_j") >= threshold)  # threshold on the raw value
        .select(
            "doc_a", "doc_b", "n_common", F.round("raw_j", 4).alias("jaccard")
        )
    )


def minhash_signatures(
    documents: DataFrame, n_perm: int = 16, k: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """MinHash signature per doc: perm i = min(xxhash64(shingle, i))."""
    sh = shingles_df(documents, k, id_col)
    aggs = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"mh_{i}")
        for i in range(n_perm)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    documents: DataFrame,
    n_perm: int = 16,
    bands: int = 4,
    k: int = 3,
    id_col: str = "doc_id",
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become candidate pairs.
    Shuffles on band-bucket key only — the 100 TB-safe near-dup join.

    `max_bucket` drops band buckets larger than the cap before the
    self-join: a boilerplate-heavy band bucket with B members contributes
    B*(B-1)/2 pairs, so one mega-bucket can dwarf the rest of the job.
    Docs in a dropped bucket still pair through their OTHER bands."""
    rows_per_band = n_perm // bands
    sig = minhash_signatures(documents, n_perm, k, id_col)
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh_{i}") for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.xxhash64(*cols).alias("bucket"))
        )
    exploded = sig.select(
        id_col, F.explode(F.array(*band_cols)).alias("bb")
    ).select(id_col, "bb.band", "bb.bucket")
    bsize = F.count("*").over(W.partitionBy("band", "bucket"))
    exploded = exploded.withColumn("bsz", bsize).filter(
        F.col("bsz") >= 2
        if max_bucket is None
        else (F.col("bsz") >= 2) & (F.col("bsz") <= max_bucket)
    ).drop("bsz")
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )


SIMHASH_BITS = 60


def portable_token_hash(col) -> "F.Column":
    """Engine-portable 60-bit token hash: the first 15 hex digits of md5,
    parsed as an integer.  Reproducible across Spark / DuckDB / any engine
    with md5 — which makes SimHash fingerprints comparable across systems
    (and SQL-oracle-checkable).  60 bits keeps the value positive in int64
    so no sign-bit gymnastics on either engine."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash_df(documents: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """SimHash per doc: sign of per-bit sums of token hashes, SIMHASH_BITS
    wide.  Pure JVM integer aggregation, two-level by (doc, bit).

    r7 plan change (identical simhash values — exact integer math): the
    previous one-shuffle shape aggregated 60 separate ``sum(when(...))``
    expressions and then folded them through a 60-term when/add chain;
    Catalyst spent ~0.9 s PER INVOCATION analyzing that tree (measured:
    ``executedPlan`` alone, vs ~0.1 s for this shape), a fixed cost that
    dominated the query wall at every scale.  Here each token row
    explodes into SIMHASH_BITS (doc, bit, ±1) rows — pre-aggregated
    map-side by the partial hash agg, so the first shuffle carries at
    most SIMHASH_BITS 3-int rows per doc — and the per-bit sums fold
    into the fingerprint with a second tiny byte-bounded agg.  The plan
    has O(1) expressions in SIMHASH_BITS, and per-doc shuffle bytes stay
    far below the doc's own text bytes that the tokenize stage already
    scanned."""
    toks = documents.select(
        id_col, F.explode(tokens_col(F.lower(F.col("text")))).alias("tok")
    ).withColumn("h", portable_token_hash(F.col("tok")))
    bits = toks.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("i"),
        "h",
    ).select(
        id_col,
        "i",
        F.when(F.expr("shiftright(h, i)").bitwiseAND(F.lit(1)) == 1, 1)
        .otherwise(-1)
        .alias("pm"),
    )
    per_bit = bits.groupBy(id_col, "i").agg(F.sum("pm").alias("s"))
    return per_bit.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(cast(1 as bigint), i)"))
            .otherwise(F.lit(0).cast("long"))
        ).alias("simhash")
    )
