#!/usr/bin/env python
"""Benchmark harness sized to the box it runs on. Prints ONE JSON line:

  {"metric": "...", "value": <total sec>, "unit": "sec", "sf": ...,
   "queries": {name: sec, ...},
   "encode": {"gb_per_s": {"1": ..., "<P>": ...}, "scaling_efficiency": ...,
              "decode_gb_per_s": ..., "size_vs_reference_parquet": ...}}

Two parts, both in one local session (P = defaultParallelism, the box's
cores):
  1. Encode: source-direct ``encode_parquet`` of a deterministic
     synthetic web_pages table at parallelism 1 and P, reps interleaved
     level by level, min wall per level; scaling efficiency (T1/TP)/P,
     one decode timing, and the encoded size over ``df.write.parquet``
     defaults.
  2. Queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     per-query wall seconds, plus a scale-growth check at sf0.01.

``value`` is the sum of the query walls plus the min encode wall at
each level.  The full record goes to BENCH/results.json.  Usage:
``python bench.py``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# one rep at parallelism 4 takes a few seconds on a 4-vCPU box
ENCODE_ROWS = 500_000
ENCODE_REPS = 3

# queries that exercise distinct operator families; keep the bench list
# shorter than the full correctness surface so the run stays bounded
BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_nation_revenue",
    "topk_events_per_type",
    "events_hourly_rollup",
    "user_sessions",
    "lang_dict_stats",
    "lang_rle_runs",
    "events_ts_delta_stats",
    "block_framing_stats",
    "dedup_exact_stats",
    "doc_fingerprints",
    "text_quality",
    "token_counts_by_source",
    "lang_id_accuracy",
    "ann_topk_cosine",
    "embedding_norms_by_label",
    "minhash_lsh_recall",
    "ann_lsh_recall",
    "embedding_cosine_pairs",
    "embedding_pairs_recall",
    "simhash_fingerprints",
    "flatfile_scada_rollup",
    "zonemap_range_scan",
    "encode_roundtrip_metrics",
    # round-6 additions: engine-path oracle rows + GIF pixel decode
    "ann_lsh_topk_precomputed",
    "banded_matmul_parity",
    "multimodal_gif_pixels",
]


def _new_spark(tmp: str):
    """The session perfbench runs: local[cores], a quarter of RAM (1-8
    GiB) for the driver heap, scratch under ``tmp``."""
    from nem_mms_spark.session import get_spark

    with open("/proc/meminfo") as fh:
        mem_kb = next(
            int(line.split()[1]) for line in fh if line.startswith("MemTotal:")
        )
    os.environ.setdefault(
        "SPARK_DRIVER_MEMORY", f"{max(1, min(8, mem_kb // (4 << 20)))}g"
    )
    return get_spark(
        app_name="bench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": tmp,
            "spark.ui.showConsoleProgress": "false",
        },
    )


def run_encode(spark, tmp: str) -> dict:
    """Same job, same input, parallelism 1 and P in one session."""
    from pyspark.sql import functions as F

    from nem_mms_spark.datagen import web_pages_df
    from nem_mms_spark.jobs.decode import decode_blocks
    from nem_mms_spark.jobs.encode import encode_parquet

    src = os.path.join(tmp, "web_pages")
    ref = os.path.join(tmp, "ref_parquet")
    out = os.path.join(tmp, "enc")
    hi = spark.sparkContext.defaultParallelism
    web_pages_df(spark, ENCODE_ROWS, num_partitions=4 * hi).write.parquet(src)
    # reference baseline: parquet with default writer properties
    spark.read.parquet(src).write.parquet(ref)

    def timed(p: int) -> tuple[float, dict]:
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.monotonic()
        m = encode_parquet(spark, src, out, resume=False, parallelism=p)
        return round(time.monotonic() - t0, 3), m

    # warm workers only: the first encode pays Python worker spawn and
    # imports, which is session start-up, not encode throughput
    _warm_up(spark, src)
    timed(hi)
    walls: dict[int, list[float]] = {1: [], hi: []}
    for _rep in range(ENCODE_REPS):
        for p in (1, hi):
            wall, m = timed(p)
            walls[p].append(wall)
    raw_bytes = m["raw_bytes"]

    t0 = time.monotonic()
    n_dec = (
        decode_blocks(spark, out)
        .agg(F.count("*"), F.sum(F.length("url")))
        .collect()[0][0]
    )
    dec_wall = round(time.monotonic() - t0, 3)

    enc_bytes = _du(os.path.join(out, "blocks"))
    ref_bytes = _du(ref)
    return {
        "rows": m["rows"],
        "raw_bytes": raw_bytes,
        "per_parallelism": {
            p: {
                "wall_s": min(w),
                "all_reps_s": w,
                "gb_per_s": round(raw_bytes / min(w) / 1e9, 4),
                "docs_per_s": round(m["rows"] / min(w), 1),
            }
            for p, w in walls.items()
        },
        "scaling_efficiency": round(min(walls[1]) / min(walls[hi]) / hi, 4),
        "decode": {
            "wall_s": dec_wall,
            "rows": n_dec,
            "gb_per_s": round(raw_bytes / dec_wall / 1e9, 4),
        },
        "ratio_vs_raw": m["ratio"],
        "encoded_bytes_on_disk": enc_bytes,
        "reference_parquet_bytes": ref_bytes,
        "size_vs_reference_parquet": round(enc_bytes / max(ref_bytes, 1), 4),
    }


def _warm_up(spark, src: str) -> None:
    """Exclude one-time session costs (JIT/codegen compile, Python worker
    spawn + numpy/pyarrow imports, parquet footer caching) from the
    steady-state measurement — cluster startup is not encode throughput.
    The warm pass fans out to EVERY worker slot (a single-task warm would
    leave cores-1 python workers to spawn inside the timed region,
    penalizing exactly the wide configs)."""

    def warm(batches):
        # force the kernel imports + first numpy allocations per worker
        import numpy as np

        from nem_mms_spark.selector import ColumnContext, select_and_encode

        select_and_encode(np.arange(4096, dtype=np.int64), "<i8")
        yield from batches

    cores = spark.sparkContext.defaultParallelism
    df = spark.read.parquet(src).limit(50_000)
    df.repartition(cores * 2).mapInArrow(warm, df.schema).count()


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def run_queries(spark) -> tuple[dict, dict]:
    """Headline queries at SF_DIR, plus a SCALE-GROWTH regression check:
    every query also runs at sf0.01 (10x fewer rows) and the wall ratio
    is recorded.  A query whose wall grows much faster than the data —
    ratio > _GROWTH_FLAG x while being slow enough that fixed overhead
    isn't the explanation — gets flagged as super-linear (the round-3
    all-pairs embedding query was exactly this shape)."""
    from nem_mms_spark.queries import QUERIES

    lo_dir = SF_DIR.replace("sf0.1", "sf0.01")
    timings = {}
    lo_timings = {}
    for name in BENCH_QUERIES:
        if os.path.isdir(lo_dir) and lo_dir != SF_DIR:
            t0 = time.monotonic()
            QUERIES[name](spark, lo_dir).collect()
            lo_timings[name] = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        QUERIES[name](spark, SF_DIR).collect()
        timings[name] = round(time.monotonic() - t0, 3)
    growth = {}
    flags = []
    for name, t_hi in timings.items():
        t_lo = lo_timings.get(name)
        if not t_lo:
            continue
        ratio = round(t_hi / max(t_lo, 1e-3), 2)
        growth[name] = ratio
        # 10x data; flag when wall grows >15x AND the query is slow
        # enough (>2s) that per-job fixed overhead cannot explain it
        if ratio > 15.0 and t_hi > 2.0:
            flags.append(name)
    return timings, {
        "sf_lo": lo_dir,
        "wall_ratio_hi_over_lo": growth,
        "superlinear_flags": flags,
    }


def main() -> None:
    tmp = tempfile.mkdtemp(prefix="nem_mms_bench_")
    try:
        spark = _new_spark(tmp)
        try:
            enc = run_encode(spark, tmp)
            queries, enc["scale_growth"] = run_queries(spark)
        finally:
            spark.stop()
        per_p = enc["per_parallelism"]
        payload = {
            "metric": "encode+queries wall time",
            "value": round(
                sum(queries.values()) + sum(v["wall_s"] for v in per_p.values()),
                3,
            ),
            "unit": "sec",
            "sf": SF_DIR.rstrip("/").split("sf")[-1],
            "queries": queries,
        }
        os.makedirs("BENCH", exist_ok=True)
        with open("BENCH/results.json", "w") as f:
            json.dump({**payload, "encode": enc}, f, indent=1)
        # stdout: ONE compact line that fits whole inside a 2000-char
        # tail capture; everything else is in BENCH/results.json
        print(json.dumps({
            **payload,
            "encode": {
                "gb_per_s": {str(p): v["gb_per_s"] for p, v in per_p.items()},
                "scaling_efficiency": enc["scaling_efficiency"],
                "decode_gb_per_s": enc["decode"]["gb_per_s"],
                "size_vs_reference_parquet": enc["size_vs_reference_parquet"],
            },
            "full_results": "BENCH/results.json",
        }))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
