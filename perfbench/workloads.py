"""The benchmark's workloads.  Each drives the engine only through its
public functions, checks every timed operation's output outside the timed
region, and returns end-to-end values, per-layer values and counts.

Load model: a closed loop with one client.  The driver process issues the
next call only after the previous one returned; Spark runs on
``local[nproc]``.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time
import traceback

import numpy as np

import layers

# row counts per size; the file weights make source files of deliberately
# uneven size (the largest is 12x the smallest)
PAGE_ROWS = {"full": 40_000, "tiny": 6_000}
FILE_WEIGHTS = (12, 1, 3, 6, 1, 2, 8, 1, 4, 2)
SCAN_SELECTIVITIES = (0.001, 0.01, 0.1, 0.5)
TINY_QUERIES = ("q1_pricing_summary", "lang_dict_stats", "encode_roundtrip_metrics")
QUERY_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
# the six slowest query leaves, whose plan/job/arrow figures are reported
SLOW_QUERIES = (
    "embedding_pairs_recall", "zonemap_range_scan", "minhash_lsh_recall",
    "banded_matmul_parity", "q5_nation_revenue", "flatfile_scada_rollup",
)
# the engine's per-task stage keys that are timings; `kernel` times
# framing.to_kernel and `encode` times selector.select_and_encode (codecs
# included), so they are reported under the layer they time
STAGE_NAMES = {
    "read": "read", "rfetch": "rfetch", "rparse": "rparse", "rsort": "rsort",
    "fprint": "fprint", "kernel": "framing", "encode": "selector",
    "zstats": "zstats", "build": "build", "write": "write", "wser": "wser",
    "wio": "wio",
}


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def median(xs) -> float:
    return float(statistics.median(xs))


class Run:
    """State of one benchmark run: session, work dir, tracer, counts."""

    def __init__(self, spark, workdir, root, seed, seconds, tracer, size, nproc):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workdir = workdir
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.traced = tracer.enabled
        self.size = size
        self.nproc = nproc
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.setup: dict[str, float] = {}
        self.timed_spans = 0
        self.jobs = layers.JobGroups(self.sc, tracer.run_id)

    def setup_phase(self, name: str, fn):
        t0 = time.perf_counter()
        with self.tracer.span(f"setup.{name}"):
            out = fn()
        self.setup[name] = self.setup.get(name, 0.0) + time.perf_counter() - t0
        return out

    def check(self, ok: bool, n_ops: int, what: str) -> None:
        """Record ``n_ops`` attempted operations, all failed unless ``ok``."""
        self.attempted += n_ops
        if not ok:
            self.failed += n_ops
            self.errors.append(what)

    def attempt(self, fn, what: str):
        """Run ``fn``; an exception counts one failed operation."""
        try:
            return fn()
        except Exception:  # a failed operation is a result, not a crash
            self.attempted += 1
            self.failed += 1
            self.errors.append(f"{what}: {traceback.format_exc(limit=3)}")
            return None

    def timed_reps(self, rep, min_reps: int = 2) -> list[float]:
        """Walls of ``rep()`` calls made until ``seconds`` elapsed and
        ``min_reps`` ran; a rep returning False is left out."""
        t_end = time.perf_counter() + self.seconds
        walls = []
        first_span = len(self.tracer.spans)
        i = 0
        while i < min_reps or time.perf_counter() < t_end:
            t0 = time.perf_counter()
            with self.tracer.span("rep", rep=i):
                ok = rep()
            if ok:
                walls.append(time.perf_counter() - t0)
            i += 1
        self.timed_spans += len(self.tracer.spans) - first_span
        return walls

    def trace_overhead(self, walls: list[float]) -> float:
        """The tracer's own cost as a share of the timed walls: spans
        recorded in the timed region times the measured cost of one span."""
        return self.timed_spans * self.tracer.cost_per_span() / sum(walls)


# ------------------------------------------------------------- web pages


def write_pages(run: Run, src: str, ref: str) -> None:
    """Synthetic web_pages source files of uneven size, one per row-id range
    of ``datagen.webpages.generate_pages``, plus the same table written by
    ``df.write.parquet`` defaults as the size reference.  The seed offsets
    the row-id range, so content changes while distributions stay the same."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nem_mms_spark.datagen.webpages import generate_pages

    n = PAGE_ROWS[run.size]
    first = (run.seed % 1000) * 1_000_000
    w = np.array(FILE_WEIGHTS, dtype=np.float64)
    cuts = first + np.round(np.concatenate([[0], np.cumsum(w)]) / w.sum() * n).astype(np.int64)
    os.makedirs(src)
    for i, (lo, hi) in enumerate(zip(cuts[:-1], cuts[1:])):
        pages = generate_pages(np.arange(lo, hi))
        tbl = pa.Table.from_pandas(pages, preserve_index=False).replace_schema_metadata()
        pq.write_table(tbl, os.path.join(src, f"part-{i:05d}.parquet"))
    run.spark.read.parquet(src).write.parquet(ref)


def encode_layer_values(run: Run, results: list[dict], salted: list[dict]) -> dict:
    """Per-layer values of the encode job, medians over traced reps; the
    hot-key figures come from the ``salted`` encode results."""
    out = {}
    for key, name in STAGE_NAMES.items():
        out[f"encode.stage.{name}_s"] = median(r["task_stage_s"].get(key, 0.0) for r in results)
    tls = [layers.timeline_stats(r, run.nproc) for r in results]
    for k in ("task_s", "spark_overhead_s", "launch_lag_s", "tail_s", "util"):
        out[f"encode.{k}"] = median(t[k] for t in tls)
    out["encode.driver_setup_s"] = median(r["driver_s"]["setup"] for r in results)
    out["encode.driver_commit_s"] = median(r["driver_s"]["commit"] for r in results)
    out["encode.cpu_stall_ratio"] = median(
        1.0 - r["task_stage_s"].get("c_cpu", 0) / 1e9 / max(r["task_encode_s_sum"], 1e-9)
        for r in results
    )
    out["encode.salted.hot_row_fraction"] = median(r["hot_rows"] / r["rows"] for r in salted)
    out["encode.salted.hot_parts"] = median(r["hot_parts"] for r in salted)
    out["encode.salted.hot_keys"] = median(r["hot_keys"] for r in salted)
    return out


def codec_layer_values(run: Run, paths: list[str], sort_col: str | None) -> dict:
    """Codec, selector and framing layers on ``paths``.  The codec timings
    add lineitem, for the float64 columns ALP needs (web_pages has none)."""
    lineitem = os.path.join(run.root, "perfbench", "data", "sf0.01", "lineitem.parquet")
    files = [*paths, lineitem]
    out = {}
    with run.tracer.span("layer.codecs"):
        speeds, bad = layers.codec_speeds(layers.load_chunks(files, sort_col))
    run.check(bad == 0, 1, f"codec round-trip mismatches: {bad}")
    for c, s in speeds.items():
        out[f"codecs.{c.lower()}.enc_mb_per_s"] = s["enc_mb_per_s"]
        out[f"codecs.{c.lower()}.dec_mb_per_s"] = s["dec_mb_per_s"]
    with run.tracer.span("layer.codecs.numpy"):
        # the numpy kernels run several times slower: one file, one pass
        twins = layers.numpy_twin_speeds(files[:1], sort_col, run.workdir)
    run.check(twins["mismatches"] == 0 and not twins["native_loaded"], 1,
              f"numpy twin run: {twins}")
    for c, v in twins["enc_mb_per_s"].items():
        out[f"codecs.{c.lower()}.enc_mb_per_s.numpy"] = v
    with run.tracer.span("layer.native_probe"):
        ratio, _workers = layers.native_loaded_ratio(run.spark, 4 * run.nproc)
    out["codecs.native_loaded_ratio"] = ratio
    with run.tracer.span("layer.replay"):
        rep = layers.replay_task_body(paths, sort_col)
    for col in ("url", "warc_ts", "html", "text", "lang"):
        out[f"selector.{col}.ms_per_block"] = rep["ms_per_block"].get(col, 0.0)
    for k in ("sticky_ratio", "fallback_ratio", "est_error"):
        out[f"selector.{k}"] = rep[k]
    out["framing.to_kernel_mb_per_s"] = rep["to_kernel_mb_per_s"]
    out["framing.from_kernel_mb_per_s"] = rep["from_kernel_mb_per_s"]
    return out


class PageReader:
    """Full decodes and seeded warc_ts range scans of one encoded output.
    Each scan's answer is checked against a pyarrow filter over the source;
    ``check_decode`` compares the decoded rows' content hash with the
    source's."""

    def __init__(self, run: Run, src: str, out_dir: str):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        self.run, self.src, self.out_dir = run, src, out_dir
        tbl = pq.read_table(src, columns=["warc_ts", "url", "text"])
        ts = pc.cast(pc.cast(tbl.column("warc_ts"), "timestamp[us]"), "int64").to_numpy()
        self.ts_sorted = np.sort(ts)
        # sums of warc_ts are taken from the first timestamp, so they fit int64
        self.ts0 = int(self.ts_sorted[0])
        self.ts = ts
        self.url_len = pc.binary_length(tbl.column("url")).to_numpy()
        self.text_len = pc.binary_length(tbl.column("text")).to_numpy()
        self.rng = random.Random(run.seed)
        self.decode_walls: list[float] = []
        self.decode_counts: list[tuple[int, int]] = []
        self.scan_walls: list[float] = []
        self.scans_done: list[tuple[int, int, int]] = []

    def decode(self) -> bool:
        """One full decode into a noop sink, timed."""
        from nem_mms_spark.jobs.decode import decode_blocks_direct

        run = self.run
        t0 = time.perf_counter()
        with run.jobs.group("decode") as gid:
            def call():
                with run.tracer.span("decode.call"):
                    df = decode_blocks_direct(run.spark, self.out_dir, parallelism=run.nproc)
                with run.tracer.span("decode.exec"):
                    df.write.format("noop").mode("overwrite").save()
                return True

            ok = run.attempt(call, "decode_blocks_direct")
        if ok:
            self.decode_walls.append(time.perf_counter() - t0)
            if run.tracer.enabled:
                self.decode_counts.append(run.jobs.counts(gid))
        return bool(ok)

    def _scan(self, lo: int, hi: int) -> tuple[int, ...]:
        from pyspark.sql import functions as F

        from nem_mms_spark.jobs.decode import scan_blocks

        with self.run.tracer.span("scan.call"):
            df = scan_blocks(self.run.spark, self.out_dir, "warc_ts", lo=lo, hi=hi)
        with self.run.tracer.span("scan.action"):
            ts_us = F.unix_micros(F.col("warc_ts").cast("timestamp")) - F.lit(self.ts0)
            row = df.agg(
                F.count("*").alias("n"),
                F.sum(ts_us).alias("ts"),
                F.sum(F.octet_length("url")).alias("url"),
                F.sum(F.octet_length("text")).alias("text"),
            ).collect()[0]
        return tuple(int(row[k] or 0) for k in ("n", "ts", "url", "text"))

    def _expected(self, lo: int, hi: int) -> tuple[int, ...]:
        m = (self.ts >= lo) & (self.ts <= hi)
        return (int(m.sum()), int((self.ts[m] - self.ts0).sum()),
                int(self.url_len[m].sum()), int(self.text_len[m].sum()))

    def scan_ranges(self, rng: random.Random) -> list[tuple[int, int]]:
        """One warc_ts range per selectivity, at a seeded position."""
        n = len(self.ts_sorted)
        out = []
        for sel in SCAN_SELECTIVITIES:
            k = max(1, int(round(sel * n)))
            start = rng.randrange(0, n - k + 1)
            out.append((int(self.ts_sorted[start]), int(self.ts_sorted[start + k - 1])))
        return out

    def scan_batch(self, rng: random.Random | None = None) -> None:
        """One timed, checked scan per selectivity."""
        run = self.run
        for lo, hi in self.scan_ranges(rng or self.rng):
            t0 = time.perf_counter()
            got = run.attempt(lambda: self._scan(lo, hi), "scan_blocks")
            if got is None:
                continue
            self.scan_walls.append(time.perf_counter() - t0)
            run.check(got == self._expected(lo, hi), 1, f"scan [{lo}, {hi}] returned {got}")
            if run.tracer.enabled:
                self.scans_done.append((lo, hi, got[0]))

    def check_decode(self, n_ops: int) -> None:
        """Decode is deterministic, so one content check covers ``n_ops``."""
        from nem_mms_spark.jobs.decode import decode_blocks_direct

        run = self.run
        got = run.attempt(
            lambda: content_hash(decode_blocks_direct(run.spark, self.out_dir)), "decode check"
        )
        want = content_hash(run.spark.read.parquet(self.src))
        run.check(got == want, n_ops, f"decoded content {got} != source {want}")

    def layer_values(self) -> dict:
        tr = self.run.tracer
        return {
            "decode.call_s": median(tr.durations("decode.call")),
            "decode.exec_s": median(tr.durations("decode.exec")),
            "decode.jobs": median(j for j, _ in self.decode_counts),
            "decode.tasks": median(t for _, t in self.decode_counts),
            "scan.meta_s": median(tr.durations("scan.call")),
            "scan.data_s": median(tr.durations("scan.action")),
            "scan_p50_s": float(np.percentile(self.scan_walls, 50)),
            "scan_p90_s": float(np.percentile(self.scan_walls, 90)),
            **zone_map_read_stats(self.out_dir, self.scans_done),
        }


def content_hash(df) -> tuple[int, int]:
    """Order-insensitive (row count, sum of 64-bit row hashes mod 2^64)."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0) % (1 << 64)


def encoded_bytes(out_dir: str) -> int:
    return du(os.path.join(out_dir, "blocks")) + du(os.path.join(out_dir, "manifest"))


def _pages(run: Run) -> tuple[str, int]:
    """Set-up shared by the web_pages workloads: source files and the size
    of the reference parquet."""
    src = os.path.join(run.workdir, "src")
    ref = os.path.join(run.workdir, "ref")
    run.setup_phase("datagen", lambda: write_pages(run, src, ref))
    return src, sum(os.path.getsize(f) for f in parquet_files(ref))


def _verify(run: Run, src: str, out_dir: str, n_ops: int) -> None:
    """Round-trip check of one encoded output.  Encode is deterministic, so
    one check covers ``n_ops`` encodes of the same source."""
    from nem_mms_spark.jobs.verify import verify_roundtrip

    ok = run.attempt(
        lambda: verify_roundtrip(run.spark, run.spark.read.parquet(src), out_dir),
        "verify_roundtrip",
    )
    run.check(ok is not None, n_ops, f"encode round trip of {out_dir}")


def _encode_checked(run: Run, src: str, out_dir: str, partitioning: str) -> dict:
    """One untimed, checked encode."""
    from nem_mms_spark.jobs.encode import encode_parquet

    r = encode_parquet(run.spark, src, out_dir, partitioning=partitioning,
                       parallelism=run.nproc, resume=False)
    _verify(run, src, out_dir, 1)
    return r


def _encode(run: Run, partitioning: str) -> dict:
    from nem_mms_spark.jobs.encode import encode_parquet

    src, ref_bytes = _pages(run)
    out_dir = os.path.join(run.workdir, "encoded")

    def encode():
        return encode_parquet(
            run.spark, src, out_dir, partitioning=partitioning,
            parallelism=run.nproc, resume=False,
        )

    run.setup_phase("warm", encode)
    traced_results, last = [], []

    def rep():
        with run.tracer.span("encode.call"):
            r = run.attempt(encode, "encode_parquet")
        if r is None:
            return False
        if run.tracer.enabled:
            traced_results.append(r)
        last[:] = [r]
        return True

    walls = run.timed_reps(rep)
    if not walls:
        raise RuntimeError("every encode rep failed")
    _verify(run, src, out_dir, len(walls))
    raw_mb = last[0]["raw_bytes"] / 1e6
    e2e = {"wall_s": median(walls), "size_vs_parquet": encoded_bytes(out_dir) / ref_bytes}
    layer = {"encode_mb_per_s": raw_mb / median(walls)}
    if run.traced:
        layer["trace.overhead_ratio"] = run.trace_overhead(walls)
        salted = traced_results
        if partitioning != "salted":
            # the salted path and the read path, once each outside the timed
            # region, so one traced run reaches every engine layer
            salted_dir = os.path.join(run.workdir, "encoded_salted")
            with run.tracer.span("layer.salted"):
                salted = [_encode_checked(run, src, salted_dir, "salted")]
            reader = PageReader(run, src, out_dir)
            for _ in range(2):
                reader.decode()
            reader.scan_batch()
            reader.check_decode(len(reader.decode_walls))
            layer.update(reader.layer_values())
        layer.update(encode_layer_values(run, traced_results, salted))
        layer.update(codec_layer_values(run, parquet_files(src)[:4], "warc_ts"))
    return {"e2e": e2e, "layer": layer, "info": {"raw_mb": raw_mb, "walls": walls}}


def encode_pages(run: Run) -> dict:
    return _encode(run, "source_direct")


def encode_skewed(run: Run) -> dict:
    return _encode(run, "salted")


# ---------------------------------------------------------------- decode


def decode_scan(run: Run) -> dict:
    src, ref_bytes = _pages(run)
    out_dir = os.path.join(run.workdir, "encoded")
    enc = run.setup_phase(
        "encode", lambda: _encode_checked(run, src, out_dir, "source_direct")
    )
    size = encoded_bytes(out_dir) / ref_bytes
    if run.size == "tiny" and os.environ.get("PERFBENCH_CORRUPT_BITPACK"):
        truncate_bitpacked_payload(out_dir)
    reader = PageReader(run, src, out_dir)

    def warm():
        reader.decode()
        reader.scan_batch(random.Random(-1))

    run.setup_phase("warm", warm)
    for samples in (reader.decode_walls, reader.decode_counts, reader.scan_walls, reader.scans_done):
        samples.clear()

    def rep():
        ok = reader.decode()
        reader.scan_batch()
        return ok

    walls = run.timed_reps(rep)
    if not walls:
        raise RuntimeError("every decode rep failed")
    reader.check_decode(len(walls))
    raw_mb = enc["raw_bytes"] / 1e6
    e2e = {"wall_s": median(walls), "size_vs_parquet": size}
    layer = {}
    if run.traced:
        layer.update(reader.layer_values())
        layer.update(codec_layer_values(run, parquet_files(src)[:4], "warc_ts"))
        layer["trace.overhead_ratio"] = run.trace_overhead(walls)
    return {"e2e": e2e, "layer": layer, "info": {
        "raw_mb": raw_mb, "walls": walls, "scans": len(reader.scan_walls),
        "decode_mb_per_s": raw_mb / median(reader.decode_walls),
        "scan_p50_s": float(np.percentile(reader.scan_walls, 50)),
        "scan_p90_s": float(np.percentile(reader.scan_walls, 90)),
    }}


def zone_map_read_stats(out_dir: str, scans: list[tuple[int, int, int]]) -> dict:
    """Blocks whose warc_ts zone map overlaps each scan range (what pruning
    must read) as a share of all blocks, and rows in those blocks per row
    returned."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    zm = ds.dataset(os.path.join(out_dir, "blocks"), format="parquet", partitioning="hive")
    zm = zm.to_table(columns=["column", "value_count", "zmin_i", "zmax_i"])
    zm = zm.filter(pc.equal(zm.column("column"), "warc_ts"))
    zmin = zm.column("zmin_i").to_numpy()
    zmax = zm.column("zmax_i").to_numpy()
    vc = zm.column("value_count").to_numpy()
    read, examined, returned = [], 0, 0
    for lo, hi, n_rows in scans:
        hit = (zmax >= lo) & (zmin <= hi)
        read.append(hit.mean())
        examined += int(vc[hit].sum())
        returned += n_rows
    return {
        "scan.blocks_read_ratio": float(np.mean(read)) if read else 0.0,
        "scan.rows_examined_per_row": examined / returned if returned else 0.0,
    }


def truncate_bitpacked_payload(out_dir: str) -> None:
    """Self-test corruption: cut one bit-packed payload of the encoded
    output to half its length, in place (the output is the run's own copy)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    blocks = os.path.join(out_dir, "blocks")
    for codec in ("FOR_BITPACK", "DELTA_FOR_BITPACK", "PFOR_BITPACK", "DELTA_PFOR_BITPACK"):
        for part in sorted(os.listdir(blocks)):
            path = os.path.join(blocks, part, "data.parquet")
            tbl = pq.read_table(path)
            codecs = tbl.column("codec").to_pylist()
            if codec not in codecs:
                continue
            i = codecs.index(codec)
            payload = tbl.column("payload").to_pylist()
            payload[i] = payload[i][: len(payload[i]) // 2]
            j = tbl.column_names.index("payload")
            tbl = tbl.set_column(j, "payload", pa.array(payload, type=pa.binary()))
            pq.write_table(tbl, path)
            return
    raise RuntimeError("no bit-packed payload to truncate")


# ---------------------------------------------------------------- queries


def _normalize(rows, cols):
    """Sort columns by name, round floats, sort rows: the comparison the
    repository's oracle test uses."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in idx:
            v = row[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else round(v, 6)
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def query_suite(run: Run) -> dict:
    import duckdb

    from nem_mms_spark import queries

    sf = os.path.join(run.root, "perfbench", "data", "sf0.01")
    names = sorted(queries.QUERIES)
    if run.size == "tiny":
        names = list(TINY_QUERIES)
    oracle = duckdb.connect()
    for t in QUERY_TABLES:
        oracle.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    expected = {}

    def want(name):
        if name not in expected:
            res = oracle.execute(queries.ORACLE_SQL[name])
            expected[name] = _normalize(res.fetchall(), [d[0] for d in res.description])
        return expected[name]

    def warm():
        # fills the engine's per-session encode cache for the two queries
        # that encode documents; every other query is timed from its first
        # call in the session, as a user running the suite once sees it
        for name in ("encode_roundtrip_metrics", "zonemap_range_scan"):
            queries.QUERIES[name](run.spark, sf).collect()

    run.setup_phase("warm", warm)
    order = list(names)
    random.Random(run.seed).shuffle(order)
    per_query: dict[str, list[float]] = {n: [] for n in names}
    counts: dict[str, dict] = {}

    def one(name):
        traced = run.traced
        t0 = time.perf_counter()
        with run.jobs.group(name) as gid, run.tracer.span(f"query.{name}"):
            df = queries.QUERIES[name](run.spark, sf)
            if traced:
                with run.tracer.span("query.plan"):
                    df._jdf.queryExecution().executedPlan()
            rows = df.collect()
        wall = time.perf_counter() - t0
        if traced:
            jobs, tasks = run.jobs.counts(gid)
            counts[name] = {
                "jobs": jobs, "tasks": tasks,
                "plan_s": run.tracer.durations("query.plan")[-1],
                "arrow_rows": layers.arrow_rows(df),
            }
        # every query has a DuckDB oracle; one without it counts as failed
        ok = name in queries.ORACLE_SQL and _normalize(
            [tuple(r) for r in rows], df.columns) == want(name)
        run.check(ok, 1, f"query {name} differs from its oracle")
        return wall

    def rep():
        for name in order:
            wall = run.attempt(lambda: one(name), f"query {name}")
            if wall is not None:
                per_query[name].append(wall)
        return True

    walls = run.timed_reps(rep, min_reps=1)
    oracle.close()
    suite_s = sum(median(v) for v in per_query.values() if v)
    # the engine's per-session encode of documents, filled by the warm-up;
    # it has no public accessor
    enc_dir = queries._ENCODE_CACHE[(sf, ())]
    enc_bytes = du(os.path.join(enc_dir, "blocks")) + du(os.path.join(enc_dir, "manifest"))
    e2e = {
        "wall_s": suite_s,
        "size_vs_parquet": enc_bytes / os.path.getsize(f"{sf}/documents.parquet"),
    }
    layer = {}
    if run.traced:
        for name in sorted(queries.QUERIES):
            layer[f"query.{name}.s"] = median(per_query[name]) if per_query.get(name) else 0.0
        for k in ("plan_s", "jobs", "tasks", "arrow_rows"):
            layer[f"query.{k}"] = sum(c[k] for c in counts.values())
        for name in SLOW_QUERIES:
            for k in ("plan_s", "jobs", "arrow_rows"):
                layer[f"query.{name}.{k}"] = counts.get(name, {}).get(k, 0)
        docs = os.path.join(sf, "documents.parquet")
        layer.update(codec_layer_values(run, [docs], None))
        layer["trace.overhead_ratio"] = run.trace_overhead(walls)
    return {"e2e": e2e, "layer": layer, "info": {
        "passes": len(walls), "query_s": {n: median(v) for n, v in per_query.items() if v},
    }}


WORKLOADS = {
    "encode_pages": encode_pages,
    "encode_skewed": encode_skewed,
    "decode_scan": decode_scan,
    "query_suite": query_suite,
}
