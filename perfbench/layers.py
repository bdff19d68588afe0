"""Per-layer probes, each timing calls into one engine layer from outside.

* codecs   — ``codecs.registry.encode_block`` / ``decode_block`` on real
             column chunks; numpy twins in a child process with
             ``NEM_MMS_NO_NATIVE=1``; native-kernel status from every
             Python worker through a ``mapInArrow`` probe.
* selector — a serial in-driver replay of the encode task body over source
             files: ``framing.block_ranges``, ``framing.to_kernel``,
             ``selector.select_and_encode`` with one ``ColumnContext`` per
             (file, column), then ``decode_block`` and ``framing.from_kernel``.
* jobs     — job/task counts from ``sc.statusTracker()`` under one job group
             per call, the encode job's own timeline, and rows out of the
             Python/Arrow nodes of an executed plan.

Run as a script (``python3 layers.py numpy-twins <args-json>``) it prints the
numpy-twin codec speeds; the parent sets ``NEM_MMS_NO_NATIVE=1`` for it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from contextlib import contextmanager

import numpy as np

CODECS = (
    "PLAIN", "DICT", "RLE", "FOR_BITPACK", "DELTA_FOR_BITPACK", "PFOR_BITPACK",
    "DELTA_PFOR_BITPACK", "FSST", "ALP", "WORD_DICT",
)
NUMPY_TWIN_CODECS = ("FSST", "FOR_BITPACK", "WORD_DICT")
CHUNK_ROWS = 8192
ARROW_NODE_MARKERS = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "FlatMapGroupsInPandas")


# ------------------------------------------------------------------ codecs


def load_chunks(paths: list[str], sort_col: str | None = None, rows: int = CHUNK_ROWS):
    """First ``rows`` rows of every column of every file, framed the way the
    encode task frames them: [(label, values, dtype, raw_bytes)]."""
    import pyarrow.parquet as pq

    from nem_mms_spark import framing

    chunks = []
    for path in paths:
        tbl = pq.read_table(path)
        if sort_col and sort_col in tbl.column_names:
            tbl = tbl.sort_by([(sort_col, "ascending")])
        for name in tbl.column_names:
            arr = tbl.column(name).slice(0, rows).combine_chunks()
            try:
                values, dtype, _validity, _nulls, raw = framing.to_kernel(arr)
            except ValueError:
                continue  # nested types (list<float>) have no kernel form
            chunks.append((f"{os.path.basename(path)}:{name}", values, dtype, raw))
    return chunks


def _same(a, b) -> bool:
    if isinstance(a, tuple):
        return all(np.array_equal(np.asarray(x), np.asarray(y)) for x, y in zip(a, b))
    return np.asarray(a).tobytes() == np.asarray(b).tobytes()


def codec_speeds(chunks, codecs=CODECS, repeat: int = 3) -> tuple[dict, int]:
    """Best-of-``repeat`` encode and decode MB/s per codec over every chunk
    whose dtype the codec accepts (MB = raw-equivalent input bytes).
    Returns (speeds, round-trip mismatches)."""
    from nem_mms_spark.codecs import registry

    enc_s = dict.fromkeys(codecs, 0.0)
    dec_s = dict.fromkeys(codecs, 0.0)
    mb = dict.fromkeys(codecs, 0.0)
    bad = 0
    for _label, values, dtype, raw in chunks:
        count = len(values[1]) - 1 if dtype == "bytes" else len(values)
        if count == 0:
            continue
        for codec in codecs:
            if codec not in registry.candidate_codecs(dtype):
                continue
            best_e = best_d = float("inf")
            for _ in range(repeat):
                t0 = time.perf_counter()
                payload, params = registry.encode_block(values, dtype, codec)
                t1 = time.perf_counter()
                out = registry.decode_block(payload, params, count, dtype, codec)
                t2 = time.perf_counter()
                best_e, best_d = min(best_e, t1 - t0), min(best_d, t2 - t1)
            bad += not _same(values, out)
            enc_s[codec] += best_e
            dec_s[codec] += best_d
            mb[codec] += raw / 1e6
    speeds = {
        c: {
            "enc_mb_per_s": mb[c] / enc_s[c] if enc_s[c] else 0.0,
            "dec_mb_per_s": mb[c] / dec_s[c] if dec_s[c] else 0.0,
        }
        for c in codecs
    }
    return speeds, bad


def numpy_twin_speeds(paths: list[str], sort_col: str | None, workdir: str) -> dict:
    """Encode MB/s of NUMPY_TWIN_CODECS with the native kernels disabled,
    measured in a child interpreter (the kernel choice is made at import)."""
    env = dict(os.environ, NEM_MMS_NO_NATIVE="1")
    args = json.dumps({"paths": paths, "sort_col": sort_col})
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "numpy-twins", args],
        env=env, cwd=workdir, capture_output=True, text=True, timeout=170,
        check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


def native_loaded_ratio(spark, n_tasks: int) -> tuple[float, int]:
    """Share of Python workers whose ``codecs.native.lib`` loaded, over the
    distinct worker processes that ran one of ``n_tasks`` probe tasks."""
    import pyarrow as pa

    def probe(batches):
        import os as _os

        from nem_mms_spark.codecs import native

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pid": pa.array([_os.getpid()], pa.int32()),
             "loaded": pa.array([native.lib is not None], pa.bool_())}
        )

    rows = (
        spark.range(0, n_tasks, numPartitions=n_tasks)
        .mapInArrow(probe, "pid int, loaded boolean")
        .collect()
    )
    by_pid = {r["pid"]: r["loaded"] for r in rows}
    return sum(by_pid.values()) / max(len(by_pid), 1), len(by_pid)


# ---------------------------------------------------------- selector/framing


def replay_task_body(paths: list[str], sort_col: str | None) -> dict:
    """Serial replay of the encode task body over ``paths``, timing framing
    and the selector separately.  Per column: selector seconds and blocks;
    overall: sticky blocks (returned with empty estimates), fallbacks (the
    returned codec is not the argmin of the estimates), the estimate error
    of the winner and framing MB/s each way."""
    import pyarrow.parquet as pq

    from nem_mms_spark import framing
    from nem_mms_spark.codecs import registry
    from nem_mms_spark.selector import ColumnContext, select_and_encode

    per_col: dict[str, list[float]] = {}
    blocks = sticky = fallback = 0
    est_err: list[float] = []
    to_s = from_s = raw_mb = 0.0
    for path in paths:
        tbl = pq.read_table(path)
        if sort_col and sort_col in tbl.column_names:
            tbl = tbl.sort_by([(sort_col, "ascending")])
        ctxs = {name: ColumnContext() for name in tbl.column_names}
        for start, length in framing.block_ranges(tbl):
            for name in tbl.column_names:
                arr = tbl.column(name).slice(start, length).combine_chunks()
                t0 = time.perf_counter()
                try:
                    values, dtype, validity, nulls, raw = framing.to_kernel(arr)
                except ValueError:
                    continue
                t1 = time.perf_counter()
                codec, payload, params, est = select_and_encode(values, dtype, ctxs[name])
                t2 = time.perf_counter()
                decoded = registry.decode_block(payload, params, length - nulls, dtype, codec)
                t3 = time.perf_counter()
                framing.from_kernel(decoded, str(arr.type), validity, length, nulls)
                t4 = time.perf_counter()
                to_s += t1 - t0
                from_s += t4 - t3
                raw_mb += raw / 1e6
                col = per_col.setdefault(name, [0.0, 0])
                col[0] += t2 - t1
                col[1] += 1
                blocks += 1
                if not est:
                    sticky += 1
                    continue
                order = registry.candidate_codecs(dtype)
                best = min((c for c in order if c in est), key=lambda c: (est[c], order.index(c)))
                fallback += codec != best
                if codec in est and payload:
                    est_err.append(abs(len(payload) - est[codec]) / len(payload))
    return {
        "ms_per_block": {c: 1e3 * s / n for c, (s, n) in per_col.items()},
        "blocks": blocks,
        "sticky_ratio": sticky / max(blocks, 1),
        "fallback_ratio": fallback / max(blocks - sticky, 1),
        "est_error": float(np.median(est_err)) if est_err else 0.0,
        "to_kernel_mb_per_s": raw_mb / to_s if to_s else 0.0,
        "from_kernel_mb_per_s": raw_mb / from_s if from_s else 0.0,
    }


# -------------------------------------------------------------------- jobs


class JobGroups:
    """One Spark job group per traced call, so the status tracker can say
    how many jobs and tasks that call ran."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.n = 0

    @contextmanager
    def group(self, label: str):
        gid = f"perfbench-{self.run_id}-{self.n}"
        self.n += 1
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setJobGroup(f"perfbench-{self.run_id}-idle", "idle")

    def counts(self, gid: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in list(info.stageIds) if info else []:
                stage = st.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
        return len(jobs), tasks


def arrow_rows(df) -> int:
    """Rows out of every Python/Arrow boundary node of ``df``'s executed
    plan (SQL metric pythonNumRowsReceived), read after the action ran."""
    total = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if "QueryStage" in name:
            stack.append(node.plan())
        if any(m in name for m in ARROW_NODE_MARKERS):
            metric = node.metrics().get("pythonNumRowsReceived")
            if metric.isDefined():
                total += int(metric.get().value())
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return total


def timeline_stats(result: dict, parallelism: int) -> dict:
    """Decompose one ``encode_parquet`` job wall using its per-task timeline:
    summed task bodies, Spark overhead (wall minus task bodies per slot),
    launch lag, the tail with fewer than half the slots busy, utilisation."""
    tl = result["timeline"]
    wall = result["job_wall_s"]
    task_s = sum(t["end_s"] - t["start_s"] for t in tl)
    launch = min((t["start_s"] for t in tl), default=0.0)
    edges = sorted({0.0, wall, *(t["start_s"] for t in tl), *(t["end_s"] for t in tl)})
    tail = 0.0
    for a, b in zip(edges, edges[1:]):
        if a < launch:
            continue
        mid = (a + b) / 2
        busy = sum(t["start_s"] <= mid < t["end_s"] for t in tl)
        if busy < parallelism / 2:
            tail += b - a
    return {
        "task_s": task_s,
        "spark_overhead_s": wall - task_s / parallelism,
        "launch_lag_s": launch,
        "tail_s": tail,
        "util": task_s / (parallelism * wall) if wall else 0.0,
    }


def _numpy_twins_main(args_json: str) -> None:
    args = json.loads(args_json)
    from nem_mms_spark.codecs import native

    chunks = load_chunks(args["paths"], args["sort_col"])
    speeds, bad = codec_speeds(chunks, NUMPY_TWIN_CODECS, repeat=1)
    print(json.dumps({
        "native_loaded": native.lib is not None,
        "mismatches": bad,
        "enc_mb_per_s": {c: s["enc_mb_per_s"] for c, s in speeds.items()},
    }))


if __name__ == "__main__" and len(sys.argv) == 3 and sys.argv[1] == "numpy-twins":
    _numpy_twins_main(sys.argv[2])
