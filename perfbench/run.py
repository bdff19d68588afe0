"""Layered benchmark of the nem_mms_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload from the root of a checkout, on a Spark session sized
from the machine's CPU count and memory.  ``BENCHMARK.json`` at the root
names the workloads the benchmark gates and every metric it prints;
``metrics.json`` here maps each
metric to its layer, its workloads and the end-to-end metric it should
move, and lists every runnable workload with the reason it exists.  The
last line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The full run
record (box, versions, Spark conf, every metric, spans) is written to
``.perfbench_out/`` in the checkout.  Everything else the run writes goes
to ``.perfbench_work/`` in the checkout and is removed at exit.

``--size tiny`` shrinks the inputs for the self-test (``selftest.py``).
Exits 2 without a result when the engine is not beside this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def box_config() -> dict:
    env = {k: v for k, v in os.environ.items() if k != "OMP_NUM_THREADS"}
    nproc = int(subprocess.run(["nproc"], env=env, capture_output=True, text=True,
                               check=True).stdout)
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    # a quarter of RAM for the driver heap, between 1 and 8 GiB: the Python
    # workers, the page cache and the encoded files share the rest
    heap_gb = max(1, min(8, mem_kb // (4 << 20)))
    return {"nproc": nproc, "mem_total_kb": mem_kb, "driver_memory": f"{heap_gb}g"}


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return res.stdout.strip() or None


def process_tree(pid: int) -> list[int]:
    """``pid`` and its live descendants."""
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    stack.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def peak_rss_mb(pids: list[int]) -> dict[int, float]:
    """VmHWM in MB of each of ``pids`` that is still alive."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                out[pid] = next(
                    (int(line.split()[1]) for line in fh if line.startswith("VmHWM:")), 0
                ) / 1024
        except OSError:
            continue
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, its JVM and the JVM's Python workers, and wait for each."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = process_tree(proc.pid)[1:] if proc else []
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in pids:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, 9)
                deadline = time.monotonic() + 5
            time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "nem_mms_spark", "__init__.py")):
        print(f"perfbench: no nem_mms_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(HERE, "metrics.json")) as fh:
        known = json.load(fh)["workloads"]
    if args.workload not in known:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    box = box_config()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    workdir = os.path.join(ROOT, ".perfbench_work", run_id)
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_GRAFT_CPUS": str(box["nproc"]),
        "SPARK_DRIVER_MEMORY": box["driver_memory"],
    })
    sys.path[:0] = [HERE, ROOT]
    try:
        return run(args, spec, box, run_id, workdir, tmp)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def run(args, spec, box, run_id, workdir, tmp) -> int:
    from tracing import Tracer
    import workloads

    tracer = Tracer(run_id, enabled=bool(args.trace))
    t0 = time.perf_counter()
    with tracer.span("setup.session"):
        from nem_mms_spark.session import get_spark

        spark = get_spark(
            master=f"local[{box['nproc']}]",
            app_name="perfbench",
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
    session_s = time.perf_counter() - t0
    try:
        r = workloads.Run(spark, workdir, ROOT, args.seed, args.seconds, tracer,
                          args.size, box["nproc"])
        result = workloads.WORKLOADS[args.workload](r)
        jvm = spark.sparkContext._gateway.proc
        rss = peak_rss_mb([os.getpid(), *(process_tree(jvm.pid) if jvm else [])])
        conf = dict(spark.sparkContext.getConf().getAll())
    finally:
        stop_session(spark)

    setup_s = session_s + sum(r.setup.values())
    # forked Python workers each count the pages they share with their daemon
    e2e = {**result["e2e"], "setup_s": setup_s, "peak_rss_mb": sum(rss.values())}
    layer = {
        **result["layer"],
        "setup.session_s": session_s,
        "setup.datagen_s": r.setup.get("datagen", 0.0),
        "setup.warm_s": r.setup.get("warm", 0.0) + r.setup.get("encode", 0.0),
        "failed_ratio": r.failed / max(r.attempted, 1),
    }
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layer if args.trace else e2e
    missing = sorted({m["name"] for m in names} - set(values))
    if not args.trace and missing:
        raise RuntimeError(f"end-to-end metrics not measured: {missing}")
    # a per-layer metric of a layer this workload does not reach reads 0
    metrics = {
        m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in names
    }

    import numpy
    import pyarrow
    import pyspark

    record = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "size": args.size,
        "box": {**box, "python": platform.python_version(), "pyspark": pyspark.__version__,
                "pyarrow": pyarrow.__version__, "numpy": numpy.__version__},
        "git_commit": git_commit(),
        "spark_conf": conf,
        "end_to_end": e2e, "per_layer": layer, "not_exercised": missing,
        "info": result["info"], "setup": {"session": session_s, **r.setup},
        "peak_rss_mb_by_pid": rss,
        "attempted": r.attempted, "failed": r.failed, "errors": r.errors,
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if args.trace:
        tracer.dump(os.path.join(out_dir, f"{run_id}.spans.json"))
    for err in r.errors:
        print(f"perfbench: failed: {err}", file=sys.stderr)
    print(json.dumps({
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
