"""Self-test of the benchmark.

    python3 perfbench/selftest.py

1. ``BENCHMARK.json`` agrees with ``metrics.json`` (names, units, better).
2. A tiny-size run of every workload prints every end-to-end metric of
   ``BENCHMARK.json`` with its unit, a positive value and no failures; a
   tiny traced run prints every per-layer metric.
3. A decode_scan run whose encoded output has one bit-packed payload cut to
   half its length reports failures instead of a clean result (the decoder
   accepts such a payload silently).
4. A directory holding only ``BENCHMARK.json`` and this directory makes the
   benchmark exit non-zero without a result.

Runs one benchmark process at a time; takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def bench(*args: str, cwd: str = ROOT, env: dict | None = None) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "1", "--seconds", "1", *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if proc.returncode != 0 and result is None and cwd == ROOT:
        sys.stderr.write(proc.stderr[-4000:])
    return proc.returncode, result


def check_metrics(result: dict, expected: dict, what: str, positive: bool) -> None:
    assert set(result) == RESULT_KEYS, f"{what}: result keys {sorted(result)}"
    got = result["metrics"]
    assert set(got) == set(expected), f"{what}: metrics differ: {sorted(set(got) ^ set(expected))}"
    for name, m in expected.items():
        assert got[name]["unit"] == m["unit"], f"{what}: {name} unit {got[name]['unit']}"
        value = got[name]["value"]
        assert isinstance(value, (int, float)), f"{what}: {name} = {value!r}"
        assert value > 0 or not positive, f"{what}: {name} = {value}"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(HERE, "metrics.json")) as fh:
        mapping = json.load(fh)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    per_layer = {m["name"]: m for m in spec["per_layer"]}
    for kind, metrics in (("end_to_end", e2e), ("per_layer", per_layer)):
        for name, m in metrics.items():
            doc = mapping[kind][name]
            assert (doc["unit"], doc["better"]) == (m["unit"], m["better"]), name
    for w in spec["workloads"]:
        assert w["why"] == mapping["workloads"][w["name"]]["why"], w["name"]
    print("ok: BENCHMARK.json agrees with metrics.json", flush=True)

    for name in mapping["workloads"]:
        rc, result = bench("--workload", name, "--trace", "0", "--size", "tiny")
        assert rc == 0 and result, f"{name}: exit {rc}"
        check_metrics(result, e2e, name, positive=True)
        assert result["correct"] and result["failed"] == 0, f"{name}: {result}"
        assert result["attempted"] >= 1, f"{name}: {result}"
        print(f"ok: {name} prints every end-to-end metric", flush=True)
    for name in (w["name"] for w in spec["workloads"]):
        rc, result = bench("--workload", name, "--trace", "1", "--size", "tiny")
        assert rc == 0 and result, f"{name} traced: exit {rc}"
        check_metrics(result, per_layer, f"{name} traced", positive=False)
        assert result["correct"], f"{name} traced: {result['failed']} failed"
        print(f"ok: {name} traced run prints every per-layer metric", flush=True)

    env = dict(os.environ, PERFBENCH_CORRUPT_BITPACK="1")
    rc, result = bench("--workload", "decode_scan", "--trace", "0", "--size", "tiny", env=env)
    assert rc == 0 and result, f"corrupted decode_scan: exit {rc}"
    assert result["failed"] > 0 and not result["correct"], f"corruption not reported: {result}"
    print(f"ok: truncated payload reported ({result['failed']}/{result['attempted']} failed)")

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, result = bench("--workload", spec["workloads"][0]["name"], "--trace", "0", cwd=bare)
        assert rc != 0 and result is None, f"bare directory: exit {rc}, result {result}"
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok: a directory without the engine exits non-zero without a result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
