"""Snapshot the EXACT output of every declared query for equivalence
checking across optimization edits.

Usage:
    python tools/snapshot_queries.py <sf_dir> <out.json> [query ...]

Collects each query's rows and canonicalizes them losslessly (floats via
repr -> full precision, bytes hex, rows sorted), so two snapshots are
equal iff the driver's hash check would also see identical results.
Run once at a known-good commit and again after an optimization; any
diff means the rewrite changed what the query computes.  The session is
the engine's own ``get_spark()`` (``SPARK_MASTER`` / ``SPARK_GRAFT_CPUS``
size it), so a change to its settings is inside what the snapshot sees.
"""

from __future__ import annotations

import json
import os
import sys


def canon(v):
    if isinstance(v, float):
        return "f:" + repr(v)
    if isinstance(v, (bytes, bytearray)):
        return "b:" + bytes(v).hex()
    if isinstance(v, list):
        return [canon(x) for x in v]
    return f"{type(v).__name__}:{v}"


def main() -> None:
    sf_dir, out_path = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])

    # the checkout root, where __spark_entry__ and nem_mms_spark live
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry
    from nem_mms_spark.session import get_spark

    spark = get_spark(app_name="snapshot")
    spark.sparkContext.setLogLevel("ERROR")
    snap = {}
    for name, fn in entry.queries().items():
        if only and name not in only:
            continue
        df = fn(spark, sf_dir)
        rows = sorted(
            json.dumps([canon(v) for v in row], sort_keys=True)
            for row in df.collect()
        )
        snap[name] = {"columns": df.columns, "rows": rows}
        print(f"{name}: {len(rows)} rows", flush=True)
    with open(out_path, "w") as fh:
        json.dump(snap, fh, indent=1, sort_keys=True)
    print(f"wrote {out_path}")
    spark.stop()


if __name__ == "__main__":
    main()
