"""The decode job: encoded blocks + manifest -> reconstructed DataFrame.

Encode writes each committed partition as one file,
blocks/part_id=N/data.parquet, with its rows already grouped by block.
``decode_blocks`` reads those part files back: it learns the output
schema from the (tiny) manifest on the driver, LPT-packs the part files
into tasks, and each task reads its files with pyarrow, splits them at
block boundaries and pivots the per-column payloads back into Arrow
record batches.  No shuffle, and no encoded byte crosses the JVM.
Requesting a column subset prunes the decode work; ``scan_blocks`` adds
zone-map skipping on top.

The per-block `value_count` assertion is the reference's EOR row-count
checksum (``src/flatfile.rs:475-488`` there) applied per block.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from nem_mms_spark import checkpoint as ckpt
from nem_mms_spark import framing
from nem_mms_spark import manifest as M
from nem_mms_spark.codecs import decode_block
from nem_mms_spark.codecs.primitives import binary_views
from nem_mms_spark.worker import drop_archive_importers


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, M.MANIFEST_DIR))


def decode_blocks(
    spark: SparkSession,
    out_dir: str,
    columns: list[str] | None = None,
    parts: list[int] | None = None,
    parallelism: int | None = None,
    block_ids: dict | None = None,
    stream_batches: bool = False,
) -> DataFrame:
    """Decode the committed partitions of ``out_dir`` into rows.

    blocks/part_id=N/data.parquet holds one whole partition's rows
    sorted by (block_id, col_idx), so grouping block rows needs no
    shuffle: one task per LPT bin of committed part files fetches each
    file with one read, splits it at block boundaries with numpy, runs
    the codec decoders, and emits decoded Arrow batches directly.  No
    encoded byte crosses the JVM; on a real cluster each task GETs its
    partition object from the store — the Iceberg-native read shape.

    ``columns``: decode only these (pruned before any codec runs);
    an unknown name raises.  ``parts``: decode only these part ids.

    ``parallelism``: the number of tasks (default: the session's
    ``defaultParallelism``); part files are LPT-packed into
    ``min(n_files, parallelism)`` bins, one task each.  Coarse on
    purpose, as in ``encode_parquet``: each task pays a fixed start-up
    cost, Spark's task launch plus the Python worker hand-off.  In the
    hand-off pyspark's ``importlib.invalidate_caches()`` re-reads the
    archive of every cached zipimporter, 16 of them in a warmed worker
    (170-400 ms per call on Python 3.11, 4-vCPU box); the kernel drops
    them on every task (``worker.drop_archive_importers``), which leaves
    about 0.1 s per task, as long as a small part's decode.

    ``block_ids``: optional {split key -> set(block_id)} survivor map
    (zone-map skipping; see ``scan_blocks``): only those block groups
    decode.  The map is shipped as a Spark broadcast variable: a
    weakly-selective predicate over ~10^6 blocks would otherwise
    serialize a multi-MB python closure into every task.

    ``stream_batches``: ``out_dir`` is a streaming-encode root holding
    one ``batch=<epoch>`` encode output per micro-batch.  The split list
    then holds every committed (epoch, part_id) file, keyed by that
    pair, so same-numbered parts from different epochs never merge; the
    plan is the same single Python map whatever the epoch count.  On a
    plain root the split key is the part_id.

    Visibility: only partitions with a committed checkpoint row are
    read.  A batch dir whose encode never committed is skipped whole; a
    plain root with no commit at all raises.  When no block survives
    the filters the result is a typed empty DataFrame.
    """
    import numpy as np
    import pyarrow as pa

    from nem_mms_spark.jobs.encode import (
        _bin_file_splits,
        _bin_items,
        _read_split,
    )

    # (split key, encode root, part_id) of every committed partition
    if stream_batches:
        committed_all = []
        for b in sorted(d for d in os.listdir(out_dir) if d.startswith("batch=")):
            root = os.path.join(out_dir, b)
            pids = ckpt.committed_parts(root)
            if pids is None:
                continue
            epoch = int(b.split("=", 1)[1])
            committed_all += [((epoch, p), root, p) for p in pids]
        if not committed_all:
            raise ValueError(f"no committed batch outputs under {out_dir}")
    else:
        pids = ckpt.committed_parts(out_dir)
        if pids is None:
            raise ValueError(
                f"no committed checkpoint under {out_dir}: the encode job "
                "never committed (data files without a checkpoint row are "
                "invisible by the visibility contract)"
            )
        committed_all = [(p, out_dir, p) for p in pids]
    committed = committed_all
    if parts is not None:
        keep_parts = set(parts)
        committed = [c for c in committed if c[2] in keep_parts]
    if block_ids is not None:
        committed = [c for c in committed if block_ids.get(c[0])]
    # manifest is metadata-scale: one driver-side pyarrow pass for the
    # output schema (the same read_manifest information, no Spark job).
    # Schema derives from ALL committed parts so an empty post-filter
    # selection still returns a typed empty DataFrame instead of
    # ds.dataset([]) blowing up with ArrowInvalid (r7 ADVICE fix).
    import pyarrow.dataset as ds

    man_files = [
        os.path.join(root, M.MANIFEST_DIR, f"part_id={p}", "data.parquet")
        for _key, root, p in (committed if committed else committed_all)
    ]
    man = ds.dataset(
        [f for f in man_files if os.path.exists(f)], format="parquet"
    ).to_table(columns=["col_idx", "column", "logical_type"])
    col_rows = sorted(
        {
            (ci, c, lt)
            for ci, c, lt in zip(
                man.column("col_idx").to_pylist(),
                man.column("column").to_pylist(),
                man.column("logical_type").to_pylist(),
            )
        }
    )
    col_rows = [
        {"col_idx": ci, "column": c, "logical_type": lt}
        for ci, c, lt in col_rows
    ]
    if columns is not None:
        keep = set(columns)
        col_rows = [r for r in col_rows if r["column"] in keep]
        missing = keep - {r["column"] for r in col_rows}
        if missing:
            raise ValueError(f"columns not in manifest: {sorted(missing)}")
    out_schema = M.decode_schema_of(col_rows)
    ordered = [
        r["column"] for r in sorted(col_rows, key=lambda r: r["col_idx"])
    ]
    types = {r["column"]: r["logical_type"] for r in col_rows}
    kdtypes = {c: _kernel_dtype_of(t) for c, t in types.items()}
    # the recorded logical types ARE the arrow types Spark emitted at
    # encode time, so emitting them back needs no conversion layer
    arrow_schema = pa.schema(
        [(c, framing._parse_type(types[c])) for c in ordered]
    )
    want = set(ordered)

    splits = []
    for key, root, p in committed:
        path = os.path.join(root, M.BLOCKS_DIR, f"part_id={p}", "data.parquet")
        if os.path.exists(path):
            splits.append((key, path))
    if not splits:
        return spark.createDataFrame([], schema=out_schema)
    bc_blocks = (
        spark.sparkContext.broadcast(block_ids)
        if block_ids is not None
        else None
    )
    sdf, bins = _bin_file_splits(spark, splits, parallelism)

    read_cols = [
        "block_id", "column", "codec", "params", "value_count",
        "null_count", "payload", "validity",
    ]

    def decode_files(batches):
        pa.set_cpu_count(1)
        drop_archive_importers()
        allowed_map = bc_blocks.value if bc_blocks is not None else None
        for key, path in _bin_items(batches, bins):
            allowed = (
                allowed_map.get(key) if allowed_map is not None else None
            )
            tbl = _read_split(path, read_cols)
            if columns is not None:
                import pyarrow.compute as pc

                tbl = tbl.filter(
                    pc.is_in(tbl.column("column"), pa.array(ordered))
                )
            tbl = tbl.combine_chunks()
            bids = tbl.column("block_id").to_numpy(zero_copy_only=False)
            if len(bids) == 0:
                continue
            names = tbl.column("column").to_numpy(zero_copy_only=False)
            codecs = tbl.column("codec").to_numpy(zero_copy_only=False)
            params = tbl.column("params").to_numpy(zero_copy_only=False)
            vcs = tbl.column("value_count").to_numpy(zero_copy_only=False)
            ncs = tbl.column("null_count").to_numpy(zero_copy_only=False)
            pay = binary_views(tbl.column("payload").combine_chunks())
            val = binary_views(tbl.column("validity").combine_chunks())
            bounds = np.concatenate(
                [[0], np.flatnonzero(bids[1:] != bids[:-1]) + 1,
                 [len(bids)]]
            )
            for bi in range(len(bounds) - 1):
                s, e = int(bounds[bi]), int(bounds[bi + 1])
                if allowed is not None and int(bids[s]) not in allowed:
                    continue
                n = int(vcs[s])
                out = {}
                for j in range(s, e):
                    c = names[j]
                    if c not in want:
                        continue
                    if int(vcs[j]) != n:
                        raise ValueError(
                            "corrupt block group: value_count mismatch "
                            f"(part file {path}, block {bids[s]})"
                        )
                    nc = int(ncs[j])
                    values = decode_block(
                        pay(j), json.loads(params[j]), n - nc,
                        kdtypes[c], codecs[j],
                    )
                    arr = framing.from_kernel(
                        values, types[c], val(j), n, nc
                    )
                    if len(arr) != n:
                        raise ValueError(
                            f"decode count mismatch on {c}: "
                            f"{len(arr)} != {n}"
                        )
                    out[c] = arr
                if set(out) != want:
                    raise ValueError(
                        "block group missing columns: "
                        f"{sorted(want - set(out))}"
                    )
                yield pa.RecordBatch.from_arrays(
                    [out[c] for c in ordered], schema=arrow_schema
                )

    return sdf.mapInArrow(decode_files, out_schema)


# the name the benchmark harness imports; decode_blocks is the one reader
decode_blocks_direct = decode_blocks


def scan_blocks(
    spark: SparkSession,
    out_dir: str,
    pred_column: str,
    lo=None,
    hi=None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Range scan with zone-map data skipping: decode only blocks whose
    [zmin, zmax] overlaps [lo, hi] on `pred_column`, then apply the exact
    row filter.

    Two-pass plan, both scale-safe:
      1. metadata pass — reads ONLY the zone-map columns of the blocks
         table (payload pruned away by Catalyst) and keeps overlapping
         (part_id, block_id) rows;
      2. data pass — decode_blocks with the survivor map: only the
         surviving part files are read at all, and inside each task only
         the surviving block groups decode; then the exact predicate on
         decoded values.  No survivor gives a typed empty DataFrame.

    NULL zone maps (bytes columns, NaN blocks) never skip.  Timestamp
    columns use epoch-micros bounds (pass lo/hi as ints or datetimes).
    """
    man = read_manifest(spark, out_dir)
    lt_row = man.filter(F.col("column") == pred_column).select(
        "logical_type"
    ).first()
    if lt_row is None:
        raise ValueError(f"column {pred_column!r} not in manifest")
    logical_type = lt_row["logical_type"]
    is_ts = logical_type.startswith("timestamp")
    if is_ts:
        lo = _to_epoch_us(lo)
        hi = _to_epoch_us(hi)

    meta = (
        spark.read.parquet(os.path.join(out_dir, M.BLOCKS_DIR))
        # visibility: zone maps of uncommitted partitions must not drive
        # the scan (decode_blocks filters them anyway; this keeps the
        # metadata pass honest and prunes their dirs)
        .filter(F.col("part_id").isin(ckpt.committed_parts(out_dir) or []))
        .filter(F.col("column") == pred_column)
        .select("part_id", "block_id", "zmin_i", "zmax_i", "zmin_d", "zmax_d")
    )
    # overlap test in the column's own numeric domain — int bounds compare
    # against the int64 stats EXACTLY (a double cast would round 64-bit
    # ranges and could skip a matching block), float bounds against the
    # double stats
    import math

    is_float = logical_type in ("float", "double")
    if is_float:
        zmin, zmax = F.col("zmin_d"), F.col("zmax_d")
        lo_b = float(lo) if lo is not None else None
        hi_b = float(hi) if hi is not None else None
    else:
        zmin, zmax = F.col("zmin_i"), F.col("zmax_i")
        lo_b = int(math.ceil(lo)) if lo is not None else None
        hi_b = int(math.floor(hi)) if hi is not None else None
    keep = F.lit(True)
    if lo_b is not None:
        keep = keep & (zmax.isNull() | (zmax >= F.lit(lo_b)))
    if hi_b is not None:
        keep = keep & (zmin.isNull() | (zmin <= F.lit(hi_b)))
    survivors = meta.filter(keep).select("part_id", "block_id")
    # survivor map: (part_id, block_id) ints only — metadata-scale by
    # construction (it is the zone-map prune's output); collected once
    # and broadcast to the decode tasks
    surv_map: dict[int, set] = {}
    for r in survivors.collect():
        surv_map.setdefault(r["part_id"], set()).add(r["block_id"])
    decoded = decode_blocks(
        spark, out_dir, columns=columns, block_ids=surv_map
    )
    col = F.col(pred_column)
    if is_ts:
        if "tz=" in logical_type:
            col = F.unix_micros(col)
        else:
            # timestamp_ntz -> epoch micros via pure calendar arithmetic:
            # session-timezone-INDEPENDENT, so the exact row filter and
            # the zone-map prune always agree (a cast-through-timestamp
            # here would shift by the session tz and could drop rows)
            col = F.timestamp_diff(
                "MICROSECOND",
                F.to_timestamp_ntz(F.lit("1970-01-01 00:00:00")),
                col,
            )
    if lo is not None:
        decoded = decoded.filter(col >= lo)
    if hi is not None:
        decoded = decoded.filter(col <= hi)
    return decoded


def _to_epoch_us(v):
    if v is None or isinstance(v, (int, float)):
        return v
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        return int(v.replace(tzinfo=_dt.timezone.utc).timestamp() * 1_000_000)
    raise ValueError(f"unsupported timestamp bound {v!r}")


def _kernel_dtype_of(logical_type: str) -> str:
    import pyarrow as pa  # local import: executors only need it lazily

    from nem_mms_spark.framing import _parse_type, kernel_dtype

    return kernel_dtype(_parse_type(logical_type))
