"""The decode job: encoded blocks -> reconstructed DataFrame.

Encode writes each committed partition as one file,
blocks/part_id=N/data.parquet, with its rows already grouped by block.
That block table is also the codec manifest: its metadata columns name
the codec, params, counts and zone map of every column chunk.
``read_block_meta`` is the one reader of those metadata columns: a
driver-side pyarrow read with column projection, so no payload page is
read and no Spark job runs.  ``decode_blocks`` takes its output schema
from it, LPT-packs the part files into tasks, and each task reads its
files with pyarrow, splits them at block boundaries and pivots the
per-column payloads back into Arrow record batches.  No shuffle, and no
encoded byte crosses the JVM.  Requesting a column subset prunes the
decode work; ``scan_blocks`` adds zone-map skipping on top.

The per-block `value_count` assertion is the reference's EOR row-count
checksum (``src/flatfile.rs:475-488`` there) applied per block.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F

from nem_mms_spark import checkpoint as ckpt
from nem_mms_spark import framing
from nem_mms_spark import manifest as M
from nem_mms_spark.codecs import decode_block
from nem_mms_spark.codecs.primitives import binary_views
from nem_mms_spark.worker import drop_archive_importers


def block_files(out_dir: str, stream_batches: bool = False) -> list[tuple]:
    """(split key, part_id, path) of the blocks file of every committed
    partition of ``out_dir``: the visibility set.  Data files land
    task-side, so a failed or running encode can leave part files with
    no checkpoint row, and those are never listed.  A committed part
    with no file (a salted hot bucket that got no rows) is left out.

    ``stream_batches``: ``out_dir`` holds one ``batch=<epoch>`` encode
    output per micro-batch; splits are keyed by (epoch, part_id), so
    same-numbered parts from different epochs never merge, and a batch
    whose encode never committed is skipped whole.  On a plain root the
    key is the part_id, and a root with no commit at all raises."""
    if stream_batches:
        roots = []
        for b in sorted(d for d in os.listdir(out_dir) if d.startswith("batch=")):
            pids = ckpt.committed_parts(os.path.join(out_dir, b))
            if pids is not None:
                epoch = int(b.split("=", 1)[1])
                roots += [((epoch, p), os.path.join(out_dir, b), p) for p in pids]
        if not roots:
            raise ValueError(f"no committed batch outputs under {out_dir}")
    else:
        pids = ckpt.committed_parts(out_dir)
        if pids is None:
            raise ValueError(
                f"no committed checkpoint under {out_dir}: the encode job "
                "never committed (data files without a checkpoint row are "
                "invisible by the visibility contract)"
            )
        roots = [(p, out_dir, p) for p in pids]
    files = [
        (key, p, os.path.join(root, M.BLOCKS_DIR, f"part_id={p}", "data.parquet"))
        for key, root, p in roots
    ]
    return [f for f in files if os.path.exists(f[2])]


def read_block_meta(files: list[tuple], columns: list[str]) -> pa.Table:
    """The block-table ``columns`` of ``files`` (``block_files`` entries)
    as one table, with each row's ``part_id`` appended.

    Driver-side pyarrow read with column projection: parquet skips the
    payload and validity pages, so the read is metadata-sized and runs
    no Spark job.  The one reader of block metadata: decode's schema
    pass, ``scan_blocks``' zone-map prune, ``encode_roundtrip_metrics``
    and ``cli info`` all go through it.  A file that does not parse
    raises a ValueError naming it."""
    import pyarrow.parquet as pq

    tables = []
    for _key, pid, path in files:
        try:
            # ParquetFile, not read_table, which builds a dataset per
            # file: 2.6 against 9.1 ms for the 3 schema columns of 10 files
            with pq.ParquetFile(path) as f:
                t = f.read(columns=columns)
        except (pa.ArrowException, OSError) as e:
            raise ValueError(f"unreadable block file {path}: {e}") from e
        tables.append(
            t.append_column("part_id", pa.array(np.full(len(t), pid, np.int32)))
        )
    return pa.concat_tables(tables)


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
    one ``batch=<epoch>`` encode output per micro-batch; the plan is the
    same single Python map whatever the epoch count.  Only committed
    partitions are read (``block_files``).  When no block survives the
    filters the result is a typed empty DataFrame.
    """
    from nem_mms_spark.jobs.encode import (
        _bin_file_splits,
        _bin_items,
        _read_split,
    )

    committed_all = block_files(out_dir, stream_batches)
    committed = committed_all
    if parts is not None:
        keep_parts = set(parts)
        committed = [c for c in committed if c[1] in keep_parts]
    if block_ids is not None:
        committed = [c for c in committed if block_ids.get(c[0])]
    # the output schema derives from ALL committed parts when the
    # filters leave none, so an empty selection still returns a typed
    # empty DataFrame
    key_cols = ["col_idx", "column", "logical_type"]
    col_rows = sorted(
        read_block_meta(committed or committed_all, key_cols)
        .group_by(key_cols, use_threads=False)
        .aggregate([])
        .to_pylist(),
        key=lambda r: r["col_idx"],
    )
    if columns is not None:
        keep = set(columns)
        col_rows = [r for r in col_rows if r["column"] in keep]
        missing = keep - {r["column"] for r in col_rows}
        if missing:
            raise ValueError(f"columns not in manifest: {sorted(missing)}")
    out_schema = M.decode_schema_of(col_rows)
    ordered = [r["column"] for r in col_rows]
    types = {r["column"]: r["logical_type"] for r in col_rows}
    kdtypes = {c: _kernel_dtype_of(t) for c, t in types.items()}
    # the recorded logical types ARE the arrow types Spark emitted at
    # encode time, so emitting them back needs no conversion layer
    arrow_schema = pa.schema(
        [(c, framing._parse_type(types[c])) for c in ordered]
    )
    want = set(ordered)

    splits = [(key, path) for key, _p, path in committed]
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

    Two passes:
      1. metadata pass — ``read_block_meta`` reads ONLY the zone-map
         columns of the committed parts' block files on the driver (no
         Spark job; payload pages are never read), takes the column's
         logical type from them, and keeps the overlapping
         (part_id, block_id) pairs with numpy;
      2. data pass — decode_blocks with the survivor map: only the
         surviving part files are read at all, and inside each task only
         the surviving block groups decode; then the exact predicate on
         decoded values.  No survivor gives a typed empty DataFrame.

    NULL zone maps (bytes columns, NaN blocks) never skip.  Timestamp
    columns use epoch-micros bounds (pass lo/hi as ints or datetimes).
    """
    import math

    import pyarrow.compute as pc

    meta = read_block_meta(
        block_files(out_dir),
        ["block_id", "column", "logical_type",
         "zmin_i", "zmax_i", "zmin_d", "zmax_d"],
    )
    meta = meta.filter(pc.field("column") == pred_column)
    if not len(meta):
        raise ValueError(f"column {pred_column!r} not in manifest")
    logical_type = meta.column("logical_type")[0].as_py()
    is_ts = logical_type.startswith("timestamp")
    if is_ts:
        lo = _to_epoch_us(lo)
        hi = _to_epoch_us(hi)

    # overlap test in the column's own numeric domain — int bounds compare
    # against the int64 stats EXACTLY (a double cast would round 64-bit
    # ranges and could skip a matching block), float bounds against the
    # double stats
    if logical_type in ("float", "double"):
        zmin, zmax = meta.column("zmin_d"), meta.column("zmax_d")
        lo_b = float(lo) if lo is not None else None
        hi_b = float(hi) if hi is not None else None
    else:
        zmin, zmax = meta.column("zmin_i"), meta.column("zmax_i")
        lo_b = math.ceil(lo) if lo is not None else None
        hi_b = math.floor(hi) if hi is not None else None
    keep = np.ones(len(meta), dtype=bool)
    for bound, z, overlaps in (
        (lo_b, zmax, np.greater_equal), (hi_b, zmin, np.less_equal)
    ):
        if bound is not None:
            z = z.combine_chunks()
            keep &= z.is_null().to_numpy(zero_copy_only=False) | overlaps(
                z.fill_null(0).to_numpy(), bound
            )
    # survivor map: (part_id, block_id) ints only — metadata-scale by
    # construction (it is the zone-map prune's output), broadcast to the
    # decode tasks
    surv_map: dict[int, set] = {}
    for pid, bid in zip(
        meta.column("part_id").to_numpy()[keep].tolist(),
        meta.column("block_id").to_numpy()[keep].tolist(),
    ):
        surv_map.setdefault(pid, set()).add(bid)
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
