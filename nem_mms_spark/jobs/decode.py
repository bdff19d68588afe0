"""The decode job: encoded blocks -> reconstructed DataFrame.

Encode writes each committed partition as one file,
blocks/part_id=N/data.parquet, with its rows already grouped by block.
That block table is also the codec manifest: its metadata columns name
the codec, params, counts and zone map of every column chunk.  Its pages
are zstd-compressed with a CRC32 each (``jobs.encode._atomic_write``);
every read here verifies the CRCs of the pages it reads, so a damaged
page raises a ValueError naming its file instead of decoding to other
bytes.  Block files with plain, unchecksummed pages (older outputs)
still read: parquet records the codec per column chunk, and a page
without a CRC is not checked.
``read_block_meta`` is the one reader of those metadata columns: a
driver-side pyarrow read with column projection, so no payload page is
read and no Spark job runs.  ``decode_blocks`` and ``scan_blocks`` each
read it once per call and hand the table to ``_decode``, the one decode
plan: it takes the output schema from the recorded Arrow types
(``framing.spark_schema``), LPT-packs the part files into tasks, and
each task reads its files with pyarrow, splits them at block boundaries
and pivots the per-column payloads back into Arrow record batches.  No
shuffle, and no encoded byte crosses the JVM.  Requesting a column
subset prunes the decode work; ``scan_blocks`` adds zone-map skipping
on top.  A streaming-encode root decodes through the same plan
(``block_files``).

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


def block_files(out_dir: str) -> list[tuple]:
    """(part_id, path) of the blocks file of every committed partition
    of ``out_dir``: the visibility set.  Data files land task-side, so
    a failed or running encode can leave part files with no checkpoint
    row, and those are never listed.  A committed part with no file (a
    salted hot bucket that got no rows) is left out.

    A root with no ``checkpoint/`` of its own but ``batch=<epoch>`` dirs
    is a streaming-encode root (``streaming.incremental_encode``): its
    files are the committed parts of every committed batch, in epoch
    order; a batch whose encode never committed is skipped whole.  Part
    ids repeat across batches, paths do not.  A root with no commit at
    all raises."""
    roots = [out_dir]
    if not os.path.isdir(ckpt.checkpoint_path(out_dir)):
        epochs = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(out_dir)
            if d.startswith("batch=")
        )
        roots = [os.path.join(out_dir, f"batch={e}") for e in epochs]
    files, committed = [], False
    for root in roots:
        pids = ckpt.committed_parts(root)
        committed |= pids is not None
        for p in pids or ():
            path = M.block_file(root, p)
            if os.path.exists(path):
                files.append((p, path))
    if not committed:
        raise ValueError(
            f"no committed checkpoint under {out_dir}: the encode job "
            "never committed (data files without a checkpoint row are "
            "invisible by the visibility contract)"
        )
    return files


def read_block_meta(files: list[tuple], columns: list[str]) -> pa.Table:
    """The block-table ``columns`` of ``files`` (``block_files``
    entries) as one table, with each row's block file appended as a
    dictionary-coded ``path`` column.

    Driver-side pyarrow read with column projection: parquet skips the
    payload and validity pages, so the read is metadata-sized (it
    decompresses only the metadata columns' zstd pages) and runs no
    Spark job.  The one reader of block metadata: decode's schema pass,
    ``scan_blocks``' zone-map prune, ``encode_roundtrip_metrics`` and
    ``cli info`` all go through it.  The page CRCs of the columns read
    are verified.  A file that does not parse, or a page whose CRC does
    not match, raises a ValueError naming the file."""
    import pyarrow.parquet as pq

    tables = []
    for _pid, path in files:
        try:
            # ParquetFile, not read_table, which builds a dataset per
            # file: 2.6 against 9.1 ms for the 3 schema columns of 10 files
            with pq.ParquetFile(
                path, page_checksum_verification=True
            ) as f:
                t = f.read(columns=columns)
        except (pa.ArrowException, OSError) as e:
            raise ValueError(f"unreadable block file {path}: {e}") from e
        rows_path = pa.DictionaryArray.from_arrays(
            np.zeros(len(t), np.int32), [path]
        )
        tables.append(t.append_column("path", rows_path))
    return pa.concat_tables(tables)


def decode_blocks(
    spark: SparkSession,
    out_dir: str,
    columns: list[str] | None = None,
    parts: list[int] | None = None,
    parallelism: int | None = None,
) -> DataFrame:
    """Decode the committed partitions of ``out_dir`` into rows.

    blocks/part_id=N/data.parquet holds one whole partition's rows
    sorted by (block_id, col_idx), so grouping block rows needs no
    shuffle: one task per LPT bin of committed part files fetches each
    file with one read, splits it at block boundaries with numpy, runs
    the codec decoders, and emits decoded Arrow batches directly.  No
    encoded byte crosses the JVM; on a real cluster each task GETs its
    partition object from the store — the Iceberg-native read shape.
    ``out_dir`` may be a streaming-encode root (``block_files``): every
    committed batch decodes in the same single Python map, whatever the
    epoch count.

    ``columns``: decode only these (pruned before any codec runs);
    an unknown name raises.  ``parts``: decode only these part ids.
    When no part survives the filters the result is a typed empty
    DataFrame.

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
    """
    files = block_files(out_dir)
    chosen = files
    if parts is not None:
        keep_parts = set(parts)
        chosen = [f for f in files if f[0] in keep_parts]
    # the output schema derives from ALL committed parts when the
    # filter leaves none, so an empty selection is still typed
    meta = read_block_meta(
        chosen or files, ["col_idx", "column", "logical_type"]
    )
    return _decode(spark, chosen, meta, columns, None, parallelism)


def _bin_items(batches, bins: list[list]):
    """The (part_id, path) splits of every bin id in ``batches``, the
    ``spark.range`` id batches of the decode plan."""
    for batch in batches:
        for b in batch.column(0).to_pylist():
            yield from bins[b]


def _decode(
    spark: SparkSession,
    files: list[tuple[int, str]],
    meta: pa.Table,
    columns: list[str] | None,
    survivors: dict[str, set] | None,
    parallelism: int | None,
) -> DataFrame:
    """The one decode plan: ``files`` (``block_files`` entries) decoded
    by one ``mapInArrow``.  ``meta``: block rows holding at least
    ``col_idx``, ``column`` and ``logical_type``, from which the output
    schema comes.  ``columns``: as in ``decode_blocks``.

    ``survivors``: optional {block-file path -> set(block_id)} map
    (zone-map skipping; see ``scan_blocks``): only those block groups
    decode, and a file with none is never read.  The map is shipped as a
    Spark broadcast variable: a weakly-selective predicate over ~10^6
    blocks would otherwise serialize a multi-MB python closure into
    every task."""
    from nem_mms_spark.jobs.encode import _bin_file_splits, _read_split

    key_cols = ["col_idx", "column", "logical_type"]
    col_rows = sorted(
        meta.group_by(key_cols, use_threads=False)
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
    ordered = [r["column"] for r in col_rows]
    types = {r["column"]: r["logical_type"] for r in col_rows}
    # the recorded logical types ARE the arrow types of the source, so
    # emitting them back needs no conversion layer
    arrow_schema = pa.schema(
        [(c, framing._parse_type(types[c])) for c in ordered]
    )
    out_schema = framing.spark_schema(arrow_schema)
    kdtypes = {f.name: framing.kernel_dtype(f.type) for f in arrow_schema}
    want = set(ordered)

    if survivors is not None:
        files = [f for f in files if survivors.get(f[1])]
    if not files:
        return spark.createDataFrame([], schema=out_schema)
    bc_blocks = (
        spark.sparkContext.broadcast(survivors)
        if survivors is not None
        else None
    )
    bins = _bin_file_splits(
        files, parallelism or spark.sparkContext.defaultParallelism
    )

    read_cols = [
        "block_id", "column", "codec", "params", "value_count",
        "null_count", "payload", "validity",
    ]

    def decode_files(batches):
        pa.set_cpu_count(1)
        drop_archive_importers()
        allowed_map = bc_blocks.value if bc_blocks is not None else None
        for _pid, path in _bin_items(batches, bins):
            allowed = (
                allowed_map.get(path) if allowed_map is not None else None
            )
            try:
                tbl = _read_split(path, read_cols)
            except (pa.ArrowException, OSError) as e:
                # a failed page CRC is an OSError from the reader
                raise ValueError(f"unreadable block file {path}: {e}") from e
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

    return spark.range(len(bins), numPartitions=len(bins)).mapInArrow(
        decode_files, out_schema
    )


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
      1. metadata pass — ``read_block_meta`` reads ONLY the schema and
         zone-map columns of the committed parts' block files on the
         driver, each file once (no Spark job; payload pages are never
         read), takes the column's logical type from them, and keeps
         the overlapping (block file, block_id) pairs with numpy;
      2. data pass — the decode plan (``_decode``) over the same table
         with the survivor map: only the surviving part files are read
         at all, and inside each task only the surviving block groups
         decode; then the exact predicate on decoded values.  No
         survivor gives a typed empty DataFrame.

    NULL zone maps (bytes columns, NaN blocks) never skip.  Timestamp
    columns use epoch-micros bounds (pass lo/hi as ints or datetimes).
    """
    import math

    import pyarrow.compute as pc

    files = block_files(out_dir)
    all_meta = read_block_meta(
        files,
        ["block_id", "col_idx", "column", "logical_type",
         "zmin_i", "zmax_i", "zmin_d", "zmax_d"],
    )
    meta = all_meta.filter(pc.field("column") == pred_column)
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
    # survivor map: block-file path -> block ids, metadata-scale by
    # construction (it is the zone-map prune's output), broadcast to the
    # decode tasks
    surv = meta.filter(pa.array(keep))
    survivors: dict[str, set] = {}
    for path, bid in zip(
        surv.column("path").to_pylist(), surv.column("block_id").to_pylist()
    ):
        survivors.setdefault(path, set()).add(bid)
    decoded = _decode(spark, files, all_meta, columns, survivors, None)
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

