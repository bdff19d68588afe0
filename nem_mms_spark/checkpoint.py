"""Checkpoint / lineage table: idempotent resume for the encode job.

Semantics (generalizing the reference's crude `create_new(true)` skip of
already-downloaded files, /root/reference/src/packages/fetch.rs:264-282, and
its filename-encoded state, /root/reference/src/manage/state.rs:46-102):

  * a partition is DONE iff its checkpoint row exists with status='done';
  * the encode job starts by reading the done part ids on the driver
    (``committed_parts``; the checkpoint table is one row per partition)
    and skips those parts;
  * each part's blocks file is published task-side
    (``jobs/encode._publish``: temp file, then ``os.replace``) at paths
    fixed by the part id, so a re-run of a partition that crashed
    mid-write replaces its output instead of duplicating it; no Spark
    writer is involved.
"""

from __future__ import annotations

import os

from nem_mms_spark import manifest as M


def checkpoint_path(out_dir: str) -> str:
    return os.path.join(out_dir, M.CHECKPOINT_DIR)


def committed_parts(out_dir: str) -> list[int] | None:
    """Part ids whose checkpoint row is committed with status='done' —
    the VISIBILITY set, and the done ids a resume skips.  Data files land
    task-side (Iceberg style), so a failed or still-running encode job
    leaves blocks files on disk with no checkpoint row; readers
    must not see them.  Driver-side pyarrow read of the run files, with
    no Spark job — the checkpoint is one row per partition.  None when no
    run was ever committed."""
    import glob

    import pyarrow.dataset as ds

    runs = glob.glob(os.path.join(checkpoint_path(out_dir), "run-*.parquet"))
    if not runs:
        return None
    tbl = ds.dataset(runs, format="parquet").to_table(
        columns=["part_id", "status"]
    )
    return sorted(
        {
            pid
            for pid, st in zip(
                tbl.column("part_id").to_pylist(),
                tbl.column("status").to_pylist(),
            )
            if st == "done"
        }
    )


def commit_checkpoint_rows(rows: list[dict], out_dir: str) -> None:
    """Driver-side metadata commit (catalog style): one parquet file per
    encode run, named by a digest of its content so a retried commit is
    idempotent.  No Spark job — the checkpoint table is one row per
    partition.  (Object-store deployments would route this through the
    catalog; the sandbox uses the local FS.)"""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    if not rows:
        return
    path = checkpoint_path(out_dir)
    os.makedirs(path, exist_ok=True)
    digest = hashlib.md5(
        ",".join(f"{r['part_id']}:{r['fingerprint']}" for r in rows).encode()
    ).hexdigest()[:16]
    cols = list(rows[0].keys())
    table = pa.table({c: [r[c] for r in rows] for c in cols})
    tmp = os.path.join(path, f".run-{digest}.parquet.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, f"run-{digest}.parquet"))


def _partitioning_meta_path(out_dir: str) -> str:
    return os.path.join(checkpoint_path(out_dir), "_partitioning.json")


def stored_partitioning_meta(out_dir: str) -> dict | None:
    """The partitioning meta recorded with the checkpoint, None if none."""
    import json

    path = _partitioning_meta_path(out_dir)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def check_partitioning_meta(out_dir: str, meta: dict) -> None:
    """Refuse to resume under a partitioning mode or parameters other
    than the stored ones.  Stored done ids hold only under the same
    part-id assignment (file index for 'source_direct', plus the
    hot-bucket count for 'salted_direct') and the same ``key_col`` (it
    feeds every part's fingerprint); resuming under different ones would
    match fresh part ids against stale done ids — silently skipping
    partitions and dropping data."""
    import glob

    existing = stored_partitioning_meta(out_dir)
    if existing is None:
        # a checkpoint with committed runs but NO meta file predates the
        # meta guard (or lost it): its done-ids were produced by an
        # unknown part-id assignment, so silently adopting the current
        # meta would re-create the exact stale-done-ids data-drop this
        # guard exists to prevent — refuse and make the caller decide
        if glob.glob(os.path.join(checkpoint_path(out_dir), "run-*.parquet")):
            raise ValueError(
                "cannot resume: checkpoint has committed runs but no "
                "_partitioning.json (written by an older engine version "
                "or corrupted), so the stored done-ids cannot be proven "
                "to use this run's part-id assignment; re-encode with "
                "resume=False or restore the original meta file"
            )
    elif existing != meta:
        diffs = {
            k: (existing.get(k), meta.get(k))
            for k in sorted(set(existing) | set(meta))
            if existing.get(k) != meta.get(k)
        }
        raise ValueError(
            "cannot resume: partitioning parameters changed since the "
            f"checkpoint was written (stored vs requested: {diffs}); "
            "re-encode with resume=False or restore the original "
            "parameters"
        )


def record_partitioning_meta(out_dir: str, meta: dict) -> None:
    """Record the partitioning mode + parameters alongside the
    checkpoint, for ``check_partitioning_meta`` on the next resume."""
    import json

    os.makedirs(checkpoint_path(out_dir), exist_ok=True)
    path = _partitioning_meta_path(out_dir)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f, sort_keys=True)
    os.replace(tmp, path)


def checkpoint_totals(out_dir: str) -> dict:
    """Aggregate lineage totals, driver-side (the table is tiny).
    ``encoded_bytes`` sums the codec payloads each part recorded;
    ``file_bytes`` is the on-disk size of the committed parts' block
    files (zstd pages, block metadata and footers), read from the file
    system."""
    import pyarrow.dataset as ds

    data = ds.dataset(checkpoint_path(out_dir), format="parquet").to_table()
    n_rows = sum(data.column("n_rows").to_pylist())
    raw = sum(data.column("raw_bytes").to_pylist())
    enc = sum(data.column("encoded_bytes").to_pylist())
    enc_ns = data.column("encode_ns").to_pylist()
    # per-stage in-task seconds, summed over partitions (stage_ns is a
    # JSON map per checkpoint row; absent on pre-r5 checkpoints) — the
    # noise-free decomposition the scaling analysis keys off
    stage_s: dict[str, float] = {}
    if "stage_ns" in data.column_names:
        import json as _json

        for s in data.column("stage_ns").to_pylist():
            if not s:
                continue
            for k, v in _json.loads(s).items():
                stage_s[k] = stage_s.get(k, 0.0) + v
        # `c_cpu` is kept whole in ns for stall arithmetic; everything
        # else converts to sec, at µs resolution so a sub-ms stage such
        # as a small file's fetch does not read as zero
        stage_s = {
            k: (int(v) if k.startswith("c_") else round(v / 1e9, 6))
            for k, v in stage_s.items()
        }
    return {
        "parts": data.num_rows,
        "rows": n_rows,
        "raw_bytes": raw,
        "encoded_bytes": enc,
        "ratio": enc / max(raw, 1),
        "file_bytes": sum(
            os.path.getsize(f)
            for p, st in zip(
                data.column("part_id").to_pylist(),
                data.column("status").to_pylist(),
            )
            if st == "done" and os.path.exists(f := M.block_file(out_dir, p))
        ),
        # aggregate in-task kernel seconds (sum / max over partitions):
        # the wave-packing- and noise-window-free view of kernel cost
        "task_encode_s_sum": round(sum(enc_ns) / 1e9, 3),
        "task_encode_s_max": round(max(enc_ns) / 1e9, 3) if enc_ns else 0.0,
        "task_stage_s": stage_s,
    }


def clear_checkpoint(out_dir: str) -> None:
    import shutil

    shutil.rmtree(checkpoint_path(out_dir), ignore_errors=True)
