"""Encode output layout: the names of the dirs under an encode output.

Layout under an encode output directory (plain parquet standing in for the
Iceberg tables `encoded_blocks` / `checkpoint` — catalog I/O is isolated
here so an Iceberg catalog can be swapped in; SURVEY.md §7 design stance):

  blocks/     one file per partition, one row per (column, block): codec
              id + params, payload, validity bitmap, counts, byte sizes
              (SURVEY.md §1.4), and the block's zone map: exact int64
              bounds for integer-kind columns in zmin_i/zmax_i, exact
              double bounds for floats in zmin_d/zmax_d, all NULL (cannot
              skip) when stats don't apply.  This table IS the codec
              manifest, the decode-side registry (reference ancestor:
              the Package::schema() lookup, src/packages/mod.rs:102-112
              there): its metadata columns hold the codec and params
              chosen for each column chunk, and the driver reads them
              with column projection (``jobs.decode.read_block_meta``)
  checkpoint/ one row per partition: status + fingerprint + byte metrics,
              written LAST so its presence marks a durably completed
              partition (reference ancestor: create_new(true) download
              idempotence, src/packages/fetch.rs:264-282 there)
"""

from __future__ import annotations

BLOCKS_DIR = "blocks"
# outputs written before the block table became the one file per part
# also hold a per-part summary table here; nothing reads it, and a fresh
# (resume=False) encode removes it
OLD_MANIFEST_DIR = "manifest"
CHECKPOINT_DIR = "checkpoint"


def block_file(root: str, part_id: int) -> str:
    """The path of part ``part_id``'s block file under output ``root``."""
    import os

    return os.path.join(root, BLOCKS_DIR, f"part_id={part_id}", "data.parquet")
