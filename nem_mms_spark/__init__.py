"""nem_mms_spark — a PySpark-native per-column lightweight-compression engine.

Generalizes the reference (mattswoon/nem-mms, a Rust CLI that parses AEMO MMS
flat files into typed Arrow batches and writes parquet — see
/root/reference/src/main.rs:28-31) into a distributed columnar codec layer:

  read table (parquet files or DataFrame splits, each encoded in place
  with no shuffle) -> per-partition vectorized encode (dict / RLE / FSST /
  frame-of-reference + bit-pack / delta, auto-selected per column chunk
  via a sampled cost model) -> encoded-block table (one file per
  partition, also its codec manifest) + checkpoint/lineage rows.

Everything data-plane is numpy/pyarrow behind Arrow-vectorized UDFs; all
orchestration is declarative DataFrame API so Catalyst handles pruning,
pushdown and AQE.
"""

__version__ = "0.1.0"
