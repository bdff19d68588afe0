"""Block framing + Arrow <-> codec-kernel conversion.

A *block* is the encode unit: a row-aligned slice of one partition's data
(all columns share block boundaries, like a parquet row group).  Framing
bounds UDF memory: boundaries fall at `block_rows` rows or earlier when the
accumulated raw bytes across columns reach `block_bytes` (keeps Arrow
batches and payload blobs small at 100 TB scale — reference ancestor: the
table segmentation scan, /root/reference/src/flatfile.rs:83-103, which
frames a row stream into schema-homogeneous runs).

Null handling lives here, not in the codecs: the validity bitmap is packed
separately (little-endian bits) and codecs see only the non-null values —
mirroring the reference's per-field nullability enforcement
(/root/reference/src/flatfile.rs:163).

Types: each block row records its column's Arrow type as a string
(`logical_type`).  `_parse_type` reads it back, `kernel_dtype` maps an
Arrow type to the codec kernels' dtype and `spark_schema` to the Spark
type decode emits (pyspark's own Arrow mapping); encode checks its
source schema with the same two mappings.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from nem_mms_spark.codecs.primitives import binary_array, binary_buffers

DEFAULT_BLOCK_ROWS = 65536
DEFAULT_BLOCK_BYTES = 16 << 20

_PRIMITIVE_TOKENS = {
    "int8": "i1",
    "int16": "<i2",
    "int32": "<i4",
    "int64": "<i8",
    "float": "<f4",
    "double": "<f8",
    "date32[day]": "<i4",
    "bool": "u1",
}


def kernel_dtype(arrow_type: pa.DataType) -> str:
    s = str(arrow_type)
    if s in _PRIMITIVE_TOKENS:
        return _PRIMITIVE_TOKENS[s]
    if pa.types.is_timestamp(arrow_type) or pa.types.is_time(arrow_type):
        return "<i8"
    if (
        pa.types.is_string(arrow_type)
        or pa.types.is_large_string(arrow_type)
        or pa.types.is_binary(arrow_type)
        or pa.types.is_large_binary(arrow_type)
    ):
        return "bytes"
    raise ValueError(f"unsupported arrow type for encoding: {arrow_type}")


def to_kernel(arr: pa.Array):
    """Arrow array -> (values, dtype_token, validity_bytes, null_count,
    raw_bytes).  `values` is a numpy array (numeric) or a (data, offsets)
    pair (bytes kind) holding only the non-null values."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    dtype = kernel_dtype(arr.type)
    null_count = arr.null_count
    if null_count:
        validity = np.packbits(
            pc.is_valid(arr).to_numpy(zero_copy_only=False), bitorder="little"
        ).tobytes()
        dense = arr.drop_null()
    else:
        validity = b""
        dense = arr

    if dtype == "bytes":
        dense = pc.cast(dense, pa.large_binary())
        if isinstance(dense, pa.ChunkedArray):
            dense = dense.combine_chunks()
        data, offsets = binary_buffers(dense)
        raw = int(offsets[-1]) + 8 * len(dense)
        return (data, offsets), dtype, validity, null_count, raw

    if pa.types.is_timestamp(arr.type):
        dense = pc.cast(dense, pa.int64())
    elif pa.types.is_boolean(arr.type):
        dense = pc.cast(dense, pa.uint8())
    elif str(arr.type) == "date32[day]":
        dense = pc.cast(dense, pa.int32())
    values = dense.to_numpy(zero_copy_only=False).astype(np.dtype(dtype), copy=False)
    return values, dtype, validity, null_count, values.nbytes


def from_kernel(
    values,
    logical_type: str,
    validity: bytes,
    count: int,
    null_count: int,
) -> pa.Array:
    """Inverse of to_kernel: rebuild the full-length arrow array with the
    original logical type (exact bit round-trip)."""
    typ = _parse_type(logical_type)
    dtype = kernel_dtype(typ)
    if null_count:
        valid = np.unpackbits(
            np.frombuffer(validity, dtype=np.uint8), bitorder="little"
        )[:count].astype(bool)
    else:
        valid = None

    if dtype == "bytes":
        dense = binary_array(*values)
        if valid is not None:
            dense = _scatter_bytes(dense, valid, count)
        return pc.cast(dense, typ)

    arr = np.asarray(values)
    if valid is not None:
        full = np.zeros(count, dtype=arr.dtype)
        full[valid] = arr
        mask = ~valid
    else:
        full, mask = arr, None
    if pa.types.is_timestamp(typ):
        return pc.cast(pa.array(full.astype(np.int64), mask=mask), typ)
    if pa.types.is_boolean(typ):
        return pa.array(full.astype(bool), mask=mask)
    if str(typ) == "date32[day]":
        return pc.cast(pa.array(full.astype(np.int32), mask=mask), typ)
    return pa.array(full, type=typ, mask=mask)


def _scatter_bytes(dense: pa.Array, valid: np.ndarray, count: int) -> pa.Array:
    """Spread non-null byte strings back to full length with nulls."""
    lengths = np.zeros(count, dtype=np.int64)
    dlen = np.diff(
        np.frombuffer(dense.buffers()[1], dtype=np.int64, count=len(dense) + 1)
    )
    lengths[valid] = dlen
    offsets = np.zeros(count + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    return pa.Array.from_buffers(
        pa.large_binary(),
        count,
        [
            pa.py_buffer(np.packbits(valid, bitorder="little")),
            pa.py_buffer(offsets),
            dense.buffers()[2] or pa.py_buffer(b""),
        ],
        null_count=int((~valid).sum()),
    )


def _parse_type(s: str) -> pa.DataType:
    """The arrow type a block row's ``logical_type`` string (``str`` of
    the type encode saw) names."""
    if s.startswith("timestamp[") and ", tz=" in s:
        # type_for_alias lower-cases the whole string, tz name included
        unit, tz = s[len("timestamp[") : -1].split(", tz=")
        return pa.timestamp(unit, tz=tz)
    try:
        return pa.type_for_alias(s)
    except ValueError:
        raise ValueError(f"unsupported logical type {s!r}") from None


def spark_schema(arrow_schema: pa.Schema):
    """The Spark schema decode emits for ``arrow_schema``: pyspark's own
    Arrow mapping, timestamps without a zone as ``timestamp_ntz``.
    Raises a ValueError naming the first column whose type the codec
    kernels or Spark cannot carry, so encode can refuse a source that
    decode could never emit before it writes anything."""
    from pyspark.sql.pandas.types import from_arrow_schema, from_arrow_type

    for f in arrow_schema:
        try:
            kernel_dtype(f.type)
            from_arrow_type(f.type, prefer_timestamp_ntz=True)
        except (ValueError, TypeError) as e:
            raise ValueError(
                f"unsupported logical type {str(f.type)!r} of column "
                f"{f.name!r}: {e}"
            ) from None
    return from_arrow_schema(arrow_schema, prefer_timestamp_ntz=True)


def block_ranges(
    table: pa.Table,
    block_rows: int = DEFAULT_BLOCK_ROWS,
    block_bytes: int = DEFAULT_BLOCK_BYTES,
) -> list[tuple[int, int]]:
    """Row-aligned block boundaries bounded by rows and total raw bytes."""
    n = table.num_rows
    if n == 0:
        return []
    per_row = max(1, table.nbytes // n)
    rows_by_bytes = max(256, block_bytes // per_row)
    step = int(min(block_rows, rows_by_bytes))
    return [(s, min(step, n - s)) for s in range(0, n, step)]
