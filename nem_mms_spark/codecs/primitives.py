"""Bit-packing and byte-layout primitives shared by all codecs.

All layouts are little-endian.  Integers are packed LSB-first at a fixed
bit width; widths > 56 fall back to raw 8-byte storage (packing math uses
int64 powers which are exact only below 2**63).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from nem_mms_spark.codecs import native as _native

_RAW_WIDTH = 64  # sentinel: store as raw int64/uint64 words
_PACK_ROWS_PER_CHUNK = 1024  # 1024 rows x 64 lanes x 8 B = 512 KB per chunk


def bit_width(max_value: int) -> int:
    """Bits needed to represent max_value (>=0). 0 for max_value == 0."""
    if max_value < 0:
        raise ValueError("bit_width expects a non-negative value")
    return int(max_value).bit_length()


def pack_uints(values: np.ndarray, width: int) -> bytes:
    """Pack non-negative ints into `width`-bit little-endian codes.

    width == 0 means all values are zero (empty payload); width > 56
    stores raw uint64 words.

    Kernel: word-lane packing.  Values are processed in groups of 64; a
    group occupies exactly `width` uint64 output words, so each of the 64
    lane positions has a fixed (word, shift) destination and the whole
    column packs in 64 vectorized shift/OR passes — no per-bit uint8
    matrix.  The byte layout is the plain LSB-first bitstream (identical
    to ``np.packbits(bitorder="little")`` of the value bits).
    """
    n = len(values)
    if n == 0 or width == 0:
        return b""
    if width > 56:
        return values.astype("<u8").tobytes()
    if _native.lib is not None:
        v = np.ascontiguousarray(values, dtype=np.uint64)
        out = np.empty((n * width + 7) // 8, dtype=np.uint8)
        _native.lib.nem_pack_uints(v, n, width, out)
        return out.tobytes()
    v = values.astype(np.uint64, copy=False)
    m = (n + 63) // 64
    if n != m * 64:
        v = np.concatenate([v, np.zeros(m * 64 - n, dtype=np.uint64)])
    # LANE HALVING: adjacent lanes merge pairwise (lo | hi << w), which
    # preserves the LSB-first layout exactly, until each lane is > 32
    # bits; log2 dense passes replace most of the old 64 strided
    # shift/OR passes (the kernel's dominant memory traffic — round-3
    # verdict: the 64-pass loop re-streamed the chunk per pass with a
    # 512-byte access stride)
    lanes = v.reshape(m, 64)
    w = width
    while w <= 32:
        lanes = lanes[:, 0::2] | (lanes[:, 1::2] << np.uint64(w))
        w *= 2
    nl = lanes.shape[1]  # nl * w == 64 * width, a whole number of words
    words = np.zeros((m, (64 * width) >> 6), dtype="<u8")
    for r0 in range(0, m, _PACK_ROWS_PER_CHUNK):
        lb = lanes[r0 : r0 + _PACK_ROWS_PER_CHUNK]
        wb = words[r0 : r0 + _PACK_ROWS_PER_CHUNK]
        for i in range(nl):
            bitpos = i * w
            k, s = bitpos >> 6, bitpos & 63
            col = lb[:, i]
            wb[:, k] |= col << np.uint64(s)
            if s + w > 64:
                # high bits spill into the next word; (>> 63-s >> 1) is
                # v >> (64-s) without an undefined 64-bit shift at s == 0.
                wb[:, k + 1] |= (col >> np.uint64(63 - s)) >> np.uint64(1)
    return words.tobytes()[: (n * width + 7) // 8]


def packed_size(count: int, width: int) -> int:
    """Bytes pack_uints writes for `count` values of `width` bits."""
    return count * 8 if width > 56 else (count * width + 7) // 8


def unpack_uints(payload: bytes, width: int, count: int) -> np.ndarray:
    """Inverse of pack_uints -> uint64 array of length count.

    Raises ValueError unless the payload is exactly the size pack_uints
    writes for (count, width): a cut or padded payload never decodes."""
    need = packed_size(count, width)
    if len(payload) != need:
        raise ValueError(
            f"bit-packed payload is {len(payload)} bytes, expected {need}"
        )
    if count == 0 or width == 0:
        return np.zeros(count, dtype=np.uint64)
    if width > 56:
        return np.frombuffer(payload, dtype="<u8", count=count).astype(np.uint64)
    if _native.lib is not None:
        buf = np.frombuffer(payload, dtype=np.uint8)
        out = np.empty(count, dtype=np.uint64)
        _native.lib.nem_unpack_uints(np.ascontiguousarray(buf), count, width, out)
        return out
    m = (count + 63) // 64
    # the word-lane kernel reads whole 64-value groups
    buf = bytes(payload).ljust(m * width * 8, b"\0")
    words = np.frombuffer(buf, dtype="<u8", count=m * width).reshape(m, width)
    # inverse of the pack-side lane halving: extract the WIDE lanes
    # (few strided passes), then split pairwise back down to `width`
    # with log2 dense passes
    w = width
    while w <= 32:
        w *= 2
    nl = (64 * width) // w
    wide = np.empty((m, nl), dtype=np.uint64)
    mask = np.uint64((1 << w) - 1) if w < 64 else np.uint64(0xFFFFFFFFFFFFFFFF)
    for r0 in range(0, m, _PACK_ROWS_PER_CHUNK):
        wb = words[r0 : r0 + _PACK_ROWS_PER_CHUNK]
        ob = wide[r0 : r0 + _PACK_ROWS_PER_CHUNK]
        for i in range(nl):
            bitpos = i * w
            k, s = bitpos >> 6, bitpos & 63
            val = wb[:, k] >> np.uint64(s)
            if s + w > 64:
                val = val | (wb[:, k + 1] << np.uint64(64 - s))
            ob[:, i] = val & mask
    out = wide
    while w > width:
        w //= 2
        lo_mask = np.uint64((1 << w) - 1)
        split = np.empty((m, out.shape[1] * 2), dtype=np.uint64)
        split[:, 0::2] = out & lo_mask
        split[:, 1::2] = out >> np.uint64(w)
        out = split
    return out.reshape(-1)[:count]


def zigzag_encode(values: np.ndarray) -> np.ndarray:
    """Signed int64 -> unsigned zigzag (0,-1,1,-2 -> 0,1,2,3)."""
    v = values.astype(np.int64, copy=False)
    return (
        (v.view(np.uint64) << np.uint64(1)) ^ (v >> np.int64(63)).view(np.uint64)
    )


def zigzag_decode(values: np.ndarray) -> np.ndarray:
    u = values.astype(np.uint64, copy=False)
    return ((u >> np.uint64(1)).view(np.int64)) ^ -(u & np.uint64(1)).astype(
        np.int64
    )


def encode_offsets_data(
    data: np.ndarray, offsets: np.ndarray
) -> tuple[bytes, dict]:
    """Serialize a (uint8 data, int64 offsets) string/binary chunk.

    Layout: bit-packed *lengths* (cheaper than absolute offsets) followed by
    the raw data bytes.  Returns (payload, params).
    """
    lengths = np.diff(offsets.astype(np.int64, copy=False))
    max_len = int(lengths.max()) if len(lengths) else 0
    w = bit_width(max_len)
    packed = pack_uints(lengths.astype(np.uint64), w)
    body = data.tobytes() if isinstance(data, np.ndarray) else bytes(data)
    return packed + body, {"lw": w, "ln": len(packed)}


def decode_offsets_data(
    payload: bytes, params: dict, count: int
) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of encode_offsets_data -> (uint8 data, int64 offsets).
    Raises ValueError when the data bytes disagree with the lengths."""
    ln = params["ln"]
    lengths = unpack_uints(payload[:ln], params["lw"], count).astype(np.int64)
    offsets = np.zeros(count + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    # zero-copy view into the payload (callers only read; the view keeps
    # the payload buffer alive)
    data = np.frombuffer(payload, dtype=np.uint8, offset=ln)
    if len(data) != offsets[-1]:
        raise ValueError(
            f"string payload has {len(data)} data bytes, lengths sum to "
            f"{int(offsets[-1])}"
        )
    return data, offsets


def run_ends(values: np.ndarray) -> np.ndarray:
    """Indices one past the end of each run in a 1-D array."""
    if len(values) == 0:
        return np.zeros(0, dtype=np.int64)
    change = np.flatnonzero(values[1:] != values[:-1]) + 1
    return np.concatenate([change, [len(values)]]).astype(np.int64)


def binary_array(data: np.ndarray, offsets: np.ndarray) -> pa.LargeBinaryArray:
    """Zero-copy Arrow view of a (uint8 data, int64 offsets) chunk.  The
    array keeps both numpy buffers alive."""
    return pa.Array.from_buffers(
        pa.large_binary(),
        len(offsets) - 1,
        [
            None,
            pa.py_buffer(np.ascontiguousarray(offsets, dtype=np.int64)),
            pa.py_buffer(np.ascontiguousarray(data)),
        ],
    )


def binary_buffers(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of binary_array for a null-free large_binary array: a
    zero-copy uint8 view of its bytes and offsets rebased to start at 0
    (the array's slice offset is honoured)."""
    n = len(arr)
    if n == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(1, dtype=np.int64)
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int64, count=arr.offset + n + 1)
    offsets = offsets[arr.offset :]
    base = int(offsets[0])
    offsets = offsets - base
    if bufs[2] is None:
        return np.zeros(0, dtype=np.uint8), offsets
    data = np.frombuffer(bufs[2], dtype=np.uint8)[base : base + int(offsets[-1])]
    return data, offsets


def binary_views(arr: pa.Array):
    """Zero-copy element accessor for a [large_]binary/string array: j ->
    memoryview over the shared data buffer (None for null elements)."""
    bufs = arr.buffers()
    wide = pa.types.is_large_binary(arr.type) or pa.types.is_large_string(
        arr.type
    )
    offs = np.frombuffer(bufs[1], dtype=np.int64 if wide else np.int32)[
        arr.offset : arr.offset + len(arr) + 1
    ]
    # cast to unsigned bytes: pa.Buffer exports format 'b' (signed), under
    # which mv[i] yields NEGATIVE ints for bytes >= 0x80 — silently
    # corrupting any decoder that indexes header bytes (FSST's symbol
    # lengths).  'B' restores bytes-like indexing semantics.
    data = (
        memoryview(bufs[2]).cast("B")
        if bufs[2] is not None
        else memoryview(b"")
    )
    if arr.null_count:
        valid = arr.is_valid().to_numpy(zero_copy_only=False)
    else:
        valid = None

    def get(j: int):
        if valid is not None and not valid[j]:
            return None
        return data[offs[j] : offs[j + 1]]

    return get


def factorize_bytes(
    data: np.ndarray, offsets: np.ndarray
) -> tuple[np.ndarray, tuple[np.ndarray, np.ndarray]]:
    """Dictionary-encode a (data, offsets) chunk with Arrow's hash kernel.

    Returns (int64 codes, (udata, uoffsets)): the distinct values in
    first-occurrence order, so the result is a pure function of chunk
    content.  DICT and RLE factorize whole strings, WORD_DICT's numpy
    twin the word tokens (token offsets over the same data); the
    selector's size estimates reuse the result for the winning encode."""
    d = binary_array(data, offsets).dictionary_encode()
    codes = d.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    return codes, binary_buffers(d.dictionary)


def gather_bytes(
    data: np.ndarray, offsets: np.ndarray, indices: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Take rows `indices` from a (data, offsets) chunk -> a new
    (data, offsets) pair, through Arrow's take kernel (one memcpy per
    row).  Materializes dictionary values, run values and word tokens."""
    return binary_buffers(binary_array(data, offsets).take(pa.array(indices)))
