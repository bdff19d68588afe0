"""WORD_DICT: dictionary coding over space-delimited word tokens.

Natural-language text defeats byte-level FSST's 255-code budget (a web-text
vocabulary is thousands of words), but tokenizing on spaces and
dictionary-coding whole tokens gets ~12 bits per ~6-byte token.  The
tokenization is position-based and lossless: a token boundary falls after
every 0x20 byte (the space stays attached to its token), so
concat(tokens) == original bytes for ANY byte content — the bit-identical
round-trip holds on arbitrary binary too (it just degenerates to one token
per string, i.e. plain DICT).

Layout: [packed tokens-per-string][dict values][packed codes].
"""

from __future__ import annotations

import numpy as np

from nem_mms_spark.codecs import native
from nem_mms_spark.codecs.primitives import (
    bit_width,
    decode_offsets_data,
    encode_offsets_data,
    factorize_bytes,
    gather_bytes,
    pack_uints,
    unpack_uints,
)

_SPACE = 32


def tokenize(data: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Token offsets: every string start/end plus the position after each
    space byte.  Tokens partition the chunk's bytes exactly.

    Both boundary sources are already sorted, so merge them directly
    (searchsorted on the small side + one linear np.insert) instead of
    scattering into an O(total-bytes) boolean mask — the scatter was the
    kernel's memory-bound hot spot."""
    nb = int(offsets[-1]) if len(offsets) > 1 else 0
    if nb == 0:
        return offsets.astype(np.int64, copy=True)
    if native.lib is not None:
        offs = np.ascontiguousarray(offsets, dtype=np.int64)
        n = len(offs) - 1
        # worst-case sizing (all spaces); the empty alloc is virtual-only
        # so the untouched tail costs nothing — cheaper than a counting
        # pre-pass over the chunk
        out = np.empty(nb - int(offs[0]) + n + 2, dtype=np.int64)
        m = native.lib.nem_wd_tokenize(np.ascontiguousarray(data), offs, n, out)
        return out[:m]
    spaces = np.flatnonzero(data[:nb] == _SPACE).astype(np.int64)
    spaces += 1
    offs = offsets.astype(np.int64, copy=False)
    merged = np.insert(spaces, np.searchsorted(spaces, offs), offs)
    keep = np.empty(len(merged), dtype=bool)
    keep[0] = True
    np.not_equal(merged[1:], merged[:-1], out=keep[1:])
    return merged[keep]


def encode(
    data: np.ndarray,
    offsets: np.ndarray,
    token_offsets: np.ndarray | None = None,
    codes: np.ndarray | None = None,
    uniq=None,
) -> tuple[bytes, dict]:
    n = len(offsets) - 1
    if token_offsets is None:
        token_offsets = tokenize(data, offsets)
    if codes is None or uniq is None:
        codes, uniq = factorize_bytes(data, token_offsets)
    udata, uoffsets = uniq
    card = len(uoffsets) - 1

    # tokens per string
    counts = np.diff(np.searchsorted(token_offsets, offsets)).astype(np.uint64)
    sw = bit_width(int(counts.max())) if n else 0
    counts_p = pack_uints(counts, sw)

    dict_payload, dict_params = encode_offsets_data(udata, uoffsets)
    cw = bit_width(max(card - 1, 0))
    codes_p = pack_uints(codes.astype(np.uint64), cw)
    payload = counts_p + dict_payload + codes_p
    return payload, {
        "card": card,
        "cw": cw,
        "tn": int(len(codes)),
        "sw": sw,
        "slen": len(counts_p),
        "dlen": len(dict_payload),
        "dp": dict_params,
    }


def decode(payload: bytes, params: dict, count: int):
    slen, dlen = params["slen"], params["dlen"]
    counts = unpack_uints(payload[:slen], params["sw"], count).astype(np.int64)
    udata, uoffsets = decode_offsets_data(
        payload[slen : slen + dlen], params["dp"], params["card"]
    )
    codes = unpack_uints(
        payload[slen + dlen :], params["cw"], params["tn"]
    ).astype(np.int64)
    tdata, toffsets = gather_bytes(udata, uoffsets, codes)
    # string i is tokens bounds[i]..bounds[i+1]
    bounds = np.zeros(count + 1, dtype=np.int64)
    np.cumsum(counts, out=bounds[1:])
    return tdata, toffsets[bounds]
