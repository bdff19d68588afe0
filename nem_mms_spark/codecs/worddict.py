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

import ctypes

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


def factorize_words(
    data: np.ndarray, offsets: np.ndarray
) -> tuple[np.ndarray, np.ndarray, tuple[np.ndarray, np.ndarray]]:
    """Tokenize the chunk on spaces and dictionary-code the tokens.

    Returns (int64 codes, int64 tokens per string, (udata, uoffsets)):
    one code per token in chunk order, the distinct tokens in
    first-occurrence order.  A token ends after every space byte and at
    the end of its string; an empty string has no tokens.  The native
    kernel does it in one pass; ``_factorize_words_numpy`` is its twin
    and source of truth."""
    offs = np.ascontiguousarray(offsets, dtype=np.int64)
    n = len(offs) - 1
    nb = int(offs[-1])
    if offs[0] != 0 or nb > len(data) or np.any(offs[1:] < offs[:-1]):
        raise ValueError("offsets must start at 0, not decrease, fit data")
    if native.lib is None:
        return _factorize_words_numpy(data, offs)
    # codes at worst case (one byte per token): np.empty is virtual-only,
    # so the untouched tail costs nothing.  The dictionary's size is
    # known only at the end, so the kernel grows it on the heap and it
    # is copied out here: worst-case dictionary buffers, touched a little
    # at the front, raised the encode workers' peak RSS (they keep every
    # freed page) by ~38 MB each on encode_pages
    codes = np.empty(nb, dtype=np.int64)
    counts = np.empty(n, dtype=np.int64)
    n_uniq = np.zeros(1, dtype=np.int64)
    up, op = ctypes.c_void_p(), ctypes.c_void_p()
    t = native.lib.nem_wd_factorize(
        np.ascontiguousarray(data), offs, n, codes, counts,
        ctypes.byref(up), ctypes.byref(op), n_uniq,
    )
    if t < 0:
        raise MemoryError("word dictionary buffers could not grow")
    try:
        uoffsets = np.empty(int(n_uniq[0]) + 1, dtype=np.int64)
        ctypes.memmove(uoffsets.ctypes.data, op, uoffsets.nbytes)
        udata = np.empty(int(uoffsets[-1]), dtype=np.uint8)
        ctypes.memmove(udata.ctypes.data, up, udata.nbytes)
    finally:
        native.lib.nem_free(up)
        native.lib.nem_free(op)
    return codes[:t], counts, (udata, uoffsets)


def _factorize_words_numpy(data: np.ndarray, offsets: np.ndarray):
    """Token boundaries are every string start/end plus the position
    after each space byte, merged sorted (searchsorted on the small side
    + one linear np.insert) and deduplicated; Arrow's hash kernel codes
    the tokens, and a searchsorted of the string offsets counts them."""
    nb = int(offsets[-1])
    spaces = np.flatnonzero(data[:nb] == _SPACE).astype(np.int64)
    spaces += 1
    offs = offsets.astype(np.int64, copy=False)
    merged = np.insert(spaces, np.searchsorted(spaces, offs), offs)
    keep = np.empty(len(merged), dtype=bool)
    keep[0] = True
    np.not_equal(merged[1:], merged[:-1], out=keep[1:])
    tok = merged[keep]
    codes, uniq = factorize_bytes(data, tok)
    return codes, np.diff(np.searchsorted(tok, offs)), uniq


def encode(
    data: np.ndarray,
    offsets: np.ndarray,
    codes: np.ndarray | None = None,
    counts: np.ndarray | None = None,
    uniq=None,
) -> tuple[bytes, dict]:
    """``codes``, ``counts`` and ``uniq`` are ``factorize_words``'
    result, when the caller already has it."""
    n = len(offsets) - 1
    if codes is None or counts is None or uniq is None:
        codes, counts, uniq = factorize_words(data, offsets)
    udata, uoffsets = uniq
    card = len(uoffsets) - 1

    counts = counts.astype(np.uint64)
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
