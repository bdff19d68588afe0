"""WORD_DICT: dictionary coding over space-delimited word tokens.

Natural-language text defeats byte-level FSST's 255-code budget (a web-text
vocabulary is thousands of words), but tokenizing on spaces and
dictionary-coding whole tokens does not.  The tokenization is
position-based and lossless: a token boundary falls after every 0x20 byte
(the space stays attached to its token), so concat(tokens) == original
bytes for ANY byte content — the bit-identical round-trip holds on
arbitrary binary too (it just degenerates to one token per string, i.e.
plain DICT).

The dictionary is numbered by descending token count, ties in first-
occurrence order, so a token's code is its frequency rank and web text's
Zipf shape makes small ranks common.  The ranks are stored in two tiers:
a selector bit per token, the ranks below 2^k packed at k bits, the rest
at the full code width ``cw``, with k chosen by exact byte cost from the
rank histogram.  When no k pays, one tier at ``cw`` bits is the flat
layout, which also decodes payloads written before the ranking existed.
On generated web_pages html and text a token's code costs 9.6 bits in two
tiers, against 13.2 flat and an order-0 entropy of 7.9.

The dictionary is stored raw (packed lengths + bytes), or FSST-coded with
the caller's table when that is smaller: the selector passes the column's
4 KB probe table, so the payload does not depend on whether the column
also trained a full table.  The selector builds the dictionary section
(``encode_dictionary``) to price it, and hands it to ``encode``.

Layout: [packed tokens-per-string][dictionary][tier selector, two tiers
only][one packed rank stream per tier].
"""

from __future__ import annotations

import ctypes
from typing import NamedTuple

import numpy as np

from nem_mms_spark.codecs import fsst, native
from nem_mms_spark.codecs.primitives import (
    bit_width,
    decode_offsets_data,
    encode_offsets_data,
    factorize_bytes,
    gather_bytes,
    pack_uints,
    packed_size,
    unpack_uints,
)

_SPACE = 32


class Words(NamedTuple):
    """A chunk's word tokens: one int64 code per token in chunk order,
    int64 tokens per string, the distinct tokens ``(udata, uoffsets)`` in
    first-occurrence order, and each distinct token's int64 count."""

    codes: np.ndarray
    counts: np.ndarray
    uniq: tuple[np.ndarray, np.ndarray]
    hist: np.ndarray


def factorize_words(data: np.ndarray, offsets: np.ndarray) -> Words:
    """Tokenize the chunk on spaces and dictionary-code the tokens.  A
    token ends after every space byte and at the end of its string; an
    empty string has no tokens.  The native kernel does it in one pass;
    ``_factorize_words_numpy`` is its twin and source of truth."""
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
    up, op, hp = ctypes.c_void_p(), ctypes.c_void_p(), ctypes.c_void_p()
    t = native.lib.nem_wd_factorize(
        np.ascontiguousarray(data), offs, n, codes, counts,
        ctypes.byref(up), ctypes.byref(op), ctypes.byref(hp), n_uniq,
    )
    if t < 0:
        raise MemoryError("word dictionary buffers could not grow")
    try:
        uoffsets = np.empty(int(n_uniq[0]) + 1, dtype=np.int64)
        ctypes.memmove(uoffsets.ctypes.data, op, uoffsets.nbytes)
        udata = np.empty(int(uoffsets[-1]), dtype=np.uint8)
        ctypes.memmove(udata.ctypes.data, up, udata.nbytes)
        hist = np.empty(int(n_uniq[0]), dtype=np.int64)
        ctypes.memmove(hist.ctypes.data, hp, hist.nbytes)
    finally:
        native.lib.nem_free(up)
        native.lib.nem_free(op)
        native.lib.nem_free(hp)
    return Words(codes[:t], counts, (udata, uoffsets), hist)


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
    hist = np.bincount(codes, minlength=len(uniq[1]) - 1)
    return Words(codes, np.diff(np.searchsorted(tok, offs)), uniq, hist)


# one or two tiers (the kernels are written for these).  A third tier took
# the generated web_pages codes from 7.85 to 7.18 MB (the order-0 entropy
# is 6.41 MB; flat was 10.77) but its C unpack ran ~30% slower than two
# tiers', which run at the flat unpack's speed
_MAX_TIERS = 2
# the widest value the kernels' one 8-byte window holds at any bit offset
_MAX_WIDTH = 56


class Tiers(NamedTuple):
    """A chunk's rank order and tier split: ``order[r]`` is the first-
    occurrence code of rank r; tier j holds ``sizes[j]`` tokens at
    ``widths[j]`` bits."""

    order: np.ndarray
    widths: tuple[int, ...]
    sizes: tuple[int, ...]


def tiers_size(widths, sizes) -> int:
    """Exact bytes of the tier selector plus the tier streams."""
    return _layout(widths, sizes)[1]


def _layout(widths, sizes) -> tuple[np.ndarray, int]:
    """(first bit of each tier's stream, total bytes).  With two tiers a
    selector of one bit per token comes first; every stream starts on a
    byte."""
    byte = (sum(sizes) + 7) // 8 if len(widths) == 2 else 0
    starts = np.zeros(len(widths), dtype=np.int64)
    for j, (n, w) in enumerate(zip(sizes, widths)):
        starts[j] = 8 * byte
        byte += packed_size(n, w)
    return starts, byte


def rank_tiers(hist: np.ndarray) -> Tiers:
    """Rank the dictionary by descending count ``hist`` (a stable sort:
    ties keep first-occurrence order) and split the ranks at the lower
    tier width k that costs fewest bytes: a selector bit per token, the
    tokens of rank below 2^k at k bits, the rest at the full width.
    Flat, one tier at the full width, wins when no k is cheaper."""
    card = len(hist)
    order = np.argsort(-hist, kind="stable")
    cw = bit_width(max(card - 1, 0))
    cum = np.cumsum(hist[order])
    tn = int(cum[-1]) if card else 0
    best = Tiers(order, (cw,), (tn,))
    if cw > 1:
        k = np.arange(1, cw)
        low = cum[(1 << k) - 1]
        cost = (tn + 7) // 8 + (low * k + 7) // 8 + ((tn - low) * cw + 7) // 8
        i = int(np.argmin(cost))
        if cost[i] < packed_size(tn, cw):
            best = Tiers(order, (int(k[i]), cw), (int(low[i]), tn - int(low[i])))
    return best


def pack_tiers(codes: np.ndarray, rank_of: np.ndarray, tiers: Tiers) -> bytes:
    """The tier selector and streams of ranks ``rank_of[codes]``."""
    if len(tiers.widths) == 1:
        return pack_uints(rank_of[codes].astype(np.uint64), tiers.widths[0])
    sel, t0, t1 = _split_tiers(codes, rank_of, tiers.widths[0])
    return sel + pack_uints(t0, tiers.widths[0]) + pack_uints(t1, tiers.widths[1])


def _split_tiers(codes, rank_of, w0: int):
    """(selector bytes, tier-0 ranks, tier-1 ranks) of ranks
    ``rank_of[codes]``: tier 0 holds those below 2^w0, each tier in token
    order, and selector bit i is set for a tier-1 token."""
    if native.lib is None:
        return _split_tiers_numpy(codes, rank_of, w0)
    tn = len(codes)
    sel = np.zeros((tn + 7) // 8, dtype=np.uint8)
    t0 = np.empty(tn, dtype=np.uint64)
    t1 = np.empty(tn, dtype=np.uint64)
    n0 = native.lib.nem_wd_split_tiers(
        np.ascontiguousarray(codes, dtype=np.int64), tn,
        np.ascontiguousarray(rank_of, dtype=np.int64), w0, sel, t0, t1,
    )
    return sel.tobytes(), t0[:n0], t1[: tn - n0]


def _split_tiers_numpy(codes, rank_of, w0: int):
    """Twin of ``nem_wd_split_tiers`` and its source of truth."""
    ranks = rank_of[codes].astype(np.uint64)
    upper = ranks >= np.uint64(1 << w0)
    sel = np.packbits(upper, bitorder="little").tobytes()
    return sel, ranks[~upper], ranks[upper]


def unpack_tiers(buf: np.ndarray, widths, sizes, card: int) -> np.ndarray:
    """Inverse of ``pack_tiers`` over the uint8 ``buf`` -> int64 ranks.
    Raises ValueError unless ``buf`` is exactly the layout's size, the
    selector sends each tier exactly its ``sizes`` tokens, and every
    rank is below ``card``."""
    if (
        not 1 <= len(widths) == len(sizes) <= _MAX_TIERS
        or max(widths) > _MAX_WIDTH
        or min(sizes) < 0
    ):
        raise ValueError(f"corrupt WORD_DICT params: tiers {widths} {sizes}")
    starts, total = _layout(widths, sizes)
    if len(buf) != total:
        raise ValueError(
            f"WORD_DICT code streams are {len(buf)} bytes, expected {total}"
        )
    if native.lib is None:
        return _unpack_tiers_numpy(buf, widths, sizes, card, starts)
    out = np.empty(sum(sizes), dtype=np.int64)
    rc = native.lib.nem_wd_unpack_tiers(
        np.ascontiguousarray(buf), len(buf), len(out), len(widths),
        np.array(widths, dtype=np.int32), starts,
        np.array(sizes, dtype=np.int64), card, out,
    )
    if rc == -1:
        raise ValueError("corrupt WORD_DICT codes: rank beyond dictionary")
    if rc == -2:
        raise ValueError("corrupt WORD_DICT codes: tier counts mismatch")
    return out


def _unpack_tiers_numpy(buf, widths, sizes, card, starts) -> np.ndarray:
    """Twin of ``nem_wd_unpack_tiers`` and its source of truth."""
    tn = sum(sizes)
    if len(widths) == 1:
        tier = np.zeros(tn, dtype=bool)
    else:
        bits = np.unpackbits(buf[: int(starts[0]) // 8], bitorder="little")
        tier = bits[:tn].astype(bool)
    if np.bincount(tier, minlength=len(widths)).tolist() != list(sizes):
        raise ValueError("corrupt WORD_DICT codes: tier counts mismatch")
    ranks = np.empty(tn, dtype=np.int64)
    for j, (n, w) in enumerate(zip(sizes, widths)):
        lo = int(starts[j]) // 8
        part = buf[lo : lo + packed_size(n, w)].tobytes()
        ranks[tier == j] = unpack_uints(part, w, n)
    if tn and int(ranks.max()) >= card:
        raise ValueError("corrupt WORD_DICT codes: rank beyond dictionary")
    return ranks


def encode_dictionary(
    uniq: tuple[np.ndarray, np.ndarray],
    order: np.ndarray,
    table: fsst.FsstTable | None,
) -> tuple[bytes, dict]:
    """The dictionary section of a WORD_DICT payload and its params: the
    distinct tokens ``uniq`` in rank ``order``, stored raw, or coded
    with ``table`` when that is smaller."""
    udata, uoffsets = uniq
    card = len(uoffsets) - 1
    if card:
        udata, uoffsets = gather_bytes(udata, uoffsets, order)
    payload, params = encode_offsets_data(udata, uoffsets)
    params = {"dp": params}
    if table is not None and card:
        fp, fparams = fsst.encode(udata, uoffsets, table=table)
        if len(fp) < len(payload):
            payload, params = fp, {"df": fparams}
    return payload, params


def encode(
    data: np.ndarray,
    offsets: np.ndarray,
    words: Words | None = None,
    tiers: Tiers | None = None,
    table: fsst.FsstTable | None = None,
    dictionary: tuple[bytes, dict] | None = None,
) -> tuple[bytes, dict]:
    """``words`` is ``factorize_words``' result, ``tiers`` is
    ``rank_tiers``' on its counts and ``dictionary`` is
    ``encode_dictionary``'s on both, when the caller already has them.
    ``table`` codes the dictionary when that beats storing it raw."""
    n = len(offsets) - 1
    if words is None:
        words = factorize_words(data, offsets)
    codes, counts, uniq, hist = words
    card = len(uniq[1]) - 1
    if tiers is None:
        tiers = rank_tiers(hist)

    counts = counts.astype(np.uint64)
    sw = bit_width(int(counts.max())) if n else 0
    counts_p = pack_uints(counts, sw)

    rank_of = np.empty(card, dtype=np.int64)
    rank_of[tiers.order] = np.arange(card)
    if dictionary is None:
        dictionary = encode_dictionary(uniq, tiers.order, table)
    dict_payload, dict_params = dictionary
    codes_p = pack_tiers(codes, rank_of, tiers)
    payload = counts_p + dict_payload + codes_p
    return payload, {
        "card": card,
        "cw": tiers.widths[-1],
        "tn": int(len(codes)),
        "sw": sw,
        "slen": len(counts_p),
        "dlen": len(dict_payload),
        **dict_params,
        "tw": list(tiers.widths),
        "tc": list(tiers.sizes),
    }


def decode(payload: bytes, params: dict, count: int):
    """Inverse of encode.  Raises ValueError on a payload that disagrees
    with its params: a cut stream, tier counts the selector does not
    give, a rank beyond the dictionary, or token counts that do not sum
    to the tokens."""
    slen, dlen, card = params["slen"], params["dlen"], params["card"]
    # payloads written before the ranking have one tier and no tw/tc
    widths = params.get("tw", [params["cw"]])
    sizes = params.get("tc", [params["tn"]])
    counts = unpack_uints(payload[:slen], params["sw"], count).astype(np.int64)
    dpay = payload[slen : slen + dlen]
    if "df" in params:
        udata, uoffsets = fsst.decode(dpay, params["df"], card)
    else:
        udata, uoffsets = decode_offsets_data(dpay, params["dp"], card)
    codes = unpack_tiers(
        np.frombuffer(payload, dtype=np.uint8, offset=slen + dlen),
        widths, sizes, card,
    )
    # string i is tokens bounds[i]..bounds[i+1]
    bounds = np.zeros(count + 1, dtype=np.int64)
    np.cumsum(counts, out=bounds[1:])
    if bounds[-1] != len(codes):
        raise ValueError(
            f"corrupt WORD_DICT stream: {len(codes)} tokens, counts sum to "
            f"{int(bounds[-1])}"
        )
    tdata, toffsets = gather_bytes(udata, uoffsets, codes)
    return tdata, toffsets[bounds]
