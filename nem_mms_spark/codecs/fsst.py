"""FSST-style static-symbol-table string compression.

Follows the publicly described FSST design (Boncz/Neumann/Leis, VLDB 2020):
a table of at most 255 symbols of 1..8 bytes, 1-byte output codes, code 0 as
escape (escape + raw byte = 2 bytes).  The symbol table is *trained* on a
sample via iterative most-frequent-adjacent-pair merging (re-pair style,
which keeps both training and encoding fully vectorizable in numpy — no
per-row Python, per the engine mandate), rather than FSST's suffix-oriented
construction; the on-disk format and decode side match the FSST contract:
decode needs only the code->symbol table.  The trainer's merge loop and
the greedy matcher are C kernels (``nem_fsst_repair``, ``nem_fsst_encode``)
with numpy twins (the no-compiler fallback and the source of truth);
decode is one Arrow ``take`` from a 512-entry symbol dictionary.

Reference ancestor: the reference delegates all string encoding to parquet
defaults (/root/reference/src/packages/mod.rs:121-127); this module is part
of the codec layer that replaces that.

Chunk I/O shape: (data: uint8 ndarray, offsets: int64 ndarray), the zero-copy
layout of an Arrow binary/string column.
"""

from __future__ import annotations

import numpy as np

from nem_mms_spark.codecs import native
from nem_mms_spark.codecs.primitives import (
    binary_array,
    binary_buffers,
    bit_width,
    pack_uints,
    unpack_uints,
)

_SENTINEL = np.int32(-1)
MAX_SYMBOL_LEN = 8
MAX_CODES = 255  # code 0 is the escape marker
DEFAULT_MAX_MERGES = 255
_MAX_TRAIN_BYTES = 64 << 10
_MERGE_BATCH = 8  # token-disjoint merges per re-pair counting pass


class FsstTable:
    """Trained encoder state: the code table (code 1..255 -> symbol bytes)
    plus the 1-byte direct lookup ``code1``.  The matchers' 2-byte-prefix
    indexes are built on first use: ``_table_csr`` for the native matcher,
    ``_table_slots`` for the numpy one."""

    __slots__ = ("symbol_bytes", "code1", "csr", "slots")

    def __init__(self, symbol_bytes: list[bytes]):
        # symbol_bytes[i] is the symbol for code i+1
        self.symbol_bytes = symbol_bytes
        self.csr = None
        self.slots = None
        # direct lookup for 1-byte symbols: byte -> code (0 = none)
        self.code1 = np.zeros(256, dtype=np.int32)
        for i, s in enumerate(symbol_bytes):
            if len(s) == 1:
                self.code1[s[0]] = i + 1

    def serialized_symbols(self) -> bytes:
        """Decode-side table: for codes 1..n in order, len byte + bytes."""
        out = bytearray([len(self.symbol_bytes)])
        for sym in self.symbol_bytes:
            out.append(len(sym))
            out += sym
        return bytes(out)


def _prefix_groups(table: FsstTable) -> dict[int, list[int]]:
    """2-byte little-endian prefix -> indexes of the multi-byte symbols
    that start with it, in symbol-index order."""
    groups: dict[int, list[int]] = {}
    for i, s in enumerate(table.symbol_bytes):
        if len(s) >= 2:
            groups.setdefault(s[0] | (s[1] << 8), []).append(i)
    return groups


def _window(sym: bytes) -> tuple[np.uint64, np.uint64]:
    """A symbol as a little-endian uint64 window value and its byte mask."""
    ln = len(sym)
    return (
        np.uint64(int.from_bytes(sym, "little")),
        np.uint64((1 << (8 * ln)) - 1 if ln < 8 else 0xFFFFFFFFFFFFFFFF),
    )


def _table_slots(table: FsstTable):
    """Prefix-indexed slot tables for the numpy matcher: slot s of prefix
    p holds the s-th symbol starting with p, so a longest match is O(K)
    gathers (K = max symbols sharing a prefix, typically 2-4; binary
    search over packed windows is random-access-bound, the slot gather is
    linear).  Returns (n_slots, slot_cnt, slot_val, slot_msk, slot_len,
    slot_code)."""
    if table.slots is None:
        groups = _prefix_groups(table)
        k = max((len(v) for v in groups.values()), default=0)
        # sentinel: mask 0 with val 1 never matches (w & 0 == 1 is false)
        slot_val = np.full((k, 65536), 1, dtype=np.uint64)
        slot_msk = np.zeros((k, 65536), dtype=np.uint64)
        slot_len = np.zeros((k, 65536), dtype=np.int32)
        slot_code = np.zeros((k, 65536), dtype=np.int32)
        slot_cnt = np.zeros(65536, dtype=np.int32)
        for pfx, idxs in groups.items():
            slot_cnt[pfx] = len(idxs)
            for s_i, i in enumerate(idxs):
                sym = table.symbol_bytes[i]
                slot_val[s_i, pfx], slot_msk[s_i, pfx] = _window(sym)
                slot_len[s_i, pfx] = len(sym)
                slot_code[s_i, pfx] = i + 1
        table.slots = (k, slot_cnt, slot_val, slot_msk, slot_len, slot_code)
    return table.slots


def _table_csr(table: FsstTable):
    """2-byte-prefix CSR over the multi-byte symbols for the native
    matcher: entries in symbol-index order per prefix (== the numpy slot
    order), so the strictly-longer tie-break picks the same code."""
    if table.csr is None:
        groups = _prefix_groups(table)
        n_ent = sum(len(v) for v in groups.values())
        bstart = np.zeros(65537, dtype=np.int32)
        bval = np.empty(n_ent, dtype=np.uint64)
        bmsk = np.empty(n_ent, dtype=np.uint64)
        blen = np.empty(n_ent, dtype=np.int32)
        bcode = np.empty(n_ent, dtype=np.int32)
        for pfx, idxs in groups.items():
            bstart[pfx + 1] = len(idxs)
        np.cumsum(bstart, out=bstart)
        pos = bstart[:-1].copy()
        for pfx, idxs in groups.items():
            p = pos[pfx]
            for i in idxs:
                sym = table.symbol_bytes[i]
                bval[p], bmsk[p] = _window(sym)
                blen[p] = len(sym)
                bcode[p] = i + 1
                p += 1
        table.csr = (
            np.ascontiguousarray(table.code1, dtype=np.int32),
            bstart, bval, bmsk, blen, bcode,
        )
    return table.csr


def _tokenize(data: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Byte stream -> int32 token array with -1 sentinels between strings
    (merges never cross string boundaries)."""
    n = len(offsets) - 1
    nbytes = int(offsets[-1] - offsets[0])
    total = nbytes + max(n - 1, 0)
    tokens = np.full(total, _SENTINEL, dtype=np.int32)
    if nbytes:
        lengths = np.diff(offsets)
        row_of_byte = np.repeat(np.arange(n, dtype=np.int64), lengths)
        dest = np.arange(nbytes, dtype=np.int64) + row_of_byte
        tokens[dest] = data[offsets[0] : offsets[-1]].astype(np.int32)
    return tokens


def _repair_numpy(
    tokens: np.ndarray, sym_len: np.ndarray, max_merges: int, min_count: int
) -> tuple[np.ndarray, list[tuple[int, int, int]]]:
    """Batched re-pair over a ``_tokenize``d sample: each counting pass
    merges up to ``_MERGE_BATCH`` token-disjoint pairs from the top
    ``4 * _MERGE_BATCH`` by (count desc, a asc, b asc).  Disjointness makes
    the batch exact — a match of one pair can never overlap or invalidate
    a match of another (an overlap would require a shared token) — so one
    pass does the work of up to B sequential merge rounds at 1/B the
    count+scan memory traffic.  Fills ``sym_len`` for the new ids and
    returns the rewritten tokens and the rules (a, b, new_id) in merge
    order.  The numpy twin of ``nem_fsst_repair`` and its source of
    truth."""
    batch = _MERGE_BATCH
    rules: list[tuple[int, int, int]] = []
    next_id = 256
    while next_id < 256 + max_merges:
        if len(tokens) < 2:
            break
        left, right = tokens[:-1], tokens[1:]
        valid = (left >= 0) & (right >= 0)
        valid &= (sym_len[left] + sym_len[right]) <= MAX_SYMBOL_LEN
        if not valid.any():
            break
        # token ids < next_id (<=511): count pairs with bincount, not a sort
        k = np.int64(next_id)
        keys = left[valid].astype(np.int64) * k + right[valid]
        counts = np.bincount(keys, minlength=0)
        nz = np.flatnonzero(counts >= min_count)
        if len(nz) == 0:
            break
        # a total order (count desc, key asc; key order is (a, b) order),
        # so the tied keys kept at the cut do not depend on a selection
        # algorithm
        nz = nz[np.lexsort((nz, -counts[nz]))][: 4 * batch]
        used: set[int] = set()
        picked: list[tuple[int, int]] = []
        for key in nz:
            a, b = int(key // k), int(key % k)
            if a in used or b in used:
                continue
            used.add(a)
            used.add(b)
            picked.append((a, b))
            if len(picked) >= batch or next_id + len(picked) >= 256 + max_merges:
                break
        # match all picked pairs against the SAME token snapshot
        matches: list[tuple[np.ndarray, int]] = []
        for a, b in picked:
            idx = np.flatnonzero((left == a) & (right == b))
            if a == b and len(idx):
                # overlapping matches (runs of `a`): greedy keeps every
                # other match within each run of match positions
                run_key = idx - np.arange(len(idx))
                first = np.concatenate([[True], run_key[1:] != run_key[:-1]])
                starts = np.where(first, idx, np.int64(-1))
                np.maximum.accumulate(starts, out=starts)
                idx = idx[((idx - starts) % 2) == 0]
            if len(idx) == 0:
                continue
            sym_len[next_id] = sym_len[a] + sym_len[b]
            rules.append((a, b, next_id))
            matches.append((idx, next_id))
            next_id += 1
        if not matches:
            break
        keep = np.ones(len(tokens), dtype=bool)
        for idx, nid in matches:
            tokens[idx] = nid
            keep[idx + 1] = False
        tokens = tokens[keep]
    return tokens, rules


def _repair_native(
    tokens: np.ndarray, sym_len: np.ndarray, max_merges: int, min_count: int
) -> tuple[np.ndarray, list[tuple[int, int, int]]]:
    """``_repair_numpy`` as one C call; rewrites ``tokens`` in place."""
    k = 256 + max_merges
    counts = np.zeros(k * k, dtype=np.int32)
    touched = np.empty(max(len(tokens), 1), dtype=np.int32)
    rules = np.empty((max_merges, 3), dtype=np.int32)
    n_rules = np.zeros(1, dtype=np.int64)
    n = native.lib.nem_fsst_repair(
        tokens, len(tokens), sym_len, max_merges, min_count, _MERGE_BATCH,
        counts, touched, rules, n_rules,
    )
    return tokens[:n], [tuple(r) for r in rules[: n_rules[0]].tolist()]


def train(
    data: np.ndarray,
    offsets: np.ndarray,
    max_merges: int = DEFAULT_MAX_MERGES,
    max_train_bytes: int = _MAX_TRAIN_BYTES,
) -> FsstTable:
    """Build a symbol table from (a prefix sample of) the chunk."""
    n = len(offsets) - 1
    if n and offsets[-1] - offsets[0] > max_train_bytes:
        cut = int(np.searchsorted(offsets, offsets[0] + max_train_bytes))
        cut = max(cut, 1)
        offsets = offsets[: cut + 1]
    tokens = _tokenize(data, offsets)
    sym_len = np.ones(256 + max_merges, dtype=np.int64)
    min_count = max(4, len(tokens) // 8192)
    repair = _repair_native if native.lib is not None else _repair_numpy
    tokens, rules = repair(tokens, sym_len, max_merges, min_count)
    symbols = {t: bytes([t]) for t in range(256)}
    for a, b, nid in rules:
        symbols[nid] = symbols[a] + symbols[b]

    # assign the 255 output codes by estimated gain on the trained sample
    ids, counts = np.unique(tokens[tokens >= 0], return_counts=True)
    gains = counts * (2 * sym_len[ids] - 1)
    order = np.argsort(-gains, kind="stable")
    return FsstTable([symbols[int(t)] for t in ids[order][:MAX_CODES]])


def encode(
    data: np.ndarray,
    offsets: np.ndarray,
    table: FsstTable | None = None,
    max_merges: int = DEFAULT_MAX_MERGES,
) -> tuple[bytes, dict]:
    """Greedy longest-match FSST encode, fully vectorized and LAZY:

      1. walk every string's greedy frontier in lock-step — one step
         advances EVERY live string by one token;
      2. at each step, longest-match only at the ~n frontier positions
         (8 byte-gathers build the uint64 window, then the 2-byte-prefix
         slot tables resolve the match) — total matcher work is
         O(total tokens x slots), not O(total bytes x slots);
      3. emit 1-byte codes / 2-byte escapes by scatter.
    """
    n = len(offsets) - 1
    if table is None:
        table = train(data, offsets, max_merges=max_merges)
    nb = int(offsets[-1]) if n else 0
    data = np.ascontiguousarray(data[:nb])

    if nb and native.lib is not None:
        # native greedy matcher: one linear C pass over every string,
        # byte-identical to the frontier loop below (same longest-match
        # and slot-order tie-break; pinned by test_native_kernels)
        dpad = np.concatenate([data, np.zeros(MAX_SYMBOL_LEN, dtype=np.uint8)])
        code1, bstart, bval, bmsk, blen, bcode = _table_csr(table)
        out = np.empty(2 * nb, dtype=np.uint8)
        enc_lengths = np.empty(n, dtype=np.int64)
        offs = np.ascontiguousarray(offsets, dtype=np.int64)
        total = native.lib.nem_fsst_encode(
            dpad, offs, n, code1, bstart, bval, bmsk, blen, bcode,
            out, enc_lengths,
        )
        stream = out[:total]
    elif nb:
        lengths = np.diff(offsets)
        dpad = np.concatenate([data, np.zeros(MAX_SYMBOL_LEN, dtype=np.uint8)])

        match_len = np.ones(nb, dtype=np.int32)
        match_code = np.zeros(nb, dtype=np.int32)
        visited = np.zeros(nb, dtype=bool)
        frontier = offsets[:-1][lengths > 0].astype(np.int64)
        ends = offsets[1:][lengths > 0].astype(np.int64)
        n_slots, slot_cnt, slot_val, slot_msk, slot_len, slot_code = (
            _table_slots(table)
        )
        while len(frontier):
            visited[frontier] = True
            ml = np.ones(len(frontier), dtype=np.int32)
            mc = table.code1[dpad[frontier]].astype(np.int32)
            if n_slots:
                # windows/prefixes gathered lazily at the ~n frontier
                # positions only: a dense precompute would stream 8x the
                # chunk bytes through uint64 temporaries — O(bytes)
                # memory traffic for O(tokens) useful values
                fb = dpad[frontier].astype(np.uint16)
                pfx = fb | (dpad[frontier + 1].astype(np.uint16) << np.uint16(8))
                w = fb.astype(np.uint64) | (
                    pfx.astype(np.uint64) & np.uint64(0xFF00)
                )
                for k in range(2, MAX_SYMBOL_LEN):
                    w |= dpad[frontier + k].astype(np.uint64) << np.uint64(8 * k)
                room = (ends - frontier).astype(np.int32)
                sel = None  # positions still worth checking in deeper slots
                for s in range(n_slots):
                    if s and sel is None:
                        more = slot_cnt[pfx] > s
                        if not more.any():
                            break
                        sel = np.flatnonzero(more)
                        pfx, w, room = pfx[sel], w[sel], room[sel]
                    elif s and sel is not None:
                        more = slot_cnt[pfx] > s
                        if not more.any():
                            break
                        sel, pfx, w, room = (
                            sel[more], pfx[more], w[more], room[more],
                        )
                    v = slot_val[s][pfx]
                    m = slot_msk[s][pfx]
                    ln = slot_len[s][pfx]
                    cur_ml = ml if sel is None else ml[sel]
                    better = ((w & m) == v) & (ln > cur_ml) & (ln <= room)
                    tgt = (
                        np.flatnonzero(better)
                        if sel is None
                        else sel[better]
                    )
                    ml[tgt] = ln[better]
                    mc[tgt] = slot_code[s][pfx[better]]
            match_len[frontier] = ml
            match_code[frontier] = mc
            frontier = frontier + ml
            alive = frontier < ends
            frontier, ends = frontier[alive], ends[alive]

        tok_pos = np.flatnonzero(visited)
        codes_t = match_code[tok_pos]
        out_lens = np.where(codes_t > 0, 1, 2).astype(np.int64)
        cum = np.zeros(len(tok_pos) + 1, dtype=np.int64)
        np.cumsum(out_lens, out=cum[1:])
        stream = np.zeros(int(cum[-1]), dtype=np.uint8)
        coded = codes_t > 0
        stream[cum[:-1][coded]] = codes_t[coded]
        esc = ~coded
        stream[cum[:-1][esc]] = 0
        stream[cum[:-1][esc] + 1] = data[tok_pos[esc]]

        # encoded byte length per string
        tok_bounds = np.searchsorted(tok_pos, offsets)
        enc_lengths = cum[tok_bounds[1:]] - cum[tok_bounds[:-1]]
    else:
        stream = np.zeros(0, dtype=np.uint8)
        enc_lengths = np.zeros(n, dtype=np.int64)

    lw = bit_width(int(enc_lengths.max())) if len(enc_lengths) else 0
    packed = pack_uints(enc_lengths.astype(np.uint64), lw)
    header = table.serialized_symbols()
    payload = header + packed + stream.tobytes()
    return payload, {"hlen": len(header), "lw": lw, "ln": len(packed)}


def _parse_symbols(header: bytes):
    ns = header[0]
    syms = []
    pos = 1
    for _ in range(ns):
        ln = header[pos]
        syms.append(header[pos + 1 : pos + 1 + ln])
        pos += 1 + ln
    return syms


def decode(payload: bytes, params: dict, count: int):
    """Inverse of encode.  Each token maps to an id into a 512-entry
    symbol dictionary (ids 1..255: the code's symbol; 256 + b: the raw
    byte b after an escape), and one Arrow ``take`` of those ids writes
    the decoded bytes and, at the string bounds, the offsets.  Raises
    ValueError on a stream that disagrees with its lengths or table."""
    hlen, lw, ln = params["hlen"], params["lw"], params["ln"]
    enc_lengths = unpack_uints(payload[hlen : hlen + ln], lw, count).astype(np.int64)
    syms = _parse_symbols(payload[:hlen])
    stream = np.frombuffer(payload, dtype=np.uint8, offset=hlen + ln)
    enc_bounds = np.zeros(count + 1, dtype=np.int64)
    np.cumsum(enc_lengths, out=enc_bounds[1:])
    if enc_bounds[-1] != len(stream):
        raise ValueError(
            f"corrupt FSST stream: {len(stream)} bytes, lengths sum to "
            f"{int(enc_bounds[-1])}"
        )

    # escape markers occur only at token starts; inside a maximal run of
    # zero bytes that begins at a token start, markers sit at even offsets
    zi = np.flatnonzero(stream == 0)
    run_key = zi - np.arange(len(zi))
    first = np.ones(len(zi), dtype=bool)
    np.not_equal(run_key[1:], run_key[:-1], out=first[1:])
    starts = np.where(first, zi, np.int64(-1))
    np.maximum.accumulate(starts, out=starts)
    markers = zi[((zi - starts) % 2) == 0]
    if len(markers) and markers[-1] == len(stream) - 1:
        raise ValueError("corrupt FSST stream: ends inside an escape")

    ids = stream.astype(np.int32)
    is_tok = np.ones(len(stream), dtype=bool)
    ids[markers] = stream[markers + 1].astype(np.int32) + 256
    is_tok[markers + 1] = False
    tok_pos = np.flatnonzero(is_tok)
    tok_ids = ids[tok_pos]
    nsym = len(syms)
    if nsym < 255 and ((tok_ids > nsym) & (tok_ids < 256)).any():
        raise ValueError("corrupt FSST stream: code beyond symbol table")

    lens = np.zeros(512, dtype=np.int64)
    lens[1 : nsym + 1] = [len(s) for s in syms]
    lens[256:] = 1
    sym_offsets = np.zeros(513, dtype=np.int64)
    np.cumsum(lens, out=sym_offsets[1:])
    sym_data = np.frombuffer(b"".join(syms) + bytes(range(256)), dtype=np.uint8)
    data, tok_offsets = binary_buffers(
        binary_array(sym_data, sym_offsets).take(tok_ids)
    )
    return data, tok_offsets[np.searchsorted(tok_pos, enc_bounds)]
