"""Sampled cost-model codec auto-selection.

Per column chunk, estimate encoded bits/value for every candidate codec
(exact closed-form for the integer/dictionary/RLE family, sampled trial
encode for FSST), pick the argmin, encode with the winner, and fall back to
PLAIN if the winner's actual payload came out larger (estimates are
estimates).  Ties break toward the cheaper-to-decode codec (candidate order
in the registry).  The choice is a pure function of chunk content — no RNG —
so retries re-produce identical blocks (determinism requirement from
SURVEY.md §7).

Run-length / cardinality estimation per the cost models discussed in
"Column Partition and Permutation for Run Length Encoding" (SIGMOD 2020).
"""

from __future__ import annotations

import numpy as np

from nem_mms_spark.codecs import fsst as fsst_mod
from nem_mms_spark.codecs import registry, worddict
from nem_mms_spark.codecs.primitives import bit_width, factorize_bytes, run_ends

_CARD_SAMPLE = 2048
_SKIP_EXACT_RATIO = 0.95
_FSST_SAMPLE_BYTES = 64 << 10
# below this, DICT/RLE/PLAIN cover the chunk and the table-train cost
# cannot amortize — skip the FSST candidate entirely
_FSST_MIN_BYTES = 32 << 10


_REPROBE_EVERY = 8


class ColumnContext:
    """Per-(partition, column) shared state: one FSST table per partition
    column (north_star: symbol table per partition-column, not per block),
    trained lazily on the first qualifying chunk.  The sampled compression
    ratio is measured once and reused by later chunks' cost models —
    re-sampling every block would spend more than it saves.

    Round-4 additions (verdict item: DICT/WORD_DICT rebuilt their state
    per 64K-row block even on stable partition columns):

      * ``num_dict`` — the partition-column's numeric dictionary; later
        blocks factorize by searchsorted lookup + bincount compaction
        (O(n log c)) instead of a fresh np.unique sort (O(n log n)),
        producing BIT-IDENTICAL payloads;
      * sticky winner — after two consecutive full cost-model passes
        agree, later blocks skip the losers' estimation work entirely
        (the dominant saving: the WORD_DICT estimate tokenizes and
        factorizes the WHOLE chunk even when FSST always wins on
        url/html) and encode straight with the winner; a full re-probe
        runs every ``_REPROBE_EVERY`` blocks, and any sticky encode
        whose payload exceeds the PLAIN estimate falls back to the full
        pass — content drift degrades gracefully, never corrupts.

    All state evolves as a pure function of the partition's blocks in
    scan order, so retries reproduce identical blocks."""

    __slots__ = (
        "fsst_table", "fsst_failed", "fsst_ratio",
        "num_dict", "block_idx", "last_winner", "sticky",
    )

    def __init__(self):
        self.fsst_table = None
        self.fsst_failed = False
        self.fsst_ratio = None
        self.num_dict = None
        self.block_idx = 0
        self.last_winner = None
        self.sticky = None


def select_and_encode(values, dtype: str, ctx: ColumnContext | None = None):
    """-> (codec_name, payload, params, estimates: dict[str, int])"""
    ctx = ctx or ColumnContext()
    blk = ctx.block_idx
    ctx.block_idx += 1
    if ctx.sticky is not None and blk % _REPROBE_EVERY != 0:
        res = _sticky_encode(values, dtype, ctx)
        if res is not None:
            return res
    if dtype == "bytes":
        winner, payload, params, est = _select_bytes(values, ctx)
    else:
        winner, payload, params, est = _select_numeric(values, dtype, ctx)
    ctx.sticky = winner if winner == ctx.last_winner else None
    ctx.last_winner = winner
    return winner, payload, params, est


def _sticky_encode(values, dtype: str, ctx: ColumnContext):
    """Encode with the sticky winner, skipping all loser estimation.
    Returns None to route back to the full cost-model pass (unexpected
    size regression — content drifted)."""
    codec = ctx.sticky
    kw = {}
    if dtype == "bytes":
        data, offsets = values
        n = len(offsets) - 1
        data_len = int(offsets[-1] - offsets[0]) if n else 0
        lengths = np.diff(offsets) if n else np.zeros(0, dtype=np.int64)
        len_bits = bit_width(int(lengths.max())) if n else 0
        plain_est = data_len + (n * len_bits + 7) // 8
        if codec in (registry.DICT, registry.RLE):
            codes, uniq = factorize_bytes(data, offsets)
            kw = {"codes": codes, "uniq": uniq} if codec == registry.DICT else {"codes": codes}
        elif codec == registry.WORD_DICT:
            tok = worddict.tokenize(data, offsets)
            wcodes, wuniq = factorize_bytes(data, tok)
            kw = {"token_offsets": tok, "codes": wcodes, "uniq": wuniq}
        elif codec == registry.FSST:
            if ctx.fsst_table is None or ctx.fsst_failed:
                return None
            kw = {"table": ctx.fsst_table}
    else:
        arr = np.asarray(values)
        plain_est = len(arr) * arr.dtype.itemsize
        if codec == registry.DICT:
            view = arr
            if dtype in registry.FLOAT_DTYPES:
                view = arr.view("<u8" if dtype == "<f8" else "<u4")
            codes, uniq = _factorize_numeric_ctx(view, ctx)
            kw = {"codes": codes, "uniq": uniq}
    payload, params = registry.encode_block(values, dtype, codec, **kw)
    if codec != registry.PLAIN and len(payload) > plain_est:
        return None  # drift: rerun the full pass (and break stickiness)
    return codec, payload, params, {}


def _factorize_numeric_ctx(view: np.ndarray, ctx: ColumnContext):
    """np.unique(view, return_inverse=True) EXACT equivalent that reuses
    the partition-column dictionary: membership by searchsorted, chunk
    dictionary by bincount compaction — O(n log c + c) per block instead
    of an O(n log n) sort, bit-identical output."""
    d = ctx.num_dict
    if d is None or d.dtype != view.dtype:
        uniq, codes = np.unique(view, return_inverse=True)
        ctx.num_dict = uniq
        return codes, uniq
    idx = np.searchsorted(d, view)
    clipped = np.minimum(idx, len(d) - 1)
    miss = d[clipped] != view
    if miss.any():
        d = np.unique(np.concatenate([d, view[miss]]))
        ctx.num_dict = d
        idx = np.searchsorted(d, view)
    else:
        idx = clipped
    counts = np.bincount(idx, minlength=len(d))
    used = counts > 0
    if used.all():
        return idx, d
    rank = np.cumsum(used) - 1
    return rank[idx], d[used]


def _fsst_ratio_sample(
    data: np.ndarray,
    offsets: np.ndarray,
    max_rows: int = 256,
    cap: int = 256,
) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic strided row sample with per-row byte cap (FSST ratio
    is local, so truncated rows estimate it as well as whole rows)."""
    n = len(offsets) - 1
    sel = np.arange(0, n, max(1, n // max_rows), dtype=np.int64)[:max_rows]
    starts = offsets[sel]
    lens = np.minimum(offsets[sel + 1] - starts, cap)
    out_offs = np.zeros(len(sel) + 1, dtype=np.int64)
    np.cumsum(lens, out=out_offs[1:])
    total = int(out_offs[-1])
    row = np.repeat(np.arange(len(sel)), lens)
    pos = np.arange(total) - np.repeat(out_offs[:-1], lens)
    return data[starts[row] + pos], out_offs


def _sample_distinct(data: np.ndarray, offsets: np.ndarray, sel: np.ndarray) -> int:
    """Distinct count of the sampled strings via (length, 8 spread probe
    bytes) hashing — no string materialization."""
    starts = offsets[sel]
    lens = (offsets[sel + 1] - starts).astype(np.uint64)
    h = lens * np.uint64(0x9E3779B97F4A7C15)
    nz = lens > 0
    for k in range(8):
        pos = starts + ((lens.view(np.int64) * k) >> 3)
        b = np.zeros(len(sel), dtype=np.uint64)
        b[nz] = data[pos[nz]]
        h = (h ^ (b + np.uint64(k + 1))) * np.uint64(0xBF58476D1CE4E5B9)
        h ^= h >> np.uint64(29)
    return len(np.unique(h))


# ------------------------------------------------------------------ bytes


def _select_bytes(values, ctx: ColumnContext):
    data, offsets = values
    n = len(offsets) - 1
    data_len = int(offsets[-1] - offsets[0]) if n else 0
    if n == 0:
        payload, params = registry.encode_block(values, "bytes", registry.PLAIN)
        return registry.PLAIN, payload, params, {}

    lengths = np.diff(offsets)
    max_len = int(lengths.max()) if n else 0
    len_bits = bit_width(max_len)
    plain_est = data_len + (n * len_bits + 7) // 8

    est = {registry.PLAIN: plain_est}

    # cardinality gate: factorizing the WHOLE chunk to cost DICT/RLE is
    # the dominant expense on near-unique columns (html/url bodies), where
    # neither codec can win (dict bytes ~ data bytes, runs ~ n).  A
    # deterministic strided sample decides whether the exact pass pays.
    codes = uniq = None
    if n > _CARD_SAMPLE * 4:
        # distinct-count the sample via a probe-byte hash instead of
        # materializing + factorizing the sampled strings (the gather was
        # itself a measurable memory cost on 2 KB html rows): length + 8
        # bytes probed at spread positions.  Collisions only UNDERestimate
        # cardinality, which routes to the exact pass — never wrong, just
        # slower.
        sel = np.arange(0, n, n // _CARD_SAMPLE, dtype=np.int64)
        near_unique = _sample_distinct(data, offsets, sel) >= (
            _SKIP_EXACT_RATIO * len(sel)
        )
    else:
        near_unique = False
    if not near_unique:
        codes, uniq = factorize_bytes(data, offsets)
        udata, uoffsets = uniq
        card = len(uoffsets) - 1
        code_bits = bit_width(max(card - 1, 0))
        ulen = int(uoffsets[-1])
        ulen_bits = bit_width(int(np.diff(uoffsets).max())) if card else 0
        est[registry.DICT] = (
            ulen + (card * ulen_bits + 7) // 8 + (n * code_bits + 7) // 8
        )

        ends = run_ends(codes)
        runs = len(ends)
        starts = np.concatenate([[0], ends[:-1]]).astype(np.int64)
        run_val_len = (
            int((offsets[starts + 1] - offsets[starts]).sum()) if runs else 0
        )
        run_len_bits = bit_width(int((ends - starts).max())) if runs else 0
        est[registry.RLE] = (
            run_val_len + (runs * (len_bits + run_len_bits) + 7) // 8
        )

    # WORD_DICT: exact size via one tokenize+factorize pass (same cost
    # class as the DICT estimate); only sensible for longer strings
    wd_kw = {}
    if data_len // max(n, 1) >= 16:
        tok = worddict.tokenize(data, offsets)
        wcodes, wuniq = factorize_bytes(data, tok)
        card_w = len(wuniq[1]) - 1
        ulen_w = int(wuniq[1][-1])
        cw = bit_width(max(card_w - 1, 0))
        uw_bits = bit_width(int(np.diff(wuniq[1]).max())) if card_w else 0
        est[registry.WORD_DICT] = (
            ulen_w
            + (card_w * uw_bits + 7) // 8
            + (len(wcodes) * cw + 7) // 8
            + (n * 8 + 7) // 8  # token-count prefix
        )
        wd_kw = {"token_offsets": tok, "codes": wcodes, "uniq": wuniq}

    fsst_kw = {}
    if data_len >= _FSST_MIN_BYTES and not ctx.fsst_failed:
        if ctx.fsst_table is None:
            ctx.fsst_table = fsst_mod.train(data, offsets)
            if not ctx.fsst_table.symbol_bytes:
                ctx.fsst_failed = True
        if not ctx.fsst_failed:
            if ctx.fsst_ratio is None:
                # ratio sample: strided rows capped at 256 bytes each.  A
                # plain 64 KB prefix of a long-string column is ~30 rows,
                # and the frontier encoder degenerates to hundreds of
                # near-scalar steps; capped strided rows give the same
                # byte budget with a wide frontier (and better coverage)
                sdata, soffs = _fsst_ratio_sample(data, offsets)
                sp, _ = fsst_mod.encode(sdata, soffs, table=ctx.fsst_table)
                ctx.fsst_ratio = len(sp) / max(int(soffs[-1]), 1)
            est[registry.FSST] = (
                int(ctx.fsst_ratio * data_len) + (n * len_bits + 7) // 8
            )
            fsst_kw = {"table": ctx.fsst_table}

    winner = _argmin(est, registry.candidate_codecs("bytes"))
    kw = {}
    if winner == registry.DICT:
        kw = {"codes": codes, "uniq": uniq}
    elif winner == registry.RLE:
        kw = {"codes": codes}
    elif winner == registry.WORD_DICT:
        kw = wd_kw
    elif winner == registry.FSST:
        kw = fsst_kw
    payload, params = registry.encode_block(values, "bytes", winner, **kw)
    if winner != registry.PLAIN and len(payload) > plain_est:
        p2, pr2 = registry.encode_block(values, "bytes", registry.PLAIN)
        if len(p2) < len(payload):
            return registry.PLAIN, p2, pr2, est
    return winner, payload, params, est


# ---------------------------------------------------------------- numeric


def _select_numeric(values, dtype: str, ctx: ColumnContext | None = None):
    ctx = ctx or ColumnContext()
    arr = np.asarray(values)
    n = len(arr)
    item = arr.dtype.itemsize
    if n == 0:
        payload, params = registry.encode_block(arr, dtype, registry.PLAIN)
        return registry.PLAIN, payload, params, {}

    est = {registry.PLAIN: n * item}
    is_int = dtype in registry.INT_DTYPES

    view = arr
    if dtype in registry.FLOAT_DTYPES:
        view = arr.view("<u8" if dtype == "<f8" else "<u4")

    if is_int:
        from nem_mms_spark.codecs.basic import _pfor_pick_width

        v = arr.astype(np.int64, copy=False)
        # exact Python-int range: int64 subtraction would overflow for
        # full-range columns (e.g. 64-bit hashes); the codec itself is
        # wrap-correct mod 2**64, only this estimate needs the true range
        w_for = bit_width(int(v.max()) - int(v.min()))
        est[registry.FOR_BITPACK] = (n * w_for + 7) // 8
        deltas_for = (v - v.min()).view(np.uint64)
        wp = _pfor_pick_width(deltas_for)
        nexc = int((deltas_for > ((np.uint64(1) << np.uint64(wp)) - np.uint64(1))).sum()) if wp < 64 else 0
        est[registry.PFOR_BITPACK] = (n * wp + 7) // 8 + nexc * 12
        if n > 1:
            d = np.diff(v)  # wraps mod 2**64 exactly like the delta codec
            w_delta = bit_width(int(d.max()) - int(d.min()))
            est[registry.DELTA_FOR_BITPACK] = ((n - 1) * w_delta + 7) // 8
            dd = (d - d.min()).view(np.uint64)
            wdp = _pfor_pick_width(dd)
            nexc_d = int((dd > ((np.uint64(1) << np.uint64(wdp)) - np.uint64(1))).sum()) if wdp < 64 else 0
            est[registry.DELTA_PFOR_BITPACK] = (
                ((n - 1) * wdp + 7) // 8 + nexc_d * 12
            )

    if dtype == "<f8" and n >= 16:
        # ALP estimate from a deterministic sample: decimal-ish doubles
        # scale to narrow ints, everything else stays a patched exception
        from nem_mms_spark.codecs import alp as alp_mod

        e, rate = alp_mod.choose_exponent(arr)
        if rate > 0.5:
            sample = arr[:: max(1, n // 1024)]
            ints, ok = alp_mod._ints_for(sample, e)
            if ok.any():
                w_est = bit_width(int(ints[ok].max()) - int(ints[ok].min()))
                nexc_est = int(round((1 - rate) * n))
                est[registry.ALP] = (n * w_est + 7) // 8 + nexc_est * 10

    # cardinality gate (mirror of the bytes-path gate above): the exact
    # np.unique sort + run scan are the dominant cost on near-unique
    # numeric columns (ids, 64-bit hashes) where DICT/RLE can never win —
    # a deterministic strided sample decides whether the exact pass pays
    if n > _CARD_SAMPLE * 4:
        # two cheap screens, both must clear to skip the exact pass:
        #  * strided-sample distinct ratio — catches moderate cardinality
        #    (sampling without replacement: duplicate sample values appear
        #    iff true duplicates exist, ~s^2/2c birthday pairs)
        #  * full-resolution adjacent-duplicate fraction (one O(n) compare,
        #    no sort) — catches short sorted runs the stride jumps over
        sample = view[:: n // _CARD_SAMPLE]
        su = len(np.unique(sample))
        adj_dups = int(np.count_nonzero(view[1:] == view[:-1]))
        near_unique = (
            su >= _SKIP_EXACT_RATIO * len(sample) and adj_dups <= n // 50
        )
    else:
        near_unique = False
    codes_v = uniq_v = None
    if not near_unique:
        codes_v, uniq_v = _factorize_numeric_ctx(view, ctx)
        card = len(uniq_v)
        est[registry.DICT] = card * item + (n * bit_width(max(card - 1, 0)) + 7) // 8

        ends = run_ends(view)
        runs = len(ends)
        starts = np.concatenate([[0], ends[:-1]])
        run_len_bits = bit_width(int((ends - starts).max())) if runs else 0
        est[registry.RLE] = runs * item + (runs * run_len_bits + 7) // 8

    winner = _argmin(est, registry.candidate_codecs(dtype))
    kw = (
        {"codes": codes_v, "uniq": uniq_v}
        if winner == registry.DICT and codes_v is not None
        else {}
    )
    payload, params = registry.encode_block(arr, dtype, winner, **kw)
    if winner != registry.PLAIN and len(payload) > est[registry.PLAIN]:
        payload, params = registry.encode_block(arr, dtype, registry.PLAIN)
        winner = registry.PLAIN
    return winner, payload, params, est


def _argmin(est: dict[str, int], order: list[str]) -> str:
    best, best_size = order[0], None
    for codec in order:  # order = decode-cheapness; strict < keeps ties cheap
        if codec in est and (best_size is None or est[codec] < best_size):
            best, best_size = codec, est[codec]
    return best
