"""The native C kernels must be byte-identical to their numpy twins.

The numpy implementations remain the source of truth; the C kernels
(codecs/_kernels.c, loaded by codecs/native.py) are pure speed.  Every
test here runs both paths on the same input — real-shaped text, urls,
binary edge cases, randomized fuzz — and asserts bitwise equality of the
full payloads, so any semantic drift in the C port fails loudly.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pyarrow as pa
import pytest

from nem_mms_spark.codecs import fsst, native, worddict
from nem_mms_spark.codecs.primitives import binary_buffers, pack_uints, unpack_uints
from nem_mms_spark.datagen.webpages import generate_pages

needs_native = pytest.mark.skipif(
    native.lib is None, reason="native kernels unavailable (no compiler)"
)


class _numpy_only:
    """Temporarily hide the native lib so the numpy twin runs."""

    def __enter__(self):
        self._saved = native.lib
        native.lib = None

    def __exit__(self, *exc):
        native.lib = self._saved


def _chunk(strs: list[bytes]):
    offs = np.zeros(len(strs) + 1, dtype=np.int64)
    np.cumsum([len(s) for s in strs], out=offs[1:])
    return np.frombuffer(b"".join(strs), dtype=np.uint8), offs


def _text_fixture(n_rows: int = 400, seed: int = 11) -> list[bytes]:
    rng = np.random.default_rng(seed)
    words = ["the", "quick", "brown", "fox", "jumps", "over", "lazy",
             "dogs", "and", "cats", "http", "www", "example"]
    return [
        " ".join(rng.choice(words, size=int(rng.integers(3, 40)))).encode()
        for _ in range(n_rows)
    ]


def _url_fixture(n_rows: int = 400, seed: int = 5) -> list[bytes]:
    rng = np.random.default_rng(seed)
    return [
        (f"https://www.site{int(rng.integers(0, 40))}.example.org/"
         f"news/2021/{int(rng.integers(1, 13)):02d}/slug-{i}").encode()
        for i in range(n_rows)
    ]


_EDGE_CASES = [
    [b"", b"", b"a", b""],
    [b" ", b"  ", b"   x ", b"x  y", b" !after-space-bang! "],
    [bytes(range(256)), b"\x00\x00\x00", b"\x20\x21" * 40, b"a" * 1000],
    [b"ab" * 500, b""],
    [],
]

# word-dictionary edge cases: empty strings only, spaces only, trailing
# spaces, NUL bytes (also inside repeated tokens), and tokens longer than
# 8 bytes that differ only in their last byte
_WD_EDGE_CASES = {
    "empty_strings": [b"", b"", b""],
    "all_spaces": [b" ", b"    ", b"", b"  "],
    "trailing": [b"a ", b"a  ", b"b c ", b"a", b"a "],
    "nul": [b"\x00", b"\x00 \x00", b"\x00\x00 ", b"a\x00 b", b"\x00 \x00"],
    "long_tokens": [b"abcdefghij1 abcdefghij2 ", b"abcdefghij1", b"abcdefghij2"],
}


def _wd_factorize_both(data, offs):
    codes, counts, (udata, uoffs), hist = worddict.factorize_words(data, offs)
    with _numpy_only():
        ncodes, ncounts, (nudata, nuoffs), nhist = worddict.factorize_words(
            data, offs
        )
    assert np.array_equal(codes, ncodes)
    assert np.array_equal(counts, ncounts)
    assert bytes(udata) == bytes(nudata)
    assert np.array_equal(uoffs, nuoffs)
    assert np.array_equal(hist, nhist)
    return codes, counts, (udata, uoffs)


@needs_native
@pytest.mark.parametrize("width", [1, 3, 7, 8, 13, 14, 24, 31, 33, 48, 56])
def test_pack_unpack_uints_match_numpy(width):
    rng = np.random.default_rng(width)
    for n in (1, 7, 63, 64, 65, 1000, 4096):
        v = rng.integers(0, 1 << width, size=n, dtype=np.uint64)
        p_c = pack_uints(v, width)
        u_c = unpack_uints(p_c, width, n)
        with _numpy_only():
            p_np = pack_uints(v, width)
            u_np = unpack_uints(p_np, width, n)
        assert p_c == p_np
        assert np.array_equal(u_c, u_np)


@needs_native
@pytest.mark.parametrize(
    "strs",
    [_text_fixture(), _url_fixture(), *_EDGE_CASES, *_WD_EDGE_CASES.values()],
    ids=["text", "urls", "edge0", "edge1", "edge2", "edge3", "empty",
         *_WD_EDGE_CASES],
)
def test_wd_tokenize_matches_numpy(strs):
    """nem_wd_factorize: codes, tokens per string, dictionary and token
    counts equal the numpy twin's, and the tokens spell the strings
    back."""
    data, offs = _chunk(strs)
    codes, counts, (udata, uoffs) = _wd_factorize_both(data, offs)
    tokens = [bytes(udata[uoffs[c] : uoffs[c + 1]]) for c in codes]
    bounds = np.concatenate([[0], np.cumsum(counts)])
    assert [
        b"".join(tokens[bounds[i] : bounds[i + 1]]) for i in range(len(strs))
    ] == strs


@needs_native
def test_wd_tokenize_fuzz_binary():
    """Random bytes over small alphabets (many spaces and repeats) and
    chunks past the kernel's first hash-table growth."""
    rng = np.random.default_rng(42)
    for i in range(100):
        alphabet = [2, 3, 40, 256][i % 4]
        lo = 0 if alphabet == 256 else 31  # small alphabets hold 0x20
        strs = [
            bytes((rng.integers(0, alphabet, size=int(rng.integers(0, 60)))
                   + lo).astype(np.uint8))
            for _ in range(int(rng.integers(0, 30 if i < 90 else 3000)))
        ]
        _wd_factorize_both(*_chunk(strs))


@needs_native
@pytest.mark.parametrize(
    "strs",
    [_text_fixture(), _url_fixture(), *_EDGE_CASES[:4]],
    ids=["text", "urls", "edge0", "edge1", "edge2", "edge3"],
)
def test_fsst_encode_matches_numpy(strs):
    data, offs = _chunk(strs)
    table = fsst.train(data, offs)
    p_c, prm_c = fsst.encode(data, offs, table=table)
    with _numpy_only():
        p_np, prm_np = fsst.encode(data, offs, table=table)
    assert p_c == p_np
    assert prm_c == prm_np
    # round-trip through the (shared) decoder as a safety net
    d, o = fsst.decode(p_c, prm_c, len(strs))
    assert bytes(d[: o[-1]]) == b"".join(strs)


@needs_native
@pytest.mark.parametrize(
    "strs",
    [_text_fixture(), _url_fixture(), *_EDGE_CASES[:4]],
    ids=["text", "urls", "edge0", "edge1", "edge2", "edge3"],
)
def test_worddict_encode_matches_numpy(strs):
    data, offs = _chunk(strs)
    p_c = worddict.encode(data, offs)
    with _numpy_only():
        p_np = worddict.encode(data, offs)
    assert p_c == p_np
    d, o = worddict.decode(p_c[0], p_c[1], len(strs))
    assert bytes(d[: o[-1]]) == b"".join(strs)



def _tier_case(card: int, tn: int, widths: tuple, seed: int, zipf: bool = True):
    """Codes over ``card`` tokens (Zipf-shaped or uniform), ranked as
    ``rank_tiers`` ranks them, split at the given tier widths."""
    rng = np.random.default_rng(seed)
    if card and zipf:
        p = 1.0 / np.arange(1, card + 1)
        codes = rng.choice(card, size=tn, p=p / p.sum())
    else:
        codes = rng.integers(0, max(card, 1), size=tn if card else 0)
    codes = codes.astype(np.int64)
    order = worddict.rank_tiers(np.bincount(codes, minlength=card)).order
    rank_of = np.empty(card, dtype=np.int64)
    rank_of[order] = np.arange(card)
    upper = int((rank_of[codes] >= (1 << widths[0])).sum()) if len(widths) == 2 else 0
    sizes = (len(codes) - upper, upper)[: len(widths)]
    return codes, rank_of, worddict.Tiers(order, widths, sizes)


def _fuzz_tier_cases(n: int = 60, seed: int = 3):
    rng = np.random.default_rng(seed)
    for i in range(n):
        card = int(rng.integers(2, 5000))
        cw = (card - 1).bit_length()
        lower = (int(rng.integers(1, cw)),) if cw > 1 and i % 3 else ()
        yield _tier_case(card, int(rng.integers(0, 3000)), (*lower, cw),
                         seed=i, zipf=bool(i % 2))


_TIER_CASES = {
    "k1": lambda: [_tier_case(1000, 5000, (1, 10), 1)],
    "k_cw_minus_1": lambda: [_tier_case(1000, 5000, (9, 10), 2)],
    "flat": lambda: [_tier_case(1024, 5000, (10,), 4, zipf=False)],
    "card1": lambda: [_tier_case(1, 700, (0,), 5)],
    "empty": lambda: [_tier_case(0, 0, (0,), 6)],
    "fuzz": lambda: list(_fuzz_tier_cases()),
}


@needs_native
@pytest.mark.parametrize("name", list(_TIER_CASES))
def test_wd_tiers_match_numpy(name):
    """nem_wd_split_tiers / nem_wd_unpack_tiers: the selector and tier
    streams equal the numpy twin's bytes, and both unpack them to the
    ranks."""
    for codes, rank_of, tiers in _TIER_CASES[name]():
        card = len(rank_of)
        packed = worddict.pack_tiers(codes, rank_of, tiers)
        with _numpy_only():
            assert worddict.pack_tiers(codes, rank_of, tiers) == packed
        assert len(packed) == worddict.tiers_size(tiers.widths, tiers.sizes)
        buf = np.frombuffer(packed, dtype=np.uint8)
        ranks = worddict.unpack_tiers(buf, tiers.widths, tiers.sizes, card)
        with _numpy_only():
            np_ranks = worddict.unpack_tiers(buf, tiers.widths, tiers.sizes, card)
        assert np.array_equal(ranks, rank_of[codes])
        assert np.array_equal(np_ranks, ranks)


def test_rank_tiers_falls_back_to_flat():
    """Uniform codes over a power-of-two dictionary: no split pays, so
    one tier at the full width, the layout before the ranking."""
    codes = np.random.default_rng(0).integers(0, 1024, 20_000)
    tiers = worddict.rank_tiers(np.bincount(codes, minlength=1024))
    assert tiers.widths == (10,) and tiers.sizes == (20_000,)


def _pages_chunk(col: str, n_rows: int = 3000):
    vals = generate_pages(np.arange(n_rows))[col]
    return binary_buffers(pa.array(
        [v if isinstance(v, bytes) else v.encode() for v in vals],
        type=pa.large_binary(),
    ))


def _fuzz_chunks(seed: int = 7, n: int = 100):
    rng = np.random.default_rng(seed)
    for _ in range(n):
        alphabet = int(rng.integers(2, 257))
        yield _chunk([
            bytes(rng.integers(0, alphabet, size=int(rng.integers(0, 80)))
                  .astype(np.uint8))
            for _ in range(int(rng.integers(0, 200)))
        ])


_TRAIN_INPUTS = {
    "text": lambda: [_chunk(_text_fixture())],
    "urls": lambda: [_chunk(_url_fixture())],
    **{f"edge{i}": (lambda c=c: [_chunk(c)]) for i, c in enumerate(_EDGE_CASES)},
    "fuzz": lambda: list(_fuzz_chunks()),
    # columns past the 64 KB training cut, so the sample cut runs
    **{f"pages_{c}": (lambda c=c: [_pages_chunk(c)])
       for c in ("url", "html", "text")},
}


@needs_native
@pytest.mark.parametrize("name", list(_TRAIN_INPUTS))
def test_fsst_train_matches_numpy(name):
    for data, offs in _TRAIN_INPUTS[name]():
        if name.startswith("pages_"):
            assert offs[-1] > fsst._MAX_TRAIN_BYTES
        native_table = fsst.train(data, offs)
        with _numpy_only():
            numpy_table = fsst.train(data, offs)
        assert native_table.symbol_bytes == numpy_table.symbol_bytes


@needs_native
def test_broken_source_names_the_load_failure(tmp_path, monkeypatch):
    """A kernel source that does not compile leaves ``lib`` None and says
    why in ``native.error`` (the gcc stderr tail)."""
    monkeypatch.setattr(native, "_source", lambda: b"int broken(void) { return }\n")
    monkeypatch.setattr(native, "_CACHE_ROOTS", (str(tmp_path),))
    monkeypatch.setattr(native, "error", None)
    assert native._build() is None
    assert native.error and "error" in native.error


# each native kernel -> the test that pins it to its numpy twin
_KERNEL_TESTS = {
    "nem_fsst_encode": test_fsst_encode_matches_numpy,
    "nem_fsst_repair": test_fsst_train_matches_numpy,
    "nem_pack_uints": test_pack_unpack_uints_match_numpy,
    "nem_unpack_uints": test_pack_unpack_uints_match_numpy,
    "nem_wd_factorize": test_wd_tokenize_matches_numpy,
    "nem_free": test_wd_tokenize_matches_numpy,
    "nem_wd_split_tiers": test_wd_tiers_match_numpy,
    "nem_wd_unpack_tiers": test_wd_tiers_match_numpy,
}


def test_every_kernel_is_registered_and_twin_tested():
    """The kernels defined in _kernels.c, the ones native.py gives
    argtypes, and the ones this module pins are the same set: a kernel
    cannot ship untested, and no argtypes entry outlives its kernel
    (ctypes would fail the whole load on it).  Reads the sources, so it
    runs without a compiler too."""
    here = os.path.dirname(native.__file__)
    with open(os.path.join(here, "_kernels.c")) as fh:
        c_src = fh.read()
    with open(native.__file__) as fh:
        py_src = fh.read()
    defined = set(re.findall(r"^\w[\w ]*?\b(nem_\w+)\(", c_src, re.M))
    registered = set(re.findall(r"lib\.(nem_\w+)\.argtypes", py_src))
    assert defined == registered == set(_KERNEL_TESTS)
