"""Round-trip tests for every codec kernel: decode(encode(x)) == x
bit-identical — the engine-wide invariant (testing philosophy lifted from
the reference's encode/decode round-trip tests,
/root/reference/src/manage/state.rs:155-191)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from nem_mms_spark.codecs import native, registry
from nem_mms_spark.codecs import fsst as fsst_mod
from nem_mms_spark.codecs.primitives import pack_uints, unpack_uints


def to_chunk(strings: list[bytes]):
    offsets = np.zeros(len(strings) + 1, dtype=np.int64)
    np.cumsum([len(s) for s in strings], out=offsets[1:])
    data = np.frombuffer(b"".join(strings), dtype=np.uint8)
    return data, offsets


def from_chunk(data: np.ndarray, offsets: np.ndarray) -> list[bytes]:
    b = data.tobytes()
    return [b[offsets[i] : offsets[i + 1]] for i in range(len(offsets) - 1)]


# ------------------------------------------------------------- primitives


@given(
    st.lists(st.integers(min_value=0, max_value=2**56 - 1), max_size=200),
)
@settings(max_examples=50, deadline=None)
def test_pack_unpack_uints(vals):
    arr = np.array(vals, dtype=np.uint64)
    w = int(arr.max()).bit_length() if len(arr) else 0
    out = unpack_uints(pack_uints(arr, w), w, len(arr))
    assert np.array_equal(out, arr)


def test_pack_wide_values():
    arr = np.array([2**63 - 1, 0, 2**60], dtype=np.uint64)
    out = unpack_uints(pack_uints(arr, 63), 63, 3)
    assert np.array_equal(out, arr)


# ---------------------------------------------------------- numeric codecs

INT_CASES = [
    np.array([], dtype=np.int64),
    np.array([0], dtype=np.int64),
    np.array([7] * 1000, dtype=np.int64),
    np.arange(1000, dtype=np.int64) * 300 + 10**15,
    np.array([-(2**62), 2**62, 0, -1, 1], dtype=np.int64),
    np.arange(500, 0, -1, dtype=np.int64),  # monotonically decreasing
]


@pytest.mark.parametrize("codec", ["PLAIN", "DICT", "RLE", "FOR_BITPACK", "DELTA_FOR_BITPACK", "PFOR_BITPACK", "DELTA_PFOR_BITPACK"])
@pytest.mark.parametrize("case", range(len(INT_CASES)))
def test_int_roundtrip(codec, case):
    arr = INT_CASES[case]
    payload, params = registry.encode_block(arr, "<i8", codec)
    out = registry.decode_block(payload, params, len(arr), "<i8", codec)
    assert out.dtype == np.dtype("<i8")
    assert np.array_equal(out, arr)


@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), max_size=300))
@settings(max_examples=40, deadline=None)
@pytest.mark.parametrize("codec", ["FOR_BITPACK", "DELTA_FOR_BITPACK", "PFOR_BITPACK", "DELTA_PFOR_BITPACK", "DICT", "RLE"])
def test_int_roundtrip_property(codec, vals):
    arr = np.array(vals, dtype=np.int64)
    payload, params = registry.encode_block(arr, "<i8", codec)
    out = registry.decode_block(payload, params, len(arr), "<i8", codec)
    assert np.array_equal(out, arr)


@pytest.mark.parametrize("codec", ["PLAIN", "DICT", "RLE"])
def test_float_roundtrip(codec):
    rng = np.random.default_rng(7)
    arr = np.round(rng.normal(size=2000), 2)  # repeats for dict/rle
    arr[10] = np.nan  # NaN must round-trip bit-identically too
    payload, params = registry.encode_block(arr, "<f8", codec)
    out = registry.decode_block(payload, params, len(arr), "<f8", codec)
    assert np.array_equal(
        out.view(np.uint64), arr.view(np.uint64)
    ), "bit-identical float round-trip"


def test_bool_as_u1_roundtrip():
    arr = np.array([1, 0, 0, 1, 1, 1], dtype=np.uint8)
    payload, params = registry.encode_block(arr, "u1", "FOR_BITPACK")
    out = registry.decode_block(payload, params, len(arr), "u1", "FOR_BITPACK")
    assert np.array_equal(out, arr)
    assert len(payload) == 1  # 6 bools bit-packed -> 1 byte


# ------------------------------------------------------------ bytes codecs

BYTES_CASES = [
    [],
    [b""],
    [b"", b"", b""],
    [b"hello"] * 500,
    [f"https://example.com/path/{i}".encode() for i in range(400)],
    [bytes([0, 0, 255, 0]), b"\x00", b"ab\x00cd"],  # NUL bytes (FSST escape)
    [bytes(range(256))] * 3,
    [f"unique-{i*i}".encode() for i in range(300)],  # high cardinality
]


@pytest.mark.parametrize("codec", ["PLAIN", "DICT", "RLE", "FSST"])
@pytest.mark.parametrize("case", range(len(BYTES_CASES)))
def test_bytes_roundtrip(codec, case):
    strings = BYTES_CASES[case]
    data, offsets = to_chunk(strings)
    payload, params = registry.encode_block((data, offsets), "bytes", codec)
    odata, ooffsets = registry.decode_block(payload, params, len(strings), "bytes", codec)
    assert from_chunk(odata, ooffsets) == strings


@given(st.lists(st.binary(max_size=40), max_size=120))
@settings(max_examples=40, deadline=None)
@pytest.mark.parametrize("codec", ["PLAIN", "DICT", "RLE", "FSST"])
def test_bytes_roundtrip_property(codec, strings):
    data, offsets = to_chunk(strings)
    payload, params = registry.encode_block((data, offsets), "bytes", codec)
    odata, ooffsets = registry.decode_block(payload, params, len(strings), "bytes", codec)
    assert from_chunk(odata, ooffsets) == strings


def test_fsst_compresses_shared_prefixes():
    strings = [f"https://www.example.com/articles/2021/{i}".encode() for i in range(2000)]
    data, offsets = to_chunk(strings)
    payload, _ = registry.encode_block((data, offsets), "bytes", "FSST")
    assert len(payload) < 0.55 * int(offsets[-1]), (
        f"FSST should compress URL-ish data well: {len(payload)} vs {offsets[-1]}"
    )


def test_fsst_table_reuse_across_blocks():
    strings = [f"https://host{i % 9}.net/page/{i}".encode() for i in range(3000)]
    data, offsets = to_chunk(strings)
    table = fsst_mod.train(data, offsets)
    half = 1500
    d1, o1 = to_chunk(strings[:half])
    d2, o2 = to_chunk(strings[half:])
    p1, pr1 = fsst_mod.encode(d1, o1, table=table)
    p2, pr2 = fsst_mod.encode(d2, o2, table=table)
    r1 = from_chunk(*fsst_mod.decode(p1, pr1, half))
    r2 = from_chunk(*fsst_mod.decode(p2, pr2, len(strings) - half))
    assert r1 + r2 == strings


def test_dict_beats_plain_on_low_cardinality():
    strings = [b"en"] * 900 + [b"de"] * 80 + [b"fr"] * 20
    data, offsets = to_chunk(strings)
    p_plain, _ = registry.encode_block((data, offsets), "bytes", "PLAIN")
    p_dict, _ = registry.encode_block((data, offsets), "bytes", "DICT")
    p_rle, _ = registry.encode_block((data, offsets), "bytes", "RLE")
    assert len(p_dict) < len(p_plain)
    assert len(p_rle) < len(p_dict)  # sorted input -> 3 runs


def test_delta_beats_for_on_sorted_timestamps():
    ts = np.cumsum(np.full(10_000, 120, dtype=np.int64)) + 1_600_000_000
    p_for, _ = registry.encode_block(ts, "<i8", "FOR_BITPACK")
    p_delta, _ = registry.encode_block(ts, "<i8", "DELTA_FOR_BITPACK")
    assert len(p_delta) < len(p_for) / 4


# ------------------------------------------------------ truncated payloads


def _truncation_values():
    rng = np.random.default_rng(7)
    ints = np.repeat(rng.integers(0, 1 << 40, 300), 4)
    ints[::97] = rng.integers(1 << 50, 1 << 52, len(ints[::97]))
    floats = np.round(rng.uniform(0, 1000, 1200), 2)
    floats[::101] = np.pi
    words = [b"alpha ", b"beta ", b"gamma delta ", b"", b"\x00zeta"]
    strings = [
        b"https://host%d.example/" % (i % 13) + words[i % 5] * (i % 4)
        for i in range(1200)
    ]
    return {"<i8": ints, "<f8": floats, "bytes": to_chunk(strings)}


_TRUNCATION_VALUES = _truncation_values()
# plain FOR bit-packs still zero-pad a short payload (basic._unpack_zero_padded)
_ZERO_PADDED = ("FOR_BITPACK", "DELTA_FOR_BITPACK")


@pytest.mark.parametrize("kernels", ["native", "numpy"])
@pytest.mark.parametrize(
    "dtype,codec",
    [
        (d, c)
        for d in ("<i8", "<f8", "bytes")
        for c in registry.candidate_codecs(d)
        if c not in _ZERO_PADDED
    ],
)
def test_truncated_payload_raises(dtype, codec, kernels, monkeypatch):
    """Decoders are length-strict: half a payload is a ValueError on both
    kernel paths, never a silently wrong column."""
    if kernels == "numpy":
        monkeypatch.setattr(native, "lib", None)
    values = _TRUNCATION_VALUES[dtype]
    count = len(values[1]) - 1 if dtype == "bytes" else len(values)
    payload, params = registry.encode_block(values, dtype, codec)
    assert len(payload) >= 2
    with pytest.raises(ValueError):
        registry.decode_block(
            payload[: len(payload) // 2], params, count, dtype, codec
        )


@pytest.mark.parametrize("damage", ["escape_at_end", "code_beyond_table"])
def test_fsst_corrupt_stream_raises(damage):
    """A same-length FSST payload whose last byte is an escape marker, or a
    code the symbol table does not have, is a ValueError."""
    strings = _TRUNCATION_VALUES["bytes"]
    count = len(strings[1]) - 1
    payload, params = registry.encode_block(strings, "bytes", "FSST")
    nsym = len(fsst_mod._parse_symbols(payload[: params["hlen"]]))
    # a non-zero second-to-last byte means the last byte starts a token
    assert payload[-2] != 0 and nsym < 255
    bad = bytearray(payload)
    bad[-1] = 0 if damage == "escape_at_end" else nsym + 1
    with pytest.raises(ValueError):
        registry.decode_block(bytes(bad), params, count, "bytes", "FSST")
