"""WORD_DICT codec: lossless space-tokenized dictionary coding."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from nem_mms_spark.codecs import registry


def chunk(strs):
    off = np.zeros(len(strs) + 1, dtype=np.int64)
    np.cumsum([len(s) for s in strs], out=off[1:])
    return np.frombuffer(b"".join(strs), dtype=np.uint8), off


def roundtrip(strs):
    data, off = chunk(strs)
    p, pr = registry.encode_block((data, off), "bytes", "WORD_DICT")
    od, oo = registry.decode_block(p, pr, len(strs), "bytes", "WORD_DICT")
    b = od.tobytes()
    return [b[oo[i] : oo[i + 1]] for i in range(len(strs))], len(p)


@pytest.mark.parametrize(
    "strs",
    [
        [],
        [b""],
        [b" ", b"  ", b"   "],
        [b"no-spaces-here", b"another"],
        [b"trailing space ", b" leading", b"a b c"],
        [b"\x00 \x00", b"\x20\x20nul\x00"],
        [bytes(range(256))] * 2,
    ],
    ids=["empty", "empty-str", "all-spaces", "no-spaces", "mixed", "nul", "binary"],
)
def test_worddict_roundtrip_cases(strs):
    got, _size = roundtrip(strs)
    assert got == strs


@given(st.lists(st.binary(max_size=60), max_size=80))
@settings(max_examples=60, deadline=None)
def test_worddict_roundtrip_property(strs):
    got, _size = roundtrip(strs)
    assert got == strs


def test_worddict_beats_fsst_on_natural_text():
    words = ["the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog"]
    rng = np.random.default_rng(5)
    strs = [
        " ".join(words[i] for i in rng.integers(0, 8, size=60)).encode()
        for _ in range(3000)
    ]
    data, off = chunk(strs)
    pw, _ = registry.encode_block((data, off), "bytes", "WORD_DICT")
    pf, _ = registry.encode_block((data, off), "bytes", "FSST")
    assert len(pw) < len(pf)
    assert len(pw) < 0.25 * int(off[-1])


def test_selector_picks_worddict_for_text():
    from nem_mms_spark import framing
    from nem_mms_spark.datagen.webpages import generate_pages
    from nem_mms_spark.selector import ColumnContext, select_and_encode
    import pyarrow as pa

    pdf = generate_pages(np.arange(8000))
    arr = pa.Table.from_pandas(pdf, preserve_index=False).column("text").combine_chunks()
    values, dtype, _v, _nc, _raw = framing.to_kernel(arr)
    codec, payload, params, est = select_and_encode(values, dtype, ColumnContext())
    assert codec == "WORD_DICT"


def _dictionary(payload, params):
    """The payload's dictionary tokens, in code order."""
    from nem_mms_spark.codecs.primitives import decode_offsets_data

    slen, dlen = params["slen"], params["dlen"]
    udata, uoffs = decode_offsets_data(
        payload[slen : slen + dlen], params["dp"], params["card"]
    )
    b = udata.tobytes()
    return [b[uoffs[i] : uoffs[i + 1]] for i in range(params["card"])]


@pytest.mark.parametrize("kernels", ["native", "numpy"])
def test_worddict_ranks_by_count_then_first_occurrence(kernels, monkeypatch):
    """Codes are ranks by descending token count; tokens with equal
    counts keep first-occurrence order, on both kernel paths."""
    from nem_mms_spark.codecs import native

    if kernels == "numpy":
        monkeypatch.setattr(native, "lib", None)
    strs = [b"d c b a ", b"a b c d ", b"d e"]
    p, pr = registry.encode_block(chunk(strs), "bytes", "WORD_DICT")
    assert _dictionary(p, pr) == [b"d ", b"c ", b"b ", b"a ", b"e"]
    got, _size = roundtrip(strs)
    assert got == strs


def test_flat_payload_without_tiers_decodes():
    """A payload in the layout written before the ranking (first-
    occurrence codes in one stream, no ``tw``/``tc`` params) decodes:
    older outputs stay readable."""
    from nem_mms_spark.codecs import worddict
    from nem_mms_spark.codecs.primitives import (
        bit_width, encode_offsets_data, pack_uints,
    )

    strs = [b"the cat the dog ", b"a cat", b"", b"the end"]
    data, off = chunk(strs)
    codes, counts, (udata, uoffs), _hist = worddict.factorize_words(data, off)
    card = len(uoffs) - 1
    sw, cw = bit_width(int(counts.max())), bit_width(card - 1)
    counts_p = pack_uints(counts.astype(np.uint64), sw)
    dict_p, dp = encode_offsets_data(udata, uoffs)
    payload = counts_p + dict_p + pack_uints(codes.astype(np.uint64), cw)
    params = {"card": card, "cw": cw, "tn": len(codes), "sw": sw,
              "slen": len(counts_p), "dlen": len(dict_p), "dp": dp}
    od, oo = registry.decode_block(payload, params, len(strs), "bytes", "WORD_DICT")
    b = od.tobytes()
    assert [b[oo[i] : oo[i + 1]] for i in range(len(strs))] == strs


def test_selector_estimate_matches_payload():
    """The selector's WORD_DICT estimate is exact in every term: token
    counts, the dictionary section (coded once, by the probe table) and
    the code streams."""
    from nem_mms_spark import framing, selector
    from nem_mms_spark.codecs import worddict
    from nem_mms_spark.datagen.webpages import generate_pages
    import pyarrow as pa

    pdf = generate_pages(np.arange(6000))
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    for col in ("html", "text"):
        values, dtype, *_ = framing.to_kernel(tbl.column(col).combine_chunks())
        ctx = selector.ColumnContext()
        codec, payload, params, est = selector.select_and_encode(values, dtype, ctx)
        assert codec == "WORD_DICT" and len(params["tw"]) == 2
        assert "df" in params  # the probe table coded the dictionary
        words = worddict.factorize_words(*values)
        tiers = worddict.rank_tiers(words.hist)
        dictionary = worddict.encode_dictionary(
            words.uniq, tiers.order, ctx.fsst_probe
        )
        terms = selector._word_dict_terms(words, tiers, dictionary)
        assert sum(terms.values()) == est["WORD_DICT"] == len(payload)
        assert terms["counts"] == params["slen"]
        assert terms["dictionary"] == params["dlen"]
        assert terms["codes"] == len(payload) - params["slen"] - params["dlen"]
