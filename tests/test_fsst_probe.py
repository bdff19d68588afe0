"""The FSST probe (a 4 KB table that prices FSST before the 64 KB
training) must never change a winner: every bytes column below gives
the same codec and payload with the probe as with the probe switched off
(``_FSST_PROBE_MARGIN`` = inf, so every qualifying block trains in full,
the behaviour before the probe existed)."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__
from nem_mms_spark import framing, selector
from nem_mms_spark.codecs import fsst
from nem_mms_spark.datagen.webpages import generate_pages
from nem_mms_spark.selector import ColumnContext, select_and_encode

# perfbench's encode_pages source: 40,000 rows cut into files of these
# relative sizes, the row-id range offset by the seed
_PAGE_ROWS = 40_000
_FILE_WEIGHTS = (12, 1, 3, 6, 1, 2, 8, 1, 4, 2)
_DOCUMENTS = os.path.join(
    os.path.dirname(__spark_entry__.SF0001), "sf0.1", "documents.parquet"
)


def _page_files(seed: int) -> list[pa.Table]:
    first = seed * 1_000_000
    w = np.array(_FILE_WEIGHTS, dtype=np.float64)
    cuts = first + np.round(
        np.concatenate([[0], np.cumsum(w)]) / w.sum() * _PAGE_ROWS
    ).astype(np.int64)
    return [
        pa.Table.from_pandas(
            generate_pages(np.arange(lo, hi)), preserve_index=False
        ).sort_by("warc_ts")
        for lo, hi in zip(cuts[:-1], cuts[1:])
    ]


def _documents_parts(n_parts: int = 16) -> list[pa.Table]:
    tbl = pq.read_table(_DOCUMENTS)
    cuts = np.linspace(0, tbl.num_rows, n_parts + 1).astype(int)
    return [tbl.slice(lo, hi - lo) for lo, hi in zip(cuts[:-1], cuts[1:])]


def _bytes_results(parts: list[pa.Table]) -> list[tuple]:
    """(part, column, block, codec, payload) of every string or binary
    column, one ColumnContext per (part, column) and blocks cut as the
    encode does."""
    out = []
    for p, tbl in enumerate(parts):
        ranges = framing.block_ranges(tbl)
        for name in tbl.column_names:
            if framing.kernel_dtype(tbl.schema.field(name).type) != "bytes":
                continue
            ctx = ColumnContext()
            for b, (start, length) in enumerate(ranges):
                arr = tbl.column(name).slice(start, length).combine_chunks()
                values, dtype, *_ = framing.to_kernel(arr)
                codec, payload, _params, _est = select_and_encode(
                    values, dtype, ctx
                )
                out.append((p, name, b, codec, payload))
    return out


def _with_and_without_probe(parts, monkeypatch):
    probed = _bytes_results(parts)
    monkeypatch.setattr(selector, "_FSST_PROBE_MARGIN", float("inf"))
    full = _bytes_results(parts)
    return probed, full


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_probe_keeps_web_pages_winners(seed, monkeypatch):
    probed, full = _with_and_without_probe(_page_files(seed), monkeypatch)
    assert [r[:4] for r in probed] == [r[:4] for r in full]
    assert probed == full
    assert {r[3] for r in probed if r[1] == "url"} == {"FSST"}
    assert {r[3] for r in probed if r[1] in ("html", "text")} == {"WORD_DICT"}


@pytest.mark.skipif(
    not os.path.exists(_DOCUMENTS), reason="documents table not present"
)
def test_probe_keeps_documents_winners(monkeypatch):
    probed, full = _with_and_without_probe(_documents_parts(), monkeypatch)
    assert probed == full


def _column(name: str, n_rows: int = 12_000):
    tbl = pa.Table.from_pandas(
        generate_pages(np.arange(n_rows)), preserve_index=False
    )
    return framing.to_kernel(tbl.column(name).combine_chunks())[:2]


def _train_budgets(monkeypatch) -> list[int]:
    """Record the ``max_train_bytes`` of every fsst.train call."""
    calls = []
    train = fsst.train

    def counted(data, offsets, max_merges=fsst.DEFAULT_MAX_MERGES,
                max_train_bytes=fsst._MAX_TRAIN_BYTES):
        calls.append(max_train_bytes)
        return train(data, offsets, max_merges, max_train_bytes)

    monkeypatch.setattr(fsst, "train", counted)
    return calls


def test_html_skips_full_training(monkeypatch):
    calls = _train_budgets(monkeypatch)
    values, dtype = _column("html")
    codec, *_ = select_and_encode(values, dtype, ColumnContext())
    assert codec == "WORD_DICT"
    assert calls == [selector._FSST_PROBE_BYTES]


def test_url_still_trains_in_full(monkeypatch):
    calls = _train_budgets(monkeypatch)
    values, dtype = _column("url")
    ctx = ColumnContext()
    codec, *_ = select_and_encode(values, dtype, ctx)
    assert codec == "FSST"
    assert calls == [selector._FSST_PROBE_BYTES, fsst._MAX_TRAIN_BYTES]
    assert ctx.fsst_table is not None


def test_fsst_estimate_counts_its_table_once():
    """FSST is priced by its code stream at the sampled ratio plus one
    symbol table, so a url block where WORD_DICT's exact estimate comes
    close still picks the smaller codec.  This block (perfbench
    ``encode_pages`` seed 803, file 7) took WORD_DICT at 20,176 bytes
    against FSST's 16,060 when the sample's own table was scaled into
    the ratio and FSST was priced 26% high."""
    tbl = pa.Table.from_pandas(
        generate_pages(np.arange(803_033_000, 803_034_000)),
        preserve_index=False,
    ).sort_by("warc_ts")
    values, dtype, *_ = framing.to_kernel(tbl.column("url").combine_chunks())
    codec, payload, _params, est = select_and_encode(
        values, dtype, ColumnContext()
    )
    assert codec == "FSST"
    assert abs(est["FSST"] - len(payload)) <= 0.05 * len(payload)
    assert est["WORD_DICT"] > len(payload)
