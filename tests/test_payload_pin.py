"""Every codec payload byte is pinned by a committed digest.

Fixed inputs (synthetic web_pages rows over fixed ids, slices of the
committed sf0.01 ``lineitem`` and ``events`` tables, and a small integer
table built from fixed numpy values) are encoded in
process by ``_encode_partition_table`` and read back from the block file
it writes.  A sha256 of each (part, block, column) codec payload, params
and validity bitmap must equal the one in ``payload_pin.json``, on the
native kernels and on their numpy twins.  Small ``block_rows`` give each
part several blocks, so the sticky selector path runs too.

The block file's container (its parquet codec and page checksums) is not
part of the pin: the digests are of the values read back.  A change that
moves payload bytes regenerates the pin with
``PYTHONPATH=. python tests/test_payload_pin.py`` and says why.
"""

from __future__ import annotations

import hashlib
import json
import pathlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from nem_mms_spark.codecs import native, registry
from nem_mms_spark.datagen.webpages import generate_pages
from nem_mms_spark.jobs.encode import _encode_partition_table

from test_native_kernels import _numpy_only

PIN = pathlib.Path(__file__).with_name("payload_pin.json")
SF001 = pathlib.Path(__file__).resolve().parents[1] / "perfbench/data/sf0.01"
CODECS = (
    registry.PLAIN, registry.DICT, registry.RLE, registry.FOR_BITPACK,
    registry.DELTA_FOR_BITPACK, registry.PFOR_BITPACK,
    registry.DELTA_PFOR_BITPACK, registry.FSST, registry.WORD_DICT,
    registry.ALP,
)


def _inputs():
    """(part id, table, block_rows, key_col) of each pinned part."""
    def pages(n):
        return pa.Table.from_pandas(
            generate_pages(np.arange(n)), preserve_index=False
        )

    lineitem = pq.read_table(SF001 / "lineitem.parquet").slice(0, 6000)
    events = pq.read_table(SF001 / "events.parquet").slice(0, 4000)
    # part 0's url blocks pick FSST and part 3's (shorter) PLAIN; part
    # 3's lang has an RLE block
    return [
        (0, pages(4000), 1000, "url"),
        (1, lineitem, 2000, "l_orderkey"),
        (2, events, 1000, "event_id"),
        (3, pages(1200), 400, "url"),
        (4, _integers(4000), 1000, "dict_i"),
    ]


def _integers(n: int) -> pa.Table:
    """Integer columns whose blocks pick the codecs no other input does:
    six scattered 64-bit values in no run order (numeric DICT), small
    values with rare 2**40 outliers (PFOR_BITPACK), and a sum of small
    steps with rare 2**30 jumps (DELTA_PFOR_BITPACK)."""
    i = np.arange(n, dtype=np.int64)
    six = np.array(
        [-(3 << 60), -(5 << 44) + 17, 11, (7 << 52) + 3, (1 << 62) - 9,
         123456789012345],
        dtype=np.int64,
    )
    steps = i * 40503 % 16
    steps[i % 89 == 0] = 1 << 30
    return pa.table({
        "dict_i": six[i * 7919 % 13 % 6],
        "pfor_i": np.where(i % 97 == 0, 1 << 40, i * 2654435761 % 1021),
        "dpfor_i": np.cumsum(steps),
    })


def _digests(blocks_dir: pathlib.Path) -> dict[str, dict[str, str]]:
    """Encode every pinned part under ``blocks_dir`` and return
    ``{"part/block/column": {codec, payload, params, validity}}``, the
    last three as sha256 hex digests of the bytes read back."""
    out = {}
    for pid, tbl, block_rows, key_col in _inputs():
        _encode_partition_table(
            pid, tbl, block_rows, 1 << 30, key_col, str(blocks_dir)
        )
        blocks = pq.read_table(
            blocks_dir / f"part_id={pid}" / "data.parquet",
            columns=["block_id", "column", "codec", "params", "payload",
                     "validity"],
        )
        for r in blocks.to_pylist():
            out[f"{pid}/{r['block_id']}/{r['column']}"] = {
                "codec": r["codec"],
                **{
                    k: hashlib.sha256(
                        r[k].encode() if isinstance(r[k], str) else r[k] or b""
                    ).hexdigest()
                    for k in ("payload", "params", "validity")
                },
            }
    return out


@pytest.mark.parametrize("path", ["native", "numpy"])
def test_payloads_match_the_pin(path, tmp_path):
    if path == "native":
        if native.lib is None:
            pytest.skip("native kernels unavailable (no compiler)")
        got = _digests(tmp_path)
    else:
        with _numpy_only():
            got = _digests(tmp_path)
    want = json.loads(PIN.read_text())
    assert got.keys() == want.keys()
    moved = [k for k in want if got[k] != want[k]]
    assert not moved, f"{len(moved)} payloads moved, first: {moved[:5]}"
    # every part ran more than one block, and the pin is not one codec
    blocks: dict[str, set] = {}
    for k in want:
        pid, bid, _col = k.split("/")
        blocks.setdefault(pid, set()).add(bid)
    assert all(len(b) > 1 for b in blocks.values()), blocks
    assert {v["codec"] for v in want.values()} == set(CODECS)
    # DICT is pinned on a numeric column too, not only on bytes
    assert want["4/0/dict_i"]["codec"] == registry.DICT


if __name__ == "__main__":
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        PIN.write_text(
            json.dumps(_digests(pathlib.Path(d)), indent=1, sort_keys=True)
            + "\n"
        )
    print(f"wrote {PIN}")
