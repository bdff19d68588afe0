"""What one encode reports about itself: the CPU time of a part against
its wall time, the native-kernel status of its tasks, and the content
fingerprint its checkpoint row carries."""

from __future__ import annotations

import json
import time

import numpy as np
import pyarrow as pa

from nem_mms_spark.datagen.webpages import generate_pages
from nem_mms_spark.jobs.encode import (
    _encode_partition_table,
    _fingerprint,
    _native_report,
)


def test_part_cpu_time_within_encode_wall(tmp_path):
    """``c_cpu`` spans the same body as ``encode_ns``, so the stall
    ratio 1 - c_cpu / encode_ns is never negative (up to the clock's
    resolution)."""
    tbl = pa.Table.from_pandas(generate_pages(np.arange(3000)), preserve_index=False)
    row = _encode_partition_table(
        0, tbl, 1024, 16 << 20, "url", str(tmp_path / "blocks"),
    )
    c_cpu = json.loads(row["stage_ns"])["c_cpu"]
    res_ns = time.get_clock_info("thread_time").resolution * 1e9
    assert 0 < c_cpu <= row["encode_ns"] + res_ns
    assert 1 - c_cpu / row["encode_ns"] >= -res_ns / row["encode_ns"]


def test_native_report_counts_parts_and_names_first_failure():
    rows = [
        {"part_id": 3, "native_error": "CalledProcessError: gcc: not found"},
        {"part_id": 0, "native_error": None},
        {"part_id": 1, "native_error": "OSError: cannot open shared object"},
        {"part_id": 2, "native_error": None},
    ]
    assert _native_report(rows) == {
        "loaded_tasks": 2,
        "tasks": 4,
        "error": "OSError: cannot open shared object",
    }
    assert _native_report(rows[1::2]) == {
        "loaded_tasks": 2, "tasks": 2, "error": None,
    }
    assert _native_report([]) == {"loaded_tasks": 0, "tasks": 0, "error": None}


def test_fingerprint_values_are_pinned():
    """A part's fingerprint is stored in the checkpoint, so a resume
    compares new parts against old ones: its value must not drift across
    versions.  Pinned on generated pages (every key type) and on edge
    strings (empty, one byte, multi-byte, null)."""
    tbl = pa.Table.from_pandas(
        generate_pages(np.arange(3000)), preserve_index=False
    )
    assert {c: _fingerprint(tbl, c) for c in tbl.column_names} == {
        "url": 7798101854472165026,
        "warc_ts": -2065832778607882762,
        "html": -6760958015384696196,
        "text": -3095136247187238635,
        "lang": -1366585565279417581,
    }
    edge = pa.table({
        "url": ["", "a", "https://example.com/x", "ab" * 9, None, "héllo wörld"],
        "n": pa.array([3, -1, 0, 2**40, 7, 5], pa.int64()),
    })
    assert _fingerprint(edge, "url") == -1012303892689090515
    assert _fingerprint(edge, "n") == -3841081545732317578
