from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from nem_mms_spark.session import get_spark

    s = get_spark(master="local[4]", shuffle_partitions=8, app_name="tests")
    yield s
    s.stop()


@pytest.fixture
def drop_committed_parts():
    """Simulate an encode killed after committing all but some parts:
    rewrite the checkpoint's run files without those parts' rows, keeping
    ``_partitioning.json`` (the parts' data files may stay on disk, as
    after a crash between the task writes and the commit)."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def drop(out_dir: str, part_ids: list[int]) -> None:
        ck = os.path.join(out_dir, "checkpoint")
        runs = sorted(glob.glob(os.path.join(ck, "run-*.parquet")))
        rows = pa.concat_tables([pq.read_table(r) for r in runs])
        ids = pa.array(part_ids, rows["part_id"].type)
        gone = pc.is_in(rows["part_id"], value_set=ids)
        assert pc.sum(gone).as_py() == len(part_ids), part_ids
        for r in runs:
            os.remove(r)
        pq.write_table(
            rows.filter(pc.invert(gone)),
            os.path.join(ck, "run-partial.parquet"),
        )

    return drop
