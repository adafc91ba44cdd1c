"""Job attribution, storage counters and result digests."""

from __future__ import annotations

import decimal
import json

import pytest

from perfbench import sparkstats, storage
from perfbench.check import frame_digest


def _job(group, submit, complete, stages):
    return {"group": group, "submit": submit, "complete": complete,
            "stages": list(stages), "stage_rt": dict(stages)}


def test_jobs_attribute_by_group_then_by_window():
    g = sparkstats.GROUP_PREFIX
    jobs = [
        _job(f"{g}0", 1.0, 2.0, {1: 1000}),
        _job(f"{g}0", 2.5, 3.0, {2: 500, 1: 1000}),  # stage 1 reused: counted once
        _job("stream-run-id", 3.2, 3.6, {3: 250}),  # foreachBatch job: by window
        _job(None, 12.0, 13.0, {4: 100}),
        _job("stream-run-id", 50.0, 51.0, {5: 100}),  # outside every op: dropped
        _job(f"{g}9", 1.0, 2.0, {6: 100}),  # op not measured: dropped
    ]
    per_op = sparkstats.attribute(jobs, {0: (0.5, 4.0), 1: (11.0, 14.0)})
    assert per_op[0].jobs == 3 and per_op[0].by_window == 1
    assert per_op[0].executor_s == pytest.approx(1.75)
    assert sparkstats.job_wall(per_op[0]) == pytest.approx(1.0 + 0.5 + 0.4)
    assert per_op[1].jobs == 1 and per_op[1].by_window == 1


def test_table_bytes_splits_live_history_log(tmp_path):
    t = tmp_path / "t"
    files = {
        "bucket_id=1/part-0.parquet": 10,
        "bucket_id=2/part-0.parquet": 20,
        "_history/pre00000002/bucket_id=1/part-0.parquet": 7,
        "_commits/00000001.json": 3,
        "_commits/00000002.json": 4,
        "_table.json": 2,
        "bucket_id=1/.part-0.parquet.crc": 1,
    }
    for rel, size in files.items():
        p = t / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(b"x" * size)
    tb = storage.table_bytes(str(t))
    assert (tb.live, tb.history, tb.log, tb.other, tb.files_live) == (30, 7, 7, 3, 2)
    assert tb.total == sum(files.values())
    assert storage.live_files(str(t)) == sorted(str(t / r) for r in list(files)[:2])
    assert storage.commit_seqs(str(t)) == [1, 2]
    assert storage.tables_under(str(tmp_path)) == [str(t)]


def test_commit_records_after_seq(tmp_path):
    log = tmp_path / "_commits"
    log.mkdir()
    for seq in (1, 2, 3):
        (log / f"{seq:08d}.json").write_text(json.dumps({"seq": seq}))
    (log / "_checkpoint.00000002.json").write_text("{}")
    assert [r["seq"] for r in storage.commit_records(str(tmp_path), after=1)] == [2, 3]


def test_frame_digest_ignores_row_and_column_order():
    a = frame_digest(["b", "a"], [(1, "x"), (2, None)])
    b = frame_digest(["a", "b"], [(None, 2), ("x", 1)])
    assert a == b
    assert frame_digest(["a"], [(decimal.Decimal("1.50"),)]) == frame_digest(
        ["a"], [(decimal.Decimal("1.5"),)]
    )
    assert a != frame_digest(["a", "b"], [("x", 1)])

