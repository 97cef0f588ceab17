"""optimize_delta_table (bin-packing compaction, dataChange:false) and
its streaming contract: DeltaTailer skips pure-optimize ranges (auto-
advancing the offset — provably no rows changed) and nets interleaved
optimize churn out of mixed ranges instead of re-emitting compacted
rows."""

from __future__ import annotations

import json
import os

import pytest

from mysoftware_nocnetintel_spark.sources.delta import (
    _replay_state,
    delete_delta_rows,
    optimize_delta_table,
    vacuum_delta,
    write_delta_append,
)
from mysoftware_nocnetintel_spark.sources.readers import read_delta_snapshot
from mysoftware_nocnetintel_spark.streaming.ops import DeltaTailer


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id bigint, val string")


def _rows(df):
    return {(r.id, r.val) for r in df.collect()}


def _live(path):
    return _replay_state(os.path.join(path, "_delta_log"))["live"]


def test_optimize_compacts_and_folds_dvs(spark, tmp_path):
    path = str(tmp_path / "t")
    for i in range(3):
        write_delta_append(
            _mk(spark, [(i * 2, "a"), (i * 2 + 1, "b")]).coalesce(1), path
        )
    delete_delta_rows(spark, path, "id = 3")  # DV on one file
    assert len(_live(path)) == 3
    v = optimize_delta_table(spark, path)
    assert v is not None
    expect = {(0, "a"), (1, "b"), (2, "a"), (4, "a"), (5, "b")}
    assert _rows(read_delta_snapshot(spark, path)) == expect
    live = _live(path)
    assert len(live) < 3
    # DVs folded away: masked rows left the physical files
    assert not any(e.get("deletionVector") for e in live.values())
    # every action in the optimize commit is dataChange:false
    with open(os.path.join(path, "_delta_log", f"{v:020d}.json")) as fh:
        for line in fh:
            a = json.loads(line)
            body = a.get("add") or a.get("remove")
            if body:
                assert body["dataChange"] is False
    # time travel still sees the pre-optimize state
    assert _rows(read_delta_snapshot(spark, path, version=v - 1)) == expect
    # vacuum deletes the superseded files
    deleted = vacuum_delta(path, retention_ms=0)
    assert deleted
    assert _rows(read_delta_snapshot(spark, path)) == expect


def test_optimize_noop_on_compact_table(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_append(_mk(spark, [(1, "a")]).coalesce(1), path)
    assert optimize_delta_table(spark, path) is None


def test_optimize_zorder_clusters(spark, tmp_path):
    path = str(tmp_path / "t")
    for lo in (0, 100):
        write_delta_append(
            _mk(spark, [(lo + i, f"v{i}") for i in range(50)]), path
        )
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        v = optimize_delta_table(spark, path, zorder_by=("id",))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    assert v is not None
    got = read_delta_snapshot(spark, path)
    assert got.count() == 100
    # clustered: each new file's id-range is narrow (stats present)
    stats = [
        json.loads(e["stats"])
        for e in _live(path).values()
        if e.get("stats")
    ]
    assert stats and all(
        s["maxValues"]["id"] - s["minValues"]["id"] < 100 for s in stats
    )


def test_tailer_skips_pure_optimize_and_advances(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_append(_mk(spark, [(1, "a")]).coalesce(1), path)
    write_delta_append(_mk(spark, [(2, "b")]).coalesce(1), path)
    t = DeltaTailer(spark, path, str(tmp_path / "ckpt"))
    t.poll()
    t.commit()
    optimize_delta_table(spark, path)
    assert t.poll() is None  # skipped, offset auto-advanced
    write_delta_append(_mk(spark, [(3, "c")]), path)
    assert _rows(t.poll()) == {(3, "c")}  # strict still works after
    t.commit()


def test_tailer_nets_mixed_optimize_append_range(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_append(_mk(spark, [(1, "a")]).coalesce(1), path)
    write_delta_append(_mk(spark, [(2, "b")]).coalesce(1), path)
    t = DeltaTailer(spark, path, str(tmp_path / "ckpt"))
    t.poll()
    t.commit()
    # optimize AND append land between polls: only the append emits
    optimize_delta_table(spark, path)
    write_delta_append(_mk(spark, [(3, "c")]), path)
    assert _rows(t.poll()) == {(3, "c")}
    t.commit()
    assert t.poll() is None


def test_tailer_still_raises_on_row_removing_version(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_append(_mk(spark, [(1, "a"), (2, "b")]), path)
    t = DeltaTailer(spark, path, str(tmp_path / "ckpt"))
    t.poll()
    t.commit()
    delete_delta_rows(spark, path, "id = 1")
    with pytest.raises(ValueError, match="ignore_deletes"):
        t.poll()
