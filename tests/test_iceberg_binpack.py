"""Incremental bin-packing (rewrite_iceberg_table(min_files_per_partition=N)).

The small-file maintenance job: only partitions holding >= N live files
are rewritten; untouched partitions' entries are carried into the new
REPLACE snapshot verbatim (same file paths, same partition records, same
column bounds). Zero-I/O proof mirrors the pruning tests: a superseded
fragment file is corrupted — the new snapshot never touches it."""

from __future__ import annotations

import os
from glob import glob

import pytest

from mysoftware_nocnetintel_spark.sources.iceberg import (
    rewrite_iceberg_table,
    write_iceberg_append,
    write_iceberg_equality_deletes,
)
from mysoftware_nocnetintel_spark.sources.readers import (
    _iceberg_snapshot_files,
    read_iceberg_snapshot,
)


def _rows(df):
    return {(r.day, r.id) for r in df.collect()}


def _by_part(root):
    data_files, _p, _e, _s = _iceberg_snapshot_files(root)
    out: dict = {}
    for e in data_files:
        key = dict(e.partition or {}).get("day")
        out.setdefault(key, []).append(e)
    return out


def _make_fragmented(spark, tmp_path, name):
    """d1 = 3 files (3 appends), d2 = 1 file, d3 = 1 file."""
    root = str(tmp_path / name)
    write_iceberg_append(
        spark.createDataFrame(
            [("d1", 1), ("d2", 100), ("d3", 200)], "day string, id bigint"
        ),
        root,
        partition_by=("day",),
    )
    for i in (2, 3):
        write_iceberg_append(
            spark.createDataFrame([("d1", i)], "day string, id bigint"),
            root,
        )
    return root


def test_binpack_rewrites_only_fragmented_partitions(spark, tmp_path):
    root = _make_fragmented(spark, tmp_path, "bp1")
    before = _by_part(root)
    assert len(before["d1"]) == 3
    kept_paths = {e.path for e in before["d2"] + before["d3"]}
    frag_paths = {e.path for e in before["d1"]}

    sid = rewrite_iceberg_table(spark, root, min_files_per_partition=2)
    assert sid

    after = _by_part(root)
    # untouched partitions carried verbatim: same file paths
    assert {e.path for e in after["d2"] + after["d3"]} == kept_paths
    # fragmented partition rewritten: all-new paths
    assert not ({e.path for e in after["d1"]} & frag_paths)
    # rows intact, pruning intact
    assert _rows(read_iceberg_snapshot(spark, root)) == {
        ("d1", 1), ("d1", 2), ("d1", 3), ("d2", 100), ("d3", 200),
    }
    assert _rows(
        read_iceberg_snapshot(spark, root, partition_filter={"day": "d1"})
    ) == {("d1", 1), ("d1", 2), ("d1", 3)}
    # kept entries keep their column bounds (zone maps survive the carry)
    assert all(e.lower and e.upper for e in after["d2"] + after["d3"])
    # zero-I/O proof: corrupt a superseded d1 fragment — the new snapshot
    # never references it, so full reads still work
    victim = sorted(frag_paths)[0]
    with open(victim, "wb") as fh:
        fh.write(b"GARBAGE")
    assert len(_rows(read_iceberg_snapshot(spark, root))) == 5


def test_binpack_zone_maps_skip_on_kept_files(spark, tmp_path):
    """scan_filter must still prune using the re-encoded kept bounds."""
    root = _make_fragmented(spark, tmp_path, "bp2")
    rewrite_iceberg_table(spark, root, min_files_per_partition=2)
    after = _by_part(root)
    # corrupt the KEPT d3 file (ids ~200); a scan bounded away from it
    # must not touch it
    (d3_entry,) = after["d3"]
    with open(d3_entry.path, "wb") as fh:
        fh.write(b"GARBAGE")
    got = read_iceberg_snapshot(spark, root, scan_filter=("id", "<", 50))
    assert {r.id for r in got.collect()} == {1, 2, 3}
    with pytest.raises(Exception):
        read_iceberg_snapshot(spark, root).collect()


def test_binpack_noop_when_nothing_fragmented(spark, tmp_path):
    root = _make_fragmented(spark, tmp_path, "bp3")
    _d, _p, _e, snap = _iceberg_snapshot_files(root)
    versions_before = glob(os.path.join(root, "metadata", "v*.metadata.json"))
    sid = rewrite_iceberg_table(spark, root, min_files_per_partition=10)
    assert sid == snap["snapshot-id"]  # same snapshot, no commit
    assert (
        glob(os.path.join(root, "metadata", "v*.metadata.json"))
        == versions_before
    )


def test_binpack_composes_with_live_deletes(spark, tmp_path):
    """Per-entry sequence numbers let bin-packing run over a merge-on-read
    table: the deleted row must stay dead in BOTH worlds — applied into
    the compacted replacement of the fragmented partition, and still
    masked (carried delete manifest × pinned kept sequence) on the kept
    partitions."""
    root = _make_fragmented(spark, tmp_path, "bp4")
    write_iceberg_equality_deletes(
        spark, root, spark.createDataFrame([(2,), (100,)], "id bigint")
    )
    expect = {("d1", 1), ("d1", 3), ("d3", 200)}
    assert _rows(read_iceberg_snapshot(spark, root)) == expect
    sid = rewrite_iceberg_table(spark, root, min_files_per_partition=2)
    assert sid
    # d1 (fragmented) compacted to 1 file WITH the delete applied; d2/d3
    # kept untouched, id=100 still masked by the carried delete manifest
    assert _rows(read_iceberg_snapshot(spark, root)) == expect
    assert len(_by_part(root)["d1"]) == 1
    # a key re-inserted AFTER the bin-pack must survive the old delete
    # (its sequence is above the carried delete's)
    write_iceberg_append(
        spark.createDataFrame([("d2", 100)], "day string, id bigint"), root
    )
    assert _rows(read_iceberg_snapshot(spark, root)) == expect | {
        ("d2", 100)
    }


def test_binpack_unpartitioned(spark, tmp_path):
    root = str(tmp_path / "bp5")
    for lo in (0, 10, 20):
        write_iceberg_append(
            spark.createDataFrame(
                [(lo + i,) for i in range(3)], "id bigint"
            ).coalesce(1),
            root,
        )
    sid = rewrite_iceberg_table(spark, root, min_files_per_partition=2)
    assert sid
    got = read_iceberg_snapshot(spark, root)
    assert {r.id for r in got.collect()} == {
        0, 1, 2, 10, 11, 12, 20, 21, 22,
    }


def test_binpack_time_travel_sees_prebinpack_state(spark, tmp_path):
    root = _make_fragmented(spark, tmp_path, "bp6")
    _d, _p, _e, snap_before = _iceberg_snapshot_files(root)
    rewrite_iceberg_table(spark, root, min_files_per_partition=2)
    old = read_iceberg_snapshot(
        spark, root, snapshot_id=snap_before["snapshot-id"]
    )
    assert len(_rows(old)) == 5
