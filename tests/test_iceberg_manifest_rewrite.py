"""Metadata-only manifest consolidation (rewrite_iceberg_manifests) and
the per-entry sequence-number inheritance it relies on: consolidating a
merge-on-read history must preserve equality-delete scoping EXACTLY
(pre-delete generations stay dead, same-or-later generations stay live),
because consolidated entries pin their original data sequence numbers
explicitly while traveling in a new manifest."""

from __future__ import annotations

import json
import os
from glob import glob

import pytest

from mysoftware_nocnetintel_spark.sources.avro_lite import read_avro_file
from mysoftware_nocnetintel_spark.sources.iceberg import (
    merge_iceberg_rows,
    rewrite_iceberg_manifests,
    rewrite_iceberg_table,
    write_iceberg_append,
)
from mysoftware_nocnetintel_spark.sources.readers import read_iceberg_snapshot


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id bigint, val string")


def _rows(df):
    return {(r.id, r.val) for r in df.collect()}


def _meta(path):
    vs = sorted(glob(os.path.join(path, "metadata", "v*.metadata.json")))
    with open(vs[-1]) as f:
        return json.load(f)


def _n_manifests(path, snap_id=None):
    meta = _meta(path)
    sid = snap_id or meta["current-snapshot-id"]
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == sid)
    _, manifests = read_avro_file(snap["manifest-list"])
    return len(manifests)


def test_consolidates_merge_history_and_preserves_delete_scoping(
    spark, tmp_path
):
    path = str(tmp_path / "t")
    write_iceberg_append(_mk(spark, [(1, "a"), (2, "b")]), path)
    merge_iceberg_rows(spark, path, _mk(spark, [(2, "B"), (3, "c")]), ["id"])
    merge_iceberg_rows(spark, path, _mk(spark, [(3, "C"), (4, "d")]), ["id"])
    expect = {(1, "a"), (2, "B"), (3, "C"), (4, "d")}
    assert _rows(read_iceberg_snapshot(spark, path)) == expect
    before = _n_manifests(path)
    assert before >= 5  # 1 append + 2×(data+delete)

    pre_snap = _meta(path)["current-snapshot-id"]
    snap = rewrite_iceberg_manifests(path)
    assert snap != pre_snap
    assert _n_manifests(path) == 2  # one data + one delete manifest
    # identical rows: 2:b and 3:c must STAY dead (their killers' explicit
    # sequence numbers still exceed theirs), 2:B / 3:C / 4:d stay live
    assert _rows(read_iceberg_snapshot(spark, path)) == expect
    # time travel: the pre-consolidation snapshot still reads via its
    # original (unconsolidated) manifest list
    assert _rows(
        read_iceberg_snapshot(spark, path, snapshot_id=pre_snap)
    ) == expect
    assert _n_manifests(path, pre_snap) == before
    assert (
        next(
            s
            for s in _meta(path)["snapshots"]
            if s["snapshot-id"] == snap
        )["summary"]["operation"]
        == "replace"
    )


def test_merge_after_consolidation_still_scopes(spark, tmp_path):
    path = str(tmp_path / "t")
    write_iceberg_append(_mk(spark, [(1, "a"), (2, "b")]), path)
    merge_iceberg_rows(spark, path, _mk(spark, [(2, "B")]), ["id"])
    rewrite_iceberg_manifests(path, min_manifests=2)
    # a later merge's delete (higher sequence) must kill the
    # consolidated entries' generation but not its own
    merge_iceberg_rows(spark, path, _mk(spark, [(2, "BB"), (1, "A")]), ["id"])
    assert _rows(read_iceberg_snapshot(spark, path)) == {
        (1, "A"), (2, "BB"),
    }
    # and consolidating AGAIN (now with explicit-seq entries in the mix)
    # changes nothing
    rewrite_iceberg_manifests(path, min_manifests=2)
    assert _rows(read_iceberg_snapshot(spark, path)) == {
        (1, "A"), (2, "BB"),
    }


def test_noop_under_valve_and_when_consolidated(spark, tmp_path):
    path = str(tmp_path / "t")
    write_iceberg_append(_mk(spark, [(1, "a")]), path)
    head = _meta(path)["current-snapshot-id"]
    assert rewrite_iceberg_manifests(path) == head  # 1 manifest — no-op
    write_iceberg_append(_mk(spark, [(2, "b")]), path)
    head2 = _meta(path)["current-snapshot-id"]
    # 2 data manifests but under the default valve of 3
    assert rewrite_iceberg_manifests(path) == head2
    # explicit lower valve consolidates
    snap = rewrite_iceberg_manifests(path, min_manifests=2)
    assert snap != head2 and _n_manifests(path) == 1
    # already consolidated — no-op regardless of valve
    assert rewrite_iceberg_manifests(path, min_manifests=1) == snap


def test_partitioned_consolidation_keeps_pruning(spark, tmp_path):
    from mysoftware_nocnetintel_spark.sources.readers import (
        _iceberg_snapshot_files,
    )

    path = str(tmp_path / "p")
    write_iceberg_append(
        _mk(spark, [(1, "x"), (2, "y")]), path, partition_by=("val",)
    )
    write_iceberg_append(_mk(spark, [(3, "x")]), path)
    write_iceberg_append(_mk(spark, [(4, "z")]), path)
    rewrite_iceberg_manifests(path, min_manifests=2)
    assert _n_manifests(path) == 1
    # partition records survived the move → partition pruning still works
    got = _rows(
        read_iceberg_snapshot(spark, path, partition_filter={"val": "x"})
    )
    assert got == {(1, "x"), (3, "x")}
    d, _p, _e, _s = _iceberg_snapshot_files(path)
    assert all(e.partition is not None for e in d)


def test_compaction_composes_after_consolidation(spark, tmp_path):
    path = str(tmp_path / "t")
    write_iceberg_append(_mk(spark, [(1, "a"), (2, "b")]), path)
    merge_iceberg_rows(spark, path, _mk(spark, [(2, "B"), (3, "c")]), ["id"])
    rewrite_iceberg_manifests(path, min_manifests=2)
    rewrite_iceberg_table(spark, path)  # folds the delete files away
    assert _rows(read_iceberg_snapshot(spark, path)) == {
        (1, "a"), (2, "B"), (3, "c"),
    }


def test_expiration_after_consolidation_keeps_live_data(spark, tmp_path):
    from mysoftware_nocnetintel_spark.sources.iceberg import (
        expire_iceberg_snapshots,
        remove_iceberg_orphan_files,
    )

    path = str(tmp_path / "t")
    write_iceberg_append(_mk(spark, [(1, "a"), (2, "b")]), path)
    merge_iceberg_rows(spark, path, _mk(spark, [(2, "B"), (3, "c")]), ["id"])
    merge_iceberg_rows(spark, path, _mk(spark, [(4, "d")]), ["id"])
    rewrite_iceberg_manifests(path, min_manifests=2)
    expect = {(1, "a"), (2, "B"), (3, "c"), (4, "d")}
    expire_iceberg_snapshots(path, keep_last=1)
    remove_iceberg_orphan_files(path, older_than_ms=0)
    # every data file the consolidated manifest references survived
    assert _rows(read_iceberg_snapshot(spark, path)) == expect


@pytest.mark.parametrize("seed", [7, 23])
def test_random_lifecycle_with_consolidation(spark, tmp_path, seed):
    """Random append/merge/consolidate/compact interleavings vs a dict
    model; read after every step. Consolidation must be invisible to
    every read."""
    import random

    rng = random.Random(seed)
    path = str(tmp_path / f"z{seed}")
    model = {1: "a"}
    write_iceberg_append(_mk(spark, sorted(model.items())), path)
    nxt = 2
    for step in range(8):
        op = rng.choice(["append", "merge", "merge", "consolidate", "compact"])
        if op == "append":
            rows = [(nxt + i, f"s{step}.{i}") for i in range(rng.randint(1, 3))]
            nxt += len(rows)
            write_iceberg_append(_mk(spark, rows), path)
            model.update(dict(rows))
        elif op == "merge":
            ks = rng.sample(range(1, nxt + 3), rng.randint(1, 3))
            src = [(k, f"m{step}.{k}") for k in ks]
            merge_iceberg_rows(spark, path, _mk(spark, src), ["id"])
            model.update(dict(src))
            nxt = max(nxt, max(ks) + 1)
        elif op == "consolidate":
            rewrite_iceberg_manifests(path, min_manifests=2)
        else:
            rewrite_iceberg_table(spark, path)
        assert _rows(read_iceberg_snapshot(spark, path)) == set(
            model.items()
        ), f"seed={seed} step={step} op={op}"


def test_consolidated_entries_are_existing_status(spark, tmp_path):
    """Round-11 advisor fix (Iceberg spec, manifest entry `status`):
    entries COPIED into a consolidated manifest are EXISTING (0), not
    ADDED (1) — a foreign engine's incremental/changelog scan of the
    replace snapshot must not misreport survivors as newly added files.
    EXISTING forbids inheritance, so snapshot_id and sequence_number
    stay explicit (and point at the ORIGINAL commits, never the replace
    snapshot)."""
    path = str(tmp_path / "ex")
    write_iceberg_append(_mk(spark, [(1, "a"), (2, "b")]), path)
    merge_iceberg_rows(spark, path, _mk(spark, [(2, "B"), (3, "c")]), ["id"])
    merge_iceberg_rows(spark, path, _mk(spark, [(3, "C"), (4, "d")]), ["id"])
    pre_snaps = {s["snapshot-id"] for s in _meta(path)["snapshots"]}
    rewrite_iceberg_manifests(path)
    meta = _meta(path)
    snap_id = meta["current-snapshot-id"]
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == snap_id)
    _, manifests = read_avro_file(snap["manifest-list"])
    n_entries = 0
    for m in manifests:
        _, entries = read_avro_file(m["manifest_path"])
        for e in entries:
            n_entries += 1
            assert e["status"] == 0, e  # EXISTING, never ADDED
            assert e["snapshot_id"] in pre_snaps  # explicit + original
            assert e.get("sequence_number") is not None
    assert n_entries >= 5
    assert _rows(read_iceberg_snapshot(spark, path)) == {
        (1, "a"), (2, "B"), (3, "C"), (4, "d"),
    }
