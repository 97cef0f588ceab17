"""Snapshot-isolation RE-SCAN RETRY (round 8 — closes the r7 verdict's
"missing" item 3): ``commit_retry.recompute(verb)(...)`` re-runs a
data-semantic verb WHOLE against the winner's head when validated retry
can't absorb the conflict — fresh scan, fresh decisions, the serial
order "winner first, then this verb". Called plainly, every verb keeps
surfacing the conflict (the conservative behavior every existing test
pins)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from mysoftware_nocnetintel_spark.sources import delta as dl
from mysoftware_nocnetintel_spark.sources.commit_retry import recompute
from mysoftware_nocnetintel_spark.sources import iceberg as ice
from mysoftware_nocnetintel_spark.sources.delta import (
    delete_delta_rows,
    merge_delta_rows,
    optimize_delta_table,
    update_delta_rows,
    write_delta_append,
)
from mysoftware_nocnetintel_spark.sources.iceberg import (
    IcebergCommitConflict,
    merge_iceberg_rows,
    update_iceberg_rows,
    write_iceberg_append,
    write_iceberg_position_deletes,
)
from mysoftware_nocnetintel_spark.sources.readers import (
    read_delta_snapshot,
    read_iceberg_snapshot,
)


def _df(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"v{i}") for i in range(lo, hi)], "id bigint, val string"
    )


def _ice_rows(spark, root):
    return sorted(
        (r.id, r.val) for r in read_iceberg_snapshot(spark, root).collect()
    )


def _dl_rows(spark, root):
    return sorted(
        (r.id, r.val) for r in read_delta_snapshot(spark, root).collect()
    )


def _race_ice_once(monkeypatch, winner):
    real = ice._commit_metadata
    fired = {"n": 0}

    def racing(meta_dir, prev_ver, new_meta):
        if fired["n"] == 0:
            fired["n"] = 1
            winner()
        return real(meta_dir, prev_ver, new_meta)

    monkeypatch.setattr(ice, "_commit_metadata", racing)
    return fired


def _race_dl_once(monkeypatch, winner):
    real = dl._commit_version
    fired = {"n": 0}

    def racing(log_dir, version, actions):
        if fired["n"] == 0:
            fired["n"] = 1
            monkeypatch.setattr(dl, "_commit_version", real)
            try:
                winner()
            finally:
                monkeypatch.setattr(dl, "_commit_version", racing)
        return real(log_dir, version, actions)

    monkeypatch.setattr(dl, "_commit_version", racing)
    return fired


def test_iceberg_delete_rescan_after_compaction(spark, tmp_path, monkeypatch):
    """The surface twin (test_iceberg_cas::..surfaces_after_compaction)
    raises; with rescan the delete re-derives coordinates against the
    compacted files and BOTH effects land."""
    root = str(tmp_path / "ice_rescan1")
    write_iceberg_append(_df(spark, 0, 10), root)
    _race_ice_once(
        monkeypatch, lambda: ice.rewrite_iceberg_table(spark, root)
    )
    recompute(write_iceberg_position_deletes)(spark, root, F.col("id") < 3)
    monkeypatch.undo()
    assert [i for i, _v in _ice_rows(spark, root)] == list(range(3, 10))


def test_iceberg_delete_rescan_after_update_of_same_rows(
    spark, tmp_path, monkeypatch
):
    """The round-8 advisor scenario with rescan: the winner UPDATEs the
    very rows our delete targets; the rescan re-runs the delete over the
    updated images — serial outcome, no resurrection."""
    root = str(tmp_path / "ice_rescan2")
    write_iceberg_append(_df(spark, 0, 10).coalesce(1), root)
    _race_ice_once(
        monkeypatch,
        lambda: update_iceberg_rows(spark, root, "id < 3", {"val": "'U'"}),
    )
    recompute(write_iceberg_position_deletes)(spark, root, F.col("id") < 3)
    monkeypatch.undo()
    assert _ice_rows(spark, root) == [(i, f"v{i}") for i in range(3, 10)]


def test_iceberg_merge_delete_mode_rescan(spark, tmp_path, monkeypatch):
    """when_matched='delete' is decision-dependent (never validated-
    retried); rescan re-runs it against the winner's head."""
    root = str(tmp_path / "ice_rescan3")
    write_iceberg_append(_df(spark, 0, 6), root)
    _race_ice_once(
        monkeypatch,
        lambda: write_iceberg_append(_df(spark, 100, 102), root),
    )
    recompute(merge_iceberg_rows)(
        spark,
        root,
        _df(spark, 0, 2),
        on=["id"],
        when_matched="delete",
        when_not_matched="ignore",
    )
    monkeypatch.undo()
    assert [i for i, _v in _ice_rows(spark, root)] == [2, 3, 4, 5, 100, 101]


def test_iceberg_rescan_bounded_attempts(spark, tmp_path, monkeypatch):
    """A conflict on every attempt propagates after the bounded retries
    (no infinite loop)."""
    root = str(tmp_path / "ice_rescan4")
    write_iceberg_append(_df(spark, 0, 4), root)

    def always_lose(meta_dir, prev_ver, new_meta):
        raise IcebergCommitConflict("always")

    monkeypatch.setattr(ice, "_commit_metadata", always_lose)
    with pytest.raises(IcebergCommitConflict):
        recompute(write_iceberg_position_deletes)(
            spark, root, F.col("id") == 0
        )


def test_delta_delete_rescan_after_optimize(spark, tmp_path, monkeypatch):
    """The DV-orphan test's scenario with rescan: optimize rewrites the
    touched files; the rescan re-derives DV coordinates over the
    compacted layout and both effects land."""
    root = str(tmp_path / "dl_rescan1")
    write_delta_append(_df(spark, 0, 3).coalesce(1), root)
    write_delta_append(_df(spark, 3, 6).coalesce(1), root)
    _race_dl_once(
        monkeypatch, lambda: optimize_delta_table(spark, root)
    )
    recompute(delete_delta_rows)(spark, root, "id = 1")
    monkeypatch.undo()
    assert [i for i, _v in _dl_rows(spark, root)] == [0, 2, 3, 4, 5]


def test_delta_update_and_merge_rescan(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "dl_rescan2")
    write_delta_append(_df(spark, 0, 4).coalesce(1), root)
    _race_dl_once(
        monkeypatch, lambda: optimize_delta_table(spark, root, min_files=1)
    )
    recompute(update_delta_rows)(spark, root, "id = 0", {"val": "'U'"})
    monkeypatch.undo()
    got = _dl_rows(spark, root)
    assert (0, "U") in got and len(got) == 4

    _race_dl_once(
        monkeypatch,
        lambda: write_delta_append(_df(spark, 900, 901).coalesce(1), root),
    )
    recompute(merge_delta_rows)(
        spark,
        root,
        _df(spark, 0, 1),
        on=["id"],
        when_matched="delete",
        when_not_matched="ignore",
    )
    monkeypatch.undo()
    ids = [i for i, _v in _dl_rows(spark, root)]
    assert 0 not in ids and 900 in ids
