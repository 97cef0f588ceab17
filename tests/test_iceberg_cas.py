"""Filesystem compare-and-swap commits for the Iceberg writer
(HadoopTableOperations recipe: hard-link put-if-absent of
``v<N>.metadata.json``). A lost race must never clobber the winning
commit: appends re-stage their metadata on top of the winner (appends
commute), recomputable maintenance/ref commits auto-retry (round-6),
and data-semantic writers auto-retry after file-overlap validation
(round-7, ``_retry_head``) — surfacing ``IcebergCommitConflict`` only
when the winner could have invalidated their scan basis."""

import json
import os

import pytest

from mysoftware_nocnetintel_spark.sources import iceberg as ice
from mysoftware_nocnetintel_spark.sources.iceberg import (
    IcebergCommitConflict,
    expire_iceberg_snapshots,
    write_iceberg_append,
    write_iceberg_position_deletes,
)
from mysoftware_nocnetintel_spark.sources.readers import read_iceberg_snapshot


def _df(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"v{i}") for i in range(lo, hi)], "id bigint, val string"
    )


def _ids(spark, root):
    return sorted(r.id for r in read_iceberg_snapshot(spark, root).collect())


def test_append_retries_on_lost_race(spark, tmp_path, monkeypatch):
    """Simulate a concurrent writer landing BETWEEN our staging and our
    commit: intercept the first _commit_metadata call, run a full
    competing append (which commits the contested version for real),
    then let the original commit proceed — it must lose the CAS, retry
    against the winner's metadata, and land BOTH row sets."""
    root = str(tmp_path / "cas1")
    write_iceberg_append(_df(spark, 0, 5), root)

    real = ice._commit_metadata
    fired = {"n": 0}

    def racing(meta_dir, prev_ver, new_meta):
        if fired["n"] == 0:
            fired["n"] = 1
            # the competing writer wins the contested version
            write_iceberg_append(_df(spark, 100, 103), root)
        return real(meta_dir, prev_ver, new_meta)

    monkeypatch.setattr(ice, "_commit_metadata", racing)
    write_iceberg_append(_df(spark, 5, 8), root)
    monkeypatch.setattr(ice, "_commit_metadata", real)

    assert _ids(spark, root) == list(range(0, 8)) + [100, 101, 102]
    # three committed versions + create, no clobbered file
    metas = sorted(
        os.listdir(os.path.join(root, "metadata"))
    )
    assert sum(1 for m in metas if m.endswith(".metadata.json")) == 3
    hint = open(os.path.join(root, "metadata", "version-hint.text")).read()
    assert hint == "3"


def _race_once(monkeypatch, winner):
    """Monkeypatch _commit_metadata so the FIRST commit attempt loses to
    ``winner()`` (which commits the contested version for real), then
    every later attempt goes through untouched."""
    real = ice._commit_metadata
    fired = {"n": 0}

    def racing(meta_dir, prev_ver, new_meta):
        if fired["n"] == 0:
            fired["n"] = 1
            winner()
        return real(meta_dir, prev_ver, new_meta)

    monkeypatch.setattr(ice, "_commit_metadata", racing)
    return fired


def test_position_delete_retries_after_disjoint_append(
    spark, tmp_path, monkeypatch
):
    """Round 7 (validated data-commit retry): a competing APPEND never
    touches the files a position delete references, so the delete
    retries against the winner's head and BOTH land — zero lost
    updates in the appender-races-deleter interleaving."""
    root = str(tmp_path / "cas2")
    write_iceberg_append(_df(spark, 0, 10), root)
    _race_once(
        monkeypatch, lambda: write_iceberg_append(_df(spark, 100, 102), root)
    )
    from pyspark.sql import functions as F

    write_iceberg_position_deletes(spark, root, F.col("id") < 3)
    monkeypatch.undo()
    # the appended rows AND the delete both applied
    assert _ids(spark, root) == list(range(3, 10)) + [100, 101]


def test_position_delete_surfaces_after_compaction(
    spark, tmp_path, monkeypatch
):
    """A competing COMPACTION rewrites the very files the staged
    position delete references — its (file, pos) coordinates are
    invalid at the head, so validation must SURFACE the conflict (and
    clean the staged delete file)."""
    root = str(tmp_path / "cas2b")
    write_iceberg_append(_df(spark, 0, 10), root)
    _race_once(
        monkeypatch, lambda: ice.rewrite_iceberg_table(spark, root)
    )
    from pyspark.sql import functions as F

    with pytest.raises(IcebergCommitConflict, match="another"):
        write_iceberg_position_deletes(spark, root, F.col("id") < 3)
    monkeypatch.undo()
    # winner intact, nothing deleted, no stranded delete parquet
    assert _ids(spark, root) == list(range(10))
    data_dir = os.path.join(root, "data")
    assert not [
        f for f in os.listdir(data_dir) if f.startswith("delete-")
    ]


def test_equality_delete_retries_serially_after_append(
    spark, tmp_path, monkeypatch
):
    """Equality deletes are DECLARATIVE: the retry re-applies the key
    delete at the winner's head with a fresh (higher) sequence number —
    serial order 'append first, then delete key' — so the winner's rows
    with the deleted keys die too."""
    root = str(tmp_path / "cas2c")
    write_iceberg_append(_df(spark, 0, 5), root)
    _race_once(
        monkeypatch,
        # the racing append re-adds key 1 (and adds 100)
        lambda: write_iceberg_append(
            spark.createDataFrame(
                [(1, "dup"), (100, "new")], "id bigint, val string"
            ),
            root,
        ),
    )
    keys = spark.createDataFrame([(1,), (3,)], "id bigint")
    ice.write_iceberg_equality_deletes(spark, root, keys)
    monkeypatch.undo()
    assert _ids(spark, root) == [0, 2, 4, 100]


def test_update_retries_after_disjoint_append_surfaces_on_delete(
    spark, tmp_path, monkeypatch
):
    """UPDATE rewrites specific rows: a disjoint append retries fine;
    a competing delete adding masks over the SAME files must surface
    (our rewritten images would resurrect the interleaved delete)."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "cas2d")
    write_iceberg_append(_df(spark, 0, 6), root)
    _race_once(
        monkeypatch, lambda: write_iceberg_append(_df(spark, 100, 102), root)
    )
    ice.update_iceberg_rows(spark, root, "id < 2", {"val": "'U'"})
    monkeypatch.undo()
    got = {
        (r.id, r.val)
        for r in __import__(
            "mysoftware_nocnetintel_spark.sources.readers",
            fromlist=["read_iceberg_snapshot"],
        ).read_iceberg_snapshot(spark, root).collect()
    }
    assert {(0, "U"), (1, "U"), (100, "v100"), (101, "v101")} <= got
    assert len(got) == 8

    # now race an overlapping position delete: must surface
    _race_once(
        monkeypatch,
        lambda: write_iceberg_position_deletes(
            spark, root, F.col("id") == 3
        ),
    )
    with pytest.raises(IcebergCommitConflict, match="another"):
        ice.update_iceberg_rows(spark, root, "id >= 2", {"val": "'W'"})
    monkeypatch.undo()
    # the interleaved delete won and is never resurrected
    assert 3 not in _ids(spark, root)


def test_merge_upsert_retries_nondeclarative_surfaces(
    spark, tmp_path, monkeypatch
):
    """The zero-read upsert merge (update+insert, no dup source keys)
    re-applies declaratively after a lost CAS; a decision-dependent
    merge (when_not_matched='ignore') surfaces the conflict."""
    root = str(tmp_path / "cas2e")
    write_iceberg_append(_df(spark, 0, 4), root)
    _race_once(
        monkeypatch, lambda: write_iceberg_append(_df(spark, 100, 102), root)
    )
    src = spark.createDataFrame(
        [(1, "up"), (50, "ins")], "id bigint, val string"
    )
    ice.merge_iceberg_rows(spark, root, src, on=["id"])
    monkeypatch.undo()
    assert _ids(spark, root) == [0, 1, 2, 3, 50, 100, 101]

    _race_once(
        monkeypatch, lambda: write_iceberg_append(_df(spark, 200, 201), root)
    )
    with pytest.raises(IcebergCommitConflict, match="another"):
        ice.merge_iceberg_rows(
            spark, root, src, on=["id"], when_not_matched="ignore"
        )
    monkeypatch.undo()
    assert 200 in _ids(spark, root)  # winner intact


def test_expire_retries_on_conflict_without_losing_files(
    spark, tmp_path, monkeypatch
):
    """Expiration is RECOMPUTABLE maintenance (round-6): a lost CAS
    re-runs against the winner's head instead of surfacing. The retried
    expiration must never delete a file the winner's snapshots
    reference, and the live read must include the winner's rows."""
    root = str(tmp_path / "cas3")
    write_iceberg_append(_df(spark, 0, 3), root)
    write_iceberg_append(_df(spark, 3, 6), root)
    write_iceberg_append(_df(spark, 6, 9), root)
    write_iceberg_append(_df(spark, 9, 12), root)

    real = ice._commit_metadata
    fired = {"n": 0}

    def racing(meta_dir, prev_ver, new_meta):
        if fired["n"] == 0:
            fired["n"] = 1
            write_iceberg_append(_df(spark, 100, 102), root)
        return real(meta_dir, prev_ver, new_meta)

    monkeypatch.setattr(ice, "_commit_metadata", racing)
    removed = expire_iceberg_snapshots(root, keep_last=1)
    monkeypatch.setattr(ice, "_commit_metadata", real)
    # the retried expiration ran against the WINNER's head: the live
    # read carries both row sets and the kept snapshot is the winner's
    assert _ids(spark, root) == list(range(12)) + [100, 101]
    assert removed >= 0  # old manifest lists/manifests reclaimed
    versions = sorted(
        f
        for f in os.listdir(os.path.join(root, "metadata"))
        if f.endswith(".metadata.json")
    )
    meta = json.load(
        open(os.path.join(root, "metadata", versions[-1]))
    )
    assert len(meta["snapshots"]) == 1  # keep_last=1 applied post-race


def test_schema_change_under_staged_append_conflicts(
    spark, tmp_path, monkeypatch
):
    """If the winning commit changed the schema, the staged files' stats
    are keyed to stale field ids — the append must NOT auto-retry."""
    root = str(tmp_path / "cas4")
    write_iceberg_append(_df(spark, 0, 3), root)

    real = ice._commit_metadata
    fired = {"n": 0}

    def racing(meta_dir, prev_ver, new_meta):
        if fired["n"] == 0:
            fired["n"] = 1
            # competing ADD-COLUMN append evolves the schema
            write_iceberg_append(
                spark.createDataFrame(
                    [(50, "x", 1.5)], "id bigint, val string, score double"
                ),
                root,
            )
        return real(meta_dir, prev_ver, new_meta)

    monkeypatch.setattr(ice, "_commit_metadata", racing)
    with pytest.raises(IcebergCommitConflict, match="schema"):
        write_iceberg_append(_df(spark, 3, 6), root)
    monkeypatch.setattr(ice, "_commit_metadata", real)
    # winner's commit intact
    assert _ids(spark, root) == [0, 1, 2, 50]


def test_version_hint_written(spark, tmp_path):
    root = str(tmp_path / "cas5")
    write_iceberg_append(_df(spark, 0, 2), root)
    write_iceberg_append(_df(spark, 2, 4), root)
    hint = os.path.join(root, "metadata", "version-hint.text")
    assert open(hint).read() == "2"
    meta = json.load(open(os.path.join(root, "metadata", "v2.metadata.json")))
    assert meta["current-snapshot-id"] == meta["snapshots"][-1]["snapshot-id"]


def test_compaction_retries_on_lost_race(spark, tmp_path, monkeypatch):
    """OPTIMIZE (rewrite_iceberg_table) is recomputable: a lost CAS
    re-runs the rewrite against the winner's head — the compacted
    snapshot must include the competing append's rows (round-5 verdict
    task 8: only appends retried before)."""
    root = str(tmp_path / "cas_opt")
    write_iceberg_append(_df(spark, 0, 4), root)
    write_iceberg_append(_df(spark, 4, 8), root)
    write_iceberg_position_deletes(
        spark, root, __import__("pyspark.sql.functions", fromlist=["col"]).col("id") == 0
    )

    real = ice._commit_metadata
    fired = {"n": 0}

    def racing(meta_dir, prev_ver, new_meta):
        if fired["n"] == 0:
            fired["n"] = 1
            write_iceberg_append(_df(spark, 100, 102), root)
        return real(meta_dir, prev_ver, new_meta)

    monkeypatch.setattr(ice, "_commit_metadata", racing)
    sid = ice.rewrite_iceberg_table(spark, root)
    monkeypatch.setattr(ice, "_commit_metadata", real)
    assert _ids(spark, root) == list(range(1, 8)) + [100, 101]
    # the committed snapshot is a compaction of the WINNER's head: no
    # delete files survive into it
    from mysoftware_nocnetintel_spark.sources.readers import (
        _iceberg_snapshot_files,
    )

    _d, pos_del, eq_del, snap = _iceberg_snapshot_files(root)
    assert snap["snapshot-id"] == sid
    assert not pos_del and not eq_del


def test_ref_moves_retry_on_lost_race(spark, tmp_path, monkeypatch):
    """Tag/move commits are metadata-only and recomputable — a lost CAS
    retries and the ref lands on the requested snapshot."""
    root = str(tmp_path / "cas_ref")
    s1 = write_iceberg_append(_df(spark, 0, 3), root)

    real = ice._commit_metadata
    fired = {"n": 0}

    def racing(meta_dir, prev_ver, new_meta):
        if fired["n"] == 0:
            fired["n"] = 1
            write_iceberg_append(_df(spark, 100, 102), root)
        return real(meta_dir, prev_ver, new_meta)

    monkeypatch.setattr(ice, "_commit_metadata", racing)
    assert ice.move_iceberg_ref(root, "pin", s1) == s1
    monkeypatch.setattr(ice, "_commit_metadata", real)
    pinned = read_iceberg_snapshot(spark, root, ref="pin")
    assert sorted(r.id for r in pinned.collect()) == [0, 1, 2]
    assert _ids(spark, root) == [0, 1, 2, 100, 101]


@pytest.mark.parametrize("seed", [11, 29])
def test_two_writer_interleaving_no_lost_updates(spark, tmp_path, seed):
    """Randomized two-writer interleaving: one thread appends, the other
    runs maintenance verbs (compaction / manifest rewrite / expiration)
    against the same table through the real filesystem CAS. Every
    appended row must survive to the end — maintenance may reshape
    files and metadata but never loses an update."""
    import random
    import threading
    import time as _time

    rng = random.Random(seed)
    root = str(tmp_path / f"fuzz{seed}")
    write_iceberg_append(_df(spark, 0, 3), root)
    errs: list = []

    def appender():
        try:
            for k in range(5):
                lo = 10 * (k + 1)
                write_iceberg_append(_df(spark, lo, lo + 3), root)
                _time.sleep(rng.random() * 0.05)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def maintainer():
        try:
            for _ in range(4):
                op = rng.choice(["compact", "manifests", "expire"])
                if op == "compact":
                    ice.rewrite_iceberg_table(spark, root)
                elif op == "manifests":
                    ice.rewrite_iceberg_manifests(root, min_manifests=2)
                else:
                    expire_iceberg_snapshots(root, keep_last=2)
                _time.sleep(rng.random() * 0.05)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    t1 = threading.Thread(target=appender)
    t2 = threading.Thread(target=maintainer)
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    want = list(range(3)) + [
        10 * (k + 1) + j for k in range(5) for j in range(3)
    ]
    assert _ids(spark, root) == sorted(want)


@pytest.mark.parametrize("committer", ["default", "faulty", "rest"])
@pytest.mark.parametrize("seed", [5, 19])
def test_two_writer_appender_races_deleter(spark, tmp_path, seed, committer):
    """Round-7 'done' criterion: one thread appends fresh batches, the
    other issues position deletes of initial-batch rows and zero-read
    upsert merges, all through the real filesystem CAS. Zero lost
    updates (every surviving append row present exactly once) and zero
    double-applies (every merge insert present exactly once). Round 8:
    the same fuzz also runs with the fault-injecting CatalogCommitter
    double (latency + transient rejections) at the commit seam. Round 9:
    and with every version swap riding the Iceberg REST-catalog commit
    shape against the in-process REST-shaped server."""
    import contextlib
    import random
    import threading
    import time as _time

    from pyspark.sql import functions as F

    from mysoftware_nocnetintel_spark.sources.catalog import (
        FaultInjectingCommitter,
        IcebergRestCatalogCommitter,
        use_committer,
    )

    from .rest_catalog_server import rest_catalog_server

    ctx = contextlib.ExitStack()
    if committer == "faulty":
        ctx.enter_context(
            use_committer(
                FaultInjectingCommitter(
                    spurious_conflict_rate=0.15, max_delay_s=0.01, seed=seed
                )
            )
        )
    elif committer == "rest":
        endpoint, _stats = ctx.enter_context(rest_catalog_server())
        ctx.enter_context(
            use_committer(IcebergRestCatalogCommitter(endpoint))
        )
    rng = random.Random(seed)
    root = str(tmp_path / f"adfuzz{seed}{committer}")
    write_iceberg_append(_df(spark, 0, 8), root)
    errs: list = []

    def appender():
        try:
            for k in range(5):
                lo = 100 * (k + 1)
                write_iceberg_append(_df(spark, lo, lo + 3), root)
                _time.sleep(rng.random() * 0.04)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    deleted = [0, 2, 4, 6]
    merged = [5000, 5001]

    def deleter():
        try:
            for i, d in enumerate(deleted):
                write_iceberg_position_deletes(
                    spark, root, F.col("id") == d
                )
                if i < len(merged):
                    ice.merge_iceberg_rows(
                        spark,
                        root,
                        _df(spark, merged[i], merged[i] + 1),
                        on=["id"],
                    )
                _time.sleep(rng.random() * 0.04)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    with ctx:
        t1 = threading.Thread(target=appender)
        t2 = threading.Thread(target=deleter)
        t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    want = sorted(
        [i for i in range(8) if i not in deleted]
        + [100 * (k + 1) + j for k in range(5) for j in range(3)]
        + merged
    )
    got = _ids(spark, root)
    assert got == want, f"seed={seed}: {got} != {want}"
