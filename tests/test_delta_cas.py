"""Filesystem compare-and-swap commits for the Delta writer (the spec's
log-store mutual-exclusion contract emulated with hard-link
put-if-absent of ``<version>.json``). A lost race must never clobber the
winning commit: plain appends retry on top of the winner (their staged
files carry unique names, adds commute), data-semantic verbs
(DELETE/UPDATE/MERGE) auto-retry after file-overlap validation and
OPTIMIZE recomputes (round 7 — the Delta twin of the Iceberg writer's
validated retries), while overwrite / create / evolution surface
``DeltaCommitConflict`` because their action lists were computed against
the old state."""

from __future__ import annotations

import os

import pytest

from mysoftware_nocnetintel_spark.sources import delta as dl
from mysoftware_nocnetintel_spark.sources.delta import (
    DeltaCommitConflict,
    delete_delta_rows,
    write_delta_append,
    write_delta_overwrite,
)
from mysoftware_nocnetintel_spark.sources.readers import read_delta_snapshot


def _df(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"v{i}") for i in range(lo, hi)], "id bigint, val string"
    )


def _ids(spark, root):
    return sorted(r.id for r in read_delta_snapshot(spark, root).collect())


def test_append_retries_on_lost_race(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "cas1")
    write_delta_append(_df(spark, 0, 5), root)

    real = dl._commit_version
    fired = {"n": 0}

    def racing(log_dir, version, actions):
        if fired["n"] == 0:
            fired["n"] = 1
            write_delta_append(_df(spark, 100, 103), root)  # winner
        return real(log_dir, version, actions)

    monkeypatch.setattr(dl, "_commit_version", racing)
    write_delta_append(_df(spark, 5, 8), root)
    monkeypatch.setattr(dl, "_commit_version", real)

    assert _ids(spark, root) == list(range(0, 8)) + [100, 101, 102]
    # create(0) + winner(1) + retried append(2) = 3 distinct version
    # files, none clobbered
    logs = [
        f
        for f in os.listdir(os.path.join(root, "_delta_log"))
        if f.endswith(".json") and not f.startswith(".")
    ]
    assert len(logs) == 3


def _preempt_once(monkeypatch, spark, root):
    """Intercept the next commit: land a competing append at the
    contested version FIRST (between staging and commit), then let the
    original proceed — it must lose the CAS."""
    real = dl._commit_version
    fired = {"n": 0}

    def racing(log_dir, version, actions):
        if fired["n"] == 0:
            fired["n"] = 1
            real_append = write_delta_append
            monkeypatch.setattr(dl, "_commit_version", real)
            try:
                real_append(_df(spark, 900, 901), root)
            finally:
                monkeypatch.setattr(dl, "_commit_version", racing)
        return real(log_dir, version, actions)

    monkeypatch.setattr(dl, "_commit_version", racing)
    return real


def test_non_commuting_commits_surface_conflict(
    spark, tmp_path, monkeypatch
):
    root = str(tmp_path / "cas2")
    write_delta_append(_df(spark, 0, 5), root)
    real = _preempt_once(monkeypatch, spark, root)
    with pytest.raises(DeltaCommitConflict):
        write_delta_overwrite(_df(spark, 10, 12), root)
    monkeypatch.setattr(dl, "_commit_version", real)
    # the winner's commit survives untouched; the failed overwrite left
    # only stray (unreferenced) files
    assert _ids(spark, root) == list(range(0, 5)) + [900]


def test_delete_retries_after_disjoint_append(spark, tmp_path, monkeypatch):
    """Round 7: a competing APPEND leaves every file the DV delete
    touches byte-identical, so the delete retries against the winner's
    head and BOTH land."""
    root = str(tmp_path / "cas2b")
    write_delta_append(_df(spark, 0, 5), root)
    real = _preempt_once(monkeypatch, spark, root)
    delete_delta_rows(spark, root, "id = 1")
    monkeypatch.setattr(dl, "_commit_version", real)
    assert _ids(spark, root) == [0, 2, 3, 4, 900]


def test_delete_surfaces_when_touched_file_changed(
    spark, tmp_path, monkeypatch
):
    """A competing DELETE re-adds the same file with a different
    deletion vector — the staged re-add would clobber the winner's mask
    (resurrecting its deleted row), so validation must surface."""
    root = str(tmp_path / "cas2c")
    write_delta_append(_df(spark, 0, 5).coalesce(1), root)

    real = dl._commit_version
    fired = {"n": 0}

    def racing(log_dir, version, actions):
        if fired["n"] == 0:
            fired["n"] = 1
            monkeypatch.setattr(dl, "_commit_version", real)
            try:
                delete_delta_rows(spark, root, "id = 3")  # same file
            finally:
                monkeypatch.setattr(dl, "_commit_version", racing)
        return real(log_dir, version, actions)

    monkeypatch.setattr(dl, "_commit_version", racing)
    with pytest.raises(DeltaCommitConflict):
        delete_delta_rows(spark, root, "id = 1")
    monkeypatch.setattr(dl, "_commit_version", real)
    # the winner's delete is intact; ours never half-applied
    assert _ids(spark, root) == [0, 1, 2, 4]


def test_update_and_merge_retry_after_disjoint_append(
    spark, tmp_path, monkeypatch
):
    from mysoftware_nocnetintel_spark.sources.delta import (
        merge_delta_rows,
        update_delta_rows,
    )

    root = str(tmp_path / "cas2d")
    write_delta_append(_df(spark, 0, 4), root)
    real = _preempt_once(monkeypatch, spark, root)
    update_delta_rows(spark, root, "id = 0", {"val": "'U'"})
    monkeypatch.setattr(dl, "_commit_version", real)
    got = {
        (r.id, r.val)
        for r in read_delta_snapshot(spark, root).collect()
    }
    assert (0, "U") in got and (900, "v900") in got

    real = _preempt_once(monkeypatch, spark, root)
    merge_delta_rows(
        spark,
        root,
        _df(spark, 50, 51),
        on=["id"],
    )
    monkeypatch.setattr(dl, "_commit_version", real)
    ids = _ids(spark, root)
    assert 50 in ids and ids.count(900) == 2  # both winners intact


def test_optimize_recomputes_after_lost_race(spark, tmp_path, monkeypatch):
    """OPTIMIZE is recomputable maintenance: a lost CAS cleans the
    attempt's compacted files and re-runs against the winner's head —
    no rows lost, no stray files."""
    from mysoftware_nocnetintel_spark.sources.delta import (
        optimize_delta_table,
    )

    root = str(tmp_path / "cas2e")
    write_delta_append(_df(spark, 0, 3).coalesce(1), root)
    write_delta_append(_df(spark, 3, 6).coalesce(1), root)
    real = _preempt_once(monkeypatch, spark, root)
    optimize_delta_table(spark, root)
    monkeypatch.setattr(dl, "_commit_version", real)
    assert _ids(spark, root) == [0, 1, 2, 3, 4, 5, 900]
    # every parquet under the root is referenced (no stranded attempt)
    state = dl._replay_state(os.path.join(root, "_delta_log"))
    on_disk = set()
    for base, _d, files in os.walk(root):
        if "_delta_log" in base:
            continue
        for f in files:
            if f.endswith(".parquet"):
                on_disk.add(
                    os.path.relpath(os.path.join(base, f), root)
                )
    live_or_tombstoned = set(state["live"])
    # removed-but-unvacuumed files are legal leftovers; stranded files
    # from the LOSING optimize attempt are not — they'd be unreferenced
    # by any version. Replay all versions to collect every path ever
    # referenced.
    referenced = set()
    log_dir = os.path.join(root, "_delta_log")
    import json as _json

    for fn in os.listdir(log_dir):
        if fn.endswith(".json") and not fn.startswith("."):
            for line in open(os.path.join(log_dir, fn)):
                if line.strip():
                    a = _json.loads(line)
                    if "add" in a:
                        referenced.add(a["add"]["path"])
    assert on_disk <= referenced, on_disk - referenced
    assert live_or_tombstoned <= referenced


def test_schema_change_underneath_aborts_retry(spark, tmp_path, monkeypatch):
    """If the race winner EVOLVED the schema, the staged adds may not
    conform — the retry must abort instead of committing blind."""
    root = str(tmp_path / "cas3")
    write_delta_append(_df(spark, 0, 3), root)

    real = dl._commit_version
    fired = {"n": 0}

    def racing(log_dir, version, actions):
        if fired["n"] == 0:
            fired["n"] = 1
            write_delta_append(
                spark.createDataFrame(
                    [(50, "x", 1.5)], "id bigint, val string, extra double"
                ),
                root,
            )  # winner widens the schema
        return real(log_dir, version, actions)

    monkeypatch.setattr(dl, "_commit_version", racing)
    with pytest.raises(DeltaCommitConflict):
        write_delta_append(_df(spark, 3, 6), root)


def test_threaded_appends_lose_no_rows(spark, tmp_path):
    """Four threads race plain appends; every row set must land and the
    log must hold one file per committed version."""
    import threading

    root = str(tmp_path / "cas4")
    write_delta_append(_df(spark, 0, 2), root)
    errs = []

    def work(lo):
        try:
            write_delta_append(_df(spark, lo, lo + 3), root)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [
        threading.Thread(target=work, args=(lo,))
        for lo in (10, 20, 30, 40)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    want = list(range(0, 2))
    for lo in (10, 20, 30, 40):
        want += range(lo, lo + 3)
    assert _ids(spark, root) == sorted(want)


@pytest.mark.parametrize("committer", ["default", "faulty", "rest"])
@pytest.mark.parametrize("seed", [3, 17])
def test_two_writer_appender_races_deleter_delta(
    spark, tmp_path, seed, committer
):
    """Round-7 'done' twin of the Iceberg fuzz: one thread appends fresh
    batches, the other DV-deletes initial-batch rows and upsert-merges,
    through the real put-if-absent log CAS. Zero lost updates, zero
    double-applies. Round 8: the same fuzz also runs with the
    fault-injecting CatalogCommitter double (remote-catalog latency +
    transient rejections) installed at the commit seam — the guarantees
    must hold unchanged. Round 9: and with every log-version swap riding
    the Iceberg REST-catalog commit shape (Delta paths map onto the same
    route) against the in-process REST-shaped server."""
    import contextlib
    import random
    import threading
    import time as _time

    from mysoftware_nocnetintel_spark.sources.catalog import (
        FaultInjectingCommitter,
        IcebergRestCatalogCommitter,
        use_committer,
    )
    from mysoftware_nocnetintel_spark.sources.delta import merge_delta_rows

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
    root = str(tmp_path / f"dfuzz{seed}{committer}")
    write_delta_append(_df(spark, 0, 8), root)
    errs: list = []

    def appender():
        try:
            for k in range(5):
                lo = 100 * (k + 1)
                write_delta_append(_df(spark, lo, lo + 3), root)
                _time.sleep(rng.random() * 0.04)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    deleted = [0, 2, 4, 6]
    merged = [5000, 5001]

    def deleter():
        try:
            for i, d in enumerate(deleted):
                delete_delta_rows(spark, root, f"id = {d}")
                if i < len(merged):
                    merge_delta_rows(
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
