"""Incremental consumption: the Delta net change feed
(delta_table_changes) and the Iceberg incremental append scan
(read_iceberg_incremental). Core invariant under test for Delta:
FROM snapshot + feed == TO snapshot, for every op mix the writers can
produce (append / overwrite / DV delete / COW merge / restore)."""

from __future__ import annotations

import random

import pytest

from mysoftware_nocnetintel_spark.sources.delta import (
    delete_delta_rows,
    delta_table_changes,
    merge_delta_rows,
    restore_delta_table,
    write_delta_append,
    write_delta_overwrite,
)
from mysoftware_nocnetintel_spark.sources.iceberg import (
    read_iceberg_incremental,
    rewrite_iceberg_table,
    write_iceberg_append,
    write_iceberg_position_deletes,
)
from mysoftware_nocnetintel_spark.sources.readers import read_delta_snapshot


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id bigint, val string")


def _rows(df):
    return {(r.id, r.val) for r in df.select("id", "val").collect()}


def _replay(from_rows: set, feed) -> set:
    out = set(from_rows)
    for r in feed.collect():
        t = (r.id, r.val)
        if r._change_type == "insert":
            out.add(t)
        else:
            out.discard(t)
    return out


def test_changes_append_only(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_append(_mk(spark, [(1, "a")]), path)  # v0
    write_delta_append(_mk(spark, [(2, "b"), (3, "c")]), path)  # v1
    feed = delta_table_changes(spark, path, 0)
    assert {(r.id, r.val, r._change_type) for r in feed.collect()} == {
        (2, "b", "insert"),
        (3, "c", "insert"),
    }


def test_changes_replay_reproduces_to_state_across_ops(spark, tmp_path):
    """append → DV delete → COW merge → restore; every (from, to) pair of
    versions must satisfy FROM + feed == TO."""
    path = str(tmp_path / "t")
    write_delta_append(
        _mk(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1), path
    )  # v0
    write_delta_append(_mk(spark, [(4, "d")]), path)  # v1
    delete_delta_rows(spark, path, "id = 2")  # v2 (DV)
    merge_delta_rows(
        spark, path, _mk(spark, [(3, "C"), (9, "z")]), on=["id"]
    )  # v3
    restore_delta_table(path, 1)  # v4 — un-deletes id=2, undoes the merge
    latest = 4
    states = {
        v: _rows(read_delta_snapshot(spark, path, version=v))
        for v in range(latest + 1)
    }
    for f in range(latest):
        for t in range(f + 1, latest + 1):
            if states[f] == states[t]:
                continue
            feed = delta_table_changes(spark, path, f, t)
            assert _replay(states[f], feed) == states[t], (f, t)


def test_changes_dv_diff_emits_only_the_deleted_row(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_append(
        _mk(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1), path
    )
    delete_delta_rows(spark, path, "id = 2")
    feed = delta_table_changes(spark, path, 0).collect()
    assert {(r.id, r.val, r._change_type) for r in feed} == {
        (2, "b", "delete")
    }


def test_changes_refusals(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_append(_mk(spark, [(1, "a")]), path)
    with pytest.raises(ValueError, match="must precede"):
        delta_table_changes(spark, path, 0)
    write_delta_append(_mk(spark, [(2, "b")]), path)
    with pytest.raises(ValueError, match="does not exist"):
        delta_table_changes(spark, path, 0, 9)
    with pytest.raises(ValueError, match="does not exist"):
        delta_table_changes(spark, path, 7)


def test_changes_randomized_replay(spark, tmp_path):
    rng = random.Random(0xFEED)
    path = str(tmp_path / "t")
    write_delta_append(_mk(spark, [(i, f"v{i}") for i in range(6)]), path)
    for step in range(6):
        op = rng.choice(["append", "delete", "merge", "overwrite"])
        try:
            if op == "append":
                write_delta_append(
                    _mk(spark, [(100 + step * 3 + j, f"a{step}") for j in range(2)]),
                    path,
                )
            elif op == "delete":
                delete_delta_rows(
                    spark, path, f"id % 5 = {rng.randint(0, 4)}"
                )
            elif op == "merge":
                merge_delta_rows(
                    spark,
                    path,
                    _mk(
                        spark,
                        [
                            (k, f"m{step}")
                            for k in rng.sample(range(0, 120), 3)
                        ],
                    ),
                    on=["id"],
                )
            else:
                keep = read_delta_snapshot(spark, path).filter("id % 2 = 0")
                write_delta_overwrite(keep, path)
        except (ValueError, NotImplementedError):
            continue
    import os

    from mysoftware_nocnetintel_spark.sources.delta import _replay_state

    latest = _replay_state(os.path.join(path, "_delta_log"))["version"]
    start = _rows(read_delta_snapshot(spark, path, version=0))
    end = _rows(read_delta_snapshot(spark, path))
    feed = delta_table_changes(spark, path, 0, latest)
    assert _replay(start, feed) == end


def test_iceberg_incremental_appends(spark, tmp_path):
    path = str(tmp_path / "t")
    s1 = write_iceberg_append(_mk(spark, [(1, "a")]), path)
    s2 = write_iceberg_append(_mk(spark, [(2, "b"), (3, "c")]), path)
    s3 = write_iceberg_append(_mk(spark, [(4, "d")]), path)
    assert _rows(read_iceberg_incremental(spark, path, s1, s2)) == {
        (2, "b"),
        (3, "c"),
    }
    assert _rows(read_iceberg_incremental(spark, path, s1)) == {
        (2, "b"),
        (3, "c"),
        (4, "d"),
    }
    assert _rows(read_iceberg_incremental(spark, path, s2, s3)) == {(4, "d")}


def test_iceberg_incremental_refuses_non_append_ranges(spark, tmp_path):
    path = str(tmp_path / "t")
    s1 = write_iceberg_append(_mk(spark, [(1, "a"), (2, "b")]), path)
    write_iceberg_position_deletes(spark, path, "id = 1")
    s3 = write_iceberg_append(_mk(spark, [(3, "c")]), path)
    with pytest.raises(NotImplementedError, match="not appends"):
        read_iceberg_incremental(spark, path, s1, s3)
    # a compaction in range is refused too
    path2 = str(tmp_path / "t2")
    s1 = write_iceberg_append(_mk(spark, [(1, "a")]), path2)
    write_iceberg_append(_mk(spark, [(2, "b")]), path2)
    rewrite_iceberg_table(spark, path2)
    with pytest.raises(NotImplementedError, match="not appends"):
        read_iceberg_incremental(spark, path2, s1)


def test_iceberg_incremental_refusals(spark, tmp_path):
    path = str(tmp_path / "t")
    s1 = write_iceberg_append(_mk(spark, [(1, "a")]), path)
    with pytest.raises(ValueError, match="must precede"):
        read_iceberg_incremental(spark, path, s1, s1)
    with pytest.raises(ValueError, match="does not exist"):
        read_iceberg_incremental(spark, path, 999)


def test_changes_pure_rewrite_is_empty_feed(spark, tmp_path):
    """Overwriting the table with its own rows (what a compaction does)
    is zero logical change: the netted feed is EMPTY, not full churn."""
    path = str(tmp_path / "t")
    write_delta_append(_mk(spark, [(1, "a"), (2, "b")]), path)
    write_delta_overwrite(read_delta_snapshot(spark, path), path)
    assert delta_table_changes(spark, path, 0).count() == 0


def test_iceberg_snapshot_diff_handles_deletes_and_compaction(
    spark, tmp_path
):
    from mysoftware_nocnetintel_spark.sources.iceberg import (
        iceberg_snapshot_diff,
    )

    path = str(tmp_path / "t")
    s1 = write_iceberg_append(
        _mk(spark, [(1, "a"), (2, "b"), (3, "c")]), path
    )
    write_iceberg_position_deletes(spark, path, "id = 2")
    rewrite_iceberg_table(spark, path)  # compaction folds the delete in
    s4 = write_iceberg_append(_mk(spark, [(4, "d")]), path)
    got = {
        (r.id, r.val, r._change_type)
        for r in iceberg_snapshot_diff(spark, path, s1, s4).collect()
    }
    assert got == {(2, "b", "delete"), (4, "d", "insert")}
    with pytest.raises(ValueError, match="does not exist"):
        iceberg_snapshot_diff(spark, path, 424242)


def test_iceberg_snapshot_diff_compaction_only_is_empty(spark, tmp_path):
    from mysoftware_nocnetintel_spark.sources.iceberg import (
        iceberg_snapshot_diff,
    )

    path = str(tmp_path / "t")
    s1 = write_iceberg_append(_mk(spark, [(1, "a")]), path)
    write_iceberg_append(_mk(spark, [(2, "b")]), path)
    s2 = write_iceberg_append(_mk(spark, [(3, "c")]), path)
    s3 = rewrite_iceberg_table(spark, path)
    assert iceberg_snapshot_diff(spark, path, s2, s3).count() == 0
    # and the full range still nets to just the appends
    got = {
        (r.id, r._change_type)
        for r in iceberg_snapshot_diff(spark, path, s1).collect()
    }
    assert got == {(2, "insert"), (3, "insert")}


# ------------------------------------------------------- DeltaTailer


def test_delta_tailer_initial_then_incremental(spark, tmp_path):
    from mysoftware_nocnetintel_spark.streaming.ops import DeltaTailer

    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    write_delta_append(_mk(spark, [(1, "a"), (2, "b")]), path)
    tailer = DeltaTailer(spark, path, ckpt)
    first = tailer.poll()
    assert _rows(first) == {(1, "a"), (2, "b")}  # initial snapshot batch
    tailer.commit()
    assert tailer.poll() is None  # caught up
    write_delta_append(_mk(spark, [(3, "c")]), path)
    nxt = tailer.poll()
    assert _rows(nxt) == {(3, "c")}
    tailer.commit()
    assert tailer.poll() is None


def test_delta_tailer_at_least_once_redelivery(spark, tmp_path):
    from mysoftware_nocnetintel_spark.streaming.ops import DeltaTailer

    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    write_delta_append(_mk(spark, [(1, "a")]), path)
    t1 = DeltaTailer(spark, path, ckpt)
    t1.poll()
    t1.commit()
    write_delta_append(_mk(spark, [(2, "b")]), path)
    t1.poll()  # NOT committed — simulated crash before processing ack
    t2 = DeltaTailer(spark, path, ckpt)  # restart from the checkpoint
    again = t2.poll()
    assert _rows(again) == {(2, "b")}  # re-delivered
    t2.commit()
    assert t2.poll() is None


def test_delta_tailer_delete_semantics(spark, tmp_path):
    from mysoftware_nocnetintel_spark.streaming.ops import DeltaTailer

    path = str(tmp_path / "t")
    write_delta_append(
        _mk(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1), path
    )
    strict = DeltaTailer(spark, path, str(tmp_path / "c1"))
    strict.poll()
    strict.commit()
    lax = DeltaTailer(
        spark, path, str(tmp_path / "c2"), ignore_deletes=True
    )
    lax.poll()
    lax.commit()
    delete_delta_rows(spark, path, "id = 2")
    merge_delta_rows(spark, path, _mk(spark, [(3, "C"), (4, "d")]), on=["id"])
    with pytest.raises(ValueError, match="ignore_deletes"):
        strict.poll()
    got = lax.poll()  # updated row re-emits its new image + the insert
    assert _rows(got) == {(3, "C"), (4, "d")}
    lax.commit()
    assert lax.poll() is None


def test_medallion_relay_exactly_once_across_crash(spark, tmp_path):
    """Bronze→silver relay: each hop is exactly-once even when the
    offset commit is lost after the silver write (the at-least-once
    crash window of the source) — the redelivered batch's txn skips."""
    from mysoftware_nocnetintel_spark.streaming.ops import (
        DeltaTailer,
        relay_delta_increment,
    )

    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")

    def xf(df):  # the silver transform: uppercase + drop id 0 rows
        from pyspark.sql import functions as F

        return df.filter("id > 0").withColumn("val", F.upper("val"))

    write_delta_append(_mk(spark, [(0, "drop"), (1, "a")]), bronze)
    t = DeltaTailer(spark, bronze, ckpt)
    assert relay_delta_increment(t, xf, silver, "medallion") == 0
    assert _rows(read_delta_snapshot(spark, silver)) == {(1, "A")}
    assert relay_delta_increment(t, xf, silver, "medallion") is None

    write_delta_append(_mk(spark, [(2, "b")]), bronze)
    # simulated crash: poll + silver write land, offset commit is LOST
    batch = t.poll()
    from mysoftware_nocnetintel_spark.sources.delta import (
        write_delta_append as _append,
    )

    _append(xf(batch), silver, txn=("medallion", t.pending_version))
    t2 = DeltaTailer(spark, bronze, ckpt)  # restart from old offset
    assert relay_delta_increment(t2, xf, silver, "medallion") == 1
    # no duplicate despite the redelivered batch
    assert _rows(read_delta_snapshot(spark, silver)) == {(1, "A"), (2, "B")}
    assert relay_delta_increment(t2, xf, silver, "medallion") is None


def test_medallion_relay_crash_window_with_bronze_advance(spark, tmp_path):
    """Round-5 advisor scenario, Delta twin: the offset commit is lost
    AND bronze advances before redelivery. The pinned pending endpoint
    re-delivers exactly the failed v1 range (txn skips); the next hop
    ships v1..v2 — without the pin the retry spanned start..v2 under
    txn v2 and double-appended the v1 rows."""
    from mysoftware_nocnetintel_spark.streaming.ops import (
        DeltaTailer,
        relay_delta_increment,
    )

    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    ident = lambda df: df  # noqa: E731

    write_delta_append(_mk(spark, [(1, "a")]), bronze)
    t = DeltaTailer(spark, bronze, ckpt)
    assert relay_delta_increment(t, ident, silver, "adv") == 0

    write_delta_append(_mk(spark, [(2, "b")]), bronze)
    batch = t.poll()
    v1 = int(t.pending_version)
    write_delta_append(batch, silver, txn=("adv", v1))
    # bronze advances BEFORE the redelivery
    write_delta_append(_mk(spark, [(3, "c")]), bronze)

    t2 = DeltaTailer(spark, bronze, ckpt)  # restart from old offset
    assert relay_delta_increment(t2, ident, silver, "adv") == v1
    assert relay_delta_increment(t2, ident, silver, "adv") == v1 + 1
    assert _rows(read_delta_snapshot(spark, silver)) == {
        (1, "a"),
        (2, "b"),
        (3, "c"),
    }  # (2,"b") exactly once
    assert relay_delta_increment(t2, ident, silver, "adv") is None
