"""Delta column RENAME via rename_delta_column (writer-side name-mode
column mapping — the Delta twin of rename_iceberg_column).

The upgrade pins physicalName = the name at upgrade time, so existing
files keep resolving; appends translate logical→physical on write, the
CoW verbs scan physical and project logical, and reads go through the
reader's existing name-mode projection. Every verb is exercised across
a rename."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mysoftware_nocnetintel_spark.sources.delta import (
    delete_delta_rows,
    merge_delta_rows,
    optimize_delta_table,
    rename_delta_column,
    update_delta_rows,
    write_delta_append,
    write_delta_overwrite,
)
from mysoftware_nocnetintel_spark.sources.readers import read_delta_snapshot


def _mk(spark, rows, schema="id bigint, val string"):
    return spark.createDataFrame(rows, schema)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_rename_read_append_roundtrip(spark, tmp_path):
    root = str(tmp_path / "t")
    write_delta_append(_mk(spark, [(1, "a"), (2, "b")]), root)
    v = rename_delta_column(root, "val", "label")
    got = read_delta_snapshot(spark, root)
    assert got.columns == ["id", "label"]
    assert _rows(got) == [(1, "a"), (2, "b")]
    # time travel BEFORE the rename shows the old logical name
    old = read_delta_snapshot(spark, root, version=v - 1)
    assert old.columns == ["id", "val"]
    # appends use the new name; both file generations read together
    write_delta_append(
        _mk(spark, [(3, "c")], "id bigint, label string"), root
    )
    assert _rows(read_delta_snapshot(spark, root)) == [
        (1, "a"),
        (2, "b"),
        (3, "c"),
    ]
    # the OLD name no longer appends
    with pytest.raises(ValueError, match="does not match"):
        write_delta_append(_mk(spark, [(4, "d")]), root)


def test_rename_then_cow_and_mor_verbs(spark, tmp_path):
    root = str(tmp_path / "t2")
    write_delta_append(_mk(spark, [(i, "old") for i in range(6)]), root)
    rename_delta_column(root, "val", "label")
    # merge-on-read DELETE (deletion vector) under the renamed schema
    delete_delta_rows(spark, root, "id = 5")
    # copy-on-write UPDATE with a predicate + set expr on the NEW name
    update_delta_rows(spark, root, "label = 'old' and id < 2", {
        "label": "'new'"
    })
    got = read_delta_snapshot(spark, root)
    assert _rows(got) == [
        (0, "new"),
        (1, "new"),
        (2, "old"),
        (3, "old"),
        (4, "old"),
    ]
    # MERGE upsert on the renamed table
    merge_delta_rows(
        spark,
        root,
        _mk(spark, [(4, "up"), (100, "ins")], "id bigint, label string"),
        on=["id"],
    )
    got = read_delta_snapshot(spark, root)
    assert _rows(got) == [
        (0, "new"),
        (1, "new"),
        (2, "old"),
        (3, "old"),
        (4, "up"),
        (100, "ins"),
    ]


def test_rename_then_overwrite_and_optimize(spark, tmp_path):
    root = str(tmp_path / "t3")
    write_delta_append(_mk(spark, [(1, "a")]).coalesce(1), root)
    write_delta_append(_mk(spark, [(2, "b")]).coalesce(1), root)
    rename_delta_column(root, "val", "label")
    optimize_delta_table(spark, root)  # compaction under the rename
    assert _rows(read_delta_snapshot(spark, root)) == [(1, "a"), (2, "b")]
    write_delta_overwrite(
        _mk(spark, [(9, "z")], "id bigint, label string"), root
    )
    assert _rows(read_delta_snapshot(spark, root)) == [(9, "z")]


def test_rename_scan_filter_stats_skipping(spark, tmp_path):
    root = str(tmp_path / "t4")
    write_delta_append(
        _mk(spark, [(i, f"u{i}") for i in range(10)]).coalesce(1), root
    )
    write_delta_append(
        _mk(spark, [(i, f"u{i}") for i in range(10, 20)]).coalesce(1), root
    )
    rename_delta_column(root, "id", "key")
    # stats are keyed by PHYSICAL name; pruning must route the renamed
    # logical column through the mapping — corrupt the low file to prove
    # the filtered read skipped it
    import os

    from mysoftware_nocnetintel_spark.sources.delta import _replay_state

    state = _replay_state(os.path.join(root, "_delta_log"))
    for rel in state["live"]:
        import json as _json

        st = _json.loads(state["live"][rel].get("stats") or "{}")
        if st.get("maxValues", {}).get("id", 99) < 10:
            with open(os.path.join(root, rel), "wb") as fh:
                fh.write(b"garbage")
    got = read_delta_snapshot(spark, root, scan_filter=("key", ">=", 15))
    assert sorted(r.key for r in got.collect()) == list(range(15, 20))


def test_rename_refusals_and_rename_back(spark, tmp_path):
    root = str(tmp_path / "t5")
    write_delta_append(
        spark.createDataFrame(
            [(1, "a", "d0")], "id bigint, val string, day string"
        ),
        root,
        partition_by=("day",),
    )
    rename_delta_column(root, "val", "label")
    with pytest.raises(ValueError, match="already exists"):
        rename_delta_column(root, "id", "label")
    with pytest.raises(ValueError, match="does not exist"):
        rename_delta_column(root, "nope", "x")
    # rename back; partitioned read still correct
    rename_delta_column(root, "label", "val")
    got = read_delta_snapshot(spark, root)
    assert _rows(got.select("id", "val", "day")) == [(1, "a", "d0")]
    write_delta_append(
        spark.createDataFrame(
            [(2, "b", "d1")], "id bigint, val string, day string"
        ),
        root,
    )
    got = read_delta_snapshot(spark, root)
    assert _rows(got.select("id", "val", "day")) == [
        (1, "a", "d0"),
        (2, "b", "d1"),
    ]


def test_rename_change_feed_and_tailer(spark, tmp_path):
    from mysoftware_nocnetintel_spark.sources.delta import (
        delta_table_changes,
    )
    from mysoftware_nocnetintel_spark.streaming.ops import DeltaTailer

    root = str(tmp_path / "t6")
    write_delta_append(_mk(spark, [(1, "a")]), root)
    t = DeltaTailer(spark, root, str(tmp_path / "ckpt"))
    assert t.poll() is not None
    t.commit()
    v0 = rename_delta_column(root, "val", "label") - 1
    write_delta_append(
        _mk(spark, [(2, "b")], "id bigint, label string"), root
    )
    # feed across the rename surfaces the TO-version schema
    feed = delta_table_changes(spark, root, v0)
    ins = feed.filter("_change_type = 'insert'")
    assert ins.columns[:2] == ["id", "label"]
    assert _rows(ins.select("id", "label")) == [(2, "b")]
    # the tailer consumes the post-rename increment
    batch = t.poll()
    assert batch is not None and "label" in batch.columns
    assert _rows(batch.select("id", "label")) == [(2, "b")]
    t.commit()


import random


@pytest.mark.parametrize("seed", [7, 23])
def test_random_delta_lifecycle_with_renames(spark, tmp_path, seed):
    """Writer-side lifecycle fuzz: random appends, MoR deletes (DVs),
    CoW updates, OPTIMIZE, and renames of the value column. The model
    is name-independent; every live read must reproduce it and
    post-rename writes use the current name (exercises the
    _stage_append physical translation and _masked_target projection
    under composition)."""
    from mysoftware_nocnetintel_spark.sources.delta import (
        optimize_delta_table,
    )

    rng = random.Random(seed)
    root = str(tmp_path / f"dren{seed}")
    model: dict[int, str] = {}
    cur = "val"
    n_renames = 0
    seq = 0

    ops = ["append"] + [
        rng.choice(
            ["append", "append", "delete", "update", "optimize", "rename"]
        )
        for _ in range(9)
    ]
    for op in ops:
        if op == "rename" and model:
            n_renames += 1
            new = f"val{n_renames}"
            rename_delta_column(root, cur, new)
            cur = new
        elif op == "optimize" and model:
            try:
                optimize_delta_table(spark, root)
            except ValueError:
                pass  # nothing to compact — legal no-op refusal
        elif op == "append" or not model:
            seq += 1
            batch = {
                rng.randrange(8): chr(97 + seq)
                for _ in range(rng.randint(1, 3))
            }
            write_delta_append(
                spark.createDataFrame(
                    list(batch.items()), f"id bigint, {cur} string"
                ),
                root,
            )
            # Delta appends do NOT upsert: duplicate ids coexist. Keep
            # the model simple by deleting clashing ids first.
            clash = [k for k in batch if k in model]
            if clash:
                delete_delta_rows(
                    spark,
                    root,
                    f"id in ({','.join(map(str, clash))}) and "
                    f"{cur} != '{chr(97 + seq)}'",
                )
            model.update(batch)
        elif op == "delete":
            m = rng.choice([2, 3])
            r = rng.randrange(m)
            if any(k % m == r for k in model):
                delete_delta_rows(spark, root, f"id % {m} = {r}")
                model = {k: v for k, v in model.items() if k % m != r}
        else:  # update
            ks = [k for k in model if k % 2 == 0]
            if ks:
                update_delta_rows(
                    spark, root, "id % 2 = 0", {cur: f"'U{seq}'"}
                )
                for k in ks:
                    model[k] = f"U{seq}"
        if model:
            got = {
                (r[0], r[1])
                for r in read_delta_snapshot(spark, root).collect()
            }
            assert got == set(model.items()), f"seed={seed} after {op}"


def test_rename_survives_checkpoint_and_log_cleanup(spark, tmp_path):
    """Checkpoint + log cleanup on a renamed table: the parquet
    checkpoint must carry the column-mapping metaData (configuration is
    map<string,string> — maxColumnId as an int broke the checkpoint
    writer, caught round 6) and the replay-from-checkpoint state must
    keep the full verb matrix working."""
    from mysoftware_nocnetintel_spark.sources.delta import (
        checkpoint_delta_table,
        cleanup_delta_log,
    )

    root = str(tmp_path / "t7")
    write_delta_append(_mk(spark, [(1, "a"), (2, "b")]), root)
    rename_delta_column(root, "val", "label")
    write_delta_append(
        _mk(spark, [(3, "c")], "id bigint, label string"), root
    )
    checkpoint_delta_table(root)
    assert cleanup_delta_log(root)  # pre-checkpoint jsons removed
    got = read_delta_snapshot(spark, root)
    assert got.columns == ["id", "label"]
    assert _rows(got) == [(1, "a"), (2, "b"), (3, "c")]
    # post-checkpoint verbs on the replayed-from-checkpoint state
    delete_delta_rows(spark, root, "id = 1")
    update_delta_rows(spark, root, "id = 2", {"label": "'z'"})
    write_delta_append(
        _mk(spark, [(4, "d")], "id bigint, label string"), root
    )
    assert _rows(read_delta_snapshot(spark, root)) == [
        (2, "z"),
        (3, "c"),
        (4, "d"),
    ]


def test_restore_across_rename(spark, tmp_path):
    """RESTORE to a pre-rename version re-commits the old metaData (old
    logical names, unmapped config); post-rename files keep resolving if
    later restored FORWARD because physicalName never changes."""
    from mysoftware_nocnetintel_spark.sources.delta import (
        restore_delta_table,
    )

    root = str(tmp_path / "t8")
    write_delta_append(_mk(spark, [(1, "a")]), root)  # v0
    v_rename = rename_delta_column(root, "val", "label")
    write_delta_append(
        _mk(spark, [(2, "b")], "id bigint, label string"), root
    )
    restore_delta_table(root, v_rename - 1)
    got = read_delta_snapshot(spark, root)
    assert got.columns == ["id", "val"]  # old logical name is back
    assert _rows(got) == [(1, "a")]


def test_drop_column_roundtrip(spark, tmp_path):
    from mysoftware_nocnetintel_spark.sources.delta import (
        drop_delta_column,
    )

    root = str(tmp_path / "t9")
    write_delta_append(
        spark.createDataFrame(
            [(1, "a", 1.5)], "id bigint, val string, x double"
        ),
        root,
    )
    v = drop_delta_column(root, "x")
    got = read_delta_snapshot(spark, root)
    assert got.columns == ["id", "val"]
    assert _rows(got) == [(1, "a")]
    # time travel pre-drop still shows the column (per-version metaData)
    old = read_delta_snapshot(spark, root, version=v - 1)
    assert old.columns == ["id", "val", "x"]
    assert _rows(old) == [(1, "a", 1.5)]
    # appends use the narrowed schema; re-adding the dropped name is
    # refused by the mapped exact-match gate
    write_delta_append(_mk(spark, [(2, "b")]), root)
    with pytest.raises(ValueError, match="does not match"):
        write_delta_append(
            spark.createDataFrame(
                [(3, "c", 9.9)], "id bigint, val string, x double"
            ),
            root,
        )
    assert _rows(read_delta_snapshot(spark, root)) == [(1, "a"), (2, "b")]
    # CoW verbs under the narrowed schema
    update_delta_rows(spark, root, "id = 1", {"val": "'z'"})
    delete_delta_rows(spark, root, "id = 2")
    assert _rows(read_delta_snapshot(spark, root)) == [(1, "z")]
    # refusals
    with pytest.raises(ValueError, match="does not exist"):
        drop_delta_column(root, "nope")
    drop_delta_column(root, "id")  # two columns left: legal
    with pytest.raises(ValueError, match="last remaining"):
        drop_delta_column(root, "val")
    assert _rows(read_delta_snapshot(spark, root)) == [("z",)]


def test_partition_column_rename_lifecycle(spark, tmp_path):
    """Partition columns rename too (round 7 — the Delta twin of
    Iceberg's partition-source rename): metaData.partitionColumns is
    rewritten to the new LOGICAL name in the same commit while
    add.partitionValues and the Hive directory layout stay keyed by the
    pinned PHYSICAL name, so zero files move; appends under the new
    name land in the old layout, partition_filter takes the new name,
    and every CoW/MoR verb keeps working."""
    import os

    from mysoftware_nocnetintel_spark.sources.delta import (
        optimize_delta_table,
    )

    root = str(tmp_path / "tp")
    write_delta_append(
        spark.createDataFrame(
            [(i, f"v{i}", i % 2) for i in range(6)],
            "id bigint, val string, bucket bigint",
        ),
        root,
        partition_by=("bucket",),
    )
    v_rename = rename_delta_column(root, "bucket", "shard")

    got = read_delta_snapshot(spark, root)
    assert sorted(got.columns) == ["id", "shard", "val"]
    # typed re-attach survives the rename (bigint, not string)
    assert dict(got.dtypes)["shard"] == "bigint"
    assert _rows(got.select("id", "shard")) == [(i, i % 2) for i in range(6)]

    # partition pruning by the NEW logical name
    got = read_delta_snapshot(spark, root, partition_filter={"shard": "0"})
    assert sorted(r.id for r in got.collect()) == [0, 2, 4]
    # the OLD name no longer resolves
    with pytest.raises(ValueError, match="not partition columns"):
        read_delta_snapshot(spark, root, partition_filter={"bucket": "0"})

    # appends must use the new logical name and land in the OLD
    # physical directory layout (physicalName pinned at upgrade)
    write_delta_append(
        spark.createDataFrame(
            [(10, "x", 0)], "id bigint, val string, shard bigint"
        ),
        root,
    )
    assert os.path.isdir(os.path.join(root, "bucket=0"))
    assert not any(d.startswith("shard=") for d in os.listdir(root))
    got = read_delta_snapshot(spark, root, partition_filter={"shard": "0"})
    assert sorted(r.id for r in got.collect()) == [0, 2, 4, 10]

    # CoW verbs reference the renamed partition column logically
    update_delta_rows(spark, root, "shard = 1", {"val": "'upd'"})
    got = read_delta_snapshot(spark, root)
    assert {r.val for r in got.filter("shard = 1").collect()} == {"upd"}
    merge_delta_rows(
        spark,
        root,
        spark.createDataFrame(
            [(0, "merged", 0), (11, "new", 1)],
            "id bigint, val string, shard bigint",
        ),
        on=["id"],
        when_matched="update",
        when_not_matched="insert",
    )
    got = read_delta_snapshot(spark, root)
    assert _rows(got.filter("id in (0, 11)").select("id", "val", "shard")) == [
        (0, "merged", 0),
        (11, "new", 1),
    ]
    optimize_delta_table(spark, root, min_files=2)
    got = read_delta_snapshot(spark, root)
    assert got.count() == 8
    assert sorted(r.id for r in got.filter("shard = 0").collect()) == [
        0,
        2,
        4,
        10,
    ]

    # time travel to the pre-rename version shows the OLD logical name
    old = read_delta_snapshot(spark, root, version=v_rename - 1)
    assert sorted(old.columns) == ["bucket", "id", "val"]
    assert _rows(old.select("id", "bucket")) == [(i, i % 2) for i in range(6)]

    # renaming BACK works and the layout still never moved
    rename_delta_column(root, "shard", "bucket")
    got = read_delta_snapshot(spark, root, partition_filter={"bucket": "1"})
    assert sorted(r.id for r in got.collect()) == [1, 3, 5, 11]


@pytest.mark.parametrize("seed", [11, 37])
def test_random_partitioned_lifecycle_with_partition_renames(
    spark, tmp_path, seed
):
    """Partitioned twin of the rename lifecycle fuzz: random appends /
    MoR deletes / CoW updates / OPTIMIZE with renames of BOTH the value
    column and the PARTITION column interleaved. The model is
    name-independent; every read (full and partition-pruned) must
    reproduce it under the current names."""
    from mysoftware_nocnetintel_spark.sources.delta import (
        optimize_delta_table,
    )

    rng = random.Random(seed)
    root = str(tmp_path / f"dprn{seed}")
    model: dict[int, tuple[str, int]] = {}  # id -> (val, part)
    cur_val, cur_part = "val", "day"
    n_renames = 0
    seq = 0

    ops = ["append"] + [
        rng.choice(
            [
                "append",
                "append",
                "delete",
                "update",
                "optimize",
                "rename_val",
                "rename_part",
            ]
        )
        for _ in range(11)
    ]
    for op in ops:
        if op == "rename_val" and model:
            n_renames += 1
            new = f"val{n_renames}"
            rename_delta_column(root, cur_val, new)
            cur_val = new
        elif op == "rename_part" and model:
            n_renames += 1
            new = f"day{n_renames}"
            rename_delta_column(root, cur_part, new)
            cur_part = new
        elif op == "optimize" and model:
            try:
                optimize_delta_table(spark, root)
            except ValueError:
                pass  # nothing to compact — legal no-op refusal
        elif op == "append" or not model:
            seq += 1
            batch = {
                rng.randrange(8): (chr(97 + seq), rng.randrange(3))
                for _ in range(rng.randint(1, 3))
            }
            write_delta_append(
                spark.createDataFrame(
                    [(k, v, p) for k, (v, p) in batch.items()],
                    f"id bigint, {cur_val} string, {cur_part} bigint",
                ),
                root,
                partition_by=(cur_part,) if seq == 1 else (),
            )
            clash = [k for k in batch if k in model]
            if clash:
                delete_delta_rows(
                    spark,
                    root,
                    f"id in ({','.join(map(str, clash))}) and "
                    f"{cur_val} != '{chr(97 + seq)}'",
                )
            model.update(batch)
        elif op == "delete":
            m = rng.choice([2, 3])
            r = rng.randrange(m)
            if any(k % m == r for k in model):
                delete_delta_rows(spark, root, f"id % {m} = {r}")
                model = {k: v for k, v in model.items() if k % m != r}
        else:  # update
            ks = [k for k in model if k % 2 == 0]
            if ks:
                update_delta_rows(
                    spark, root, "id % 2 = 0", {cur_val: f"'U{seq}'"}
                )
                model = {
                    k: (f"U{seq}", p) if k % 2 == 0 else (v, p)
                    for k, (v, p) in model.items()
                }
        if model:
            got = {
                (r["id"], r[cur_val], r[cur_part])
                for r in read_delta_snapshot(spark, root).collect()
            }
            assert got == {
                (k, v, p) for k, (v, p) in model.items()
            }, f"seed={seed} after {op}"
            # partition-pruned read under the CURRENT partition name
            parts = {p for _v, p in model.values()}
            p0 = sorted(parts)[0]
            pruned = {
                (r["id"], r[cur_part])
                for r in read_delta_snapshot(
                    spark, root, partition_filter={cur_part: str(p0)}
                ).collect()
            }
            assert pruned == {
                (k, p) for k, (_v, p) in model.items() if p == p0
            }, f"seed={seed} pruned after {op}"


def test_mor_delete_by_partition_predicate_across_rename(spark, tmp_path):
    """DELETE predicates can reference partition columns (round 7: the
    delete scan goes through _masked_target, which re-attaches typed
    partition literals under LOGICAL names) — including after the
    partition column was renamed."""
    root = str(tmp_path / "tdp")
    write_delta_append(
        spark.createDataFrame(
            [(i, f"v{i}", i % 3) for i in range(9)],
            "id bigint, val string, part bigint",
        ),
        root,
        partition_by=("part",),
    )
    delete_delta_rows(spark, root, "part = 2")
    got = read_delta_snapshot(spark, root)
    assert sorted(r.id for r in got.collect()) == [0, 1, 3, 4, 6, 7]
    rename_delta_column(root, "part", "zone")
    delete_delta_rows(spark, root, "zone = 1 and id < 4")
    got = read_delta_snapshot(spark, root)
    assert sorted(r.id for r in got.collect()) == [0, 3, 4, 6, 7]
    # deletes stack idempotently on the same (renamed) partition
    delete_delta_rows(spark, root, "zone = 1")
    got = read_delta_snapshot(spark, root)
    assert sorted(r.id for r in got.collect()) == [0, 3, 6]
