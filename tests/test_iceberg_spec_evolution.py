"""Iceberg PARTITION SPEC EVOLUTION (round 7 — spec "Partition
Evolution"): ``update_iceberg_partition_spec`` appends a new spec and
makes it the default; zero data files move. Old files keep their old
spec's partition records (their manifest rows keep the old spec id),
new writes fan out under the new spec, and reads combine both
generations — transform pruning evaluates each file against the fields
its record actually carries, so old data keeps pruning at its old
granularity and new data at the new one until a full rewrite migrates
the layout.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from mysoftware_nocnetintel_spark.sources.iceberg import (
    merge_iceberg_rows,
    rewrite_iceberg_manifests,
    rewrite_iceberg_table,
    update_iceberg_partition_spec,
    write_iceberg_append,
    write_iceberg_position_deletes,
)
from mysoftware_nocnetintel_spark.sources.readers import read_iceberg_snapshot


def _df(spark, rows, schema="id bigint, day string, val string"):
    return spark.createDataFrame(rows, schema)


def _ids(spark, root, **kw):
    return sorted(
        r.id for r in read_iceberg_snapshot(spark, root, **kw).collect()
    )


def _meta(root):
    md = os.path.join(root, "metadata")
    versions = sorted(
        (f for f in os.listdir(md) if f.endswith(".metadata.json")),
        key=lambda p: int(p[1:].split(".")[0]),
    )
    return json.load(open(os.path.join(md, versions[-1])))


def _corrupt(path):
    with open(path, "wb") as fh:
        fh.write(b"garbage")


def test_evolve_unpartitioned_to_partitioned(spark, tmp_path):
    root = str(tmp_path / "t1")
    write_iceberg_append(
        _df(spark, [(i, f"d{i % 2}", "old") for i in range(4)]), root
    )
    spec_id = update_iceberg_partition_spec(root, ("day",))
    assert spec_id == 1
    meta = _meta(root)
    assert meta["default-spec-id"] == 1
    assert meta["partition-specs"][0]["fields"] == []  # implicit spec 0
    write_iceberg_append(
        _df(spark, [(10, "d0", "new"), (11, "d1", "new")]), root
    )
    # both generations read together
    assert _ids(spark, root) == [0, 1, 2, 3, 10, 11]
    # new files carry partition records under the new spec; old files'
    # entries stay record-less (zero files moved)
    data_files, _p, _e, _s = __import__(
        "mysoftware_nocnetintel_spark.sources.readers",
        fromlist=["_iceberg_snapshot_files"],
    )._iceberg_snapshot_files(root)
    recs = sorted(
        (e.partition or {}).get("day", "") for e in data_files
    )
    assert "d0" in recs and "d1" in recs and "" in recs
    # partition_filter: exact on new-spec files, conservative KEEP of
    # pre-evolution files (superset semantics, documented)
    got = _ids(spark, root, partition_filter={"day": "d0"})
    assert got == [0, 1, 2, 3, 10]


def test_evolve_adds_bucket_and_prunes_per_spec(spark, tmp_path):
    root = str(tmp_path / "t2")
    write_iceberg_append(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(0, 50)], "id bigint, val string"
        ).coalesce(1),
        root,
    )
    update_iceberg_partition_spec(root, ("bucket(4, id)",))
    write_iceberg_append(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(100, 150)], "id bigint, val string"
        ),
        root,
    )
    # bucket pruning must drop the non-matching NEW-spec files while
    # KEEPING every old-spec file: corrupt one new-spec file from a
    # bucket that cannot contain id=120 and prove the scan skipped it
    from mysoftware_nocnetintel_spark.sources.iceberg_transforms import (
        bucket_value,
    )

    want = bucket_value(120, "long", 4)
    data_files, _p, _e, _s = __import__(
        "mysoftware_nocnetintel_spark.sources.readers",
        fromlist=["_iceberg_snapshot_files"],
    )._iceberg_snapshot_files(root)
    sacrificial = [
        e.path
        for e in data_files
        if e.partition and e.partition.get("id_bucket") not in (None, want)
    ]
    assert sacrificial, "need at least one prunable new-spec file"
    _corrupt(sacrificial[0])
    got = read_iceberg_snapshot(spark, root, scan_filter=("id", "=", 120))
    assert [r.id for r in got.collect()] == [120]
    # and a value from the OLD generation still reads (old files kept —
    # zone maps may prune them but id=7 is inside the old file's bounds)
    got = read_iceberg_snapshot(spark, root, scan_filter=("id", "=", 7))
    assert [r.id for r in got.collect()] == [7]


def test_field_id_reuse_and_name_collision_refusal(spark, tmp_path):
    root = str(tmp_path / "t3")
    write_iceberg_append(
        _df(spark, [(1, "d0", "x")]), root, partition_by=("day",)
    )
    # evolve away, then back: (source, transform) reuses field-id 1000
    update_iceberg_partition_spec(root, ())
    sid = update_iceberg_partition_spec(root, ("day", "bucket(8, id)"))
    meta = _meta(root)
    fields = meta["partition-specs"][sid]["fields"]
    assert [f["name"] for f in fields] == ["day", "id_bucket"]
    assert fields[0]["field-id"] == 1000  # reused, not re-allocated
    assert fields[1]["field-id"] == 1001
    assert meta["last-partition-id"] == 1001
    # evolving to the CURRENT spec again is a no-op (no new commit)
    before = _meta(root)
    assert update_iceberg_partition_spec(root, ("day", "bucket(8, id)")) == sid
    assert _meta(root) == before
    # a name that collides with a different meaning is refused:
    # "id_bucket" already means bucket[8](id); bucket(4, id) resolves to
    # the same name with a different transform
    with pytest.raises(ValueError, match="different source/transform"):
        update_iceberg_partition_spec(root, ("bucket(4, id)",))
    with pytest.raises(ValueError, match="not in the schema"):
        update_iceberg_partition_spec(root, ("nope",))


def test_verbs_across_evolution(spark, tmp_path):
    """Deletes, merges, and full rewrite compose across an evolution."""
    root = str(tmp_path / "t4")
    write_iceberg_append(
        _df(spark, [(i, f"d{i % 2}", "old") for i in range(6)]), root
    )
    update_iceberg_partition_spec(root, ("day",))
    write_iceberg_append(_df(spark, [(10, "d0", "new")]), root)
    # position delete of an OLD-spec row
    write_iceberg_position_deletes(spark, root, F.col("id") == 0)
    # merge (equality delete + partitioned insert under the NEW spec)
    merge_iceberg_rows(
        spark,
        root,
        _df(spark, [(1, "d1", "up"), (20, "d0", "ins")]),
        on=["id"],
    )
    assert _ids(spark, root) == [1, 2, 3, 4, 5, 10, 20]
    got = {
        (r.id, r.val)
        for r in read_iceberg_snapshot(spark, root).collect()
    }
    assert (1, "up") in got and (20, "ins") in got

    # round 8: consolidation and bin-packing work INCREMENTALLY on the
    # mixed-spec state — per spec group, never merging across specs
    rewrite_iceberg_manifests(root, min_manifests=2)
    assert _ids(spark, root) == [1, 2, 3, 4, 5, 10, 20]
    rewrite_iceberg_table(spark, root, min_files_per_partition=1)
    assert _ids(spark, root) == [1, 2, 3, 4, 5, 10, 20]
    got2 = {
        (r.id, r.val)
        for r in read_iceberg_snapshot(spark, root).collect()
    }
    assert (1, "up") in got2 and (20, "ins") in got2
    # every surviving manifest row is stamped with ITS group's spec;
    # new-spec entries keep day partitions, old-spec entries keep theirs
    from mysoftware_nocnetintel_spark.sources.readers import (
        _iceberg_snapshot_files as _isf,
    )

    mixed_files, _p2, _e2, _s2 = _isf(root)
    assert {e.spec_id for e in mixed_files} == {0, 1}
    for e in mixed_files:
        if e.spec_id == 1:
            assert e.partition and set(e.partition) == {"day"}
        else:
            assert not e.partition  # old-spec records untouched

    # FULL rewrite migrates everything under the current spec ...
    rewrite_iceberg_table(spark, root)
    assert _ids(spark, root) == [1, 2, 3, 4, 5, 10, 20]
    data_files, _p, _e, _s = __import__(
        "mysoftware_nocnetintel_spark.sources.readers",
        fromlist=["_iceberg_snapshot_files"],
    )._iceberg_snapshot_files(root)
    assert all(
        e.partition and set(e.partition) == {"day"} for e in data_files
    )
    # ... after which partition_filter is exact again and consolidation
    # and bin-packing work
    assert _ids(spark, root, partition_filter={"day": "d1"}) == [1, 3, 5]
    write_iceberg_append(_df(spark, [(30, "d1", "z")]), root)
    rewrite_iceberg_manifests(root, min_manifests=2)
    assert _ids(spark, root, partition_filter={"day": "d1"}) == [1, 3, 5, 30]


def test_incremental_binpack_compacts_within_each_spec_group(
    spark, tmp_path
):
    """Round 8 (verdict task 3): after an evolution, bin-packing
    compacts same-spec fragments WITHIN each spec group — old-spec files
    merge with old-spec files, new-spec per-partition fragments merge
    per partition — and never across specs. Pruning proofs per spec
    survive: partition_filter stays exact for new-spec files and a
    correct superset overall; scan_filter zone maps keep working on
    both generations."""
    from mysoftware_nocnetintel_spark.sources.readers import (
        _iceberg_snapshot_files as _isf,
    )

    root = str(tmp_path / "binpack_mixed")
    # four single-file fragments under the unpartitioned spec 0
    for i in range(4):
        write_iceberg_append(
            _df(spark, [(i, f"d{i % 2}", "old")]).coalesce(1), root
        )
    update_iceberg_partition_spec(root, ("day",))
    # four new-spec fragments: two per day partition
    for i in range(4):
        write_iceberg_append(
            _df(spark, [(10 + i, f"d{i % 2}", "new")]).coalesce(1), root
        )
    before, _p, _e, _s = _isf(root)
    assert sum(1 for e in before if e.spec_id == 0) == 4
    assert sum(1 for e in before if e.spec_id != 0) == 4

    rewrite_iceberg_table(spark, root, min_files_per_partition=2)

    after, _p, _e, _s = _isf(root)
    by_spec: dict = {}
    for e in after:
        by_spec.setdefault(e.spec_id, []).append(e)
    # old-spec group: 4 fragments -> 1 packed file, record shape kept
    (old_sid,) = [s for s in by_spec if s == 0]
    assert len(by_spec[old_sid]) == 1
    assert not by_spec[old_sid][0].partition
    # new-spec group: 2 fragments per day -> 1 file per day partition
    (new_sid,) = [s for s in by_spec if s != 0]
    assert len(by_spec[new_sid]) == 2
    assert {
        dict(e.partition)["day"] for e in by_spec[new_sid]
    } == {"d0", "d1"}
    # rows intact
    assert _ids(spark, root) == [0, 1, 2, 3, 10, 11, 12, 13]
    # pruning proofs: partition_filter prunes new-spec files exactly
    # (d1's packed file drops) and conservatively KEEPS the old-spec
    # file, which carries no day record — the documented superset
    # semantics on evolved tables
    assert _ids(spark, root, partition_filter={"day": "d0"}) == [
        0, 1, 2, 3, 10, 12,
    ]
    # zone maps on the compacted files still prune/locate both
    # generations
    assert _ids(spark, root, scan_filter=("id", "=", 2)) == [2]
    assert _ids(spark, root, scan_filter=("id", "=", 13)) == [13]


def test_time_travel_across_evolution(spark, tmp_path):
    root = str(tmp_path / "t5")
    write_iceberg_append(
        _df(spark, [(1, "d0", "a")]), root, partition_by=("day",)
    )
    snap0 = _meta(root)["current-snapshot-id"]
    update_iceberg_partition_spec(root, ("day", "bucket(2, id)"))
    write_iceberg_append(_df(spark, [(2, "d0", "b")]), root)
    # the pre-evolution snapshot still reads through its own manifests
    assert _ids(spark, root, snapshot_id=snap0) == [1]
    assert _ids(spark, root) == [1, 2]


def test_evolution_requires_own_writer(spark, tmp_path):
    root = str(tmp_path / "t6")
    write_iceberg_append(_df(spark, [(1, "d0", "a")]), root)
    meta_dir = os.path.join(root, "metadata")
    versions = sorted(
        (f for f in os.listdir(meta_dir) if f.endswith(".metadata.json")),
        key=lambda p: int(p[1:].split(".")[0]),
    )
    p = os.path.join(meta_dir, versions[-1])
    m = json.load(open(p))
    m["properties"]["writer"] = "someone-else"
    json.dump(m, open(p, "w"))
    with pytest.raises(NotImplementedError, match="another writer"):
        update_iceberg_partition_spec(root, ("day",))


import random


@pytest.mark.parametrize("seed", [13, 29])
def test_random_lifecycle_with_spec_evolutions(spark, tmp_path, seed):
    """Randomized lifecycle with partition evolutions interleaved:
    appends / keyed merges / position deletes / spec evolutions / full
    rewrites against a dict model. Every read (full and scan_filter'd)
    must reproduce the model regardless of which spec each surviving
    file was written under."""
    rng = random.Random(seed)
    root = str(tmp_path / f"sev{seed}")
    model: dict[int, tuple[str, str]] = {}  # id -> (day, val)
    seq = 0
    specs = [(), ("day",), ("bucket(4, id)",), ("day", "bucket(4, id)")]

    def batch(n):
        nonlocal seq
        seq += 1
        return {
            rng.randrange(40): (f"d{rng.randrange(3)}", f"v{seq}")
            for _ in range(n)
        }

    write_iceberg_append(
        _df(spark, [(k, d, v) for k, (d, v) in batch(4).items()]), root
    )
    # (re-derive the model from the first batch — ids may collide)
    model = {
        r.id: (r.day, r.val)
        for r in read_iceberg_snapshot(spark, root).collect()
    }

    for _ in range(10):
        # round 8: INCREMENTAL binpack and manifest consolidation join
        # the op mix — both are per-spec-group now, so they interleave
        # with evolutions instead of refusing mixed-spec states
        op = rng.choice(
            [
                "append",
                "merge",
                "delete",
                "evolve",
                "rewrite",
                "binpack",
                "consolidate",
            ]
        )
        if op == "append":
            b = {k: dv for k, dv in batch(3).items() if k not in model}
            if not b:
                continue
            write_iceberg_append(
                _df(spark, [(k, d, v) for k, (d, v) in b.items()]), root
            )
            model.update(b)
        elif op == "merge":
            b = batch(3)
            merge_iceberg_rows(
                spark,
                root,
                _df(spark, [(k, d, v) for k, (d, v) in b.items()]),
                on=["id"],
            )
            model.update(b)
        elif op == "delete":
            m = rng.choice([3, 5])
            r = rng.randrange(m)
            if any(k % m == r for k in model):
                write_iceberg_position_deletes(
                    spark, root, F.col("id") % m == r
                )
                model = {k: v for k, v in model.items() if k % m != r}
        elif op == "evolve":
            try:
                update_iceberg_partition_spec(root, rng.choice(specs))
            except ValueError:
                pass  # name-reuse refusal on some sequences — legal
        elif op == "binpack":
            rewrite_iceberg_table(spark, root, min_files_per_partition=2)
        elif op == "consolidate":
            rewrite_iceberg_manifests(root, min_manifests=2)
        else:
            rewrite_iceberg_table(spark, root)
        got = {
            r.id: (r.day, r.val)
            for r in read_iceberg_snapshot(spark, root).collect()
        }
        assert got == model, f"seed={seed} after {op}"
        if model:
            probe = rng.choice(sorted(model))
            got_ids = [
                r.id
                for r in read_iceberg_snapshot(
                    spark, root, scan_filter=("id", "=", probe)
                ).collect()
            ]
            assert got_ids == [probe], f"seed={seed} probe after {op}"


def test_metadata_tables_expose_specs(spark, tmp_path):
    from mysoftware_nocnetintel_spark.sources.iceberg import (
        iceberg_files,
        iceberg_partition_specs,
    )

    root = str(tmp_path / "t7")
    write_iceberg_append(_df(spark, [(1, "d0", "a")]), root)
    update_iceberg_partition_spec(root, ("day",))
    write_iceberg_append(_df(spark, [(2, "d1", "b")]), root)

    specs = iceberg_partition_specs(spark, root).collect()
    assert {(r.spec_id, r.is_default) for r in specs} == {
        (0, False),
        (1, True),
    }
    s1 = [r for r in specs if r.spec_id == 1]
    assert [(r.field, r.transform, r.source_column) for r in s1] == [
        ("day", "identity", "day")
    ]

    files = iceberg_files(spark, root).collect()
    by_spec = {r.spec_id for r in files}
    assert by_spec == {0, 1}
    new = [r for r in files if r.spec_id == 1]
    assert all(r.partition and "day" in r.partition for r in new)
