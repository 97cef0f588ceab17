"""Delta ADDITIVE schema evolution: an append covering the table schema
plus new columns widens schemaString in the same atomic commit; the
reader scans with the declared schema so pre-evolution files null-fill
the new columns. Drops/retypes refused; column-mapped tables keep the
exact-match requirement."""

from __future__ import annotations

import pytest

from mysoftware_nocnetintel_spark.sources.delta import (
    write_delta_append,
    write_delta_overwrite,
)
from mysoftware_nocnetintel_spark.sources.readers import read_delta_snapshot


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _evolved(spark, tmp_path, name="de"):
    root = str(tmp_path / name)
    write_delta_append(
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id bigint, val string"
        ).coalesce(1),
        root,
    )
    write_delta_append(
        spark.createDataFrame(
            [(3, "c", 30.0)], "id bigint, val string, score double"
        ).coalesce(1),
        root,
    )
    return root


def test_add_column_null_fills_old_files(spark, tmp_path):
    root = _evolved(spark, tmp_path)
    df = read_delta_snapshot(spark, root)
    assert df.columns == ["id", "val", "score"]
    assert _rows(df) == [(1, "a", None), (2, "b", None), (3, "c", 30.0)]
    # time travel BEFORE the evolution reads the narrow schema
    old = read_delta_snapshot(spark, root, version=0)
    assert old.columns == ["id", "val"]
    assert _rows(old) == [(1, "a"), (2, "b")]


def test_evolution_then_overwrite_keeps_wide_schema(spark, tmp_path):
    root = _evolved(spark, tmp_path, "de2")
    write_delta_overwrite(
        spark.createDataFrame(
            [(9, "z", 90.0)], "id bigint, val string, score double"
        ).coalesce(1),
        root,
    )
    assert _rows(read_delta_snapshot(spark, root)) == [(9, "z", 90.0)]


def test_partitioned_evolution(spark, tmp_path):
    root = str(tmp_path / "de3")
    write_delta_append(
        spark.createDataFrame(
            [("d1", 1), ("d2", 2)], "day string, id bigint"
        ).coalesce(1),
        root,
        partition_by=("day",),
    )
    write_delta_append(
        spark.createDataFrame(
            [("d1", 3, "x")], "day string, id bigint, note string"
        ).coalesce(1),
        root,
    )
    df = read_delta_snapshot(spark, root, partition_filter={"day": "d1"})
    assert {(r.id, r.note) for r in df.collect()} == {(1, None), (3, "x")}


def test_drops_and_retypes_refused(spark, tmp_path):
    root = _evolved(spark, tmp_path, "de4")
    with pytest.raises(ValueError, match="does not cover"):
        write_delta_append(spark.createDataFrame([(9,)], "id bigint"), root)
    with pytest.raises(ValueError, match="does not cover"):
        write_delta_append(
            spark.createDataFrame(
                [(9, 1, 1.0)], "id bigint, val bigint, score double"
            ),
            root,
        )


def test_txn_plus_evolution_commit_atomically(spark, tmp_path):
    import json
    import os
    from glob import glob

    root = str(tmp_path / "de5")
    write_delta_append(
        spark.createDataFrame([(1,)], "id bigint"), root, txn=("app", 0)
    )
    write_delta_append(
        spark.createDataFrame([(2, "x")], "id bigint, extra string"),
        root,
        txn=("app", 1),
    )
    commit = sorted(glob(os.path.join(root, "_delta_log", "*.json")))[-1]
    acts = [json.loads(l) for l in open(commit) if l.strip()]
    kinds = [next(iter(a)) for a in acts]
    assert "txn" in kinds and "metaData" in kinds and "add" in kinds
    assert _rows(read_delta_snapshot(spark, root)) == [(1, None), (2, "x")]
