"""Iceberg ADDITIVE schema evolution (spec "Schema Evolution"): an
append carrying the full table schema plus new primitive columns widens
the table — new fields get fresh ids above the prior maximum, files
written before the evolution null-fill the new columns (explicit
expected read schema), zone maps on the new column stay correct, and
drops/retypes still fail fast."""

from __future__ import annotations

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
    return sorted(
        tuple(r) for r in df.collect()
    )


def _evolved(spark, tmp_path, name="ev", second_fmt="parquet"):
    root = str(tmp_path / name)
    write_iceberg_append(
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id bigint, val string"
        ).coalesce(1),
        root,
    )
    write_iceberg_append(
        spark.createDataFrame(
            [(3, "c", 30.0)], "id bigint, val string, score double"
        ).coalesce(1),
        root,
        file_format=second_fmt,
    )
    return root


def test_add_column_null_fills_old_files(spark, tmp_path):
    root = _evolved(spark, tmp_path)
    df = read_iceberg_snapshot(spark, root)
    assert df.columns == ["id", "val", "score"]  # evolved table order
    assert _rows(df) == [(1, "a", None), (2, "b", None), (3, "c", 30.0)]


def test_new_field_ids_above_prior_maximum(spark, tmp_path):
    import json
    import os
    from glob import glob

    root = _evolved(spark, tmp_path, "ev2")
    versions = sorted(glob(os.path.join(root, "metadata", "v*.metadata.json")))
    meta = json.load(open(versions[-1]))
    fields = {f["name"]: f for f in meta["schemas"][0]["fields"]}
    assert fields["score"]["id"] == 3 and not fields["score"]["required"]
    # ids of pre-existing columns unchanged
    assert fields["id"]["id"] == 1 and fields["val"]["id"] == 2


def test_zone_maps_on_added_column(spark, tmp_path):
    root = _evolved(spark, tmp_path, "ev3")
    # old file has no bounds for id 3 → always kept; its null scores
    # fail the row predicate
    got = read_iceberg_snapshot(spark, root, scan_filter=("score", ">=", 10.0))
    assert _rows(got) == [(3, "c", 30.0)]
    data_files, _p, _e, _s = _iceberg_snapshot_files(root)
    with_bounds = [e for e in data_files if "3" in (e.lower or {})]
    assert len(with_bounds) == 1 and with_bounds[0].lower["3"] == 30.0


def test_evolution_on_avro_append_and_compaction(spark, tmp_path):
    root = _evolved(spark, tmp_path, "ev4", second_fmt="avro")
    assert _rows(read_iceberg_snapshot(spark, root)) == [
        (1, "a", None), (2, "b", None), (3, "c", 30.0),
    ]
    rewrite_iceberg_table(spark, root)
    df = read_iceberg_snapshot(spark, root)
    assert _rows(df) == [(1, "a", None), (2, "b", None), (3, "c", 30.0)]
    data_files, _p, _e, _s = _iceberg_snapshot_files(root)
    assert all(e.fmt == "PARQUET" for e in data_files)


def test_equality_deletes_against_evolved_column(spark, tmp_path):
    root = _evolved(spark, tmp_path, "ev5")
    # delete by the NEW column: null-safe equality must kill only the
    # evolved row, never the null-filled old rows
    write_iceberg_equality_deletes(
        spark, root, spark.createDataFrame([(30.0,)], "score double")
    )
    assert _rows(read_iceberg_snapshot(spark, root)) == [
        (1, "a", None), (2, "b", None),
    ]


def test_drops_and_retypes_still_refused(spark, tmp_path):
    root = _evolved(spark, tmp_path, "ev6")
    with pytest.raises(ValueError, match="additive"):
        write_iceberg_append(
            spark.createDataFrame([(9,)], "id bigint"), root
        )  # drops val/score
    with pytest.raises(ValueError, match="additive"):
        write_iceberg_append(
            spark.createDataFrame(
                [(9, 1, 1.0)], "id bigint, val bigint, score double"
            ),
            root,
        )  # retypes val


def test_list_table_additive_append_and_reorder(spark, tmp_path):
    """List-type element-ids are allocation artifacts of the computing
    frame: additive appends and pure column reorders to a list-bearing
    table must NOT be rejected by the schema-compat check (the code-review
    regression: incoming element-ids are numbered after the INCOMING
    top-level count, so raw dict comparison falsely mismatched)."""
    import json as _json
    import os as _os
    from glob import glob as _glob

    root = str(tmp_path / "listevo")
    write_iceberg_append(
        spark.createDataFrame(
            [(1, [1.0, 2.0])], "id bigint, vec array<double>"
        ),
        root,
    )
    # additive append: extra column shifts the incoming element-id
    write_iceberg_append(
        spark.createDataFrame(
            [(2, [3.0], "x")], "id bigint, vec array<double>, tag string"
        ),
        root,
    )
    # reordered append (same columns, different order)
    write_iceberg_append(
        spark.createDataFrame(
            [("y", 3, [4.0])], "tag string, id bigint, vec array<double>"
        ).select("tag", "id", "vec"),
        root,
    )
    got = {
        (r.id, tuple(r.vec), r.tag)
        for r in read_iceberg_snapshot(spark, root).collect()
    }
    assert got == {(1, (1.0, 2.0), None), (2, (3.0,), "x"), (3, (4.0,), "y")}
    # ids stay unique across the evolved schema, including element-ids
    metas = sorted(_glob(_os.path.join(root, "metadata", "v*.metadata.json")))
    with open(metas[-1]) as fh:
        fields = _json.load(fh)["schemas"][0]["fields"]
    ids = []
    for f in fields:
        ids.append(f["id"])
        if isinstance(f["type"], dict):
            ids.append(f["type"]["element-id"])
    assert len(ids) == len(set(ids)), ids


def test_partition_by_list_column_fails_cleanly(spark, tmp_path):
    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="complex-typed column"):
        write_iceberg_append(
            spark.createDataFrame(
                [(1, ["a"])], "id bigint, tags array<string>"
            ),
            str(tmp_path / "listpart"),
            partition_by=("tags",),
        )
