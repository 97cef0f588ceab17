"""Operational inspection surfaces: delta_history (DESCRIBE HISTORY) and
iceberg_snapshots (the connector's snapshots metadata table). Driver-side
KB-scale metadata walks returning bounded DataFrames."""

from __future__ import annotations

from pyspark.sql import functions as F

from mysoftware_nocnetintel_spark.sources.delta import (
    delete_delta_rows,
    delta_history,
    write_delta_append,
    write_delta_overwrite,
)
from mysoftware_nocnetintel_spark.sources.iceberg import (
    iceberg_snapshots,
    rewrite_iceberg_table,
    write_iceberg_append,
    write_iceberg_equality_deletes,
)


def _b(spark, *ids):
    return spark.createDataFrame([(i,) for i in ids], "id bigint").coalesce(1)


def test_delta_history(spark, tmp_path):
    root = str(tmp_path / "dh")
    write_delta_append(_b(spark, 1, 2), root)
    write_delta_append(_b(spark, 3), root, txn=("appX", 7))
    write_delta_overwrite(_b(spark, 9), root)
    delete_delta_rows(spark, root, "id = 9")
    h = {r.version: r for r in delta_history(spark, root).collect()}
    assert sorted(h) == [0, 1, 2, 3]
    assert h[0].operation == "CREATE TABLE AS APPEND"
    assert h[1].operation == "APPEND"
    assert (h[1].txn_app_id, h[1].txn_version) == ("appX", 7)
    assert h[2].operation == "OVERWRITE"
    assert h[2].n_removed_files >= 2  # tombstones for both prior adds
    assert "DELETE" in h[3].operation
    assert h[0].txn_app_id is None


def test_iceberg_snapshots(spark, tmp_path):
    root = str(tmp_path / "is")
    write_iceberg_append(_b(spark, 1, 2), root)
    write_iceberg_append(_b(spark, 3), root, file_format="avro")
    write_iceberg_equality_deletes(spark, root, _b(spark, 2))
    rewrite_iceberg_table(spark, root)
    snaps = iceberg_snapshots(spark, root).orderBy("sequence_number").collect()
    assert [s.operation for s in snaps] == [
        "append", "append", "delete", "replace",
    ]
    assert [s.n_data_files for s in snaps] == [1, 2, 2, snaps[3].n_data_files]
    assert snaps[1].n_records == 3
    assert snaps[2].n_delete_files == 1
    # REPLACE folds deletes away and re-counts live records
    assert snaps[3].n_delete_files == 0
    assert snaps[3].n_records == 2  # ids {1, 3}
    assert [s.is_current for s in snaps] == [False, False, False, True]
    # sequence numbers strictly increase
    seqs = [s.sequence_number for s in snaps]
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)
    # ancestry chain surfaces: each later snapshot names its parent
    assert snaps[1].parent_snapshot_id == snaps[0].snapshot_id
    # txn markers surface for idempotent commits
    from mysoftware_nocnetintel_spark.sources.iceberg import (
        merge_iceberg_rows,
    )

    merge_iceberg_rows(spark, root, _b(spark, 9), ["id"], txn=("app", 4))
    last = (
        iceberg_snapshots(spark, root)
        .orderBy("sequence_number", ascending=False)
        .first()
    )
    assert (last.txn_app, last.txn_version) == ("app", 4)


def test_iceberg_files_and_partitions_tables(spark, tmp_path):
    import json as _json

    from mysoftware_nocnetintel_spark.sources.iceberg import (
        iceberg_files,
        iceberg_partitions,
        write_iceberg_append,
    )

    root = str(tmp_path / "ftab")
    write_iceberg_append(
        spark.createDataFrame(
            [(i, f"d{i % 2}") for i in range(20)], "id bigint, day string"
        ),
        root,
        partition_by=("day",),
    )
    write_iceberg_append(
        spark.createDataFrame([(99, "d0")], "id bigint, day string"), root
    )
    f = iceberg_files(spark, root).collect()
    assert all(r.file_format == "PARQUET" for r in f)
    assert all(r.file_size_bytes > 0 for r in f)
    parts = {_json.loads(r.partition)["day"] for r in f}
    assert parts == {"d0", "d1"}
    p = {r.partition: r for r in iceberg_partitions(spark, root).collect()}
    d0 = p[_json.dumps({"day": "d0"})]
    assert d0.n_files >= 2  # two appends touched d0 → fragmentation visible
    assert d0.total_bytes == sum(
        r.file_size_bytes
        for r in f
        if _json.loads(r.partition)["day"] == "d0"
    )
    # time travel: the first snapshot has no d0 fragment from append 2
    from mysoftware_nocnetintel_spark.sources.iceberg import (
        iceberg_snapshots,
    )

    first = min(
        r.snapshot_id
        for r in iceberg_snapshots(spark, root).collect()
    )
    f1 = iceberg_files(spark, root, snapshot_id=first).collect()
    assert len(f1) < len(f)
