"""Iceberg AVRO data files: row-oriented fast-appends + mixed-format
reads + compaction back to parquet.

The spec allows avro data files precisely for small frequent commits (a
columnar footer per micro-batch is the overhead); Spark ships no avro
reader without the external spark-avro jar, so the scan decodes through
avro_lite INSIDE the executors (mapInPandas over the file list). Deletes
must compose across formats because both scans emit the same (__fp,
__pos) coordinates; rewrite/bin-pack must CONVERT avro files to parquet.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mysoftware_nocnetintel_spark.sources.iceberg import (
    rewrite_iceberg_table,
    write_iceberg_append,
    write_iceberg_equality_deletes,
    write_iceberg_position_deletes,
)
from mysoftware_nocnetintel_spark.sources.readers import (
    _iceberg_snapshot_files,
    read_iceberg_snapshot,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mixed(spark, tmp_path, name="av"):
    root = str(tmp_path / name)
    write_iceberg_append(
        spark.createDataFrame(
            [(1, "a", 1.5), (2, "b", 2.0)], "id bigint, s string, v double"
        ).coalesce(1),
        root,
    )
    write_iceberg_append(
        spark.createDataFrame(
            [(3, "c", 2.5), (4, None, 3.5)], "id bigint, s string, v double"
        ).coalesce(1),
        root,
        file_format="avro",
    )
    return root


def test_avro_append_roundtrip_and_mixed_read(spark, tmp_path):
    root = _mixed(spark, tmp_path)
    data_files, _p, _e, _s = _iceberg_snapshot_files(root)
    assert sorted(e.fmt for e in data_files) == ["AVRO", "PARQUET"]
    assert _rows(read_iceberg_snapshot(spark, root)) == [
        (1, "a", 1.5), (2, "b", 2.0), (3, "c", 2.5), (4, None, 3.5),
    ]


def test_avro_only_table(spark, tmp_path):
    root = str(tmp_path / "avonly")
    for batch in ([(1, 10.0)], [(2, 20.0)], [(3, None)]):
        write_iceberg_append(
            spark.createDataFrame(batch, "id bigint, v double").coalesce(1),
            root,
            file_format="avro",
        )
    assert _rows(read_iceberg_snapshot(spark, root)) == [
        (1, 10.0), (2, 20.0), (3, None),
    ]


def test_position_deletes_hit_avro_rows(spark, tmp_path):
    root = _mixed(spark, tmp_path, "avpd")
    # id=3 lives in the avro file; id=1 in the parquet file
    write_iceberg_position_deletes(
        spark, root, F.col("id").isin(1, 3)
    )
    assert _rows(read_iceberg_snapshot(spark, root)) == [
        (2, "b", 2.0), (4, None, 3.5),
    ]


def test_equality_deletes_hit_avro_rows(spark, tmp_path):
    root = _mixed(spark, tmp_path, "aveq")
    write_iceberg_equality_deletes(
        spark, root, spark.createDataFrame([(4,)], "id bigint")
    )
    assert _rows(read_iceberg_snapshot(spark, root)) == [
        (1, "a", 1.5), (2, "b", 2.0), (3, "c", 2.5),
    ]
    # re-insert AFTER the delete: the sequence-number scope must keep it
    write_iceberg_append(
        spark.createDataFrame(
            [(4, "back", 9.0)], "id bigint, s string, v double"
        ).coalesce(1),
        root,
        file_format="avro",
    )
    assert (4, "back", 9.0) in _rows(read_iceberg_snapshot(spark, root))


def test_scan_filter_keeps_boundless_avro_files(spark, tmp_path):
    """Avro entries carry no column bounds, so zone maps must always KEEP
    them (skipping is an optimization, never correctness) while the row
    filter still applies."""
    root = _mixed(spark, tmp_path, "avzm")
    got = read_iceberg_snapshot(spark, root, scan_filter=("id", ">=", 3))
    assert _rows(got) == [(3, "c", 2.5), (4, None, 3.5)]
    got = read_iceberg_snapshot(spark, root, scan_filter=("id", "<", 2))
    assert _rows(got) == [(1, "a", 1.5)]


def test_full_rewrite_converts_avro_to_parquet(spark, tmp_path):
    root = _mixed(spark, tmp_path, "avrw")
    before = _rows(read_iceberg_snapshot(spark, root))
    rewrite_iceberg_table(spark, root)
    data_files, _p, _e, _s = _iceberg_snapshot_files(root)
    assert all(e.fmt == "PARQUET" for e in data_files)
    assert _rows(read_iceberg_snapshot(spark, root)) == before
    # converted files regain column bounds → zone maps work again
    assert all(e.lower and e.upper for e in data_files)


def test_binpack_always_packs_avro(spark, tmp_path):
    """Incremental bin-packing converts row-format fast-append files even
    when their partition is below the fragmentation threshold; untouched
    parquet files are carried verbatim."""
    root = _mixed(spark, tmp_path, "avbp")
    data_files, _p, _e, _s = _iceberg_snapshot_files(root)
    kept_path = next(e.path for e in data_files if e.fmt == "PARQUET")
    before = _rows(read_iceberg_snapshot(spark, root))
    rewrite_iceberg_table(spark, root, min_files_per_partition=99)
    after, _p, _e, _s = _iceberg_snapshot_files(root)
    assert all(e.fmt == "PARQUET" for e in after)
    assert kept_path in {e.path for e in after}  # parquet carried verbatim
    assert _rows(read_iceberg_snapshot(spark, root)) == before


def test_avro_append_fail_fasts(spark, tmp_path):
    root = str(tmp_path / "avff")
    # non-primitive column type
    with pytest.raises(NotImplementedError, match="primitive"):
        write_iceberg_append(
            spark.createDataFrame(
                [([1, 2],)], "arr array<bigint>"
            ),
            root,
            file_format="avro",
        )
    with pytest.raises(ValueError, match="file_format"):
        write_iceberg_append(
            spark.createDataFrame([(1,)], "id bigint"), root,
            file_format="orc",
        )


def test_time_travel_across_formats(spark, tmp_path):
    root = _mixed(spark, tmp_path, "avtt")
    _d, _p, _e, snap = _iceberg_snapshot_files(root)
    rewrite_iceberg_table(spark, root)
    old = read_iceberg_snapshot(
        spark, root, snapshot_id=snap["snapshot-id"]
    )
    assert len(_rows(old)) == 4


def test_partitioned_avro_append_prunes_and_reads(spark, tmp_path):
    """Partitioned AVRO fast-appends (round 6, was a documented refusal):
    one avro file per partition tuple, typed partition record in the
    manifest — partition_filter pruning identical to the parquet path."""
    root = str(tmp_path / "avpart")
    write_iceberg_append(
        spark.createDataFrame(
            [(i, f"d{i % 3}", float(i)) for i in range(12)],
            "id bigint, day string, v double",
        ),
        root,
        partition_by=("day",),
        file_format="avro",
    )
    data_files, _p, _e, _s = _iceberg_snapshot_files(root)
    assert all(e.fmt == "AVRO" for e in data_files)
    assert {e.partition["day"] for e in data_files} == {"d0", "d1", "d2"}
    got = read_iceberg_snapshot(
        spark, root, partition_filter={"day": "d1"}
    )
    assert sorted(r.id for r in got.collect()) == [1, 4, 7, 10]
    # manifest-side pruning is real: corrupt every non-d1 file
    for e in data_files:
        if e.partition["day"] != "d1":
            with open(e.path, "wb") as fh:
                fh.write(b"garbage")
    got = read_iceberg_snapshot(
        spark, root, partition_filter={"day": "d1"}
    )
    assert sorted(r.id for r in got.collect()) == [1, 4, 7, 10]


def test_partitioned_avro_inherits_spec_and_transforms(spark, tmp_path):
    """Later avro appends inherit the spec; bucket/truncate transform
    partition values are recorded typed (int), like the parquet path."""
    root = str(tmp_path / "avpart2")
    write_iceberg_append(
        spark.createDataFrame(
            [(i, f"u{i}") for i in range(8)], "id bigint, val string"
        ),
        root,
        partition_by=("bucket(4, id)",),
        file_format="avro",
    )
    write_iceberg_append(
        spark.createDataFrame([(100, "x")], "id bigint, val string"),
        root,
        file_format="avro",
    )
    data_files, _p, _e, _s = _iceberg_snapshot_files(root)
    assert all(isinstance(e.partition["id_bucket"], int) for e in data_files)
    got = read_iceberg_snapshot(spark, root)
    assert sorted(r.id for r in got.collect()) == list(range(8)) + [100]
    # bucket pruning routes through the transform on the SOURCE column
    got = read_iceberg_snapshot(spark, root, scan_filter=("id", "=", 100))
    assert sorted(r.id for r in got.collect()) == [100]


def test_partitioned_avro_mixed_with_parquet_and_deletes(spark, tmp_path):
    """Avro fast-appends and parquet appends interleave on one
    partitioned table; position deletes mask across both formats."""
    root = str(tmp_path / "avpart3")
    write_iceberg_append(
        spark.createDataFrame(
            [(i, f"d{i % 2}") for i in range(6)], "id bigint, day string"
        ),
        root,
        partition_by=("day",),
    )
    write_iceberg_append(
        spark.createDataFrame(
            [(i, f"d{i % 2}") for i in range(6, 12)], "id bigint, day string"
        ),
        root,
        file_format="avro",
    )
    write_iceberg_position_deletes(spark, root, F.col("id").isin(2, 7))
    got = read_iceberg_snapshot(spark, root)
    assert sorted(r.id for r in got.collect()) == [
        i for i in range(12) if i not in (2, 7)
    ]
    got = read_iceberg_snapshot(spark, root, partition_filter={"day": "d1"})
    assert sorted(r.id for r in got.collect()) == [
        i for i in range(12) if i % 2 == 1 and i != 7
    ]


def test_partitioned_avro_compaction_to_parquet(spark, tmp_path):
    """rewrite_iceberg_table converts partitioned avro fast-appends to
    parquet, preserving partition records (pruning still works)."""
    root = str(tmp_path / "avpart4")
    for lo in (0, 6):
        write_iceberg_append(
            spark.createDataFrame(
                [(i, f"d{i % 2}") for i in range(lo, lo + 6)],
                "id bigint, day string",
            ),
            root,
            partition_by=("day",) if lo == 0 else (),
            file_format="avro",
        )
    rewrite_iceberg_table(spark, root)
    data_files, _p, _e, _s = _iceberg_snapshot_files(root)
    assert all(e.fmt == "PARQUET" for e in data_files)
    assert {e.partition["day"] for e in data_files} == {"d0", "d1"}
    got = read_iceberg_snapshot(spark, root, partition_filter={"day": "d0"})
    assert sorted(r.id for r in got.collect()) == [
        i for i in range(12) if i % 2 == 0
    ]


def test_partitioned_avro_merge(spark, tmp_path):
    """merge_iceberg_rows(file_format='avro') on a PARTITIONED table:
    inserted/updated row images land as partitioned avro fast-appends
    with partition records; the equality-delete side stays global."""
    from mysoftware_nocnetintel_spark.sources.iceberg import (
        merge_iceberg_rows,
    )

    root = str(tmp_path / "avmerge")
    write_iceberg_append(
        spark.createDataFrame(
            [(i, f"d{i % 2}", "old") for i in range(6)],
            "id bigint, day string, val string",
        ),
        root,
        partition_by=("day",),
    )
    merge_iceberg_rows(
        spark,
        root,
        spark.createDataFrame(
            [(2, "d0", "new"), (100, "d0", "ins")],
            "id bigint, day string, val string",
        ),
        on=["id"],
        file_format="avro",
    )
    got = read_iceberg_snapshot(spark, root)
    assert _rows(got) == sorted(
        [(i, f"d{i % 2}", "old") for i in range(6) if i != 2]
        + [(2, "d0", "new"), (100, "d0", "ins")]
    )
    data_files, _p, _e, _s = _iceberg_snapshot_files(root)
    av = [e for e in data_files if e.fmt == "AVRO"]
    assert av and all(e.partition["day"] == "d0" for e in av)
    # partition pruning still correct across the mixed formats
    got = read_iceberg_snapshot(spark, root, partition_filter={"day": "d1"})
    assert sorted(r.id for r in got.collect()) == [1, 3, 5]
