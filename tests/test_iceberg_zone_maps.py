"""Iceberg column bounds (zone maps) + scan_filter file skipping.

Bounds are written from parquet row-group statistics into the manifest
entries; the reader skips files whose [min, max] provably excludes the
predicate and still applies the row-level filter to the survivors (kept
files are a superset). Zero-I/O proof: the excluded file is corrupted."""

from __future__ import annotations

import pytest

from mysoftware_nocnetintel_spark.sources.iceberg import (
    rewrite_iceberg_table,
    write_iceberg_append,
    write_iceberg_position_deletes,
)
from mysoftware_nocnetintel_spark.sources.readers import (
    _iceberg_snapshot_files,
    read_iceberg_snapshot,
)


def _ids(df):
    return {r.id for r in df.collect()}


def _make(spark, tmp_path, name="zm"):
    """Three appends = three files with disjoint value ranges."""
    root = str(tmp_path / name)
    for lo in (0, 100, 200):
        write_iceberg_append(
            spark.createDataFrame(
                [(lo + i, float(lo + i), "x") for i in range(5)],
                "id bigint, v double, s string",
            ).coalesce(1),
            root,
        )
    return root


def test_bounds_written_and_skipping(spark, tmp_path):
    root = _make(spark, tmp_path)
    data_files, _p, _e, _s = _iceberg_snapshot_files(root)
    assert len(data_files) == 3
    for e in data_files:
        assert e.lower and e.upper
        # field 1 = id (long), field 2 = v (double); strings get no bounds
        assert set(e.lower) == {"1", "2"}
    # predicate excludes the first two files
    got = read_iceberg_snapshot(spark, root, scan_filter=("id", ">=", 200))
    assert _ids(got) == {200, 201, 202, 203, 204}
    # row-level filter still applies within a kept file
    got = read_iceberg_snapshot(spark, root, scan_filter=("id", ">", 202))
    assert _ids(got) == {203, 204}
    # zero-I/O proof: corrupt the low file; high-range reads still work
    low_file = min(data_files, key=lambda e: e.lower["1"]).path
    with open(low_file, "wb") as fh:
        fh.write(b"GARBAGE")
    assert _ids(
        read_iceberg_snapshot(spark, root, scan_filter=("v", ">=", 100.0))
    ) == set(range(100, 105)) | set(range(200, 205))
    with pytest.raises(Exception):
        read_iceberg_snapshot(spark, root).collect()


def test_empty_match_returns_empty_not_error(spark, tmp_path):
    root = _make(spark, tmp_path, "zm2")
    df = read_iceberg_snapshot(spark, root, scan_filter=("id", ">", 10_000))
    assert df.count() == 0
    assert set(df.columns) == {"id", "v", "s"}


def test_scan_filter_validation(spark, tmp_path):
    root = _make(spark, tmp_path, "zm3")
    with pytest.raises(ValueError, match="op must be"):
        read_iceberg_snapshot(spark, root, scan_filter=("id", "!=", 1))
    with pytest.raises(ValueError, match="not in the table"):
        read_iceberg_snapshot(spark, root, scan_filter=("nope", ">=", 1))


def test_bounds_survive_rewrite_and_deletes(spark, tmp_path):
    root = _make(spark, tmp_path, "zm4")
    write_iceberg_position_deletes(
        spark, root, __import__("pyspark.sql.functions", fromlist=["col"]).col("id") == 100
    )
    sid = rewrite_iceberg_table(spark, root)
    assert sid
    data_files, _p, _e, _s = _iceberg_snapshot_files(root)
    assert all(e.lower and e.upper for e in data_files)
    got = read_iceberg_snapshot(spark, root, scan_filter=("id", "<=", 101))
    assert _ids(got) == {0, 1, 2, 3, 4, 101}


import random


@pytest.mark.parametrize("seed", [7, 41])
def test_zone_map_randomized_differential(spark, tmp_path, seed):
    """Randomized ranges + predicates: file skipping must NEVER drop a
    matching row — scan_filter results must equal a full scan with the
    same row predicate, for every operator, including boundary values."""
    rng = random.Random(seed)
    root = str(tmp_path / f"zmf{seed}")
    all_rows = []
    for _ in range(5):
        lo = rng.randrange(0, 900)
        n = rng.randint(1, 8)
        rows = [(lo + i * rng.randint(1, 3), float(rng.randrange(100))) for i in range(n)]
        all_rows.extend(rows)
        write_iceberg_append(
            spark.createDataFrame(rows, "id bigint, v double").coalesce(1),
            root,
        )
    ops = {
        ">=": lambda a, b: a >= b,
        ">": lambda a, b: a > b,
        "<=": lambda a, b: a <= b,
        "<": lambda a, b: a < b,
        "=": lambda a, b: a == b,
    }
    ids = sorted({r[0] for r in all_rows})
    for _ in range(8):
        op = rng.choice(list(ops))
        # half the probes land exactly ON a boundary value
        val = rng.choice(ids) if rng.random() < 0.5 else rng.randrange(0, 1000)
        got = {
            (r.id, r.v)
            for r in read_iceberg_snapshot(
                spark, root, scan_filter=("id", op, val)
            ).collect()
        }
        want = {(i, v) for i, v in all_rows if ops[op](i, val)}
        assert got == want, f"seed={seed} id {op} {val}"


def test_reordered_append_keeps_bounds_and_order_honest(spark, tmp_path):
    """An append whose columns arrive in a DIFFERENT order than the table
    schema (legal: the compatibility check is order-insensitive) must
    still record bounds under the TABLE's field ids with the right
    binary types, and the scan schema must stay in table order.
    Regression: bounds were keyed by the incoming order — a double
    column's bits were recorded as a long under the wrong id, and
    scan_filter pruned files containing matching rows."""
    root = str(tmp_path / "zmreorder")
    write_iceberg_append(
        spark.createDataFrame([(1, 100.0)], "a bigint, b double").coalesce(1),
        root,
    )
    write_iceberg_append(
        spark.createDataFrame([(900.0, 9)], "b double, a bigint").coalesce(1),
        root,
    )
    data_files, _p, _e, _s = _iceberg_snapshot_files(root)
    by_min_a = {e.lower["1"]: e for e in data_files}
    assert set(by_min_a) == {1, 9}  # field 1 = a (table order), typed long
    assert by_min_a[9].lower["2"] == 900.0  # field 2 = b, typed double
    got = read_iceberg_snapshot(spark, root, scan_filter=("a", "=", 9))
    assert [tuple(r) for r in got.collect()] == [(9, 900.0)]  # table order
    got = read_iceberg_snapshot(spark, root, scan_filter=("b", "<", 500.0))
    assert [tuple(r) for r in got.collect()] == [(1, 100.0)]


def test_nan_stats_never_poison_bounds(spark, tmp_path):
    """Spark/parquet-mr min-max statistics INCLUDE NaN for float/double
    columns (a [NaN, 3.5] file reports max=NaN); every comparison against
    a NaN bound is False, so recording it verbatim would prune files that
    DO contain matching rows. NaN-stat columns must get NO bounds, and
    the scan must return exactly what Spark's own row filter returns —
    including NaN rows, which Spark orders GREATER than any double."""
    root = str(tmp_path / "zmnan")
    write_iceberg_append(
        spark.createDataFrame(
            [(1, float("nan")), (2, 3.5)], "id bigint, v double"
        ).coalesce(1),
        root,
    )
    data_files, _p, _e, _s = _iceberg_snapshot_files(root)
    (entry,) = data_files
    # id (field 1) keeps bounds; v (field 2, NaN-poisoned stats) must not
    assert "1" in (entry.lower or {})
    assert "2" not in (entry.lower or {}) and "2" not in (entry.upper or {})
    got = read_iceberg_snapshot(spark, root, scan_filter=("v", "=", 3.5))
    assert {r.id for r in got.collect()} == {2}
    # Spark sorts/compares NaN as larger than any non-NaN double, so a
    # '>' predicate must surface the NaN row, not skip its file
    got = read_iceberg_snapshot(spark, root, scan_filter=("v", ">", 100.0))
    assert {r.id for r in got.collect()} == {1}


def test_bound_values_are_spec_binary_serialization():
    """Bounds in the manifests use the Iceberg table spec's binary
    single-value serialization (Appendix D) — byte-PINNED here so a
    third-party reader's decoder agrees: little-endian fixed-width
    numerics, 1-byte booleans, UTF-8 strings, date = LE int32 days from
    epoch."""
    import datetime
    import struct

    from mysoftware_nocnetintel_spark.sources.iceberg import (
        decode_bound_value,
        encode_bound_value,
    )

    pinned = [
        ("int", 7, struct.pack("<i", 7)),
        ("int", -1, b"\xff\xff\xff\xff"),
        ("long", 2**40, struct.pack("<q", 2**40)),
        ("double", 3.5, struct.pack("<d", 3.5)),
        ("float", 1.5, struct.pack("<f", 1.5)),
        ("boolean", True, b"\x01"),
        ("boolean", False, b"\x00"),
        ("string", "ASIA", b"ASIA"),
        # 2024-03-01 = 19783 days from 1970-01-01
        ("date", "2024-03-01", struct.pack("<i", 19783)),
    ]
    for t, v, want in pinned:
        got = encode_bound_value(t, v)
        assert got == want, (t, v, got.hex(), want.hex())
        back = decode_bound_value(t, got)
        if t == "float" or t == "double":
            assert back == v
        else:
            assert back == v or str(back) == str(v)
    # date given as datetime.date encodes identically
    assert encode_bound_value(
        "date", datetime.date(2024, 3, 1)
    ) == struct.pack("<i", 19783)


def test_manifest_bound_bytes_on_disk(spark, tmp_path):
    """The raw manifest Avro rows carry bytes (not typed Avro values):
    prove it by decoding a manifest directly."""
    from glob import glob

    from mysoftware_nocnetintel_spark.sources.avro_lite import (
        read_avro_file,
    )

    root = str(tmp_path / "zmspec")
    write_iceberg_append(
        spark.createDataFrame(
            [(5, 2.5, "x")], "id bigint, v double, s string"
        ).coalesce(1),
        root,
    )
    (manifest,) = glob(f"{root}/metadata/m-*.avro")
    _, entries = read_avro_file(manifest)
    (entry,) = entries
    lo = entries[0]["data_file"]["lower_bounds"]
    import struct

    assert lo["1"] == struct.pack("<q", 5)      # id: long LE
    assert lo["2"] == struct.pack("<d", 2.5)    # v: double LE
