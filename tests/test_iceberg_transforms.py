"""Iceberg bucket[N] / truncate[W] partition transforms.

Spec fidelity is byte-pinned against the PUBLISHED hash vectors from the
Iceberg table spec (Appendix B): bucket writers that disagree with
iceberg-java's murmur3 would scatter rows into the wrong buckets and
make every downstream reader's bucket pruning silently wrong.

Pruning proofs use the corrupt-excluded-file pattern shared with the
identity-partition and Delta tests: after the commit, files outside the
predicate's bucket/range are overwritten with garbage — a pruned read
that skips them succeeds, proving zero I/O on the excluded partitions.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from mysoftware_nocnetintel_spark.sources.iceberg import (
    rewrite_iceberg_table,
    write_iceberg_append,
)
from mysoftware_nocnetintel_spark.sources.iceberg_transforms import (
    PartField,
    bucket_hash,
    bucket_value,
    murmur3_32,
    parse_partition_by,
    resolve_part_field,
    transform_column,
    truncate_value,
)
from mysoftware_nocnetintel_spark.sources.readers import (
    _iceberg_snapshot_files,
    read_iceberg_snapshot,
)


# ---------------------------------------------------------------- unit


def test_spec_hash_vectors():
    # Iceberg table spec Appendix B published examples
    assert bucket_hash(34, "int") == 2017239379
    assert bucket_hash(34, "long") == 2017239379          # int ≡ long
    assert bucket_hash("iceberg", "string") == 1210000089
    assert bucket_hash(17486, "int") == -653330422        # date 2017-11-16
    # murmur3_x86_32 reference vector (empty input, seed 0)
    assert murmur3_32(b"") == 0


def test_bucket_and_truncate_semantics():
    assert bucket_value(None, "long", 16) is None
    assert 0 <= bucket_value(34, "long", 16) < 16
    # spec example: truncate(-1, W=10) floors toward -inf
    assert truncate_value(-1, "int", 10) == -10
    assert truncate_value(9, "long", 10) == 0
    assert truncate_value(10, "long", 10) == 10
    assert truncate_value("iceberg", "string", 3) == "ice"
    assert truncate_value(None, "string", 3) is None
    with pytest.raises(NotImplementedError):
        bucket_hash(1.5, "double")


def test_parse_partition_by():
    assert parse_partition_by("day") == ("identity", "day", None)
    assert parse_partition_by("bucket(16, user_id)") == (
        "bucket", "user_id", 16,
    )
    assert parse_partition_by("truncate(4, code)") == (
        "truncate", "code", 4,
    )
    for bad in ("bucket(user_id)", "bucket(0, x)", "mod(3, x)"):
        with pytest.raises(ValueError):
            parse_partition_by(bad)


def test_spark_bucket_udf_matches_reference(spark):
    """The numpy-vectorized write-side hash must equal the pure-Python
    spec hash for random int64s (incl. negatives / extremes) and UTF-8
    strings — this is the writer/pruner agreement the design relies on."""
    rng = random.Random(7)
    longs = [rng.randint(-(2**63), 2**63 - 1) for _ in range(500)] + [
        0, -1, 34, 2**63 - 1, -(2**63), None,
    ]
    df = spark.createDataFrame([(v,) for v in longs], "v bigint")
    pf = resolve_part_field("bucket", "v", 32, "long")
    got = [r.b for r in df.select(transform_column(pf).alias("b")).collect()]
    assert got == [bucket_value(v, "long", 32) for v in longs]

    strs = ["iceberg", "", "héllo wörld", "日本語", None, "x" * 1000]
    dfs = spark.createDataFrame([(s,) for s in strs], "s string")
    pfs_ = resolve_part_field("bucket", "s", 8, "string")
    got_s = [
        r.b for r in dfs.select(transform_column(pfs_).alias("b")).collect()
    ]
    assert got_s == [bucket_value(s, "string", 8) for s in strs]


# ------------------------------------------------------------ lifecycle


def _corrupt(paths):
    for p in paths:
        with open(p, "wb") as fh:
            fh.write(b"garbage")


def test_bucket_partitioned_write_and_prune(spark, tmp_path):
    root = str(tmp_path / "btab")
    rows = [(i, f"u{i % 7}", float(i)) for i in range(50)]
    df = spark.createDataFrame(rows, "id bigint, user string, val double")
    write_iceberg_append(df, root, partition_by=("bucket(4, id)",))

    # full read is complete (data files keep the source column)
    assert {r.id for r in read_iceberg_snapshot(spark, root).collect()} == {
        r[0] for r in rows
    }
    # manifest partition records carry the spec-exact bucket
    data_files, _p, _e, _s = _iceberg_snapshot_files(root)
    assert {tuple(e.partition) for e in data_files} == {("id_bucket",)}
    assert {e.partition["id_bucket"] for e in data_files} == {
        bucket_value(i, "long", 4) for i, _u, _v in rows
    }

    # zero-I/O proof: corrupt every file OUTSIDE the probe's bucket
    probe = 17
    want_bucket = bucket_value(probe, "long", 4)
    _corrupt(
        e.path for e in data_files if e.partition["id_bucket"] != want_bucket
    )
    got = read_iceberg_snapshot(
        spark, root, scan_filter=("id", "=", probe)
    ).collect()
    assert [(r.id, r.user) for r in got] == [(probe, f"u{probe % 7}")]
    # the unpruned read must now fail — proves the files were really read
    with pytest.raises(Exception):
        read_iceberg_snapshot(spark, root).collect()


def test_bucket_append_inherits_spec(spark, tmp_path):
    """A second append (no partition_by) must recompute the SAME buckets
    from the stored spec, so pruning stays correct across appends."""
    root = str(tmp_path / "btab2")
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, str(i)) for i in range(lo, hi)], "id bigint, v string"
    )
    write_iceberg_append(mk(0, 20), root, partition_by=("bucket(8, id)",))
    write_iceberg_append(mk(20, 40), root)
    data_files, _p, _e, _s = _iceberg_snapshot_files(root)
    for e in data_files:
        ids = {
            r.id
            for r in spark.read.parquet(e.path).collect()
        }
        for i in ids:
            assert bucket_value(i, "long", 8) == e.partition["id_bucket"]
    # equality pruning across both appends
    for probe in (3, 25):
        got = read_iceberg_snapshot(
            spark, root, scan_filter=("id", "=", probe)
        ).collect()
        assert {r.id for r in got} == {probe}


def test_truncate_int_range_prune(spark, tmp_path):
    root = str(tmp_path / "ttab")
    df = spark.createDataFrame(
        [(i, str(i)) for i in range(-25, 25)], "k bigint, v string"
    )
    write_iceberg_append(df, root, partition_by=("truncate(10, k)",))
    data_files, _p, _e, _s = _iceberg_snapshot_files(root)
    assert {e.partition["k_trunc"] for e in data_files} == {
        -30, -20, -10, 0, 10, 20,
    }
    # range predicate k >= 12 can only touch the 10/20 partitions
    _corrupt(e.path for e in data_files if e.partition["k_trunc"] < 10)
    got = read_iceberg_snapshot(
        spark, root, scan_filter=("k", ">=", 12)
    ).collect()
    assert {r.k for r in got} == set(range(12, 25))
    # strict op prunes conservatively (trunc is monotonic, not strict)
    got2 = read_iceberg_snapshot(
        spark, root, scan_filter=("k", ">", 19)
    ).collect()
    assert {r.k for r in got2} == set(range(20, 25))


def test_truncate_string_prefix_prune(spark, tmp_path):
    root = str(tmp_path / "stab")
    words = ["alpha", "alter", "beta", "bear", "gamma", "go"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    write_iceberg_append(df, root, partition_by=("truncate(2, w)",))
    data_files, _p, _e, _s = _iceberg_snapshot_files(root)
    assert {e.partition["w_trunc"] for e in data_files} == {
        "al", "be", "ga", "go",
    }
    _corrupt(e.path for e in data_files if e.partition["w_trunc"] != "be")
    got = read_iceberg_snapshot(
        spark, root, scan_filter=("w", "=", "bear")
    ).collect()
    assert [r.w for r in got] == ["bear"]


def test_mixed_identity_and_bucket_spec(spark, tmp_path):
    root = str(tmp_path / "mtab")
    df = spark.createDataFrame(
        [("d1", 1), ("d1", 2), ("d2", 3)], "day string, id bigint"
    )
    write_iceberg_append(
        df, root, partition_by=("day", "bucket(2, id)")
    )
    data_files, _p, _e, _s = _iceberg_snapshot_files(root)
    for e in data_files:
        assert set(e.partition) == {"day", "id_bucket"}
    # identity partition_filter still works on the mixed spec
    got = read_iceberg_snapshot(
        spark, root, partition_filter={"day": "d2"}
    ).collect()
    assert {r.id for r in got} == {3}


def test_rewrite_preserves_transform_partitions(spark, tmp_path):
    """Compaction must regroup by the TRANSFORMED value (recomputing
    bucket hashes), keeping partition records and pruning intact."""
    root = str(tmp_path / "ctab")
    for lo, hi in ((0, 15), (15, 30)):
        write_iceberg_append(
            spark.createDataFrame(
                [(i, str(i)) for i in range(lo, hi)], "id bigint, v string"
            ),
            root,
            partition_by=("bucket(4, id)",) if lo == 0 else (),
        )
    rewrite_iceberg_table(spark, root)
    data_files, _p, _e, _s = _iceberg_snapshot_files(root)
    buckets = {}
    for e in data_files:
        buckets.setdefault(e.partition["id_bucket"], set()).update(
            r.id for r in spark.read.parquet(e.path).collect()
        )
    for b, ids in buckets.items():
        assert all(bucket_value(i, "long", 4) == b for i in ids)
    probe = 7
    _corrupt(
        e.path
        for e in data_files
        if e.partition["id_bucket"] != bucket_value(probe, "long", 4)
    )
    got = read_iceberg_snapshot(
        spark, root, scan_filter=("id", "=", probe)
    ).collect()
    assert {r.id for r in got} == {probe}


def test_null_bucket_value_partitions_and_survives(spark, tmp_path):
    root = str(tmp_path / "ntab")
    df = spark.createDataFrame(
        [(1, "a"), (None, "b"), (2, "c")], "id bigint, v string"
    )
    write_iceberg_append(df, root, partition_by=("bucket(4, id)",))
    data_files, _p, _e, _s = _iceberg_snapshot_files(root)
    assert None in {e.partition["id_bucket"] for e in data_files}
    rows = {(r.id, r.v) for r in read_iceberg_snapshot(spark, root).collect()}
    assert rows == {(1, "a"), (None, "b"), (2, "c")}
    # a null-partition file is never pruned away by an equality probe on
    # the hashed column (conservative keep) — but equality can't match
    # NULL rows anyway, so the result is just the probe row
    got = read_iceberg_snapshot(
        spark, root, scan_filter=("id", "=", 2)
    ).collect()
    assert {r.id for r in got} == {2}


def test_bucket_on_unsupported_type_refused(spark, tmp_path):
    df = spark.createDataFrame([(1.5, "a")], "x double, v string")
    with pytest.raises(NotImplementedError):
        write_iceberg_append(
            df, str(tmp_path / "xx"), partition_by=("bucket(4, x)",)
        )


def test_part_field_param():
    pf = PartField("id_bucket", "bucket[16]", "id", "long", "int")
    assert pf.param == 16
    assert PartField("d", "identity", "d", "string", "string").param is None


# ---------------------------------------------------- time transforms


def test_time_transform_spec_vectors():
    import datetime

    from mysoftware_nocnetintel_spark.sources.iceberg_transforms import (
        time_transform_value,
    )

    d = datetime.date(2017, 11, 16)
    # Iceberg spec "Partition Transforms" examples for 2017-11-16
    assert time_transform_value(d, "year") == 47
    assert time_transform_value(d, "month") == 574
    assert time_transform_value(d, "day") == 17486
    assert time_transform_value("1969-12-31", "day") == -1
    assert time_transform_value("1969-12-31", "month") == -1
    assert time_transform_value(None, "day") is None


def test_day_partitioned_range_prune(spark, tmp_path):
    import datetime

    from mysoftware_nocnetintel_spark.sources.iceberg_transforms import (
        time_transform_value,
    )

    root = str(tmp_path / "dtab")
    base = datetime.date(2026, 3, 1)
    rows = [
        (base + datetime.timedelta(days=i // 4), i) for i in range(16)
    ]
    df = spark.createDataFrame(rows, "d date, id bigint")
    write_iceberg_append(df, root, partition_by=("day(d)",))
    data_files, _p, _e, _s = _iceberg_snapshot_files(root)
    assert {e.partition["d_day"] for e in data_files} == {
        time_transform_value(base + datetime.timedelta(days=k), "day")
        for k in range(4)
    }
    # range predicate d >= base+2 days must only touch the last 2 days
    cut = base + datetime.timedelta(days=2)
    _corrupt(
        e.path
        for e in data_files
        if e.partition["d_day"] < time_transform_value(cut, "day")
    )
    got = read_iceberg_snapshot(
        spark, root, scan_filter=("d", ">=", cut)
    ).collect()
    assert {r.id for r in got} == set(range(8, 16))


def test_month_append_inherits_and_prunes_equality(spark, tmp_path):
    import datetime

    root = str(tmp_path / "mtab2")
    mk = lambda rows: spark.createDataFrame(rows, "d date, id bigint")
    write_iceberg_append(
        mk([(datetime.date(2026, 1, 10), 1), (datetime.date(2026, 2, 5), 2)]),
        root,
        partition_by=("month(d)",),
    )
    write_iceberg_append(
        mk([(datetime.date(2026, 2, 20), 3), (datetime.date(2026, 3, 1), 4)]),
        root,
    )
    data_files, _p, _e, _s = _iceberg_snapshot_files(root)
    assert {e.partition["d_month"] for e in data_files} == {672, 673, 674}
    _corrupt(e.path for e in data_files if e.partition["d_month"] != 673)
    got = read_iceberg_snapshot(
        spark, root, scan_filter=("d", "=", datetime.date(2026, 2, 20))
    ).collect()
    assert {r.id for r in got} == {3}


def test_time_transform_on_non_date_refused(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], "x bigint, v string")
    with pytest.raises(NotImplementedError):
        write_iceberg_append(
            df, str(tmp_path / "bad"), partition_by=("day(x)",)
        )


# ------------------------------------------------ bucket-colocated join


def _mk_bucketed(spark, root, rows, schema, key, n):
    write_iceberg_append(
        spark.createDataFrame(rows, schema),
        root,
        partition_by=(f"bucket({n}, {key})",),
    )


def test_bucket_join_matches_plain_join(spark, tmp_path):
    from mysoftware_nocnetintel_spark.sources.readers import (
        read_iceberg_bucket_join,
    )

    l_root = str(tmp_path / "l")
    r_root = str(tmp_path / "r")
    _mk_bucketed(
        spark, l_root,
        [(i, f"L{i}") for i in range(40)], "k bigint, lv string", "k", 4,
    )
    # right side covers half the keys plus strangers + a null key
    _mk_bucketed(
        spark, r_root,
        [(i, f"R{i}") for i in range(0, 80, 2)] + [(None, "Rnull")],
        "k bigint, rv string", "k", 4,
    )
    got = {
        (r.k, r.lv, r.rv)
        for r in read_iceberg_bucket_join(spark, l_root, r_root, "k")
        .collect()
    }
    want = {(i, f"L{i}", f"R{i}") for i in range(0, 40, 2)}
    assert got == want


def test_bucket_join_plans_only_matching_buckets(spark, tmp_path):
    """Colocation proof: corrupt every right-side file whose bucket holds
    no LEFT key — the join must still succeed because those buckets are
    never planned."""
    from mysoftware_nocnetintel_spark.sources.readers import (
        read_iceberg_bucket_join,
    )

    l_root = str(tmp_path / "l2")
    r_root = str(tmp_path / "r2")
    # pick left keys that all land in ONE bucket of 8
    keys = [i for i in range(200) if bucket_value(i, "long", 8) == 3][:5]
    assert keys
    _mk_bucketed(
        spark, l_root, [(k, "x") for k in keys],
        "k bigint, lv string", "k", 8,
    )
    _mk_bucketed(
        spark, r_root, [(i, f"R{i}") for i in range(60)],
        "k bigint, rv string", "k", 8,
    )
    data_files, _p, _e, _s = _iceberg_snapshot_files(r_root)
    _corrupt(e.path for e in data_files if e.partition["k_bucket"] != 3)
    got = {
        (r.k, r.rv)
        for r in read_iceberg_bucket_join(spark, l_root, r_root, "k")
        .collect()
    }
    assert got == {(k, f"R{k}") for k in keys if k < 60}


def test_bucket_join_refusals_and_empty(spark, tmp_path):
    from mysoftware_nocnetintel_spark.sources.readers import (
        read_iceberg_bucket_join,
    )

    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    c = str(tmp_path / "c")
    _mk_bucketed(
        spark, a, [(1, "x")], "k bigint, lv string", "k", 4,
    )
    _mk_bucketed(
        spark, b, [(1, "y")], "k bigint, rv string", "k", 8,
    )
    with pytest.raises(ValueError, match="widths differ"):
        read_iceberg_bucket_join(spark, a, b, "k")
    write_iceberg_append(
        spark.createDataFrame([(1, "z")], "k bigint, rv string"), c
    )
    with pytest.raises(ValueError, match="bucket-partitioned"):
        read_iceberg_bucket_join(spark, a, c, "k")
    # disjoint buckets → legal empty result with the joined schema
    d = str(tmp_path / "d")
    k_other = next(
        i for i in range(100)
        if bucket_value(i, "long", 4) != bucket_value(1, "long", 4)
    )
    _mk_bucketed(
        spark, d, [(k_other, "w")], "k bigint, rv string", "k", 4,
    )
    empty = read_iceberg_bucket_join(spark, a, d, "k")
    assert empty.count() == 0
    assert set(empty.columns) == {"k", "lv", "rv"}


# -------------------------------------------- randomized differential


def test_transform_prune_randomized_differential(spark, tmp_path):
    """Property: for RANDOM tables partitioned with a random transform
    and random scan_filter predicates, the pruned read returns exactly
    the rows a brute-force in-memory filter does. Pruning must never be
    a correctness decision — this is the transform analogue of the
    zone-map fuzz suite."""
    import datetime
    import operator as op_mod

    rng = random.Random(42)
    OPS = {
        "=": op_mod.eq, ">=": op_mod.ge, ">": op_mod.gt,
        "<=": op_mod.le, "<": op_mod.lt,
    }
    for trial in range(6):
        kind = rng.choice(["bucket", "truncate", "day", "month"])
        root = str(tmp_path / f"fz{trial}")
        if kind in ("bucket", "truncate"):
            keys = [rng.randint(-100, 100) for _ in range(60)]
            rows = [(k, i) for i, k in enumerate(keys)]
            w = rng.choice([3, 7, 16])
            write_iceberg_append(
                spark.createDataFrame(rows, "k bigint, rid bigint"),
                root,
                partition_by=(f"{kind}({w}, k)",),
            )
            probes = [rng.randint(-110, 110) for _ in range(8)]
        else:
            base = datetime.date(2025, 11, 20)
            keys = [
                base + datetime.timedelta(days=rng.randint(0, 90))
                for _ in range(60)
            ]
            rows = [(k, i) for i, k in enumerate(keys)]
            write_iceberg_append(
                spark.createDataFrame(rows, "k date, rid bigint"),
                root,
                partition_by=(f"{kind}(k)",),
            )
            probes = [
                base + datetime.timedelta(days=rng.randint(-5, 95))
                for _ in range(8)
            ]
        for val in probes:
            o = rng.choice(list(OPS))
            got = {
                (r.k, r.rid)
                for r in read_iceberg_snapshot(
                    spark, root, scan_filter=("k", o, val)
                ).collect()
            }
            want = {
                (k, i) for k, i in rows if OPS[o](k, val)
            }
            assert got == want, (trial, kind, o, val)


def test_deletes_compose_with_bucket_partitions(spark, tmp_path):
    """Merge-on-read deletes must apply inside transform-partitioned
    scans (pruned or not), and a full rewrite must fold them in while
    regrouping by bucket."""
    from mysoftware_nocnetintel_spark.sources.iceberg import (
        write_iceberg_equality_deletes,
        write_iceberg_position_deletes,
    )

    root = str(tmp_path / "deltab")
    _mk_bucketed(
        spark, root, [(i, f"v{i}") for i in range(30)],
        "k bigint, v string", "k", 4,
    )
    write_iceberg_equality_deletes(
        spark, root, spark.createDataFrame([(3,), (7,)], "k bigint")
    )
    write_iceberg_position_deletes(spark, root, F.col("k") == 11)
    live = set(range(30)) - {3, 7, 11}
    assert {
        r.k for r in read_iceberg_snapshot(spark, root).collect()
    } == live
    # pruned scan on a deleted key's bucket returns nothing for it
    got = read_iceberg_snapshot(
        spark, root, scan_filter=("k", "=", 7)
    ).collect()
    assert got == []
    rewrite_iceberg_table(spark, root)
    data_files, pos_d, eq_d, _s = _iceberg_snapshot_files(root)
    assert not pos_d and not eq_d
    for e in data_files:
        ks = {r.k for r in spark.read.parquet(e.path).collect()}
        assert all(
            bucket_value(k, "long", 4) == e.partition["k_bucket"] for k in ks
        )
    assert {
        r.k for r in read_iceberg_snapshot(spark, root).collect()
    } == live


# --------------------------------------------------- hour / timestamps


def test_hour_transform_value_vectors():
    import datetime

    from mysoftware_nocnetintel_spark.sources.iceberg_transforms import (
        time_transform_value,
    )

    # consistent with the spec's day example: 17486 days * 24 + 22h
    t = datetime.datetime(2017, 11, 16, 22, 31, 8)
    assert time_transform_value(t, "hour") == 17486 * 24 + 22
    # tz-aware literals normalize to UTC first (spec: timestamptz
    # transforms are computed on the UTC instant)
    aware = datetime.datetime(
        2017, 11, 16, 17, 31, 8,
        tzinfo=datetime.timezone(datetime.timedelta(hours=-5)),
    )
    assert time_transform_value(aware, "hour") == 17486 * 24 + 22
    assert (
        time_transform_value("2017-11-16 22:31:08", "hour")
        == 17486 * 24 + 22
    )
    # timestamps feed the date transforms too
    assert time_transform_value(t, "day") == 17486
    assert time_transform_value(t, "month") == 574
    # pre-epoch hours floor (23:30 the day before -> hour -1)
    assert (
        time_transform_value(
            datetime.datetime(1969, 12, 31, 23, 30), "hour"
        )
        == -1
    )
    with pytest.raises(ValueError, match="timestamp literal"):
        time_transform_value(datetime.date(2017, 11, 16), "hour")


def test_hour_partitioned_ntz_write_and_prune(spark, tmp_path):
    """hour(ts) on a TIMESTAMP_NTZ column: wall-clock hours since epoch,
    independent of spark.sql.session.timeZone (proven by writing under a
    non-UTC session TZ)."""
    import datetime

    from mysoftware_nocnetintel_spark.sources.iceberg_transforms import (
        time_transform_value,
    )

    root = str(tmp_path / "htab")
    base = datetime.datetime(2026, 3, 1, 0, 15)
    rows = [
        (base + datetime.timedelta(hours=i // 4, minutes=i % 4), i)
        for i in range(16)
    ]
    df = spark.createDataFrame(rows, "ts timestamp_ntz, id bigint")
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        write_iceberg_append(df, root, partition_by=("hour(ts)",))
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    data_files, _p, _e, _s = _iceberg_snapshot_files(root)
    want_hours = {
        time_transform_value(base, "hour") + k for k in range(4)
    }
    assert {e.partition["ts_hour"] for e in data_files} == want_hours
    # range predicate must only touch the last 2 hours — corrupt the rest
    cut = base + datetime.timedelta(hours=2)
    cut_h = time_transform_value(cut, "hour")
    _corrupt(e.path for e in data_files if e.partition["ts_hour"] < cut_h)
    got = read_iceberg_snapshot(
        spark, root, scan_filter=("ts", ">=", cut.replace(minute=0))
    ).collect()
    assert {r.id for r in got} == set(range(8, 16))


def test_hour_transform_ltz_is_session_tz_independent(spark, tmp_path):
    """On a TIMESTAMPTZ (ltz) column the partition value must be the UTC
    instant's hour ordinal no matter what session TZ the writer ran
    under — two writes of the SAME instants under different session TZs
    must produce identical partition records."""
    from pyspark.sql import functions as F

    epochs = [3_600 * 100 + 10, 3_600 * 100 + 20, 3_600 * 101 + 5]
    df = (
        spark.range(len(epochs))
        .withColumn(
            "ts",
            F.timestamp_seconds(
                F.element_at(
                    F.array(*[F.lit(e) for e in epochs]),
                    (F.col("id") + 1).cast("int"),
                )
            ),
        )
        .select("id", "ts")
    )
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    parts = {}
    for tz, name in (("America/New_York", "a"), ("Asia/Tokyo", "b")):
        root = str(tmp_path / name)
        try:
            spark.conf.set("spark.sql.session.timeZone", tz)
            write_iceberg_append(df, root, partition_by=("hour(ts)",))
        finally:
            spark.conf.set("spark.sql.session.timeZone", prev_tz)
        data_files, _p, _e, _s = _iceberg_snapshot_files(root)
        parts[name] = sorted(e.partition["ts_hour"] for e in data_files)
    assert parts["a"] == parts["b"] == [100, 100, 101] or (
        parts["a"] == parts["b"] == [100, 101]
    )


def test_yearmonth_on_ntz_timestamp(spark, tmp_path):
    import datetime

    root = str(tmp_path / "ymtab")
    rows = [
        (datetime.datetime(2026, 1, 10, 5), 1),
        (datetime.datetime(2026, 2, 5, 23), 2),
    ]
    write_iceberg_append(
        spark.createDataFrame(rows, "ts timestamp_ntz, id bigint"),
        root,
        partition_by=("month(ts)",),
    )
    data_files, _p, _e, _s = _iceberg_snapshot_files(root)
    assert {e.partition["ts_month"] for e in data_files} == {672, 673}


def test_hour_on_date_refused(spark, tmp_path):
    import datetime

    df = spark.createDataFrame(
        [(datetime.date(2026, 1, 1), 1)], "d date, id bigint"
    )
    with pytest.raises(NotImplementedError, match="hour transform"):
        write_iceberg_append(
            df, str(tmp_path / "bad"), partition_by=("hour(d)",)
        )


def test_undigestible_literal_prunes_nothing(spark, tmp_path):
    """A scan_filter literal the partition transform can't digest (a
    date-only string against hour(ts)) must fall back to NO pruning —
    keep every file, let the row filter decide (round-5 advisor: it
    raised ValueError and failed the whole read)."""
    import datetime

    root = str(tmp_path / "htab_bad_lit")
    base = datetime.datetime(2026, 3, 1, 0, 15)
    rows = [(base + datetime.timedelta(hours=i), i) for i in range(4)]
    df = spark.createDataFrame(rows, "ts timestamp_ntz, id bigint")
    write_iceberg_append(df, root, partition_by=("hour(ts)",))
    got = read_iceberg_snapshot(
        spark, root, scan_filter=("ts", ">=", "2026-03-01")
    ).collect()
    # conservative: the read succeeds and the ROW filter still applies
    # (ANSI string>=timestamp comparison casts the literal to midnight)
    assert {r.id for r in got} == {0, 1, 2, 3}
