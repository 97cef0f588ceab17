"""Atomic Iceberg MERGE (merge_iceberg_rows): one row-delta snapshot —
equality-delete file + data files under a single sequence number — with
SQL MERGE semantics (NULL keys never match, ambiguity raises). The
between-state the old delete-snapshot+append-snapshot pair exposed must
be unobservable: exactly ONE snapshot per merge, and time travel sees
only before/after."""

from __future__ import annotations

import pytest

from mysoftware_nocnetintel_spark.sources.iceberg import (
    IcebergCommitConflict,
    merge_iceberg_rows,
    write_iceberg_append,
)
from mysoftware_nocnetintel_spark.sources.readers import read_iceberg_snapshot


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id bigint, val string")


def _rows(df):
    return {(r.id, r.val) for r in df.collect()}


def _n_snaps(path):
    import json
    from glob import glob

    vs = sorted(glob(f"{path}/metadata/v*.metadata.json"))
    with open(vs[-1]) as f:
        return len(json.load(f)["snapshots"])


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "t")
    write_iceberg_append(_mk(spark, [(1, "a"), (2, "b"), (3, "c")]), path)
    return path


def test_upsert_is_one_snapshot(spark, table):
    before = _n_snaps(table)
    src = _mk(spark, [(2, "B"), (4, "d")])
    snap = merge_iceberg_rows(spark, table, src, on=["id"])
    assert _n_snaps(table) == before + 1
    assert _rows(read_iceberg_snapshot(spark, table)) == {
        (1, "a"), (2, "B"), (3, "c"), (4, "d"),
    }
    # time travel: the pre-merge snapshot still reads the old state —
    # there is no intermediate "key deleted, replacement missing" state
    import json as _json
    from glob import glob as _glob

    with open(sorted(_glob(f"{table}/metadata/v*.metadata.json"))[-1]) as f:
        meta = _json.load(f)
    merged = next(s for s in meta["snapshots"] if s["snapshot-id"] == snap)
    assert merged["summary"]["operation"] == "overwrite"
    assert _rows(
        read_iceberg_snapshot(
            spark, table, snapshot_id=merged["parent-snapshot-id"]
        )
    ) == {(1, "a"), (2, "b"), (3, "c")}


def test_upsert_again_kills_only_old_generation(spark, table):
    merge_iceberg_rows(spark, table, _mk(spark, [(2, "B")]), on=["id"])
    merge_iceberg_rows(spark, table, _mk(spark, [(2, "BB")]), on=["id"])
    assert _rows(read_iceberg_snapshot(spark, table)) == {
        (1, "a"), (2, "BB"), (3, "c"),
    }


def test_update_ignore_unmatched(spark, table):
    merge_iceberg_rows(
        spark,
        table,
        _mk(spark, [(3, "C"), (9, "x")]),
        on=["id"],
        when_not_matched="ignore",
    )
    assert _rows(read_iceberg_snapshot(spark, table)) == {
        (1, "a"), (2, "b"), (3, "C"),
    }


def test_delete_matched_insert_unmatched(spark, table):
    merge_iceberg_rows(
        spark,
        table,
        _mk(spark, [(1, "ignored"), (7, "g")]),
        on=["id"],
        when_matched="delete",
    )
    assert _rows(read_iceberg_snapshot(spark, table)) == {
        (2, "b"), (3, "c"), (7, "g"),
    }


def test_delete_only(spark, table):
    merge_iceberg_rows(
        spark,
        table,
        _mk(spark, [(2, "_"), (9, "_")]),
        on=["id"],
        when_matched="delete",
        when_not_matched="ignore",
    )
    assert _rows(read_iceberg_snapshot(spark, table)) == {
        (1, "a"), (3, "c"),
    }


def test_null_keys_insert_and_never_delete(spark, table):
    # a NULL-keyed target row must survive a NULL-keyed source row
    # (SQL equality: NULL never matches), and the source row inserts
    write_iceberg_append(_mk(spark, [(None, "old-null")]), table)
    merge_iceberg_rows(
        spark, table, _mk(spark, [(None, "new-null"), (1, "A")]), on=["id"]
    )
    assert _rows(read_iceberg_snapshot(spark, table)) == {
        (None, "old-null"), (None, "new-null"),
        (1, "A"), (2, "b"), (3, "c"),
    }


def test_ambiguous_duplicate_matching_keys_raise(spark, table):
    with pytest.raises(ValueError, match="ambiguous"):
        merge_iceberg_rows(
            spark, table, _mk(spark, [(2, "x"), (2, "y")]), on=["id"]
        )
    # unchanged
    assert _rows(read_iceberg_snapshot(spark, table)) == {
        (1, "a"), (2, "b"), (3, "c"),
    }


def test_duplicate_unmatched_keys_both_insert(spark, table):
    merge_iceberg_rows(
        spark, table, _mk(spark, [(8, "x"), (8, "y")]), on=["id"]
    )
    got = _rows(read_iceberg_snapshot(spark, table))
    assert {(8, "x"), (8, "y")} <= got and len(got) == 5


def test_avro_merge(spark, table):
    merge_iceberg_rows(
        spark,
        table,
        _mk(spark, [(2, "B"), (5, "e")]),
        on=["id"],
        file_format="avro",
    )
    assert _rows(read_iceberg_snapshot(spark, table)) == {
        (1, "a"), (2, "B"), (3, "c"), (5, "e"),
    }


def test_schema_mismatch_refused(spark, table):
    src = spark.createDataFrame([(1, 2.0)], "id bigint, val double")
    with pytest.raises(ValueError, match="does not equal the table schema"):
        merge_iceberg_rows(spark, table, src, on=["id"])


def test_noop_merge_refused(spark, table):
    with pytest.raises(ValueError, match="changed nothing"):
        merge_iceberg_rows(
            spark,
            table,
            _mk(spark, []),
            on=["id"],
        )


def test_partitioned_merge_fans_out_with_pruning(spark, tmp_path):
    from mysoftware_nocnetintel_spark.sources.readers import (
        _iceberg_snapshot_files,
    )

    path = str(tmp_path / "p")
    write_iceberg_append(
        _mk(spark, [(1, "x"), (2, "y")]), path, partition_by=("val",)
    )
    merge_iceberg_rows(
        spark, path, _mk(spark, [(1, "z"), (3, "x")]), on=["id"]
    )
    # id=1 moved partitions (x → z); id=3 inserted into x
    assert _rows(read_iceberg_snapshot(spark, path)) == {
        (1, "z"), (2, "y"), (3, "x"),
    }
    assert _rows(
        read_iceberg_snapshot(spark, path, partition_filter={"val": "x"})
    ) == {(3, "x")}
    assert _rows(
        read_iceberg_snapshot(spark, path, partition_filter={"val": "z"})
    ) == {(1, "z")}
    d, _p, _e, _s = _iceberg_snapshot_files(path)
    assert all(e.partition is not None for e in d)
    # avro merges fan out with partition records too (round 6 — was a
    # documented refusal; full coverage in
    # test_iceberg_avro_data::test_partitioned_avro_merge)
    merge_iceberg_rows(
        spark, path, _mk(spark, [(4, "w")]), on=["id"],
        file_format="avro",
    )
    assert _rows(
        read_iceberg_snapshot(spark, path, partition_filter={"val": "w"})
    ) == {(4, "w")}


def test_lost_cas_cleans_staged_files_and_raises(
    spark, table, monkeypatch
):
    from glob import glob

    import mysoftware_nocnetintel_spark.sources.iceberg as icemod

    def _boom(meta_dir, prev_ver, new_meta):
        raise IcebergCommitConflict("simulated concurrent commit")

    files_before = set(glob(f"{table}/data/*"))
    monkeypatch.setattr(icemod, "_commit_metadata", _boom)
    with pytest.raises(IcebergCommitConflict):
        merge_iceberg_rows(
            spark, table, _mk(spark, [(2, "B"), (4, "d")]), on=["id"]
        )
    monkeypatch.undo()
    # staged data + delete files were removed; table state unchanged
    assert set(glob(f"{table}/data/*")) == files_before
    assert _rows(read_iceberg_snapshot(spark, table)) == {
        (1, "a"), (2, "b"), (3, "c"),
    }


@pytest.mark.parametrize("seed", [3, 17])
@pytest.mark.parametrize("fmt", ["parquet", "avro"])
def test_random_merge_differential(spark, tmp_path, seed, fmt):
    """Random merge sequences (mixed modes) against a plain-Python dict
    model; state compared after every commit."""
    import random

    rng = random.Random(seed * 1000 + len(fmt))
    path = str(tmp_path / f"m{seed}{fmt}")
    model: dict[int, str] = {1: "a", 2: "b"}
    write_iceberg_append(
        _mk(spark, sorted(model.items())), path, file_format=fmt
    )
    for step in range(6):
        wm = rng.choice(["update", "delete"])
        wnm = rng.choice(["insert", "ignore"])
        n = rng.randint(1, 4)
        ks = rng.sample(range(1, 9), n)
        src = [(k, f"v{step}.{k}") for k in ks]
        expect = dict(model)
        for k, v in src:
            if k in expect:
                if wm == "update":
                    expect[k] = v
                else:
                    del expect[k]
            elif wnm == "insert":
                expect[k] = v
        try:
            merge_iceberg_rows(
                spark,
                path,
                _mk(spark, src),
                on=["id"],
                when_matched=wm,
                when_not_matched=wnm,
                file_format=fmt,
            )
            model = expect
        except ValueError as e:
            assert "changed nothing" in str(e)
        assert _rows(read_iceberg_snapshot(spark, path)) == set(
            model.items()
        )
