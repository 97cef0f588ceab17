"""Copy-on-write MERGE (upsert) and UPDATE on the minimal Delta writer.

The contract under test (delta.io PROTOCOL.md commit semantics + the SQL
MERGE standard delta-spark implements):

- only files containing matched keys are rewritten; untouched files keep
  their add entries VERBATIM (checked on the log, not just the rows),
- removes + adds land as ONE atomic version json (time travel to the
  pre-merge version still sees the old rows),
- deletion-vector-masked: a merge rewriting a DV-carrying file must not
  resurrect its deleted rows,
- ambiguous merges (two source rows matching one target row) raise,
- a randomized append/merge/update interleaving matches a plain pandas
  dict-of-rows reference.
"""

from __future__ import annotations

import json
import os
import random

import pytest

from mysoftware_nocnetintel_spark.sources.delta import (
    _replay_state,
    delete_delta_rows,
    merge_delta_rows,
    update_delta_rows,
    write_delta_append,
)
from mysoftware_nocnetintel_spark.sources.readers import read_delta_snapshot


def _rows(df):
    return {tuple(r) for r in df.select(*sorted(df.columns)).collect()}


def _mk(spark, rows, cols="id bigint, val string"):
    return spark.createDataFrame(rows, cols)


def test_merge_upsert_rewrites_only_touched_files(spark, tmp_path):
    path = str(tmp_path / "t")
    # two appends -> (at least) two distinct files with disjoint id ranges
    write_delta_append(_mk(spark, [(1, "a"), (2, "b")]).coalesce(1), path)
    write_delta_append(_mk(spark, [(10, "x"), (11, "y")]).coalesce(1), path)
    before = _replay_state(os.path.join(path, "_delta_log"))["live"]
    untouched = {
        rel
        for rel, e in before.items()
        if json.loads(e["stats"])["minValues"]["id"] >= 10
    }
    assert untouched and len(before) == 2

    v = merge_delta_rows(
        spark,
        path,
        _mk(spark, [(2, "B"), (3, "c")]),  # update id=2, insert id=3
        on=["id"],
    )
    got = _rows(read_delta_snapshot(spark, path))
    assert got == {(1, "a"), (2, "B"), (3, "c"), (10, "x"), (11, "y")}
    after = _replay_state(os.path.join(path, "_delta_log"))["live"]
    # the 10/11 file's add entry survives byte-identical; the 1/2 file is gone
    for rel in untouched:
        assert after[rel] == before[rel]
    assert not (set(before) - untouched) & set(after)
    # one atomic commit: pre-merge version still reads the old rows
    old = read_delta_snapshot(spark, path, version=v - 1)
    assert _rows(old) == {(1, "a"), (2, "b"), (10, "x"), (11, "y")}


def test_merge_matched_delete_and_ignore_inserts(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_append(_mk(spark, [(1, "a"), (2, "b"), (3, "c")]), path)
    merge_delta_rows(
        spark,
        path,
        _mk(spark, [(2, "whatever"), (99, "zz")]),
        on=["id"],
        when_matched="delete",
        when_not_matched="ignore",
    )
    assert _rows(read_delta_snapshot(spark, path)) == {(1, "a"), (3, "c")}


def test_merge_delete_all_commits_removes_only(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_append(_mk(spark, [(1, "a"), (2, "b")]).coalesce(1), path)
    v = merge_delta_rows(
        spark,
        path,
        _mk(spark, [(1, "_"), (2, "_")]),
        on=["id"],
        when_matched="delete",
        when_not_matched="ignore",
    )
    state = _replay_state(os.path.join(path, "_delta_log"))
    assert state["version"] == v and state["live"] == {}


def test_merge_ambiguous_source_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_append(_mk(spark, [(1, "a")]), path)
    with pytest.raises(ValueError, match="ambiguous"):
        merge_delta_rows(
            spark, path, _mk(spark, [(1, "x"), (1, "y")]), on=["id"]
        )
    # duplicate keys that match NOTHING both insert (SQL MERGE semantics)
    merge_delta_rows(
        spark, path, _mk(spark, [(7, "x"), (7, "y")]), on=["id"]
    )
    assert _rows(read_delta_snapshot(spark, path)) == {
        (1, "a"),
        (7, "x"),
        (7, "y"),
    }


def test_merge_null_keys_insert_not_update(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_append(_mk(spark, [(None, "a"), (1, "b")]), path)
    merge_delta_rows(spark, path, _mk(spark, [(None, "NEW")]), on=["id"])
    # NULL never equals NULL: the existing null-keyed row stays, the
    # source row inserts
    assert _rows(read_delta_snapshot(spark, path)) == {
        (None, "a"),
        (1, "b"),
        (None, "NEW"),
    }


def test_merge_schema_mismatch_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_append(_mk(spark, [(1, "a")]), path)
    with pytest.raises(ValueError, match="schema"):
        merge_delta_rows(
            spark,
            path,
            _mk(spark, [(1, 2)], "id bigint, val bigint"),
            on=["id"],
        )


def test_merge_partitioned_moves_and_preserves_layout(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "eu", 1.0), (2, "us", 2.0), (3, "eu", 3.0)],
        "id bigint, region string, score double",
    )
    write_delta_append(df, path, partition_by=("region",))
    merge_delta_rows(
        spark,
        path,
        spark.createDataFrame(
            [(2, "eu", 20.0), (4, "ap", 4.0)],
            "id bigint, region string, score double",
        ),
        on=["id"],
    )
    got = read_delta_snapshot(spark, path)
    assert {tuple(r) for r in got.select("id", "region", "score").collect()} == {
        (1, "eu", 1.0),
        (2, "eu", 20.0),
        (3, "eu", 3.0),
        (4, "ap", 4.0),
    }
    # partition column is typed + the moved row's file lives under eu
    assert dict(got.dtypes)["region"] == "string"
    live = _replay_state(os.path.join(path, "_delta_log"))["live"]
    assert any(e["partitionValues"].get("region") == "ap" for e in live.values())


def test_merge_does_not_resurrect_dv_deleted_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_append(
        _mk(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1), path
    )
    delete_delta_rows(spark, path, "id = 3")
    # merge touches the same (only) file via id=1
    merge_delta_rows(spark, path, _mk(spark, [(1, "A")]), on=["id"])
    assert _rows(read_delta_snapshot(spark, path)) == {(1, "A"), (2, "b")}


def test_update_delta_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_append(_mk(spark, [(1, "a"), (2, "b")]).coalesce(1), path)
    write_delta_append(_mk(spark, [(10, "x")]).coalesce(1), path)
    before = _replay_state(os.path.join(path, "_delta_log"))["live"]
    v = update_delta_rows(
        spark, path, "id <= 2", {"val": "upper(concat(val, '!'))"}
    )
    assert _rows(read_delta_snapshot(spark, path)) == {
        (1, "A!"),
        (2, "B!"),
        (10, "x"),
    }
    # untouched file entry carried verbatim; pre-update version intact
    after = _replay_state(os.path.join(path, "_delta_log"))["live"]
    kept = [rel for rel in before if rel in after]
    assert kept and all(after[r] == before[r] for r in kept)
    assert _rows(read_delta_snapshot(spark, path, version=v - 1)) == {
        (1, "a"),
        (2, "b"),
        (10, "x"),
    }
    with pytest.raises(ValueError, match="matched no rows"):
        update_delta_rows(spark, path, "id = 999", {"val": "'z'"})


def test_randomized_merge_update_differential(spark, tmp_path):
    """Random append/merge/update/delete interleaving vs a dict-of-rows
    reference — the same style as the writer property suites."""
    rng = random.Random(0xD317A)
    path = str(tmp_path / "t")
    ref: dict[int, str] = {}

    def _df(rows):
        return _mk(spark, rows)

    write_delta_append(_df([(i, f"v{i}") for i in range(8)]), path)
    ref.update({i: f"v{i}" for i in range(8)})
    for step in range(8):
        op = rng.choice(["merge", "merge_del", "update", "append"])
        if op == "append":
            new = [
                (k, f"a{step}_{k}")
                for k in rng.sample(range(100, 200), 3)
                if k not in ref
            ]
            if not new:
                continue
            write_delta_append(_df(new), path)
            ref.update(dict(new))
        elif op == "merge":
            src = [
                (k, f"m{step}_{k}")
                for k in rng.sample(range(0, 60), rng.randint(1, 5))
            ]
            merge_delta_rows(spark, path, _df(src), on=["id"])
            ref.update(dict(src))
        elif op == "merge_del":
            keys = rng.sample(sorted(ref) + [999], rng.randint(1, 3))
            try:
                merge_delta_rows(
                    spark,
                    path,
                    _df([(k, "_") for k in keys]),
                    on=["id"],
                    when_matched="delete",
                    when_not_matched="ignore",
                )
            except ValueError:
                assert not any(k in ref for k in keys)
                continue
            for k in keys:
                ref.pop(k, None)
        else:
            lo = rng.randint(0, 40)
            matched = [k for k in ref if lo <= k < lo + 10]
            try:
                update_delta_rows(
                    spark,
                    path,
                    f"id >= {lo} AND id < {lo + 10}",
                    {"val": "concat(val, '+')"},
                )
            except ValueError:
                assert not matched
                continue
            for k in matched:
                ref[k] = ref[k] + "+"
        got = {
            r["id"]: r["val"]
            for r in read_delta_snapshot(spark, path).collect()
        }
        assert got == ref, f"divergence after step {step} ({op})"
