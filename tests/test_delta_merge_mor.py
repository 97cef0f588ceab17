"""Merge-on-read MERGE (merge_delta_rows(strategy="mor")): matched target
rows are deletion-vector-masked instead of rewritten — the touched files'
bytes stay put, only a KB-scale DV and the merged source rows hit disk —
and the whole thing is ONE atomic version json. Logical results must be
IDENTICAL to the copy-on-write strategy; a randomized differential runs
the same op sequence under both strategies side by side."""

from __future__ import annotations

import json
import os

import pytest

from mysoftware_nocnetintel_spark.sources.delta import (
    _replay_state,
    delete_delta_rows,
    merge_delta_rows,
    write_delta_append,
)
from mysoftware_nocnetintel_spark.sources.readers import read_delta_snapshot


def _rows(df):
    return {(r.id, r.val) for r in df.collect()}


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id bigint, val string")


def _live(path):
    return _replay_state(os.path.join(path, "_delta_log"))["live"]


def test_mor_upsert_masks_instead_of_rewriting(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_append(_mk(spark, [(1, "a"), (2, "b")]).coalesce(1), path)
    write_delta_append(_mk(spark, [(10, "x"), (11, "y")]).coalesce(1), path)
    before = _live(path)
    assert len(before) == 2

    v = merge_delta_rows(
        spark,
        path,
        _mk(spark, [(2, "B"), (3, "c")]),
        on=["id"],
        strategy="mor",
    )
    assert _rows(read_delta_snapshot(spark, path)) == {
        (1, "a"), (2, "B"), (3, "c"), (10, "x"), (11, "y"),
    }
    after = _live(path)
    # every pre-merge file is STILL live (bytes untouched); the touched
    # one now carries a DV masking exactly the matched row
    assert set(before) <= set(after)
    touched = [
        rel for rel, e in after.items()
        if rel in before and e.get("deletionVector")
    ]
    assert len(touched) == 1
    assert after[touched[0]]["deletionVector"]["cardinality"] == 1
    # stats carried through the re-add → data skipping survives masking
    assert after[touched[0]].get("stats") == before[touched[0]].get("stats")
    # one atomic commit: time travel to v-1 sees the old rows
    assert _rows(read_delta_snapshot(spark, path, version=v - 1)) == {
        (1, "a"), (2, "b"), (10, "x"), (11, "y"),
    }


def test_mor_delete_only_commits_no_new_files(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_append(_mk(spark, [(1, "a"), (2, "b"), (3, "c")]), path)
    n_before = len(_live(path))
    merge_delta_rows(
        spark,
        path,
        _mk(spark, [(2, "_")]),
        on=["id"],
        when_matched="delete",
        when_not_matched="ignore",
        strategy="mor",
    )
    assert _rows(read_delta_snapshot(spark, path)) == {(1, "a"), (3, "c")}
    assert len(_live(path)) == n_before  # same files, one now DV-masked


def test_mor_merge_stacks_on_existing_dv(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_append(
        _mk(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1), path
    )
    delete_delta_rows(spark, path, "id = 1")  # first DV generation
    merge_delta_rows(
        spark, path, _mk(spark, [(2, "B")]), on=["id"], strategy="mor"
    )
    # the masked row may not resurrect, and the bitmaps merged
    assert _rows(read_delta_snapshot(spark, path)) == {(2, "B"), (3, "c")}
    (dv_entry,) = [
        e for e in _live(path).values() if e.get("deletionVector")
    ]
    assert dv_entry["deletionVector"]["cardinality"] == 2


def test_mor_selectivity_cap_points_at_cow(spark, tmp_path, monkeypatch):
    import mysoftware_nocnetintel_spark.sources.delta as dmod

    path = str(tmp_path / "t")
    write_delta_append(_mk(spark, [(i, "v") for i in range(10)]), path)
    monkeypatch.setattr(dmod, "_MAX_DELETE_POSITIONS", 3)
    with pytest.raises(NotImplementedError, match="strategy='cow'"):
        merge_delta_rows(
            spark,
            path,
            _mk(spark, [(i, "V") for i in range(10)]),
            on=["id"],
            strategy="mor",
        )


def test_mor_update_masks_and_writes_updated_rows_only(spark, tmp_path):
    from mysoftware_nocnetintel_spark.sources.delta import update_delta_rows

    path = str(tmp_path / "t")
    write_delta_append(
        _mk(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1), path
    )
    before = set(_live(path))
    v = update_delta_rows(
        spark,
        path,
        "id >= 2",
        {"val": "concat(val, '!')"},
        strategy="mor",
    )
    assert _rows(read_delta_snapshot(spark, path)) == {
        (1, "a"), (2, "b!"), (3, "c!"),
    }
    after = _live(path)
    assert before <= set(after)  # original file still live, DV-masked
    (dv_entry,) = [e for e in after.values() if e.get("deletionVector")]
    assert dv_entry["deletionVector"]["cardinality"] == 2
    assert _rows(read_delta_snapshot(spark, path, version=v - 1)) == {
        (1, "a"), (2, "b"), (3, "c"),
    }


def test_mor_update_equals_cow_update(spark, tmp_path):
    from mysoftware_nocnetintel_spark.sources.delta import update_delta_rows

    cow = str(tmp_path / "cow")
    mor = str(tmp_path / "mor")
    rows = [(i, f"v{i % 3}") for i in range(20)]
    for p in (cow, mor):
        write_delta_append(_mk(spark, rows), p)
        delete_delta_rows(spark, p, "id = 7")
    update_delta_rows(
        spark, cow, "val = 'v1'", {"id": "id + 100"}, strategy="cow"
    )
    update_delta_rows(
        spark, mor, "val = 'v1'", {"id": "id + 100"}, strategy="mor"
    )
    assert _rows(read_delta_snapshot(spark, cow)) == _rows(
        read_delta_snapshot(spark, mor)
    )


@pytest.mark.parametrize("seed", [5, 41])
def test_random_cow_vs_mor_equivalence(spark, tmp_path, seed):
    """The same random merge sequence applied to two tables — one CoW,
    one MoR — plus a dict model: all three states must agree after every
    commit."""
    import random

    rng = random.Random(seed)
    cow = str(tmp_path / "cow")
    mor = str(tmp_path / "mor")
    model = {1: "a", 2: "b", 3: "c"}
    for p in (cow, mor):
        write_delta_append(_mk(spark, sorted(model.items())), p)
    for step in range(6):
        wm = rng.choice(["update", "delete"])
        wnm = rng.choice(["insert", "ignore"])
        ks = rng.sample(range(1, 9), rng.randint(1, 3))
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
        outcomes = []
        for p, strat in ((cow, "cow"), (mor, "mor")):
            try:
                merge_delta_rows(
                    spark,
                    p,
                    _mk(spark, src),
                    on=["id"],
                    when_matched=wm,
                    when_not_matched=wnm,
                    strategy=strat,
                )
                outcomes.append("ok")
            except ValueError as e:
                assert "matched no rows" in str(e) or "changed nothing" in (
                    str(e)
                )
                outcomes.append("noop")
        assert outcomes[0] == outcomes[1], f"seed={seed} step={step}"
        if outcomes[0] == "ok":
            model = expect
        assert (
            _rows(read_delta_snapshot(spark, cow))
            == _rows(read_delta_snapshot(spark, mor))
            == set(model.items())
        ), f"seed={seed} step={step}"
