"""Round-8 advisor regressions — each test pins one of the round-7
ADVICE.md findings:

1. ``lsh_bucketed_topk``'s single-shuffle top-k must not let NULL-score
   candidates (zero-norm vectors -> try_divide NULL) jump the queue:
   struct ordering sorts a NULL leading field FIRST ascending, inverting
   the score-desc NULLS LAST semantics of the window it replaced.
2. Iceberg position-delete retries must reject a head that gained
   delete content over the touched files: a concurrent UPDATE keeps
   them live (masks + rewrites images), so the live-file check alone
   would silently resurrect rewritten rows.
3. Delta rewrite verbs must commit at their ENTRY state's version+1 —
   a writer landing between entry and ``_stage_append``'s fresh replay
   must trip the CAS (and recompute/validate), not be silently absorbed
   under stale removes/metaData.
4. ``_commit_data_version``'s failed-validation cleanup must also
   delete newly written deletion-vector bins, not just staged parquet.
"""

from __future__ import annotations

import os
from glob import glob

import pytest

from mysoftware_nocnetintel_spark.sources import delta as dl
from mysoftware_nocnetintel_spark.sources.delta import (
    DeltaCommitConflict,
    delete_delta_rows,
    optimize_delta_table,
    repartition_delta_table,
    update_delta_rows,
    write_delta_append,
)
from mysoftware_nocnetintel_spark.sources.readers import read_delta_snapshot


def _df(spark, lo, hi, day="d1"):
    return spark.createDataFrame(
        [(i, f"v{i}", day) for i in range(lo, hi)],
        "id bigint, val string, day string",
    )


def _rows(spark, root):
    return sorted(
        (r.id, r.val, r.day)
        for r in read_delta_snapshot(spark, root).collect()
    )


# ------------------------------------------ 1. LSH NULL-score ordering


def test_lsh_topk_null_scores_never_outrank_real_matches(spark):
    """n_planes=1 + multiprobe=1 makes every query probe BOTH buckets,
    so the zero-norm corpus vector is always a candidate — it must not
    occupy a top-k slot ahead of real matches."""
    import numpy as np

    from mysoftware_nocnetintel_spark.operators.similarity import (
        lsh_bucketed_topk,
    )

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(6)]
    rows.append((999, [0.0] * 8))  # zero norm -> NULL cosine
    corpus = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [(0, rows[2][1])], "qid bigint, qv array<double>"
    )
    got = lsh_bucketed_topk(
        corpus, queries, dim=8, k=4, n_planes=1, multiprobe=1, n_tables=1
    ).collect()
    assert got, "top-k must return real candidates"
    assert all(r.vec_id != 999 for r in got), "NULL score ranked"
    assert all(r.score is not None for r in got)
    assert {r.vec_id for r in got if r.rn == 1} == {rows[2][0]}


# ----------------------- 2. Iceberg position-delete vs concurrent UPDATE


def test_iceberg_position_delete_surfaces_after_update_on_touched_file(
    spark, tmp_path, monkeypatch
):
    from pyspark.sql import functions as F

    from mysoftware_nocnetintel_spark.sources import iceberg as ice
    from mysoftware_nocnetintel_spark.sources.iceberg import (
        IcebergCommitConflict,
        update_iceberg_rows,
        write_iceberg_append,
        write_iceberg_position_deletes,
    )
    from mysoftware_nocnetintel_spark.sources.readers import (
        read_iceberg_snapshot,
    )

    root = str(tmp_path / "ice_upd_race")
    write_iceberg_append(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "id bigint, val string"
        ).coalesce(1),
        root,
    )

    real = ice._commit_metadata
    fired = {"n": 0}

    def racing(meta_dir, prev_ver, new_meta):
        if fired["n"] == 0:
            fired["n"] = 1
            # the winner UPDATEs the very rows our delete targets: the
            # touched file stays LIVE (masked), but ids 0-2 now also
            # exist as rewritten images in fresh files our stale
            # (file,pos) coordinates cannot reach
            update_iceberg_rows(spark, root, "id < 3", {"val": "'U'"})
        return real(meta_dir, prev_ver, new_meta)

    monkeypatch.setattr(ice, "_commit_metadata", racing)
    with pytest.raises(IcebergCommitConflict):
        write_iceberg_position_deletes(spark, root, F.col("id") < 3)
    monkeypatch.setattr(ice, "_commit_metadata", real)

    got = sorted(
        (r.id, r.val)
        for r in read_iceberg_snapshot(spark, root).collect()
    )
    # the winner's update intact; our delete never half-applied — and in
    # particular no resurrected ids (the pre-fix outcome: delete retried
    # against old coordinates, updated images of 0-2 survive while the
    # caller believes 0-2 are gone)
    assert got == [(i, "U" if i < 3 else f"v{i}") for i in range(10)]


def test_iceberg_retry_disengages_on_foreign_winner(
    spark, tmp_path, monkeypatch
):
    """VALIDATED-RETRY SCOPE: a winning commit whose metadata no longer
    carries this engine's writer tag (a foreign engine raced us) always
    surfaces — its manifest conventions can't be validated here."""
    from pyspark.sql import functions as F

    from mysoftware_nocnetintel_spark.sources import iceberg as ice
    from mysoftware_nocnetintel_spark.sources.iceberg import (
        IcebergCommitConflict,
        write_iceberg_append,
        write_iceberg_position_deletes,
    )

    root = str(tmp_path / "ice_foreign")
    write_iceberg_append(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(5)], "id bigint, val string"
        ).coalesce(1),
        root,
    )

    real = ice._commit_metadata
    fired = {"n": 0}

    def racing(meta_dir, prev_ver, new_meta):
        if fired["n"] == 0:
            fired["n"] = 1
            # simulate a FOREIGN engine winning the contested version:
            # same snapshot state, writer property replaced
            cur, ver = ice._load_meta(meta_dir)
            foreign = dict(
                cur,
                properties=dict(
                    cur.get("properties") or {}, writer="other-engine"
                ),
            )
            real(meta_dir, ver, foreign)
        return real(meta_dir, prev_ver, new_meta)

    monkeypatch.setattr(ice, "_commit_metadata", racing)
    with pytest.raises(IcebergCommitConflict):
        write_iceberg_position_deletes(spark, root, F.col("id") < 2)
    monkeypatch.setattr(ice, "_commit_metadata", real)
    # no delete ever applied; the foreign head is intact
    meta, _ = ice._load_meta(os.path.join(root, "metadata"))
    assert meta["properties"]["writer"] == "other-engine"


# ----------------------------- 3. Delta rewrite TOCTOU (entry version+1)


def _interleave_before_stage(monkeypatch, spark, root, winner):
    """Run ``winner`` once, immediately BEFORE the next _stage_append's
    fresh replay — the window the round-7 advisor flagged: the winning
    commit bumps the version _stage_append would re-derive, so a verb
    that trusts that version absorbs the winner without a CAS trip."""
    real = dl._stage_append
    fired = {"n": 0}

    def staged(*args, **kwargs):
        if fired["n"] == 0:
            fired["n"] = 1
            winner()
        return real(*args, **kwargs)

    monkeypatch.setattr(dl, "_stage_append", staged)
    return fired


def test_repartition_recomputes_when_writer_lands_during_staging(
    spark, tmp_path, monkeypatch
):
    root = str(tmp_path / "repart_race")
    write_delta_append(_df(spark, 0, 4, "d1"), root)

    fired = _interleave_before_stage(
        monkeypatch,
        spark,
        root,
        lambda: write_delta_append(_df(spark, 900, 902, "d2"), root),
    )
    repartition_delta_table(spark, root, ("day",))
    assert fired["n"] == 1

    state = dl._replay_state(os.path.join(root, "_delta_log"))
    assert (state["meta"].get("partitionColumns") or []) == ["day"]
    # EVERY live file carries new-layout partitionValues — the pre-fix
    # outcome left the winner's files live with partitionValues={}
    for rel, add in state["live"].items():
        assert set(add.get("partitionValues") or {}) == {"day"}, rel
    assert _rows(spark, root) == sorted(
        [(i, f"v{i}", "d1") for i in range(4)]
        + [(i, f"v{i}", "d2") for i in (900, 901)]
    )


def test_cow_update_surfaces_when_optimize_lands_during_staging(
    spark, tmp_path, monkeypatch
):
    root = str(tmp_path / "cow_race")
    write_delta_append(_df(spark, 0, 3).coalesce(1), root)
    write_delta_append(_df(spark, 3, 6).coalesce(1), root)

    _interleave_before_stage(
        monkeypatch,
        spark,
        root,
        lambda: optimize_delta_table(spark, root),
    )
    # the interleaved OPTIMIZE rewrote the touched files: validation
    # must surface (pre-fix: silently absorbed -> our removes reference
    # files optimize already tombstoned, its compacted file keeps the
    # pre-update rows -> duplicates)
    with pytest.raises(DeltaCommitConflict):
        update_delta_rows(spark, root, "id = 0", {"val": "'U'"})
    monkeypatch.undo()

    rows = _rows(spark, root)
    assert [r[0] for r in rows] == list(range(6))  # no duplicates
    assert rows[0][1] == "v0"  # update never half-applied


# ------------------------------- 4. DV bins cleaned on failed validation


def test_failed_mor_delete_cleans_its_deletion_vector_bin(
    spark, tmp_path, monkeypatch
):
    root = str(tmp_path / "dv_clean")
    write_delta_append(_df(spark, 0, 3).coalesce(1), root)
    write_delta_append(_df(spark, 3, 6).coalesce(1), root)

    real = dl._commit_version
    fired = {"n": 0}

    def racing(log_dir, version, actions):
        if fired["n"] == 0:
            fired["n"] = 1
            monkeypatch.setattr(dl, "_commit_version", real)
            try:
                optimize_delta_table(spark, root)  # rewrites touched files
            finally:
                monkeypatch.setattr(dl, "_commit_version", racing)
        return real(log_dir, version, actions)

    monkeypatch.setattr(dl, "_commit_version", racing)
    with pytest.raises(DeltaCommitConflict):
        delete_delta_rows(spark, root, "id = 1")
    monkeypatch.setattr(dl, "_commit_version", real)

    # the failed MOR attempt's DV bin must not strand as an orphan
    assert glob(os.path.join(root, "**", "deletion_vector_*.bin"),
                recursive=True) == []
    assert [r[0] for r in _rows(spark, root)] == list(range(6))
