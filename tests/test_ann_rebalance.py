"""IVF index REBALANCE (round 9): hot-cell splits with the sidecar swap
as the atomic visibility switch. Real embedding distributions are
lumpy; one hot cell breaks the nprobe/n_cells cost model, and the fix
must move ONLY the hot cell's vectors (incremental maintenance) while
serving stays correct at every instant of the operation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mysoftware_nocnetintel_spark.operators import ann_index as AI
from mysoftware_nocnetintel_spark.sources.readers import (
    read_delta_snapshot,
    read_iceberg_snapshot,
)

DIM = 8


def _corpus_rows():
    """Deterministic lumpy corpus: 150 vectors in one tight blob (the
    hot cell), 50 spread far apart — k-means puts one centroid on the
    blob and the rest among the spread."""
    rows = []
    for i in range(150):  # tight blob around (10, 10, ...)
        eps = (i % 7) * 1e-3
        rows.append((i, [10.0 + eps, 10.0 - eps] + [0.5] * (DIM - 2)))
    for i in range(150, 200):  # well-separated spread
        j = i - 150
        rows.append(
            (
                i,
                [float(5 * (j % 8)) - 20.0, float(5 * (j // 8)) + 20.0]
                + [float((j * 3) % 11) - 5.0] * (DIM - 2),
            )
        )
    return rows


def _build(spark, tmp_path, fmt):
    df = spark.createDataFrame(
        _corpus_rows(), "vec_id bigint, embedding array<double>"
    )
    path = str(tmp_path / f"ann_{fmt}")
    AI.build_ivf_index(df, path, n_cells=4, table_format=fmt)
    return df, path


def _queries(spark, n=6):
    rows = [(qid, vec) for qid, vec in _corpus_rows()[:n]]
    return spark.createDataFrame(
        rows, "qid bigint, qv array<double>"
    )


def _topk(spark, path, k=3):
    """Exhaustive serving (nprobe = all live cells) — exact results, so
    pre/post-rebalance outputs must be IDENTICAL row-for-row."""
    p = AI.read_ann_params(path)
    nprobe = len(AI._live_centroids(p))
    return sorted(
        (r.qid, r.rn, r.vec_id, round(r.score, 9))
        for r in AI.query_ivf_index(
            spark, _queries(spark), path, k=k, nprobe=nprobe
        ).collect()
    )


def _cell_counts(spark, path, fmt):
    rdr = read_delta_snapshot if fmt == "delta" else read_iceberg_snapshot
    return {
        int(r["cell"]): int(r["n"])
        for r in rdr(spark, path)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_rebalance_splits_hot_cell_and_serving_is_identical(
    spark, tmp_path, fmt
):
    _df, path = _build(spark, tmp_path, fmt)
    before_counts = _cell_counts(spark, path, fmt)
    hot = max(before_counts, key=before_counts.get)
    hot_n = before_counts[hot]
    assert hot_n >= 150, before_counts  # the blob (plus strays) is one cell
    before = _topk(spark, path)

    report = AI.rebalance_ivf_index(spark, path)  # default 2x-mean gate
    assert list(report["split"].keys()) == [hot]
    new_ids = report["split"][hot]
    assert len(new_ids) == 2 and report["moved"] == hot_n

    p = AI.read_ann_params(path)
    assert p["centroids"][hot] is None  # retired, identity preserved
    assert len(p["centroids"]) == 4 + 2
    after_counts = _cell_counts(spark, path, fmt)
    assert hot not in after_counts  # parent rows GC'd
    assert sum(after_counts.get(c, 0) for c in new_ids) == hot_n
    assert all(after_counts.get(c, 0) < hot_n for c in new_ids)
    assert sum(after_counts.values()) == 200  # nothing lost, nothing duped

    # exhaustive serving before == after (the index is the same corpus)
    assert _topk(spark, path) == before

    # untouched cells kept their files: only the hot partition changed
    quiet = [c for c in before_counts if c != hot]
    for c in quiet:
        assert after_counts.get(c) == before_counts[c]


def test_append_after_rebalance_never_targets_retired_cell(
    spark, tmp_path
):
    _df, path = _build(spark, tmp_path, "delta")
    hot = max(_cell_counts(spark, path, "delta").items(), key=lambda kv: kv[1])[0]
    AI.rebalance_ivf_index(spark, path)
    fresh = spark.createDataFrame(
        [(1000 + i, [10.0 + i * 1e-4, 10.0] + [0.5] * (DIM - 2))
         for i in range(5)],
        "vec_id bigint, embedding array<double>",
    )
    AI.append_to_ivf_index(fresh, path)
    counts = _cell_counts(spark, path, "delta")
    assert hot not in counts, "append routed vectors into a retired cell"
    assert sum(counts.values()) == 205
    # and the appended vectors are servable (self-hit at rank 1)
    q = spark.createDataFrame(
        [(1000, [10.0, 10.0] + [0.5] * (DIM - 2))],
        "qid bigint, qv array<double>",
    )
    got = AI.query_ivf_index(spark, q, path, k=3, nprobe=2).collect()
    assert got and got[0].rn == 1


def test_crash_before_sidecar_swap_is_invisible_then_converges(
    spark, tmp_path, monkeypatch
):
    """Crash window 2->3: vectors were appended under new cell ids but
    the sidecar never swapped. Serving MUST be byte-identical to
    pre-rebalance (the new cells are not in the sidecar, so partition
    pruning never opens them — no duplicates), and a rerun converges
    without double-appending (idempotent txns)."""
    _df, path = _build(spark, tmp_path, "delta")
    before = _topk(spark, path)

    real_replace = AI.index_store.os.replace

    def exploding_replace(src, dst):
        if dst.endswith(AI._PARAMS_FILE):
            raise RuntimeError("injected crash before sidecar swap")
        return real_replace(src, dst)

    monkeypatch.setattr(AI.index_store.os, "replace", exploding_replace)
    with pytest.raises(RuntimeError, match="injected crash"):
        AI.rebalance_ivf_index(spark, path)
    monkeypatch.setattr(AI.index_store.os, "replace", real_replace)

    # duplicates exist ON DISK (parent + new cells)...
    hot_n = max(_cell_counts(spark, path, "delta").values())
    assert sum(_cell_counts(spark, path, "delta").values()) == 200 + hot_n
    # ...but serving is unchanged and duplicate-free
    mid = _topk(spark, path)
    assert mid == before
    seen = [(q, v) for q, _, v, _ in mid]
    assert len(seen) == len(set(seen)), "duplicate vec_id served"

    # rerun: the GHOST sweep deletes the crashed run's rows first, the
    # txn HIGH-WATER skip then fires on the re-append (same app, same
    # first-sub-id version) — and the rescue pass re-moves the ENTIRE
    # parent because the sub-cells are empty. The skip can never strand
    # vectors (round-9 review finding 1).
    report = AI.rebalance_ivf_index(spark, path)
    assert report["moved"] == hot_n
    assert report["rescued"] == hot_n, report  # rescue-all after skip
    assert sum(_cell_counts(spark, path, "delta").values()) == 200
    assert _topk(spark, path) == before


def test_crash_before_parent_gc_is_swept_by_next_run(
    spark, tmp_path, monkeypatch
):
    """Crash window 3->4: sidecar swapped but parent rows not deleted.
    The dead rows are unprobeable (retired cells are never probed), and
    the NEXT run's sweep removes them."""
    _df, path = _build(spark, tmp_path, "delta")
    before = _topk(spark, path)
    hot, hot_n = max(
        _cell_counts(spark, path, "delta").items(), key=lambda kv: kv[1]
    )

    real_delete = AI._delete_cells
    calls = {"n": 0}

    def crashing_delete(spark_, path_, fmt_, cells_, **kw):
        if cells_ == [hot] or cells_ == sorted([hot]):
            calls["n"] += 1
            raise RuntimeError("injected crash before parent GC")
        return real_delete(spark_, path_, fmt_, cells_, **kw)

    monkeypatch.setattr(AI, "_delete_cells", crashing_delete)
    with pytest.raises(RuntimeError, match="injected crash"):
        AI.rebalance_ivf_index(spark, path)
    monkeypatch.setattr(AI, "_delete_cells", real_delete)
    assert calls["n"] == 1

    # sidecar DID swap: serving routes to the sub-cells, dead parent
    # rows are unreachable, results unchanged and duplicate-free
    assert AI.read_ann_params(path)["centroids"][hot] is None
    assert sum(_cell_counts(spark, path, "delta").values()) == 200 + hot_n
    assert _topk(spark, path) == before

    # next run (threshold high enough that nothing re-splits): the
    # sweep GCs the dead parent rows first
    report = AI.rebalance_ivf_index(spark, path, max_rows_per_cell=10_000)
    assert report["split"] == {} and report["gc_cells"] == [hot]
    assert sum(_cell_counts(spark, path, "delta").values()) == 200
    assert _topk(spark, path) == before


def test_rebalance_noop_below_threshold(spark, tmp_path):
    _df, path = _build(spark, tmp_path, "delta")
    report = AI.rebalance_ivf_index(spark, path, max_rows_per_cell=10_000)
    assert report == {
        "split": {}, "moved": 0, "rescued": 0, "gc_cells": [],
        "unsplittable": [],
    }
    assert len(AI.read_ann_params(path)["centroids"]) == 4


def test_unsplittable_blob_is_left_alone(spark, tmp_path):
    """A cell of IDENTICAL vectors cannot be improved by splitting —
    k-means routes every vector to one sub. The verb must refuse the
    split (or it would retire the parent for an identically-hot child
    and grow the centroid list forever across runs)."""
    rows = [(i, [3.0, 4.0] + [1.0] * (DIM - 2)) for i in range(80)]
    rows += [
        (100 + j, [-50.0, 60.0] + [7.0] * (DIM - 2)) for j in range(4)
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    path = str(tmp_path / "blob")
    AI.build_ivf_index(df, path, n_cells=2, table_format="delta")
    counts = _cell_counts(spark, path, "delta")
    hot = max(counts, key=counts.get)
    assert counts[hot] == 80  # the identical blob, pure
    report = AI.rebalance_ivf_index(spark, path, max_rows_per_cell=50)
    assert report["split"] == {} and hot in report["unsplittable"]
    p = AI.read_ann_params(path)
    assert p["centroids"][hot] is not None  # NOT retired
    assert len(p["centroids"]) == 2  # centroid list did not grow
    assert _cell_counts(spark, path, "delta") == counts  # nothing moved


def test_concurrent_append_in_swap_window_is_rescued(
    spark, tmp_path, monkeypatch
):
    """The race the rescue pass exists for: an append commits INTO the
    parent cell between the rebalance's parent read and the sidecar
    swap (it was assigned under the old sidecar, where the parent was
    still live). Without the rescue, the parent GC would delete those
    vectors. Simulated by hooking the sidecar swap to inject the late
    rows first."""
    _df, path = _build(spark, tmp_path, "delta")
    counts0 = _cell_counts(spark, path, "delta")
    hot = max(counts0, key=counts0.get)

    late = spark.createDataFrame(
        [(9000 + i, [10.0 + i * 1e-4, 10.0] + [0.5] * (DIM - 2))
         for i in range(4)],
        "vec_id bigint, embedding array<double>",
    ).withColumn("cell", AI.F.lit(hot).cast("int")).select(
        "cell", "vec_id", "embedding"
    )

    real_replace = AI.index_store.os.replace
    fired = {"n": 0}

    def racing_replace(src, dst):
        if dst.endswith(AI._PARAMS_FILE) and fired["n"] == 0:
            fired["n"] = 1
            # the concurrent appender's commit, assigned under the OLD
            # sidecar (parent still live), landing just before the swap
            AI.index_store.append(late, path, "delta")
        return real_replace(src, dst)

    monkeypatch.setattr(AI.index_store.os, "replace", racing_replace)
    report = AI.rebalance_ivf_index(spark, path)
    monkeypatch.setattr(AI.index_store.os, "replace", real_replace)
    assert fired["n"] == 1
    assert report["rescued"] == 4, report

    counts = _cell_counts(spark, path, "delta")
    assert hot not in counts  # parent fully GC'd
    assert sum(counts.values()) == 204  # nothing lost, nothing duped
    # the late vectors are servable from the sub-cells
    q = spark.createDataFrame(
        [(9000, [10.0, 10.0] + [0.5] * (DIM - 2))],
        "qid bigint, qv array<double>",
    )
    got = AI.query_ivf_index(spark, q, path, k=204, nprobe=2).collect()
    assert {9000, 9001, 9002, 9003} <= {r.vec_id for r in got}


def test_crash_between_swap_and_rescue_is_rescued_by_sweep(
    spark, tmp_path, monkeypatch
):
    """Round-9 review finding 2: late arrivals that raced the swap, with
    the process crashing BEFORE the rescue pass, sit in the retired
    parent. The next run's sweep must RESCUE them (anti-join against the
    recorded sub-cells) before deleting — a blind delete would lose
    them."""
    _df, path = _build(spark, tmp_path, "delta")
    counts0 = _cell_counts(spark, path, "delta")
    hot = max(counts0, key=counts0.get)

    late = spark.createDataFrame(
        [(9100 + i, [10.0 + i * 1e-4, 10.0] + [0.5] * (DIM - 2))
         for i in range(3)],
        "vec_id bigint, embedding array<double>",
    ).withColumn("cell", AI.F.lit(hot).cast("int")).select(
        "cell", "vec_id", "embedding"
    )

    real_replace = AI.index_store.os.replace
    real_rescue = AI._rescue_then_gc
    state = {"swapped": 0}

    def racing_replace(src, dst):
        if dst.endswith(AI._PARAMS_FILE) and state["swapped"] == 0:
            state["swapped"] = 1
            AI.index_store.append(late, path, "delta")  # the in-window racer
        return real_replace(src, dst)

    def crashing_rescue(*a, **kw):
        raise RuntimeError("injected crash before rescue")

    monkeypatch.setattr(AI.index_store.os, "replace", racing_replace)
    monkeypatch.setattr(AI, "_rescue_then_gc", crashing_rescue)
    with pytest.raises(RuntimeError, match="injected crash"):
        AI.rebalance_ivf_index(spark, path)
    monkeypatch.setattr(AI.index_store.os, "replace", real_replace)
    monkeypatch.setattr(AI, "_rescue_then_gc", real_rescue)

    # sidecar swapped; parent retired with original + late rows on disk
    assert AI.read_ann_params(path)["centroids"][hot] is None
    # next run: the sweep rescues the 3 late vectors, then GCs the cell
    report = AI.rebalance_ivf_index(spark, path, max_rows_per_cell=10_000)
    assert report["gc_cells"] == [hot]
    assert report["rescued"] == 3, report
    counts = _cell_counts(spark, path, "delta")
    assert hot not in counts
    assert sum(counts.values()) == 203  # nothing lost, nothing duped
    q = spark.createDataFrame(
        [(9100, [10.0, 10.0] + [0.5] * (DIM - 2))],
        "qid bigint, qv array<double>",
    )
    got = AI.query_ivf_index(spark, q, path, k=203, nprobe=2).collect()
    assert {9100, 9101, 9102} <= {r.vec_id for r in got}


# ------------------------------------ round 10: metadata-only pinned GC


def _table_data_files(path):
    import glob as g
    import os

    return {
        p
        for p in g.glob(os.path.join(path, "**", "*.parquet"),
                        recursive=True)
        if "_delta_log" not in p
        and os.sep + "metadata" + os.sep not in p
    }


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_gc_over_row_cap_is_metadata_only(spark, tmp_path, monkeypatch, fmt):
    """Round-10 verdict task 1: the rebalance GC is a METADATA-ONLY
    partition drop, so a cell FAR larger than the row-level delete caps
    GCs fine. The caps are injected test-scale (2 rows << the 150-row
    hot cell) — if the GC still routed through delete_delta_rows /
    write_iceberg_position_deletes it would refuse — and the drop must
    rewrite or delete no data file (every pre-rebalance file survives
    on disk as history until expire/vacuum)."""
    from mysoftware_nocnetintel_spark.sources import delta as D
    from mysoftware_nocnetintel_spark.sources import iceberg as I

    monkeypatch.setattr(D, "_MAX_DELETE_POSITIONS", 2)
    monkeypatch.setattr(I, "_MAX_DELETE_ROWS", 2)

    _df, path = _build(spark, tmp_path, fmt)
    before_files = _table_data_files(path)
    before_serving = _topk(spark, path)
    counts0 = _cell_counts(spark, path, fmt)
    hot = max(counts0, key=counts0.get)
    assert counts0[hot] > 2  # the planted cell exceeds the injected cap

    report = AI.rebalance_ivf_index(spark, path)
    assert hot in report["split"]
    counts = _cell_counts(spark, path, fmt)
    assert hot not in counts and sum(counts.values()) == 200
    # METADATA-ONLY: every pre-rebalance data file is still on disk
    assert before_files <= _table_data_files(path)
    # serving identical (exhaustive probe pre/post)
    assert _topk(spark, path) == before_serving


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_append_racing_rescue_read_survives_pinned_gc(
    spark, tmp_path, monkeypatch, fmt
):
    """Round-10 advisor HIGH: an append committing BETWEEN the rescue
    read and the GC delete used to be masked un-rescued (the fresh-scan
    delete saw files the rescue's snapshot never read). The GC is now
    PINNED to the rescue read's file list, so the racer's file is
    untouched, its rows survive in the retired parent, and the NEXT
    run's sweep rescues them — loss-free at every commit point."""
    _df, path = _build(spark, tmp_path, fmt)
    before_serving = _topk(spark, path)
    counts0 = _cell_counts(spark, path, fmt)
    hot = max(counts0, key=counts0.get)

    racer = spark.createDataFrame(
        [(9500 + i, [10.0 + i * 1e-4, 10.0] + [0.5] * (DIM - 2))
         for i in range(3)],
        "vec_id bigint, embedding array<double>",
    ).withColumn("cell", AI.F.lit(hot).cast("int")).select(
        "cell", "vec_id", "embedding"
    )

    real_delete = AI._delete_cells
    fired = {"n": 0}

    def racing_delete(spark_, path_, fmt_, cells_, files_by_cell=None):
        # the EXACT advisory window: the rescue read's anti-join has
        # materialized (pinned file list in hand), the drop has not run
        if files_by_cell and fired["n"] == 0 and hot in files_by_cell:
            fired["n"] = 1
            AI.index_store.append(racer, path_, fmt_)
        return real_delete(
            spark_, path_, fmt_, cells_, files_by_cell=files_by_cell
        )

    monkeypatch.setattr(AI, "_delete_cells", racing_delete)
    AI.rebalance_ivf_index(spark, path)
    monkeypatch.setattr(AI, "_delete_cells", real_delete)
    assert fired["n"] == 1

    # the racer's rows SURVIVED the pinned drop, parked in the retired
    # parent (unprobeable — serving is still the pre-race corpus)
    counts = _cell_counts(spark, path, fmt)
    assert counts.get(hot) == 3, counts
    assert sum(counts.values()) == 203  # nothing lost
    assert _topk(spark, path) == before_serving

    # next run's sweep rescues them into the live sub-cells
    report = AI.rebalance_ivf_index(spark, path, max_rows_per_cell=10_000)
    assert report["rescued"] == 3 and report["gc_cells"] == [hot]
    counts = _cell_counts(spark, path, fmt)
    assert hot not in counts and sum(counts.values()) == 203
    q = spark.createDataFrame(
        [(9500, [10.0, 10.0] + [0.5] * (DIM - 2))],
        "qid bigint, qv array<double>",
    )
    got = AI.query_ivf_index(spark, q, path, k=203, nprobe=3).collect()
    assert {9500, 9501, 9502} <= {r.vec_id for r in got}
