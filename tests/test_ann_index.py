"""Persisted IVF ANN index (operators/ann_index.py): build/append/query
lifecycle, exact parity with the batch operator, driver-side partition
pruning (proved with a corrupt non-probed cell), idempotent appends, and
recall against brute force."""

from __future__ import annotations

import glob
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from mysoftware_nocnetintel_spark.operators import ann_index as AI
from mysoftware_nocnetintel_spark.operators.similarity import (
    brute_force_topk,
    ivf_assign,
    ivf_topk,
)

DIM = 8
N = 200


def _corpus_rows(n=N, seed=7):
    rng = np.random.default_rng(seed)
    # clustered corpus so IVF cells are meaningful
    centers = rng.normal(size=(4, DIM))
    rows = []
    for i in range(n):
        c = centers[i % 4]
        rows.append((i, (c + 0.1 * rng.normal(size=DIM)).astype(float).tolist()))
    return rows


def _corpus(spark):
    return spark.createDataFrame(
        _corpus_rows(), "vec_id bigint, embedding array<double>"
    )


def _queries(spark, n=5):
    rows = [(100 + i, v) for i, (_, v) in enumerate(_corpus_rows(n, seed=9))]
    return spark.createDataFrame(rows, "qid bigint, qv array<double>")


def test_build_and_query_matches_batch_operator(spark, tmp_path):
    """The persisted path must return IDENTICAL rows to similarity.ivf_topk
    with the same centroids (same probes, same scoring, same tie-break)."""
    path = str(tmp_path / "ivf")
    corpus = _corpus(spark)
    AI.build_ivf_index(corpus, path, n_cells=8)
    queries = _queries(spark)
    got = {
        (r.qid, r.vec_id, r.rn)
        for r in AI.query_ivf_index(spark, queries, path, k=5, nprobe=3).collect()
    }
    cents = [(i, c) for i, c in enumerate(AI.read_ann_params(path)["centroids"])]
    assigned = ivf_assign(corpus, cents, "embedding")
    want = {
        (r.qid, r.vec_id, r.rn)
        for r in ivf_topk(
            assigned, cents, queries, k=5, nprobe=3
        ).collect()
    }
    assert got == want and len(got) == 25


def test_partition_pruning_never_opens_unprobed_cells(spark, tmp_path):
    """Corrupt every parquet file of the cells a query does NOT probe: the
    query must still succeed — proof the pruned files are never opened."""
    path = str(tmp_path / "ivf")
    AI.build_ivf_index(_corpus(spark), path, n_cells=8)
    queries = _queries(spark, n=1)
    qrows = [(r.qid, list(r.qv)) for r in queries.collect()]
    probes = AI._probe_cells_np(
        qrows, AI.read_ann_params(path)["centroids"], 2
    )
    probed = {c for cs in probes.values() for c in cs}
    corrupted = 0
    for d in glob.glob(os.path.join(path, "cell=*")):
        cell = int(d.rsplit("=", 1)[1])
        if cell in probed:
            continue
        for fpath in glob.glob(os.path.join(d, "*.parquet")):
            with open(fpath, "wb") as f:
                f.write(b"corrupt")
            corrupted += 1
    assert corrupted > 0  # the test must actually plant damage
    got = AI.query_ivf_index(spark, queries, path, k=3, nprobe=2).collect()
    assert len(got) == 3


def test_recall_against_brute_force(spark, tmp_path):
    path = str(tmp_path / "ivf")
    corpus = _corpus(spark)
    AI.build_ivf_index(corpus, path, n_cells=8)
    queries = _queries(spark)
    ann = AI.query_ivf_index(spark, queries, path, k=5, nprobe=4)
    exact = brute_force_topk(corpus, queries, k=5)
    a = {(r.qid, r.vec_id) for r in ann.collect()}
    e = {(r.qid, r.vec_id) for r in exact.collect()}
    assert len(a & e) / len(e) >= 0.8


def test_append_assigns_under_pinned_centroids_and_is_idempotent(
    spark, tmp_path
):
    path = str(tmp_path / "ivf")
    AI.build_ivf_index(_corpus(spark), path, n_cells=8)
    newv = spark.createDataFrame(
        [(500, _corpus_rows(1, seed=3)[0][1])],
        "vec_id bigint, embedding array<double>",
    )
    v1 = AI.append_to_ivf_index(newv, path, txn=("annfeed", 0))
    v2 = AI.append_to_ivf_index(newv, path, txn=("annfeed", 0))  # replay
    assert v2 == v1
    from mysoftware_nocnetintel_spark.sources.readers import read_delta_snapshot

    idx = read_delta_snapshot(spark, path)
    rows = idx.filter(F.col("vec_id") == 500).collect()
    assert len(rows) == 1
    # the appended vector is findable
    q = spark.createDataFrame(
        [(9, rows[0].embedding)], "qid bigint, qv array<double>"
    )
    got = AI.query_ivf_index(spark, q, path, k=1, nprobe=2).collect()
    assert got[0].vec_id == 500


def test_rebuild_refused_and_oversized_batch_rejected(spark, tmp_path):
    path = str(tmp_path / "ivf")
    AI.build_ivf_index(_corpus(spark), path, n_cells=4)
    with pytest.raises(ValueError, match="already exists"):
        AI.build_ivf_index(_corpus(spark), path, n_cells=4)
    orig = AI._MAX_SERVING_QUERIES
    AI._MAX_SERVING_QUERIES = 2
    try:
        with pytest.raises(ValueError, match="serving batch"):
            AI.query_ivf_index(spark, _queries(spark, n=5), path)
    finally:
        AI._MAX_SERVING_QUERIES = orig


def test_rebuild_is_refused_before_the_fit(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "ivf")
    AI.build_ivf_index(_corpus(spark), path, n_cells=4)

    def no_fit(*args, **kwargs):
        raise AssertionError("k-means fit ran on an existing index")

    monkeypatch.setattr(AI, "ivf_centroids", no_fit)
    with pytest.raises(ValueError, match="already exists"):
        AI.build_ivf_index(_corpus(spark), path, n_cells=4)


def test_query_plan_has_no_cartesian(spark, tmp_path):
    path = str(tmp_path / "ivf")
    AI.build_ivf_index(_corpus(spark), path, n_cells=4)
    df = AI.query_ivf_index(spark, _queries(spark, n=2), path, k=3, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_iceberg_format_parity_and_pruning(spark, tmp_path):
    """The ANN index rides Iceberg identically: same top-k as the Delta
    build of the same corpus, and the partition-pruning proof holds (the
    typed partition record prunes manifest entries driver-side)."""
    ice, dlt = str(tmp_path / "ice"), str(tmp_path / "dlt")
    corpus = _corpus(spark)
    AI.build_ivf_index(corpus, ice, n_cells=8, table_format="iceberg")
    AI.build_ivf_index(corpus, dlt, n_cells=8, table_format="delta")
    assert AI.read_ann_params(ice)["table_format"] == "iceberg"
    queries = _queries(spark)
    got_i = {
        (r.qid, r.vec_id, r.rn)
        for r in AI.query_ivf_index(spark, queries, ice, k=5, nprobe=3).collect()
    }
    got_d = {
        (r.qid, r.vec_id, r.rn)
        for r in AI.query_ivf_index(spark, queries, dlt, k=5, nprobe=3).collect()
    }
    assert got_i == got_d and len(got_i) == 25
    # idempotent append under the pinned format (before the corruption
    # pass below — this check reads the whole table)
    newv = spark.createDataFrame(
        [(700, _corpus_rows(1, seed=5)[0][1])],
        "vec_id bigint, embedding array<double>",
    )
    v1 = AI.append_to_ivf_index(newv, ice, txn=("annice", 0))
    v2 = AI.append_to_ivf_index(newv, ice, txn=("annice", 0))
    assert v1 == v2
    from mysoftware_nocnetintel_spark.sources.readers import (
        read_iceberg_snapshot,
    )

    assert read_iceberg_snapshot(spark, ice).filter("vec_id = 700").count() == 1
    # pruning proof: corrupt every data file of unprobed cells (Iceberg
    # partition records live in the MANIFESTS, not the paths — resolve
    # each file's cell through the snapshot listing)
    from mysoftware_nocnetintel_spark.sources.readers import (
        _iceberg_snapshot_files,
    )

    q1 = _queries(spark, n=1)
    qrows = [(r.qid, list(r.qv)) for r in q1.collect()]
    probes = AI._probe_cells_np(qrows, AI.read_ann_params(ice)["centroids"], 2)
    probed = {c for cs in probes.values() for c in cs}
    data_files = _iceberg_snapshot_files(ice, None, None)[0]
    corrupted = 0
    for e in data_files:
        if int((e.partition or {}).get("cell")) in probed:
            continue
        with open(e.path, "wb") as f:
            f.write(b"corrupt")
        corrupted += 1
    assert corrupted > 0
    got = AI.query_ivf_index(spark, q1, ice, k=3, nprobe=2).collect()
    assert len(got) == 3


def test_string_ids_supported(spark, tmp_path):
    """id columns are not forced to bigint: string vec_ids index, string
    qids serve, and the all-empty-cells result keeps both types."""
    path = str(tmp_path / "strids")
    rows = [(f"doc-{i}", v) for i, v in _corpus_rows(30)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    AI.build_ivf_index(df, path, n_cells=4)
    q = spark.createDataFrame(
        [("q-1", rows[0][1])], "qid string, qv array<double>"
    )
    got = AI.query_ivf_index(spark, q, path, k=2, nprobe=2).collect()
    assert got[0].qid == "q-1" and got[0].vec_id == "doc-0"
    assert got[0].score >= 1 - 1e-9
