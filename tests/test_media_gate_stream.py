"""Streaming MEDIA ingestion gate (streaming/ops.media_gate_batch /
media_gated_stream_append): micro-batches of image payloads are
perceptual-hash gated against the persisted Hamming index; novel media
lands in the corpus AND its signature registers — both exactly-once
under replay."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from mysoftware_nocnetintel_spark.operators import multimodal as MM
from mysoftware_nocnetintel_spark.operators.hamming_index import (
    build_hamming_index,
)
from mysoftware_nocnetintel_spark.sources.readers import read_delta_snapshot
from mysoftware_nocnetintel_spark.streaming.ops import (
    media_gate_batch,
    media_gated_stream_append,
)

SCHEMA = "doc_id bigint, media binary"


def _img(seed, size=16):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (size, size, 3), dtype=np.uint8)


def _signer(df):
    return (
        MM.image_hashes(df.select("doc_id", "media"), "media")
        .where(F.col("dhash").isNotNull())
        .select(F.col("doc_id").alias("doc"), F.col("dhash").alias("sig"))
    )


def _setup(spark, tmp_path):
    corpus_path = str(tmp_path / "corpus")
    index_path = str(tmp_path / "index")
    seed_rows = [(i, MM.png_encode(_img(i))) for i in range(3)]
    seed = spark.createDataFrame(seed_rows, SCHEMA)
    from mysoftware_nocnetintel_spark.sources.delta import write_delta_append

    write_delta_append(seed, corpus_path)
    build_hamming_index(_signer(seed), index_path, family="dhash")
    return corpus_path, index_path


def _corpus_ids(spark, corpus_path):
    return sorted(
        r.doc_id for r in read_delta_snapshot(spark, corpus_path).collect()
    )


def test_media_gate_filters_neardups_and_registers_novel(spark, tmp_path):
    corpus_path, index_path = _setup(spark, tmp_path)
    shifted = np.clip(_img(1).astype(np.int32) + 8, 0, 255).astype(np.uint8)
    batch = spark.createDataFrame(
        [
            (10, MM.png_encode(shifted)),      # near-dup of corpus img 1
            (11, MM.png_encode(_img(900))),    # novel
            (12, b"not an image at all"),      # undecodable -> passes
        ],
        SCHEMA,
    )
    media_gate_batch(
        batch, 0, corpus_path, index_path, app_id="mg",
        signer=_signer, family="dhash",
    )
    assert _corpus_ids(spark, corpus_path) == [0, 1, 2, 11, 12]
    idx = read_delta_snapshot(spark, index_path)
    assert sorted(r.doc for r in idx.collect()) == [0, 1, 2, 11]
    # replay of the same batch id: both txn skips fire
    media_gate_batch(
        batch, 0, corpus_path, index_path, app_id="mg",
        signer=_signer, family="dhash",
    )
    assert _corpus_ids(spark, corpus_path) == [0, 1, 2, 11, 12]
    assert read_delta_snapshot(spark, index_path).count() == 4


def test_media_gate_releases_its_proxies(spark, tmp_path):
    corpus_path, index_path = _setup(spark, tmp_path)
    rdds = spark.sparkContext._jsc.sc().getRDDStorageInfo
    before = len(rdds())
    for bid in range(3):
        batch = spark.createDataFrame(
            [(30 + bid, MM.png_encode(_img(950 + bid)))], SCHEMA
        )
        media_gate_batch(
            batch, bid, corpus_path, index_path, app_id="mgr",
            signer=_signer, family="dhash",
        )
    assert len(rdds()) <= before
    assert _corpus_ids(spark, corpus_path) == [0, 1, 2, 30, 31, 32]


def test_media_stream_end_to_end_available_now(spark, tmp_path):
    corpus_path, index_path = _setup(spark, tmp_path)
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([20, 21], pa.int64()),
                "media": pa.array(
                    [MM.png_encode(_img(2)), MM.png_encode(_img(901))],
                    pa.binary(),
                ),
            }
        ),
        str(src / "a.parquet"),
    )
    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    q = media_gated_stream_append(
        stream, corpus_path, index_path, str(tmp_path / "ckpt"),
        app_id="mgs", signer=_signer, family="dhash",
    )
    q.awaitTermination(120)
    # 20 is byte-identical to corpus img 2 -> gated; 21 novel -> ingested
    assert _corpus_ids(spark, corpus_path) == [0, 1, 2, 21]


# --------------------------------------------- round 9: two-gate fuzz


def test_two_media_gates_race_shared_index(spark, tmp_path):
    """Round-9 verdict task 7, Hamming twin: two MEDIA ingestion gates
    (two app_ids) race batches of distinct images against the SAME
    persisted Hamming index under the fault-injecting committer. After
    the race every admitted image's signature is registered (no lost
    updates), and a brightness-shifted re-encode of an image admitted by
    one gate is flagged by the OTHER gate's next batch."""
    import threading
    import time as _time

    from mysoftware_nocnetintel_spark.sources.catalog import (
        FaultInjectingCommitter,
        use_committer,
    )

    corpus_path, index_path = _setup(spark, tmp_path)

    def index_ids():
        return sorted(
            r.doc for r in read_delta_snapshot(spark, index_path).collect()
        )

    gates = {"mgateA": 1000, "mgateB": 2000}
    errs: list = []

    def run_gate(app_id: str, base: int) -> None:
        try:
            for k in range(2):
                batch = spark.createDataFrame(
                    [
                        (
                            base + 10 * k + j,
                            bytearray(MM.png_encode(_img(base + 10 * k + j))),
                        )
                        for j in range(2)
                    ],
                    SCHEMA,
                )
                media_gate_batch(
                    batch, k, corpus_path, index_path, app_id=app_id,
                    signer=_signer, family="dhash",
                )
                _time.sleep(0.01)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    double = FaultInjectingCommitter(
        spurious_conflict_rate=0.15, max_delay_s=0.01, seed=23
    )
    with use_committer(double):
        threads = [
            threading.Thread(target=run_gate, args=(a, b))
            for a, b in gates.items()
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    assert not errs, errs
    assert double.stats["injected_conflicts"] >= 1, "faults never fired"

    want = sorted(
        [0, 1, 2]
        + [b + 10 * k + j for b in gates.values() for k in range(2)
           for j in range(2)]
    )
    assert _corpus_ids(spark, corpus_path) == want
    assert index_ids() == want, "index lost a registration"

    # cross-gate visibility: perturbed re-encodes of the OTHER gate's
    # admitted images — every one must gate out against the shared index
    def _shifted(seed_id):
        img = np.clip(_img(seed_id).astype(np.int32) + 8, 0, 255).astype(
            np.uint8
        )
        return bytearray(MM.png_encode(img))

    cross = {
        "mgateB": [(9001, _shifted(1000)), (9002, _shifted(1011))],
        "mgateA": [(9003, _shifted(2000)), (9004, _shifted(2011))],
    }
    for app_id, rows in cross.items():
        media_gate_batch(
            spark.createDataFrame(rows, SCHEMA), 2, corpus_path,
            index_path, app_id=app_id, signer=_signer, family="dhash",
        )
    assert _corpus_ids(spark, corpus_path) == want, "cross-gate dup leaked"
    assert index_ids() == want


def test_media_gate_keeps_each_row_of_a_repeated_id(spark, tmp_path):
    """One id on two signed rows (a re-delivery inside one batch): the
    corpus gets both rows and the index both signatures, never their
    product."""
    corpus_path, index_path = _setup(spark, tmp_path)
    batch = spark.createDataFrame(
        [
            (40, MM.png_encode(_img(960))),
            (40, MM.png_encode(_img(961))),
            (41, MM.png_encode(_img(962))),
        ],
        SCHEMA,
    )
    media_gate_batch(
        batch, 0, corpus_path, index_path, app_id="mgk",
        signer=_signer, family="dhash",
    )
    assert _corpus_ids(spark, corpus_path) == [0, 1, 2, 40, 40, 41]
    idx = [(r.doc, r.sig) for r in read_delta_snapshot(spark, index_path).collect()]
    assert sorted(d for d, _ in idx) == [0, 1, 2, 40, 40, 41]
    assert sorted(s for d, s in idx if d == 40) == sorted(
        r.sig for r in _signer(batch).where("doc = 40").collect()
    )
