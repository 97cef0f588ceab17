"""The ingestion gate signs each batch ONCE (streaming/ops.dedup_gate_batch):
the checkpointed MinHash proxy that decides the verdicts is also what the
index registers, so registration never re-shingles the novel text. The
gate's local-checkpoint proxies are released when it returns or raises.

Default-tier companion of the slow test_dedup_gate_stream.py suite."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mysoftware_nocnetintel_spark.operators import dedup
from mysoftware_nocnetintel_spark.operators import dedup_index as DI
from mysoftware_nocnetintel_spark.operators.dedup import minhash_signatures
from mysoftware_nocnetintel_spark.operators.dedup_index import (
    build_minhash_index,
)
from mysoftware_nocnetintel_spark.sources.delta import write_delta_append
from mysoftware_nocnetintel_spark.sources.readers import read_delta_snapshot
from mysoftware_nocnetintel_spark.streaming.ops import dedup_gate_batch

from .test_delta_merge_probe import _dir_state

SCHEMA = "doc_id bigint, text string"
SEED = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "pyspark structured streaming processes unbounded data in micro batches"),
]
NOVEL_A = "a genuinely novel document about subterranean mushrooms and caves"
BATCH = [
    (10, SEED[0][1]),  # re-delivered text of an indexed doc
    (1, SEED[1][1]),  # re-delivery of indexed doc 1 under its own id
    (11, SEED[0][1].rsplit(" ", 1)[0]),  # near-dup of doc 0
    (12, NOVEL_A),  # in-batch duplicate pair: keep-one keeps 12
    (13, NOVEL_A),
    (14, "telemetry from the core router shows rising optical error counts"),
    (15, "field engineers replaced the line card after the outage window"),
    (16, "too short"),  # zero shingles at k=3
]
NOVEL_SIGNED = [12, 14, 15]


def _setup(spark, tmp_path):
    corpus, index = str(tmp_path / "corpus"), str(tmp_path / "index")
    seed = spark.createDataFrame(SEED, SCHEMA)
    write_delta_append(seed, corpus)
    build_minhash_index(seed, index)
    return corpus, index


def _sig_rows(df):
    return {(r.doc, tuple(r.sig)) for r in df.collect()}


@pytest.mark.parametrize("short_docs", ["ingest", "drop"])
def test_gate_registers_exactly_the_novel_signatures(
    spark, tmp_path, short_docs
):
    corpus, index = _setup(spark, tmp_path)
    batch = spark.createDataFrame(BATCH, SCHEMA)
    dedup_gate_batch(batch, 0, corpus, index, app_id="g", threshold=0.5,
                     short_docs=short_docs)

    novel_ids = NOVEL_SIGNED + ([16] if short_docs == "ingest" else [])
    corpus_ids = sorted(
        r.doc_id for r in read_delta_snapshot(spark, corpus).collect()
    )
    assert corpus_ids == sorted([0, 1] + novel_ids)
    novel = batch.filter(F.col("doc_id").isin(novel_ids))
    registered = {
        r for r in _sig_rows(read_delta_snapshot(spark, index))
        if r[0] not in (0, 1)
    }
    assert registered == _sig_rows(minhash_signatures(novel, "doc_id", "text"))
    assert sorted(d for d, _ in registered) == NOVEL_SIGNED

    # an at-least-once replay of the same batch id changes neither table
    before = _dir_state(corpus), _dir_state(index)
    dedup_gate_batch(batch, 0, corpus, index, app_id="g", threshold=0.5,
                     short_docs=short_docs)
    assert (_dir_state(corpus), _dir_state(index)) == before


def test_gate_keeps_each_row_of_a_repeated_id(spark, tmp_path):
    """One id on two rows: the corpus gets both rows; the id has one
    signature (MinHash signs per id), registered once, as the build
    registers it."""
    corpus, index = _setup(spark, tmp_path)
    rows = [(20, NOVEL_A), (20, NOVEL_A + " again")]
    batch = spark.createDataFrame(rows, SCHEMA)
    dedup_gate_batch(batch, 0, corpus, index, app_id="g", threshold=0.5)
    corpus_rows = read_delta_snapshot(spark, corpus).where("doc_id = 20")
    assert sorted(r.text for r in corpus_rows.collect()) == sorted(
        t for _, t in rows
    )
    registered = read_delta_snapshot(spark, index).where("doc = 20")
    assert _sig_rows(registered) == _sig_rows(
        minhash_signatures(batch, "doc_id", "text")
    )
    assert registered.count() == 1


def test_gate_shingles_the_batch_once(spark, tmp_path, monkeypatch):
    corpus, index = _setup(spark, tmp_path)
    calls = []
    real = dedup.shingle_posting_rows

    def counting(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(dedup, "shingle_posting_rows", counting)
    batch = spark.createDataFrame(BATCH, SCHEMA)
    dedup_gate_batch(batch, 0, corpus, index, app_id="g", threshold=0.5)
    assert len(calls) == 1


def _stored_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_gate_releases_its_proxies_on_return_and_on_raise(
    spark, tmp_path, monkeypatch
):
    corpus, index = _setup(spark, tmp_path)
    before = _stored_rdds(spark)
    for bid in range(3):
        batch = spark.createDataFrame(
            [(100 * (bid + 1) + d, t) for d, t in BATCH], SCHEMA
        )
        dedup_gate_batch(batch, bid, corpus, index, app_id="g", threshold=0.5)
    assert _stored_rdds(spark) <= before

    def refuse(*args, **kwargs):
        raise RuntimeError("index commit refused")

    monkeypatch.setattr(DI, "append_to_minhash_index", refuse)
    batch = spark.createDataFrame([(900 + d, t) for d, t in BATCH], SCHEMA)
    with pytest.raises(RuntimeError, match="refused"):
        dedup_gate_batch(batch, 9, corpus, index, app_id="g", threshold=0.5)
    assert _stored_rdds(spark) <= before
