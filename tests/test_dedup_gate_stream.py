"""Streaming ingestion gate (streaming/ops.dedup_gate_batch /
dedup_gated_stream_append): micro-batches are near-dup gated against the
persisted MinHash index, novel docs land in the corpus Delta table AND
register in the index — both exactly-once under batch replay."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mysoftware_nocnetintel_spark.operators.dedup_index import (
    build_minhash_index,
)
from mysoftware_nocnetintel_spark.sources.readers import read_delta_snapshot
from mysoftware_nocnetintel_spark.streaming.ops import (
    dedup_gate_batch,
    dedup_gated_stream_append,
)

SEED = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "pyspark structured streaming processes unbounded data in micro batches"),
]
SCHEMA = "doc_id bigint, text string"


def _setup(spark, tmp_path):
    corpus_path = str(tmp_path / "corpus")
    index_path = str(tmp_path / "index")
    seed = spark.createDataFrame(SEED, SCHEMA)
    from mysoftware_nocnetintel_spark.sources.delta import write_delta_append

    write_delta_append(seed, corpus_path)
    build_minhash_index(seed, index_path)
    return corpus_path, index_path


def _corpus_ids(spark, corpus_path):
    return sorted(
        r.doc_id for r in read_delta_snapshot(spark, corpus_path).collect()
    )


def _index_ids(spark, index_path):
    return sorted(r.doc for r in read_delta_snapshot(spark, index_path).collect())


def test_gate_batch_filters_dups_and_registers_novel(spark, tmp_path):
    corpus_path, index_path = _setup(spark, tmp_path)
    batch = spark.createDataFrame(
        [
            (10, SEED[0][1]),  # exact dup of corpus doc 0 -> gated out
            (11, SEED[1][1].rsplit(" ", 1)[0]),  # near-dup of doc 1 -> gated
            (12, "a genuinely novel document about subterranean mushrooms"),
            (13, "a genuinely novel document about subterranean mushrooms"),
            # 12/13 within-batch dup: keep-one keeps 12
        ],
        SCHEMA,
    )
    dedup_gate_batch(batch, 0, corpus_path, index_path, app_id="gateA",
                     threshold=0.5)
    assert _corpus_ids(spark, corpus_path) == [0, 1, 12]
    assert _index_ids(spark, index_path) == [0, 1, 12]


def test_gate_batch_replay_is_exactly_once(spark, tmp_path):
    corpus_path, index_path = _setup(spark, tmp_path)
    batch = spark.createDataFrame(
        [(20, "novel text the replay must not double-ingest")], SCHEMA
    )
    dedup_gate_batch(batch, 5, corpus_path, index_path, app_id="gateB")
    assert _corpus_ids(spark, corpus_path) == [0, 1, 20]
    # at-least-once replay of the SAME batch id: both txn skips fire —
    # and doc 20's self-match in the index would gate it out anyway
    dedup_gate_batch(batch, 5, corpus_path, index_path, app_id="gateB")
    assert _corpus_ids(spark, corpus_path) == [0, 1, 20]
    assert _index_ids(spark, index_path) == [0, 1, 20]


def test_gate_replay_after_partial_crash_converges(spark, tmp_path):
    """Crash between the corpus append and the index registration: the
    replay must skip the corpus write and complete the index — never
    duplicating either."""
    from mysoftware_nocnetintel_spark.operators.dedup_index import (
        dedup_against_minhash_index,
    )
    from mysoftware_nocnetintel_spark.sources.delta import write_delta_append

    corpus_path, index_path = _setup(spark, tmp_path)
    batch = spark.createDataFrame([(30, "crash window novel text")], SCHEMA)
    # simulate step 2 only (corpus committed, index registration lost)
    verdicts = dedup_against_minhash_index(spark, batch, index_path)
    novel = batch.join(
        verdicts.select(F.col("doc").alias("doc_id")).distinct(),
        "doc_id",
        "left_anti",
    )
    write_delta_append(novel, corpus_path, txn=("gateC:corpus", 0))
    assert _index_ids(spark, index_path) == [0, 1]  # behind by one batch
    # full replay of batch 0
    dedup_gate_batch(batch, 0, corpus_path, index_path, app_id="gateC")
    assert _corpus_ids(spark, corpus_path) == [0, 1, 30]
    assert _index_ids(spark, index_path) == [0, 1, 30]


def test_streaming_end_to_end_available_now(spark, tmp_path):
    corpus_path, index_path = _setup(spark, tmp_path)
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([40, 41], pa.int64()),
                "text": pa.array(
                    [SEED[0][1], "streaming novel doc about tidal energy"]
                ),
            }
        ),
        str(src / "a.parquet"),
    )
    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    q = dedup_gated_stream_append(
        stream, corpus_path, index_path, str(tmp_path / "ckpt"),
        app_id="gateD", threshold=0.5,
    )
    q.awaitTermination(120)
    # 40 is an exact dup of seed doc 0 -> gated; 41 is novel -> ingested
    assert _corpus_ids(spark, corpus_path) == [0, 1, 41]
    assert _index_ids(spark, index_path) == [0, 1, 41]


def test_short_docs_policy(spark, tmp_path):
    """Zero-shingle docs cannot be MinHash-gated (documented limit):
    default policy ingests them every delivery; short_docs='drop' keeps
    them out of the corpus entirely; anything else is rejected."""
    import pytest

    corpus_path, index_path = _setup(spark, tmp_path)
    short = spark.createDataFrame([(50, "too short")], SCHEMA)
    dedup_gate_batch(short, 0, corpus_path, index_path, app_id="gateS",
                     short_docs="drop")
    assert _corpus_ids(spark, corpus_path) == [0, 1]  # dropped
    dedup_gate_batch(short, 1, corpus_path, index_path, app_id="gateS")
    assert _corpus_ids(spark, corpus_path) == [0, 1, 50]  # default ingests
    assert _index_ids(spark, index_path) == [0, 1]  # but cannot register
    with pytest.raises(ValueError, match="short_docs"):
        dedup_gate_batch(short, 2, corpus_path, index_path, app_id="gateS",
                         short_docs="nope")


# --------------------------------------------- round 9: two-gate fuzz


def _doc_text(doc_id: int, n_words: int = 8) -> str:
    """Per-doc disjoint vocabulary: zero shingle overlap between distinct
    docs (no accidental near-dups), while dropping the last word keeps
    ~5/6 of the shingles (a true near-dup at threshold 0.5)."""
    return " ".join(f"tok{doc_id}x{i}" for i in range(n_words))


@pytest.mark.parametrize("index_format", ["delta", "iceberg"])
def test_two_gates_race_shared_index(spark, tmp_path, index_format):
    """Round-9 verdict task 7: TWO ingestion gates (independent app_ids —
    two crawl streams feeding one corpus) race concurrent batches against
    the SAME signature index, under the fault-injecting committer
    (remote-catalog latency + transient rejections) so the CAS retry
    machinery provably carries the gate commits. Guarantees proved:

    - no lost registrations: after the race, every corpus doc beyond the
      un-signable seeds is registered in the index (corpus == index);
    - cross-gate visibility: a doc admitted by gate A is near-dup-matched
      by gate B's NEXT batch (and vice versa), in both index formats."""
    import threading
    import time as _time

    from mysoftware_nocnetintel_spark.operators.dedup_index import (
        build_minhash_index as _build,
    )
    from mysoftware_nocnetintel_spark.sources.catalog import (
        FaultInjectingCommitter,
        use_committer,
    )
    from mysoftware_nocnetintel_spark.sources.delta import write_delta_append
    from mysoftware_nocnetintel_spark.sources.readers import (
        read_iceberg_snapshot,
    )

    corpus_path = str(tmp_path / f"corpus_{index_format}")
    index_path = str(tmp_path / f"index_{index_format}")
    seed = spark.createDataFrame(
        [(0, _doc_text(0)), (1, _doc_text(1))], SCHEMA
    )
    # CREATE both tables outside the double (creation commits carry
    # non-retryable metaData/protocol actions by design)
    write_delta_append(seed, corpus_path)
    _build(seed, index_path, table_format=index_format)

    def index_ids():
        reader = (
            read_iceberg_snapshot
            if index_format == "iceberg"
            else read_delta_snapshot
        )
        return sorted(r.doc for r in reader(spark, index_path).collect())

    gates = {"gateA": 1000, "gateB": 2000}
    errs: list = []

    def run_gate(app_id: str, base: int) -> None:
        try:
            for k in range(3):
                batch = spark.createDataFrame(
                    [
                        (base + 10 * k + j, _doc_text(base + 10 * k + j))
                        for j in range(2)
                    ],
                    SCHEMA,
                )
                dedup_gate_batch(
                    batch, k, corpus_path, index_path, app_id=app_id,
                    threshold=0.5,
                )
                _time.sleep(0.01)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    double = FaultInjectingCommitter(
        spurious_conflict_rate=0.15, max_delay_s=0.01, seed=11
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
        [0, 1]
        + [b + 10 * k + j for b in gates.values() for k in range(3)
           for j in range(2)]
    )
    got_corpus = _corpus_ids(spark, corpus_path)
    assert got_corpus == want, f"lost corpus rows: {got_corpus}"
    assert index_ids() == want, "index lost a registration"

    # cross-gate visibility: gate B's next batch carries near-dups of
    # docs gate A admitted during the race (and vice versa) — all gated
    cross = {
        "gateB": [(9001, _doc_text(1000, 7)), (9002, _doc_text(1011, 7))],
        "gateA": [(9003, _doc_text(2000, 7)), (9004, _doc_text(2021, 7))],
    }
    for app_id, rows in cross.items():
        dedup_gate_batch(
            spark.createDataFrame(rows, SCHEMA), 3, corpus_path,
            index_path, app_id=app_id, threshold=0.5,
        )
    assert _corpus_ids(spark, corpus_path) == want, "cross-gate dup leaked"
    assert index_ids() == want
