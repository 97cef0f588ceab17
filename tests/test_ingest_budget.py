"""The Spark-job budget of each ingest verb (SCALING.md, "Ingest verbs have
a Spark-job budget").

Each verb runs at the ingest benchmark's shape — 2,000-row event batches,
a MERGE of 200 corrections and 50 new rows, a 20-document batch through
each index gate (MinHash text, Hamming media) — and may run at most its
budgeted number of Spark jobs (``job_budget``, AQE off). A change that
adds a pass to a verb fails here. An Iceberg read runs as many jobs after
three MERGEs as after one: its equality-delete files are one scan, not
one schema inference each. Either gate registers a byte-small batch as
one index file.
"""

from __future__ import annotations

import random

import pyarrow as pa
import pytest

from pyspark.sql import functions as F

from mysoftware_nocnetintel_spark.operators.dedup_index import (
    build_minhash_index,
)
from mysoftware_nocnetintel_spark.operators.hamming_index import (
    build_hamming_index,
)
from mysoftware_nocnetintel_spark.sources import delta as dl
from mysoftware_nocnetintel_spark.sources import iceberg as ice
from mysoftware_nocnetintel_spark.sources.readers import read_iceberg_snapshot
from mysoftware_nocnetintel_spark.streaming.ops import (
    dedup_gate_batch,
    media_gate_batch,
)

from .test_ingest_layout import _batch, _data_files

BUDGET = {
    "delta_append": 1,
    "iceberg_append": 1,
    "delta_cow_merge": 4,
    "iceberg_merge": 3,
    "gate": 5,
    "media_gate": 6,
}

WORDS = [f"w{i}" for i in range(400)]


def _texts(rng: random.Random, n: int) -> list[str]:
    return [
        " ".join(rng.choice(WORDS) for _ in range(rng.randint(30, 60)))
        for _ in range(n)
    ]


def _events_table(spark, root: str, fmt: str) -> None:
    append = dl.write_delta_append if fmt == "delta" else ice.write_iceberg_append
    for lo in (0, 2000, 4000):
        append(_batch(spark, lo), root)


def _merge(spark, root: str, fmt: str, step: int = 0) -> None:
    """200 corrections spread over the table's files, 50 new rows."""
    fixes = _batch(spark, 0, n=6000).filter(f"event_id % 30 = {step}")
    source = fixes.unionByName(_batch(spark, 6000 + 50 * step, n=50))
    if fmt == "delta":
        dl.merge_delta_rows(spark, root, source, on=["event_id"])
    else:
        ice.merge_iceberg_rows(spark, root, source, on=["event_id"])


def _run_append(spark, tmp_path, fmt):
    root = str(tmp_path / fmt)
    _events_table(spark, root, fmt)
    batch = _batch(spark, 6000)
    append = dl.write_delta_append if fmt == "delta" else ice.write_iceberg_append
    return lambda: append(batch, root)


def _run_merge(spark, tmp_path, fmt):
    root = str(tmp_path / fmt)
    _events_table(spark, root, fmt)
    return lambda: _merge(spark, root, fmt)


def _docs(spark, rows):
    """An Arrow document batch, as the ingest path builds one (a plan with
    an exact size estimate)."""
    return spark.createDataFrame(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
            }
        )
    )


def _run_gate(spark, tmp_path):
    rng = random.Random(8111)
    corpus, index = str(tmp_path / "corpus"), str(tmp_path / "index")
    known = list(enumerate(_texts(rng, 200)))
    seed = _docs(spark, known)
    dl.write_delta_append(seed, corpus)
    build_minhash_index(seed, index)
    rows = [(200 + i, t) for i, t in enumerate(_texts(rng, 16))]
    rows += known[:2]  # re-sent under their ids
    rows += [(300 + i, t + " dup") for i, (_, t) in enumerate(known[2:4])]
    batch = _docs(spark, rows)
    return lambda: dedup_gate_batch(batch, 1, corpus, index, "budget")


def _sigs(spark, rows):
    """A media batch whose signer output is precomputed: (doc_id, sig)."""
    return spark.createDataFrame(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "sig": pa.array([r[1] for r in rows], pa.int64()),
            }
        )
    )


def _run_media_gate(spark, tmp_path):
    rng = random.Random(8111)
    corpus, index = str(tmp_path / "corpus"), str(tmp_path / "index")
    known = [(i, rng.getrandbits(63)) for i in range(200)]
    seed = _sigs(spark, known)
    dl.write_delta_append(seed, corpus)
    build_hamming_index(
        seed.select(F.col("doc_id").alias("doc"), "sig"), index, "dhash"
    )
    rows = [(200 + i, rng.getrandbits(63)) for i in range(16)]
    rows += known[:2]  # re-sent under their ids
    rows += [(300 + i, s ^ 1) for i, (_, s) in enumerate(known[2:4])]
    batch = _sigs(spark, rows)
    return lambda: media_gate_batch(
        batch, 1, corpus, index, "budget",
        signer=lambda df: df.select(F.col("doc_id").alias("doc"), "sig"),
        family="dhash",
    )


GATES = {"gate": _run_gate, "media_gate": _run_media_gate}


@pytest.mark.parametrize("verb", sorted(BUDGET))
def test_verb_runs_within_its_job_budget(aqe_off, job_budget, tmp_path, verb):
    spark = aqe_off
    if verb.endswith("_append"):
        run = _run_append(spark, tmp_path, verb.split("_")[0])
    elif verb.endswith("_merge"):
        run = _run_merge(spark, tmp_path, verb.split("_")[0])
    else:
        run = GATES[verb](spark, tmp_path)
    jobs, _tasks = job_budget(run)
    assert jobs <= BUDGET[verb]


def test_iceberg_read_jobs_do_not_grow_with_equality_delete_files(
    aqe_off, job_budget, tmp_path
):
    spark = aqe_off
    root = str(tmp_path / "ice")
    _events_table(spark, root, "iceberg")

    def read():
        rows.append(read_iceberg_snapshot(spark, root).count())

    rows: list[int] = []
    _merge(spark, root, "iceberg", step=0)
    after_one = job_budget(read)[0]
    _merge(spark, root, "iceberg", step=1)
    _merge(spark, root, "iceberg", step=2)
    after_three = job_budget(read)[0]
    assert after_one == after_three
    assert rows == [6050, 6150]


@pytest.mark.parametrize("gate", sorted(GATES))
def test_gate_registers_a_byte_small_batch_as_one_file(aqe_off, tmp_path, gate):
    run = GATES[gate](aqe_off, tmp_path)
    index = str(tmp_path / "index")
    before = _data_files(index)
    run()
    assert len(_data_files(index) - before) == 1
