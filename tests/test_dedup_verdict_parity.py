"""Verdict parity of the MinHash index gate
(operators/dedup_index.dedup_against_minhash_index) with a pure-Python
reference built from the collected signatures.

The reference restates the verdict rule: a batch doc and an index row (or
a lower-id batch doc) are candidates when some band's 4-hash slices are
equal, and a duplicate when the fraction of agreeing positions reaches the
threshold. Rows are a set: a doc registered twice with identical
signatures is one ``index`` row. The batch holds re-sent ids,
near-duplicates, in-batch duplicates and a short doc; the index holds one
doc twice. The gate runs with its broadcast band join and again with the
broadcast budget at 0 (the shuffled join); either plan scans the index
once.
"""

from __future__ import annotations

import random

import pytest

from mysoftware_nocnetintel_spark.operators import dedup
from mysoftware_nocnetintel_spark.operators import dedup_index as DI
from mysoftware_nocnetintel_spark.plans.diagnostics import plan_summary
from mysoftware_nocnetintel_spark.sources.readers import read_delta_snapshot

SCHEMA = "doc_id bigint, text string"
WORDS = [f"w{i}" for i in range(60)]  # small vocabulary: many partial matches


def _text(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _edit(rng: random.Random, text: str, k: int) -> str:
    words = text.split()
    for _ in range(k):
        words[rng.randrange(len(words))] = rng.choice(WORDS)
    return " ".join(words)


def _corpus_and_batch(seed: int):
    rng = random.Random(seed)
    corpus = [(i, _text(rng, rng.randint(12, 40))) for i in range(40)]
    batch = [(100 + i, _text(rng, rng.randint(12, 40))) for i in range(10)]
    batch += [corpus[3], corpus[5], corpus[7]]  # re-sent under their ids
    batch += [(250, corpus[5][1])]  # doc 5's text under a new id
    batch += [
        (200 + i, _edit(rng, corpus[i][1], i % 4)) for i in range(8, 20)
    ]  # near-duplicates, 0 to 3 words edited
    batch += [(300, batch[0][1]), (301, _edit(rng, batch[1][1], 1))]  # in batch
    batch += [(400, "too short")]  # no shingles at k=3
    return corpus, batch


def _reference(index_rows, batch_rows, bands, threshold):
    rpb = len(batch_rows[0][1]) // bands

    def verdict(a, b):
        if not any(
            a[i * rpb:(i + 1) * rpb] == b[i * rpb:(i + 1) * rpb]
            for i in range(bands)
        ):
            return None
        est = sum(x == y for x, y in zip(a, b)) / len(a)
        return est if est >= threshold else None

    out = set()
    for doc, sig in batch_rows:
        for other, osig in index_rows:
            if (est := verdict(sig, osig)) is not None:
                out.add((doc, other, est, "index"))
        for other, osig in batch_rows:
            if other < doc and (est := verdict(sig, osig)) is not None:
                out.add((doc, other, est, "batch"))
    return sorted(out)


@pytest.fixture(scope="module")
def index_and_batch(spark, tmp_path_factory):
    corpus, batch = _corpus_and_batch(8111)
    path = str(tmp_path_factory.mktemp("parity") / "index")
    DI.build_minhash_index(spark.createDataFrame(corpus, SCHEMA), path)
    # one doc registered a second time: two identical index rows
    DI.append_to_minhash_index(spark.createDataFrame([corpus[5]], SCHEMA), path)
    return path, spark.createDataFrame(batch, SCHEMA)


@pytest.mark.parametrize("threshold", [0.3, 0.6, 0.9])
@pytest.mark.parametrize("broadcast", [True, False])
def test_verdicts_match_the_python_reference(
    spark, index_and_batch, monkeypatch, threshold, broadcast
):
    path, batch = index_and_batch
    if not broadcast:
        monkeypatch.setattr(dedup, "_BAND_BROADCAST_BYTES", 0)
    index_rows = [
        (r.doc, list(r.sig)) for r in read_delta_snapshot(spark, path).collect()
    ]
    assert sum(d == 5 for d, _ in index_rows) == 2
    batch_rows = [
        (r.doc, list(r.sig))
        for r in dedup.minhash_signatures(batch, "doc_id", "text").collect()
    ]
    assert 400 not in {d for d, _ in batch_rows}  # the short doc is unsigned
    want = _reference(
        index_rows, batch_rows, DI.read_index_params(path)["bands"], threshold
    )
    assert {r[3] for r in want} == {"index", "batch"}
    assert {(5, 5, 1.0, "index"), (250, 5, 1.0, "index")} <= set(want)

    # only the gate's own hint may broadcast
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        verdicts = DI.dedup_against_minhash_index(
            spark, batch, path, threshold=threshold
        )
        plan = plan_summary(verdicts)  # before AQE adds its final plan
        got = sorted(
            (r.doc, r.dup_of, r.est_jaccard, r.source)
            for r in verdicts.collect()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
    assert got == want
    assert plan["broadcast_joins"] == int(broadcast)
    assert plan["scans"] == 1  # the index, once
