"""Verdict parity of the two index gates — MinHash
(operators/dedup_index.dedup_against_minhash_index) and Hamming
(operators/hamming_index.dedup_against_hamming_index) — with a
pure-Python reference built from the collected signatures.

The reference restates each family's verdict rule. MinHash: a batch doc
and an index row (or a lower-id batch doc) are candidates when some
band's 4-hash slices are equal, and a duplicate when the fraction of
agreeing positions reaches the threshold. Hamming: candidates share one
of the four 16-bit bands, and a duplicate has ``popcount(a ^ b) <= k``.
Rows are a set: a doc registered twice with identical signatures is one
``index`` row. The batch holds re-sent ids, near-duplicates, in-batch
duplicates and an unsigned doc (a short text / a NULL signature); the
index holds one doc twice. The gate runs with its broadcast band join and
again with the broadcast budget at 0 (the shuffled join); either plan
scans the index once.
"""

from __future__ import annotations

import random

import pytest

from mysoftware_nocnetintel_spark.operators import dedup
from mysoftware_nocnetintel_spark.operators import dedup_index as DI
from mysoftware_nocnetintel_spark.operators import hamming_index as HI
from mysoftware_nocnetintel_spark.plans.diagnostics import plan_summary
from mysoftware_nocnetintel_spark.sources.readers import read_delta_snapshot

SCHEMA = "doc_id bigint, text string"
SIG_SCHEMA = "doc bigint, sig bigint"
_U64 = (1 << 64) - 1
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


def _signed(u: int) -> int:
    return u - (1 << 64) if u >> 63 else u


def _flip(rng: random.Random, sig: int, k: int) -> int:
    for bit in rng.sample(range(64), k):
        sig ^= 1 << bit
    return sig


def _hamming_sigs(seed: int):
    """64-bit (doc, sig) rows of the same shape as the text case."""
    rng = random.Random(seed)
    corpus = [(i, rng.getrandbits(64)) for i in range(40)]
    batch = [(100 + i, rng.getrandbits(64)) for i in range(10)]
    batch += [corpus[3], corpus[5], corpus[7]]  # re-sent under their ids
    batch += [(250, corpus[5][1])]  # doc 5's signature under a new id
    batch += [
        (200 + i, _flip(rng, corpus[i][1], i % 7)) for i in range(8, 22)
    ]  # near-duplicates, 0 to 6 bits flipped
    batch += [(300, batch[0][1]), (301, _flip(rng, batch[1][1], 2))]
    rows = [(d, _signed(s)) for d, s in batch] + [(400, None)]  # unsigned
    return [(d, _signed(s)) for d, s in corpus], rows


def _minhash_verdict(bands, threshold):
    def verdict(a, b):
        rpb = len(a) // bands
        if not any(
            a[i * rpb:(i + 1) * rpb] == b[i * rpb:(i + 1) * rpb]
            for i in range(bands)
        ):
            return None
        est = sum(x == y for x, y in zip(a, b)) / len(a)
        return est if est >= threshold else None

    return verdict


def _hamming_verdict(max_hamming):
    def verdict(a, b):
        a, b = a & _U64, b & _U64
        if not any((a >> 16 * i) & 0xFFFF == (b >> 16 * i) & 0xFFFF
                   for i in range(4)):
            return None
        d = bin(a ^ b).count("1")
        return d if d <= max_hamming else None

    return verdict


def _reference(index_rows, batch_rows, verdict):
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
def minhash_case(spark, tmp_path_factory):
    corpus, batch = _corpus_and_batch(8111)
    path = str(tmp_path_factory.mktemp("parity") / "index")
    DI.build_minhash_index(spark.createDataFrame(corpus, SCHEMA), path)
    # one doc registered a second time: two identical index rows
    DI.append_to_minhash_index(spark.createDataFrame([corpus[5]], SCHEMA), path)
    batch = spark.createDataFrame(batch, SCHEMA)
    batch_rows = [
        (r.doc, list(r.sig))
        for r in dedup.minhash_signatures(batch, "doc_id", "text").collect()
    ]
    bands = DI.read_index_params(path)["bands"]

    def gate(threshold):
        return DI.dedup_against_minhash_index(
            spark, batch, path, threshold=threshold
        )

    def verdict(threshold):
        return _minhash_verdict(bands, threshold)

    return path, batch_rows, gate, verdict, list


@pytest.fixture(scope="module")
def hamming_case(spark, tmp_path_factory):
    corpus, batch = _hamming_sigs(8111)
    path = str(tmp_path_factory.mktemp("parity") / "hindex")
    HI.build_hamming_index(spark.createDataFrame(corpus, SIG_SCHEMA), path,
                           family="simhash")
    HI.append_to_hamming_index(
        spark.createDataFrame([corpus[5]], SIG_SCHEMA), path, family="simhash"
    )
    sigs = spark.createDataFrame(batch, SIG_SCHEMA)

    def gate(max_hamming):
        return HI.dedup_against_hamming_index(
            spark, sigs, path, family="simhash", max_hamming=max_hamming
        )

    batch_rows = [(d, s) for d, s in batch if s is not None]
    return path, batch_rows, gate, _hamming_verdict, int


CASES = [
    pytest.param("minhash_case", t, (1.0,), id=str(t)) for t in (0.3, 0.6, 0.9)
] + [
    pytest.param("hamming_case", k, (0,), id=f"hamming-{k}") for k in (0, 2, 3)
]


@pytest.mark.parametrize("family, threshold, exact", CASES)
@pytest.mark.parametrize("broadcast", [True, False])
def test_verdicts_match_the_python_reference(
    spark, request, monkeypatch, family, threshold, exact, broadcast
):
    path, batch_rows, gate, verdict, sig_of = request.getfixturevalue(family)
    if not broadcast:
        monkeypatch.setattr(dedup, "_BAND_BROADCAST_BYTES", 0)
    index_rows = [
        (r.doc, sig_of(r.sig))
        for r in read_delta_snapshot(spark, path).collect()
    ]
    assert sum(d == 5 for d, _ in index_rows) == 2
    assert 400 not in {d for d, _ in batch_rows}  # the unsigned doc
    want = _reference(index_rows, batch_rows, verdict(threshold))
    assert {r[3] for r in want} == {"index", "batch"}
    assert {(5, 5, *exact, "index"), (250, 5, *exact, "index")} <= set(want)

    # only the gate's own hint may broadcast
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        verdicts = gate(threshold)
        plan = plan_summary(verdicts)  # before AQE adds its final plan
        got = sorted(tuple(r) for r in verdicts.collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
    assert got == want
    assert plan["broadcast_joins"] == int(broadcast)
    assert plan["scans"] == 1  # the index, once
