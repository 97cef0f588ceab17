"""The JVM shingle front end (``dedup.shingle_posting_rows``) against the
Python batch function it replaced, kept here as the reference.

The front end feeds every MinHash, Jaccard and containment consumer and the
MinHash ingestion gate, so its rows must equal the reference's exactly:
the same tokens (Python ``str.split()`` separators, including the four
information separators Java's ``\\s`` lacks), the same k-grams, the same
per-document distinct sets. Equal rows give equal MinHash signatures, so
indexes persisted by the reference still self-match.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
import pytest

from mysoftware_nocnetintel_spark.operators.dedup import (
    minhash_signatures,
    shingle_posting_rows,
)
from mysoftware_nocnetintel_spark.session import local_frame

from .conftest import SF_DIR


def _shingle_batches(it, k):
    """The Python front end's batch function, as it ran in
    ``mapInPandas``."""
    for pdf in it:
        docs_out, n_out, s_out = [], [], []
        for doc, t in zip(pdf["doc"].values, pdf["text"].values):
            toks = (t or "").split()
            seen = sorted(
                {" ".join(tr) for tr in zip(*[toks[j:] for j in range(k)])}
            )
            if not seen:
                continue
            docs_out.append(np.full(len(seen), doc, dtype=np.int64))
            n_out.append(np.full(len(seen), len(seen), dtype=np.int64))
            s_out.append(np.asarray(seen, dtype=object))
        if docs_out:
            yield pd.DataFrame(
                {
                    "doc": np.concatenate(docs_out),
                    "n_shingles": np.concatenate(n_out),
                    "s": np.concatenate(s_out),
                }
            )


def _reference(rows, k) -> list[tuple]:
    pdf = pd.DataFrame(
        {"doc": [r[0] for r in rows], "text": [r[1] for r in rows]}
    )
    return sorted(
        (int(d), int(n), s)
        for out in _shingle_batches([pdf], k)
        for d, n, s in zip(out["doc"], out["n_shingles"], out["s"])
    )


SPACES = [chr(c) for c in range(sys.maxunicode + 1) if chr(c).isspace()]
WORDS = "alpha beta gamma delta eps zeta eta theta iota kappa".split()


def _texts() -> list[str | None]:
    texts: list[str | None] = [
        # one document per whitespace code point, plus the information
        # separators and the zero-width space (whitespace in neither)
        sep.join(WORDS)
        for sep in SPACES + ["\x1c", "\x1d", "\x1e", "\x1f", "\u200b"]
    ]
    texts += [
        None,
        "",
        "   ",
        "one",
        "one two",
        "one two three",
        " \t alpha  beta\t\tgamma \t delta\t",
        "\talpha beta gamma delta eps zeta eta theta iota\n",
        "alpha\u200bbeta gamma\u200b delta eps zeta eta theta iota kappa",
        "".join(f"{w}{s}" for w, s in zip(WORDS * 3, SPACES)),
        "\U0001f600 \U00010348 \U0001d538\U0001d539 été "
        "\U0001f600 b \U00010348 c d \U0001f600 b",
        "a a a a a a a a a a a a",
    ]
    return texts


@pytest.fixture(scope="module")
def corpus(spark):
    rows = list(enumerate(_texts()))
    return rows, local_frame(spark, rows, "doc_id long, text string")


@pytest.mark.parametrize("k", [1, 2, 3, 8])
def test_jvm_front_end_matches_python_reference(corpus, k):
    rows, df = corpus
    got = sorted(
        tuple(r) for r in shingle_posting_rows(df, "doc_id", "text", k).collect()
    )
    assert got == _reference(rows, k)


def test_jvm_front_end_matches_on_the_documents_table(spark):
    pdf = spark.read.parquet(f"{SF_DIR}/documents.parquet").toPandas()
    rows = list(zip(pdf["doc_id"].tolist(), pdf["text"].tolist()))
    df = local_frame(spark, rows, "doc_id long, text string")
    for k in (3, 8):
        got = sorted(
            tuple(r)
            for r in shingle_posting_rows(df, "doc_id", "text", k).collect()
        )
        assert got == _reference(rows, k)


@pytest.mark.parametrize("k", [3, 8])
def test_minhash_signatures_match_the_reference_rows(spark, corpus, k):
    rows, df = corpus
    ref = local_frame(
        spark, _reference(rows, k), "doc long, n_shingles long, s string"
    )
    want = minhash_signatures(df, "doc_id", "text", shingle_k=k, _shingles=ref)
    got = minhash_signatures(df, "doc_id", "text", shingle_k=k)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
