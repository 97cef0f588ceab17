"""Persisted HAMMING signature index — one incremental near-dup gate for
every 64-bit signature family in the engine.

The MinHash index (operators/dedup_index.py) gates TEXT batches by
set-similarity. This module is its Hamming-space sibling: it persists
64-bit signatures — SimHash text (dedup.simhash_signatures), perceptual
image dHash (multimodal.image_hashes), spectral audio fingerprints
(audio.audio_hashes), mean-frame video hashes (video.video_hashes) — in
an open lakehouse table, and gates each new batch with the index band
join both gates share (dedup.index_band_join) over the band split the
batch operators use (dedup.hamming_bands: four 16-bit bands; hamming
<= 3 implies >= 1 exact band).

The index is FAMILY-AGNOSTIC by construction (it stores (doc, sig)
bigints) but FAMILY-PINNED by policy: ``family`` is written to the
sidecar at build time and validated on every append/query, because a
dHash and a SimHash are both 64-bit integers and joining them would
produce silent garbage — the same reason the MinHash index pins its
signature-space params. Sidecar, build guard and format dispatch are
operators/index_store.py's.

Scale shape: identical to dedup_index — O(batch) signature computation
on the caller's side (decode/hash the NEW media only), one
8-bytes-per-row banded equi-join against the index (scanned once), a
bit_count verify. Media bytes never touch the gate. Maintenance,
retraction, time travel, idempotent txn appends: ordinary table verbs
(see tests/test_index_maintenance.py / test_index_retraction.py for the
MinHash/IVF precedents).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import index_store
from .dedup import hamming64, hamming_bands, index_band_join

_PARAMS_FILE = "_hamming_index_params.json"


def read_hamming_index_params(path: str) -> dict:
    return index_store.read_params(path, _PARAMS_FILE)


def _pinned(path: str, family: str, verb: str) -> dict:
    """The index's params, after checking ``family`` is the pinned one."""
    p = read_hamming_index_params(path)
    if family != p["family"]:
        raise ValueError(
            f"index at {path} holds {p['family']!r} signatures; "
            f"refusing to {verb} {family!r}"
        )
    return p


def _index_rows(sig_df: DataFrame) -> DataFrame:
    """(doc, sig bigint) rows with a signature."""
    return sig_df.select(
        F.col("doc"), F.col("sig").cast("bigint").alias("sig")
    ).where(F.col("sig").isNotNull())


def build_hamming_index(
    sig_df: DataFrame,
    path: str,
    family: str,
    table_format: str = "delta",
) -> int:
    """Create the index from (doc, sig) rows — the caller computes
    signatures with its family's hasher (simhash_signatures /
    image_hashes / audio_hashes / video_hashes) and selects/aliases to
    (doc, sig). ``family`` is any label ('simhash', 'dhash', 'afp',
    'vhash', ...) — pinned and enforced thereafter."""
    index_store.create(
        path, _PARAMS_FILE, {"family": family, "table_format": table_format},
        "; use append_to_hamming_index",
    )
    return index_store.append(
        _index_rows(sig_df), path, table_format, sort_by=("sig",)
    )


def append_to_hamming_index(
    sig_df: DataFrame,
    path: str,
    family: str,
    txn: tuple[str, int] | None = None,
) -> int:
    """Register a batch's signatures. ``family`` must equal the pinned
    one — appending image hashes to a SimHash index is silent garbage,
    so it is an error instead. A byte-small registration is written as
    one file; a larger one is range-clustered on ``sig`` like the
    build."""
    p = _pinned(path, family, "append")
    return index_store.register(
        _index_rows(sig_df), path, p.get("table_format", "delta"), ("sig",),
        txn=txn,
    )


def dedup_against_hamming_index(
    spark: SparkSession,
    batch_sigs: DataFrame,
    path: str,
    family: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup verdicts for a batch of (doc, sig) rows against the
    persisted index AND within the batch (keep-one rule: ``dup_of`` is a
    strictly lower batch doc). Returns one distinct (doc, dup_of,
    hamming, source) row per relation, with source in ('index',
    'batch'). ``max_hamming`` <= 3 for the four-band pigeonhole
    guarantee. A batch doc whose id already exists in the index
    self-matches at hamming 0 (same re-delivery rationale as the MinHash
    index).

    ``batch_sigs`` is read three times (its count and both sides of the
    band join) and is not checkpointed here: pass a checkpointed proxy
    when it is the output of an expensive pipeline (a media decode+hash),
    as the media gate and q156 do, or that pipeline runs once per read.
    The measured count gates an explicit broadcast of the banded batch
    side — under the budget the INDEX side is never shuffled at all (the
    100 TB posture: the historical index dwarfs any ingest batch)."""
    if max_hamming > 3:
        raise ValueError(
            "four 16-bit bands guarantee recall only for hamming <= 3"
        )
    p = _pinned(path, family, "gate")
    return index_band_join(
        _index_rows(batch_sigs),
        index_store.read(spark, path, p.get("table_format", "delta")),
        hamming_bands,
        hamming64("__sig_a", "__sig_b").alias("hamming"),
        F.col("hamming") <= max_hamming,
        # each build row: sig + band + bucket (3 longs)
        payload_bytes=24.0,
        fanout=4,
    )
