"""Incremental near-duplicate gating against a PERSISTED signature index.

The batch near-dup operators (operators/dedup.py) recompute signatures for
the whole corpus every run — right for one-shot jobs, wrong for an
ingestion pipeline that receives a new crawl slice every hour against a
100 TB historical corpus. This module persists per-document MinHash
signatures in an open lakehouse table — Delta or Iceberg, the engine's
own writers, so the index participates in time travel, vacuum, optimize,
and CAS commits in either format — and gates each new batch with:

    batch text  --shingle+minhash-->  batch sigs        (the ONLY text scan)
    index sigs  --native banding-->   (band, bucket)    (NO text, NO shingles)
    equi-join on (band, bucket)  -->  candidates
    signature agreement >= threshold --> duplicate verdicts

Design decisions, in 100 TB order:

1. **The index stores signatures, not band rows.** One row per doc
   ``(doc bigint, sig array<bigint>)``. Banding a 32-element array with
   native expressions (xxhash64 over slices) is ~free compared to
   re-shingling text, and it keeps the index 8x smaller than exploded
   band rows while letting ``bands``/``rows_per_band`` be re-tuned at
   query time without rebuilding.
2. **Verification never touches text.** Estimated Jaccard = fraction of
   agreeing MinHash positions (the unbiased MinHash estimator) via
   ``zip_with`` — so the historical corpus is only ever touched as an
   8-byte-per-hash signature table. Exact-Jaccard re-verification of the
   survivors is a caller-side join back to text when needed.
3. **One band join; the index is scanned once.** Batch sigs shuffle
   once (groupBy doc in minhash_signatures). Their band rows, each
   carrying the doc's signature, are the join's build side (broadcast
   under the budget); the streamed side is the index's band rows unioned
   with the batch's own, so the vs-index and within-batch candidates and
   their verification come out of the one join. Past the budget the join
   shuffles both sides, and AQE splits hot buckets (stop-shingle-like
   skew).
4. **Params are pinned.** ``num_hashes/bands/shingle_k`` are written to a
   sidecar JSON at build time and validated on every append/query —
   mixing signature spaces silently would produce garbage verdicts.

Public protocol lineage: MinHash (Broder 1997), banded LSH (Leskovec et
al., Mining of Massive Datasets ch.3), signature agreement as the Jaccard
estimator. The Delta persistence layer is cited in sources/delta.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import index_store
from .dedup import index_band_join, minhash_signatures, sig_band_rows

_PARAMS_FILE = "_dedup_index_params.json"


def read_index_params(path: str) -> dict:
    """The pinned signature-space parameters of the index at ``path``."""
    return index_store.read_params(path, _PARAMS_FILE)


def est_jaccard(sig_a, sig_b, num_hashes: int):
    """Unbiased MinHash Jaccard estimate: fraction of agreeing positions."""
    return (
        F.size(
            F.filter(
                F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda v: v
            )
        )
        / F.lit(float(num_hashes))
    )


def build_minhash_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    table_format: str = "delta",
) -> int:
    """Create the signature index at ``path`` from a corpus DataFrame:
    one committed row per document with a non-empty shingle set, in
    either open table format. Returns the committed version/snapshot.
    Fails if an index already exists there (appends go through
    :func:`append_to_minhash_index`)."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    params = {
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_k": shingle_k,
        "table_format": table_format,
    }
    index_store.create(
        path, _PARAMS_FILE, params, "; use append_to_minhash_index"
    )
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k)
    return index_store.append(sigs, path, table_format, sort_by=("doc",))


def append_to_minhash_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    txn: tuple[str, int] | None = None,
    _sigs: DataFrame | None = None,
) -> int:
    """Append a batch's signatures to an existing index, under the INDEX'S
    pinned parameters (the caller cannot accidentally mix signature
    spaces). ``txn=(app_id, version)`` passes through to the format's
    idempotent-transaction support, so an ingestion pipeline retrying a
    batch cannot double-register it. Returns the committed version.
    ``_sigs`` lets the ingestion gate register the ``(doc, sig)`` rows
    it already computed under these parameters instead of re-shingling
    ``df``. A byte-small registration (``zorder.byte_small`` of its plan
    estimate) is written as one file; a larger one is range-clustered on
    ``doc`` like the build."""
    p = read_index_params(path)
    sigs = (
        _sigs
        if _sigs is not None
        else minhash_signatures(
            df, id_col, text_col, p["num_hashes"], p["shingle_k"]
        )
    )
    return index_store.register(
        sigs, path, p.get("table_format", "delta"), ("doc",), txn=txn
    )


def dedup_against_minhash_index(
    spark: SparkSession,
    batch_df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    _sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup verdicts for a NEW batch against the persisted index AND
    within the batch itself, without re-touching any historical text.

    Returns one distinct row per duplicate relation:
      (doc, dup_of, est_jaccard, source)  with source in
      ('index', 'batch'); within-batch relations follow the keep-one rule
      (``dup_of`` is a strictly lower batch id, so min-id group members
      survive). Docs absent from the result are novel.

    Candidates come from the banded equi-join only (pigeonhole over the
    index's pinned band geometry); verification is the signature-agreement
    estimate >= ``threshold``. A batch doc whose id ALREADY EXISTS in the
    index self-matches at est_jaccard 1.0 — deliberately not filtered:
    for an ingestion gate a re-delivered document is a duplicate of its
    registered self, and flagging it keeps non-txn re-deliveries from
    double-registering.

    Rows are distinct, so a doc registered twice with identical
    signatures yields one ``index`` row.

    ``_sigs`` is the caller's checkpointed ``minhash_signatures`` of
    ``batch_df`` under the index's parameters; the ingestion gate passes
    it so the same proxy also carries the signatures it registers."""
    p = read_index_params(path)
    num_hashes, bands = p["num_hashes"], p["bands"]
    rows_per_band = num_hashes // bands

    # FINGERPRINT ONCE (r13, the q147/guide-§8 proxy pattern): the batch
    # signature table feeds the band join's count and both of its sides —
    # without truncation the whole shingle+MinHash pipeline over the batch
    # text would re-execute once per consumer. ``localCheckpoint`` pins the
    # (doc, 32×8 B sig) proxy so the batch text is shingled exactly once
    # per call — and once per ingestion gate, which builds the proxy
    # itself and hands it here (``_sigs``). Lineage-truncation trade
    # documented at dedup.hamming_band_pairs.
    batch_sigs = (
        _sigs
        if _sigs is not None
        else minhash_signatures(
            batch_df, id_col, text_col, num_hashes, p["shingle_k"]
        ).localCheckpoint(eager=False)
    )

    def banded(sigs: DataFrame) -> DataFrame:
        """(doc, sig, band, bucket): ``sig_band_rows`` over a struct id,
        so every band row carries its doc's signature to the verify."""
        return sig_band_rows(
            sigs.select(F.struct("doc", "sig").alias("__ds"), "sig"),
            bands, rows_per_band, id_col="__ds",
        ).select("doc.doc", "doc.sig", "band", "bucket")

    return index_band_join(
        batch_sigs,
        index_store.read(spark, path, p.get("table_format", "delta")),
        banded,
        est_jaccard(F.col("__sig_a"), F.col("__sig_b"), num_hashes).alias(
            "est_jaccard"
        ),
        F.col("est_jaccard") >= F.lit(threshold),
        # each build row: band + bucket + the doc's whole signature
        payload_bytes=16.0 + 8.0 * num_hashes,
        fanout=bands,
    )
