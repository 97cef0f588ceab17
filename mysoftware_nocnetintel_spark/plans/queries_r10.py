"""Round-8 coverage: the IMAGE and AUDIO media tiers over the multimodal
binary column (reference README.md:101-103 corpus tables; the round-7
verdict's task 6 plus the build brief's image/audio/video requirement).

The text dedup family (exact / MinHash-LSH / SimHash / n-gram Jaccard /
SemDeDup) covered every text tier but images only via exact bytes
(q8-style hash groupBy). q147 adds dHash/aHash perceptual hashing
(operators/multimodal.py) with pair generation through the SAME
Hamming-band pigeonhole join SimHash uses (dedup.hamming_band_pairs) —
a banded equi-join on 16-bit signature bands, never an all-pairs
product, so the candidate stage stays linear-ish at 100 TB of images.

q148/q149 extend the same posture to AUDIO (operators/audio.py): a real
stdlib WAV codec (wave + numpy), one-Arrow-pass feature extraction, and
a gain-invariant 64-bit spectral fingerprint feeding the identical
Hamming-band join. One blocking machinery, three signature families
(SimHash text, dHash image, spectral-band audio).

q150/q151 complete the media triple with VIDEO (operators/video.py): a
length-prefixed multi-frame PNG container with REAL per-frame decode,
frame sampling INSIDE the Arrow stage (payload bytes are never
replicated through an explode — THE video-at-100TB decision), and a
mean-frame dHash signature feeding the same Hamming-band join. Four
signature families, one blocking join.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _scratch_index_path(kind: str, sf_dir: str) -> str:
    """Fresh scratch path for a per-invocation index build.

    PID-keyed (a concurrent driver/verify session must never rmtree a
    path another process is mid-building), cleared at the START of the
    next same-process invocation, and registered for atexit removal so
    a finished driver leaves no ``/tmp/nocnetintel_*`` debris behind.
    Cleanup cannot run in a ``finally`` here: the returned DataFrame
    reads the index lazily, so the files must outlive this function —
    process exit is the earliest safe point.
    """
    import atexit
    import hashlib
    import shutil
    import tempfile

    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:{os.getpid()}".encode()
    ).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"nocnetintel_{kind}_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def q147_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3/J8 image tier: perceptual near-duplicate detection over the
    multimodal binary column. Corpus = one deterministic 8x8 PNG per
    document (pixels seeded from the text hash — attach_png_media, a
    REAL pixel decode path) UNIONed with a planted near-duplicate per
    document: the same image re-encoded with a +8 brightness shift
    (different bytes — exact-byte dedup scores 0 on it; nearly identical
    gradients — dHash pairs it). Planted ids are original + 10^7.

    Pipeline: decode+hash each payload ONCE in an Arrow mapInPandas pass
    (hash-then-shed: the 64-bit dhash travels downstream, never the
    bytes), band the signatures into four 16-bit buckets, equi-join on
    (band, bucket) (pigeonhole: hamming <= 3 implies >= 1 exact band),
    bit_count verify. Output: per-hamming pair counts split into
    planted (id_b = id_a + 10^7) vs organic (exact-text duplicate docs
    produce byte-identical PNGs at hamming 0), plus the planted-recall
    numerator the unit tests gate at >= 0.8.

    Rows-only by design: stdlib PNG decode + numpy box-resize inside an
    Arrow UDF has no single-statement SQL twin; the value oracle is the
    planted-pair recall unit (tests/test_multimodal_neardup.py) and the
    deterministic seed (sha256 of text) that pins every hash bit.

    At 100 TB: hashing is one linear scan (Arrow-batched, payloads never
    shuffled); the band join shuffles 16 bytes x 4 bands per image; the
    verify filter bounds bucket collisions. No stage is quadratic in the
    corpus — the same argument as the SimHash text tier."""
    from ..operators import multimodal as MM

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # Arrow-stage task sizing (the q48 dispatch lesson): the cached
    # documents table is spread to one partition per core for JVM regex
    # stages, but every mapInPandas stage here pays a Python-worker
    # dispatch PER TASK — at serving SF that's 64 dispatches of ~80 rows
    # each. Bound the fan-in to cores/4 (floor 8): measured best-of-3 at
    # sf0.1: 3.55 s @ 32/64 tasks → 2.20 s @ 8. On a real cluster
    # defaultParallelism scales with executors, so the floor never
    # throttles a large scan.
    docs = docs.coalesce(
        max(8, spark.sparkContext.defaultParallelism // 4)
    )
    # localCheckpoint: the base media feeds BOTH the corpus union and the
    # perturb stage — without truncation the synth+encode Arrow pass runs
    # twice (the shared-intermediate pattern; ~20 MB at serving SF)
    base = (
        MM.attach_png_media(docs, text_col="text")
        .select("doc_id", "media")
        .localCheckpoint(eager=False)
    )
    planted = MM.perturb_png_media(base, delta=8).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "media"
    )
    corpus = base.unionByName(planted)
    pairs = MM.image_near_dup_pairs(
        corpus, id_col="doc_id", payload_col="media", max_hamming=3
    )
    return (
        pairs.withColumn(
            "planted", F.col("id_b") - F.col("id_a") == F.lit(10_000_000)
        )
        .groupBy("hamming", "planted")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("hamming", "planted")
    )


def _audio_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with one deterministic WAV clip each (text-seeded synth —
    operators/audio.attach_wav_media), Arrow fan-in bounded exactly like
    q147 (the q48 dispatch lesson: each mapInPandas stage pays a Python
    worker dispatch per task, so serving-SF scans cap tasks at cores/4,
    floor 8; on a real cluster defaultParallelism scales with executors
    and the floor never throttles)."""
    from ..operators import audio as AU

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.coalesce(max(8, spark.sparkContext.defaultParallelism // 4))
    return AU.attach_wav_media(docs, text_col="text").select("doc_id", "media")


def q148_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal AUDIO feature extraction: decode every WAV payload ONCE in
    an Arrow mapInPandas pass (operators/audio.audio_features — duration,
    RMS, zero-crossing rate, spectral centroid, peak frequency; payloads
    shed before the shuffle), then a spectral profile: clips bucketed by
    peak-frequency band (200 Hz), per-band clip counts and mean loudness /
    brightness. The synth corpus pins every byte to sha256(text), so the
    distribution is deterministic.

    Rows-only by design: stdlib WAV decode + numpy rfft inside an Arrow UDF
    has no single-statement SQL twin; the value oracle is the pure-tone
    feature pinning + codec round-trip units (tests/test_audio.py).

    At 100 TB: one linear Arrow scan emits ~40 bytes/row of features; the
    groupBy shuffles those features, never the audio bytes."""
    from ..operators import audio as AU

    feats = AU.audio_features(_audio_corpus(spark, sf_dir), payload_col="media")
    return (
        feats.withColumn(
            "peak_band_hz",
            (F.floor(F.col("peak_freq_hz") / 200) * 200).cast("long"),
        )
        .groupBy("peak_band_hz")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.round(F.avg("rms"), 4).alias("avg_rms"),
            F.round(F.avg("zcr"), 4).alias("avg_zcr"),
            F.round(F.avg("spectral_centroid_hz"), 1).alias("avg_centroid_hz"),
        )
        .orderBy("peak_band_hz")
    )


def q149_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3/J8 audio tier: spectral-fingerprint near-duplicate detection over
    the WAV binary column — the audio sibling of q147. Corpus = one
    deterministic clip per document UNIONed with a planted near-duplicate
    per document: the same clip re-encoded at 0.9x gain plus 0.25%-full-
    scale noise (different bytes — exact-byte dedup scores 0; nearly
    identical spectral shape — the gain-invariant fingerprint pairs it).
    Planted ids are original + 10^7.

    Pipeline: decode+fingerprint each payload ONCE in an Arrow pass
    (hash-then-shed: the 64-bit afp travels downstream, never the bytes),
    band into four 16-bit buckets, equi-join on (band, bucket) (pigeonhole:
    hamming <= 3 implies >= 1 exact band), bit_count verify. Output:
    per-hamming pair counts split into planted vs organic (duplicate texts
    synthesize byte-identical WAVs at hamming 0). The median-threshold
    fingerprint fixes popcount at 32, so all pairwise distances are EVEN —
    expect hamming values 0/2 only.

    Rows-only by design (same argument as q147); the value oracle is the
    planted-recall unit gated at >= 0.8 (tests/test_audio.py) and the
    sha256 seed that pins every fingerprint bit.

    At 100 TB: fingerprinting is one linear Arrow scan; the band join
    shuffles 8 bytes x 4 bands per clip; the verify filter bounds bucket
    collisions. No stage is quadratic in the corpus."""
    from ..operators import audio as AU

    # shared-intermediate checkpoint: base feeds both union and perturb
    base = _audio_corpus(spark, sf_dir).localCheckpoint(eager=False)
    planted = AU.perturb_wav_media(base, payload_col="media").select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "media"
    )
    corpus = base.unionByName(planted)
    pairs = AU.audio_near_dup_pairs(
        corpus, id_col="doc_id", payload_col="media", max_hamming=3
    )
    return (
        pairs.withColumn(
            "planted", F.col("id_b") - F.col("id_a") == F.lit(10_000_000)
        )
        .groupBy("hamming", "planted")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("hamming", "planted")
    )


def _video_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with one deterministic 12-frame vpng clip each (crossfade
    between two text-seeded images — operators/video.attach_vpng_media),
    Arrow fan-in bounded exactly like q147/q148."""
    from ..operators import video as VD

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.coalesce(max(8, spark.sparkContext.defaultParallelism // 4))
    return VD.attach_vpng_media(docs, text_col="text").select("doc_id", "media")


def q150_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal VIDEO sampled-frame extraction: ONE Arrow mapInPandas
    pass parses each container header, seeks to every 4th frame via the
    length-prefix table (no decode for skipped frames), PNG-decodes ONLY
    the sampled frames, and emits ~50-byte feature rows (brightness /
    contrast / edge energy). The payload is never replicated through an
    explode — sampling happens inside the stage (operators/video.py module
    docstring: THE video-at-scale decision). Output: per-sampled-frame-
    index clip counts and mean features — a temporal profile of the corpus
    (the crossfade synth makes brightness drift monotonically with frame
    index, which the profile exposes).

    Rows-only by design: byte-level container parsing + stdlib PNG decode
    inside an Arrow UDF has no SQL twin; the value oracle is the exact
    frame-decode round-trip + feature units (tests/test_video.py).

    At 100 TB: one linear Arrow scan; sampled-frame features (not frames)
    are all that shuffles."""
    from ..operators import video as VD

    feats = VD.sampled_frame_features(
        _video_corpus(spark, sf_dir), payload_col="media", every_n=4
    )
    return (
        feats.groupBy("frame_idx")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.round(F.avg("brightness"), 2).alias("avg_brightness"),
            F.round(F.avg("contrast"), 2).alias("avg_contrast"),
            F.round(F.avg("edge_energy"), 2).alias("avg_edge_energy"),
        )
        .orderBy("frame_idx")
    )


def q151_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3/J8 video tier: perceptual near-duplicate detection over the
    multi-frame binary column — the video sibling of q147/q149. Corpus =
    one deterministic 12-frame clip per document UNIONed with a planted
    near-duplicate per document: every frame re-encoded with a +8
    brightness shift (different bytes in every frame — exact dedup scores
    0; nearly identical mean-frame gradients — the dHash signature pairs
    it). Planted ids are original + 10^7.

    Pipeline: sample+decode+hash each container ONCE in an Arrow pass
    (signature = dHash of the mean sampled grayscale frame; hash-then-shed
    — 8 bytes travel downstream, never the container), then the shared
    four-band pigeonhole join, bit_count verify. Output: per-hamming pair
    counts split into planted vs organic (duplicate texts synthesize
    byte-identical containers at hamming 0).

    Rows-only by design (same argument as q147/q149); the value oracle is
    the planted-recall unit gated at >= 0.8 (tests/test_video.py) and the
    sha256 seed that pins every signature bit.

    At 100 TB: same posture as q147 — linear hash scan, banded equi-join,
    no quadratic stage."""
    from ..operators import video as VD

    # shared-intermediate checkpoint: base feeds both union and perturb
    base = _video_corpus(spark, sf_dir).localCheckpoint(eager=False)
    planted = VD.perturb_vpng_media(base, payload_col="media").select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "media"
    )
    corpus = base.unionByName(planted)
    pairs = VD.video_near_dup_pairs(
        corpus, id_col="doc_id", payload_col="media", max_hamming=3
    )
    return (
        pairs.withColumn(
            "planted", F.col("id_b") - F.col("id_a") == F.lit(10_000_000)
        )
        .groupBy("hamming", "planted")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("hamming", "planted")
    )


def q152_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 incremental NEAR-dup tier, end-to-end: q127 gates a new batch
    with EXACT fingerprints; this query gates it with MinHash against a
    PERSISTED signature index (operators/dedup_index.py) — the ingestion-
    pipeline shape where the historical corpus is a Delta table of
    32-hash signatures and is never re-shingled.

    Pipeline (all inside the query, so the driver signal covers the whole
    lifecycle): split documents 80/20 by the q97 deterministic md5 trick;
    BUILD the index from the corpus split (engine's own Delta writer, a
    fresh build per invocation at a deterministic tmp path); DEDUP the
    batch split against it (one band join on the pinned geometry, the
    index and the batch's own band rows on one side, signature agreement
    >= 0.6); triage every batch doc:

    - ``dup_vs_index`` — agrees with a persisted signature;
    - ``dup_in_batch`` — keep-one rule within the batch (min id survives);
    - ``novel``        — kept for ingestion.

    Output: per-(lang, status) counts — deterministic because MinHash is
    (xxhash64 salts, no RNG). Rows-only by design: xxhash64 signatures
    have no DuckDB twin; the value oracles are the lifecycle +
    banding-bit-compatibility units (tests/test_dedup_index.py).

    At 100 TB: the index is scanned once as 8-byte-per-hash signatures
    (points 1 and 3 of the module docstring) and streams past the batch's
    broadcast band rows, the batch side is the only text scan, and
    verification is array agreement — no historical text is read. The
    verdict rows are distinct; the triage aggregates per doc either way."""
    from ..operators import dedup_index as DI

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "text",
        F.substring(
            F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
        ).alias("bucket"),
    )
    corpus = docs.filter(F.col("bucket") < "cd").select("doc_id", "text")
    batch = docs.filter(F.col("bucket") >= "cd").select("doc_id", "lang", "text")

    path = _scratch_index_path("dedup_index", sf_dir)
    DI.build_minhash_index(corpus, path, id_col="doc_id", text_col="text")

    verdicts = DI.dedup_against_minhash_index(
        spark, batch, path, id_col="doc_id", text_col="text", threshold=0.6
    )
    per_doc = verdicts.groupBy(F.col("doc").alias("doc_id")).agg(
        F.max(F.col("source") == "index").alias("__vs_index")
    )
    labeled = batch.join(per_doc, "doc_id", "left").select(
        "lang",
        F.when(F.col("__vs_index"), "dup_vs_index")
        .when(F.col("__vs_index").isNotNull(), "dup_in_batch")
        .otherwise("novel")
        .alias("status"),
    )
    return (
        labeled.groupBy("lang", "status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "status")
    )


def q153_ann_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 persisted-ANN tier, end-to-end: the batch IVF operators (q48)
    re-derive centroids and assignments per run; this query BUILDS the
    lakehouse-native index (operators/ann_index.py — IVF cells as a
    cell-partitioned Delta table, centroids in a sidecar) and SERVES a
    query batch from it, reading only the probed cells' files via
    driver-side partition pruning.

    Corpus = the embeddings table; queries = the 8 lowest vec_ids (their
    own vectors, so rank-1 self-hits pin the scoring path). Output: per
    rank, hit counts and mean score — deterministic because the sampled
    k-means is seeded and ties break on vec_id.

    Rows-only by design: seeded k-means + Arrow cosine has no DuckDB
    twin; the value oracles are the batch-operator parity and the
    corrupt-unprobed-cell pruning proof (tests/test_ann_index.py).

    At 100 TB: the index IS the corpus organized by cell — a serving
    query opens nprobe/n_cells of the files (partition pruning happens
    on the driver before any scan is planned), scores one broadcast
    probe join, and windows per-query top-k."""
    from ..operators import ann_index as AI

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    path = _scratch_index_path("ann_index", sf_dir)
    AI.build_ivf_index(emb, path, n_cells=16)

    queries = (
        emb.orderBy("vec_id")
        .limit(8)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").cast("array<double>").alias("qv"),
        )
    )
    topk = AI.query_ivf_index(spark, queries, path, k=5, nprobe=4)
    return (
        topk.groupBy("rn")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.sum((F.col("qid") == F.col("vec_id")).cast("int")).alias(
                "self_hits"
            ),
            F.round(F.avg("score"), 4).alias("avg_score"),
        )
        .orderBy("rn")
    )


def q154_text_semantic_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5/J8 text-to-retrieval, END-TO-END inside the engine: documents
    are embedded with the HASHING TRICK (operators/embed.py — signed
    char-trigram buckets, L2-normalized, NO model and NO RNG, so the
    vectors are reproducible on any engine), the vectors build the
    persisted IVF index (operators/ann_index.py), and a query batch (the
    8 lowest doc_ids' own texts, re-embedded through the SAME expression)
    is served with partition-pruned probes. Every stage that exists
    between raw text and semantic search runs in this one query.

    Output: per rank, hit counts, self-or-tie hits (exact-duplicate
    texts embed identically, so rank-1 may be a byte-identical twin at
    cosine 1.0 — counted via score >= 1 - 1e-9), and mean score.
    Deterministic: hashing-trick embeddings + seeded k-means + vec_id
    tie-breaks.

    Rows-only by design (xxhash64 embeddings + seeded k-means have no
    DuckDB twin); value oracles: the HOF≡pipeline bit-parity and
    cosine-separation units (tests/test_embed.py) plus q153's index
    parity suite.

    At 100 TB: embedding is two even-keyed shuffles (explode + groupBy);
    the index build is one partitioned write; serving opens
    nprobe/n_cells of the files."""
    from ..operators import ann_index as AI
    from ..operators.embed import hashed_embeddings

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # EMBED ONCE (r13, guide §8 proxy pattern): build_ivf_index consumes
    # its input twice (the centroid-sample fetch and the assign+write
    # pass), so without truncation the two-shuffle hashing-trick pipeline
    # over the full corpus executes once per pass. localCheckpoint pins
    # the (vec_id, 64×8 B) vectors so the corpus text is embedded exactly
    # once per invocation. Sample-identical: the checkpoint materializes
    # the same partitions in the same order the plan would produce, so
    # the bounded limit() fetch sees the same rows (output byte-pinned
    # vs the un-checkpointed form at 3 SFs before landing).
    emb = hashed_embeddings(docs, dim=64).select(
        F.col("doc").alias("vec_id"), "embedding"
    ).localCheckpoint(eager=False)
    path = _scratch_index_path("semsearch", sf_dir)
    AI.build_ivf_index(emb, path, n_cells=16)

    queries = hashed_embeddings(
        docs.orderBy("doc_id").limit(8), dim=64
    ).select(F.col("doc").alias("qid"), F.col("embedding").alias("qv"))
    topk = AI.query_ivf_index(spark, queries, path, k=5, nprobe=4)
    return (
        topk.groupBy("rn")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.sum((F.col("score") >= 1 - 1e-9).cast("int")).alias(
                "exact_hits"
            ),
            F.round(F.avg("score"), 4).alias("avg_score"),
        )
        .orderBy("rn")
    )


def q155_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/U1 training-shard export plan, ORACLE-PAIRED: the deterministic
    shard placement + manifest stats of operators/shards.py computed as
    pure engine-portable expressions (md5 buckets + 60-bit content
    hashes + bit_xor), so DuckDB derives the byte-identical plan — which
    is the point: the SHARD PLAN must reproduce on any engine, or the
    trainer cannot verify what it reads.

    Output: (shard, n_docs, n_chars_total, content_xor) for 16 shards.
    The write/verify halves (write_training_shards /
    verify_training_shards) are covered by tests/test_shards.py — the
    driver grades the plan itself value-for-value against the oracle.

    At 100 TB: one partial-aggregated groupBy on the shard id; the full
    export adds one hash repartition and a write pass (SCALING.md)."""
    from ..operators.shards import shard_plan

    return shard_plan(
        _t(spark, sf_dir, "documents"), "doc_id", "text", n_shards=16
    )


def q156_media_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3/J8 incremental MEDIA gating, end-to-end: the Hamming-space
    sibling of q152 (operators/hamming_index.py) — persist the 80%
    corpus split's image dHashes in a lakehouse table, then gate the 20%
    batch split against it. The batch additionally carries PLANTED
    near-duplicates of a slice of CORPUS images (brightness-shifted
    re-encodes, ids + 10^7) — the takedown-resubmission shape: those
    must flag with source='index' even though their bytes differ from
    anything the index ever saw. Only the batch's media is decoded; the
    historical corpus participates as an 8-byte-per-doc signature table
    (the O(batch) media-intake shape).

    Output: per-(source, planted) duplicate-relation counts.
    Deterministic: sha256-seeded pixels pin every dHash bit.

    Rows-only by design (stdlib PNG decode has no SQL twin; the value
    oracles are tests/test_hamming_index.py's batch-operator banding
    parity + the planted-recall units). Enters the round-9 window under
    rule (1) — round 8's window already carries nine rule-1 entries.

    At 100 TB: same posture as q152 — the index side shuffles 8 bytes x
    4 bands per doc; batch media never leaves its Arrow stage."""
    from ..operators import hamming_index as HI
    from ..operators import multimodal as MM

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.substring(
            F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
        ).alias("bucket"),
    )
    docs = docs.coalesce(max(8, spark.sparkContext.defaultParallelism // 4))

    def sigs(df):
        media = MM.attach_png_media(df, text_col="text").select(
            "doc_id", "media"
        )
        return (
            MM.image_hashes(media, "media")
            .where(F.col("dhash").isNotNull())
            .select(F.col("doc_id").alias("doc"), F.col("dhash").alias("sig"))
        )

    corpus_docs = docs.filter(F.col("bucket") < "cd")
    corpus_sigs = sigs(corpus_docs)
    batch_docs = docs.filter(F.col("bucket") >= "cd").select("doc_id", "text")
    base = MM.attach_png_media(batch_docs, text_col="text").select(
        "doc_id", "media"
    )
    # planted: perturbed re-encodes of a CORPUS slice (the resubmission
    # shape — must flag against the index, not the batch)
    resub_src = MM.attach_png_media(
        corpus_docs.filter(F.col("bucket") < "08").select("doc_id", "text"),
        text_col="text",
    ).select("doc_id", "media")
    planted = MM.perturb_png_media(resub_src, delta=8).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "media"
    )
    # the verdict reads its batch three times: checkpoint the decode+hash
    # once (the truncation trade documented at dedup.hamming_band_pairs)
    batch_sigs = (
        MM.image_hashes(base.unionByName(planted), "media")
        .where(F.col("dhash").isNotNull())
        .select(F.col("doc_id").alias("doc"), F.col("dhash").alias("sig"))
        .localCheckpoint(eager=False)
    )

    path = _scratch_index_path("hamming", sf_dir)
    HI.build_hamming_index(corpus_sigs, path, family="dhash")

    verdicts = HI.dedup_against_hamming_index(
        spark, batch_sigs, path, family="dhash", max_hamming=3
    )
    return (
        verdicts.withColumn("planted", F.col("doc") >= 10_000_000)
        .groupBy("source", "planted")
        .agg(F.count(F.lit(1)).alias("n_relations"))
        .orderBy("source", "planted")
    )


def q157_partition_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/P4 lakehouse RETENTION end-to-end, ORACLE-VERIFIED: land a
    bucket-partitioned Delta table (events keyed by ``event_id % 4``),
    retire one bucket with the round-10 METADATA-ONLY partition drop
    (``drop_delta_partition`` — remove tombstones, zero data I/O,
    no row-count cap), and report the survivors' per-bucket aggregates
    from a fresh snapshot read. The DuckDB twin computes the same
    post-drop state from the source parquet with the dropped bucket
    excluded, so the drop verb's semantics are graded by the driver's
    value-hash — the query-level proof on top of
    tests/test_partition_drop.py's file-set/unit proofs.

    At 100 TB: retention/GDPR partition retirement is one KB-scale
    commit regardless of the partition's row count; the physical bytes
    reclaim later through vacuum. The read after the drop plans only
    the surviving partitions' files (driver-side pruning)."""
    from ..sources.delta import drop_delta_partition, write_delta_append
    from ..sources.readers import read_delta_snapshot

    ev = _t(spark, sf_dir, "events").select(
        (F.col("event_id") % F.lit(4)).cast("int").alias("bucket"),
        "event_id",
        "value",
    )
    path = _scratch_index_path("partition_drop", sf_dir)
    write_delta_append(ev, path, partition_by=("bucket",))
    drop_delta_partition(spark, path, {"bucket": "2"})
    return (
        read_delta_snapshot(spark, path)
        .withColumn("bucket", F.col("bucket").cast("int"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("bucket")
    )


def q158_partition_drop_iceberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q157's ICEBERG twin: the same retention lifecycle through the
    other format's metadata-only drop (``drop_iceberg_partition`` — a
    delete snapshot whose manifest list excludes the bucket's files) so
    BOTH formats' drop verbs are value-hash graded by the driver, not
    just unit-tested. Same oracle shape: DuckDB recomputes the
    post-drop state from the source parquet with the bucket excluded."""
    from ..sources.iceberg import (
        drop_iceberg_partition,
        write_iceberg_append,
    )
    from ..sources.readers import read_iceberg_snapshot

    ev = _t(spark, sf_dir, "events").select(
        (F.col("event_id") % F.lit(4)).cast("int").alias("bucket"),
        "event_id",
        "value",
    )
    path = _scratch_index_path("partition_drop_ice", sf_dir)
    write_iceberg_append(ev, path, partition_by=("bucket",))
    drop_iceberg_partition(path, {"bucket": 2})
    return (
        read_iceberg_snapshot(spark, path)
        .withColumn("bucket", F.col("bucket").cast("int"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("bucket")
    )


R10_QUERIES = {
    "q147_image_neardup": q147_image_neardup,
    "q148_audio_features": q148_audio_features,
    "q149_audio_neardup": q149_audio_neardup,
    "q150_video_frames": q150_video_frames,
    "q151_video_neardup": q151_video_neardup,
    "q152_incremental_neardup": q152_incremental_neardup,
    "q153_ann_index": q153_ann_index,
    "q154_text_semantic_search": q154_text_semantic_search,
    "q155_shard_plan": q155_shard_plan,
    "q156_media_index": q156_media_index,
    "q157_partition_drop": q157_partition_drop,
    "q158_partition_drop_iceberg": q158_partition_drop_iceberg,
}
