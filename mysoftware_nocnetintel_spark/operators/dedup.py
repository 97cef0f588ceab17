"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

North-star requirement (BASELINE.json): training-data dedup at 100 TB scale;
reference parity: knowledge-base growth dedup (reference README.md:11).

Tier design (each tier trades exactness for scale):
1. exact — hash-groupBy on content (or canonical fingerprint). One shuffle.
2. n-gram Jaccard — exact set similarity on shingles via an inverted-index
   join (explode → equi-join on shingle → count). Exact but O(pairs sharing
   a shingle); a document-frequency cap drops stop-shingles so hot shingles
   can't produce quadratic bucket blowups at scale.
3. MinHash + LSH banding — probabilistic; signature is a fixed-width array
   computed per-row with native expressions (no UDF, no shuffle), candidate
   generation is an equi-join on (band, band_hash) buckets: the classic
   shingle→minhash→band→bucket-join pipeline. Scales linearly in corpus
   size for bounded bucket sizes.
4. SimHash — 64-bit per-row signature via higher-order aggregate (no
   explode); near-dup = Hamming ≤ k, found by joining on 16-bit bands
   (pigeonhole: k ≤ 3 ⇒ one of four bands equal).

All hash functions are xxhash64 with fixed string salts → deterministic
across runs and partitionings; seeds are plan constants.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens, word_shingles


# --- tier 1: exact -----------------------------------------------------------

def exact_dedup(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """U3 exact tier: keep one row per distinct key set (hash aggregate)."""
    return df.dropDuplicates(list(cols) if cols else None)


def dup_group_stats(df: DataFrame, key: Column | str, id_col: str) -> DataFrame:
    """Groups with >1 member, with member ids (for audit/removal joins)."""
    key = F.col(key) if isinstance(key, str) else key
    return (
        df.groupBy(key.alias("dup_key"))
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
        .filter(F.col("group_size") > 1)
    )


# --- tier 2: exact n-gram Jaccard -------------------------------------------

def spread_narrow(df: DataFrame) -> DataFrame:
    """Widen a CPU-bound narrow stage to the session's parallelism.

    Scans split by BYTES (`maxPartitionBytes`), so a KB-scale document file
    arrives as ONE partition — and every per-row shingle/signature/hash
    pipeline downstream then runs on ONE core (measured: 14 s single-task
    vs ~0.6 s spread, 5k docs × 32 cores). When the input has fewer
    partitions than cores, a repartition (tiny: the docs themselves) buys
    full-core parallelism for the expensive narrow stage. At cluster scale
    inputs already exceed core count and this is a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def shingle_rows(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Word k-shingles as ROWS ``(doc, s)`` — NOT distinct, built by
    posexplode + (k-1) window LEADs over token position. Pure-JVM; kept for
    consumers that need the raw (duplicated) gram stream with its oracle-
    mirrorable SQL shape (q117 bigram surprisal, q120 n-gram novelty) —
    the dedup/minhash pipelines now use :func:`shingle_posting_rows`
    (map-side, distinct, with set sizes). The per-row alternative
    (`functions.text.
    word_shingles`, a higher-order `transform` + `slice` + `array_join`)
    evaluates its lambda INTERPRETED — outside whole-stage codegen — and
    measured ~6× slower at 5k docs; window lead + concat_ws stays inside
    codegen, at the cost of one shuffle on the doc id (which downstream
    aggregations need anyway). Documents with fewer than k tokens yield no
    rows. posexplode_outer, not posexplode: the plain generator's implicit
    size>0 filter gets pushed below the spread exchange and recomputes the
    token pipeline pre-spread (same trap documented in
    minhash_signatures)."""
    tok = spread_narrow(df).select(
        F.col(id_col).alias("doc"),
        F.posexplode_outer(tokens(text_col)).alias("pos", "w0"),
    )
    w = Window.partitionBy("doc").orderBy("pos")
    leads = [F.lead("w0", j).over(w).alias(f"w{j}") for j in range(1, k)]
    return (
        tok.select("doc", "w0", *leads)
        .filter(F.col(f"w{k - 1}" if k > 1 else "w0").isNotNull())
        .select(
            "doc",
            F.concat_ws(" ", *[f"w{j}" for j in range(k)]).alias("s"),
        )
    )


# Python ``str.split()`` whitespace as a Java regex: ``(?U)\s`` is the
# Unicode White_Space property, which lacks the four information
# separators \x1c-\x1f that ``str.isspace()`` also accepts.
_SPLIT_WS = r"(?U)[\s\x1c-\x1f]+"


def shingle_posting_rows(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Per-doc DISTINCT word-k-shingle rows ``(doc, n_shingles, s)`` — the
    shared map-side front end of the shingle consumers (inverted-index
    Jaccard/containment, MinHash), all in the JVM and zero shuffles: split
    on whitespace runs (``_SPLIT_WS``, exactly Python ``str.split()``'s
    separators), drop the empty edge tokens ``split`` leaves, MLlib's
    ``NGram`` (a compiled Scala sliding window joined by one space), then
    ``sort_array(array_distinct)`` and an explode with the set size as
    ``n_shingles``. Strings sort in code-point order here as in Python, so
    the rows equal the earlier Python ``mapInPandas`` front end's and
    MinHash indexes persisted by it still self-match. Measured against
    it (4 vCPUs, ``local[4]``, best of 3, ``count()``): k=3 over 500 docs
    602 → 391 ms and over 5,000 docs 842 → 364 ms; k=8 over 5,000 docs
    674 → 304 ms; no Python worker starts. Documents with fewer than k
    tokens, empty or NULL text yield no rows.

    ``coalesce`` to "" because ``NGram`` throws on a NULL array.
    ``sort_array``, not ``array_sort``: the latter's default comparator
    is an interpreted lambda. ``explode_outer`` + a NULL filter, not
    ``explode``: the plain generator's inferred ``size > 0`` filter is
    pushed below the ``spread_narrow`` exchange and would run the whole
    pipeline a second time, pre-spread, in one task."""
    from pyspark.ml.feature import NGram

    toks = F.array_remove(
        F.split(F.coalesce(F.col(text_col), F.lit("")), _SPLIT_WS), ""
    )
    src = spread_narrow(df).select(
        F.col(id_col).cast("long").alias("doc"), toks.alias("__toks")
    )
    grams = NGram(n=k, inputCol="__toks", outputCol="__grams").transform(src)
    sets = grams.select(
        "doc", F.sort_array(F.array_distinct("__grams")).alias("__set")
    )
    return (
        sets.select(
            "doc",
            F.size("__set").cast("long").alias("n_shingles"),
            F.explode_outer("__set").alias("s"),
        )
        .filter(F.col("s").isNotNull())
    )


def shingle_overlap_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    max_shingle_df: int | None = None,
    hash_shingles: bool = True,
) -> DataFrame:
    """Shared inverted-index core of Jaccard/containment dedup: per
    candidate pair (id_a < id_b), the distinct-shingle overlap ``common``
    and both set sizes ``na``/``nb``.

    ``max_shingle_df`` drops shingles appearing in more than that many docs
    (stop-shingles) — at 100 TB this bound is what keeps bucket sizes and the
    pair count linear-ish; dropped shingles slightly underestimate overlap
    for affected pairs (standard trade-off, disclosed here).

    ``hash_shingles`` replaces each shingle string with its xxhash64 before
    the shuffle: the shuffled keys shrink from ~20-byte strings to 8-byte
    longs. Counts are then over hashed shingles — identical unless two
    distinct shingles of one corpus collide in 64 bits (expected collisions
    ≈ n²/2⁶⁵; for a trillion-shingle corpus ≈ 0.03), the standard trade
    every production shingle pipeline makes.

    Architecture (round-4 rewrite, measured 2.09 s → 1.28 s at sf0.1,
    bench-style fresh builds):

    1. Per-doc DISTINCT shingle rows ``(doc, n_shingles, shingle)`` come
       out of :func:`shingle_posting_rows`, map-side and deduplicated
       within each document, with zero shuffles. Its JVM ``NGram`` form
       replaced a Python ``mapInPandas`` pass (842 → 364 ms at 5,000
       docs), which had in turn replaced a posexplode → lead-window →
       distinct → count-window pipeline (an exchange on the doc id plus
       two window sorts before the first useful shuffle) and a
       higher-order ``transform`` (its lambda evaluates interpreted:
       6.3 s for the same stage).
    2. One shuffle groups postings per shingle; document frequency is just
       ``size()`` of the posting array, so the ``max_shingle_df`` cap and
       the drop of unpaired (DF=1) shingles are free filters — no DF window.
    3. Ordered (id_a < id_b) pairs spill out of a posexplode + slice
       nested-generate (codegen-friendly, no interpreted lambda), and one
       final shuffle aggregates overlap counts. ``min`` (not ``first``) for
       na/nb: same value by construction, cheaper aggregation buffers.

    At cluster scale stage 1 is embarrassingly parallel, and the only
    all-to-all movement is two long-keyed shuffles; a posting array for one
    shingle must fit in a task, which is exactly what ``max_shingle_df``
    bounds — set it for any 100 TB corpus.
    """
    inv = shingle_posting_rows(df, id_col, text_col, shingle_k)
    shingle = F.xxhash64("s") if hash_shingles else F.col("s")
    inv = inv.select("doc", "n_shingles", shingle.alias("shingle"))

    raw = inv.groupBy("shingle").agg(
        F.collect_list(F.struct("doc", "n_shingles")).alias("raw")
    )
    # DF cap and the DF>=2 floor in one pass over array sizes; n_shingles
    # was counted per document BEFORE any cap, preserving the
    # under-estimate-only semantics documented above. sort_array runs only
    # on surviving groups (id_a < id_b needs doc-sorted postings).
    keep = F.size("raw") >= 2
    if max_shingle_df is not None:
        keep = keep & (F.size("raw") <= max_shingle_df)
    grouped = raw.filter(keep).select(F.sort_array("raw").alias("ds"))
    e1 = grouped.select("ds", F.posexplode("ds").alias("i", "a"))
    e2 = e1.select(
        "a",
        F.explode(
            F.slice(
                "ds",
                F.col("i") + F.lit(2),
                F.greatest(F.size("ds") - F.col("i") - 1, F.lit(0)),
            )
        ).alias("b"),
    )
    return (
        e2.select(
            F.col("a.doc").alias("id_a"),
            F.col("a.n_shingles").alias("na"),
            F.col("b.doc").alias("id_b"),
            F.col("b.n_shingles").alias("nb"),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    hash_shingles: bool = True,
) -> DataFrame:
    """Exact Jaccard over distinct word-k-shingles via the shared
    inverted-index core (see :func:`shingle_overlap_counts`)."""
    pairs = shingle_overlap_counts(
        df, id_col, text_col, shingle_k, max_shingle_df, hash_shingles
    )
    jac = F.try_divide(
        F.col("common").cast("double"),
        (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
    )
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
    hash_shingles: bool = True,
) -> DataFrame:
    """ASYMMETRIC containment |A∩B|/|A| (resp. /|B|) over the same inverted
    index — catches SUB-document duplication (boilerplate, long quotes, a
    document embedded inside a larger one) that symmetric Jaccard misses: a
    short file pasted into a long one has tiny Jaccard but containment ≈ 1.
    Keeps pairs where either direction clears the threshold."""
    pairs = shingle_overlap_counts(
        df, id_col, text_col, shingle_k, max_shingle_df, hash_shingles
    )
    c = F.col("common").cast("double")
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(F.try_divide(c, F.col("na").cast("double")), 6).alias(
                "cont_a_in_b"
            ),
            F.round(F.try_divide(c, F.col("nb").cast("double")), 6).alias(
                "cont_b_in_a"
            ),
        )
        .filter(
            (F.col("cont_a_in_b") >= threshold)
            | (F.col("cont_b_in_a") >= threshold)
        )
    )


# --- tier 3: MinHash + LSH ---------------------------------------------------

def minhash_signature(
    text_or_shingles: Column | str,
    num_hashes: int = 32,
    shingle_k: int = 3,
    from_shingles: bool = False,
) -> Column:
    """MinHash signature as array<bigint>, computed per-row with native
    expressions: sig[i] = min over shingles of xxhash64(shingle, salt_i).
    Empty shingle sets yield nulls in the signature (filtered by callers)."""
    sh = (
        (F.col(text_or_shingles) if isinstance(text_or_shingles, str) else text_or_shingles)
        if from_shingles
        else word_shingles(text_or_shingles, shingle_k)
    )
    return F.array(
        *[
            F.array_min(
                F.transform(sh, lambda s, i=i: F.xxhash64(s, F.lit(f"mh{i}")))
            )
            for i in range(num_hashes)
        ]
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    shingle_k: int = 3,
    _shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-document MinHash signatures via explode → groupBy → 32×min: each
    shingle is hashed exactly once per hash function, and the single shuffle
    (on the id) is the whole cost — the formulation that scales.

    (The per-row HOF expression in :func:`minhash_signature` computes the
    same values shuffle-free, but Catalyst's projection collapse DUPLICATES
    the shingle pipeline into every downstream use of the signature —
    measured 20× slower once banding fans it out ×8. Keep the HOF form for
    single-use expressions; build pipelines from this one.)

    Documents with zero shingles produce no row (same effect as the old
    null-signature filter). Signature values are identical to
    :func:`minhash_signature` (same ``mh{i}`` salts)."""
    # Shingles arrive as rows from the shared map-side builder (see
    # shingle_posting_rows); min() is duplicate-insensitive, so pre- vs
    # post-distinct inputs give identical signatures. Zero-shingle docs
    # produce no rows, preserving the "no row" contract. ``_shingles`` lets
    # composite pipelines pass a materialized shingle table so the gram
    # build isn't recomputed per stage.
    sh = (
        _shingles
        if _shingles is not None
        else shingle_posting_rows(df, id_col, text_col, shingle_k)
    )
    aggs = [
        F.min(F.xxhash64("s", F.lit(f"mh{i}"))).alias(f"__h{i}")
        for i in range(num_hashes)
    ]
    return (
        sh.groupBy("doc")
        .agg(*aggs)
        .select(
            "doc",
            F.array(*[F.col(f"__h{i}") for i in range(num_hashes)]).alias("sig"),
        )
    )


def sig_band_rows(
    sig_df: DataFrame,
    bands: int,
    rows_per_band: int,
    id_col: str = "doc",
    sig_col: str = "sig",
) -> DataFrame:
    """(doc, band, bucket) from MinHash signature ARRAYS — native
    expressions only (slice + cast + concat_ws + xxhash64), no text, no
    shingles. THE single banding definition: the batch LSH operator below
    and the persisted signature index (operators/dedup_index.py) both call
    this, so an index built today is guaranteed to bucket identically to
    batches banded tomorrow."""
    return sig_df.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                F.transform(
                                    F.slice(
                                        sig_col, b * rows_per_band + 1, rows_per_band
                                    ),
                                    lambda x: x.cast("string"),
                                ),
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", "bb.band", "bb.bucket")


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    _shingles: DataFrame | None = None,
) -> DataFrame:
    """LSH banding: band hash = xxhash64 over a signature slice; candidates
    are pairs sharing ≥1 (band, band_hash) bucket. Equi-join → AQE handles
    skewed buckets; rows_per_band = num_hashes // bands sets the S-curve."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_k, _shingles=_shingles
    )
    banded = sig_band_rows(sig, bands, rows_per_band)
    a = banded.select(F.col("doc").alias("id_a"), "band", "bucket")
    b = banded.select(F.col("doc").alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """Candidates via LSH, then exact Jaccard verification on shingle sets
    (array_intersect/array_union — per-pair, JVM-side). The verify join is
    only over candidate pairs, so the quadratic term never materializes."""
    # The shingle table feeds BOTH the signature pipeline (via the
    # candidate generator) and the verification sets below —
    # localCheckpoint (NOT .cache()) so the tokenize+window gram build runs
    # once per invocation: checkpoint blocks are released by the
    # ContextCleaner when the result is garbage-collected, while
    # CacheManager entries would pin executor storage until an explicit
    # unpersist — a leak across repeated invocations in a long-lived
    # session (at cluster scale this is the intermediate you'd materialize
    # to storage).
    sh_rows = shingle_posting_rows(
        df, id_col, text_col, shingle_k
    ).localCheckpoint(eager=False)
    cands = lsh_candidate_pairs(
        df, id_col, text_col, num_hashes, bands, shingle_k, _shingles=sh_rows
    )
    # Shingle SETS are assembled only for documents that appear in a
    # candidate pair (semi-join prune): at scale the candidate set is a
    # vanishing fraction of the corpus, so the collect_set aggregation
    # touches ~|candidates| docs, not |corpus|.
    cand_docs = (
        cands.select(F.col("id_a").alias("doc"))
        .union(cands.select(F.col("id_b").alias("doc")))
        .distinct()
    )
    sh = (
        sh_rows.join(cand_docs, "doc", "left_semi")
        .groupBy("doc")
        .agg(F.collect_set("s").alias("sh"))
    )
    joined = (
        cands.join(sh.withColumnRenamed("doc", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("doc", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    )
    jac = F.try_divide(
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double"),
        F.size(F.array_union("sh_a", "sh_b")).cast("double"),
    )
    return (
        joined.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --- tier 4: SimHash ---------------------------------------------------------

def simhash64(text: Column | str) -> Column:
    """64-bit SimHash computed per-row with a higher-order aggregate — no
    explode, no shuffle: fold tokens into 64 signed counters (+1/-1 per bit
    of each token's xxhash64), then pack sign bits into one bigint.

    Bit indices are unrolled in Python (shiftleft/shiftright take literal
    shift amounts); the pack step consumes the counters array exactly once
    via zip_with against a literal power-of-two array."""
    toks = tokens(text)
    zeros = F.array_repeat(F.lit(0).cast("long"), 64)

    def tok_bits(t: Column) -> Column:
        h = F.xxhash64(t)
        return F.array(
            *[
                (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
                for j in range(64)
            ]
        )

    counters = F.aggregate(
        toks, zeros, lambda acc, t: F.zip_with(acc, tok_bits(t), lambda a, b: a + b)
    )
    pow2 = F.array(*[F.shiftleft(F.lit(1).cast("long"), j) for j in range(64)])
    return F.aggregate(
        F.zip_with(
            counters,
            pow2,
            lambda c, p: F.when(c > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-document 64-bit SimHash via explode → groupBy → 64 signed-counter
    sums → bit pack. One shuffle; each token hashed once.

    (Same lesson as :func:`minhash_signatures`: the per-row HOF expression in
    :func:`simhash64` gets DUPLICATED by projection collapse into every
    downstream use — ×5 once the 4-band explode referenced it. Identical
    signature values: same token hash, same sign rule, empty-token documents
    pack to 0 via explode_outer.)"""
    tok = spread_narrow(df).select(
        F.col(id_col).alias("doc"),
        F.explode_outer(tokens(text_col)).alias("t"),
    )
    h = F.xxhash64("t")
    aggs = [
        F.sum(
            F.when(F.col("t").isNull(), F.lit(0).cast("long")).otherwise(
                (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
            )
        ).alias(f"__b{j}")
        for j in range(64)
    ]
    agg = tok.groupBy("doc").agg(*aggs)
    sig = F.lit(0).cast("long")
    for j in range(64):
        sig = sig.bitwiseOR(
            F.when(
                F.col(f"__b{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)
            ).otherwise(F.lit(0).cast("long"))
        )
    return agg.select("doc", sig.alias("sig"))


def hamming64(a: Column | str, b: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.bit_count(a.bitwiseXOR(b))


# Broadcast-build-relation budget for the signature-gate joins below: a
# banded probe side whose ESTIMATED build size fits under this many bytes
# broadcasts instead of paying two shuffle exchanges; larger corpora keep
# the shuffled equi-join — the correct 100 TB plan. The estimate is
# derived from the MEASURED row count and id width of the checkpointed
# proxy (r12 advisor: the old fixed 250k-row gate under-counted the
# per-row UnsafeRow + doc-id + HashedRelation overhead 3-5×, and doc-id
# length is caller-controlled). Same size-aware-plan pattern as q2's
# catalog gate.
_BAND_BROADCAST_BYTES = 32 * 1024 * 1024


def _proxy_stats(df: DataFrame, id_col: str = "doc") -> tuple[int, float]:
    """(row count, avg id payload bytes) of a materialized signature
    proxy, in ONE job. Non-string ids are fixed 8-byte words; string ids
    are measured (they are caller-controlled and can dominate the build
    relation)."""
    from pyspark.sql import types as T

    if isinstance(df.schema[id_col].dataType, T.StringType):
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.octet_length(F.col(id_col))).alias("idb"),
        ).collect()[0]
        return int(r["n"]), float(r["idb"] or 8.0)
    return df.count(), 8.0


def _fits_broadcast(
    n_rows: int, id_bytes: float, payload_bytes: float, fanout: int = 1
) -> bool:
    """Conservative build-relation estimate vs the broadcast budget:
    ~24 B UnsafeRow header/padding + id + payload per row, ×2 for the
    HashedRelation map overhead, ×``fanout`` rows emitted per input row
    (the band explode)."""
    per_row = 2.0 * (24.0 + id_bytes + payload_bytes)
    return n_rows * fanout * per_row <= _BAND_BROADCAST_BYTES


def hamming_bands(sig_df: DataFrame) -> DataFrame:
    """(doc, sig, band, bucket) from 64-bit ``(doc, sig)`` rows: the four
    16-bit bands, bucket = the band's bits. THE single Hamming banding
    definition: the batch operator below and the persisted Hamming index
    (operators/hamming_index.py) both call it, so an index built today
    buckets identically to batches banded tomorrow."""
    return sig_df.select(
        "doc",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sig"), 16 * b)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bucket"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc", "sig", "bb.band", "bb.bucket")


def hamming_band_pairs(
    sig: DataFrame,
    id_col: str = "doc",
    sig_col: str = "sig",
    max_hamming: int = 3,
) -> DataFrame:
    """Candidate pairs within Hamming distance ≤ k over a 64-bit
    signature column, WITHOUT an all-pairs join: by pigeonhole, two
    signatures differing in ≤ 3 bits agree exactly on at least one of
    four 16-bit bands → per-band equi-join on (band, bucket), then exact
    ``bit_count`` verify. Shared blocking machinery for SimHash text
    near-dup AND the perceptual image hashes (operators/multimodal.py,
    round 8). Returns (id_a, id_b, hamming), id_a < id_b. Linear-ish for
    bounded band collision rates; the verify filter bounds the rest.

    r12 optimization (guide §8 "move big rows once" + §3.1): the
    signature table is the LIGHTWEIGHT PROXY for the media/text bytes
    upstream — but a self-join consumes its plan twice, so without
    truncation the whole upstream pipeline (Arrow decode+hash stages,
    perturb stages) executed once PER SIDE. ``localCheckpoint`` pins the
    ~16 B/row signatures so fingerprinting runs exactly once per
    invocation (measured q147: 1.27 → 1.04 s; the q38 plan text shrinks
    70 KB → 4 KB). The materialized count then gates an explicit
    broadcast of the banded probe side — measured 1.04 → 0.88 s vs the
    un-hinted plan at serving scale, and the strategy becomes
    deterministic instead of riding Catalyst's size estimates through
    an opaque Python stage; shuffled equi-join kept for corpora beyond
    the bound where a broadcast would not fit.

    Fault-tolerance note (r12 advisor): ``localCheckpoint`` truncates
    lineage, so the pair plan is NOT recomputable if an executor holding
    checkpoint blocks is lost — the job fails and retries whole. The
    right trade for serving statements (the block lives minutes); long
    batch jobs that need replayability should persist the signature
    table (reliable checkpoint / write+read) upstream instead."""
    sig = sig.select(
        F.col(id_col).alias("doc"), F.col(sig_col).alias("sig")
    ).localCheckpoint(eager=False)
    n_sig, _id_bytes = _proxy_stats(sig, "doc")
    banded = hamming_bands(sig)
    a = banded.select(
        F.col("doc").alias("id_a"), F.col("sig").alias("sig_a"), "band", "bucket"
    )
    b = banded.select(
        F.col("doc").alias("id_b"), F.col("sig").alias("sig_b"), "band", "bucket"
    )
    # banded row payload: sig + band + bucket (3 longs)
    if _fits_broadcast(n_sig, _id_bytes, payload_bytes=24.0, fanout=4):
        b = F.broadcast(b)
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming64("sig_a", "sig_b").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def index_band_join(
    batch_sigs: DataFrame,
    index_sigs: DataFrame,
    banded: Callable[[DataFrame], DataFrame],
    score: Column,
    keep: Column,
    payload_bytes: float,
    fanout: int,
) -> DataFrame:
    """Verdicts of a ``(doc, sig)`` batch against a persisted index and
    within itself, in ONE band join — both index gates' verdict. The
    batch's band rows (``banded``: the family's split to ``(doc, sig,
    band, bucket)``), carrying ``sig`` as ``__sig_a``, are the build
    side, broadcast when :func:`_fits_broadcast` allows; the streamed
    side is the index's band rows (scanned once) unioned with the
    batch's own, tagged ``index``/``batch``, carrying ``__sig_b``.
    ``score`` is the named verify expression over the two, ``keep`` its
    predicate; within the batch a doc pairs only with lower ids. Returns
    distinct ``(doc, dup_of, <score>, source)`` rows. ``batch_sigs`` is
    read three times: pass a checkpointed proxy."""
    n_batch, id_bytes = _proxy_stats(batch_sigs, "doc")
    bcast = _fits_broadcast(n_batch, id_bytes, payload_bytes, fanout)
    b_band = banded(batch_sigs)
    build = b_band.select(
        "doc", F.col("sig").alias("__sig_a"), "band", "bucket"
    )
    streamed = (
        banded(index_sigs)
        .withColumn("source", F.lit("index"))
        .unionByName(b_band.withColumn("source", F.lit("batch")))
        .select(
            F.col("doc").alias("dup_of"), F.col("sig").alias("__sig_b"),
            "band", "bucket", "source",
        )
    )
    return (
        (F.broadcast(build) if bcast else build)
        .join(streamed, ["band", "bucket"])
        .filter(
            (F.col("source") == "index") | (F.col("dup_of") < F.col("doc"))
        )
        .select("doc", "dup_of", score, "source")
        .filter(keep)
        # a pair sharing several bands matches once per band
        .distinct()
    )


def simhash_near_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dups by SimHash Hamming distance ≤ k (k ≤ 3): by pigeonhole, at
    least one of four 16-bit bands is identical → equi-join per band, then
    exact Hamming verify. Linear-ish for bounded band collision rates."""
    sig = simhash_signatures(df, id_col, text_col)
    return hamming_band_pairs(sig, "doc", "sig", max_hamming)


# Single-task gate shared by both connected-components strategies: a
# deduplicated edge set at or under this many rows union-finds inside ONE
# Arrow task (exact integer/string algorithm — no numeric concerns). An
# iterative distributed round costs ~3 sequential stage barriers of pure
# scheduling; for candidate-pair graphs (which are tiny relative to the
# corpus by construction) that floor dwarfs the work. Same bounded-
# smallness argument as the IVF centroid collect (similarity.py).
_LOCAL_EDGES_CC = 500_000


def _cc_single_task(
    sym_or_edges: DataFrame, a: str, b: str, with_sizes: bool = False
) -> DataFrame:
    """Union-find over a 1-partition copy of the (deduplicated) edge list;
    component = min node id, found by min-root union with path compression.
    Emits (node, component) for every node in the edge set;
    ``with_sizes`` appends component_size (member count) — free here (a
    Counter over roots), and it saves callers a groupBy + join-back that
    would otherwise consume the whole pipeline twice."""

    def _unionfind(it):
        import pandas as pd

        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for pdf in it:
            for x, y in zip(pdf[a].values, pdf[b].values):
                if x not in parent:
                    parent[x] = x
                if y not in parent:
                    parent[y] = y
                rx, ry = find(x), find(y)
                if rx != ry:
                    # attach the larger root under the smaller: the root of
                    # every tree is then the component minimum by induction
                    if rx < ry:
                        parent[ry] = rx
                    else:
                        parent[rx] = ry
        if parent:
            nodes = list(parent)
            comps = [find(x) for x in nodes]
            out = {"node": nodes, "component": comps}
            if with_sizes:
                from collections import Counter

                sizes = Counter(comps)
                out["component_size"] = [sizes[c] for c in comps]
            yield pd.DataFrame(out)

    t = dict(sym_or_edges.dtypes)[a]
    schema = f"node {t}, component {t}"
    if with_sizes:
        schema += ", component_size long"
    return sym_or_edges.repartition(1).mapInPandas(_unionfind, schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    assume_small: bool = False,
    with_sizes: bool = False,
) -> DataFrame:
    """Connected components by hash-min label propagation — the cluster
    step of a dedup pipeline (pairs from ANY tier: exact, MinHash, SimHash,
    n-gram Jaccard feed in; out come duplicate CLUSTERS, so keep-one /
    canonicalization is a groupBy away).

    Pregel-style: every node starts labeled with itself; each round, every
    node takes the min label over its neighborhood; converged when no label
    changes. Each round is one equi-join + groupBy-min (one shuffle), with
    ``localCheckpoint`` truncating lineage so plans don't grow with rounds.
    Rounds needed ≈ graph diameter — O(log n) for the star/chain graphs
    near-dup candidate generation produces. The per-round convergence check
    is a driver-side count — the standard iterative-algorithm pattern
    (GraphX/Pregel do exactly this); it is NOT a hot-path collect: one
    scalar per round, bounded by max_iter.

    Returns (node, component) for every node appearing in ``edges``;
    component = min node id in the component. Raises if not converged
    within ``max_iter`` (never returns a partial clustering silently).
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # ``assume_small``: the CALLER already knows the edge set is tiny (e.g.
    # gated on the source file footprint) — skip the blocking count and the
    # materialization entirely, so the union-find runs as one narrow stage
    # inside the caller's job (q91 at sf0.1: 1.5 s → ~0.8 s end-to-end,
    # the whole query collapsing to a single Spark job).
    if assume_small:
        return _cc_single_task(sym, "a", "b", with_sizes=with_sizes)
    # materialize ONCE: sym is consumed by the gate count and (on the
    # distributed path) joined every round — upstream edge generation
    # (hashing + windows + distinct) would otherwise be recomputed per
    # round (measured 3.5x the whole-query wall at sf0.1)
    sym = sym.localCheckpoint()
    if sym.count() <= _LOCAL_EDGES_CC:
        return _cc_single_task(sym, "a", "b", with_sizes=with_sizes)
    labels = (
        sym.select(F.col("a").alias("node"))
        .union(sym.select(F.col("b").alias("node")))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy("a")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        stepped = labels.join(
            nbr_min, labels.node == nbr_min.a, "left"
        ).select(
            "node",
            "lbl",
            F.least(F.col("lbl"), F.coalesce("nbr_lbl", "lbl")).alias("new_lbl"),
        ).localCheckpoint()
        changed = stepped.filter(F.col("new_lbl") < F.col("lbl")).count()
        labels = stepped.select("node", F.col("new_lbl").alias("lbl"))
        if changed == 0:
            out = labels.select("node", F.col("lbl").alias("component"))
            if with_sizes:
                out = out.withColumn(
                    "component_size",
                    F.count(F.lit(1)).over(Window.partitionBy("component")),
                )
            return out
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "raise max_iter (diameter exceeds the bound) or check the edge set"
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the scale-depth alternative to
    :func:`connected_components`.

    Hash-min label propagation needs ~diameter rounds: fine for the star/
    clique graphs exact-dup keys produce, painful for the long CHAINS
    near-dup similarity edges can form (A~B~C~... each within threshold of
    the next). Star contraction converges in O(log^2 n) rounds regardless
    of diameter: large-star hooks every node above its neighborhood minimum
    directly onto that minimum, small-star flattens the resulting forest.
    Each half-round is one groupBy + one equi-join on the CURRENT edge set
    (which only shrinks), with localCheckpoint truncating lineage.

    Convergence: the canonical edge set is a fixed point of both stars ==
    the graph is a union of stars centered at component minima; detected by
    an (edge-count, hash-sum) signature match between rounds — two scalars,
    not a collect. Returns (node, component), component = min node id, same
    contract as :func:`connected_components`. Raises if not converged."""
    e = (
        edges.select(F.col(src).alias("x"), F.col(dst).alias("y"))
        .filter(F.col("x") != F.col("y"))
        .select(F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    if e.count() <= _LOCAL_EDGES_CC:
        return _cc_single_task(e, "u", "v")
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint()
    )

    def _sig(d: DataFrame) -> tuple:
        row = d.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: a bigint sum of 2^63-scale hashes overflows under
            # ANSI mode
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = _sig(e)
    for _ in range(max_iter):
        # large-star: for every node a (via symmetric adjacency), hook each
        # LARGER neighbor onto m(a) = min(neighborhood + self)
        sym = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("x"), F.col("m").alias("y"))
            .filter(F.col("x") != F.col("y"))
            .select(
                F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v")
            )
            .distinct()
        )
        # small-star: edges already canonical (u > v); hook every smaller
        # neighbor (and the center) onto m(u) = min of the smaller side
        m2 = large.groupBy("u").agg(F.min("v").alias("m"))
        j = large.join(m2, "u")
        e = (
            j.select(F.col("v").alias("x"), F.col("m").alias("y"))
            .union(j.select(F.col("u").alias("x"), F.col("m").alias("y")))
            .filter(F.col("x") != F.col("y"))
            .select(
                F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v")
            )
            .distinct()
            .localCheckpoint()
        )
        cur = _sig(e)
        if cur == prev:
            labels = e.select(
                F.col("u").alias("node"), F.col("v").alias("component")
            )
            return (
                nodes.join(labels, "node", "left")
                .select(
                    "node",
                    F.coalesce("component", "node").alias("component"),
                )
            )
        prev = cur
    raise RuntimeError(
        f"connected_components_star did not converge in {max_iter} rounds"
    )
