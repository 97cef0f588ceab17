"""Similarity search over embedding columns: exact top-k and LSH/IVF ANN.

Reference parity: knowledge-base retrieval ("Suggests resolutions from a
growing knowledge base", reference README.md:11) over root-cause embeddings
(README.md:52). North-star: similarity search as a first-class training-data
operator (SURVEY.md §2.3 J8).

Scale design:
- exact :func:`brute_force_topk` — broadcast the (small) query side, stream
  the corpus, per-query windowed top-k. Linear in corpus size, no corpus
  shuffle until the final k rows; the baseline and the correctness oracle.
- :func:`random_hyperplane_lsh` — sign-bit bucket of seeded hyperplanes
  (plan constants, deterministic); ANN = equi-join on bucket (optionally
  multi-probe via Hamming-adjacent buckets). Sub-linear candidate sets.
- :func:`ivf_assign` / :func:`ivf_topk` — inverted-file index: MLlib KMeans
  (seeded) centroids; search only the ``nprobe`` nearest cells. The
  centroid table is tiny → broadcast; corpus is partitioned by cell.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vectors as V
from ..session import local_frame


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "qid",
    query_vec: str = "qv",
    k: int = 10,
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k neighbors per query (queries broadcast; corpus streamed)."""
    score = (
        V.cosine_similarity(corpus_vec, query_vec)
        if metric == "cosine"
        else -V.l2_distance(corpus_vec, query_vec)
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .withColumn("score", score)
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col(corpus_id)
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= k)
        .select(query_id, corpus_id, "score", "rn")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _array_lit(values: list[float]) -> Column:
    """Literal array<double> in ONE py4j call. ``F.lit(list)`` (and per
    element ``F.lit``) costs one JVM round-trip per element — ~10k calls and
    ~10 s of pure gateway latency per plan build at 12 tables × 6 planes ×
    64 dims. A SQL array literal parses JVM-side instead."""
    return F.expr("array(" + ",".join(format(x, ".17g") + "D" for x in values) + ")")


def _lsh_bucket_sql(vec_name: str, dim: int, n_planes: int, seed: int) -> str:
    """The whole bucket expression as ONE SQL string. Building it from
    pyspark Column/HOF calls costs ~30 py4j round-trips per plane — ~10 s of
    gateway latency per plan at 12 tables × 6 planes × 2 sides; the SQL text
    parses JVM-side in one call. Semantics identical to the Column form."""
    planes = _hyperplanes(dim, n_planes, seed)
    bits = []
    for i, plane in enumerate(planes):
        arr = "array(" + ",".join(format(x, ".17g") + "D" for x in plane) + ")"
        dot = (
            f"aggregate(zip_with(`{vec_name}`, {arr}, "
            "(a, p) -> CAST(a AS DOUBLE) * p), 0.0D, (acc, x) -> acc + x)"
        )
        bits.append(f"IF({dot} > 0D, shiftleft(1L, {i}), 0L)")
    return " | ".join(bits)


def random_hyperplane_lsh(
    vec: Column | str, dim: int, n_planes: int = 16, seed: int = 42
) -> Column:
    """Bucket id = sign bits of <vec, plane_i> packed into a bigint. The
    planes are derived from ``seed`` at plan-build time and inlined as
    literals → deterministic across runs and cluster layouts. ``vec`` given
    as a column NAME takes the fast one-call SQL build path."""
    if isinstance(vec, str):
        return F.expr(_lsh_bucket_sql(vec, dim, n_planes, seed))
    planes = _hyperplanes(dim, n_planes, seed)
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    vec,
                    _array_lit(plane),
                    lambda a, p: a.cast("double") * p,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            > 0,
            F.shiftleft(F.lit(1).cast("long"), i),
        ).otherwise(F.lit(0).cast("long"))
        for i, plane in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "qid",
    query_vec: str = "qv",
    k: int = 10,
    n_planes: int = 12,
    seed: int = 42,
    multiprobe: int = 0,
    n_tables: int = 1,
) -> DataFrame:
    """ANN: candidates share the query's LSH bucket; exact re-rank within.
    Recall < 1 by construction (rows-only checked); candidate volume is
    corpus/2^n_planes per bucket in expectation.

    ``multiprobe`` ≥ 1 also probes every bucket at Hamming distance 1 from
    the query's bucket (each near-miss of one hyperplane) — the standard
    multi-probe LSH recall lift: the QUERY side fans out ×(n_planes+1),
    the corpus is untouched, so cost stays sub-linear in corpus size.

    ``n_tables`` > 1 is OR-amplification: L independent plane sets (seeded
    seed+1000t), a candidate matches if it collides in ANY table — recall
    1-(1-p^b)^L at the cost of an ×L corpus index (the classic LSH-forest
    trade; the corpus explode stays one narrow stage, the join is still an
    equi-join on (table, bucket))."""
    tables = list(range(max(1, n_tables)))

    # The plane tensor travels as the CLOSURE of ONE Arrow-batched UDF
    # instead of inlined literals: at 12 tables × 6 planes × 64 dims the
    # literal form put ~9k constants into the plan tree and every
    # downstream withColumn/select/join RE-ANALYZED that tree JVM-side
    # (measured: ~1.4 s of pure plan build per q42 statement, py4j
    # profile: 15 withColumn calls = 2.7 s/3 runs). The UDF keeps the
    # tree KB-scale and the sign-bit math is one einsum per Arrow batch.
    # Rows-only semantics: numpy's summation-order ULP differences vs
    # the sequential HOF fold could flip a bucket only when a dot
    # product is within one ulp of 0; both sides use the SAME UDF, so
    # bucketing stays self-consistent (recall gates, not value hashes).
    planes = np.stack(
        [
            np.asarray(
                _hyperplanes(dim, n_planes, seed + 1000 * t),
                dtype=np.float64,
            )
            for t in tables
        ]
    )  # (T, P, D)
    weights = 1 << np.arange(n_planes, dtype=np.int64)  # (P,)

    @F.pandas_udf("array<bigint>")
    def _buckets_batch(v):
        import pandas as pd

        if not len(v):
            return pd.Series([], dtype=object)
        # NULL / wrong-dim vectors bucket to NULL (posexplode then drops
        # the row) — matching the expression form this UDF replaced,
        # where the HOF fold evaluated NULL embeddings to a NULL bucket;
        # a bare np.stack would raise on the first ragged batch and fail
        # the whole statement (round-6 advisor)
        raw = v.to_numpy()
        ok = np.array(
            [x is not None and len(x) == planes.shape[2] for x in raw]
        )
        out = np.full(len(raw), None, dtype=object)
        if ok.any():
            M = np.stack(raw[ok]).astype(np.float64)  # (N_ok, D)
            dots = np.einsum("nd,tpd->ntp", M, planes)  # (N_ok, T, P)
            packed = ((dots > 0).astype(np.int64) * weights).sum(axis=2)
            out[np.flatnonzero(ok)] = list(packed)
        return pd.Series(out)

    def buckets(vec_col: str) -> Column:
        return _buckets_batch(F.col(vec_col))

    # NO spread_narrow on the corpus: the bucket stage is an Arrow UDF
    # whose serving-SF cost is per-TASK Python-worker dispatch, not
    # per-row CPU (one einsum covers the whole batch) — repartitioning a
    # KB-scale cached corpus to 32 partitions made the stage pay 32
    # dispatches (the round-6 q48 lesson). Measured at sf0.1 best-of-5:
    # q42 fresh statement 1.35 → 0.84 s with this + the single-shuffle
    # top-k below + the single-parse cosine expr (functions/vectors.py).
    # At cluster SF the scan already exceeds core count.
    c = corpus.select(
        F.col(corpus_id),
        F.col(corpus_vec),
        F.posexplode(buckets(corpus_vec)).alias("tbl", "bucket"),
    )
    q = queries.select(
        F.col(query_id),
        F.col(query_vec),
        F.posexplode(buckets(query_vec)).alias("tbl", "bucket"),
    )
    if multiprobe >= 1:
        flips = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)
            ],
        )
        q = (
            q.withColumn("bucket", F.explode(flips))
        )
    # Dedup (a pair can collide in several tables/probes) + per-query
    # top-k in ONE shuffle: collect_set of (-score, id, score) structs,
    # ascending array_sort = score desc / id asc, slice k, posexplode.
    # The old dropDuplicates + row_number window was TWO shuffles — two
    # extra 16-task scheduling waves per statement that dominate at
    # serving SF. Struct-identical duplicates (same pair ⇒ same score
    # bits) collapse in the set; candidate lists are bounded by bucket
    # occupancy × tables, the same bound the window path shuffled.
    scored = c.join(F.broadcast(q), ["tbl", "bucket"]).select(
        F.col(query_id),
        F.struct(
            (-V.cosine_similarity(corpus_vec, query_vec)).alias("ns"),
            F.col(corpus_id).alias("cid"),
        ).alias("cand"),
    )
    # Struct ordering puts a NULL leading field FIRST in ascending sort,
    # so a NULL cosine (zero-norm vector via try_divide) would jump the
    # top-k queue — the row_number window this replaced used score.desc()
    # (NULLS LAST). A null-score candidate is meaningless as a match, so
    # drop it pre-shuffle rather than rank it last (round-7 advisor).
    scored = scored.where(F.col("cand.ns").isNotNull())
    return (
        scored.groupBy(query_id)
        .agg(F.slice(F.array_sort(F.collect_set("cand")), 1, k).alias("top"))
        .select(
            F.col(query_id),
            F.posexplode("top").alias("pos", "s"),
        )
        .select(
            query_id,
            F.col("s.cid").alias(corpus_id),
            (-F.col("s.ns")).alias("score"),
            (F.col("pos") + 1).cast("bigint").alias("rn"),
        )
    )


def ivf_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
    method: str = "sample",
    train_sample: int | None = None,
    as_list: bool = False,
    hash_sample_col: str | None = None,
) -> DataFrame | list:
    """KMeans cell centroids → DataFrame(cell, centroid).

    ``method="sample"`` (default) trains seeded Lloyd's k-means on a bounded
    driver-side sample — the FAISS offline-index design: centroid quality
    needs only a representative sample (FAISS itself defaults to ~256
    vectors/centroid), so training cost is independent of corpus size and
    the index build is ONE bounded collect instead of 20 distributed jobs.
    ``method="mllib"`` runs distributed MLlib KMeans over the full corpus —
    use when the corpus is too skewed for sampling or you want exact
    full-data centroids and can afford the iterative jobs.

    ``hash_sample_col`` (r13): when set to an id column, the training
    sample is the ``cap`` rows with the LOWEST ``(xxhash64(id), id)`` —
    a deterministic function of the row SET, independent of file layout
    and partition order, where the default ``limit(cap)`` takes whatever
    rows the scan yields first (file-order-sensitive). The persisted-ANN
    rebalance re-fit uses this so maintenance generations don't change
    when the index table's write layout does (the r12 blocker for the
    cell-clustered layout). One TakeOrdered pass instead of a plain
    limit — same bounded driver collect."""
    spark = corpus.sparkSession
    if method == "sample":
        # FAISS's training heuristic: ~256 vectors per centroid is enough;
        # more sample rows cost collect time without moving the centroids
        cap = train_sample if train_sample is not None else 256 * n_cells
        # Arrow fetch, not collect(): row-pickling a few thousand
        # array<double> rows measured 0.41 s of pure driver transfer per
        # build at sf0.1 vs ~0.03 s via toArrow (r12 optimization; same
        # rows, same order, same float64 bits — guide §6 Arrow-for-driver)
        if hash_sample_col is None:
            sel = corpus.select(F.col(vec_col)).limit(cap)
        else:
            sel = (
                corpus.orderBy(
                    F.xxhash64(F.col(hash_sample_col)),
                    F.col(hash_sample_col),
                )
                .select(F.col(vec_col))
                .limit(cap)
            )
        sample = sel.toArrow().column(0).to_pylist()
        centers = _np_kmeans(np.asarray(sample, dtype=np.float64), n_cells, seed)
        centers = [c.tolist() for c in centers]
    elif method == "mllib":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        assembled = corpus.select(array_to_vector(F.col(vec_col)).alias("features"))
        model = KMeans(k=n_cells, seed=seed, maxIter=20).fit(assembled)
        centers = [c.tolist() for c in model.clusterCenters()]
    else:
        raise ValueError(f"unknown ivf_centroids method: {method!r}")
    if as_list:
        # centroids are driver-scale index METADATA: returning the plain
        # [(cell, centroid), ...] list lets ivf_assign/ivf_topk/
        # ivfpq_topk inline them (UDF closure / literal expressions)
        # instead of round-tripping a createDataFrame + collect per
        # invocation (~0.3 s of pure py4j overhead on a serving
        # statement, measured round 6)
        return [(i, list(c)) for i, c in enumerate(centers)]
    return local_frame(
        spark, list(enumerate(centers)), "cell bigint, centroid array<double>"
    )


_COSINE_BATCH_UDF = None


def _cosine_batch(a, b):
    """Arrow-batched cosine for the rows-only ANN hot paths: one numpy
    broadcast per batch instead of an interpreted per-element HOF fold.
    Zero-norm inputs yield NaN (the exact-tier fold yields NULL) — both
    sort last in similarity ranking. The ORACLE-paired exact-kNN queries
    (q9/q36) stay on functions/vectors.py's deterministic fold. (Lazily
    constructed: pandas_udf parses its DDL type against the ACTIVE session,
    so decorating at import time would require one.)"""
    global _COSINE_BATCH_UDF
    if _COSINE_BATCH_UDF is None:

        def _cos(x, y):
            import pandas as pd

            if not len(x):
                return pd.Series([], dtype="float64")
            A = np.stack(x.to_numpy()).astype(np.float64)
            B = np.stack(y.to_numpy()).astype(np.float64)
            num = (A * B).sum(axis=1)
            den = np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1))
            with np.errstate(divide="ignore", invalid="ignore"):
                return pd.Series(np.where(den == 0.0, np.nan, num / den))

        _COSINE_BATCH_UDF = F.pandas_udf(_cos, "double")
    return _COSINE_BATCH_UDF(a, b)


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame | list,
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest cell — ZERO shuffle.

    The centroid table is tiny and already driver-materialized (it comes
    from the sampled k-means fit), so it travels as a CLOSURE of an
    Arrow-batched pandas UDF and the argmin is one numpy broadcast per
    batch — a pure narrow projection, no join, no exchange. A previous
    formulation folded over an inlined literal with higher-order functions;
    HOF lambdas evaluate INTERPRETED (outside codegen), and at 8 cells × 64
    dims that fold was ~2.5M interpreted ops per 5k rows (measured: this
    batch form cut q48's honest wall ~2×). Ties break toward the lowest
    cell id (np.argmin picks the first minimum; cells are sorted). The ANN
    family is rows-only, so numpy's summation-order ULP differences vs a
    sequential fold are irrelevant (recall gates, not value hashes)."""
    if isinstance(centroids, DataFrame):
        rows = centroids.select("cell", "centroid").collect()
        cents = sorted((int(r["cell"]), list(r["centroid"])) for r in rows)
    else:
        cents = sorted((int(c), list(v)) for c, v in centroids)
    C = np.asarray([v for _, v in cents], dtype=np.float64)
    cell_ids = np.asarray([c for c, _ in cents], dtype=np.int32)

    @F.pandas_udf("int")
    def _nearest_cell(v):
        import pandas as pd

        if not len(v):
            return pd.Series([], dtype="int32")
        M = np.stack(v.to_numpy()).astype(np.float64)
        d = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(cell_ids[d.argmin(axis=1)])

    return corpus.withColumn("cell", _nearest_cell(F.col(corpus_vec)))


def _np_kmeans(X: "np.ndarray", k: int, seed: int, iters: int = 20) -> "np.ndarray":
    """Seeded Lloyd's k-means with k-means++ init on a driver-side sample
    (codebook/centroid training is metadata-scale work; empty clusters keep
    their previous center). k-means++ seeding (Arthur & Vassilvitskii 2007,
    the same idea MLlib's kmeans|| parallelizes) matters here: plain random
    init measurably loses IVF recall on near-random embeddings."""
    rng = np.random.RandomState(seed)
    k = min(k, len(X))
    X = np.asarray(X, dtype=np.float64)
    centers = np.empty((k, X.shape[1]), dtype=np.float64)
    centers[0] = X[rng.randint(len(X))]
    d2 = ((X - centers[0]) ** 2).sum(axis=1)
    for j in range(1, k):
        total = d2.sum()
        if total <= 0:
            centers[j:] = X[rng.choice(len(X), size=k - j)]
            break
        centers[j] = X[np.searchsorted(np.cumsum(d2 / total), rng.rand())]
        d2 = np.minimum(d2, ((X - centers[j]) ** 2).sum(axis=1))
    for _ in range(iters):
        d = ((X[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(k):
            pts = X[assign == j]
            if len(pts):
                centers[j] = pts.mean(axis=0)
    return centers


def pq_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    k: int = 16,
    seed: int = 42,
    train_rows: int = 10_000,
) -> list[list[list[float]]]:
    """Product-quantization codebooks (J8 scale tier 3; the knowledge-base
    retrieval surface of reference README.md:11,52 at billion-vector
    corpus sizes): split the vector into ``m`` subspaces
    and k-means each on a seeded driver-side SAMPLE (≤ ``train_rows`` rows —
    the standard offline-training design: the index metadata is a few KB and
    training on a bounded sample is how PQ libraries behave at any corpus
    size; the corpus itself never leaves the executors). Returns
    codebooks[m][k][dim/m]."""
    if dim % m:
        raise ValueError("dim must be divisible by m")
    sub = dim // m
    n = corpus.count()
    sampled = (
        corpus.sample(fraction=min(1.0, train_rows / max(n, 1)), seed=seed)
        if n > train_rows
        else corpus
    )
    # Arrow fetch, not collect() — same rows/order/bits, without the
    # per-row pickle cost (see ivf_centroids)
    X = np.array(
        sampled.select(vec_col).toArrow().column(0).to_pylist(),
        dtype=np.float64,
    )
    return [
        _np_kmeans(X[:, i * sub : (i + 1) * sub], k, seed + i).tolist()
        for i in range(m)
    ]


def _sql_arr(values: list[float]) -> str:
    return "array(" + ",".join(format(x, ".17g") + "D" for x in values) + ")"


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Encode each vector as ``m`` small codes (nearest sub-centroid per
    subspace) — a pure narrow projection, zero shuffle; the 64-dim float
    vector compresses to m bytes, the 100 TB memory story.

    Arrow-batched numpy with the codebooks as a UDF closure: the previous
    inlined-SQL formulation evaluated an interpreted HOF fold TWICE per
    subspace (array_position + array_min both re-evaluate the distance
    array) — ~4M interpreted ops per 5k rows at m=16, k=16. The ANN family
    is rows-only (recall-gated), so numpy ULP ties are irrelevant; argmin
    picks the first minimum, matching array_position's first-occurrence
    tie-break."""
    CB = np.asarray(codebooks, dtype=np.float64)  # (m, k, sub)
    m, _k, sub = CB.shape

    @F.pandas_udf("array<int>")
    def _encode(v):
        import pandas as pd

        if not len(v):
            return pd.Series([], dtype=object)
        M = np.stack(v.to_numpy()).astype(np.float64)
        n = M.shape[0]
        codes = np.empty((n, m), dtype=np.int32)
        for i in range(m):
            S = M[:, i * sub : (i + 1) * sub]
            d = ((S[:, None, :] - CB[i][None, :, :]) ** 2).sum(axis=2)
            codes[:, i] = d.argmin(axis=1)
        return pd.Series(list(codes))

    return corpus.withColumn(code_col, _encode(F.col(vec_col)))


def pq_topk(
    encoded_corpus: DataFrame,
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "qid",
    query_vec: str = "qv",
    k: int = 10,
    shortlist: int = 50,
    code_col: str = "pq_code",
) -> DataFrame:
    """ANN tier 3: asymmetric-distance (ADC) scan over PQ codes + exact
    re-rank of the shortlist.

    Per query, a lookup table lut[i][j] = ||q_sub_i - codebook[i][j]||² is
    computed ONCE (an expression over the broadcast query row); the corpus
    scan then scores each row as Σᵢ lut[i][code_i] — m array lookups per
    row instead of a dim-length float loop. The ``shortlist`` best ADC
    candidates per query get exact cosine re-rank, recovering recall lost
    to quantization while touching full vectors for only ~shortlist rows
    per query."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    luts = []
    for i in range(m):
        cents = "array(" + ",".join(_sql_arr(c) for c in codebooks[i]) + ")"
        luts.append(
            f"transform({cents}, c -> aggregate(zip_with("
            f"slice(`{query_vec}`, {i * sub + 1}, {sub}), c, "
            "(a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)), "
            "0.0D, (s, x) -> s + x))"
        )
    q = queries.withColumn("__lut", F.expr("array(" + ",".join(luts) + ")"))
    adc = (
        "aggregate(zip_with(`__code`, `__lut`, "
        "(c, row) -> element_at(row, c + 1)), 0.0D, (s, x) -> s + x)"
    )
    scored = (
        encoded_corpus.withColumnRenamed(code_col, "__code")
        .crossJoin(F.broadcast(q))
        .withColumn("adc_dist", F.expr(adc))
    )
    w_short = Window.partitionBy(query_id).orderBy(
        F.col("adc_dist").asc(), F.col(corpus_id)
    )
    short = scored.withColumn("srn", F.row_number().over(w_short)).filter(
        F.col("srn") <= shortlist
    )
    rr = short.withColumn("score", V.cosine_similarity(corpus_vec, query_vec))
    w = Window.partitionBy(query_id).orderBy(F.col("score").desc(), F.col(corpus_id))
    return (
        rr.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= k)
        .select(query_id, corpus_id, "score", "rn")
    )


def ivfpq_topk(
    corpus: DataFrame,
    centroids: DataFrame | list,
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "qid",
    query_vec: str = "qv",
    k: int = 10,
    nprobe: int = 4,
    shortlist: int = 50,
) -> DataFrame:
    """ANN tier composition (the FAISS IVFPQ shape): IVF narrows the scan to
    ``nprobe`` cells, PQ/ADC scores the surviving rows with m array lookups
    each, and the shortlist gets exact re-rank. Cost per query ≈
    (nprobe/cells) × corpus × m lookups + shortlist full vectors — the
    composition each tier was designed for."""
    assigned = ivf_assign(pq_encode(corpus, codebooks, corpus_vec), centroids, corpus_vec)
    probe = _probe_cells(queries, centroids, query_id, query_vec, nprobe)
    m = len(codebooks)
    sub = len(codebooks[0][0])
    luts = []
    for i in range(m):
        cents = "array(" + ",".join(_sql_arr(c) for c in codebooks[i]) + ")"
        luts.append(
            f"transform({cents}, c -> aggregate(zip_with("
            f"slice(`{query_vec}`, {i * sub + 1}, {sub}), c, "
            "(a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)), "
            "0.0D, (s, x) -> s + x))"
        )
    probe = probe.withColumn("__lut", F.expr("array(" + ",".join(luts) + ")"))
    adc = (
        "aggregate(zip_with(`__code`, `__lut`, "
        "(c, row) -> element_at(row, c + 1)), 0.0D, (s, x) -> s + x)"
    )
    scored = (
        assigned.withColumnRenamed("pq_code", "__code")
        .join(F.broadcast(probe), "cell")
        .withColumn("adc_dist", F.expr(adc))
    )
    w_short = Window.partitionBy(query_id).orderBy(
        F.col("adc_dist").asc(), F.col(corpus_id)
    )
    short = scored.withColumn("srn", F.row_number().over(w_short)).filter(
        F.col("srn") <= shortlist
    )
    rr = short.withColumn("score", V.cosine_similarity(corpus_vec, query_vec))
    w = Window.partitionBy(query_id).orderBy(F.col("score").desc(), F.col(corpus_id))
    return (
        rr.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= k)
        .select(query_id, corpus_id, "score", "rn")
    )


def _probe_cells_literal(
    queries: DataFrame,
    cents: list,
    query_id: str,
    query_vec: str,
    nprobe: int,
) -> DataFrame:
    """``nprobe`` nearest cells per query with the centroids inlined as
    LITERALS: one narrow projection (explode of a sorted literal-distance
    struct array) — no crossJoin, no broadcast exchange, no per-query
    window shuffle. The centroid count is index metadata (dozens), so the
    literal expression stays KB-scale; ties break toward the lower cell
    id (array_sort on (dist, cell) structs), matching the window form."""
    structs = []
    for cell, c in sorted((int(c0), v) for c0, v in cents):
        arr = _sql_arr(c)
        d = (
            f"aggregate(zip_with(transform({query_vec},"
            f" x -> cast(x as double)), {arr},"
            " (x, y) -> (x - y) * (x - y)), 0.0D, (a, x) -> a + x)"
        )
        structs.append(f"struct({d} as d, {cell} as cell)")
    expr = (
        "explode(slice(transform(array_sort(array("
        + ",".join(structs)
        + f")), s -> s.cell), 1, {int(nprobe)}))"
    )
    return queries.select(query_id, query_vec, F.expr(expr).alias("cell"))


def _probe_cells(
    queries: DataFrame,
    centroids: DataFrame | list,
    query_id: str,
    query_vec: str,
    nprobe: int,
) -> DataFrame:
    """Per-query probe-cell table from either centroid form."""
    if not isinstance(centroids, DataFrame):
        return _probe_cells_literal(
            queries, centroids, query_id, query_vec, nprobe
        )
    qcells = queries.crossJoin(F.broadcast(centroids)).withColumn(
        "dist", V.l2_distance(query_vec, "centroid")
    )
    wq = Window.partitionBy(query_id).orderBy(
        F.col("dist").asc(), F.col("cell")
    )
    return (
        qcells.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select(query_id, query_vec, "cell")
    )


def ivf_topk(
    assigned_corpus: DataFrame,
    centroids: DataFrame | list,
    queries: DataFrame,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "qid",
    query_vec: str = "qv",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Search only the ``nprobe`` nearest cells per query (ANN; rows-only).
    ``centroids`` as a driver-side list (``ivf_centroids(as_list=True)``)
    takes the literal-probe fast path — see :func:`_probe_cells_literal`."""
    probe = _probe_cells(queries, centroids, query_id, query_vec, nprobe)
    # batch cosine (Arrow + numpy), not the HOF fold: the probe join fans
    # each corpus row out to ~nprobe matches and the per-element fold is
    # interpreted — the batch form is the hot-path fix for ANN scoring.
    # Rows-only semantics (see ivf_assign docstring); zero-norm vectors
    # score NaN here vs the fold's NULL — no such vectors exist in any
    # embedding corpus this serves, and ANN ranking treats both as sinkers.
    scored = assigned_corpus.join(F.broadcast(probe), "cell").withColumn(
        "score", _cosine_batch(F.col(corpus_vec), F.col(query_vec))
    )
    w = Window.partitionBy(query_id).orderBy(F.col("score").desc(), F.col(corpus_id))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= k)
        .select(query_id, corpus_id, "score", "rn")
    )


# --- OPQ-style rotation ------------------------------------------------------


def opq_rotation(dim: int = 64, seed: int = 42) -> list[list[float]]:
    """Seeded random orthogonal rotation matrix (QR of a Gaussian matrix,
    sign-fixed for determinism) — the OPQ idea in its data-free form
    (FAISS's OPQ initializes exactly like this before its iterative
    refinement): rotating the space before product quantization spreads
    variance across the m subspaces, so no codebook wastes its k centroids
    on a low-energy subspace. Pure driver-side metadata (dim×dim floats),
    inlined into the plan as literals like centroids/codebooks."""
    rng = np.random.default_rng(seed)
    q, r = np.linalg.qr(rng.standard_normal((dim, dim)))
    q *= np.sign(np.diag(r))  # deterministic sign convention
    return q.tolist()


def apply_rotation(
    df: DataFrame, rotation: list[list[float]], vec_col: str, out_col: str | None = None
) -> DataFrame:
    """Rotate a vector column by an orthogonal matrix: out = R·v. One
    Arrow-batched matmul per batch with R as the UDF closure; a narrow
    projection, zero shuffles. (A literal-inlined SQL expression evaluates
    dim² interpreted multiply-adds PER ROW — ~20M ops per 5k rows at
    dim=64; numpy does the whole batch in one GEMM. Rows-only family, so
    ULP order differences are irrelevant.)"""
    R = np.asarray(rotation, dtype=np.float64)

    @F.pandas_udf("array<double>")
    def _rotate(v):
        import pandas as pd

        if not len(v):
            return pd.Series([], dtype=object)
        M = np.stack(v.to_numpy()).astype(np.float64)
        return pd.Series(list(M @ R.T))

    return df.withColumn(out_col or vec_col, _rotate(F.col(vec_col)))


def opq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "qid",
    query_vec: str = "qv",
    dim: int = 64,
    m: int = 16,
    k: int = 10,
    shortlist: int = 50,
    seed: int = 42,
) -> DataFrame:
    """PQ ANN in a rotated space (OPQ-style): rotate corpus and queries by
    the same orthogonal matrix, then train/encode/ADC-score AND exact
    re-rank entirely in that space — an orthogonal rotation preserves
    norms and inner products, so the rotated-space cosine equals the
    original-space cosine and results are directly comparable to
    :func:`pq_topk`."""
    R = opq_rotation(dim, seed)
    rot_corpus = apply_rotation(corpus, R, corpus_vec, "__rv")
    books = pq_codebooks(rot_corpus, vec_col="__rv", dim=dim, m=m)
    enc = pq_encode(rot_corpus, books, vec_col="__rv")
    rot_q = apply_rotation(queries, R, query_vec, "__rq")
    return pq_topk(
        enc,
        books,
        rot_q.select(query_id, F.col("__rq").alias(query_vec)),
        corpus_id=corpus_id,
        corpus_vec="__rv",
        query_id=query_id,
        query_vec=query_vec,
        k=k,
        shortlist=shortlist,
    )


def semdedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    tau: float = 0.95,
    seed: int = 42,
    max_cell_rows: int = 100_000,
    cell_cap: int = 2_000_000,
) -> DataFrame:
    """Semantic deduplication, SemDeDup-style (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, then inside
    each cluster greedily keep a document only if no ALREADY-KEPT document
    of that cluster has cosine similarity above ``tau`` with it (scan in
    ascending id order, so the keep/drop decision is deterministic and the
    survivor of a duplicate group is its lowest id).

    Returns ``(id, cell, keep, dup_of)`` — ``dup_of`` is the kept id that
    caused a drop (NULL for kept rows).

    Scale design: the clustering step is the whole point — candidate
    comparison is confined to a cell, so the quadratic term is m² per cell
    (m ≈ n/k), not n². One shuffle on cell id; the per-cell greedy runs as
    an Arrow ``applyInPandas`` group with numpy block matrix products. At
    100 TB you grow ``n_cells`` with the corpus to hold m constant
    (SemDeDup's own setting: tens of thousands of clusters for billions of
    docs). ``max_cell_rows`` bounds MEMORY, not semantics: a runaway cell
    (skewed embedding space) is processed in id-ordered blocks so no
    m×m similarity matrix is ever materialized — every row still compares
    against every previously kept row of its cell, so the greedy result is
    identical to the unblocked scan at any block size.

    ``cell_cap`` is the RUNAWAY-CELL GUARD: ``applyInPandas`` still
    materializes the whole group in one Python worker (blocking bounds
    the similarity matrix, not the group), so a pathologically skewed
    embedding space — everything in one cell — would OOM that worker
    long after the job looked healthy. A cell larger than ``cell_cap``
    rows fails fast with the SemDeDup remedy (grow ``n_cells``) instead;
    splitting the cell silently would change the published algorithm's
    semantics (docs in different splits would never be compared). The
    default (2M rows × 64 float64 dims ≈ 1 GiB per worker) refuses well
    before the worker is at risk.
    """
    import pandas as pd

    centroids = ivf_centroids(
        corpus, vec_col=vec_col, n_cells=n_cells, seed=seed, as_list=True
    )
    assigned = ivf_assign(corpus, centroids, corpus_vec=vec_col)

    out_schema = (
        f"{id_col} long, cell int, keep boolean, dup_of long"
    )

    def _dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > cell_cap:
            raise ValueError(
                f"semdedup cell {int(pdf['cell'].iloc[0])} holds "
                f"{len(pdf)} rows > cell_cap={cell_cap}: the embedding "
                "space is skewed into one cluster. Grow n_cells so cells "
                "stay bounded (the SemDeDup remedy), or raise cell_cap "
                "if the worker memory budget allows it."
            )
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        ids = pdf[id_col].to_numpy()
        cell = int(pdf["cell"].iloc[0])
        X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.sqrt((X * X).sum(axis=1))
        norms[norms == 0.0] = 1.0  # zero vectors: cosine treated as 0
        Xn = X / norms[:, None]
        # kept vectors live in a preallocated contiguous buffer with a
        # fill pointer — slices are VIEWS, so neither the per-block matrix
        # product nor the within-block row product ever copies the kept
        # set (a per-row np.stack of a growing list is O(m²·d) copying)
        kept_buf = np.empty_like(Xn)
        kept_ids: list[int] = []
        k = 0
        keep = np.zeros(len(ids), dtype=bool)
        dup_of = np.full(len(ids), -1, dtype=np.int64)
        for start in range(0, len(ids), max_cell_rows):
            blk = Xn[start : start + max_cell_rows]
            k0 = k  # kept count at block start
            # sims of this whole block against all previously kept vectors
            base = blk @ kept_buf[:k0].T if k0 else None
            for i in range(blk.shape[0]):
                gi = start + i
                hit = -1
                if base is not None:
                    over = np.nonzero(base[i] >= tau)[0]
                    if len(over):
                        hit = kept_ids[over[0]]
                if hit < 0 and k > k0:
                    # compare against rows kept WITHIN this block so far
                    s = kept_buf[k0:k] @ blk[i]
                    over = np.nonzero(s >= tau)[0]
                    if len(over):
                        hit = kept_ids[k0 + over[0]]
                if hit >= 0:
                    dup_of[gi] = hit
                else:
                    keep[gi] = True
                    kept_buf[k] = blk[i]
                    kept_ids.append(int(ids[gi]))
                    k += 1
        return pd.DataFrame(
            {
                id_col: ids,
                "cell": cell,
                "keep": keep,
                "dup_of": pd.array(
                    [None if d < 0 else d for d in dup_of], dtype="Int64"
                ),
            }
        )

    return (
        assigned.select(id_col, vec_col, "cell")
        .groupBy("cell")
        .applyInPandas(_dedup_cell, out_schema)
    )
