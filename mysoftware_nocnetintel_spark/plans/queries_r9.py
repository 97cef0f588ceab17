"""Round-9 coverage: two more training-data-pipeline tiers over the
documents/embeddings surface (reference README.md:101-103 corpus tables).

- q144: the span-REMOVAL rewrite that completes the exact-substring
  dedup tier — q135 (queries_r7.py) reports HOW MUCH of the corpus is
  cross-document duplicated text; q144 actually rewrites the affected
  documents (the Lee et al. 2021, arXiv:2107.06499, "remove the repeated
  substring, keep the rest" policy).
- q145: embedding-space decontamination — the semantic tier next to
  q107's 8-gram decontamination (paraphrase leakage the n-gram tier
  cannot see), broadcast-eval × one-pass-train.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from ..sources import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def q144_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 exact-substring dedup, REWRITE step: delete every token that
    falls inside an 8-word shingle occurring in more than one document,
    and emit the scrubbed text of each affected document (untouched
    documents pass through the pipeline unchanged and are not re-emitted
    here). Output per affected doc: tokens removed, scrubbed length, and
    the md5 fingerprint of the scrubbed text — the fingerprint pins the
    exact reconstruction (token order and spacing) against the oracle
    without shipping megabytes of rewritten text through the compare.

    Scale shape: the gram→distinct-doc-count shuffle and the gram hit
    join are q135's (bounded-key hash shuffles, map-side partials); the
    REWRITE side then touches ONLY documents with at least one hit
    (semi-join prune — at production dup rates that is a few percent of
    the corpus), so the posexplode/anti-join/re-assembly cost scales
    with the duplicated fraction, not the corpus. Re-assembly is a
    per-document groupBy (never a global window): sort the surviving
    (pos, token) pairs per doc and concat — all JVM built-ins, no UDF.
    At 100 TB the gram join key could be xxhash64(gram) to cut shuffle
    bytes ~5×; kept as the raw string here so the oracle (which has no
    xxhash64) compares the identical plan."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.selectExpr(
        "doc_id",
        "lang",
        "filter(split(text, ' '), x -> x != '') as __t",
    ).selectExpr("doc_id", "lang", "size(__t) as n_tok", "__t")
    grams = (
        base.filter("n_tok >= 8")
        .selectExpr(
            "doc_id",
            "explode(transform(sequence(1, n_tok - 7),"
            " i -> struct(i as s,"
            " concat_ws(' ', slice(__t, i, 8)) as g))) as e",
        )
        .select("doc_id", F.col("e.s").alias("s"), F.col("e.g").alias("g"))
    )
    dup = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter("nd > 1")
        .select("g")
    )
    hits = grams.join(dup, "g").select(
        "doc_id", "s", (F.col("s") + F.lit(7)).alias("e")
    )
    affected = hits.select("doc_id").distinct()
    removed = hits.selectExpr(
        "doc_id", "explode(sequence(s, e)) as pos"
    ).distinct()
    toks = (
        base.join(affected, "doc_id", "left_semi")
        .selectExpr("doc_id", "posexplode(__t) as (p0, tok)")
        .selectExpr("doc_id", "p0 + 1 as pos", "tok")
    )
    rebuilt = (
        toks.join(removed, ["doc_id", "pos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.concat_ws(
                " ",
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, tok))),"
                    " x -> x.tok)"
                ),
            ).alias("clean"),
        )
    )
    return (
        base.join(affected, "doc_id", "left_semi")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            (
                F.col("n_tok") - F.coalesce(F.col("n_kept"), F.lit(0))
            ).cast("bigint").alias("n_removed"),
            F.length(F.coalesce("clean", F.lit("")))
            .cast("bigint")
            .alias("clean_len"),
            F.md5(F.coalesce("clean", F.lit(""))).alias("clean_fp"),
        )
        .orderBy("doc_id")
    )


_Q145_TAU = 0.35  # calibrated to the synthetic embedding geometry: random
# 64-dim pairs top out near 0.45 cosine, so 0.35 plays the role a ~0.95
# plays on real sentence embeddings (see tests for a planted-pair gate)


def q145_embedding_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus EMBEDDING decontamination (the semantic-leakage
    remove-list next to q107's 8-gram tier): flag every TRAIN vector
    whose cosine to ANY held-out EVAL vector reaches the threshold —
    n-gram decontamination misses paraphrases; this tier catches them in
    embedding space. The eval/train split is the deterministic md5
    bucket trick (q97 convention, ~1/16 eval). Output: one row per
    contaminated train vector (id, #eval hits, rounded max cosine).

    Scale shape: the EVAL side of a decontamination pass is bounded by
    construction (benchmarks are thousands of rows, not billions), so it
    BROADCASTS and the train corpus streams through in ONE pass — no
    shuffle at all until the per-vector aggregation, which is keyed on
    the train id (co-partitioned with nothing, map-side combinable).
    Exact brute-force per pair, like q9/q36: at 100 TB you'd pre-filter
    candidates with the IVF/LSH operators (operators/similarity.py) and
    rescore exactly — the rescore is THIS plan. One spark.sql statement
    (the q124 serving lesson); double-cast folds in list order make the
    floats bit-identical to the DuckDB twin, so round(6) hashes match."""
    emb = _t(spark, sf_dir, "embeddings")
    emb.createOrReplaceTempView("__q145_emb")
    dot = (
        "aggregate(zip_with(transform(t.embedding, x -> cast(x as double)),"
        " transform(e.qv, x -> cast(x as double)), (x, y) -> x * y),"
        " 0.0D, (acc, x) -> acc + x)"
    )
    n1 = (
        "sqrt(aggregate(transform(t.embedding, x -> cast(x as double)),"
        " 0.0D, (acc, x) -> acc + x * x))"
    )
    n2 = (
        "sqrt(aggregate(transform(e.qv, x -> cast(x as double)),"
        " 0.0D, (acc, x) -> acc + x * x))"
    )
    return spark.sql(f"""
        SELECT vec_id,
               count(*) AS n_eval_hits,
               round(max(cos), 6) AS max_cos
        FROM (
          SELECT /*+ BROADCAST(e) */ t.vec_id,
                 try_divide({dot}, {n1} * {n2}) AS cos
          FROM (
            SELECT vec_id, embedding FROM __q145_emb
            WHERE substring(md5(cast(cast(vec_id as string) as binary)), 1, 1) != 'a'
          ) t
          CROSS JOIN (
            SELECT vec_id AS qid, embedding AS qv FROM __q145_emb
            WHERE substring(md5(cast(cast(vec_id as string) as binary)), 1, 1) = 'a'
          ) e
        )
        WHERE cos >= {_Q145_TAU}D
        GROUP BY vec_id
        ORDER BY vec_id
    """)


def q146_bpe_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5/F7 BPE tokenizer, END-TO-END driver signal (round-5 verdict
    task 4): train the distributed Sennrich merge loop
    (operators/bpe.py: the full trainer, not q129's single pair-count
    round) on the train split of ``documents`` (doc_id % 5 != 0), then
    encode the held-out eval split with the learned merges — the
    fit-on-train / encode-eval cross-corpus shape
    tests/test_bpe.py::test_cross_corpus_encode_matches_serial pins
    against the serial reference.

    Output: one row per learned merge (rank, lhs, rhs, pair_count —
    the merge-list fingerprint), each row also carrying the eval-split
    encode checksum (eval doc count, total subword tokens, and a
    bit_xor over xxhash64(doc_id, position, token) — order-sensitive
    by construction since the position is hashed in). Any drift in the
    trainer's ranking, the greedy fold, or the encode join flips the
    checksum. Rows-only by design: a 30-round iterative argmax loop is
    not expressible as one SQL statement; the serial-reference
    differential in tests/test_bpe.py is the value oracle.

    Scale shape (docstring of operators/bpe.py has the full argument):
    training collapses the corpus ONCE to the distinct-word table and
    iterates on that (Heaps-sublinear); encoding folds merges over the
    eval word table and joins back — one shuffle on the word key plus
    the per-document regroup. The 1-row argmax collect per round is the
    only driver-side data movement."""
    from ..operators.bpe import apply_bpe, train_bpe

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) != 0)
    eval_ = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 0)
    merges = train_bpe(train, n_merges=30, min_pair_count=2)
    encoded = apply_bpe(eval_, merges)
    summary = (
        encoded.select(
            "doc_id",
            F.posexplode("bpe_tokens").alias("__pos", "__tok"),
        )
        .agg(
            F.countDistinct("doc_id").alias("eval_docs"),
            F.count(F.lit(1)).alias("eval_tokens"),
            F.bit_xor(
                F.xxhash64("doc_id", F.col("__pos"), F.col("__tok"))
            ).alias("eval_checksum"),
        )
    )
    merge_rows = local_frame(
        spark,
        [
            (i + 1, a, b, int(n))
            for i, (a, b, n) in enumerate(merges)
        ],
        "rank INT, lhs STRING, rhs STRING, pair_count BIGINT",
    )
    return merge_rows.crossJoin(F.broadcast(summary)).orderBy("rank")


R9_QUERIES = {
    "q144_span_scrub": q144_span_scrub,
    "q145_embedding_decontam": q145_embedding_decontam,
    "q146_bpe_pipeline": q146_bpe_pipeline,
}
