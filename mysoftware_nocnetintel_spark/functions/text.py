"""Text-analysis column expressions for the documents / knowledge-base surface.

Reference parity: the "growing knowledge base" of resolution text (reference
README.md:11) plus the free-text columns of outage records (README.md:101-103).
Extended with the training-data-pipeline text operators the north star asks
for: tokenization, token counting, quality scoring, language ID, document
fingerprinting (SURVEY.md §2.8 F7).

All hot-path expressions are native pyspark.sql.functions (codegen'd); nothing
here shuffles — these are per-row projections that compose into any plan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny English stopword list for quality heuristics (public-domain words).
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization → array<string> (empty tokens dropped)."""
    text = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != F.lit(""))


def bpe_ish_tokens(text: Column | str) -> Column:
    """BPE-ish sub-word segmentation: split on whitespace AND punctuation
    boundaries, keeping punctuation as its own token (a regex approximation
    of byte-pair pre-tokenization; deterministic, JVM-side)."""
    text = F.col(text) if isinstance(text, str) else text
    spaced = F.regexp_replace(text, r"([^\w\s])", r" $1 ")
    return F.filter(F.split(F.trim(spaced), r"\s+"), lambda t: t != F.lit(""))


# GPT-2-style pre-tokenizer approximation, kept to constructs with IDENTICAL
# semantics in Java regex (Spark) and RE2 (DuckDB) so the tokenization is
# oracle-checkable: contractions, letter runs, 1-3 digit chunks (the
# digit-splitting trick modern BPE vocabs use), punctuation runs.
SUBWORD_REGEX = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]+"


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def distinct_token_count(text: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def stopword_ratio(text: Column | str) -> Column:
    toks = tokens(text)
    stop = F.size(F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS)))
    return F.try_divide(stop.cast("double"), F.size(toks).cast("double"))


def type_token_ratio(text: Column | str) -> Column:
    """Lexical diversity: distinct tokens / tokens (quality signal)."""
    toks = tokens(text)
    return F.try_divide(
        F.size(F.array_distinct(toks)).cast("double"), F.size(toks).cast("double")
    )


def quality_score(text: Column | str) -> Column:
    """Composite document-quality heuristic in [0, 1]: rewards mid-length
    docs, lexical diversity, and a sane stopword share. Deterministic and
    SQL-expressible (oracle-checkable)."""
    n = token_count(text).cast("double")
    length_term = F.least(n / F.lit(64.0), F.lit(1.0))
    diversity = F.coalesce(type_token_ratio(text), F.lit(0.0))
    stop = F.coalesce(stopword_ratio(text), F.lit(0.0))
    stop_term = F.lit(1.0) - F.least(stop * F.lit(2.0), F.lit(1.0))
    return F.round((length_term + diversity + stop_term) / F.lit(3.0), 6)


def top_bigram_fraction(text: Column | str) -> Column:
    """Repetition signal (Gopher-style): fraction of all word-bigram
    occurrences taken by the single most frequent bigram. High values mark
    boilerplate / looping generations. Pure HOF expression: build bigrams
    with zip_with against the shifted token array, count the mode via
    aggregate over the distinct bigrams."""
    text = F.col(text) if isinstance(text, str) else text
    toks = tokens(text)
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    # max occurrence count of any bigram: for each distinct bigram, count
    # matches in the full array; fold to the max
    top = F.aggregate(
        F.array_distinct(bigrams),
        F.lit(0),
        lambda acc, g: F.greatest(
            acc, F.size(F.filter(bigrams, lambda x: x == g))
        ),
    )
    return F.when(
        F.size(bigrams) > 0, top.cast("double") / F.size(bigrams)
    ).otherwise(F.lit(0.0))


def duplicate_line_ratio(text: Column | str) -> Column:
    """Repetition signal: fraction of lines that are duplicates of an
    earlier line (0 for single-line documents)."""
    text = F.col(text) if isinstance(text, str) else text
    lines = F.filter(
        F.split(text, r"\n"), lambda ln: F.trim(ln) != F.lit("")
    )
    n = F.size(lines)
    return F.when(
        n > 0,
        (n - F.size(F.array_distinct(lines))).cast("double") / n,
    ).otherwise(F.lit(0.0))


def chunk_tokens(
    text: Column | str, size: int = 64, stride: int = 48
) -> Column:
    """Document chunking for training pipelines: token windows of ``size``
    every ``stride`` tokens (overlap = size - stride), as
    array<struct<chunk_id,chunk_text,n_tokens>>. Callers ``explode`` to get
    one row per chunk — the standard pretokenization fan-out. Pure HOF
    expression: sequence over window starts, slice per start."""
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    toks = tokens(text)
    n = F.size(toks)
    # window starts at every stride until the end of the document (the
    # truncated-tail convention: the final chunks may be shorter than
    # ``size`` but every token is covered); empty docs produce no chunks
    starts = F.when(
        n > 0, F.sequence(F.lit(1), n, F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        starts,
        lambda s, i: F.struct(
            (i + 1).cast("bigint").alias("chunk_id"),
            F.array_join(F.slice(toks, s, size), " ").alias("chunk_text"),
            F.least(F.lit(size), n - s + 1).cast("bigint").alias("n_tokens"),
        ),
    )


def scrub_pii(text: Column | str) -> Column:
    """Training-corpus hygiene: mask email addresses, long digit runs
    (phone/account numbers), and IPv4 addresses with typed placeholders.
    Pure regexp_replace chain — JVM-side, order matters (IPs before digit
    runs so octets don't get half-masked)."""
    text = F.col(text) if isinstance(text, str) else text
    out = F.regexp_replace(
        text, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"
    )
    out = F.regexp_replace(
        out, r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"
    )
    out = F.regexp_replace(out, r"\b\d{7,}\b", "<NUM>")
    return out


def char_ngrams(text: Column | str, n: int = 3) -> Column:
    """Character n-gram shingles → array<string> (for Jaccard / MinHash)."""
    text = F.col(text) if isinstance(text, str) else text
    return F.filter(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(text) - F.lit(n - 1), F.lit(1))),
            lambda i: F.substring(text, i, n),
        ),
        lambda s: F.length(s) == F.lit(n),
    )


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Word k-shingles (space-joined) → array<string>; distinct set.
    Documents with fewer than k tokens yield an empty array (guarded:
    Spark's ``sequence(0, -1)`` would otherwise count DOWN)."""
    toks = tokens(text)
    n_sh = F.size(toks) - F.lit(k - 1)
    return F.when(n_sh <= 0, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), n_sh - F.lit(1)),
                lambda i: F.array_join(F.slice(toks, i + F.lit(1), k), " "),
            )
        )
    )


def fingerprint(text: Column | str) -> Column:
    """Order-insensitive document fingerprint: sort distinct tokens, re-join,
    md5. Catches token-permuted duplicates that raw-text hashing misses."""
    text = F.col(text) if isinstance(text, str) else text
    canon = F.array_join(F.array_sort(F.array_distinct(tokens(F.lower(text)))), " ")
    return F.md5(canon.cast("binary"))


def rolling_hash_fingerprint(text: Column | str, window: int = 8) -> Column:
    """Winnowing-style fingerprint: min xxhash64 over each window of char
    n-grams; returns a small array<long> sketch of the document."""
    grams = char_ngrams(text, 4)
    hashes = F.transform(grams, lambda g: F.xxhash64(g))
    n_win = F.greatest(F.size(hashes) - F.lit(window - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), n_win - F.lit(1)),
            lambda i: F.array_min(F.slice(hashes, i + F.lit(1), window)),
        )
    )


# --- language identification (heuristic n-gram scoring) ---------------------
# The test corpus is synthetic (same vocabulary across langs), so this is a
# *mechanism* demonstration: score each language by stopword-profile hits and
# pick argmax. Real profiles would be learned from labeled data with the same
# pipeline. Rows-only checkable (no SQL oracle needed — deterministic though).
_LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "zh": (),  # non-latin profile would be char-range based
}


def lang_id(text: Column | str) -> Column:
    """Argmax language over stopword-profile hit counts; 'und' if no hits."""
    toks_l = F.transform(tokens(text), F.lower)
    scores = [
        F.struct(
            F.size(F.filter(toks_l, lambda t: t.isin(*words) if words else F.lit(False))).alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang, words in _LANG_PROFILES.items()
    ]
    best = F.array_max(F.array(*scores))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def hashed_embedding(
    text: Column | str, dim: int = 64, ngram: int = 3
) -> Column:
    """Deterministic text embedding by the HASHING TRICK (feature hashing,
    Weinberger et al. 2009): char n-grams hashed into ``dim`` signed
    buckets, L2-normalized — array<double>. No model, no vocabulary, no
    RNG: the same text embeds identically on any engine, executor, or
    round, which is what corpus-pipeline embeddings need for
    reproducible near-dup/decontamination decisions.

    Per-row HOF form for SINGLE-USE expressions; pipelines that fan the
    embedding out (banding, indexing) must use :func:`hashed_embeddings`
    — the same projection-collapse lesson as minhash_signature vs
    minhash_signatures (operators/dedup.py)."""
    grams = char_ngrams(F.lower(text if not isinstance(text, str) else F.col(text)), ngram)
    zeros = F.transform(F.sequence(F.lit(1), F.lit(dim)), lambda _: F.lit(0.0))
    raw = F.aggregate(
        grams,
        zeros,
        lambda acc, g: F.transform(
            acc,
            lambda x, i: x
            + F.when(
                F.pmod(F.xxhash64(g, F.lit("fh-bucket")), F.lit(dim)) == i.cast("bigint"),
                F.when(
                    F.pmod(F.xxhash64(g, F.lit("fh-sign")), F.lit(2)) == 0, F.lit(1.0)
                ).otherwise(F.lit(-1.0)),
            ).otherwise(F.lit(0.0)),
        ),
    )
    norm = F.sqrt(F.aggregate(raw, F.lit(0.0), lambda a, x: a + x * x))
    return F.when(norm > 0, F.transform(raw, lambda x: x / norm)).otherwise(raw)
