"""Training-shard export — the LAST step of a training-data pipeline:
deterministically shuffle the corpus into N fixed shards, write one
parquet directory per shard, and publish a manifest with per-shard row
counts and content checksums so the training side can verify what it
reads.

Design decisions:

- **Shard assignment is a PORTABLE hash**: bucket = int(first 8 hex chars
  of md5(id)) mod n_shards. md5-on-UTF-8 is bit-identical across Spark,
  DuckDB, Python, and any trainer-side reader — so the shard plan is an
  ORACLE-PAIRED computation (q155) and a re-run, a different engine, or
  the consuming training job all derive the same placement. (xxhash64
  would be cheaper but exists only in Spark — determinism across engines
  is the point of a shard plan.)
- **Hash-shuffle, not range-sort**: a global sort to equalize shard sizes
  is a full range exchange + skew risk; md5 buckets are balanced to
  ~1/sqrt(rows-per-shard) relative error, which training data does not
  care about. One hash repartition on the shard id is the entire
  shuffle.
- **Deterministic content**: rows sort within each shard by their content
  hash, so shard files are reproducible row-for-row (not just set-equal)
  across re-runs and partitionings.
- **Manifest**: per-shard (rows, content-xor) from ONE aggregate job —
  n_shards rows of driver metadata — written atomically next to the
  shards. The xor of per-row 60-bit content hashes is order-insensitive
  and mergeable, so the trainer can verify shards independently.

At 100 TB: one hash shuffle on the shard id, one write pass, one partial-
aggregated manifest job. No global sort, no driver materialization beyond
the n_shards manifest rows.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

MANIFEST_FILE = "_shard_manifest.json"


def shard_assignment(id_col: Column | str, n_shards: int) -> Column:
    """Portable deterministic shard id: md5 of the STRING form of the id,
    first 8 hex chars as an int, mod n_shards. Bit-identical in DuckDB as
    ``CAST(('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8)) AS BIGINT) %
    n`` (oracle-paired via q155)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.pmod(
        F.conv(
            F.substring(F.md5(c.cast("string").cast("binary")), 1, 8), 16, 10
        ).cast("bigint"),
        F.lit(n_shards),
    ).cast("int")


def content_hash60(id_col: Column | str, text_col: Column | str) -> Column:
    """Portable 60-bit per-row content hash (15 hex chars of
    md5(id || ':' || text) — 60 bits keeps the int inside a signed
    bigint in every engine). xor-aggregating it is order-insensitive."""
    i = F.col(id_col) if isinstance(id_col, str) else id_col
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.conv(
        F.substring(
            F.md5(F.concat(i.cast("string"), F.lit(":"), t).cast("binary")),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")


def shard_plan(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 16,
) -> DataFrame:
    """Per-shard manifest stats WITHOUT writing anything: (shard, n_docs,
    n_chars_total, content_xor), ordered by shard. Every expression is
    engine-portable, so this exact computation has a DuckDB oracle twin."""
    return (
        df.select(
            shard_assignment(id_col, n_shards).alias("shard"),
            F.length(F.col(text_col)).cast("bigint").alias("__len"),
            content_hash60(id_col, text_col).alias("__h"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__len").alias("n_chars_total"),
            F.expr("bit_xor(__h)").alias("content_xor"),
        )
        .orderBy("shard")
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 16,
) -> dict:
    """Write the corpus as ``shard=<k>/`` parquet directories plus an
    atomic manifest. One hash repartition on the shard id (each shard is
    one task → one file), rows sorted by content hash inside the shard
    (reproducible file content). Returns the manifest dict."""
    sharded = (
        df.withColumn("shard", shard_assignment(id_col, n_shards))
        .withColumn("__h", content_hash60(id_col, text_col))
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "__h")
    )
    sharded.drop("__h").write.mode("error").partitionBy("shard").parquet(path)
    stats = shard_plan(df, id_col, text_col, n_shards).collect()
    manifest = {
        "n_shards": n_shards,
        "shards": [
            {
                "shard": r.shard,
                "n_docs": r.n_docs,
                "n_chars_total": r.n_chars_total,
                "content_xor": r.content_xor,
            }
            for r in stats
        ],
    }
    tmp = os.path.join(path, MANIFEST_FILE + ".tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(path, MANIFEST_FILE))
    return manifest


def verify_training_shards(
    spark, path: str, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Recompute each shard's (rows, content-xor) from the written files
    and diff against the manifest — the trainer-side integrity check.
    Returns rows only for shards that MISMATCH (empty = verified)."""
    with open(os.path.join(path, MANIFEST_FILE), encoding="utf-8") as f:
        manifest = json.load(f)
    expect = local_frame(
        spark,
        [
            (s["shard"], s["n_docs"], s["content_xor"])
            for s in manifest["shards"]
        ],
        "shard int, n_docs bigint, content_xor bigint",
    )
    got = (
        spark.read.parquet(path)
        .select(
            F.col("shard").cast("int").alias("shard"),
            content_hash60(id_col, text_col).alias("__h"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("bit_xor(__h)").alias("content_xor"),
        )
    )
    return (
        got.alias("g")
        .join(expect.alias("e"), "shard", "full_outer")
        .where(
            ~(
                F.col("g.n_docs").eqNullSafe(F.col("e.n_docs"))
                & F.col("g.content_xor").eqNullSafe(F.col("e.content_xor"))
            )
        )
        .select(
            "shard",
            F.col("g.n_docs").alias("got_docs"),
            F.col("e.n_docs").alias("want_docs"),
            F.col("g.content_xor").alias("got_xor"),
            F.col("e.content_xor").alias("want_xor"),
        )
    )
