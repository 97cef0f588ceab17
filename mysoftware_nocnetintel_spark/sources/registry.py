"""Table registry over the driver-generated parquet test data.

Reference parity: the reference system stores telemetry in PostgreSQL plus raw
logs in object storage (reference README.md:23,33). Spark-first, both become
columnar parquet scans read natively by executors; a JDBC reader for real
PostgreSQL deployments lives in :mod:`.readers` (S1 in SURVEY.md §2.1).

The only irregular table is ``events``: its ``ts`` column is parquet
TIMESTAMP(NANOS), which Spark 4.x refuses to read. With
``spark.sql.legacy.parquet.nanosAsLong=true`` (set by session.tune) it arrives
as a nanosecond epoch long; the generator only uses microsecond precision
(ns % 1000 == 0 for every row), so converting via integer division is
lossless. We convert to TIMESTAMP_NTZ with pure interval arithmetic so the
result is independent of the session time zone — matching DuckDB's naive
reading of the same file for the oracle comparison.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import tune
from .zorder import byte_small

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Optional in-memory table cache (hot-table pinning — the Spark analogue of
# an in-process engine's buffer pool). Off by default; bench/serving enable
# it. Keyed per SparkSession via (applicationId, sessionUUID) — stable
# identifiers that cannot be recycled the way a py4j proxy's id() can, so a
# new session never inherits DataFrames bound to a stopped one.
_CACHE_ENABLED = os.environ.get("SPARK_GRAFT_CACHE_TABLES", "0") == "1"
_TABLE_CACHE: dict[tuple, DataFrame] = {}


def _session_key(spark: SparkSession) -> tuple:
    try:
        return (
            spark.sparkContext.applicationId,
            str(spark._jsparkSession.sessionUUID()),
        )
    except Exception:  # stopped context or non-JVM session stub
        return ("pyid", id(spark))


def enable_table_cache(on: bool = True) -> None:
    global _CACHE_ENABLED
    _CACHE_ENABLED = on
    if not on:
        for df in _TABLE_CACHE.values():
            try:
                df.unpersist()
            except Exception:
                pass
        _TABLE_CACHE.clear()

# TZ-independent ns-epoch → TIMESTAMP_NTZ (micros) conversion.
_NS_TO_TS_NTZ = (
    "timestampadd(MICROSECOND, {col} div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table as a DataFrame with normalized column types.

    Column pruning and predicate pushdown still reach the parquet scan: the
    ``events`` timestamp conversion is a projection on top of the scan, and
    Catalyst pushes filters on the remaining columns below it.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    key = (*_session_key(spark), sf_dir, name)
    if _CACHE_ENABLED and key in _TABLE_CACHE:
        return _TABLE_CACHE[key]
    tune(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr(_NS_TO_TS_NTZ.format(col="ts")))
    if _CACHE_ENABLED:
        # One layout rule, applied once at cache build, sized by the
        # table's parquet BYTES (the test corpus ships one single-row-group
        # file per table, so a scan arrives as ONE partition whatever its
        # size):
        #
        # * Byte-small (``zorder.byte_small``, under 512 KiB: the same
        #   threshold the lakehouse writers' one-file rule reads), a
        #   one-partition scan is cached as ``coalesce(1)``. The cached
        #   relation then reports ``SinglePartition``, which satisfies
        #   every clustered and ordered distribution, so aggregates,
        #   windows, distincts and joins over it plan no exchange: a
        #   serving statement over KB-scale inputs pays no shuffle stage
        #   and one task per scan instead of ``shuffle.partitions``.
        # * Above it, every table gets ~256 KiB of parquet per cached
        #   partition (best of {2 MiB, 512 KiB, 256 KiB}: headline sf0.1
        #   seq total 2.33 / 1.87 / 1.75 s; a 184 MB sf1 lineitem cached
        #   as one partition ran every aggregation single-core, 3.6x the
        #   DuckDB wall). ``embeddings`` takes this spread, not a full
        #   fan-out: its consumers are Arrow UDF stages that pay per TASK
        #   (sf0.1 best-of-5, spread 4 vs 32: q48 1.39 -> 1.19 s, q35
        #   2.12 -> 1.96 s).
        # * ``documents`` fans out to every core at any size: its regex/
        #   shingle/hash stages are CPU-heavy per byte. It stays out of the
        #   single-partition rule because q154 builds its IVF index from a
        #   ``limit()`` centroid sample whose rows follow the embedding's
        #   partition layout: over a SinglePartition documents the
        #   embedding's groupBy plans no shuffle, and q154's output changes.
        #
        # At cluster scale a scan spans many files and row groups and
        # already exceeds the parallelism, so no branch fires.
        target = spark.sparkContext.defaultParallelism
        parts = df.rdd.getNumPartitions()
        try:
            nbytes = os.path.getsize(table_path(sf_dir, name))
        except OSError:
            nbytes = 0
        if name == "documents":
            if parts < target:
                df = df.repartition(target)
        elif byte_small(nbytes) and parts == 1:
            df = df.coalesce(1)
        else:
            spread = min(target, nbytes >> 18)
            if spread > 1 and parts < spread:
                df = df.repartition(spread)
        df = df.cache()
        _TABLE_CACHE[key] = df
    return df


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Register every table as a temp view (for the SQL API surface)."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def policy_view(
    df: DataFrame,
    row_filter: str | None = None,
    visible_cols: list[str] | None = None,
    masks: dict[str, str] | None = None,
) -> DataFrame:
    """P7: row/column security policy as a plain plan transformation.

    ``row_filter`` is a SQL predicate (row-level security), ``visible_cols``
    whitelists columns (column-level security), ``masks`` maps column name →
    SQL expression replacing its value (e.g. ``{"c_phone": "'***'"}``).
    Because the policy is ordinary Catalyst plan surface, the row predicate
    still pushes down to the parquet scan underneath the view (asserted in
    tests/test_plans.py) — policies cost nothing extra at 100 TB.
    """
    out = df
    if row_filter:
        out = out.filter(F.expr(row_filter))
    if masks:
        for col, expr in masks.items():
            out = out.withColumn(col, F.expr(expr).alias(col))
    if visible_cols:
        out = out.select(*visible_cols)
    return out


def register_policy_view(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    view_name: str,
    row_filter: str | None = None,
    visible_cols: list[str] | None = None,
    masks: dict[str, str] | None = None,
) -> None:
    """Register a policy-wrapped temp view over a base table (the tenant- or
    role-scoped surface a deployment hands to restricted consumers)."""
    policy_view(
        load_table(spark, sf_dir, table), row_filter, visible_cols, masks
    ).createOrReplaceTempView(view_name)
