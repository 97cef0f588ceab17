"""The data-file layout of every lakehouse write, and Z-ORDER
(Morton-curve) multi-column clustering.

:func:`cluster` is the one layout decision of the Delta and Iceberg data
writers: a ``sort_by`` write is range-clustered (below); a write without
one whose optimized plan is byte-small (:func:`byte_small`) runs as one
task and stages one file; anything larger keeps its partitioning.

Single-column ``sort_by`` clustering gives disjoint zone maps on the
leading column only — a range predicate on the SECOND sort column still
touches every file (lexicographic order scatters it). Interleaving the
bits of per-column rank buckets orders rows along a space-filling curve
instead, so every participating column's values are locally clustered:
zone maps prune on ANY of the z-ordered columns, which is the standard
multi-dimensional clustering answer (the same trade Delta's OPTIMIZE
ZORDER BY and Iceberg's sort-order z-transform make; public references:
Morton 1966, the Databricks/Iceberg docs describe the identical scheme).

Mechanics, all JVM-side expressions:

1. per column, map values to a 2^bits-bucket EQUAL-DEPTH rank id —
   boundaries come from one driver-side ``approxQuantile`` call
   (bounded: 2^bits − 1 doubles per column; equal-depth keeps skewed
   columns from collapsing into one bucket, which would silently turn
   z-order back into single-column order);
2. Morton-interleave the bucket bits into one long
   (bit i of column j lands at position i·k + j);
3. range-partition + sort the write on that z value — same shuffle
   shape as plain ``sort_by``, just a different key.

The z value is a WRITE-TIME ordering device only: it is not stored, and
readers prune purely through the ordinary per-file column bounds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_ZORDERABLE = {"int", "bigint", "float", "double", "date"}


def zvalue_column(df: DataFrame, cols: tuple[str, ...], bits: int = 6) -> Column:
    """Morton z-value Column over ``cols`` (numeric/date), using
    equal-depth bucket ids from ``approxQuantile`` boundaries. Driver
    cost: one quantile sketch pass over ``df`` (an eager action —
    callers are writers, where an extra scan is the accepted price of
    clustering). ``bits`` per column: 2^bits buckets each; 6 bits × k
    columns needs k·6 ≤ 63 total bits (enforced)."""
    k = len(cols)
    if k < 2:
        raise ValueError("z-order needs at least 2 columns (use sort_by)")
    if k * bits > 63:
        raise ValueError(f"{k} cols × {bits} bits exceeds a long")
    types = dict(df.dtypes)
    num_exprs: list[Column] = []
    for c in cols:
        t = types.get(c)
        if t not in _ZORDERABLE:
            raise NotImplementedError(
                f"z-order on column {c!r} of type {t!r} unsupported "
                "(numeric/date only)"
            )
        num_exprs.append(
            F.datediff(F.col(c), F.lit("1970-01-01")).cast("double")
            if t == "date"
            else F.col(c).cast("double")
        )
    probe = df.select(
        *[e.alias(f"__z{i}") for i, e in enumerate(num_exprs)]
    )
    n_buckets = 1 << bits
    qs = [i / n_buckets for i in range(1, n_buckets)]
    all_bounds = probe.stat.approxQuantile(
        [f"__z{i}" for i in range(k)], qs, 0.001
    )
    z = F.lit(0).cast("bigint")
    for j, (e, bounds) in enumerate(zip(num_exprs, all_bounds)):
        # strictly increasing boundary subset (ties collapse buckets);
        # bucket id = #boundaries below the value — a comparison chain
        # over ≤ 2^bits − 1 literals, whole-stage-codegen-friendly
        uniq = sorted(set(bounds))
        bucket = F.lit(0)
        for b in uniq:
            bucket = bucket + F.when(e > F.lit(b), 1).otherwise(0)
        bucket = bucket.cast("bigint")
        for i in range(bits):
            z = z + F.shiftleft(
                F.shiftright(bucket, i).bitwiseAND(F.lit(1)),
                i * k + j,
            )
    return z


def byte_small(nbytes: int) -> bool:
    """The package's one byte-small threshold: under 512 KiB
    (``nbytes >> 18 <= 1``) a relation is cheaper as one task than as a
    fan-out. The table cache's single-partition rule
    (``registry.load_table``) and :func:`cluster` both read it."""
    return nbytes >> 18 <= 1


def plan_bytes(df: DataFrame) -> int:
    """Catalyst's ``sizeInBytes`` estimate of ``df``'s optimized plan.
    Exact for a driver-built ``LocalTableScan``; without CBO an upper
    bound for every operator except ``Generate`` (a join estimates the
    product of its sides)."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    return int(stats.sizeInBytes())


def cluster(
    df: DataFrame, sort_by: tuple[str, ...], zorder: bool = False
) -> DataFrame:
    """The layout of one lakehouse data write.

    - With ``sort_by``: CLUSTER the write — range-partition then sort
      within each partition, so every output file covers a narrow key
      slice and its zone-map bounds are near-disjoint from its siblings'.
      With ``zorder`` the key is the Morton z-value of the columns
      (:func:`zvalue_column`) instead of their lexicographic order. The
      partition count is passed EXPLICITLY (the session's
      shuffle-partition conf) so AQE cannot coalesce the clustered write
      back into one wide file.
    - Without, when the plan is byte-small (:func:`byte_small` of
      :func:`plan_bytes`): ``coalesce(1)`` — one task writes one file (one
      per partition directory). A 2,000-row driver-built batch otherwise
      fans out to every core and stages a file per task, each paying task
      start-up, a parquet footer and an add action.
    - Otherwise ``df`` unchanged. At cluster scale a write's estimate is
      far above the threshold, so the rule never fires there."""
    if not sort_by:
        return df.coalesce(1) if byte_small(plan_bytes(df)) else df
    bad = [c for c in sort_by if c not in df.columns]
    if bad:
        raise ValueError(f"sort_by columns {bad} not in the schema")
    num = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "8"))
    if zorder:
        zc = zvalue_column(df, tuple(sort_by))
        return df.repartitionByRange(num, zc).sortWithinPartitions(zc)
    return df.repartitionByRange(
        num, *[F.col(c) for c in sort_by]
    ).sortWithinPartitions(*sort_by)
