"""Sinks (SURVEY.md §2.1 S4-S6): partitioned parquet, append fact writes,
streaming alert delivery.

Reference parity: persisting forecasts (reference README.md:93-103,140) and
pushing alerts/tickets outward (README.md:63,141).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """S4: date/key-partitioned parquet layout — partition pruning is what
    makes the 100 TB time-horizon queries (P4) skip cold data entirely."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_events_by_day(events: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Canonical event layout: partition by event date (SURVEY.md §7.1)."""
    write_partitioned(
        events.withColumn("event_date", F.to_date("ts")), path, ["event_date"], mode
    )


def write_clustered(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str],
    mode: str = "overwrite",
    options: dict[str, str] | None = None,
) -> None:
    """S4 layout optimization (reference README.md:93-103 forecast store,
    laid out for the time-horizon reads of README.md:44): partitioned
    parquet with rows sorted WITHIN each output file on ``sort_cols``
    (e.g. (entity, ts)).

    Sorted files give every parquet row group tight min/max statistics on
    the sort keys, so point/range predicates on them skip whole row groups
    at scan time — the poor man's clustering index, and the difference
    between reading ~1 row group and the whole file at 100 TB. The sort is
    within partitions only (no global shuffle added beyond the repartition
    on the partition columns, which also yields one file per partition
    value instead of files x tasks fragmentation)."""
    out = df
    if partition_cols:
        out = out.repartition(*[F.col(c) for c in partition_cols])
    out = out.sortWithinPartitions(*sort_cols)
    writer = out.write.mode(mode)
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def zorder_key(
    col_a: str, col_b: str, bits: int = 16, validate: bool = True
) -> Column:
    """Morton (Z-order) key: bit-interleave two non-negative integer columns
    so that sorting on the single key clusters BOTH dimensions — point or
    range predicates on either column then touch ~sqrt of the row groups a
    random layout would (the multi-column generalization of
    :func:`write_clustered`'s single-key sort). Callers quantize non-integer
    columns to integer ranks first. Built as one SQL expression (one py4j
    call, JVM-side evaluation).

    Only the low ``bits`` bits participate, so values outside ``[0, 2**bits)``
    would silently collide on their low bits and quietly destroy the
    clustering. With ``validate`` (default) the key expression itself raises
    on the first out-of-range row (``raise_error`` folded into the key, so
    column pruning can't drop the check); pass ``validate=False`` only when
    inputs are already provably ranked."""
    terms = []
    for i in range(bits):
        terms.append(
            f"shiftleft(shiftright(CAST(`{col_a}` AS BIGINT), {i}) & 1, {2 * i})"
        )
        terms.append(
            f"shiftleft(shiftright(CAST(`{col_b}` AS BIGINT), {i}) & 1, {2 * i + 1})"
        )
    inter = " | ".join(terms)
    if not validate:
        return F.expr(inter)
    lim = 1 << bits
    cond = (
        f"CAST(`{col_a}` AS BIGINT) BETWEEN 0 AND {lim - 1} AND "
        f"CAST(`{col_b}` AS BIGINT) BETWEEN 0 AND {lim - 1}"
    )
    return F.expr(
        f"IF({cond}, {inter}, raise_error("
        f"'zorder_key: input outside [0, {lim}) — quantize/rank to integer "
        f"ranks first (or raise bits)'))"
    )


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    mode: str = "overwrite",
    options: dict[str, str] | None = None,
) -> None:
    """S4 layout: Z-order-clustered parquet over two integer dimensions."""
    keyed = df.withColumn("__z", zorder_key(col_a, col_b))
    out = keyed.sortWithinPartitions("__z").drop("__z")
    writer = out.write.mode(mode)
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    writer.parquet(path)


def append_forecasts(forecasts: DataFrame, path: str) -> None:
    """S4: append-mode forecast persistence (README.md:140 'logs all
    predictions')."""
    forecasts.write.mode("append").parquet(path)


def ticket_sink(alerts: DataFrame, path: str, checkpoint: str):
    """S5: calendar/ticketing delivery — alert rows become ticket records
    with severity triage and a scheduled calendar slot (the reference's
    'Team Alpha, report at 06:30 AM' dispatch calendar, README.md:63,79).

    foreachBatch so the ticket formatting runs exactly-once per micro-batch
    and the sink could equally be a JDBC ticketing table or REST call in
    deployment; here it lands as date-partitioned parquet. Ticket ids are
    deterministic (event_id-derived), so a real ticketing backend can
    upsert idempotently on replay; the parquet test sink itself appends
    (exactly-once within a query run via the checkpoint, dedupe-on-read by
    ticket_id across re-runs)."""

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        tickets = batch_df.select(
            F.concat(F.lit("TCK-"), F.col("event_id").cast("string")).alias(
                "ticket_id"
            ),
            F.col("ts").alias("created_ts"),
            "user_id",
            F.when(F.col("value") >= 400, "P1")
            .when(F.col("value") >= 350, "P2")
            .otherwise("P3")
            .alias("severity"),
            F.format_string(
                "entity %d breached threshold (value=%.2f)",
                F.col("user_id"),
                F.col("value"),
            ).alias("title"),
            # calendar slot: next 06:30 AM strictly after the alert — an
            # alert at 01:00 lands in the SAME day's 06:30 slot; 06:30:00
            # exactly or later rolls to the next day's.
            F.expr(
                "CASE WHEN ts < timestampadd(MINUTE, 390, date_trunc('DAY', ts)) "
                "THEN timestampadd(MINUTE, 390, date_trunc('DAY', ts)) "
                "ELSE timestampadd(MINUTE, 390, timestampadd(DAY, 1, date_trunc('DAY', ts))) END"
            ).alias("calendar_slot"),
            F.to_date("ts").alias("ticket_date"),
        ).dropDuplicates(["ticket_id"])
        tickets.write.mode("append").partitionBy("ticket_date").parquet(path)

    return (
        alerts.writeStream.foreachBatch(emit)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def compact_partitions(
    spark,
    path: str,
    partition_col: str = "day",
    target_mb: int = 128,
    partitions: list | None = None,
) -> dict:
    """Small-files compaction for incrementally-maintained tables (the ops
    companion of ``streaming.continuous_rollup``): every micro-batch
    rewrite leaves per-partition file counts growing, and at 100 TB/day
    the scan-planning cost of thousands of KB-files dominates reads. Each
    listed partition (default: all) is rewritten to
    ``ceil(bytes / target_mb)`` files via a per-partition coalesce —
    metadata listing on the driver, data movement fully distributed, one
    partition at a time so a failure leaves other partitions untouched.

    Returns ``{partition_value: (files_before, files_after)}``. Not
    transactional: readers racing a rewrite of the SAME partition can see
    partial state (the lakehouse formats exist for that guarantee — this
    utility is for plain-parquet tables where the write cadence is owned
    by one pipeline)."""
    import math
    import os
    import shutil
    from glob import glob

    _TMP, _OLD = ".__compact_tmp", ".__compact_old"
    report: dict = {}
    # Crash hygiene BEFORE listing: a tmp/old dir left by an interrupted run
    # matches the `day=*` glob (its name embeds the partition dirname) and
    # would otherwise be compacted as a bogus partition on the next run.
    for stale in glob(os.path.join(path, f"{partition_col}=*{_TMP}")):
        shutil.rmtree(stale)  # never renamed in => incomplete output
    for stale in glob(os.path.join(path, f"{partition_col}=*{_OLD}")):
        live = stale[: -len(_OLD)]
        if os.path.exists(live):
            shutil.rmtree(stale)  # swap completed; old copy is garbage
        else:
            os.rename(stale, live)  # crashed mid-swap: restore original
    dirs = sorted(
        d
        for d in glob(os.path.join(path, f"{partition_col}=*"))
        if _TMP not in d and _OLD not in d
    )
    for d in dirs:
        val = os.path.basename(d).split("=", 1)[1]
        if partitions is not None and val not in {str(p) for p in partitions}:
            continue
        files = glob(os.path.join(d, "*.parquet"))
        if len(files) <= 1:
            report[val] = (len(files), len(files))
            continue
        total_bytes = sum(os.path.getsize(f) for f in files)
        n_out = max(1, math.ceil(total_bytes / (target_mb << 20)))
        if n_out >= len(files):
            report[val] = (len(files), len(files))
            continue
        df = spark.read.parquet(d).coalesce(n_out)
        tmp = d + _TMP
        df.write.mode("overwrite").parquet(tmp)
        # Swap via rename-aside, not rmtree-then-rename: the partition is
        # absent only between the two renames (microseconds) instead of for
        # the whole rmtree, and a crash between them is repaired by the
        # hygiene pass above (old dir restored, tmp discarded).
        old = d + _OLD
        os.rename(d, old)
        os.rename(tmp, d)
        shutil.rmtree(old)
        report[val] = (len(files), n_out)
    return report


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """S4 co-location infrastructure: hash-bucketed (and optionally
    sorted) managed table. Two tables bucketed the same way join WITHOUT a
    shuffle (verified in tests/test_skew_bucketing.py) — at 100 TB this is
    how repeated fact-fact joins on the same key amortize their exchange
    to write time. Bucketing requires saveAsTable (the metastore keeps the
    bucket spec)."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)
