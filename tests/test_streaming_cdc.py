"""Streaming CDC upsert into Iceberg (streaming/ops.iceberg_cdc_upsert):
after replaying the events table as 3 time-ordered micro-batches, the
Iceberg table must hold exactly ONE live row per key — the globally
latest event per user — i.e. stream-upsert ≡ batch argmax. Also checks
that the history really is merge-on-read (one atomic row-delta snapshot
per batch, all snapshots time-travelable)."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import Window
from pyspark.sql import functions as F

from mysoftware_nocnetintel_spark.sources.readers import read_iceberg_snapshot
from mysoftware_nocnetintel_spark.streaming.ops import (
    _EVENTS_RAW_SCHEMA,
    iceberg_cdc_upsert,
)

def _ts_to_instant():
    return F.timestamp_micros(
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    )


def test_cdc_upsert_equals_batch_argmax(spark, sf_dir, tmp_path):
    raw = spark.read.schema(_EVENTS_RAW_SCHEMA).parquet(
        os.path.join(sf_dir, "events.parquet")
    )
    # 3 time-ordered chunks: chunk boundaries follow the (ts, event_id)
    # tie-break order, so a later batch's rows always sort >= earlier
    # ones and "last writer wins" equals the global argmax
    rows = raw.orderBy("ts", "event_id").collect()
    chunks_dir = str(tmp_path / "chunks")
    os.makedirs(chunks_dir)
    third = (len(rows) + 2) // 3
    for i in range(3):
        chunk = rows[i * third : (i + 1) * third]
        if not chunk:
            continue
        p = os.path.join(chunks_dir, f"events-{i}.parquet")
        spark.createDataFrame(chunk, _EVENTS_RAW_SCHEMA).coalesce(
            1
        ).write.mode("overwrite").parquet(p + ".dir")
        import glob as g
        import shutil

        shutil.move(g.glob(p + ".dir/*.parquet")[0], p)
        shutil.rmtree(p + ".dir")
        # force strictly increasing modification times so the file source
        # replays the chunks in order
        t = time.time() - 100 + i * 10
        os.utime(p, (t, t))

    stream = (
        spark.readStream.schema(_EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(chunks_dir)
        .withColumn("ts", _ts_to_instant())
    )
    table = str(tmp_path / "cdc_table")
    q = iceberg_cdc_upsert(
        stream, table, checkpoint=str(tmp_path / "ckpt"), key_cols=("user_id",)
    )
    q.awaitTermination(300)

    got = {
        (r.user_id, r.event_id)
        for r in read_iceberg_snapshot(spark, table).collect()
    }
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ref = {
        (r.user_id, r.event_id)
        for r in raw.withColumn("ts", _ts_to_instant())
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    assert got == ref and len(got) > 0

    # merge-on-read history: ONE atomic snapshot per micro-batch — the
    # creating batch is a plain append, each later batch a single
    # row-delta "overwrite" (equality-delete file + data files under one
    # sequence number; no keys-vanished between-state exists anywhere in
    # the history). Every snapshot stays time-travelable.
    meta_dir = os.path.join(table, "metadata")
    versions = sorted(
        f for f in os.listdir(meta_dir) if f.endswith(".metadata.json")
    )
    with open(os.path.join(meta_dir, versions[-1])) as fh:
        meta = json.load(fh)
    ops = [s["summary"]["operation"] for s in meta["snapshots"]]
    assert ops == ["append", "overwrite", "overwrite"], ops
    for s in meta["snapshots"]:
        assert (
            read_iceberg_snapshot(
                spark, table, snapshot_id=s["snapshot-id"]
            ).count()
            > 0
        )


import random

import pytest


@pytest.mark.parametrize("seed", [13, 31])
def test_cdc_upsert_random_batch_splits(spark, tmp_path, seed):
    """Randomized differential: synthetic keyed events split into random
    TIME-ORDERED batches (batch boundaries follow the (ts, event_id)
    order), upserted batch-by-batch via the foreachBatch body, with a
    compaction interleaved at a random point — the final table must equal
    the global argmax per key regardless of how the stream was sliced."""
    from mysoftware_nocnetintel_spark.sources.iceberg import (
        rewrite_iceberg_table,
    )
    from mysoftware_nocnetintel_spark.streaming.ops import cdc_upsert_batch

    rng = random.Random(seed)
    n = 60
    rows = []
    for eid in range(n):
        # small key space → many generations per key; duplicate ts values
        # → the event_id tie-break matters
        rows.append(
            (
                eid,
                rng.randrange(7),  # user_id
                rng.randrange(10),  # ts bucket (seconds)
                float(rng.randrange(100)),
            )
        )
    # arrival order: by (ts, event_id) so later batches never carry
    # earlier tuples (the CDC contract)
    rows.sort(key=lambda r: (r[2], r[0]))

    table = str(tmp_path / f"fuzz{seed}")
    i = 0
    compact_at = rng.randrange(1, 5)
    batch_no = 0
    while i < len(rows):
        size = rng.randint(1, 25)
        chunk = rows[i : i + size]
        i += size
        batch_no += 1
        df = spark.createDataFrame(
            [(e, u, t, v) for (e, u, t, v) in chunk],
            "event_id bigint, user_id bigint, ts_s bigint, value double",
        ).selectExpr(
            "event_id", "user_id", "timestamp_seconds(ts_s) as ts", "value"
        )
        cdc_upsert_batch(df, table, ("user_id",))
        if batch_no == compact_at:
            rewrite_iceberg_table(spark, table)

    got = {
        (r.user_id, r.event_id, r.value)
        for r in read_iceberg_snapshot(spark, table).collect()
    }
    best: dict[int, tuple] = {}
    for eid, u, t, v in rows:
        if u not in best or (t, eid) > (best[u][0], best[u][1]):
            best[u] = (t, eid, v)
    ref = {(u, eid, v) for u, (t, eid, v) in best.items()}
    assert got == ref, f"seed={seed}"


@pytest.mark.parametrize("seed", [19])
def test_cdc_upsert_avro_fast_appends(spark, tmp_path, seed):
    """The CDC sink's avro fast-append mode (row-oriented micro-batch
    files, primitive payload with epoch-seconds ts): same randomized
    argmax differential, with a mid-stream compaction that must convert
    every avro file to parquet while preserving the upsert state."""
    from mysoftware_nocnetintel_spark.sources.iceberg import (
        rewrite_iceberg_table,
    )
    from mysoftware_nocnetintel_spark.sources.readers import (
        _iceberg_snapshot_files,
    )
    from mysoftware_nocnetintel_spark.streaming.ops import cdc_upsert_batch

    rng = random.Random(seed)
    rows = sorted(
        (
            (eid, rng.randrange(6), rng.randrange(9), float(rng.randrange(50)))
            for eid in range(40)
        ),
        key=lambda r: (r[2], r[0]),
    )
    table = str(tmp_path / f"avrofuzz{seed}")
    i, batch_no = 0, 0
    compact_at = rng.randrange(1, 4)
    while i < len(rows):
        size = rng.randint(1, 15)
        chunk = rows[i : i + size]
        i += size
        batch_no += 1
        df = spark.createDataFrame(
            chunk, "event_id bigint, user_id bigint, ts bigint, value double"
        )
        cdc_upsert_batch(df, table, ("user_id",), file_format="avro")
        if batch_no == compact_at:
            rewrite_iceberg_table(spark, table)
            d, _p, _e, _s = _iceberg_snapshot_files(table)
            assert all(e.fmt == "PARQUET" for e in d)
    got = {
        (r.user_id, r.event_id, r.value)
        for r in read_iceberg_snapshot(spark, table).collect()
    }
    best: dict[int, tuple] = {}
    for eid, u, t, v in rows:
        if u not in best or (t, eid) > (best[u][0], best[u][1]):
            best[u] = (t, eid, v)
    assert got == {(u, eid, v) for u, (t, eid, v) in best.items()}


def test_first_batch_retry_after_partial_failure(spark, tmp_path):
    """A failed FIRST batch leaves metadata/ on disk but no committed
    version (write_iceberg_append mkdirs before committing). The retry
    must take the CREATE path — not call the equality-delete writer
    against a table that doesn't exist yet."""
    from mysoftware_nocnetintel_spark.streaming.ops import cdc_upsert_batch

    table = str(tmp_path / "retry")
    # simulate the interrupted first attempt: dirs exist, no commit
    os.makedirs(os.path.join(table, "metadata"))
    os.makedirs(os.path.join(table, "data"))
    df = spark.createDataFrame(
        [(1, 5, 1)], "event_id bigint, user_id bigint, ts_s bigint"
    ).selectExpr("event_id", "user_id", "timestamp_seconds(ts_s) as ts")
    cdc_upsert_batch(df, table, ("user_id",))
    got = {(r.user_id, r.event_id) for r in read_iceberg_snapshot(spark, table).collect()}
    assert got == {(5, 1)}
