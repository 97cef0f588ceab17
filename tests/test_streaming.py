"""Stream-batch parity tests (SURVEY.md §5.2 layer 4): every streaming
transformation shares its expression with a batch twin, so running the
stream to completion must reproduce the batch answer exactly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mysoftware_nocnetintel_spark import streaming as STR
from mysoftware_nocnetintel_spark.plans.queries_timeseries import (
    q45_tumbling_window,
    q47_session_window,
)
from mysoftware_nocnetintel_spark.sources import load_table


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_stream_equals_batch(spark, sf_dir):
    stream = STR.read_events_stream(spark, sf_dir)
    got = STR.run_to_memory(
        STR.tumbling_rollup(stream), "t_tumbling", output_mode="complete"
    )
    want = q45_tumbling_window(spark, sf_dir)
    cols = ["window_start", "n", "total_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_session_stream_equals_batch(spark, sf_dir):
    stream = STR.read_events_stream(spark, sf_dir)
    got = STR.run_to_memory(
        STR.session_rollup(stream), "t_session", output_mode="complete"
    )
    want = q47_session_window(spark, sf_dir)
    cols = ["user_id", "session_start", "n_events", "total_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_static_join_parity(spark, sf_dir):
    """J6: stream-static join — live events enriched with a static dim."""
    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("user_total"))
    stream = STR.read_events_stream(spark, sf_dir)
    joined = stream.join(dim, "user_id").select("event_id", "user_id", "user_total")
    got = STR.run_to_memory(joined, "t_ss_join", output_mode="append")
    want = ev.join(dim, "user_id").select("event_id", "user_id", "user_total")
    cols = ["event_id", "user_id", "user_total"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_dedup_within_watermark(spark, sf_dir):
    """T5: duplicate keys collapse to one surviving row in-stream."""
    stream = STR.read_events_stream(spark, sf_dir)
    keyed = stream.withColumn("dup_key", F.col("event_id") % 100)
    got = STR.run_to_memory(
        STR.stream_dedup(keyed, ["dup_key"]), "t_dedup", output_mode="append"
    )
    n = got.count()
    distinct_keys = (
        load_table(spark, sf_dir, "events")
        .select((F.col("event_id") % 100).alias("k"))
        .distinct()
        .count()
    )
    assert n == distinct_keys


def test_stream_stream_join_parity(spark, sf_dir):
    """J7: watermarked stream-stream join == batch range join (q29)."""
    from mysoftware_nocnetintel_spark.plans.queries_relational import q29_range_join

    stream = STR.read_events_stream(spark, sf_dir)
    got = STR.run_to_memory(
        STR.stream_stream_join(stream), "t_ssj", output_mode="append"
    )
    got_counts = got.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))
    want = q29_range_join(spark, sf_dir)
    cols = ["user_id", "n_pairs"]
    assert _rows(got_counts, cols) == _rows(want, cols)


def test_threshold_alerts_parity(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    stream = STR.read_events_stream(spark, sf_dir)
    got = STR.run_to_memory(
        STR.threshold_alerts(stream, 300.0), "t_alerts", output_mode="append"
    )
    want = ev.filter(
        (F.col("event_type") == "error") & (F.col("value") >= 300.0)
    ).count()
    assert got.count() == want
    if got.count() > 0:
        assert got.select("alert_kind").distinct().collect()[0][0] == "value_threshold"


def test_drift_state_emits_per_user(spark, sf_dir):
    stream = STR.read_events_stream(spark, sf_dir)
    got = STR.run_to_memory(
        STR.with_drift_state(stream), "t_drift", output_mode="append"
    )
    ev = load_table(spark, sf_dir, "events")
    n_users = ev.select("user_id").distinct().count()
    rows = got.collect()
    assert len(rows) == n_users  # single micro-batch → one state row per user
    # running mean over one batch == plain per-user mean
    want = {
        r.user_id: r.m
        for r in ev.groupBy("user_id").agg(F.avg("value").alias("m")).collect()
    }
    for r in rows:
        assert abs(r.mean - want[r.user_id]) < 1e-9
        assert abs(r.drift) < 1e-9  # first batch: batch_mean == running mean


def test_streaming_foreachbatch_parquet_sink(spark, sf_dir, tmp_path):
    """S4/S6: foreachBatch parquet alert sink round-trips."""
    out = str(tmp_path / "alerts")
    stream = STR.read_events_stream(spark, sf_dir)

    def write_batch(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    q = (
        STR.threshold_alerts(stream, 300.0)
        .writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    ev = load_table(spark, sf_dir, "events")
    want = ev.filter(
        (F.col("event_type") == "error") & (F.col("value") >= 300.0)
    ).count()
    got = spark.read.parquet(out).count() if want else 0
    assert got == want


def test_stream_stream_left_outer_join(spark, sf_dir):
    """J7 left-outer: matched pairs == inner join; null-extended rows are
    exactly the unmatched alarms old enough for their join state to have
    expired before the final watermark (the withheld tail is the documented
    semantics of outer stream-stream joins on a finite replay)."""
    stream = STR.read_events_stream(spark, sf_dir)
    got = STR.run_to_memory(
        STR.stream_stream_join(stream, how="left_outer"),
        "t_ssj_outer",
        output_mode="append",
    ).collect()
    matched = {(r.user_id, r.left_id, r.right_id) for r in got if r.right_id is not None}
    inner = STR.run_to_memory(
        STR.stream_stream_join(STR.read_events_stream(spark, sf_dir)),
        "t_ssj_inner2",
        output_mode="append",
    ).collect()
    assert matched == {(r.user_id, r.left_id, r.right_id) for r in inner}

    # batch truth: alarms with no purchase in (ts, ts+5min] per user
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("left_id"), F.col("ts").alias("lts")
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u2"), F.col("ts").alias("rts")
    )
    pair_cond = (
        (F.col("user_id") == F.col("u2"))
        & (F.col("rts") > F.col("lts"))
        & (F.col("rts") <= F.col("lts") + F.expr("INTERVAL '5' MINUTE"))
    )
    unmatched_batch = {
        r.left_id for r in left.join(right, pair_cond, "left_anti").collect()
    }
    null_rows = {r.left_id for r in got if r.right_id is None}
    # every emitted null-extension is truly unmatched
    assert null_rows <= unmatched_batch
    # every unmatched alarm whose state surely expired was emitted. The
    # global watermark is the MIN across both watermarked sides (each delayed
    # 1h), and left join state is droppable once wm > lts + 5min.
    wm_final = min(
        ev.filter(F.col("event_type") == "error").agg(F.max("ts")).collect()[0][0],
        ev.filter(F.col("event_type") == "purchase").agg(F.max("ts")).collect()[0][0],
    )
    horizon = (
        left.join(right, pair_cond, "left_anti")
        .filter(
            F.col("lts")
            < F.lit(wm_final)
            - F.expr("INTERVAL '1' HOUR")
            - F.expr("INTERVAL '6' MINUTE")
        )
    )
    must_emit = {r.left_id for r in horizon.collect()}
    assert must_emit <= null_rows


def test_rocksdb_state_store_parity(spark, sf_dir):
    """The RocksDB state-store backend (large-state streaming: off-heap
    state + changelog checkpointing) must produce the identical windowed
    result as the default HDFS-backed store — same plan, different state
    backend. Conf is applied before query start and restored after."""
    from mysoftware_nocnetintel_spark.streaming.ops import use_rocksdb_state

    prev = use_rocksdb_state(spark, changelog_checkpointing=True)
    try:
        assert (
            spark.conf.get("spark.sql.streaming.stateStore.providerClass")
            .endswith("RocksDBStateStoreProvider")
        )
        stream = STR.read_events_stream(spark, sf_dir)
        got = STR.run_to_memory(
            STR.tumbling_rollup(stream), "t_tumbling_rocks", output_mode="complete"
        )
        want = q45_tumbling_window(spark, sf_dir)
        cols = ["window_start", "n", "total_value"]
        assert _rows(got, cols) == _rows(want, cols)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


class TestLeftOuterExpiryRandomized:
    """J7 left-outer expiry-exactness, randomized (round-2 advisor item):
    for arbitrary per-user event timelines and random (within, watermark)
    parameters, the streaming left-outer join must
      1. emit exactly the batch inner-join's matched pairs,
      2. null-extend only rows the batch anti-join also calls unmatched,
      3. emit EVERY unmatched row whose join state provably expired before
         the final global watermark (nothing silently dropped).
    """

    import itertools

    _seq = itertools.count()

    @staticmethod
    def _timeline():
        from hypothesis import strategies as st

        @st.composite
        def gen(draw):
            events = []
            eid = 0
            for u in range(draw(st.integers(1, 3))):
                for _ in range(draw(st.integers(1, 8))):
                    off = draw(st.integers(0, 240))
                    kind = draw(st.sampled_from(["error", "purchase"]))
                    events.append((eid, off, u, kind))
                    eid += 1
            within = draw(st.sampled_from([2, 5, 17]))
            wm = draw(st.sampled_from([10, 60]))
            return events, within, wm

        return gen()

    def test_expiry_random(self, spark, tmp_path):
        import datetime as dt

        from hypothesis import HealthCheck, given, settings

        from mysoftware_nocnetintel_spark import streaming as STR

        base = dt.datetime(2024, 1, 1)

        @settings(
            max_examples=6,
            deadline=None,
            derandomize=True,
            suppress_health_check=list(HealthCheck),
        )
        @given(case=self._timeline())
        def run(case):
            events, within_min, wm_min = case
            rows = [
                (eid, base + dt.timedelta(minutes=off), u, kind)
                for eid, off, u, kind in events
            ]
            batch = spark.createDataFrame(
                rows, "event_id long, ts timestamp, user_id long, event_type string"
            )
            n = next(self._seq)
            src = str(tmp_path / f"ssj_src_{n}")
            batch.coalesce(1).write.mode("overwrite").parquet(src)
            stream = spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string"
            ).parquet(src)
            got = STR.run_to_memory(
                STR.stream_stream_join(
                    stream,
                    within=f"{within_min} minutes",
                    watermark=f"{wm_min} minutes",
                    how="left_outer",
                ),
                f"t_ssj_prop_{n}",
                output_mode="append",
            ).collect()

            left = batch.filter(F.col("event_type") == "error").select(
                "user_id", F.col("event_id").alias("left_id"), F.col("ts").alias("lts")
            )
            right = batch.filter(F.col("event_type") == "purchase").select(
                F.col("user_id").alias("u2"), F.col("ts").alias("rts"),
                F.col("event_id").alias("right_id"),
            )
            cond = (
                (F.col("user_id") == F.col("u2"))
                & (F.col("rts") > F.col("lts"))
                & (F.col("rts") <= F.col("lts") + F.expr(f"INTERVAL '{within_min}' MINUTE"))
            )
            inner = {
                (r.user_id, r.left_id, r.right_id)
                for r in left.join(right, cond, "inner").collect()
            }
            unmatched = {
                r.left_id for r in left.join(right, cond, "left_anti").collect()
            }

            matched = {
                (r.user_id, r.left_id, r.right_id)
                for r in got
                if r.right_id is not None
            }
            null_rows = {r.left_id for r in got if r.right_id is None}
            assert matched == inner
            assert null_rows <= unmatched

            # expiry horizon: global watermark = min over both sides of
            # (max event ts - delay); left state is droppable once
            # wm > lts + within. 1-minute slack avoids boundary ties.
            err_ts = [r[1] for r in rows if r[3] == "error"]
            pur_ts = [r[1] for r in rows if r[3] == "purchase"]
            if err_ts and pur_ts:
                wm_final = min(max(err_ts), max(pur_ts)) - dt.timedelta(
                    minutes=wm_min
                )
                horizon = wm_final - dt.timedelta(minutes=within_min + 1)
                must_emit = {
                    r.left_id
                    for r in left.collect()
                    if r.lts < horizon and r.left_id in unmatched
                }
                assert must_emit <= null_rows

        run()


def test_drift_state_v2_equals_v1(spark, sf_dir):
    """T6: the transformWithStateInPandas processor must produce exactly the
    applyInPandasWithState result (same math, state-v2 plumbing). Skipped
    where the state-v2 protobuf dependency is absent — the gate itself is
    then asserted instead."""
    import pytest

    if not STR.ops.STATE_V2_AVAILABLE:
        with pytest.raises(RuntimeError, match="protobuf"):
            STR.with_drift_state_v2(STR.read_events_stream(spark, sf_dir))
        pytest.skip("protobuf not installed: state-v2 execution unavailable")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        got = STR.run_to_memory(
            STR.with_drift_state_v2(STR.read_events_stream(spark, sf_dir)),
            "t_drift_v2",
            output_mode="append",
        ).collect()
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    want = STR.run_to_memory(
        STR.with_drift_state(STR.read_events_stream(spark, sf_dir)),
        "t_drift_v1b",
        output_mode="append",
    ).collect()
    got_m = {r.user_id: (r.n, round(r.mean, 9), round(r.drift, 9)) for r in got}
    want_m = {r.user_id: (r.n, round(r.mean, 9), round(r.drift, 9)) for r in want}
    assert got_m == want_m


def test_kafka_source_gate(spark):
    """S3 deployment path: without the kafka connector jar the reader must
    fail fast at plan construction with an actionable message."""
    with pytest.raises(RuntimeError, match="kafka source unavailable"):
        STR.read_events_kafka(spark, "localhost:9092", "events")


def test_ticket_sink_round_trip(spark, sf_dir, tmp_path):
    """S5: alerts become deterministic ticket records with severity triage
    and a next-06:30 calendar slot, date-partitioned on disk."""
    from mysoftware_nocnetintel_spark.sources.sinks import ticket_sink

    stream = STR.read_events_stream(spark, sf_dir)
    q = ticket_sink(
        STR.threshold_alerts(stream, 300.0),
        str(tmp_path / "tickets"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    ev = load_table(spark, sf_dir, "events")
    want = ev.filter((F.col("event_type") == "error") & (F.col("value") >= 300.0))
    n_want = want.count()
    if n_want == 0:
        return
    got = spark.read.parquet(str(tmp_path / "tickets"))
    assert got.count() == n_want
    assert got.select("ticket_id").distinct().count() == n_want
    r = got.orderBy("ticket_id").collect()[0]
    assert r.ticket_id.startswith("TCK-")
    assert r.severity in {"P1", "P2", "P3"}
    # calendar slot is 06:30 the day after creation
    assert (r.calendar_slot.hour, r.calendar_slot.minute) == (6, 30)
    assert r.calendar_slot.date() > r.created_ts.date()


def test_continuous_rollup_equals_batch(spark, sf_dir, tmp_path):
    """The incrementally-materialized hourly rollup must equal the batch
    rollup (q45) once the finite replay drains — the continuous-aggregate
    correctness contract."""
    out = str(tmp_path / "rollup")
    q = STR.continuous_rollup(
        STR.read_events_stream(spark, sf_dir), out, str(tmp_path / "ckpt2")
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).select("window_start", "n", "total_value")
    want = q45_tumbling_window(spark, sf_dir)
    cols = ["window_start", "n", "total_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_keyed_rollup_topk_equals_batch(spark, sf_dir, tmp_path):
    """Continuous KEYED rollup (per event_type) + the batch top-k serving
    view must equal ranking the batch windowed counts directly — the
    split-pattern for 'rank in streaming' (unsupported natively)."""
    from pyspark.sql import Window

    out = str(tmp_path / "keyed_rollup")
    q = STR.continuous_rollup(
        STR.read_events_stream(spark, sf_dir),
        out,
        str(tmp_path / "ckpt_topk"),
        keys=("event_type",),
    )
    q.awaitTermination(120)
    got = STR.topk_over_rollup(spark, out, k=3)

    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )
    w = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("event_type")
    )
    want = counts.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 3
    )
    cols = ["window_start", "event_type", "n", "total_value", "rk"]
    assert _rows(got, cols) == _rows(want, cols)


def test_continuous_rollup_conf_hygiene(spark, sf_dir, tmp_path):
    """Round-2 advisor items: the dynamic partitionOverwriteMode must be
    scoped to the upsert write (restored afterwards — a leaked 'dynamic'
    would turn later whole-table overwrites into partition-only ones), and
    the first-batch path probe must be an explicit existence check, so a
    fresh target materializes without a broad exception handler absorbing
    real failures."""
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    out = str(tmp_path / "rollup_hygiene")  # does not exist: first-batch path
    q = STR.continuous_rollup(
        STR.read_events_stream(spark, sf_dir), out, str(tmp_path / "ckpt_h")
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() > 0
    assert spark.conf.get(key) == "static"  # restored, not leaked
    spark.conf.unset(key)


def test_continuous_rollup_incremental_multibatch(spark, sf_dir, tmp_path):
    """The upsert path must be correct across MULTIPLE micro-batches that
    revise the same windows: replay events as 4 separate files with
    maxFilesPerTrigger=1, so later batches overwrite day-partitions written
    by earlier ones; final table must still equal the batch rollup."""
    import pyspark.sql.types as T

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "chunks")
    # time-ordered chunks: batches arrive in event-time order, so the
    # watermark advances between batches without marking whole chunks late,
    # and every batch revises the windows straddling its chunk boundary
    bounds = ev.selectExpr(
        "percentile(timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts), array(0.25, 0.5, 0.75)) AS b"
    ).collect()[0]["b"]
    sec = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    lows = [None, *bounds]
    highs = [*bounds, None]
    for lo, hi in zip(lows, highs):
        chunk = ev
        if lo is not None:
            chunk = chunk.filter(sec >= lo)
        if hi is not None:
            chunk = chunk.filter(sec < hi)
        chunk.write.mode("append").parquet(src)
    raw_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withColumn("ts", F.to_timestamp("ts"))
    )
    out = str(tmp_path / "rollup")
    q = STR.continuous_rollup(stream, out, str(tmp_path / "ckpt3"))
    q.awaitTermination(180)
    assert len(q.recentProgress) >= 4  # genuinely incremental
    got = spark.read.parquet(out).select("window_start", "n", "total_value")
    want = q45_tumbling_window(spark, sf_dir)
    cols = ["window_start", "n", "total_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_continuous_rollup_checkpoint_restart(spark, sf_dir, tmp_path):
    """Exactly-once across RESTARTS: run the rollup over half the input,
    then land more files and restart with the same checkpoint — the second
    run must process only the new files and the final materialization must
    equal the batch answer (no double-counted windows)."""
    import pyspark.sql.types as T

    ev = load_table(spark, sf_dir, "events")
    bounds = ev.selectExpr(
        "percentile(timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts), array(0.5)) AS b"
    ).collect()[0]["b"]
    sec = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    src = str(tmp_path / "chunks")
    out = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    raw_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )

    def run_once():
        stream = (
            spark.readStream.schema(raw_schema)
            .parquet(src)
            .withColumn("ts", F.to_timestamp("ts"))
        )
        q = STR.continuous_rollup(stream, out, ckpt)
        q.awaitTermination(120)
        return q

    ev.filter(sec < bounds[0]).write.mode("append").parquet(src)
    q1 = run_once()
    n_first = spark.read.parquet(out).count()
    assert n_first > 0
    ev.filter(sec >= bounds[0]).write.mode("append").parquet(src)
    q2 = run_once()
    # restart consumed only the NEW files (checkpoint held the old offsets)
    assert sum(p["numInputRows"] for p in q2.recentProgress) < ev.count()
    got = spark.read.parquet(out).select("window_start", "n", "total_value")
    want = q45_tumbling_window(spark, sf_dir)
    cols = ["window_start", "n", "total_value"]
    assert _rows(got, cols) == _rows(want, cols)
