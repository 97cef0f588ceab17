"""lakehouse_ingest: telemetry and documents landing in open tables.

One writer. Each cycle ingests ``BATCHES_PER_CYCLE`` seeded micro-batches
of ``events`` (``BATCH_ROWS`` rows) into one Delta and one Iceberg table
through ``sources.delta`` / ``sources.iceberg``: appends, and as the last
batch of the cycle a MERGE of corrections. One document micro-batch per
cycle passes through ``streaming.ops.dedup_gate_batch`` against a
persisted MinHash index. After every commit the writer reads the table
back fresh (snapshot read plus a filtered aggregate) and checks it
against the rows it has committed so far; the gated corpus is checked
against the documents known to be novel. A cycle ends with maintenance:
Delta checkpoint and optimize, Iceberg manifest rewrite, snapshot expiry
and compaction. The measured window runs whole cycles and ends on the
cycle boundary nearest its length, so every run holds the same mix of
appends, merges, gates and maintenance.

This is the only workload that writes, and the only one whose reads
bypass the program's table cache: read cost grows with log and file
count until maintenance folds them.
"""

from __future__ import annotations

import contextlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

import datagen
import layers
from check import Digester, duckdb_views, time_oracles
from harness import Ctx, now, p50, p90, prep_inputs
from spans import Tracer

BATCH_ROWS = 2000
BATCHES_PER_CYCLE = 4
CORRECTIONS = 200  # existing rows a merge batch updates
MERGE_NEW = 50  # new rows a merge batch inserts
N_USERS = 150
CORPUS_DOCS = 200  # documents indexed at setup
GATE_FRESH = 16  # novel documents per gated batch
GATE_REDELIVER = 2  # documents re-sent with their id
GATE_NEARDUP = 2  # new ids carrying an ingested text plus " dup"
NEARDUP_MIN_WORDS = 30  # keeps MinHash agreement far above the threshold


class Lake:
    """The tables one run writes, and what they must contain."""

    def __init__(self, ctx: Ctx, dig: Digester):
        self.ctx = ctx
        self.dig = dig
        self.rng = np.random.Generator(np.random.PCG64([ctx.seed, 7]))
        root = os.path.join(ctx.scratch, "lake")
        self.delta = os.path.join(root, "events_delta")
        self.iceberg = os.path.join(root, "events_iceberg")
        self.corpus = os.path.join(root, "corpus")
        self.index = os.path.join(root, "minhash_index")
        self.expected = None  # pa.Table of live event rows
        self.next_event = 0
        self.day = 0
        self.docs: list[tuple[int, str]] = []  # novel documents, in order
        self.next_doc = 0
        self.batch_no = 0
        self.user_rows = 0
        self.ops: list[dict] = []  # one per measured commit
        self.maint_s: list[float] = []
        self.tracer: Tracer | None = None

    # ---- inputs -------------------------------------------------------
    def _events(self, n: int) -> pa.Table:
        t = datagen.events(self.rng, n, N_USERS, self.next_event, self.day, 1)
        self.next_event += n
        self.day += 1
        return t

    def _corrections(self) -> pa.Table:
        ids = self.rng.choice(
            self.expected.column("event_id").to_numpy(), CORRECTIONS,
            replace=False,
        )
        old = self.expected.filter(pc.is_in(self.expected["event_id"],
                                            pa.array(ids)))
        fixed = old.set_column(
            old.schema.get_field_index("value"), "value",
            pc.round(pc.add(old["value"], 1.0), 2),
        )
        return pa.concat_tables([fixed, self._events(MERGE_NEW)])

    def _doc_batch(self) -> tuple[pa.Table, list[tuple[int, str]]]:
        fresh_text = datagen.texts(self.rng, GATE_FRESH, NEARDUP_MIN_WORDS)
        fresh = [(self.next_doc + i, t) for i, t in enumerate(fresh_text)]
        self.next_doc += GATE_FRESH
        picks = self.rng.choice(len(self.docs), GATE_REDELIVER + GATE_NEARDUP,
                                replace=False)
        again = [self.docs[i] for i in picks[:GATE_REDELIVER]]
        near = []
        for i in picks[GATE_REDELIVER:]:
            near.append((self.next_doc, self.docs[i][1] + " dup"))
            self.next_doc += 1
        rows = fresh + again + near
        tbl = pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        })
        return tbl, fresh

    # ---- operations ---------------------------------------------------
    def _span(self, name: str, op: str | None = None):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, op=op)

    def _read_events(self, fmt: str):
        """Fresh read: snapshot, then (rows, errors, max value)."""
        from pyspark.sql import functions as F

        from mysoftware_nocnetintel_spark.sources import readers

        path = self.delta if fmt == "delta" else self.iceberg
        read = (readers.read_delta_snapshot if fmt == "delta"
                else readers.read_iceberg_snapshot)
        df = read(self.ctx.spark, path)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("event_type") == "error").cast("long")).alias("e"),
            F.max("value").alias("m"),
        ).collect()[0]
        if self.tracer is not None:
            self._sample_layout(fmt, path, df)
        return (row["n"], row["e"], row["m"])

    def _sample_layout(self, fmt, path, df) -> None:
        log = "_delta_log" if fmt == "delta" else "metadata"
        self.tracer.event(
            "layout",
            live_files=len(df.inputFiles()),
            log_bytes=layers.dir_stats(os.path.join(path, log))[1],
        )

    def _want_events(self):
        e = self.expected
        return (
            e.num_rows,
            pc.sum(pc.equal(e["event_type"], "error").cast(pa.int64())).as_py(),
            pc.max(e["value"]).as_py(),
        )

    def _commit_events(self, fmt: str, tbl: pa.Table, merge: bool, tag: str):
        from mysoftware_nocnetintel_spark.sources import delta, iceberg

        spark = self.ctx.spark
        path = self.delta if fmt == "delta" else self.iceberg
        df = spark.createDataFrame(tbl)
        what = f"{fmt} {'merge' if merge else 'append'} {tag}"
        with self._span("commit", op=what):
            t0 = now()
            if merge and fmt == "delta":
                delta.merge_delta_rows(spark, path, df, on=["event_id"])
            elif merge:
                iceberg.merge_iceberg_rows(spark, path, df, on=["event_id"])
            elif fmt == "delta":
                delta.write_delta_append(df, path)
            else:
                iceberg.write_iceberg_append(df, path)
            t1 = now()
            got = self._read_events(fmt)
            t2 = now()
        return what, t0, t1, t2, got

    def events_batch(self, record: bool, merge: bool) -> None:
        """One event micro-batch into both tables, each read back; a
        ``merge`` batch carries corrections instead of new events."""
        tbl = self._corrections() if merge else self._events(BATCH_ROWS)
        self.batch_no += 1
        self.user_rows += tbl.num_rows
        if merge:
            keep = pc.invert(pc.is_in(self.expected["event_id"],
                                      tbl["event_id"]))
            self.expected = pa.concat_tables(
                [self.expected.filter(keep), tbl])
        else:
            self.expected = pa.concat_tables([self.expected, tbl])
        want = self._want_events()
        for fmt in ("delta", "iceberg"):
            self._op(record, lambda: self._commit_events(
                fmt, tbl, merge, str(self.batch_no)), want)

    def gate_batch(self, record: bool) -> None:
        """One document micro-batch through the MinHash ingestion gate;
        the corpus must then hold exactly the novel documents."""
        from mysoftware_nocnetintel_spark.sources import readers
        from mysoftware_nocnetintel_spark.streaming import ops

        spark = self.ctx.spark
        tbl, fresh = self._doc_batch()
        self.docs.extend(fresh)
        self.batch_no += 1
        self.user_rows += tbl.num_rows
        bid = self.batch_no

        def commit():
            df = spark.createDataFrame(tbl)
            what = f"gate {bid}"
            with self._span("commit", op=what):
                t0 = now()
                ops.dedup_gate_batch(df, bid, self.corpus, self.index,
                                     "perfbench")
                t1 = now()
                n = readers.read_delta_snapshot(spark, self.corpus).count()
                t2 = now()
            return what, t0, t1, t2, n

        self._op(record, commit, len(self.docs))

    def _op(self, record: bool, fn, want) -> None:
        try:
            what, t0, t1, t2, got = fn()
        except Exception as exc:  # counted as a failed operation
            self.ctx.error("commit", exc)
            return
        self.ctx.ok(what, got == want, f"read back {got}, expected {want}")
        if record:
            self.ops.append({"commit": t1 - t0, "read": t2 - t1})

    def maintain(self) -> None:
        from mysoftware_nocnetintel_spark.sources import delta, iceberg

        spark = self.ctx.spark
        with self._span("sources.maintenance"):
            t0 = now()
            try:
                delta.checkpoint_delta_table(self.delta)
                delta.optimize_delta_table(spark, self.delta)
                iceberg.rewrite_iceberg_manifests(self.iceberg)
                iceberg.expire_iceberg_snapshots(self.iceberg, keep_last=3)
                iceberg.rewrite_iceberg_table(spark, self.iceberg)
            except Exception as exc:  # counted as a failed operation
                self.ctx.error("maintenance", exc)
            self.maint_s.append(now() - t0)
        want = self._want_events()
        for fmt in ("delta", "iceberg"):
            try:
                got = self._read_events(fmt)
            except Exception as exc:  # counted as a failed operation
                self.ctx.error(f"{fmt} read after maintenance", exc)
                continue
            self.ctx.ok(f"{fmt} after maintenance", got == want,
                        f"read back {got}, expected {want}")

    def cycle(self, record: bool, batches: int = BATCHES_PER_CYCLE) -> None:
        """``batches`` event micro-batches, the last a merge; one gated
        document batch after the first; then maintenance."""
        for b in range(batches):
            self.events_batch(record, merge=b == batches - 1)
            if b == 0:
                self.gate_batch(record)
        self.maintain()

    # ---- setup and final state ----------------------------------------
    def create(self) -> None:
        """First commit of each table and the MinHash index build."""
        from mysoftware_nocnetintel_spark.operators import dedup_index
        from mysoftware_nocnetintel_spark.sources import delta, iceberg

        spark = self.ctx.spark
        first = self._events(BATCH_ROWS)
        self.expected = first
        delta.write_delta_append(spark.createDataFrame(first), self.delta)
        iceberg.write_iceberg_append(spark.createDataFrame(first),
                                     self.iceberg)
        texts = datagen.texts(self.rng, CORPUS_DOCS, NEARDUP_MIN_WORDS)
        self.docs = list(enumerate(texts))
        self.next_doc = CORPUS_DOCS
        docs = spark.createDataFrame(pa.table({
            "doc_id": pa.array(range(CORPUS_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
        }))
        delta.write_delta_append(docs, self.corpus)
        t0 = now()
        dedup_index.build_minhash_index(docs, self.index)
        lay = self.ctx.layer
        lay["operators.minhash_build_s"] = now() - t0
        files, size = layers.dir_stats(self.index)
        lay["operators.index_files"] = float(files)
        lay["operators.index_bytes"] = float(size)

    def check_final(self) -> None:
        """Whole-table content digests against the rows committed."""
        from mysoftware_nocnetintel_spark.sources import readers

        spark = self.ctx.spark
        want = self.dig.digest(self.expected)
        for fmt, path, read in (
            ("delta", self.delta, readers.read_delta_snapshot),
            ("iceberg", self.iceberg, readers.read_iceberg_snapshot),
        ):
            try:
                got = self.dig.digest(self.ctx.take_fault(
                    read(spark, path).select(*self.expected.column_names)
                    .toArrow()))
            except Exception as exc:  # counted as a failed operation
                self.ctx.error(f"{fmt} final read", exc)
                continue
            self.ctx.ok(f"{fmt} final contents", got == want)
        corpus = pa.table({
            "doc_id": pa.array([d[0] for d in self.docs], pa.int64()),
            "text": pa.array([d[1] for d in self.docs], pa.string()),
        })
        try:
            got = self.dig.digest(
                readers.read_delta_snapshot(spark, self.corpus)
                .select("doc_id", "text").toArrow())
        except Exception as exc:  # counted as a failed operation
            self.ctx.error("corpus final read", exc)
            return
        self.ctx.ok("corpus final contents", got == self.dig.digest(corpus))

    def stored_bytes(self) -> int:
        return sum(layers.dir_stats(p)[1] for p in (self.delta, self.iceberg))


def _measure(lake: Lake, seconds: float) -> dict:
    """Whole cycles, ending on the cycle boundary nearest ``seconds``;
    commit-to-read latency of every commit, commits per second of wall,
    and CPU time per commit (maintenance included)."""
    lake.ops = []
    rows0 = lake.user_rows
    cpu0 = lake.ctx.work_cpu_s()
    start = end = now()
    while True:
        lake.cycle(record=True)
        t = now()
        cycle_s, end = t - end, t
        if end - start + cycle_s / 2 >= seconds:
            break
    wall = end - start
    cpu_ms = (lake.ctx.work_cpu_s() - cpu0) * 1000
    ops = lake.ops
    lat = [(o["commit"] + o["read"]) * 1000 for o in ops]
    return {
        "op_p50_ms": p50(lat),
        "op_p90_ms": p90(lat),
        "ops_per_s": len(ops) / wall,
        "cpu_ms_per_op": cpu_ms / len(ops),
        "commit": [o["commit"] * 1000 for o in ops],
        "read": [o["read"] * 1000 for o in ops],
        "rows_per_s": (lake.user_rows - rows0) / wall,
    }


def _control(ctx: Ctx) -> None:
    """DuckDB running the serving statements' oracle SQL once, on inputs
    generated from the seed: the run's box-noise sentinel."""
    import duckdb

    from serve import MIX

    sf_dir = prep_inputs(ctx)
    con = duckdb.connect()
    try:
        duckdb_views(con, sf_dir)
        time_oracles(con, MIX)  # warm DuckDB's file and plan caches
        ctx.layer["control.duckdb_ms"] = time_oracles(con, MIX)
    finally:
        con.close()


def run(ctx: Ctx) -> dict:
    """Set up, warm up and measure one window; return its op_p50_ms,
    op_p90_ms, ops_per_s and cpu_ms_per_op."""
    _control(ctx)
    dig = Digester()
    try:
        lake = Lake(ctx, dig)
        t0 = now()
        lake.create()
        ctx.setup["create_s"] = now() - t0
        # warm-up: every operation once (one append, one merge, one gate,
        # maintenance), so the measured cycles do not pay first-use costs
        t0 = now()
        lake.cycle(record=False, batches=2)
        ctx.setup["warm_s"] = now() - t0

        ctx.setup_cpu_s = ctx.work_cpu_s()
        m = _measure(lake, ctx.seconds)
        window = {k: m[k] for k in ("op_p50_ms", "op_p90_ms", "ops_per_s",
                                    "cpu_ms_per_op")}
        lay = ctx.layer
        lay.update({
            "commit_p50_ms": p50(m["commit"]),
            "commit_p90_ms": p90(m["commit"]),
            "fresh_read_p50_ms": p50(m["read"]),
            "fresh_read_p90_ms": p90(m["read"]),
            "ingest_rows_per_s": m["rows_per_s"],
            "sources.maintenance_s": p50(lake.maint_s),
        })
        if ctx.trace:
            tracer = Tracer()
            layers.install(tracer)
            lake.tracer = tracer
            try:
                traced = _measure(lake, ctx.seconds)
            finally:
                tracer.unwrap_all()
                lake.tracer = None
            _layer_from_spans(ctx, tracer)
            lay["trace.overhead_ms"] = traced["op_p50_ms"] - m["op_p50_ms"]
            lay["trace.spans"] = float(len(tracer.spans))
            ctx.tracer = tracer
        lake.check_final()
        lay["bytes_stored_per_user_byte"] = (
            lake.stored_bytes() / (2 * lake.expected.nbytes)
        )
        return window
    finally:
        dig.close()


def _layer_from_spans(ctx: Ctx, tracer: Tracer) -> None:
    lay = ctx.layer
    for name in ("sources.delta.append", "sources.iceberg.append",
                 "sources.delta.merge", "sources.iceberg.merge",
                 "sources.snapshot_read", "streaming.gate"):
        lay[name + "_ms"] = tracer.median(name, 1e3)
    lay["operators.minhash_gate_s"] = tracer.median("operators.minhash_gate")
    lay["sources.maintenance_s"] = tracer.median("sources.maintenance")
    lay["sources.live_files"] = p50(tracer.values("layout", "live_files"))
    lay["sources.log_bytes"] = p50(tracer.values("layout", "log_bytes"))
