"""serve_hot: NOC analysts waiting on fresh statements.

Closed loop: ``CLIENTS`` analyst threads each run the next statement only
after the previous reply arrived. Every statement is fresh, as a user
issues it: ``QUERIES[name](spark, sf_dir)`` builds the plan, then
``toArrow()`` executes it and fetches the reply. Each client walks its own
seeded schedule of rounds; a round is one shuffled pass over ``MIX``.
Each client stops at the round boundary nearest the window's end, so
every window holds whole rounds, the same mix whatever the seed and the
speed. The session matches
the package's serving settings: FAIR scheduling, 8 shuffle partitions,
AQE off, table cache on.
"""

from __future__ import annotations

import contextlib
import random
from concurrent.futures import ThreadPoolExecutor

import layers
from check import Digester, duckdb_views, same_rows, time_oracles
from harness import Ctx, now, p50, p90, prep_inputs
from spans import Tracer

MIX = [
    "q1_pricing_summary",
    "q2_join_topn",
    "q3_window_rank",
    "q4_rolling_avg",
    "q5_sessionize",
    "q6_json_extract",
    "q7_distinct",
    "q8_dedup_docs",
    "q9_knn",
    "q10_setops",
    "q0_flagship_risk",
    "q52_model_metrics",
    "q124_bm25",
]
CLIENTS = 2
PARTITIONS = 8
WARM_ROUNDS = 1


def _schedule(seed: int, window: str, client: int):
    rng = random.Random(f"{seed}:{window}:{client}")
    while True:
        yield from rng.sample(MIX, len(MIX))


def _client(spark, sf_dir, names, deadline, tracer, tag):
    from mysoftware_nocnetintel_spark.plans import QUERIES

    span = tracer.span if tracer else (lambda *a, **k: contextlib.nullcontext())
    out = []
    for i, name in enumerate(names):
        if i % len(MIX) == 0:
            t = now()
            if deadline is not None and i and (
                t + (t - round_start) / 2 >= deadline
            ):
                break  # the round boundary nearest the deadline
            round_start = t
        rec = {"name": name}
        group = f"{tag}-{i}"
        try:
            with span("stmt", op=group):
                t0 = now()
                with span("plans.build"):
                    df = QUERIES[name](spark, sf_dir)
                t1 = now()
                if tracer:
                    spark.sparkContext.setJobGroup(group, name)
                with span("spark.exec_fetch"):
                    tbl = df.toArrow()
                t2 = now()
            rec.update(start=t0, build=t1 - t0, fetch=t2 - t1, end=t2, tbl=tbl)
            if tracer:
                rec.update(df=df, group=group, phases=layers.phases_ms(df))
        except Exception as exc:  # counted as a failed operation
            rec["exc"] = exc
        out.append(rec)
    return out


def _loop(ctx: Ctx, sf_dir, label, seconds=None, tracer=None, rounds=1):
    """All clients in a closed loop, each running whole rounds for about
    ``seconds``, or ``rounds`` rounds when None. Returns
    (records, {ops_per_s, cpu_ms_per_op}) over the completed statements."""
    cpu0 = ctx.work_cpu_s()
    start = now()
    deadline = None if seconds is None else start + seconds
    with ThreadPoolExecutor(CLIENTS) as ex:
        futs = []
        for c in range(CLIENTS):
            names = _schedule(ctx.seed, label, c)
            if seconds is None:
                names = [next(names) for _ in range(rounds * len(MIX))]
            futs.append(ex.submit(
                _client, ctx.spark, sf_dir, names, deadline, tracer,
                f"{label}{c}",
            ))
        recs = [r for f in futs for r in f.result()]
    done = [r for r in recs if "end" in r]
    wall = max((r["end"] for r in done), default=now()) - start
    cpu_ms = (ctx.work_cpu_s() - cpu0) * 1000
    return recs, {
        "ops_per_s": len(done) / wall if wall > 0 else 0.0,
        "cpu_ms_per_op": cpu_ms / len(done) if done else 0.0,
    }


def _verify(ctx: Ctx, recs, refs, dig) -> None:
    """Check every reply against its statement's reference digest."""
    for r in recs:
        if "exc" in r:
            ctx.error(r["name"], r["exc"])
            continue
        want = refs.get(r["name"])
        got = dig.digest(ctx.take_fault(r.pop("tbl")))
        ctx.ok(r["name"], got == want, f"digest {got} != {want}")


def _references(ctx: Ctx, sf_dir, dig) -> dict:
    """Reference digests from a cold pass over the mix, shared between the
    clients; each reply is checked against the DuckDB oracle on the same
    parquet. Also times the DuckDB control."""
    import duckdb

    from mysoftware_nocnetintel_spark.plans import ORACLES

    with ThreadPoolExecutor(CLIENTS) as ex:
        futs = [
            ex.submit(_client, ctx.spark, sf_dir, MIX[c::CLIENTS], None,
                      None, f"cold{c}")
            for c in range(CLIENTS)
        ]
        recs = [r for f in futs for r in f.result()]
    first = {}
    for r in recs:
        if "exc" in r:
            ctx.error(r["name"], r["exc"])
        else:
            first[r["name"]] = r["tbl"]
    refs = {n: dig.digest(t) for n, t in first.items()}
    con = duckdb.connect()
    try:
        duckdb_views(con, sf_dir)
        for n in MIX:
            want = con.execute(ORACLES[n]).arrow()
            got = first.get(n)
            ctx.ok(f"oracle {n}", got is not None and same_rows(got, want))
        ctx.layer["control.duckdb_ms"] = time_oracles(con, MIX)
    finally:
        con.close()
    return refs


def run(ctx: Ctx) -> dict:
    """Set up, warm up and measure one window; return its op_p50_ms,
    op_p90_ms, ops_per_s and cpu_ms_per_op."""
    from mysoftware_nocnetintel_spark.sources.registry import (
        enable_table_cache,
    )

    spark = ctx.spark
    spark.conf.set("spark.sql.shuffle.partitions", str(PARTITIONS))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    enable_table_cache(True)
    sf_dir = prep_inputs(ctx)
    dig = Digester()
    try:
        t0 = now()
        refs = _references(ctx, sf_dir, dig)
        ctx.setup["refs_s"] = now() - t0

        # warm-up: a fixed number of rounds, so that every run measures
        # from the same point of the JIT warm-up curve (throughput is still
        # rising a minute later; see README.md)
        t0 = now()
        recs, _rates = _loop(ctx, sf_dir, "warm", rounds=WARM_ROUNDS)
        _verify(ctx, recs, refs, dig)
        ctx.setup["warm_s"] = now() - t0

        ctx.setup_cpu_s = ctx.work_cpu_s()
        recs, rates = _loop(ctx, sf_dir, "measure", ctx.seconds)
        _verify(ctx, recs, refs, dig)
        lat = [(r["end"] - r["start"]) * 1000 for r in recs if "end" in r]
        window = {"op_p50_ms": p50(lat), "op_p90_ms": p90(lat), **rates}
        for n in MIX:
            ctx.layer[f"stmt_ms.{n.split('_')[0]}"] = p50(
                [(r["end"] - r["start"]) * 1000
                 for r in recs if r["name"] == n and "end" in r]
            )
        if ctx.trace:
            _traced(ctx, sf_dir, refs, dig, window["op_p50_ms"])
        return window
    finally:
        dig.close()


def _traced(ctx: Ctx, sf_dir, refs, dig, untraced_p50_ms) -> None:
    from mysoftware_nocnetintel_spark.plans.diagnostics import plan_summary

    tracer = Tracer()
    layers.install(tracer)
    try:
        recs, _rates = _loop(ctx, sf_dir, "traced", ctx.seconds, tracer)
    finally:
        tracer.unwrap_all()
    _verify(ctx, recs, refs, dig)
    done = [r for r in recs if "end" in r]
    layers.drain_listener(ctx.spark)
    jobs, tasks, exch = {}, {}, {}
    for r in done:
        j, t = layers.job_counts(ctx.spark, r["group"])
        jobs.setdefault(r["name"], []).append(j)
        tasks.setdefault(r["name"], []).append(t)
    last = {r["name"]: r["df"] for r in done}
    for n, df in last.items():
        exch[n] = plan_summary(df)["exchanges"]

    def per_stmt(d):
        """Mean over the mix of each statement's median."""
        return sum(p50(v) for v in d.values()) / len(d) if d else 0.0

    ph = [r["phases"] for r in done]
    lay = ctx.layer
    lay.update({
        "plans.build_ms": p50([r["build"] * 1000 for r in done]),
        "plans.exchanges": per_stmt({n: [v] for n, v in exch.items()}),
        "spark.analysis_ms": p50([p["analysis"] for p in ph]),
        "spark.optimization_ms": p50([p["optimization"] for p in ph]),
        "spark.planning_ms": p50([p["planning"] for p in ph]),
        "spark.exec_fetch_ms": p50([
            r["fetch"] * 1000
            - r["phases"]["optimization"] - r["phases"]["planning"]
            for r in done
        ]),
        "spark.jobs_per_stmt": per_stmt(jobs),
        "spark.tasks_per_stmt": per_stmt(tasks),
        "operators.timeseries_ms": tracer.median("operators.timeseries", 1e3),
        "operators.spread_ms": tracer.median("operators.spread", 1e3),
        "ml.rule_metrics_ms": tracer.median("ml.rule_metrics", 1e3),
        "trace.overhead_ms": p50(
            [(r["end"] - r["start"]) * 1000 for r in done]
        ) - untraced_p50_ms,
        "trace.spans": float(len(tracer.spans)),
    })
    ctx.tracer = tracer
