#!/usr/bin/env python3
"""Benchmark of the NOC engine: one workload, one run.

From the repository root:

    python3 perfbench/run.py --workload serve_hot --seed 1 --seconds 15 --trace 0

The inputs are generated from ``--seed``; the workload is measured for
``--seconds``; every reply is checked. Stdout ends with a run record line
(``{"record": ...}``: load average, core count, DuckDB control, every
metric) and then the result line, which is always last:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json and
``--trace 1`` its per-layer metrics, taken from a traced window that
follows an untraced one; spans are written to ``.perfbench/traces/``.
All scratch (inputs, tables, indexes, Spark's local and warehouse
directories, the JVM's temp dir) lives under ``.perfbench/`` in the
checkout and is removed when the run ends. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import tempfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "mysoftware_nocnetintel_spark"
# workload -> (module, scale factor of its generated inputs)
WORKLOADS = {
    "serve_hot": ("serve", 0.01),
    "lakehouse_ingest": ("ingest", 0.01),
}
MAX_CPUS = 4
DRIVER_MEM = "1g"
RUN_LIMIT_S = 170


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def nproc() -> int:
    return min(MAX_CPUS, len(os.sched_getaffinity(0)))


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of the whole machine so far."""
    with open("/proc/stat", encoding="ascii") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def start_session(scratch: str, cpus: int):
    """A ``local[cpus]`` session whose every scratch path is ``scratch``
    and whose Python workers can import the package."""
    os.environ["TMPDIR"] = scratch
    tempfile.tempdir = scratch
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    # the launcher JVM that spark-submit starts first writes perf data
    # and temp files too
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={scratch}"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_AQE"] = "false"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from mysoftware_nocnetintel_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.scheduler.mode": "FAIR",
            "spark.local.dir": scratch,
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            # a fixed, pre-touched heap: resident memory then does not
            # depend on when the collector chose to grow the heap
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData "
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
                # a fixed set of JIT threads, whose CPU work_cpu_s leaves out
                "-XX:-UseDynamicNumberOfCompilerThreads",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)


def peak_rss_mb(spark) -> float:
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)


def execute(ctx, workload: str) -> tuple[dict, dict]:
    """Run ``workload`` on ``ctx``; return (end-to-end, per-layer) values."""
    module = importlib.import_module(WORKLOADS[workload][0])
    load0 = os.getloadavg()[0]
    steal0, total0 = _cpu_ticks()
    measured = module.run(ctx)
    steal1, total1 = _cpu_ticks()
    e2e = {
        # CPU, like cpu_ms_per_op: the wall-clock set-up time is setup_wall_s
        "setup_s": ctx.setup_cpu_s,
        "cpu_ms_per_op": measured["cpu_ms_per_op"],
        "peak_rss_mb": peak_rss_mb(ctx.spark),
    }
    layer = ctx.layer
    layer.update(measured)  # wall-clock latency and throughput
    layer.update({
        "session.start_s": ctx.setup.get("start_s", 0.0),
        "session.warm_s": ctx.setup.get("warm_s", 0.0),
        "setup_wall_s": sum(ctx.setup.values()),
        "failed_frac": ctx.failed / ctx.attempted if ctx.attempted else 1.0,
        "load.start": load0,
        "load.end": os.getloadavg()[0],
        # share of the machine's time its hypervisor gave to other guests
        "steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
        "nproc": float(ctx.nproc),
    })
    return e2e, layer


def result_line(spec: dict, ctx, e2e: dict, layer: dict) -> dict:
    if ctx.trace:
        metrics = {
            m["name"]: {"value": float(layer.get(m["name"], 0.0)),
                        "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        metrics = {
            m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    return {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }


def _timeout(_sig, _frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def _terminated(_sig, _frame):
    raise SystemExit(1)  # run the cleanup in main's finally


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    spec = load_spec()

    from harness import Ctx, now

    signal.signal(signal.SIGALRM, _timeout)
    signal.signal(signal.SIGTERM, _terminated)
    signal.alarm(RUN_LIMIT_S)
    work_root = os.path.join(ROOT, ".perfbench")
    os.makedirs(work_root, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=work_root)
    spark = None
    try:
        t0 = now()
        spark = start_session(scratch, nproc())
        ctx = Ctx(
            spark=spark, seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace), scratch=scratch, nproc=nproc(),
            sf=WORKLOADS[args.workload][1],
        )
        ctx.setup["start_s"] = now() - t0
        e2e, layer = execute(ctx, args.workload)
        if ctx.tracer is not None:
            trace_path = os.path.join(
                work_root, "traces", f"{args.workload}-seed{args.seed}.jsonl"
            )
            ctx.tracer.write(trace_path)
        final = result_line(spec, ctx, e2e, layer)
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
            signal.alarm(0)
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "setup": ctx.setup, "end_to_end": e2e, "per_layer": layer,
        "attempted": ctx.attempted, "failed": ctx.failed,
    }
    print(json.dumps({"record": record}, separators=(",", ":")))
    print(json.dumps(final, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
