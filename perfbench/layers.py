"""Per-layer probes, read from outside the package.

``install`` wraps the public functions the workloads reach, one span name
per layer entry point (see spans.Tracer.wrap). The Spark helpers read
what the engine records about a statement: the phase times of its
``QueryExecution`` tracker and the jobs and tasks run under its job group.
"""

from __future__ import annotations

import os

from spans import Tracer


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(root, n))
            except FileNotFoundError:
                continue
            files += 1
    return files, size


def install(tracer: Tracer) -> None:
    """Wrap each layer's public entry points that the workloads reach."""
    from mysoftware_nocnetintel_spark.ml import forecast
    from mysoftware_nocnetintel_spark.operators import (
        dedup,
        dedup_index,
        timeseries,
    )
    from mysoftware_nocnetintel_spark.sources import delta, iceberg, readers
    from mysoftware_nocnetintel_spark.streaming import ops

    wraps = [
        (timeseries, "with_rolling", "operators.timeseries"),
        (dedup, "spread_narrow", "operators.spread"),
        (dedup_index, "dedup_against_minhash_index", "operators.minhash_gate"),
        (forecast, "rule_based_metrics", "ml.rule_metrics"),
        (delta, "write_delta_append", "sources.delta.append"),
        (iceberg, "write_iceberg_append", "sources.iceberg.append"),
        (delta, "merge_delta_rows", "sources.delta.merge"),
        (iceberg, "merge_iceberg_rows", "sources.iceberg.merge"),
        (readers, "read_delta_snapshot", "sources.snapshot_read"),
        (readers, "read_iceberg_snapshot", "sources.snapshot_read"),
        (ops, "dedup_gate_batch", "streaming.gate"),
    ]
    for module, attr, name in wraps:
        tracer.wrap(module, attr, name)


def phases_ms(df) -> dict[str, float]:
    """Analysis / optimization / planning time (ms) that Spark's
    ``QueryExecution.tracker()`` recorded for ``df``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        opt = phases.get(k)
        out[k] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def drain_listener(spark) -> None:
    """Wait until the status tracker has seen every finished job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def job_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under job group ``group``."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            stage = st.getStageInfo(s)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks
