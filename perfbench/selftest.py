#!/usr/bin/env python3
"""Self-test of the benchmark (about two minutes on four cores).

    python3 perfbench/selftest.py

Runs every workload once, briefly and traced, in one session, with one
deliberately wrong reply injected. Checks that every metric named in
BENCHMARK.json is emitted with its unit and a finite value, that every
end-to-end value is positive, that every per-layer metric is measured
by some workload, and that the injected reply, and only it, is counted
as failed. Exits 1 if any expectation is broken.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import tempfile

import run
from harness import Ctx, now

SECONDS = 2.0


def check_workload(spark, scratch, spec, workload, seen) -> list[str]:
    ctx = Ctx(
        spark=spark, seed=1, seconds=SECONDS, trace=True, scratch=scratch,
        nproc=run.nproc(), sf=run.WORKLOADS[workload][1], inject_fault=True,
    )
    ctx.setup["start_s"] = 0.0
    e2e, layer = run.execute(ctx, workload)
    seen.update(layer)
    problems = []
    for trace in (False, True):
        ctx.trace = trace
        line = run.result_line(spec, ctx, e2e, layer)
        names = spec["per_layer" if trace else "end_to_end"]
        for m in names:
            got = line["metrics"].get(m["name"])
            if got is None or got["unit"] != m["unit"]:
                problems.append(f"{workload}: {m['name']} missing or unit")
            elif not math.isfinite(got["value"]):
                problems.append(f"{workload}: {m['name']} = {got['value']}")
            elif not trace and got["value"] <= 0:
                problems.append(f"{workload}: {m['name']} not positive")
        if set(line["metrics"]) != {m["name"] for m in names}:
            problems.append(f"{workload}: extra metrics in the result")
    if ctx.failed != 1 or layer["failed_frac"] != 1 / ctx.attempted:
        problems.append(
            f"{workload}: injected fault counted {ctx.failed} times "
            f"in {ctx.attempted}"
        )
    if line["correct"]:
        problems.append(f"{workload}: wrong reply reported as correct")
    return problems


def main() -> int:
    sys.path.insert(0, run.ROOT)
    spec = run.load_spec()
    work_root = os.path.join(run.ROOT, ".perfbench")
    os.makedirs(work_root, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="selftest-", dir=work_root)
    spark = None
    problems = []
    seen: set[str] = set()
    try:
        t0 = now()
        spark = run.start_session(scratch, run.nproc())
        for workload in run.WORKLOADS:
            sub = os.path.join(scratch, workload)
            os.makedirs(sub)
            problems += check_workload(spark, sub, spec, workload, seen)
        problems += [
            f"per-layer metric {m['name']} measured by no workload"
            for m in spec["per_layer"] if m["name"] not in seen
        ]
        print(f"selftest: {len(run.WORKLOADS)} workloads in "
              f"{now() - t0:.0f} s")
    finally:
        try:
            if spark is not None:
                run.stop_session(spark)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
    for p in problems:
        print("selftest FAIL:", p)
    if not problems:
        print("selftest OK")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
