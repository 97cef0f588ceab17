"""State shared by the workloads of one benchmark run."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import pyarrow as pa

import datagen

PREP_REPEATS = 3


def now() -> float:
    return time.perf_counter()


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def p90(xs: list[float]) -> float:
    """90th percentile; with fewer than two samples, the one sample."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> list[str] | None:
    """Fields of a /proc stat file after the command name: [0] is the
    state, [1] the parent pid, [11:15] user, system, and waited-for
    children's user and system ticks."""
    try:
        with open(path, encoding="ascii") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None  # exited since it was listed


def _jit_ticks(pid: int) -> int:
    """Ticks spent so far by the JIT compiler threads of JVM ``pid``."""
    ticks = 0
    task_dir = f"/proc/{pid}/task"
    for tid in os.listdir(task_dir):
        try:
            with open(f"{task_dir}/{tid}/comm", encoding="ascii") as f:
                if not f.read().startswith(JIT_THREADS):
                    continue
        except OSError:
            continue
        if fields := _stat(f"{task_dir}/{tid}/stat"):
            ticks += int(fields[11]) + int(fields[12])
    return ticks


def work_cpu_s(jvm_pid: int) -> float:
    """CPU seconds (user + system) this process and every process below it
    (the JVM, Spark's Python workers) have spent so far, less what the
    JVM's JIT compiler threads spent: the work the program does, without
    the compilation that a longer warm-up would have finished. Time the
    hypervisor gave to other guests is in neither."""
    procs = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit() and (fields := _stat(f"/proc/{pid}/stat")):
            procs[int(pid)] = (int(fields[1]),
                               sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    ticks -= _jit_ticks(jvm_pid)
    return ticks / os.sysconf("SC_CLK_TCK")


def corrupt(tbl: pa.Table) -> pa.Table:
    """A deliberately wrong response: drop the first row, or add one row
    to an empty result."""
    if tbl.num_rows:
        return tbl.slice(1)
    return pa.concat_tables([tbl, pa.Table.from_pylist([{}], tbl.schema)])


@dataclass
class Ctx:
    """One run: the session, its scratch directory, and the tallies.

    ``inject_fault`` makes the first checked response wrong on purpose,
    so the self-test can show that a bad answer is counted."""

    spark: object
    seed: int
    seconds: float
    trace: bool
    scratch: str
    nproc: int
    sf: float
    inject_fault: bool = False
    attempted: int = 0
    failed: int = 0
    setup: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    tracer: object = None
    jvm_pid: int = 0
    setup_cpu_s: float = 0.0  # work_cpu_s when the measured window starts

    def work_cpu_s(self) -> float:
        """``work_cpu_s`` of this run's driver, JVM and Python workers."""
        if not self.jvm_pid:
            self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang
                               .ProcessHandle.current().pid())
        return work_cpu_s(self.jvm_pid)

    def ok(self, what: str, good: bool, detail: str = "") -> bool:
        """Count one checked operation; report it on stderr if wrong."""
        self.attempted += 1
        if not good:
            self.failed += 1
            print(f"perfbench: WRONG {what} {detail}", file=sys.stderr)
        return good

    def error(self, what: str, exc: BaseException) -> None:
        """Count one operation that raised."""
        self.attempted += 1
        self.failed += 1
        print(f"perfbench: ERROR {what}:", file=sys.stderr)
        traceback.print_exception(exc, file=sys.stderr)

    def take_fault(self, tbl: pa.Table) -> pa.Table:
        if self.inject_fault:
            self.inject_fault = False
            return corrupt(tbl)
        return tbl


def prep_inputs(ctx: Ctx) -> str:
    """Generate the seeded input tables ``PREP_REPEATS`` times, each into
    a fresh directory, and keep the last; the median time goes into
    set-up, so one slow draw does not decide it."""
    times, sf_dir = [], None
    for i in range(PREP_REPEATS):
        if sf_dir:
            shutil.rmtree(sf_dir)
        sf_dir = os.path.join(ctx.scratch, f"inputs{i}")
        t0 = now()
        datagen.write_tables(datagen.make_tables(ctx.sf, ctx.seed), sf_dir)
        times.append(now() - t0)
    ctx.setup["prep_s"] = p50(times)
    return sf_dir
