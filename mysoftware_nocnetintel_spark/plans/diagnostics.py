"""Physical-plan diagnostics: the `.explain("formatted")` checks from the
plan-gate tests, packaged as a user-facing API.

A 100 TB deployment lives or dies on plan shape — `plan_summary` turns the
formatted explain output into a small dict (exchange count, broadcast vs
sort-merge joins, pushed filters, codegen coverage) so CI can pin plan
properties the same way tests/test_plans.py does, and `assert_plan` gives
pipelines a one-liner guardrail ("this query must never shuffle more than
twice / must broadcast / must push this filter").
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _cached_ids(p: str) -> set[str]:
    """Operator ids of the plans inside cached relations: the tree lines
    indented under an ``InMemoryRelation``. Those operators ran once, when
    the cache was built, not on each execution of the statement."""
    ids: set[str] = set()
    depth = None
    for line in p.split("\n\n", 1)[0].splitlines():
        m = re.search(r"[A-Za-z]", line)
        op = re.search(r"\((\d+)\)\s*$", line)
        if not m or not op:
            continue
        if depth is not None and m.start() > depth:
            ids.add(op.group(1))
        elif line[m.start():].startswith("InMemoryRelation "):
            depth = m.start()
        else:
            depth = None
    return ids


def plan_summary(df: DataFrame) -> dict:
    """Summarize scale-relevant physical-plan properties.

    Keys: ``exchanges`` (the shuffles each execution runs: a cached
    relation's build exchanges ran once and are not counted),
    ``single_partition_exchanges``,
    ``broadcast_joins``, ``sort_merge_joins``, ``nested_loop_joins``,
    ``scans``, ``pushed_filters`` (list), ``top_k`` (TakeOrderedAndProject
    present), ``python_evals`` (Arrow/Python UDF operators — the slow
    path). Whole-stage-codegen span counts are NOT reported: under AQE
    codegen is inserted when stages finalize at runtime, so any
    pre-execution number would be a lie — inspect
    ``explain("codegen")`` on an AQE-disabled session when that matters.
    """
    p = formatted_plan(df)

    def op_ids(name: str) -> set[str]:
        # formatted explain prints each operator once in the tree
        # ("Name (id)") and once in the details ("(id) Name"); count
        # unique operator ids so neither section double-counts
        ids = set(re.findall(rf"\b{name} \((\d+)\)", p))
        ids |= set(re.findall(rf"\((\d+)\) {name}\b", p))
        return ids

    def n_ops(name: str) -> int:
        return len(op_ids(name))

    return {
        "exchanges": len(op_ids("Exchange") - _cached_ids(p)),
        "single_partition_exchanges": p.count("SinglePartition") > 0,
        "broadcast_joins": n_ops("BroadcastHashJoin"),
        "sort_merge_joins": n_ops("SortMergeJoin"),
        "nested_loop_joins": n_ops("BroadcastNestedLoopJoin")
        + n_ops("CartesianProduct"),
        "scans": n_ops("Scan parquet") or p.count("Scan parquet"),
        "pushed_filters": re.findall(r"PushedFilters: \[([^\]]*)\]", p),
        "top_k": "TakeOrderedAndProject" in p,
        # every Python-execution operator kind: scalar UDFs (Arrow/row),
        # mapInPandas, applyInPandas (grouped map / co-grouped map)
        "python_evals": (
            n_ops("ArrowEvalPython")
            + n_ops("BatchEvalPython")
            + n_ops("MapInPandas")
            + n_ops("FlatMapGroupsInPandas")
            + n_ops("FlatMapCoGroupsInPandas")
        ),
    }


def assert_plan(
    df: DataFrame,
    max_exchanges: int | None = None,
    require_broadcast: bool = False,
    forbid_sort_merge: bool = False,
    forbid_single_partition: bool = False,
    forbid_python: bool = False,
    require_pushed_filter: str | None = None,
) -> dict:
    """Raise AssertionError (with the summary) when a plan property the
    caller depends on at scale is violated; returns the summary."""
    s = plan_summary(df)
    if max_exchanges is not None and s["exchanges"] > max_exchanges:
        raise AssertionError(f"plan has {s['exchanges']} exchanges > {max_exchanges}: {s}")
    if require_broadcast and s["broadcast_joins"] == 0:
        raise AssertionError(f"no broadcast join in plan: {s}")
    if forbid_sort_merge and s["sort_merge_joins"]:
        raise AssertionError(f"sort-merge join in plan: {s}")
    if forbid_single_partition and s["single_partition_exchanges"]:
        raise AssertionError(f"single-partition exchange in plan: {s}")
    if forbid_python and s["python_evals"]:
        raise AssertionError(f"Python eval operator in plan: {s}")
    if require_pushed_filter is not None and not any(
        require_pushed_filter in f for f in s["pushed_filters"]
    ):
        raise AssertionError(
            f"filter {require_pushed_filter!r} not pushed to any scan: {s}"
        )
    return s
