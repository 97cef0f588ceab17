"""Driver-built frames go through ONE Arrow seam, ``session.local_frame``.

A ``spark.createDataFrame(<python list>, schema)`` frame is a
``parallelize`` over a ``PythonRDD``: every execution runs one Python
worker task per default partition. ``local_frame`` builds the same rows
as an Arrow table, which Spark plans as a ``LocalTableScan``:

- no package module calls ``createDataFrame`` outside ``local_frame``;
- ``local_frame`` yields the list-built frame's schema (names, types,
  nullability) and rows;
- an Iceberg read after a MERGE (the equality-delete file→sequence map)
  scans no ``ExistingRDD``/``PythonRDD``.
"""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import functions as F

import mysoftware_nocnetintel_spark as pkg
from mysoftware_nocnetintel_spark.session import local_frame
from mysoftware_nocnetintel_spark.sources.iceberg import (
    merge_iceberg_rows,
    write_iceberg_append,
)
from mysoftware_nocnetintel_spark.sources.readers import read_iceberg_snapshot


def _create_calls_outside_seam(tree: ast.AST) -> list[int]:
    """Line numbers of ``*.createDataFrame(...)`` calls not lexically
    inside a function named ``local_frame``."""
    bad: list[int] = []

    def walk(node, in_seam):
        for child in ast.iter_child_nodes(node):
            seam = in_seam or (
                isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
                and child.name == "local_frame"
            )
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
                and not seam
            ):
                bad.append(child.lineno)
            walk(child, seam)

    walk(tree, False)
    return bad


def test_no_create_dataframe_outside_local_frame():
    root = os.path.dirname(pkg.__file__)
    offenders = []
    for dirpath, _dirs, names in os.walk(root):
        for n in sorted(names):
            if not n.endswith(".py"):
                continue
            fp = os.path.join(dirpath, n)
            with open(fp, encoding="utf-8") as f:
                tree = ast.parse(f.read(), fp)
            offenders += [
                f"{os.path.relpath(fp, root)}:{ln}"
                for ln in _create_calls_outside_seam(tree)
            ]
    assert offenders == []


def test_seam_walk_flags_a_direct_call():
    src = (
        "def local_frame(spark, rows, schema):\n"
        "    return spark.createDataFrame(rows, schema)\n"
        "def f(spark):\n"
        "    return spark.createDataFrame([], 'a int')\n"
    )
    assert _create_calls_outside_seam(ast.parse(src)) == [4]


_CASES = {
    "bigint": [(1,), (None,), (-(2**62),)],
    "string": [("a",), (None,), ("",)],
    "int": [(7,), (None,), (-(2**31),)],
    "boolean": [(True,), (None,), (False,)],
    "array<double>": [([1.0, 2.5],), (None,), ([],), ([None, 0.0],)],
}


@pytest.mark.parametrize(
    "ddl,rows",
    [(f"c {t}", rows) for t, rows in _CASES.items()]
    + [
        (
            "a bigint, b string, c int, d boolean, e array<double>",
            [(1, "x", 2, True, [0.5]), (None, None, None, None, None)],
        ),
        # the colon form one call site uses
        ("__fp: string, __fseq: long", [("/t/f.parquet", 3)]),
    ]
    + [(f"c {t}", []) for t in _CASES]
    + [("a bigint, b string, c int, d boolean, e array<double>", [])],
)
def test_local_frame_matches_list_built_frame(spark, ddl, rows):
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]


def test_centroid_frame_keeps_inferred_schema(spark):
    """ivf_centroids used to infer (cell, centroid) from the list and cast
    the centroid; its declared DDL must give the same schema."""
    rows = [(0, [1.0, 2.0]), (1, [0.0, -1.5])]
    inferred = spark.createDataFrame(rows, ["cell", "centroid"]).select(
        "cell", F.col("centroid").cast("array<double>").alias("centroid")
    )
    got = local_frame(spark, rows, "cell bigint, centroid array<double>")
    assert got.schema == inferred.schema
    assert got.collect() == inferred.collect()


def test_iceberg_read_after_merge_runs_no_python_rdd(spark, tmp_path):
    path = str(tmp_path / "t")
    mk = lambda rows: spark.createDataFrame(rows, "id bigint, val string")  # noqa: E731
    write_iceberg_append(mk([(1, "a"), (2, "b"), (3, "c")]), path)
    merge_iceberg_rows(spark, path, mk([(2, "B"), (4, "d")]), on=["id"])
    df = read_iceberg_snapshot(spark, path)
    assert {(r.id, r.val) for r in df.collect()} == {
        (1, "a"), (2, "B"), (3, "c"), (4, "d"),
    }
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan
    assert "LocalTableScan" in plan
