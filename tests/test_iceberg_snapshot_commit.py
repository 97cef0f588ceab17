"""Every Iceberg snapshot is minted by ONE kernel, ``_commit_snapshot``.

- one table through append, position delete, equality delete, merge,
  update, manifest rewrite, ``rewrite_iceberg_table`` and the v3 DV
  convert, and a partitioned table through append and partition drop:
  after every step the read-back rows equal a pyarrow model, the new
  snapshot's parent is the previous head, the sequence number rises by
  exactly one, and every manifest-list row the snapshot added carries
  its snapshot id and sequence number;
- a branch append builds on the branch head and leaves the table head;
- no function in ``sources/`` other than the kernel builds a
  ``"manifest-list"`` record, writes with ``MANIFEST_FILE_SCHEMA`` or
  computes a snapshot id; only ``_stage_data_files`` moves staged Iceberg
  data files; only ``zorder.cluster`` range-partitions a write.
"""

from __future__ import annotations

import ast
import os

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F

import mysoftware_nocnetintel_spark.sources as sources_pkg
from mysoftware_nocnetintel_spark.sources.avro_lite import read_avro_file
from mysoftware_nocnetintel_spark.sources.iceberg import (
    _load_meta,
    drop_iceberg_partition,
    iceberg_snapshots,
    merge_iceberg_rows,
    rewrite_iceberg_manifests,
    rewrite_iceberg_table,
    update_iceberg_rows,
    write_iceberg_append,
    write_iceberg_equality_deletes,
    write_iceberg_position_deletes,
)
from mysoftware_nocnetintel_spark.sources.puffin import (
    convert_iceberg_position_deletes_to_dvs,
)
from mysoftware_nocnetintel_spark.sources.readers import read_iceberg_snapshot

_SCHEMA = pa.schema(
    [("id", pa.int64()), ("k", pa.int32()), ("v", pa.string())]
)


def _table(rows) -> pa.Table:
    return pa.Table.from_pylist(
        [{"id": i, "k": k, "v": v} for i, k, v in rows], schema=_SCHEMA
    )


def _frame(spark, model: pa.Table):
    return spark.createDataFrame(
        [tuple(r.values()) for r in model.to_pylist()],
        "id bigint, k int, v string",
    )


def _meta(path: str) -> dict:
    meta, _ver = _load_meta(os.path.join(path, "metadata"), allow_v3=True)
    return meta


def _list_rows(meta: dict) -> list[dict]:
    snap = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    return read_avro_file(snap["manifest-list"])[1]


def _rows(spark, path: str) -> list[dict]:
    return sorted(
        read_iceberg_snapshot(spark, path).select("id", "k", "v").toArrow()
        .to_pylist(),
        key=lambda r: r["id"],
    )


def _step(spark, path: str, verb, model: pa.Table) -> None:
    """Run ``verb`` and check the snapshot it minted against the head
    before it and the rows against ``model``."""
    before = _meta(path)
    verb()
    after = _meta(path)
    snap = after["snapshots"][-1]
    assert after["current-snapshot-id"] == snap["snapshot-id"]
    assert snap.get("parent-snapshot-id") == before["current-snapshot-id"]
    seq = before["last-sequence-number"] + 1
    assert snap["sequence-number"] == seq == after["last-sequence-number"]
    prior = {r["manifest_path"] for r in _list_rows(before)}
    added = [r for r in _list_rows(after) if r["manifest_path"] not in prior]
    assert added
    for r in added:
        assert r["added_snapshot_id"] == snap["snapshot-id"]
        assert r["sequence_number"] == seq
    assert _rows(spark, path) == sorted(
        model.to_pylist(), key=lambda r: r["id"]
    )


def test_every_verb_links_its_parent_and_bumps_seq_once(spark, tmp_path):
    path = str(tmp_path / "t")
    model = _table([(i, i % 3, f"v{i}") for i in range(12)])
    write_iceberg_append(_frame(spark, model), path)
    assert _rows(spark, path) == model.to_pylist()
    assert "parent-snapshot-id" not in _meta(path)["snapshots"][0]

    more = _table([(i, i % 3, f"v{i}") for i in range(12, 16)])
    model = pa.concat_tables([model, more])
    _step(
        spark, path,
        lambda: write_iceberg_append(_frame(spark, more), path), model,
    )

    model = model.filter(pc.greater_equal(model["id"], 2))
    _step(
        spark, path,
        lambda: write_iceberg_position_deletes(spark, path, F.col("id") < 2),
        model,
    )

    model = model.filter(pc.invert(pc.is_in(model["id"], pa.array([5, 6]))))
    _step(
        spark, path,
        lambda: write_iceberg_equality_deletes(
            spark, path, spark.createDataFrame([(5,), (6,)], "id bigint")
        ),
        model,
    )

    src = _table([(7, 0, "m7"), (20, 2, "m20")])
    model = pa.concat_tables(
        [model.filter(pc.invert(pc.is_in(model["id"], src["id"]))), src]
    )
    _step(
        spark, path,
        lambda: merge_iceberg_rows(spark, path, _frame(spark, src), on=["id"]),
        model,
    )

    hit = pc.less(model["k"], 1)
    model = model.set_column(
        2, "v", pc.if_else(hit, pc.binary_join_element_wise(
            model["v"], pa.scalar("!"), ""), model["v"])
    )
    _step(
        spark, path,
        lambda: update_iceberg_rows(
            spark, path, "k < 1", {"v": "concat(v, '!')"}
        ),
        model,
    )

    _step(
        spark, path,
        lambda: rewrite_iceberg_manifests(path, min_manifests=2),
        model,
    )
    # the compaction rewrote every file but must still name its base
    _step(spark, path, lambda: rewrite_iceberg_table(spark, path), model)

    model = model.filter(pc.not_equal(model["id"], 9))
    _step(
        spark, path,
        lambda: write_iceberg_position_deletes(spark, path, F.col("id") == 9),
        model,
    )
    _step(
        spark, path,
        lambda: convert_iceberg_position_deletes_to_dvs(path),
        model,
    )
    assert _meta(path)["format-version"] == 3

    parents = [
        r.parent_snapshot_id
        for r in iceberg_snapshots(spark, path).orderBy("sequence_number")
        .collect()
    ]
    assert parents[0] is None and None not in parents[1:]


def test_partitioned_append_and_drop(spark, tmp_path):
    path = str(tmp_path / "p")
    model = _table([(i, i % 3, f"v{i}") for i in range(9)])
    write_iceberg_append(_frame(spark, model), path, partition_by=("k",))
    more = _table([(i, i % 3, f"v{i}") for i in range(9, 12)])
    model = pa.concat_tables([model, more])
    _step(
        spark, path,
        lambda: write_iceberg_append(_frame(spark, more), path), model,
    )
    model = model.filter(pc.not_equal(model["k"], 1))
    _step(
        spark, path,
        lambda: drop_iceberg_partition(path, {"k": 1}),
        model,
    )


def test_branch_append_builds_on_the_branch_head(spark, tmp_path):
    path = str(tmp_path / "b")
    write_iceberg_append(_frame(spark, _table([(1, 0, "a")])), path)
    head = _meta(path)["current-snapshot-id"]
    first = write_iceberg_append(
        _frame(spark, _table([(2, 0, "b")])), path, branch="audit"
    )
    second = write_iceberg_append(
        _frame(spark, _table([(3, 0, "c")])), path, branch="audit"
    )
    meta = _meta(path)
    by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
    assert by_id[first]["parent-snapshot-id"] == head
    assert by_id[second]["parent-snapshot-id"] == first
    assert meta["current-snapshot-id"] == head
    assert meta["refs"]["audit"]["snapshot-id"] == second
    assert {r["id"] for r in _rows(spark, path)} == {1}


# ---------------------------------------------------------------- one path


def _kernel_only_violations(tree: ast.AST) -> list[tuple[str, str]]:
    """``(top-level function, what)`` for every snapshot-minting or
    staging construct outside the function allowed to own it."""
    owners = {
        "manifest-list record": "_commit_snapshot",
        "MANIFEST_FILE_SCHEMA write": "_commit_snapshot",
        "snapshot id": "_commit_snapshot",
        "staged-file move": "_stage_data_files",
        "range clustering": "cluster",
    }
    bad = []
    for fn in tree.body:
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for node in ast.walk(fn):
            found = None
            if isinstance(node, ast.Dict) and any(
                isinstance(k, ast.Constant) and k.value == "manifest-list"
                for k in node.keys
            ):
                found = "manifest-list record"
            elif isinstance(node, ast.Call) and any(
                isinstance(a, ast.Name) and a.id == "MANIFEST_FILE_SCHEMA"
                for a in node.args
            ):
                found = "MANIFEST_FILE_SCHEMA write"
            elif (
                isinstance(node, ast.BinOp)
                and isinstance(node.op, ast.Mult)
                and isinstance(node.right, ast.Constant)
                and node.right.value == 1000
                and isinstance(node.left, ast.Name)
                and node.left.id == "now_ms"
            ):
                found = "snapshot id"
            elif isinstance(node, ast.Call) and isinstance(
                node.func, ast.Attribute
            ):
                if node.func.attr == "repartitionByRange":
                    found = "range clustering"
                elif (
                    node.func.attr == "move"
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "shutil"
                ):
                    found = "staged-file move"
            if found and fn.name != owners[found]:
                bad.append((fn.name, found))
    return bad


def test_one_snapshot_path_in_sources():
    sources_dir = os.path.dirname(sources_pkg.__file__)
    bad = []
    for name in sorted(os.listdir(sources_dir)):
        if not name.endswith(".py"):
            continue
        with open(os.path.join(sources_dir, name)) as f:
            tree = ast.parse(f.read())
        for fn, what in _kernel_only_violations(tree):
            # Delta commits its own log; only Iceberg data files are
            # staged through _stage_data_files
            if what == "staged-file move" and name == "delta.py":
                continue
            bad.append((name, fn, what))
    assert bad == []


def test_the_walk_flags_a_hand_built_snapshot():
    tree = ast.parse(
        "def rogue(meta_dir, rows, now_ms, ver, df):\n"
        "    snap_id = now_ms * 1000 + (ver + 1)\n"
        "    write_avro_file(mlist, MANIFEST_FILE_SCHEMA, rows)\n"
        "    snap = {'snapshot-id': snap_id, 'manifest-list': mlist}\n"
        "    shutil.move(staged, dest)\n"
        "    return df.repartitionByRange(8, 'x')\n"
    )
    assert sorted(w for _fn, w in _kernel_only_violations(tree)) == [
        "MANIFEST_FILE_SCHEMA write",
        "manifest-list record",
        "range clustering",
        "snapshot id",
        "staged-file move",
    ]
