"""Delta V2 (UUID-named) checkpoint replay (PROTOCOL.md "V2 Checkpoints").

Fixtures are hand-authored to the public spec shape: a top-level
``<v>.checkpoint.<uuid>.{json|parquet}`` carrying inline add actions
and/or ``sidecar`` references into ``_delta_log/_sidecars/``, a
reader-version-3 protocol with the ``v2Checkpoint`` feature, and a JSON
commit tail on top. The table-features gate is covered both ways:
``v2Checkpoint`` alone is readable; any extra reader feature refuses.
"""

from __future__ import annotations

import json
import os
import uuid

import pytest

from mysoftware_nocnetintel_spark.sources.readers import read_delta_snapshot


def _data_files(spark, root):
    os.makedirs(os.path.join(root, "_delta_log", "_sidecars"), exist_ok=True)
    for name, rows in [
        ("part-0000.parquet", [(1, "a"), (2, "b")]),
        ("part-0001.parquet", [(3, "c")]),
        ("part-0002.parquet", [(30, "z")]),
    ]:
        spark.createDataFrame(rows, "id bigint, val string").coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(root, "__tmp"))
        import glob as g
        import shutil

        src = g.glob(os.path.join(root, "__tmp", "*.parquet"))[0]
        shutil.move(src, os.path.join(root, name))
    import shutil

    shutil.rmtree(os.path.join(root, "__tmp"))


_PROTO_V2 = {
    "minReaderVersion": 3,
    "minWriterVersion": 7,
    "readerFeatures": ["v2Checkpoint"],
    "writerFeatures": ["v2Checkpoint"],
}


def _write_sidecar(log_dir: str, name: str, adds: list[str]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    add_t = pa.struct(
        [("path", pa.string()), ("partitionValues", pa.map_(pa.string(), pa.string()))]
    )
    pq.write_table(
        pa.table(
            {"add": pa.array([{"path": p, "partitionValues": []} for p in adds], add_t)}
        ),
        os.path.join(log_dir, "_sidecars", name),
    )


def _last_checkpoint(log_dir: str, version: int) -> None:
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        fh.write(json.dumps({"version": version, "size": 1}))


def _rows(spark, root, **kw):
    return {(r.id, r.val) for r in read_delta_snapshot(spark, root, **kw).collect()}


def test_v2_json_checkpoint_inline_adds(spark, tmp_path):
    root = str(tmp_path / "v2json")
    _data_files(spark, root)
    log_dir = os.path.join(root, "_delta_log")
    top = os.path.join(
        log_dir, f"{1:020d}.checkpoint.{uuid.uuid4().hex}.json"
    )
    with open(top, "w") as fh:
        fh.write(json.dumps({"checkpointMetadata": {"version": 1}}) + "\n")
        fh.write(json.dumps({"protocol": _PROTO_V2}) + "\n")
        fh.write(json.dumps({"add": {"path": "part-0000.parquet"}}) + "\n")
        fh.write(json.dumps({"add": {"path": "part-0002.parquet"}}) + "\n")
    _last_checkpoint(log_dir, 1)
    # tail commit v2: swap part-0000 for part-0001
    with open(os.path.join(log_dir, f"{2:020d}.json"), "w") as fh:
        fh.write(json.dumps({"remove": {"path": "part-0000.parquet", "dataChange": True}}) + "\n")
        fh.write(json.dumps({"add": {"path": "part-0001.parquet", "dataChange": True}}) + "\n")
    assert _rows(spark, root) == {(3, "c"), (30, "z")}
    assert _rows(spark, root, version=1) == {(1, "a"), (2, "b"), (30, "z")}


def test_v2_parquet_checkpoint_with_sidecars(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "v2pq")
    _data_files(spark, root)
    log_dir = os.path.join(root, "_delta_log")
    _write_sidecar(log_dir, "sc-1.parquet", ["part-0000.parquet"])
    _write_sidecar(log_dir, "sc-2.parquet", ["part-0001.parquet"])
    sidecar_t = pa.struct([("path", pa.string()), ("sizeInBytes", pa.int64())])
    proto_t = pa.struct(
        [
            ("minReaderVersion", pa.int32()),
            ("readerFeatures", pa.list_(pa.string())),
        ]
    )
    table = pa.table(
        {
            "sidecar": pa.array(
                [{"path": "sc-1.parquet", "sizeInBytes": 1},
                 {"path": "sc-2.parquet", "sizeInBytes": 1}, None],
                sidecar_t,
            ),
            "protocol": pa.array(
                [None, None,
                 {"minReaderVersion": 3, "readerFeatures": ["v2Checkpoint"]}],
                proto_t,
            ),
        }
    )
    pq.write_table(
        table,
        os.path.join(log_dir, f"{1:020d}.checkpoint.{uuid.uuid4().hex}.parquet"),
    )
    _last_checkpoint(log_dir, 1)
    assert _rows(spark, root) == {(1, "a"), (2, "b"), (3, "c")}
    # tail replay on top of the sidecar-seeded state
    with open(os.path.join(log_dir, f"{2:020d}.json"), "w") as fh:
        fh.write(json.dumps({"remove": {"path": "part-0001.parquet", "dataChange": True}}) + "\n")
        fh.write(json.dumps({"add": {"path": "part-0002.parquet", "dataChange": True}}) + "\n")
    assert _rows(spark, root) == {(1, "a"), (2, "b"), (30, "z")}


def test_v2_missing_sidecar_refuses(spark, tmp_path):
    root = str(tmp_path / "v2miss")
    _data_files(spark, root)
    log_dir = os.path.join(root, "_delta_log")
    top = os.path.join(log_dir, f"{1:020d}.checkpoint.{uuid.uuid4().hex}.json")
    with open(top, "w") as fh:
        fh.write(json.dumps({"sidecar": {"path": "nope.parquet", "sizeInBytes": 1}}) + "\n")
    _last_checkpoint(log_dir, 1)
    with pytest.raises(NotImplementedError, match="sidecar missing"):
        read_delta_snapshot(spark, root)


def test_reader_features_gate(spark, tmp_path):
    # implemented features (v2Checkpoint, columnMapping, deletionVectors)
    # are readable; an extra unknown feature refuses
    for feats, ok in [
        (["v2Checkpoint"], True),
        (["v2Checkpoint", "deletionVectors"], True),
        (["columnMapping"], True),
        (["timestampNtz"], False),
    ]:
        root = str(tmp_path / f"gate-{'-'.join(feats)}")
        _data_files(spark, root)
        log_dir = os.path.join(root, "_delta_log")
        with open(os.path.join(log_dir, f"{0:020d}.json"), "w") as fh:
            fh.write(json.dumps({"protocol": {"minReaderVersion": 3, "readerFeatures": feats}}) + "\n")
            fh.write(json.dumps({"add": {"path": "part-0000.parquet", "dataChange": True}}) + "\n")
        if ok:
            assert _rows(spark, root) == {(1, "a"), (2, "b")}
        else:
            with pytest.raises(NotImplementedError, match="reader features"):
                read_delta_snapshot(spark, root)
    # minReaderVersion 3 WITHOUT a readerFeatures list is malformed —
    # both the key-absent and the null-valued shapes (a parquet checkpoint
    # protocol struct can carry an explicit null)
    for tag, proto in [
        ("absent", {"minReaderVersion": 3}),
        ("null", {"minReaderVersion": 3, "readerFeatures": None}),
    ]:
        root = str(tmp_path / f"gate-malformed-{tag}")
        _data_files(spark, root)
        with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as fh:
            fh.write(json.dumps({"protocol": proto}) + "\n")
        with pytest.raises(NotImplementedError, match="minReaderVersion"):
            read_delta_snapshot(spark, root)
