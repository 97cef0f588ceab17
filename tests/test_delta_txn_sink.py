"""Delta Transaction Identifiers (PROTOCOL.md "Transaction Identifiers")
— the idempotent-append handshake an exactly-once streaming sink needs.

write_delta_append(txn=(app_id, version)) must: skip a batch whose txn
already committed (at-least-once replay → exactly-once table), commit
the txn action ATOMICALLY with its adds, keep independent app_ids
independent, and leave the reader untouched (txn lines are ignored by
log replay)."""

from __future__ import annotations

import json
import os
from glob import glob

from mysoftware_nocnetintel_spark.sources.delta import (
    latest_txn_version,
    write_delta_append,
)
from mysoftware_nocnetintel_spark.sources.readers import read_delta_snapshot


def _ids(spark, path):
    return sorted(r.id for r in read_delta_snapshot(spark, path).collect())


def _batch(spark, *ids):
    return spark.createDataFrame([(i,) for i in ids], "id bigint").coalesce(1)


def test_replayed_batch_is_skipped(spark, tmp_path):
    root = str(tmp_path / "txn1")
    v0 = write_delta_append(_batch(spark, 1, 2), root, txn=("appA", 0))
    v1 = write_delta_append(_batch(spark, 3), root, txn=("appA", 1))
    assert (v0, v1) == (0, 1)
    # at-least-once replay of batch 1: must skip, return current version
    v_again = write_delta_append(_batch(spark, 3), root, txn=("appA", 1))
    assert v_again == 1
    assert _ids(spark, root) == [1, 2, 3]
    # an OLDER batch id replayed late is also skipped
    assert write_delta_append(_batch(spark, 99), root, txn=("appA", 0)) == 1
    assert _ids(spark, root) == [1, 2, 3]
    assert latest_txn_version(root, "appA") == 1


def test_txn_commits_atomically_with_adds(spark, tmp_path):
    root = str(tmp_path / "txn2")
    write_delta_append(_batch(spark, 1), root, txn=("appA", 7))
    (commit,) = glob(os.path.join(root, "_delta_log", "*.json"))
    acts = [json.loads(l) for l in open(commit) if l.strip()]
    txns = [a["txn"] for a in acts if "txn" in a]
    assert txns == [txns[0]]
    assert txns[0]["appId"] == "appA" and txns[0]["version"] == 7
    assert any("add" in a for a in acts)  # same version file as the adds


def test_app_ids_are_independent(spark, tmp_path):
    root = str(tmp_path / "txn3")
    write_delta_append(_batch(spark, 1), root, txn=("appA", 5))
    # a DIFFERENT app at a lower version must NOT be skipped
    write_delta_append(_batch(spark, 2), root, txn=("appB", 0))
    assert _ids(spark, root) == [1, 2]
    assert latest_txn_version(root, "appA") == 5
    assert latest_txn_version(root, "appB") == 0
    assert latest_txn_version(root, "appC") is None
    # txn-less appends still work alongside
    write_delta_append(_batch(spark, 3), root)
    assert _ids(spark, root) == [1, 2, 3]


def test_streaming_sink_exactly_once_under_batch_replay(spark, tmp_path):
    """End-to-end: run the availableNow stream, then simulate the
    at-least-once failure mode by re-invoking the foreachBatch body with
    an already-committed batch_id — the table must not change."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mysoftware_nocnetintel_spark.streaming.ops import (
        delta_stream_append,
    )

    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table({"id": pa.array([1, 2, 3], pa.int64())}),
        str(src / "a.parquet"),
    )
    root = str(tmp_path / "sink")
    stream = spark.readStream.schema("id bigint").parquet(str(src))
    q = delta_stream_append(
        stream, root, str(tmp_path / "ckpt"), app_id="sinkA"
    )
    q.awaitTermination(120)
    assert _ids(spark, root) == [1, 2, 3]
    committed = latest_txn_version(root, "sinkA")
    assert committed is not None
    # simulated engine replay of the last batch (crash between sink
    # commit and checkpoint write)
    write_delta_append(
        _batch(spark, 1, 2, 3), root, txn=("sinkA", committed)
    )
    assert _ids(spark, root) == [1, 2, 3]


def test_stream_append_clustered_stats(spark, tmp_path):
    """sort_by on the streaming sink: every micro-batch commit's adds
    carry prunable stats, so scan_filter works on streamed tables."""
    import json as _json
    import os
    from glob import glob

    from mysoftware_nocnetintel_spark.sources.readers import (
        read_delta_snapshot,
    )
    from mysoftware_nocnetintel_spark.streaming.ops import (
        delta_stream_append,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        [(i, float(i)) for i in range(200)], "event_id bigint, value double"
    ).coalesce(1).write.parquet(src, mode="overwrite")
    stream = spark.readStream.schema("event_id bigint, value double").parquet(
        src
    )
    root = str(tmp_path / "sink")
    q = delta_stream_append(
        stream,
        root,
        str(tmp_path / "cp"),
        "appZ",
        sort_by=("event_id",),
    )
    q.awaitTermination(120)
    adds = []
    for c in sorted(glob(os.path.join(root, "_delta_log", "[0-9]*.json"))):
        with open(c) as fh:
            for line in fh:
                act = _json.loads(line)
                if "add" in act:
                    adds.append(act["add"])
    assert adds and all(a.get("stats") for a in adds)
    got = {
        r.event_id
        for r in read_delta_snapshot(
            spark, root, scan_filter=("event_id", ">=", 150)
        ).collect()
    }
    assert got == set(range(150, 200))
