"""Tests for multimodal plumbing and source/sink round-trips."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mysoftware_nocnetintel_spark.operators import multimodal as MM
from mysoftware_nocnetintel_spark.sources import load_table
from mysoftware_nocnetintel_spark.sources.readers import parse_log_lines, jdbc_reader, read_csv
from mysoftware_nocnetintel_spark.sources.sinks import write_events_by_day


def test_media_attach_schema_and_determinism(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    m = MM.attach_fake_media(docs)
    assert dict(m.dtypes)["media"] == "binary"
    meta_fields = {f.name for f in m.schema["media_meta"].dataType.fields}
    assert meta_fields == {"format", "width", "height", "n_frames"}
    a = sorted((r.doc_id, bytes(r.media)) for r in m.select("doc_id", "media").collect())
    b = sorted((r.doc_id, bytes(r.media)) for r in m.select("doc_id", "media").collect())
    assert a == b


def test_feature_extraction_batch_shapes(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    m = MM.attach_fake_media(docs)
    out = MM.extract_features(m)
    rows = out.select("doc_id", "features", "decoded").collect()
    assert len(rows) == 50
    for r in rows:
        assert len(r.features) == 16
        assert abs(sum(r.features) - 1.0) < 1e-9  # normalized histogram
        assert r.decoded is False  # fake payloads have no codec → stub path
    assert "media" not in out.columns  # bytes dropped after extraction


def test_png_roundtrip_and_filters():
    """png_decode is a REAL pixel decoder: encode→decode round-trips, and
    every PNG row-filter type (Sub/Up/Average/Paeth) reconstructs exactly —
    filtered scanlines are crafted per the spec's forward transform."""
    import struct
    import zlib

    import numpy as np

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(11, 13, 3), dtype=np.uint8)
    assert np.array_equal(MM.png_decode(MM.png_encode(img)), img)

    # craft an image whose scanlines use filters 1-4 (forward-filtered here,
    # decoder must invert them)
    h, w, ch = img.shape
    stride = w * ch
    flat = img.reshape(h, stride).astype(np.int32)
    raw = bytearray()
    for y in range(h):
        ftype = (y % 4) + 1
        row = flat[y]
        prev = flat[y - 1] if y > 0 else np.zeros(stride, dtype=np.int32)
        filt = np.zeros(stride, dtype=np.int32)
        for x in range(stride):
            a = row[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            filt[x] = (row[x] - pred) & 0xFF
        raw += bytes([ftype]) + bytes(filt.astype(np.uint8))

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(MM.png_decode(data), img)


def test_real_decode_path_over_spark(spark, sf_dir):
    """attach_png_media rows carry genuine PNGs; extract_features must take
    the REAL decode path (decoded=True) and produce luminance histograms."""
    docs = load_table(spark, sf_dir, "documents").limit(20)
    out = MM.extract_features(MM.attach_png_media(docs))
    rows = out.select("doc_id", "features", "decoded").collect()
    assert len(rows) == 20
    for r in rows:
        assert r.decoded is True
        assert len(r.features) == 16
        assert abs(sum(r.features) - 1.0) < 1e-9
    # determinism: same text → same features
    again = MM.extract_features(MM.attach_png_media(docs)).collect()
    assert sorted((r.doc_id, tuple(r.features)) for r in rows) == sorted(
        (r.doc_id, tuple(r.features)) for r in again
    )


def test_resize_and_frame_sampling(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    m = MM.resize_meta(MM.attach_fake_media(docs), max_dim=256)
    bad = m.filter(
        (F.col("media_meta.width") > 256) | (F.col("media_meta.height") > 256)
    ).count()
    assert bad == 0
    frames = MM.sample_frames(m, every_n=24)
    assert frames.count() >= m.count()  # ≥1 frame per media row
    assert frames.filter(F.col("frame_idx") % 24 != 0).count() == 0


def test_write_events_by_day_partition_pruning(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_by_day")
    write_events_by_day(ev, out)
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    # partition pruning visible in the plan for a date predicate
    plan = back.filter(
        F.col("event_date") == "2024-01-05"
    )._jdf.queryExecution().executedPlan().toString()
    one_day = back.filter(F.col("event_date") == "2024-01-05").count()
    want = ev.filter(F.to_date("ts") == "2024-01-05").count()
    assert one_day == want


def test_csv_roundtrip_and_log_parse(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").limit(100)
    p = str(tmp_path / "csv")
    ev.select("event_id", "user_id", "event_type").write.option("header", "true").csv(p)
    back = read_csv(spark, p)
    assert back.count() == 100
    raw = spark.createDataFrame(
        [("2024-01-01 ERROR site=BGH-29 code=7",)], ["value"]
    )
    parsed = parse_log_lines(
        raw, r"^(\S+) (\S+) site=(\S+) code=(\d+)$", ["date", "level", "site", "code"]
    ).collect()[0]
    assert parsed.site == "BGH-29" and parsed.code == "7"


def test_jdbc_reader_requires_bounds(spark):
    import pytest

    with pytest.raises(ValueError):
        jdbc_reader(spark, "jdbc:postgresql://h/db", "t", partition_column="id")
    r = jdbc_reader(
        spark, "jdbc:postgresql://h/db", "t",
        partition_column="id", lower_bound=0, upper_bound=1000,
    )
    assert r is not None  # configured reader; no DB to load from here


def test_table_format_reader_gate(spark, tmp_path):
    """Delta/Iceberg readers fail fast with the --packages coordinates when
    the connector jar is absent and no log exists to fall back on (rather
    than a mid-job ClassNotFound)."""
    import pytest

    from mysoftware_nocnetintel_spark.sources.readers import read_table_format

    for fmt in ("delta", "iceberg"):
        with pytest.raises(RuntimeError, match="--packages"):
            read_table_format(spark, str(tmp_path / "t"), fmt=fmt)
    with pytest.raises(ValueError, match="delta|iceberg"):
        read_table_format(spark, str(tmp_path / "t"), fmt="hudi")


def _write_delta_fixture(spark, root):
    """Hand-author a protocol-v1 Delta table (parquet parts + JSON commits):
    v0 appends two files, v1 overwrites one of them — so latest-vs-v0 reads
    exercise add/remove replay and time travel."""
    import json
    import os

    os.makedirs(os.path.join(root, "_delta_log"))

    def write_part(name, rows):
        spark.createDataFrame(rows, "id bigint, val string").coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(root, "__stage"))
        import glob
        import shutil

        src = glob.glob(os.path.join(root, "__stage", "*.parquet"))[0]
        shutil.move(src, os.path.join(root, name))
        shutil.rmtree(os.path.join(root, "__stage"))

    write_part("part-0000.parquet", [(1, "a"), (2, "b")])
    write_part("part-0001.parquet", [(3, "c")])
    write_part("part-0002.parquet", [(30, "z")])

    def commit(version, actions):
        p = os.path.join(root, "_delta_log", f"{version:020d}.json")
        with open(p, "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")

    commit(0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "fixture", "format": {"provider": "parquet"}}},
        {"add": {"path": "part-0000.parquet", "size": 1, "dataChange": True}},
        {"add": {"path": "part-0001.parquet", "size": 1, "dataChange": True}},
    ])
    commit(1, [
        {"remove": {"path": "part-0001.parquet", "dataChange": True}},
        {"add": {"path": "part-0002.parquet", "size": 1, "dataChange": True}},
    ])


def test_delta_log_replay_and_time_travel(spark, tmp_path):
    """The minimal Delta reader must replay add/remove actions (latest
    snapshot drops the overwritten file) and honor versionAsOf=0."""
    from mysoftware_nocnetintel_spark.sources.readers import (
        read_delta_snapshot,
        read_table_format,
    )

    root = str(tmp_path / "dtable")
    _write_delta_fixture(spark, root)

    latest = {(r.id, r.val) for r in read_delta_snapshot(spark, root).collect()}
    assert latest == {(1, "a"), (2, "b"), (30, "z")}
    v0 = {(r.id, r.val) for r in read_delta_snapshot(spark, root, version=0).collect()}
    assert v0 == {(1, "a"), (2, "b"), (3, "c")}
    # the public entry point falls back to log replay when the connector is
    # missing — including the versionAsOf option
    via_gate = {(r.id, r.val) for r in read_table_format(spark, root, fmt="delta", version=0).collect()}
    assert via_gate == v0


def _write_checkpoint(log_dir, version, adds, parts=None):
    """Hand-author a classic Delta parquet checkpoint (+_last_checkpoint):
    one add-struct row per live file, one protocol row."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    add_t = pa.struct(
        [("path", pa.string()), ("partitionValues", pa.map_(pa.string(), pa.string()))]
    )
    proto_t = pa.struct([("minReaderVersion", pa.int32())])
    rows_add = [{"path": p, "partitionValues": list(pv.items())} for p, pv in adds] + [None]
    rows_proto = [None] * len(adds) + [{"minReaderVersion": 1}]
    table = pa.table(
        {
            "add": pa.array(rows_add, type=add_t),
            "protocol": pa.array(rows_proto, type=proto_t),
        }
    )
    n = len(rows_add)
    if parts:
        per = (n + parts - 1) // parts
        for i in range(parts):
            pq.write_table(
                table.slice(i * per, per),
                os.path.join(
                    log_dir,
                    f"{version:020d}.checkpoint.{i + 1:010d}.{parts:010d}.parquet",
                ),
            )
    else:
        pq.write_table(
            table, os.path.join(log_dir, f"{version:020d}.checkpoint.parquet")
        )
    meta = {"version": version, "size": n}
    if parts:
        meta["parts"] = parts
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        fh.write(json.dumps(meta))


@pytest.mark.parametrize("parts", [None, 2], ids=["single", "multipart"])
def test_delta_checkpoint_replay(spark, tmp_path, parts):
    """A checkpointed log (checkpoint seed + JSON tail) must round-trip:
    the live set is checkpoint adds minus tail removes plus tail adds, and
    time travel below the checkpoint uses the JSON prefix when present,
    fails fast when vacuumed."""
    import json
    import os

    from mysoftware_nocnetintel_spark.sources.readers import read_delta_snapshot

    root = str(tmp_path / "cptable")
    _write_delta_fixture(spark, root)  # commits 0,1 and three parquet parts
    log_dir = os.path.join(root, "_delta_log")
    # checkpoint at v1 state: part-0000 + part-0002 live
    _write_checkpoint(
        log_dir, 1, [("part-0000.parquet", {}), ("part-0002.parquet", {})], parts=parts
    )
    # tail commit v2: replace part-0000 with part-0001 (re-adding it)
    with open(os.path.join(log_dir, f"{2:020d}.json"), "w") as fh:
        fh.write(json.dumps({"remove": {"path": "part-0000.parquet", "dataChange": True}}) + "\n")
        fh.write(json.dumps({"add": {"path": "part-0001.parquet", "size": 1, "dataChange": True}}) + "\n")

    latest = {(r.id, r.val) for r in read_delta_snapshot(spark, root).collect()}
    assert latest == {(3, "c"), (30, "z")}
    # at the checkpoint version exactly (no tail)
    v1 = {(r.id, r.val) for r in read_delta_snapshot(spark, root, version=1).collect()}
    assert v1 == {(1, "a"), (2, "b"), (30, "z")}
    # below the checkpoint: JSON prefix present → replay works
    v0 = {(r.id, r.val) for r in read_delta_snapshot(spark, root, version=0).collect()}
    assert v0 == {(1, "a"), (2, "b"), (3, "c")}
    # below the checkpoint with the prefix vacuumed → refuse
    os.remove(os.path.join(log_dir, f"{0:020d}.json"))
    with pytest.raises(NotImplementedError, match="below the last checkpoint"):
        read_delta_snapshot(spark, root, version=0)


def test_delta_reader_refuses_advanced_protocol(spark, tmp_path):
    import json
    import os

    import pytest

    from mysoftware_nocnetintel_spark.sources.readers import read_delta_snapshot

    root = str(tmp_path / "dvtable")
    os.makedirs(os.path.join(root, "_delta_log"))
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {"minReaderVersion": 3}}) + "\n")
    with pytest.raises(NotImplementedError, match="minReaderVersion"):
        read_delta_snapshot(spark, root)
    # checkpointed logs are likewise out of scope for the minimal reader
    root2 = str(tmp_path / "cktable")
    os.makedirs(os.path.join(root2, "_delta_log"))
    open(os.path.join(root2, "_delta_log", f"{0:020d}.json"), "w").write(
        json.dumps({"add": {"path": "x.parquet"}}) + "\n"
    )
    open(os.path.join(root2, "_delta_log", "_last_checkpoint"), "w").write("{}")
    with pytest.raises(NotImplementedError, match="checkpoint"):
        read_delta_snapshot(spark, root2)


def test_compact_partitions_reduces_files(spark, sf_dir, tmp_path):
    """Small-files compaction must reduce per-partition file counts without
    changing the data (row counts and value sums preserved)."""
    import os
    from glob import glob

    from mysoftware_nocnetintel_spark.sources.sinks import compact_partitions

    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "frag")
    # fragment: 8 files per day partition
    ev.withColumn("day", F.to_date("ts")).repartition(8).write.partitionBy(
        "day"
    ).parquet(out)
    before = spark.read.parquet(out)
    n_before, sum_before = before.count(), before.agg(F.sum("value")).collect()[0][0]
    day_dirs = glob(os.path.join(out, "day=*"))
    assert all(len(glob(os.path.join(d, "*.parquet"))) > 1 for d in day_dirs)

    report = compact_partitions(spark, out, target_mb=128)
    assert report and all(a >= b for a, b in report.values())
    for d in day_dirs:
        assert len(glob(os.path.join(d, "*.parquet"))) == 1  # KB-scale → 1 file
    after = spark.read.parquet(out)
    assert after.count() == n_before
    assert abs(after.agg(F.sum("value")).collect()[0][0] - sum_before) < 1e-6


def test_compact_partitions_crash_artifacts(spark, sf_dir, tmp_path):
    """Leftover tmp/old dirs from a crashed run must be repaired, never
    treated as real partitions (their names match the `day=*` glob)."""
    import os
    import shutil
    from glob import glob

    from mysoftware_nocnetintel_spark.sources.sinks import compact_partitions

    ev = load_table(spark, sf_dir, "events").limit(200)
    out = str(tmp_path / "frag")
    ev.withColumn("day", F.to_date("ts")).repartition(4).write.partitionBy(
        "day"
    ).parquet(out)
    day_dirs = sorted(glob(os.path.join(out, "day=*")))
    assert len(day_dirs) >= 2
    n_before = spark.read.parquet(out).count()

    # crash scenario 1: tmp written, swap never started → tmp is garbage
    shutil.copytree(day_dirs[0], day_dirs[0] + ".__compact_tmp")
    # crash scenario 2: old renamed aside, new never renamed in → restore
    victim = day_dirs[1]
    os.rename(victim, victim + ".__compact_old")

    report = compact_partitions(spark, out, target_mb=128)
    # repaired: no artifact dirs remain, no bogus partition values reported
    assert not glob(os.path.join(out, "*__compact_*"))
    assert all("__compact" not in v for v in report)
    assert os.path.isdir(victim)  # restored partition is back
    assert spark.read.parquet(out).count() == n_before
