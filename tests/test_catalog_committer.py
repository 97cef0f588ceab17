"""CatalogCommitter seam (round 8 — verdict task 2): both lakehouse
writers' CAS commits route through one pluggable endpoint, the
filesystem default behaves exactly as the inline CAS did, and a
fault-injecting double (remote-catalog latency + transient rejections)
leaves every multi-writer guarantee intact — proving a REST/Hive/Glue
endpoint is integration work, not architecture work."""

from __future__ import annotations

import os
import threading

import pytest

from mysoftware_nocnetintel_spark.sources.catalog import (
    CatalogCommitConflict,
    CatalogCommitter,
    FaultInjectingCommitter,
    FilesystemCommitter,
    get_committer,
    set_committer,
    use_committer,
)
from mysoftware_nocnetintel_spark.sources.delta import (
    delete_delta_rows,
    write_delta_append,
)
from mysoftware_nocnetintel_spark.sources.iceberg import (
    write_iceberg_append,
    write_iceberg_position_deletes,
)
from mysoftware_nocnetintel_spark.sources.readers import (
    read_delta_snapshot,
    read_iceberg_snapshot,
)


def _df(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"v{i}") for i in range(lo, hi)], "id bigint, val string"
    )


# ------------------------------------------------------- primitive unit


def test_filesystem_committer_put_if_absent(tmp_path):
    c = FilesystemCommitter()
    p = str(tmp_path / "00000000000000000001.json")
    c.put_if_absent(p, b"winner\n")
    with pytest.raises(CatalogCommitConflict):
        c.put_if_absent(p, b"loser\n")
    assert open(p, "rb").read() == b"winner\n"  # never clobbered
    assert [f for f in os.listdir(tmp_path) if f.endswith(".tmp")] == []


def test_filesystem_committer_exactly_one_thread_wins(tmp_path):
    c = FilesystemCommitter()
    p = str(tmp_path / "v2.metadata.json")
    wins, errs = [], []

    def work(i):
        try:
            c.put_if_absent(p, f"writer-{i}".encode())
            wins.append(i)
        except CatalogCommitConflict:
            errs.append(i)

    threads = [threading.Thread(target=work, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(wins) == 1 and len(errs) == 7
    assert open(p).read() == f"writer-{wins[0]}"


def test_filesystem_publish_hint_failure_is_swallowed(tmp_path):
    # the hint is best-effort BY CONTRACT: the commit already landed, so
    # an unwritable hint path must not surface as a failed commit
    c = FilesystemCommitter()
    c.publish_hint(str(tmp_path / "no" / "such" / "dir" / "_last"), "7")
    ok = str(tmp_path / "_last_checkpoint")
    c.publish_hint(ok, "7")
    assert open(ok).read() == "7"


def test_fault_injector_spurious_conflict_does_not_commit(tmp_path):
    c = FaultInjectingCommitter(spurious_conflict_rate=1.0, seed=1)
    p = str(tmp_path / "x.json")
    with pytest.raises(CatalogCommitConflict, match="injected"):
        c.put_if_absent(p, b"data")
    assert not os.path.exists(p)  # the commit provably did NOT land
    assert c.stats["injected_conflicts"] == 1
    c.rate = 0.0
    c.put_if_absent(p, b"data")
    assert open(p, "rb").read() == b"data"


def test_set_committer_swaps_and_restores():
    double = FaultInjectingCommitter()
    prev = set_committer(double)
    try:
        assert get_committer() is double
    finally:
        set_committer(prev)
    assert get_committer() is prev
    with use_committer(double):
        assert get_committer() is double
    assert get_committer() is prev


# ------------------- the writers keep their guarantees under the double


def test_delta_append_retries_through_transient_catalog_conflicts(
    spark, tmp_path
):
    """Spurious catalog rejections look like lost CAS races; the append
    retry path re-resolves the head (its version is still free) and
    re-commits — rows land despite the faults."""
    root = str(tmp_path / "d1")
    # CREATE outside the double: a creation commit carries metaData/
    # protocol actions, which never retry (by design — they don't
    # commute), so a transient rejection there surfaces to the caller
    write_delta_append(_df(spark, 0, 3), root)
    double = FaultInjectingCommitter(spurious_conflict_rate=0.4, seed=7)
    with use_committer(double):
        write_delta_append(_df(spark, 3, 6), root)
        delete_delta_rows(spark, root, "id = 0")
    assert double.stats["injected_conflicts"] >= 1, "fault never fired"
    got = sorted(r.id for r in read_delta_snapshot(spark, root).collect())
    assert got == [1, 2, 3, 4, 5]


def test_iceberg_append_retries_through_transient_catalog_conflicts(
    spark, tmp_path
):
    from pyspark.sql import functions as F

    root = str(tmp_path / "i1")
    write_iceberg_append(_df(spark, 0, 4).coalesce(1), root)  # CREATE
    # seed 1: first rng draw 0.13 < 0.4 — the first commit attempt is
    # deterministically rejected, so the retry path provably exercises
    double = FaultInjectingCommitter(spurious_conflict_rate=0.4, seed=1)
    with use_committer(double):
        write_iceberg_append(_df(spark, 4, 8).coalesce(1), root)
        write_iceberg_position_deletes(spark, root, F.col("id") == 7)
    assert double.stats["injected_conflicts"] >= 1, "fault never fired"
    got = sorted(r.id for r in read_iceberg_snapshot(spark, root).collect())
    assert got == [0, 1, 2, 3, 4, 5, 6]


class _CommitServiceHandler:
    """In-process stdlib HTTP commit service: the server side owns the
    atomic swap (FilesystemCommitter) — the wire model of a REST
    catalog / commit coordinator. Factory returns a handler class bound
    to a shared stats dict."""

    @staticmethod
    def make(stats):
        import base64
        import json as _json
        from http.server import BaseHTTPRequestHandler

        fs = FilesystemCommitter()

        class H(BaseHTTPRequestHandler):
            def do_PUT(self):  # noqa: N802 (http.server API)
                n = int(self.headers.get("Content-Length", 0))
                body = _json.loads(self.rfile.read(n))
                if self.path == "/commit":
                    stats["commits"] = stats.get("commits", 0) + 1
                    try:
                        fs.put_if_absent(
                            body["path"],
                            base64.b64decode(body["payload_b64"]),
                        )
                        self.send_response(201)
                    except CatalogCommitConflict:
                        stats["conflicts"] = stats.get("conflicts", 0) + 1
                        self.send_response(409)
                elif self.path == "/hint":
                    fs.publish_hint(body["path"], body["value"])
                    self.send_response(200)
                else:
                    self.send_response(404)
                self.end_headers()

            def log_message(self, *a):  # quiet
                pass

        return H


@pytest.fixture()
def commit_service():
    import threading
    from http.server import ThreadingHTTPServer

    stats: dict = {}
    srv = ThreadingHTTPServer(
        ("127.0.0.1", 0), _CommitServiceHandler.make(stats)
    )
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{srv.server_address[1]}", stats
    finally:
        srv.shutdown()


def test_http_commit_service_runs_the_verb_flow(
    spark, tmp_path, commit_service
):
    """The drop-in proof: the whole writer verb flow (create, append,
    MOR delete, read-back) runs with the atomic swap happening on the
    SERVICE side of an HTTP hop — zero changes above the seam."""
    from pyspark.sql import functions as F

    from mysoftware_nocnetintel_spark.sources.catalog import (
        HttpCommitServiceCommitter,
    )

    endpoint, stats = commit_service
    root = str(tmp_path / "http1")
    with use_committer(HttpCommitServiceCommitter(endpoint)):
        write_delta_append(_df(spark, 0, 3), root)
        write_delta_append(_df(spark, 3, 6), root)
        delete_delta_rows(spark, root, "id = 0")
        iroot = str(tmp_path / "http1_ice")
        write_iceberg_append(_df(spark, 0, 4).coalesce(1), iroot)
        write_iceberg_position_deletes(spark, iroot, F.col("id") == 3)
    assert stats["commits"] >= 5  # every version went over the wire
    got = sorted(r.id for r in read_delta_snapshot(spark, root).collect())
    assert got == [1, 2, 3, 4, 5]
    got_i = sorted(
        r.id for r in read_iceberg_snapshot(spark, iroot).collect()
    )
    assert got_i == [0, 1, 2]
    # the Iceberg hint also traveled over the wire
    hint = os.path.join(iroot, "metadata", "version-hint.text")
    assert os.path.exists(hint)


def test_http_commit_service_thread_race_one_winner(
    spark, tmp_path, commit_service
):
    """Two threads race appends THROUGH the service: its server-side
    swap serializes them — both land, no clobber, conflicts observed
    service-side are retried by the append path."""
    from mysoftware_nocnetintel_spark.sources.catalog import (
        HttpCommitServiceCommitter,
    )

    endpoint, stats = commit_service
    root = str(tmp_path / "http2")
    errs: list = []
    with use_committer(HttpCommitServiceCommitter(endpoint)):
        write_delta_append(_df(spark, 0, 2), root)

        def work(lo):
            try:
                write_delta_append(_df(spark, lo, lo + 3), root)
            except Exception as e:  # pragma: no cover
                errs.append(e)

        threads = [
            threading.Thread(target=work, args=(lo,)) for lo in (10, 20)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    assert not errs
    got = sorted(r.id for r in read_delta_snapshot(spark, root).collect())
    assert got == [0, 1, 10, 11, 12, 20, 21, 22]


def test_threaded_delta_appends_under_latency_double(spark, tmp_path):
    """Injected commit latency widens the race window; the put-if-absent
    guarantee and the append retry must still land every batch."""
    root = str(tmp_path / "d2")
    double = FaultInjectingCommitter(max_delay_s=0.05, seed=3)
    errs = []
    with use_committer(double):
        write_delta_append(_df(spark, 0, 2), root)

        def work(lo):
            try:
                write_delta_append(_df(spark, lo, lo + 3), root)
            except Exception as e:  # pragma: no cover
                errs.append(e)

        threads = [
            threading.Thread(target=work, args=(lo,))
            for lo in (10, 20, 30)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    assert not errs
    assert double.stats["delays"] > 0
    want = [0, 1] + [lo + j for lo in (10, 20, 30) for j in range(3)]
    got = sorted(r.id for r in read_delta_snapshot(spark, root).collect())
    assert got == sorted(want)


# -------------------------------- a swap that lands, then reports failure


class _LandsThenRaises(CatalogCommitter):
    """A swap that lands and then raises — what
    ``HttpCommitServiceCommitter`` reports for any reply other than
    409/412: the commit's fate is unknown to the writer. Armed for one
    commit."""

    def __init__(self) -> None:
        self.inner = FilesystemCommitter()
        self.armed = False

    def put_if_absent(self, final_path: str, payload: bytes) -> None:
        self.inner.put_if_absent(final_path, payload)
        if self.armed:
            self.armed = False
            raise RuntimeError("commit fate unknown")

    def publish_hint(self, hint_path: str, value: str) -> None:
        self.inner.publish_hint(hint_path, value)


def _iceberg_head_files(root: str) -> list[str]:
    """Every file the current Iceberg snapshot references: its manifest
    list, the manifests, and their live data/delete files."""
    from mysoftware_nocnetintel_spark.sources.avro_lite import read_avro_file
    from mysoftware_nocnetintel_spark.sources.iceberg import _load_meta
    from mysoftware_nocnetintel_spark.sources.readers import (
        _iceberg_local_path,
    )

    meta, _ = _load_meta(os.path.join(root, "metadata"), allow_v3=True)
    snap = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    files = [_iceberg_local_path(snap["manifest-list"])]
    for m in read_avro_file(files[0])[1]:
        files.append(_iceberg_local_path(m["manifest_path"]))
        files += [
            _iceberg_local_path(e["data_file"]["file_path"])
            for e in read_avro_file(files[-1])[1]
            if e.get("status") != 2
        ]
    return files


def _delta_head_files(root: str) -> list[str]:
    """Every live data file of the Delta head and its deletion-vector
    file."""
    from mysoftware_nocnetintel_spark.sources.delta import (
        _dv_rel_path,
        _replay_state,
    )

    live = _replay_state(os.path.join(root, "_delta_log"))["live"]
    rels = list(live) + [
        p for a in live.values() if (p := _dv_rel_path(a.get("deletionVector")))
    ]
    return [os.path.join(root, r) for r in rels]


def _unknown_fate_case(spark, root: str, verb: str):
    """Build the table for ``verb``; return (run the verb, expected
    (id, val) rows afterwards)."""
    from pyspark.sql import functions as F

    from mysoftware_nocnetintel_spark.sources import delta as dl
    from mysoftware_nocnetintel_spark.sources import iceberg as ice
    from mysoftware_nocnetintel_spark.sources import puffin

    base = [(i, f"v{i}") for i in range(6)]
    upsert = [(0, "U"), (1, "U"), (100, "v100")]
    src = spark.createDataFrame(upsert, "id bigint, val string")
    merged = sorted(dict(base + upsert).items())
    kept = base[3:]
    if verb.startswith("delta"):
        write_delta_append(_df(spark, 0, 6).coalesce(1), root)
        if verb == "delta_delete":
            return lambda: dl.delete_delta_rows(spark, root, "id < 3"), kept
        strategy = "mor" if verb == "delta_mor_merge" else "cow"
        return (
            lambda: dl.merge_delta_rows(
                spark, root, src, on=["id"], strategy=strategy
            ),
            merged,
        )
    write_iceberg_append(_df(spark, 0, 6).coalesce(1), root)
    runs = {
        "iceberg_position_delete": lambda: ice.write_iceberg_position_deletes(
            spark, root, F.col("id") < 3
        ),
        "iceberg_equality_delete": lambda: ice.write_iceberg_equality_deletes(
            spark, root, _df(spark, 0, 3).select("id")
        ),
        "iceberg_merge": lambda: ice.merge_iceberg_rows(
            spark, root, src, on=["id"]
        ),
        "iceberg_update": lambda: ice.update_iceberg_rows(
            spark, root, "id < 2", {"val": "'U'"}
        ),
        "iceberg_dv_delete": lambda: puffin.write_iceberg_dv_deletes(
            spark, root, F.col("id") < 3
        ),
    }
    if verb == "iceberg_dv_delete":
        puffin.convert_iceberg_position_deletes_to_dvs(root)  # v3 bump
    want = {
        "iceberg_merge": merged,
        "iceberg_update": [(0, "U"), (1, "U")] + base[2:],
    }.get(verb, kept)
    return runs[verb], want


@pytest.mark.parametrize(
    "verb",
    [
        "delta_delete",
        "delta_merge",
        "delta_mor_merge",
        "iceberg_dv_delete",
        "iceberg_equality_delete",
        "iceberg_merge",
        "iceberg_position_delete",
        "iceberg_update",
    ],
)
def test_unknown_fate_commit_keeps_its_files(spark, tmp_path, verb):
    """A row-level verb whose swap landed but raised must not remove a
    file the committed head references: the table reads back with the
    change applied."""
    root = str(tmp_path / verb)
    run, want = _unknown_fate_case(spark, root, verb)
    double = _LandsThenRaises()
    with use_committer(double):
        double.armed = True
        with pytest.raises(RuntimeError, match="fate unknown"):
            run()
    if verb.startswith("delta"):
        missing = [f for f in _delta_head_files(root) if not os.path.exists(f)]
        got = read_delta_snapshot(spark, root)
    else:
        missing = [
            f for f in _iceberg_head_files(root) if not os.path.exists(f)
        ]
        got = read_iceberg_snapshot(spark, root)
    assert missing == []
    assert sorted((r.id, r.val) for r in got.collect()) == want
