"""Copy-on-write Delta MERGE probes the target ONCE: one join of the
target's keys with the per-key source counts yields both the ambiguity
verdict and the touched-file set.

Default-tier representative of the slow test_delta_merge.py suite."""

from __future__ import annotations

import json
import os

import pytest

from mysoftware_nocnetintel_spark.sources.delta import (
    _replay_state,
    merge_delta_rows,
    write_delta_append,
)
from mysoftware_nocnetintel_spark.sources.readers import read_delta_snapshot


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id bigint, val string")


def _dir_state(path):
    """Relative path -> bytes of every file under ``path``."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            fp = os.path.join(root, n)
            with open(fp, "rb") as f:
                out[os.path.relpath(fp, path)] = f.read()
    return out


def test_merge_probe_ambiguity_nulls_and_touched_files(spark, tmp_path):
    path = str(tmp_path / "t")
    log_dir = os.path.join(path, "_delta_log")
    # three single-file appends: A = {1, 2}, B = {10, 11}, C = {20, NULL}
    files, seen = {}, set()
    for tag, rows in (
        ("A", [(1, "a"), (2, "b")]),
        ("B", [(10, "x"), (11, "y")]),
        ("C", [(20, "p"), (None, "q")]),
    ):
        write_delta_append(_mk(spark, rows).coalesce(1), path)
        live = set(_replay_state(log_dir)["live"])
        (files[tag],) = live - seen
        seen = live

    # a duplicate source key that MATCHES raises and writes nothing
    snapshot = _dir_state(path)
    with pytest.raises(ValueError, match="ambiguous"):
        merge_delta_rows(
            spark, path, _mk(spark, [(10, "u"), (10, "v"), (3, "w")]),
            on=["id"],
        )
    assert _dir_state(path) == snapshot

    v = merge_delta_rows(
        spark,
        path,
        _mk(
            spark,
            [
                (2, "B"),  # matches file A
                (20, "P"),  # matches file C
                (7, "s"),  # unmatched duplicates: both insert
                (7, "t"),
                (None, "n"),  # NULL key never matches: inserts
            ],
        ),
        on=["id"],
    )
    got = sorted(
        (r.id if r.id is not None else -1, r.val)
        for r in read_delta_snapshot(spark, path).collect()
    )
    assert got == sorted(
        [(1, "a"), (2, "B"), (10, "x"), (11, "y"), (20, "P"), (-1, "q"),
         (7, "s"), (7, "t"), (-1, "n")]
    )
    log = os.path.join(path, "_delta_log", f"{v:020d}.json")
    with open(log, encoding="utf-8") as f:
        actions = [json.loads(line) for line in f if line.strip()]
    removed = {a["remove"]["path"] for a in actions if "remove" in a}
    assert removed == {files["A"], files["C"]}
