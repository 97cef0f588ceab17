"""Randomized tailer lifecycle fuzz, both formats: a random interleaving
of producer verbs (append / optimize-compact / manifest maintenance) and
consumer actions (poll+commit, poll-without-commit = crash, fresh tailer
on the same checkpoint) must deliver EVERY appended row at least once,
and — when every poll is committed — exactly once. Verifies the
at-least-once contract end-to-end rather than per-feature."""

from __future__ import annotations

import random

import pytest

from mysoftware_nocnetintel_spark.sources.delta import (
    optimize_delta_table,
    write_delta_append,
)
from mysoftware_nocnetintel_spark.sources.iceberg import (
    rewrite_iceberg_manifests,
    write_iceberg_append,
)
from mysoftware_nocnetintel_spark.streaming.ops import (
    DeltaTailer,
    IcebergTailer,
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id bigint, val string")


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
@pytest.mark.parametrize("seed", [11, 47])
def test_random_producer_consumer_interleaving(spark, tmp_path, fmt, seed):
    rng = random.Random(seed)
    path = str(tmp_path / fmt)
    ckpt = str(tmp_path / f"{fmt}-ckpt")

    def _append(rows):
        if fmt == "delta":
            write_delta_append(_mk(spark, rows).coalesce(1), path)
        else:
            write_iceberg_append(_mk(spark, rows), path)

    def _maintain():
        if fmt == "delta":
            optimize_delta_table(spark, path, min_files=1)
        else:
            rewrite_iceberg_manifests(path, min_manifests=2)

    def _tailer():
        if fmt == "delta":
            return DeltaTailer(spark, path, ckpt)
        return IcebergTailer(spark, path, ckpt)

    _append([(0, "seed")])
    produced = {(0, "seed")}
    emitted: list[set] = []  # one set per successful poll batch
    committed_through: set = set()  # rows covered by committed polls
    t = _tailer()
    nxt = 1

    for _step in range(14):
        act = rng.choice(
            ["append", "append", "maintain", "poll_commit", "poll_crash",
             "restart"]
        )
        if act == "append":
            rows = [
                (nxt + i, f"r{nxt + i}") for i in range(rng.randint(1, 3))
            ]
            nxt += len(rows)
            _append(rows)
            produced |= set(rows)
        elif act == "maintain":
            _maintain()
        elif act == "restart":
            t = _tailer()  # crash + recover on the same checkpoint
        else:
            batch = t.poll()
            if batch is not None:
                got = {(r.id, r.val) for r in batch.collect()}
                emitted.append(got)
                # every batch only contains produced rows
                assert got <= produced
                if act == "poll_commit":
                    t.commit()
                    committed_through |= got
                # poll_crash: no commit — rows must re-deliver later

    # drain: poll+commit until caught up
    for _ in range(6):
        batch = t.poll()
        if batch is None:
            break
        got = {(r.id, r.val) for r in batch.collect()}
        emitted.append(got)
        assert got <= produced
        t.commit()
        committed_through |= got

    # at-least-once: every produced row was delivered in SOME batch whose
    # poll was eventually committed (redelivery covered crashed polls)
    assert committed_through == produced, (
        f"{fmt} seed={seed}: missing "
        f"{sorted(produced - committed_through)[:5]}"
    )
