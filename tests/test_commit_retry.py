"""The lost-CAS retry kernel (``sources/commit_retry.py``) that every
Delta and Iceberg verb retries through: per-verb attempt budgets (5 for
commuting appends, 3 for everything else), jittered growing backoff
before every retry, cleanup of each losing attempt's staged files, and
one always-on two-thread race per format through the real CAS (the
full fuzz matrices live in the ``slow`` CAS suites)."""

from __future__ import annotations

from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from mysoftware_nocnetintel_spark.sources import commit_retry
from mysoftware_nocnetintel_spark.sources import delta as dl
from mysoftware_nocnetintel_spark.sources import iceberg as ice
from mysoftware_nocnetintel_spark.sources.delta import DeltaCommitConflict
from mysoftware_nocnetintel_spark.sources.iceberg import IcebergCommitConflict

from .test_delta_cas import (
    test_two_writer_appender_races_deleter_delta as _delta_race,
)
from .test_iceberg_cas import (
    test_two_writer_appender_races_deleter as _iceberg_race,
)
from .test_r7_advisor import _df, _tree


def test_retry_on_conflict_backs_off_between_attempts(monkeypatch):
    sleeps: list[float] = []
    monkeypatch.setattr(
        commit_retry, "time", SimpleNamespace(sleep=sleeps.append)
    )

    calls = {"n": 0}

    @commit_retry.recompute
    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise IcebergCommitConflict("lost")
        return "won"

    assert flaky() == "won"
    assert calls["n"] == 3
    # jittered, bounded, GROWING windows: attempt 2 in [0, 0.1),
    # attempt 3 in [0, 0.2)
    assert len(sleeps) == 2
    assert all(0 <= s < 0.25 for s in sleeps)


def _iceberg_table(spark, root, partitioned=False):
    part = ("val",) if partitioned else ()
    ice.write_iceberg_append(_df(spark, 0, 5), root, partition_by=part)
    ice.write_iceberg_append(_df(spark, 5, 10), root)


def _delta_table(spark, root):
    dl.write_delta_append(_df(spark, 0, 5), root)
    dl.write_delta_append(_df(spark, 5, 10), root)


# verb -> (format, setup, call, attempt budget, strands nothing on a final
# loss). Every verb now removes what its losing attempts staged, the last
# one included, so the directory check covers them all.
VERBS = {
    "iceberg_delete_file": (
        "iceberg", _iceberg_table,
        lambda spark, root: ice.write_iceberg_position_deletes(
            spark, root, F.col("id") == 1
        ),
        3, True,
    ),
    "iceberg_merge": (
        "iceberg", _iceberg_table,
        lambda spark, root: ice.merge_iceberg_rows(
            spark, root, _df(spark, 3, 7), on=["id"]
        ),
        3, True,
    ),
    "iceberg_update": (
        "iceberg", _iceberg_table,
        lambda spark, root: ice.update_iceberg_rows(
            spark, root, "id < 2", {"val": "'U'"}
        ),
        3, True,
    ),
    "iceberg_manifest_rewrite": (
        "iceberg", _iceberg_table,
        lambda spark, root: ice.rewrite_iceberg_manifests(
            root, min_manifests=2
        ),
        3, True,
    ),
    "iceberg_partition_drop": (
        "iceberg",
        lambda spark, root: _iceberg_table(spark, root, partitioned=True),
        lambda spark, root: ice.drop_iceberg_partition(root, {"val": "v1"}),
        3, True,
    ),
    "iceberg_append": (
        "iceberg", _iceberg_table,
        lambda spark, root: ice.write_iceberg_append(_df(spark, 20, 22), root),
        5, True,
    ),
    "delta_append": (
        "delta", _delta_table,
        lambda spark, root: dl.write_delta_append(_df(spark, 20, 22), root),
        5, True,
    ),
    "delta_delete": (
        "delta", _delta_table,
        lambda spark, root: dl.delete_delta_rows(spark, root, "id = 1"),
        3, True,
    ),
    "delta_merge": (
        "delta", _delta_table,
        lambda spark, root: dl.merge_delta_rows(
            spark, root, _df(spark, 3, 7), on=["id"]
        ),
        3, True,
    ),
    "delta_optimize": (
        "delta", _delta_table,
        lambda spark, root: dl.optimize_delta_table(spark, root),
        3, True,
    ),
}


def _lose(monkeypatch, fmt, losses):
    """Make the format's commit seam lose its first ``losses`` calls;
    returns the call counter."""
    mod, seam, conflict = {
        "iceberg": (ice, "_commit_metadata", IcebergCommitConflict),
        "delta": (dl, "_commit_version", DeltaCommitConflict),
    }[fmt]
    real = getattr(mod, seam)
    calls = {"n": 0}

    def racing(*args):
        calls["n"] += 1
        if calls["n"] <= losses:
            raise conflict("simulated lost race")
        return real(*args)

    monkeypatch.setattr(mod, seam, racing)
    return calls


def _record_backoff(monkeypatch):
    """Record each of the kernel's backoff sleeps as the upper end of its
    jitter window (without sleeping)."""
    sleeps: list[float] = []
    monkeypatch.setattr(
        commit_retry, "random", SimpleNamespace(uniform=lambda lo, hi: hi)
    )
    monkeypatch.setattr(
        commit_retry, "time", SimpleNamespace(sleep=sleeps.append)
    )
    return sleeps


@pytest.mark.parametrize("verb", sorted(VERBS))
def test_two_lost_races_back_off_then_commit(spark, tmp_path, monkeypatch, verb):
    fmt, setup, call, _budget, _clean = VERBS[verb]
    root = str(tmp_path / verb)
    setup(spark, root)
    sleeps = _record_backoff(monkeypatch)
    calls = _lose(monkeypatch, fmt, losses=2)
    assert call(spark, root) is not None
    monkeypatch.undo()
    assert calls["n"] == 3
    # one bounded, non-empty jitter window before each retry:
    # uniform(0, 0.05 * 2**i) for attempts i = 1, 2
    assert sleeps == [pytest.approx(0.1), pytest.approx(0.2)]


@pytest.mark.parametrize("verb", sorted(VERBS))
def test_exhausted_budget_surfaces_conflict(spark, tmp_path, monkeypatch, verb):
    fmt, setup, call, budget, clean = VERBS[verb]
    root = str(tmp_path / verb)
    setup(spark, root)
    before = _tree(root)
    sleeps = _record_backoff(monkeypatch)
    calls = _lose(monkeypatch, fmt, losses=budget)
    with pytest.raises(commit_retry.CommitConflict):
        call(spark, root)
    monkeypatch.undo()
    assert calls["n"] == budget
    assert len(sleeps) == budget - 1
    if clean:
        assert _tree(root) == before  # no staged file outlives its attempt


def test_two_writer_appender_races_deleter(spark, tmp_path):
    _iceberg_race(spark, tmp_path, seed=5, committer="default")


def test_two_writer_appender_races_deleter_delta(spark, tmp_path):
    _delta_race(spark, tmp_path, seed=3, committer="default")
