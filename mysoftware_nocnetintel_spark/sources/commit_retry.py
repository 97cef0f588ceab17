"""The lost-CAS retry policy shared by the Delta and Iceberg writers.

Both formats commit through a put-if-absent compare-and-swap
(``delta._commit_version`` / ``iceberg._commit_metadata``); a writer
that loses raises a :class:`CommitConflict` subclass. Every verb that
retries does so through :func:`retry`, which owns the whole policy:

- the attempt budget (3; commuting appends pass 5);
- jittered growing backoff — before attempt ``i`` (0-based) sleep
  ``uniform(0, 0.05 * 2**i)``: back-to-back retries under sustained
  contention lose every race in the same burst, and jitter
  de-synchronizes the losers (the reason Iceberg's commit properties
  default to exponential backoff);
- one per-attempt hook that runs after every lost attempt. It removes
  the attempt's staged files and reloads or validates the head, and
  ends the loop three ways: raise (surface the conflict), return a
  result (the winner already committed this transaction), or return
  ``None`` (retry on the new head).

Call sites pass only what differs: the attempt and its validation
(Delta's layout/touched-file check, Iceberg's ``_retry_head``). A
data-semantic verb (DELETE / UPDATE / MERGE) surfaces a conflict its
validation cannot absorb; ``recompute(verb)(...)`` re-runs the whole
verb instead, so each invocation re-derives every decision against the
winner's head (the serial order "winner first, then this verb") — the
caller's source/predicate must be deterministic.
"""

from __future__ import annotations

import functools
import os
import random
import time
from typing import Callable, Iterable, TypeVar

T = TypeVar("T")


class CommitConflict(RuntimeError):
    """Another writer committed the version this commit was staged
    against. Base of ``DeltaCommitConflict`` and
    ``IcebergCommitConflict``."""


def retry(
    attempt: Callable[[], T],
    on_conflict: "Callable[[CommitConflict], T | None] | None" = None,
    attempts: int = 3,
) -> T:
    """Run ``attempt()`` until it returns, at most ``attempts`` times,
    with jittered backoff between tries. After each lost attempt
    ``on_conflict(conflict)`` (when given) runs: raising surfaces,
    a non-None return is the result, None retries. When the budget runs
    out the last conflict propagates."""
    last: CommitConflict | None = None
    for i in range(attempts):
        if i:
            time.sleep(random.uniform(0, 0.05 * (2**i)))
        try:
            return attempt()
        except CommitConflict as e:
            last = e
            if on_conflict is not None:
                done = on_conflict(e)
                if done is not None:
                    return done
    raise last


def recompute(fn: Callable[..., T]) -> Callable[..., T]:
    """Retry a RECOMPUTABLE verb as a whole: maintenance and
    metadata-only ref/schema moves that reload the head on entry and
    re-derive every action, so re-running against the winner's state is
    semantically a fresh invocation, never a lost update. The verb must
    remove its own staged files before the conflict leaves it."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        return retry(lambda: fn(*args, **kwargs))

    return wrapper


def discard(paths: Iterable[str]) -> None:
    """Best-effort removal of staged files a lost or abandoned commit
    left behind; a file that is already gone is not an error."""
    for p in paths:
        try:
            os.remove(p)
        except OSError:
            pass
