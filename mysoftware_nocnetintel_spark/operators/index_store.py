"""Storage seam of the persisted indexes (MinHash: dedup_index.py,
Hamming: hamming_index.py, IVF: ann_index.py): each is an open lakehouse
table (Delta or Iceberg, the engine's own writers) plus a JSON sidecar of
pinned parameters under its root, named by the index (so existing indexes
still open). The only sidecar I/O and the only Delta/Iceberg dispatch of
the index verbs. Partition values are passed typed (an int cell id); the
seam renders them as the format's metadata holds them.

Sidecar FIRST: :func:`create` writes the sidecar before the build's data
commit, and its existence is the build guard. A crash between the two
leaves a visibly broken index (queries fail on the missing table) instead
of letting a rerun pass the guard and silently DOUBLE-append the whole
corpus; remedy: delete the directory and rebuild. Every sidecar write is
tmp + ``os.replace``, so readers never see a torn file.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from ..sources import delta, iceberg, readers
from ..sources.zorder import byte_small, plan_bytes


def read_params(path: str, sidecar: str) -> dict:
    with open(os.path.join(path, sidecar), encoding="utf-8") as f:
        return json.load(f)


def write_params(path: str, sidecar: str, params: dict) -> None:
    dst = os.path.join(path, sidecar)
    with open(dst + ".tmp", "w", encoding="utf-8") as f:
        json.dump(params, f)
    os.replace(dst + ".tmp", dst)


def refuse_existing(path: str, sidecar: str, hint: str = "") -> None:
    """The build guard: an index whose sidecar exists is never rebuilt."""
    if os.path.exists(os.path.join(path, sidecar)):
        raise ValueError(f"index already exists at {path}{hint}")


def create(path: str, sidecar: str, params: dict, hint: str = "") -> None:
    """Start a build: refuse an existing index, else write the sidecar."""
    refuse_existing(path, sidecar, hint)
    os.makedirs(path, exist_ok=True)
    write_params(path, sidecar, params)


def _is_delta(fmt: str) -> bool:
    if fmt not in ("delta", "iceberg"):
        raise ValueError(f"unknown table_format {fmt!r}")
    return fmt == "delta"


def _pick(fmt: str, on_delta, on_iceberg):
    return on_delta if _is_delta(fmt) else on_iceberg


def _typed(fmt: str, values: dict) -> dict:
    """Partition values as the format's metadata holds them: Delta
    ``partitionValues`` are strings, Iceberg manifests carry the typed
    record. A set value (a membership filter) is rendered member-wise."""
    if fmt != "delta":
        return values
    return {
        k: frozenset(map(str, v)) if isinstance(v, (set, frozenset)) else str(v)
        for k, v in values.items()
    }


def append(df: DataFrame, path: str, fmt: str, **kw) -> int:
    """Append in either format; ``kw`` (``txn``, ``sort_by``,
    ``partition_by``) goes to the format's writer. Returns the committed
    version/snapshot."""
    write = _pick(fmt, delta.write_delta_append, iceberg.write_iceberg_append)
    return write(df, path, **kw)


def register(
    df: DataFrame,
    path: str,
    fmt: str,
    sort_by: tuple[str, ...],
    txn: tuple[str, int] | None = None,
) -> int:
    """Append a batch: byte-small (``zorder.byte_small`` of its plan
    estimate) as one file, else range-clustered on ``sort_by``."""
    small = byte_small(plan_bytes(df))
    return append(df, path, fmt, txn=txn, sort_by=() if small else sort_by)


def read(
    spark: SparkSession,
    path: str,
    fmt: str,
    partition_filter: dict | None = None,
    **kw,
) -> DataFrame:
    """The current snapshot in either format, or the one pinned by ``kw``
    (``version`` / ``snapshot_id``); ``partition_filter`` prunes to the
    typed partition values it names (a set value: any member)."""
    if partition_filter is not None:
        kw["partition_filter"] = _typed(fmt, partition_filter)
    rd = _pick(fmt, readers.read_delta_snapshot, readers.read_iceberg_snapshot)
    return rd(spark, path, **kw)


def drop(spark, path: str, fmt: str, values, files=None) -> None:
    """Metadata-only drop of the partition ``values`` (a list of dicts:
    every one, in ONE commit), pinned to ``files`` when given (the
    format's drop verb documents the pin)."""
    if isinstance(values, list):
        typed = [_typed(fmt, v) for v in values]
    else:
        typed = _typed(fmt, values)
    if _is_delta(fmt):
        delta.drop_delta_partition(spark, path, typed, files=files)
    else:
        iceberg.drop_iceberg_partition(path, typed, files=files)


def partition_counts(path: str, fmt: str, col: str) -> dict | None:
    """Exact live rows per value of partition column ``col`` from table
    metadata alone (keys as the format holds them), or None when
    metadata can't be exact."""
    counts = _pick(fmt, delta.partition_row_counts, iceberg.partition_row_counts)
    return counts(path, col)


def partition_files(path: str, fmt: str, values: dict) -> tuple[list[str], dict]:
    """The live data files of one partition at the CURRENT snapshot, and
    the :func:`read` arguments that pin that same snapshot — a
    driver-side metadata walk (Delta log replay / Iceberg manifests)."""
    if _is_delta(fmt):
        st = delta._replay_state(os.path.join(path, "_delta_log"))
        live = [(f, a.get("partitionValues") or {}) for f, a in st["live"].items()]
        pin = {"version": st["version"]}
    else:
        data_files, _, _, snap = readers._iceberg_snapshot_files(path)
        live = [(e.path, e.partition or {}) for e in data_files]
        pin = {"snapshot_id": snap["snapshot-id"]}
    key = _typed(fmt, values)
    files = [f for f, part in live if all(part.get(k) == v for k, v in key.items())]
    return sorted(files), pin
