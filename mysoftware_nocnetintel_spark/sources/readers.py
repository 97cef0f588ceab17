"""Generic source readers beyond the parquet registry (SURVEY.md §2.1 S1-S3).

Reference parity: PostgreSQL system-of-record (reference README.md:23) and
raw-log object storage (README.md:33). The JDBC path is the real-deployment
reader for the former; the driver harness exercises the parquet registry
instead (no database in this environment).
"""

from __future__ import annotations

import math
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType | None = None, header: bool = True
) -> DataFrame:
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def parse_log_lines(raw: DataFrame, pattern: str, fields: list[str]) -> DataFrame:
    """Regex-structured extraction from raw lines (all JVM-side)."""
    return raw.select(
        *[
            F.regexp_extract("value", pattern, i + 1).alias(name)
            for i, name in enumerate(fields)
        ]
    )


def read_table_format(
    spark: SparkSession,
    path: str,
    fmt: str = "delta",
    version: int | None = None,
    timestamp: str | None = None,
) -> DataFrame:
    """S1/S2 lakehouse path: Delta Lake / Apache Iceberg table reads with
    optional time travel. Both formats keep the scan columnar + pushdown-
    capable (they are parquet underneath plus a transactional log), so every
    operator downstream is unchanged — exactly like the kafka source, only
    the ingest edge differs.

    The connector jars are not in this container, so the reader fails fast
    at plan build with the spark-submit --packages coordinates instead of a
    mid-job ClassNotFound."""
    if fmt not in ("delta", "iceberg"):
        raise ValueError(f"fmt must be delta|iceberg, got {fmt!r}")
    reader = spark.read.format(fmt)
    if version is not None:
        reader = reader.option("versionAsOf", str(version))
    if timestamp is not None:
        reader = reader.option("timestampAsOf", timestamp)
    try:
        return reader.load(path)
    except Exception as e:
        if fmt == "delta" and timestamp is None:
            # connector absent: fall back to the minimal log-replay reader
            try:
                return read_delta_snapshot(spark, path, version=version)
            except (FileNotFoundError, NotImplementedError):
                pass
        if fmt == "iceberg" and timestamp is None:
            try:
                return read_iceberg_snapshot(spark, path, snapshot_id=version)
            except (FileNotFoundError, NotImplementedError):
                pass
        pkg = (
            "io.delta:delta-spark_2.13:<version>"
            if fmt == "delta"
            else "org.apache.iceberg:iceberg-spark-runtime-<spark>_2.13:<version>"
        )
        raise RuntimeError(
            f"{fmt} table format unavailable: add --packages {pkg} "
            "to the session (connector jar not on the classpath)"
        ) from e


# Reader-version-3 table features this minimal reader can honor. Anything
# else (timestampNtz…) fails fast: reading past an unknown feature
# returns WRONG ROWS, not degraded ones.
_DELTA_READER_FEATURES = {"v2Checkpoint", "columnMapping", "deletionVectors"}

# Deletion-vector masking decodes bitmaps DRIVER-side (they ship in the
# log/DV files the driver already reads) and ships the positions as a
# local relation for a broadcast anti-join. The decoded-position total is
# capped so a pathological table can't balloon driver memory — same
# posture as the Iceberg reader's _MAX_DELETE_ROWS.
_MAX_DV_POSITIONS = 5_000_000


class NoMatchingFilesError(ValueError):
    """``partition_filter`` matched ZERO live files — a LEGAL empty slice
    (a never-written or fully-GC'd partition), distinct from genuine
    table problems (bad filter keys, missing versions), which stay plain
    ``ValueError``. Callers that treat "empty partition" as an empty
    result (the ANN serving path) catch THIS type only, so a corrupt or
    foreign table still fails loudly (r12 advisor)."""


def _pf_match(actual, expected) -> bool:
    """``partition_filter`` value match: a set/frozenset/list/tuple means
    MEMBERSHIP (several partitions in one snapshot read — the ANN serving
    path); a scalar means equality, exactly as before."""
    if isinstance(expected, (set, frozenset, list, tuple)):
        return actual in expected
    return actual == expected


def _dv_live_value(add: dict) -> dict:
    """Normalize an add action (JSON or checkpoint-parquet row) into the
    live-set entry: partitionValues + deletionVector descriptor (None
    when absent — pyarrow materializes missing struct fields as None)."""
    pv = add.get("partitionValues")
    dv = add.get("deletionVector")
    if dv is not None and not dv.get("storageType"):
        dv = None
    return {
        "pv": dict(pv) if pv else {},
        "dv": dv,
        "stats": add.get("stats"),
    }


def _delta_check_protocol(proto: dict) -> None:
    """Table-features protocol gate (delta.io PROTOCOL.md "Protocol
    Evolution"): reader version 1 is the base; version 2 is the column-
    mapping era (honored via the metaData action — see
    :func:`_apply_column_mapping`); version 3
    is acceptable iff every listed readerFeature is one this reader
    implements."""
    mrv = proto.get("minReaderVersion") or 1
    if mrv <= 2:
        return
    # a null/non-list readerFeatures at mrv=3 is MALFORMED, not "no
    # features": falling through to the final raise, never silently read
    if mrv == 3 and isinstance(proto.get("readerFeatures"), list):
        unsupported = set(proto["readerFeatures"]) - _DELTA_READER_FEATURES
        if not unsupported:
            return
        raise NotImplementedError(
            f"Delta reader features {sorted(unsupported)} unsupported: "
            "use the delta-spark connector"
        )
    raise NotImplementedError(
        f"Delta minReaderVersion {mrv} "
        "(malformed/absent features list): use the delta-spark connector"
    )


def _cm_mode(meta: dict | None) -> str:
    """The table's ``delta.columnMapping.mode`` (``none`` when unset)."""
    if not meta:
        return "none"
    conf = meta.get("configuration") or {}
    if isinstance(conf, list):
        # a metaData row decoded from a PARQUET checkpoint: pyarrow maps
        # come back as [(key, value)] tuples, not dicts
        conf = dict(conf)
    return conf.get("delta.columnMapping.mode", "none") or "none"


def _apply_column_mapping(df: DataFrame, meta: dict | None) -> DataFrame:
    """Honor Delta column mapping (PROTOCOL.md "Column Mapping"), both
    modes. Under ``mode = name`` data files store PHYSICAL column names
    (``delta.columnMapping.physicalName`` in the schema field metadata)
    and the reader projects physical → logical here. Under ``mode = id``
    the data scan already resolved parquet columns BY FIELD ID to their
    logical names (:func:`_delta_id_read_schema`), so only the partition
    columns — re-attached from ``add.partitionValues`` under their
    physical names — still need the rename. Both projections also
    implement renamed columns (only metaData changes) and dropped columns
    (the physical column survives in parquet but leaves the schema).
    Nested-field mapping fails fast."""
    import json

    mode = _cm_mode(meta)
    if mode in ("none", ""):
        return df
    if mode not in ("name", "id"):
        raise NotImplementedError(
            f"Delta column mapping mode {mode!r}: use the delta-spark "
            "connector"
        )
    schema = json.loads(meta["schemaString"])
    renames: list[tuple[str | None, str]] = []
    for f in schema.get("fields", []):
        if not isinstance(f.get("type"), str):
            raise NotImplementedError(
                f"column mapping over nested field {f.get('name')!r}: "
                "use the delta-spark connector"
            )
        phys = (f.get("metadata") or {}).get("delta.columnMapping.physicalName")
        if not phys and mode == "name":
            raise NotImplementedError(
                f"column mapping mode=name but field {f.get('name')!r} "
                "declares no physicalName: use the delta-spark connector"
            )
        renames.append((phys, f["name"]))
    if mode == "id":
        cols = []
        for phys, logical in renames:
            if logical in df.columns:
                cols.append(F.col(logical))
            elif phys and phys in df.columns:
                cols.append(F.col(phys).alias(logical))
            else:
                raise NotImplementedError(
                    f"id-mode column {logical!r} absent from the data "
                    "scan: use the delta-spark connector"
                )
        return df.select(*cols)
    missing = [p for p, _l in renames if p not in df.columns]
    if missing:
        raise NotImplementedError(
            f"physical columns {missing} absent from the data scan: "
            "use the delta-spark connector"
        )
    return df.select(*[F.col(p).alias(l) for p, l in renames])


def _delta_id_read_schema(spark, table_meta: dict, part_phys: set):
    """Build the explicit read schema for an id-mode table: one
    StructField per LOGICAL schema field (partition columns excluded —
    they live in ``add.partitionValues``, not in the data files), each
    carrying ``parquet.field.id`` metadata so Spark's parquet reader
    matches file columns by FIELD ID instead of by name
    (``spark.sql.parquet.fieldId.read.enabled``). ``ignoreMissing`` is
    also enabled: a file written before a column was added simply lacks
    that id and must surface NULLs — Delta's add-column semantics. Both
    confs are inert for every other read on the session (they only act
    when the requested schema carries field-id metadata, which only this
    path builds)."""
    import json

    from pyspark.sql.types import StructField, StructType, _parse_datatype_string

    fields = []
    for f in json.loads(table_meta["schemaString"]).get("fields", []):
        if not isinstance(f.get("type"), str):
            raise NotImplementedError(
                f"column mapping over nested field {f.get('name')!r}: "
                "use the delta-spark connector"
            )
        md = f.get("metadata") or {}
        fid = md.get("delta.columnMapping.id")
        if fid is None:
            raise NotImplementedError(
                f"column mapping mode=id but field {f.get('name')!r} "
                "declares no delta.columnMapping.id: use the delta-spark "
                "connector"
            )
        if md.get("delta.columnMapping.physicalName") in part_phys:
            continue
        fields.append(
            StructField(
                f["name"],
                _parse_datatype_string(f["type"]),
                True,
                {"parquet.field.id": int(fid)},
            )
        )
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    spark.conf.set("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
    return StructType(fields)


def _read_delta_checkpoint(
    log_dir: str, cp_version: int, cp_meta: dict
) -> tuple[dict[str, dict], dict | None]:
    """(live add-file map, latest metaData action or None) from a Delta
    parquet checkpoint:

    - CLASSIC: single ``<v>.checkpoint.parquet`` or multi-part
      ``<v>.checkpoint.<i>.<parts>.parquet``;
    - V2 (UUID-named, PROTOCOL.md "V2 Checkpoints"): one
      ``<v>.checkpoint.<uniqueStr>.{json|parquet}`` top-level file whose
      actions may be inline add rows and/or ``sidecar`` actions pointing
      at parquet files under ``_delta_log/_sidecars/``.

    Remove rows in a checkpoint are only vacuum tombstones — the live set
    is exactly the add rows. Driver-side metadata read via pyarrow
    (MB-scale)."""
    import os
    from glob import glob as _glob

    parts = cp_meta.get("parts")
    if parts:
        files = [
            os.path.join(
                log_dir,
                f"{cp_version:020d}.checkpoint."
                f"{i + 1:010d}.{parts:010d}.parquet",
            )
            for i in range(int(parts))
        ]
        missing = [f for f in files if not os.path.exists(f)]
        if missing:
            raise NotImplementedError(
                f"expected classic checkpoint part(s) missing "
                f"({os.path.basename(missing[0])}): use the delta-spark "
                "connector"
            )
        return _read_classic_checkpoint_files(files)
    classic = os.path.join(log_dir, f"{cp_version:020d}.checkpoint.parquet")
    if os.path.exists(classic):
        return _read_classic_checkpoint_files([classic])
    # v2: exactly one UUID-named top-level checkpoint file
    cands = [
        f
        for f in sorted(
            _glob(os.path.join(log_dir, f"{cp_version:020d}.checkpoint.*"))
        )
        if f.endswith((".json", ".parquet"))
    ]
    if len(cands) != 1:
        raise NotImplementedError(
            f"checkpoint v{cp_version}: no classic file and "
            f"{len(cands)} UUID-named candidates: use the delta-spark "
            "connector"
        )
    return _read_delta_v2_checkpoint(log_dir, cands[0])


def _read_classic_checkpoint_files(
    files: list[str],
) -> tuple[dict[str, dict], dict | None]:
    import pyarrow.parquet as pq

    live: dict[str, dict] = {}
    table_meta: dict | None = None
    for f in files:
        names = pq.read_schema(f).names
        cols = [c for c in ("add", "protocol", "metaData") if c in names]
        for row in pq.read_table(f, columns=cols).to_pylist():
            proto = row.get("protocol")
            if proto:
                _delta_check_protocol(proto)
            if row.get("metaData"):
                table_meta = row["metaData"]
            add = row.get("add")
            if add and add.get("path"):
                live[add["path"]] = _dv_live_value(add)
    return live, table_meta


def _read_delta_v2_checkpoint(
    log_dir: str, top: str
) -> tuple[dict[str, dict], dict | None]:
    """V2 checkpoint replay: parse the top-level file's actions (inline
    adds + sidecar references + protocol), then fold in every sidecar's
    add rows. Sidecar paths resolve relative to ``_delta_log/_sidecars/``
    unless absolute (per spec)."""
    import json
    import os

    import pyarrow.parquet as pq

    live: dict[str, dict] = {}
    sidecars: list[str] = []
    table_meta: dict | None = None

    def _action(act: dict) -> None:
        nonlocal table_meta
        proto = act.get("protocol")
        if proto:
            _delta_check_protocol(proto)
        if act.get("metaData"):
            table_meta = act["metaData"]
        sc = act.get("sidecar")
        if sc and sc.get("path"):
            sidecars.append(sc["path"])
        add = act.get("add")
        if add and add.get("path"):
            live[add["path"]] = _dv_live_value(add)

    if top.endswith(".json"):
        with open(top) as fh:
            for line in fh:
                if line.strip():
                    _action(json.loads(line))
    else:
        names = pq.read_schema(top).names
        cols = [
            c
            for c in ("add", "protocol", "sidecar", "metaData")
            if c in names
        ]
        for row in pq.read_table(top, columns=cols).to_pylist():
            _action({k: v for k, v in row.items() if v is not None})

    for sc in sidecars:
        scp = (
            sc
            if os.path.isabs(sc)
            else os.path.join(log_dir, "_sidecars", sc)
        )
        if not os.path.exists(scp):
            raise NotImplementedError(
                f"v2 checkpoint sidecar missing ({os.path.basename(scp)}): "
                "use the delta-spark connector"
            )
        names = pq.read_schema(scp).names
        cols = [c for c in ("add",) if c in names]
        for row in pq.read_table(scp, columns=cols).to_pylist():
            add = row.get("add")
            if add and add.get("path"):
                live[add["path"]] = _dv_live_value(add)
    return live, table_meta


def read_delta_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    partition_filter: dict[str, str] | None = None,
    scan_filter: tuple | None = None,
    as_of_ms: int | None = None,
) -> DataFrame:
    """Minimal Delta Lake snapshot reader built on the PUBLIC Delta
    transaction-log protocol (delta.io PROTOCOL.md): replay the
    ``_delta_log/<version>.json`` commit files' add/remove actions up to
    ``version`` (time travel), then scan the surviving parquet files.
    Hive-style ``partitionValues`` are re-attached as literal columns.

    ``partition_filter`` is DRIVER-SIDE PARTITION PRUNING — the scan saver
    that makes partitioned lakehouse tables usable at 100 TB: a dict of
    exact partition-column matches (log values are strings) drops
    non-matching files from the file list BEFORE any distributed scan is
    planned, so excluded partitions cost zero I/O (they are never even
    opened — the test proves it with a corrupt excluded file). A value
    may also be a set/frozenset/list/tuple, matched by MEMBERSHIP — one
    snapshot read covering several partitions (r12: the ANN serving path
    reads all probed cells through one log replay instead of one per
    cell). Predicates on non-partition columns belong in a normal
    ``.filter`` downstream (parquet row-group pushdown applies there).

    Checkpointed logs are supported for CLASSIC parquet checkpoints (single
    file or multi-part, per PROTOCOL.md "Checkpoints") AND V2 UUID-named
    checkpoints (PROTOCOL.md "V2 Checkpoints": a ``<v>.checkpoint.<uuid>``
    json/parquet top-level file with inline adds and/or sidecar parquet
    references under ``_delta_log/_sidecars/``): the live file set is
    seeded from the checkpoint's add rows, then the JSON commit tail beyond
    the checkpoint version replays on top — this is what makes any
    long-lived real-world table readable (the log is periodically
    checkpointed and old JSON commits vacuumed). Time travel BELOW the last
    checkpoint falls back to pure JSON replay and fails fast if those
    commits were cleaned up. The protocol gate follows the table-features
    model: reader version 3 is accepted iff every readerFeature is
    implemented here (``v2Checkpoint``, ``columnMapping``,
    ``deletionVectors`` — DV-masked files drop their deleted rows via a
    broadcast anti-join on the hidden ``_metadata`` file/row-index
    columns, bitmaps decoded by :mod:`.roaring`). Column mapping covers
    BOTH modes: name (physical→logical projection) and id (parquet
    field-id resolution via :func:`_delta_id_read_schema`). Anything
    else (timestampNtz, …) fails fast with NotImplementedError rather
    than returning wrong rows.

    This is the connector-less fallback; the delta-spark connector remains
    the production path. The log replay is driver-side METADATA work
    (KB-scale JSON, MB-scale checkpoint parquet); the data scan itself
    stays a distributed parquet read."""
    import json
    import os
    from glob import glob

    log_dir = os.path.join(path, "_delta_log")
    # coordinated tables (round 11): merge the coordinator's
    # un-backfilled tail as VIRTUAL commits over the backfilled prefix,
    # so this process reads the true head even under lazy backfill; a
    # process without the coordinator sees the backfilled prefix — a
    # consistent, merely older snapshot. The tail is fetched BEFORE the
    # file listing: a concurrent backfill moving a version between the
    # two reads then lands it in BOTH sources (deduped below), never in
    # NEITHER (a torn snapshot missing a middle commit).
    from .delta import _coordinator_tail

    tail = _coordinator_tail(log_dir)
    commit_files = sorted(glob(os.path.join(log_dir, "[0-9]*.json")))
    file_versions = {
        int(os.path.basename(c).split(".")[0]) for c in commit_files
    }
    commits: list[tuple[int, "str | bytes"]] = sorted(
        [
            (int(os.path.basename(c).split(".")[0]), c)
            for c in commit_files
        ]
        + [
            (v, payload)
            for v, payload in tail.items()
            if v not in file_versions
        ]
    )

    def _commit_lines(src):
        if isinstance(src, bytes):
            yield from src.decode("utf-8").splitlines()
        else:
            with open(src) as fh:
                yield from fh

    cp_meta_path = os.path.join(log_dir, "_last_checkpoint")
    if not commits and not os.path.exists(cp_meta_path):
        raise FileNotFoundError(f"no Delta log at {log_dir}")
    if as_of_ms is not None:
        # TIMESTAMP time travel (delta-spark's `timestampAsOf`, the
        # Iceberg reader's `as_of_ms` twin): resolve to the LAST commit
        # whose timestamp is at or before the target. Each commit's
        # timestamp is its IN-COMMIT ``commitInfo.timestamp`` when
        # present (every commit this writer makes since round 8 — robust
        # to a log tree copied/rsynced without mtime preservation), else
        # the commit file's mtime (delta-spark's fallback for legacy
        # commits). A running max makes the sequence monotonic, the same
        # adjustment delta-spark applies to out-of-order commit times.
        # A timestamp AFTER the latest commit raises, matching
        # delta-spark's temporal-version gate (the Iceberg twin resolves
        # it to the current snapshot — each format follows its own
        # engine's semantics). Checkpointed tables whose JSON prefix was
        # cleaned can only resolve timestamps at or after the surviving
        # commits (same limitation as delta-spark after log retention).
        if version is not None:
            raise ValueError("version and as_of_ms are mutually exclusive")
        resolved = None
        running = None
        latest_ts = None
        for v, src in commits:
            ts = None
            try:
                for line in _commit_lines(src):
                    if not line.strip():
                        continue
                    act = json.loads(line)
                    if "commitInfo" in act:
                        # the spec's IN-COMMIT TIMESTAMP is the
                        # authoritative commit time when present
                        # (monotone by construction); the informational
                        # timestamp is the round-8 fallback
                        # presence test, not truthiness: an ICT of
                        # 0 is a valid (if pathological) chain value
                        t = act["commitInfo"].get("inCommitTimestamp")
                        if t is None:
                            t = act["commitInfo"].get("timestamp")
                        if t is not None:
                            ts = int(t)
                        # at most one commitInfo per commit; this
                        # engine's writer emits it first, but a foreign
                        # coordinator client may order actions freely —
                        # scan the whole payload before concluding the
                        # commit is clock-less (r11 advisor)
                        break
            except OSError:
                pass
            if ts is None:
                if isinstance(src, bytes):
                    # an un-backfilled commit with no commitInfo has NO
                    # clock at all (file commits fall back to mtime) —
                    # skipping it would silently resolve to a stale
                    # version, so refuse loudly (this engine's writer
                    # always emits commitInfo; only a foreign
                    # coordinator client can produce this)
                    raise NotImplementedError(
                        f"un-backfilled commit {v} carries no commitInfo "
                        "and cannot be timestamp-resolved: backfill the "
                        "log or travel by version"
                    )
                ts = int(os.path.getmtime(src) * 1000)
            running = ts if running is None else max(running, ts)
            latest_ts = running
            if running <= as_of_ms:
                resolved = v
        if resolved is None:
            raise ValueError(
                f"no Delta commit at or before timestamp {as_of_ms} "
                "(earliest surviving commit is newer, or the log prefix "
                "was cleaned up)"
            )
        if latest_ts is not None and as_of_ms > latest_ts:
            raise ValueError(
                f"timestamp {as_of_ms} is after the latest commit "
                f"({latest_ts}): pass a version, or a timestamp at or "
                "before the latest commit (delta-spark raises the same "
                "temporal-version error)"
            )
        version = resolved

    live: dict[str, dict] = {}
    table_meta: dict | None = None
    max_seen = -1
    if os.path.exists(cp_meta_path):
        with open(cp_meta_path) as fh:
            cp_meta = json.load(fh)
        cp_version = cp_meta.get("version")
        if cp_version is None:
            raise NotImplementedError(
                "malformed _last_checkpoint (no version): use the "
                "delta-spark connector"
            )
        if version is not None and version < cp_version:
            # time travel below the checkpoint: only possible from the full
            # JSON prefix, which vacuum may have removed
            have = {v for v, _src in commits}
            if not set(range(version + 1)) <= have:
                raise NotImplementedError(
                    f"time travel to version {version} is below the last "
                    f"checkpoint ({cp_version}) and the JSON commit prefix "
                    "was cleaned up: use the delta-spark connector"
                )
        else:
            live, table_meta = _read_delta_checkpoint(
                log_dir, cp_version, cp_meta
            )
            max_seen = cp_version
    for v, src in commits:
        if v <= max_seen:
            continue  # state already covered by the checkpoint
        if version is not None and v > version:
            continue
        if isinstance(src, bytes) and v != max_seen + 1:
            # a virtual (un-backfilled) commit may only EXTEND the
            # densely-replayed head — folding over a gap would silently
            # skip the missing commits' actions (the read-path twin of
            # _replay_state's contiguity guard; file gaps below a
            # checkpoint are legitimate and never reach here)
            raise ValueError(
                f"coordinator tail is non-contiguous: version {v} "
                f"follows {max_seen} (commits {max_seen + 1}..{v - 1} "
                "missing from both the log and getCommits)"
            )
        max_seen = max(max_seen, v)
        for line in _commit_lines(src):
            if not line.strip():
                continue
            act = json.loads(line)
            if "protocol" in act:
                _delta_check_protocol(act["protocol"])
            elif "metaData" in act:
                table_meta = act["metaData"]
            elif "add" in act:
                live[act["add"]["path"]] = _dv_live_value(act["add"])
            elif "remove" in act:
                live.pop(act["remove"]["path"], None)
    if version is not None and max_seen < version:
        raise ValueError(f"version {version} not found (latest: {max_seen})")
    if partition_filter:
        # callers filter by the CURRENT LOGICAL column name;
        # add.partitionValues is keyed by PHYSICAL name under column
        # mapping (the rename seam: a renamed partition column changes
        # only metaData, the log entries keep their physical key) — so
        # validate against metaData.partitionColumns (logical) first,
        # then translate through physicalName. A STALE pre-rename name
        # is rejected even though it happens to equal the physical key.
        if table_meta and _cm_mode(table_meta) in ("name", "id"):
            logical_parts = set(table_meta.get("partitionColumns") or [])
            bad = [k for k in partition_filter if k not in logical_parts]
            if bad:
                raise ValueError(
                    f"partition_filter keys {bad} are not partition "
                    f"columns of this table (current: {sorted(logical_parts)})"
                )
            phys_by_logical = {}
            for fld in json.loads(table_meta["schemaString"]).get(
                "fields", []
            ):
                p = (fld.get("metadata") or {}).get(
                    "delta.columnMapping.physicalName"
                )
                if p:
                    phys_by_logical[fld["name"]] = p
            partition_filter = {
                phys_by_logical.get(k, k): v
                for k, v in partition_filter.items()
            }
        bad = [
            k
            for k in partition_filter
            if not any(k in e["pv"] for e in live.values())
        ]
        if bad and live:
            raise ValueError(
                f"partition_filter keys {bad} are not partition columns of "
                "this table"
            )
        live = {
            rel: e
            for rel, e in live.items()
            if all(
                _pf_match(e["pv"].get(k), v)
                for k, v in partition_filter.items()
            )
        }
        if not live:
            raise NoMatchingFilesError(
                f"no files match partition_filter {partition_filter}"
            )
    if not live:
        raise ValueError(f"Delta snapshot at version {max_seen} has no files")
    if scan_filter:
        # DATA SKIPPING on add.stats (PROTOCOL.md "Per-file Statistics"):
        # files whose min/max range provably excludes the predicate drop
        # BEFORE any scan is planned. Conservative everywhere — missing
        # stats, NaN bounds, and incomparable literal types all KEEP the
        # file; the row predicate below still runs on the survivors, so
        # skipping is never a correctness decision. Column-mapped tables
        # key their stats by PHYSICAL column name (PROTOCOL.md column-
        # mapping writer requirements), so the filter column translates
        # through the schema's physicalName metadata first; a field
        # without one simply prunes nothing.
        sf = scan_filter
        if _cm_mode(table_meta) in ("name", "id"):
            for fld in json.loads(table_meta["schemaString"]).get(
                "fields", []
            ):
                if fld.get("name") == sf[0]:
                    phys = (fld.get("metadata") or {}).get(
                        "delta.columnMapping.physicalName"
                    )
                    if phys:
                        sf = (phys, sf[1], sf[2])
                    break
        pruned = _delta_stats_prune(live, sf)
        # all skipped → keep one file for the schema; the row filter
        # then yields a legal empty result
        live = pruned or dict([next(iter(live.items()))])
    # partition columns re-attach TYPED when the table metaData carries a
    # schemaString (the log stores partition values as strings; delta-spark
    # casts them back to the declared type, and so do we — otherwise a
    # bigint partition column would round-trip as a string)
    part_types: dict[str, str] = {}
    if table_meta and table_meta.get("schemaString"):
        # under columnMapping (either mode), add.partitionValues (and, in
        # name mode, the parquet files) carry PHYSICAL column names — key
        # the cast map by physicalName so the cast applies BEFORE
        # _apply_column_mapping renames physical → logical
        mapped = _cm_mode(table_meta) in ("name", "id")
        for fld in json.loads(table_meta["schemaString"]).get("fields", []):
            if isinstance(fld.get("type"), str):
                key = fld["name"]
                if mapped:
                    key = (fld.get("metadata") or {}).get(
                        "delta.columnMapping.physicalName", key
                    )
                part_types[key] = fld["type"]
    # group files by identical partition values → one distributed scan per
    # partition tuple, unioned (one scan total for unpartitioned tables)
    groups: dict[tuple, list[str]] = {}
    for rel, e in live.items():
        groups.setdefault(tuple(sorted(e["pv"].items())), []).append(
            (os.path.join(path, rel), e["dv"])
        )
    dv_rows, dv_total = [], 0
    for entries in groups.values():
        for abspath, dv in entries:
            if dv is None:
                continue
            from .roaring import dv_positions_from_descriptor

            positions = dv_positions_from_descriptor(path, dv)
            dv_total += len(positions)
            if dv_total > _MAX_DV_POSITIONS:
                raise NotImplementedError(
                    f"deletion vectors mask more than {_MAX_DV_POSITIONS} "
                    "rows; the minimal reader decodes them driver-side — "
                    "use the delta-spark connector (or compact the table)"
                )
            dv_rows.extend((os.path.abspath(abspath), p) for p in positions)
    deleted = (
        local_frame(spark, dv_rows, "__fp string, __pos long")
        if dv_rows
        else None
    )
    id_schema = None
    if _cm_mode(table_meta) == "id":
        part_phys = set()
        for e in live.values():
            part_phys.update(e["pv"].keys())
        id_schema = _delta_id_read_schema(spark, table_meta, part_phys)
    elif (
        _cm_mode(table_meta) in ("none", "")
        and table_meta
        and table_meta.get("schemaString")
    ):
        # schema-evolution correctness for UNMAPPED tables: read with the
        # table's declared schema (schemaString IS a Spark StructType
        # JSON) minus the partition columns (not stored in data files) —
        # files written before an added column null-fill it, and the
        # scan's column order follows the table, not a sampled file
        from pyspark.sql.types import StructType

        st = StructType.fromJson(json.loads(table_meta["schemaString"]))
        pcs = set(table_meta.get("partitionColumns") or [])
        id_schema = StructType([f for f in st.fields if f.name not in pcs])
    out: DataFrame | None = None
    for pvals, entries in groups.items():
        files = [f for f, _dv in entries]
        reader = spark.read
        if id_schema is not None:
            reader = reader.schema(id_schema)
        df = reader.parquet(*files)
        if deleted is not None and any(dv for _f, dv in entries):
            # MERGE-ON-READ: drop DV-masked rows by (file, physical row
            # index) with a broadcast anti-join on the hidden metadata
            # columns — fully distributed, same shape as the Iceberg
            # position-delete application
            df = (
                df.withColumn(
                    "__fp",
                    _uri_to_path(F.col("_metadata.file_path")),
                )
                .withColumn("__pos", F.col("_metadata.row_index"))
                .join(
                    F.broadcast(deleted), ["__fp", "__pos"], "left_anti"
                )
                .drop("__fp", "__pos")
            )
        for k, val in pvals:
            col = F.lit(val)
            if k in part_types:
                col = col.cast(part_types[k])
            df = df.withColumn(k, col)
        out = df if out is None else out.unionByName(df, allowMissingColumns=True)
    result = _apply_column_mapping(out, table_meta)
    if scan_filter:
        # the kept files are a SUPERSET (stats are file-level): the row
        # predicate still applies, on LOGICAL names post-mapping
        col_name, op, val = scan_filter
        c = F.col(col_name)
        result = result.filter(
            {
                ">=": c >= F.lit(val),
                ">": c > F.lit(val),
                "<=": c <= F.lit(val),
                "<": c < F.lit(val),
                "=": c == F.lit(val),
            }[op]
        )
    return result


def _footer_ranges(pq_meta, cols) -> tuple[dict, dict, dict]:
    """``(mins, maxs, null_counts)`` per column name in ``cols``,
    aggregated across every row group of a parquet footer — the zone
    maps behind Delta ``add.stats`` and Iceberg manifest bounds, which
    :func:`_delta_stats_prune` and :func:`_zone_map_prune` read back. A
    column missing statistics in ANY row group gets no entry (skipping
    on a partial range would drop rows); parquet-mr / Spark include NaN
    in float/double min-max, and every comparison against a NaN bound
    is False, so NaN-poisoned stats count as missing. Dates come back
    in ISO string form (orders identically). A null count is None once
    any row group lacks one."""
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    dead: set[str] = set()
    for rg in range(pq_meta.num_row_groups):
        row_group = pq_meta.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            if name not in cols or name in dead:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                dead.add(name)
                continue
            mn, mx = st.min, st.max
            if hasattr(mn, "isoformat"):
                mn, mx = mn.isoformat(), mx.isoformat()
            if isinstance(mn, float) and (math.isnan(mn) or math.isnan(mx)):
                dead.add(name)
                continue
            nc = st.null_count if st.has_null_count else None
            if name in mins:
                mins[name] = min(mins[name], mn)
                maxs[name] = max(maxs[name], mx)
                nulls[name] = (
                    None
                    if nc is None or nulls[name] is None
                    else nulls[name] + nc
                )
            else:
                mins[name], maxs[name], nulls[name] = mn, mx, nc
    for name in dead:
        mins.pop(name, None)
        maxs.pop(name, None)
        nulls.pop(name, None)
    return mins, maxs, nulls


_DELTA_SCAN_OPS = (">=", ">", "<=", "<", "=")


def _delta_stats_prune(live: dict, scan_filter: tuple) -> dict:
    """Delta data skipping: drop live entries whose ``add.stats``
    min/max range proves no row can satisfy ``(column, op, value)``.
    Entries without stats (or without bounds for the column) are always
    kept."""
    import datetime
    import json as _json

    col_name, op, val = scan_filter
    if op not in _DELTA_SCAN_OPS:
        raise ValueError(f"scan_filter op must be one of {_DELTA_SCAN_OPS}")

    def may_match(e: dict) -> bool:
        raw = e.get("stats")
        if not raw:
            return True
        try:
            st = _json.loads(raw) if isinstance(raw, str) else raw
        except ValueError:
            return True
        lo = (st.get("minValues") or {}).get(col_name)
        hi = (st.get("maxValues") or {}).get(col_name)
        if lo is None or hi is None:
            return True
        if isinstance(lo, float) and (math.isnan(lo) or math.isnan(hi)):
            return True
        v = val
        if isinstance(lo, str) and isinstance(
            v, (datetime.date, datetime.datetime)
        ):
            v = v.isoformat(sep=" ") if isinstance(
                v, datetime.datetime
            ) else v.isoformat()
        try:
            if op == ">=":
                return hi >= v
            if op == ">":
                return hi > v
            if op == "<=":
                return lo <= v
            if op == "<":
                return lo < v
            return lo <= v <= hi  # "="
        except TypeError:
            return True

    return {rel: e for rel, e in live.items() if may_match(e)}


def read_iceberg_snapshot(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    as_of_ms: int | None = None,
    partition_filter: dict | None = None,
    scan_filter: tuple | None = None,
    ref: str | None = None,
) -> DataFrame:
    """Minimal Apache Iceberg snapshot reader built on the PUBLIC Iceberg
    table spec (iceberg.apache.org/spec/): pick a snapshot from the current
    ``metadata/v*.metadata.json``, decode its Avro manifest list and
    manifests with :mod:`.avro_lite`, and scan the surviving data files.
    ``snapshot_id`` pins an exact snapshot (time travel); ``as_of_ms``
    picks the latest snapshot at or before a timestamp; ``ref`` reads a
    named snapshot reference (``iceberg.tag_iceberg_snapshot``; ``"main"``
    is the implicit current head).

    Like the Delta fallback this is driver-side METADATA work only — a
    manifest is KB-scale Avro — and the data scan stays a distributed
    parquet read. V2 merge-on-read delete files are honored, both kinds:

    - POSITION deletes: delete manifests' (file_path, pos) rows anti-join
      the data scan on the hidden ``_metadata.file_path`` /
      ``_metadata.row_index`` columns;
    - EQUALITY deletes: each delete file's key rows anti-join the data
      scan null-safely on the equality columns (resolved from the table
      schema's field ids), scoped by the spec's sequence-number rule —
      an equality delete applies only to data files whose data sequence
      number is STRICTLY LOWER than the delete's, so re-inserted keys in
      later appends survive.

    Both applications are fully distributed (the delete side is broadcast;
    no driver materialization). Features the minimal reader can't honor
    without wrong results fail fast with NotImplementedError (non-parquet
    files, equality ids without a field-id schema); ``status=2`` handling
    follows the spec (deleted entries are skipped).
    """
    if ref is not None:
        if snapshot_id is not None or as_of_ms is not None:
            raise ValueError(
                "ref is mutually exclusive with snapshot_id / as_of_ms"
            )
        from .iceberg import resolve_iceberg_ref

        snapshot_id = resolve_iceberg_ref(path, ref)
    return _iceberg_live_scan(
        spark,
        path,
        snapshot_id,
        as_of_ms,
        keep_coords=False,
        partition_filter=partition_filter,
        scan_filter=scan_filter,
    )


def _iceberg_live_scan(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    as_of_ms: int | None = None,
    keep_coords: bool = False,
    partition_filter: dict | None = None,
    scan_filter: tuple | None = None,
    only_files: "set[str] | None" = None,
) -> DataFrame:
    """Shared live-row scan of the reader and the delete writers: data scan
    with all existing position AND equality deletes applied. With
    ``keep_coords`` the (``__fp``, ``__pos``) coordinate columns survive so
    the position-delete writer can capture them. ``only_files`` restricts
    the scan to the given data-file paths (delete files still apply —
    the incremental bin-packer reads just the fragmented files' LIVE
    rows through this)."""
    data_files, delete_files, eq_deletes, snap = _iceberg_snapshot_files(
        path, snapshot_id, as_of_ms
    )
    if only_files is not None:
        data_files = [e for e in data_files if e.path in only_files]
    if partition_filter:
        # manifest-level PARTITION PRUNING: entries whose identity
        # partition record (a dict from avro_lite's record decode) doesn't
        # match are dropped BEFORE any scan is planned — excluded
        # partitions cost zero I/O.
        def _pv(part):
            return part or {}

        known = set()
        for e in data_files:
            known |= set(_pv(e.partition))
        bad = [k for k in partition_filter if k not in known]
        if bad:
            raise ValueError(
                f"partition_filter keys {bad} are not partition columns "
                "of this table"
            )
        # partition evolution: a file written under a spec that PREDATES
        # the filtered field carries no value for it and is
        # conservatively KEPT (the result is a superset on evolved
        # tables; exact slices come from scan_filter / row predicates) —
        # files that DO carry the field match exactly as before
        data_files = [
            e
            for e in data_files
            if all(
                k not in _pv(e.partition)
                or _pf_match(_pv(e.partition).get(k), v)
                for k, v in partition_filter.items()
            )
        ]
        if not data_files:
            raise NoMatchingFilesError(
                f"no files match partition_filter {partition_filter}"
            )
    if scan_filter and data_files:
        # partition-transform pruning first (manifest-side, whole
        # bucket/range partitions drop), then zone maps on the survivors
        pruned = _transform_partition_prune(path, data_files, scan_filter)
        pruned = _zone_map_prune(path, pruned, scan_filter) if pruned else []
        # all files skipped: a legal EMPTY result, not an error — scan one
        # file for the schema and let the row filter drop everything
        data_files = pruned or data_files[:1]
    if not data_files:
        raise ValueError(f"Iceberg snapshot {snap['snapshot-id']} has no files")
    # identity-partitioned Iceberg data files still CONTAIN their partition
    # source columns (unlike Hive layout), so a plain scan is complete.
    # Mixed-format tables (row-oriented AVRO fast-appends awaiting
    # compaction next to columnar parquet) union the two scans; both emit
    # the same (__fp, __pos) coordinates, so deletes compose identically.
    pq_entries = [e for e in data_files if e.fmt == "PARQUET"]
    av_entries = [e for e in data_files if e.fmt == "AVRO"]
    legacy = _iceberg_legacy_names(path)
    parts = []
    if pq_entries:
        reader = spark.read
        expected = _iceberg_expected_schema(path)
        if expected is not None:
            scan_schema = expected
            if legacy:
                # RENAMED columns (name mapping): widen the read schema
                # with one nullable twin per historical name — a file
                # carries exactly one of the names (names may not be
                # reused across fields, enforced at rename/evolve time),
                # so the per-field coalesce below picks the populated
                # column and pre-rename files keep resolving
                from pyspark.sql.types import StructField, StructType

                cur = {f.name: f for f in expected.fields}
                extra = [
                    StructField(h, cur[c].dataType, True)
                    for c, hs in legacy.items()
                    for h in hs
                ]
                scan_schema = StructType(list(expected.fields) + extra)
            # schema-evolution correctness: files predating an added
            # column null-fill it, and the scan's column order follows
            # the TABLE schema instead of whichever file got sampled
            reader = reader.schema(scan_schema)
        scan = reader.parquet(*[e.path for e in pq_entries])
        if expected is not None and legacy:
            cols = [
                F.coalesce(
                    F.col(f.name), *[F.col(h) for h in legacy[f.name]]
                ).alias(f.name)
                if f.name in legacy
                else F.col(f.name)
                for f in expected.fields
            ]
        else:
            cols = [F.col(c) for c in scan.columns]
        parts.append(
            scan.select(
                *cols,
                _uri_to_path(F.col("_metadata.file_path")).alias("__fp"),
                F.col("_metadata.row_index").alias("__pos"),
            )
        )
    if av_entries:
        parts.append(_scan_iceberg_avro(spark, path, av_entries))
    data = parts[0]
    for p in parts[1:]:
        data = data.unionByName(p)
    if delete_files:
        data = data.join(
            _position_delete_rows(spark, delete_files),
            ["__fp", "__pos"],
            "left_anti",
        )
    if eq_deletes:
        data = _apply_equality_deletes(
            spark, data, data_files, eq_deletes, legacy
        )
    if scan_filter:
        # the kept files are a SUPERSET (bounds are file-level): the row
        # predicate still applies, pushed to the parquet scan by Catalyst
        col_name, op, val = scan_filter
        c = F.col(col_name)
        data = data.filter(
            {
                ">=": c >= F.lit(val),
                ">": c > F.lit(val),
                "<=": c <= F.lit(val),
                "<": c < F.lit(val),
                "=": c == F.lit(val),
            }[op]
        )
    return data if keep_coords else data.drop("__fp", "__pos")


# iceberg primitive -> spark DDL for the avro data-file scan (the subset
# write_iceberg_append(file_format="avro") can produce)
_ICE_TO_SPARK_DDL = {
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "string": "string",
    "boolean": "boolean",
}

# full iceberg primitive -> spark DDL map for the parquet scan's expected
# schema (schema evolution: files written before a column was added lack
# it, and an EXPLICIT read schema makes Spark null-fill by name instead
# of pinning the scan to whichever file it samples first)
_ICE_TO_SPARK_DDL_FULL = {
    **_ICE_TO_SPARK_DDL,
    "date": "date",
    "timestamp": "timestamp_ntz",
    "timestamptz": "timestamp",
    "binary": "binary",
}


def _iceberg_expected_schema(path: str):
    """The table's CURRENT schema as a Spark StructType (all fields
    nullable), or None when the table has no field-id schema or uses a
    type outside the primitive map — the scan then falls back to
    parquet-sampled schema exactly as before."""
    import json
    import os

    from pyspark.sql.types import StructType

    meta_dir = os.path.join(path, "metadata")
    try:
        versions = sorted(
            (f for f in os.listdir(meta_dir) if f.endswith(".metadata.json")),
            key=lambda p: int(p[1:].split(".")[0]),
        )
        with open(os.path.join(meta_dir, versions[-1])) as fh:
            meta = json.load(fh)
    except (OSError, ValueError):
        return None
    schemas = meta.get("schemas") or []
    if not schemas:
        return None
    parts = []
    for f in schemas[0]["fields"]:
        t = f.get("type")
        if isinstance(t, str) and t.startswith("decimal("):
            ddl = t
        elif isinstance(t, dict) and t.get("type") == "list":
            # nested list type (spec 'Schemas' — e.g. embedding columns
            # of the persisted ANN index): array<element-ddl>
            et_raw = t.get("element")
            if isinstance(et_raw, str) and et_raw.startswith("decimal("):
                et = et_raw  # decimal elements keep their (p, s) ddl
            elif isinstance(et_raw, str):
                et = _ICE_TO_SPARK_DDL_FULL.get(et_raw)
            else:
                et = None
            ddl = f"array<{et}>" if et else None
        else:
            ddl = _ICE_TO_SPARK_DDL_FULL.get(t) if isinstance(t, str) else None
        if ddl is None:
            return None
        parts.append(f"`{f['name']}` {ddl}")
    return StructType.fromDDL(", ".join(parts))


def _iceberg_legacy_names(path: str) -> dict[str, list[str]]:
    """current column name → HISTORICAL names (newest first), from the
    table's ``schema.name-mapping.default`` property (written by
    ``rename_iceberg_column``). Empty when no column was ever renamed —
    the scan then skips the coalesce resolution entirely. Our data files
    carry no parquet field ids, so this mapping is how files written
    under a pre-rename name keep resolving (spec "Column Projection":
    name mapping as the field-id fallback)."""
    import json
    import os

    meta_dir = os.path.join(path, "metadata")
    try:
        versions = sorted(
            (f for f in os.listdir(meta_dir) if f.endswith(".metadata.json")),
            key=lambda p: int(p[1:].split(".")[0]),
        )
        with open(os.path.join(meta_dir, versions[-1])) as fh:
            meta = json.load(fh)
    except (OSError, ValueError):
        return {}
    raw = (meta.get("properties") or {}).get("schema.name-mapping.default")
    if not raw:
        return {}
    mapping = {m["field-id"]: m.get("names", []) for m in json.loads(raw)}
    out: dict[str, list[str]] = {}
    for f in (meta.get("schemas") or [{}])[0].get("fields", []):
        names = mapping.get(f["id"])
        if names:
            hist = [n for n in names if n != f["name"]]
            if hist:
                out[f["name"]] = list(reversed(hist))  # newest first
    return out


def _scan_iceberg_avro(
    spark: SparkSession, path: str, entries: "list[_DataFile]"
) -> DataFrame:
    """Distributed scan of Iceberg AVRO data files (row-oriented
    fast-append files — the format small frequent commits use before
    :func:`~.iceberg.rewrite_iceberg_table` bin-packs them to parquet).

    Spark ships no avro reader without the external spark-avro jar, so the
    decode runs through :mod:`.avro_lite` INSIDE the executors: the file
    list parallelizes one-file-per-task (``repartition`` on the path — a
    KB-scale shuffle of strings) and each task decodes its file into Arrow
    batches via ``mapInPandas``. Emits the same hidden ``(__fp, __pos)``
    coordinates as the parquet scan — ``__fp`` is the manifest-resolved
    path and ``__pos`` the record index — so position and equality deletes
    compose identically across formats. The expected schema comes from the
    table's field-id schema, NOT from the files (renames stay
    metadata-only); types outside the avro-append subset fail fast."""
    import json
    import os

    from pyspark.sql.types import StructType

    meta_dir = os.path.join(path, "metadata")
    versions = sorted(
        (f for f in os.listdir(meta_dir) if f.endswith(".metadata.json")),
        key=lambda p: int(p[1:].split(".")[0]),
    )
    with open(os.path.join(meta_dir, versions[-1])) as fh:
        meta = json.load(fh)
    schemas = meta.get("schemas") or []
    if not schemas:
        raise NotImplementedError(
            "Iceberg AVRO data files need the table's field-id schema: "
            "use the iceberg-spark-runtime connector"
        )
    names, ddl_parts = [], []
    for f in schemas[0]["fields"]:
        t = (
            _ICE_TO_SPARK_DDL.get(f["type"])
            if isinstance(f["type"], str)
            else None
        )
        if t is None:
            raise NotImplementedError(
                f"Iceberg AVRO data file column {f['name']!r} of type "
                f"{f['type']!r}: use the iceberg-spark-runtime connector"
            )
        names.append(f["name"])
        ddl_parts.append(f"`{f['name']}` {t}")
    out_schema = StructType.fromDDL(
        ", ".join(ddl_parts + ["`__fp` string", "`__pos` bigint"])
    )
    paths = [os.path.abspath(e.path) for e in entries]
    files_df = local_frame(
        spark, [(p,) for p in paths], "__path string"
    ).repartition(len(paths), "__path")
    # RENAME support (name mapping): an avro record decoded from a file
    # written pre-rename keys its values by the historical name — try
    # the current name first, then the historical ones (newest first)
    legacy = _iceberg_legacy_names(path)
    cands = {n: [n] + legacy.get(n, []) for n in names}

    def _decode(batches):
        import pandas as pd

        from mysoftware_nocnetintel_spark.sources.avro_lite import (
            read_avro_file,
        )

        for pdf in batches:
            for p in pdf["__path"]:
                _, recs = read_avro_file(p)
                out = pd.DataFrame(
                    [
                        [
                            next(
                                (r[c] for c in cands[n] if c in r), None
                            )
                            for n in names
                        ]
                        for r in recs
                    ],
                    columns=names,
                )
                out["__fp"] = p
                out["__pos"] = range(len(recs))
                yield out

    return files_df.mapInPandas(_decode, out_schema)


_SCAN_FILTER_OPS = (">=", ">", "<=", "<", "=")


def _zone_map_prune(
    path: str, data_files: "list[_DataFile]", scan_filter: tuple
) -> "list[_DataFile]":
    """ZONE-MAP file skipping: drop data files whose manifest column
    bounds (lower_bounds/upper_bounds, written from the parquet row-group
    statistics) prove no row can satisfy ``(column, op, value)``. Files
    without bounds for the column are always kept — skipping is only ever
    an optimization, never a correctness decision; the row-level filter
    still runs on the survivors."""
    import json
    import os

    col_name, op, val = scan_filter
    if op not in _SCAN_FILTER_OPS:
        raise ValueError(f"scan_filter op must be one of {_SCAN_FILTER_OPS}")
    meta_dir = os.path.join(path, "metadata")
    versions = sorted(
        (f for f in os.listdir(meta_dir) if f.endswith(".metadata.json")),
        key=lambda p: int(p[1:].split(".")[0]),
    )
    with open(os.path.join(meta_dir, versions[-1])) as fh:
        meta = json.load(fh)
    schemas = meta.get("schemas") or []
    name_to_id = (
        {f["name"]: f["id"] for f in schemas[0]["fields"]} if schemas else {}
    )
    if col_name not in name_to_id:
        raise ValueError(
            f"scan_filter column {col_name!r} not in the table's field-id "
            "schema"
        )
    fid = str(name_to_id[col_name])

    import datetime

    def may_match(e: "_DataFile") -> bool:
        lo = (e.lower or {}).get(fid)
        hi = (e.upper or {}).get(fid)
        if lo is None or hi is None:
            return True  # no bounds → cannot skip safely
        # A NaN bound (e.g. written by another engine whose stats include
        # NaN) makes every comparison below False; never skip on it.
        if isinstance(lo, float) and (math.isnan(lo) or math.isnan(hi)):
            return True
        v = val
        if isinstance(lo, str) and isinstance(
            v, (datetime.date, datetime.datetime)
        ):
            # date/timestamp bounds round-trip as ISO strings, which sort
            # identically to the values they encode
            v = v.isoformat(sep=" ") if isinstance(
                v, datetime.datetime
            ) else v.isoformat()
        try:
            if op == ">=":
                return hi >= v
            if op == ">":
                return hi > v
            if op == "<=":
                return lo <= v
            if op == "<":
                return lo < v
            return lo <= v <= hi  # "="
        except TypeError:
            return True  # incomparable bound/literal → never skip on it

    return [e for e in data_files if may_match(e)]


def _transform_partition_prune(
    path: str, data_files: "list[_DataFile]", scan_filter: tuple
) -> "list[_DataFile]":
    """PARTITION-TRANSFORM pruning for ``scan_filter`` predicates on a
    partition SOURCE column (Iceberg spec "Partition Transforms"):

    - ``bucket[N]`` fields prune equality predicates — a file whose
      partition record holds a different bucket than
      ``bucket(literal)`` cannot contain the value (1/N of the data
      survives, decided manifest-side before any scan is planned);
    - ``truncate[W]`` fields prune ranges too, because int
      floor-to-width and string prefix-of-width are MONOTONIC: v ≥ L
      implies trunc(v) ≥ trunc(L), so strict ops compare non-strictly
      on the truncated value;
    - identity fields are left to the zone-map pruner (identity
      partition values equal the per-file min=max bounds).

    Files with no partition record or a null value are always kept —
    like zone maps, this is an optimization, never a correctness
    decision (the row filter still runs on survivors)."""
    import json
    import os

    from .iceberg_transforms import (
        bucket_value,
        time_transform_value,
        truncate_value,
    )

    col_name, op, val = scan_filter
    meta_dir = os.path.join(path, "metadata")
    versions = sorted(
        (f for f in os.listdir(meta_dir) if f.endswith(".metadata.json")),
        key=lambda p: int(p[1:].split(".")[0]),
    )
    with open(os.path.join(meta_dir, versions[-1])) as fh:
        meta = json.load(fh)
    specs = meta.get("partition-specs") or []
    if not specs:
        return data_files
    schemas = meta.get("schemas") or []
    if not schemas:
        return data_files
    by_id = {f["id"]: f for f in schemas[0]["fields"]}
    # partition evolution: prune with EVERY spec's transform fields, not
    # just the default's — each keep() already treats a file whose record
    # lacks the field as "keep", so a transform only ever drops files
    # written under a spec that carries it. Field names are unique per
    # meaning (update_iceberg_partition_spec refuses name reuse with a
    # different source/transform), so deduping by partition field-id is
    # exact; old-spec files keep pruning at their own granularity after
    # an evolution, new-spec files at theirs.
    seen_pfids: set = set()
    all_fields: list[dict] = []
    for sp in specs:
        for f in sp.get("fields", []):
            # key by (field-id, name): legacy pre-transform specs wrote
            # fields without ids, which must not dedup against each other
            k = (f.get("field-id"), f.get("name"))
            if k in seen_pfids:
                continue
            seen_pfids.add(k)
            all_fields.append(f)
    for f in all_fields:
        src = by_id.get(f.get("source-id"))
        if src is None or src["name"] != col_name:
            continue
        t = f.get("transform", "identity")
        if t.startswith("bucket["):
            if op != "=":
                continue
            try:
                want = bucket_value(val, src["type"], int(t[7:-1]))
            except (ValueError, TypeError):
                continue  # undigestible literal → prune nothing

            def keep(e, name=f["name"], want=want):
                pv = (e.partition or {}).get(name)
                return pv is None or pv == want

        elif t.startswith("truncate[") or t in ("year", "month", "day", "hour"):
            # both families are MONOTONIC in the source value, so the
            # same conservative range logic applies. Pruning must stay
            # CONSERVATIVE under literals the transform can't digest
            # (e.g. a date-only string against an hour transform —
            # round-5 advisor: it raised and failed the whole read):
            # keep every file and let the row filter do the work.
            try:
                want = (
                    time_transform_value(val, t)
                    if t in ("year", "month", "day", "hour")
                    else truncate_value(val, src["type"], int(t[9:-1]))
                )
            except (ValueError, TypeError):
                continue

            def keep(e, name=f["name"], want=want, op=op):
                pv = (e.partition or {}).get(name)
                if pv is None:
                    return True
                if op == "=":
                    return pv == want
                if op in (">=", ">"):
                    return pv >= want
                return pv <= want  # "<=", "<"

        else:
            continue
        data_files = [e for e in data_files if keep(e)]
    return data_files


def _bucket_spec_for(path: str, col: str) -> tuple[str, int] | None:
    """(partition-field name, N) of a ``bucket[N]`` spec field whose
    SOURCE column is ``col``, or None if the table isn't bucketed on
    it."""
    import json
    import os

    meta_dir = os.path.join(path, "metadata")
    versions = sorted(
        (f for f in os.listdir(meta_dir) if f.endswith(".metadata.json")),
        key=lambda p: int(p[1:].split(".")[0]),
    )
    with open(os.path.join(meta_dir, versions[-1])) as fh:
        meta = json.load(fh)
    specs = meta.get("partition-specs") or []
    schemas = meta.get("schemas") or []
    if not specs or not schemas:
        return None
    by_id = {f["id"]: f["name"] for f in schemas[0]["fields"]}
    for f in specs[meta.get("default-spec-id", 0)].get("fields", []):
        t = f.get("transform", "")
        if t.startswith("bucket[") and by_id.get(f.get("source-id")) == col:
            return f["name"], int(t[7:-1])
    return None


def read_iceberg_bucket_join(
    spark: SparkSession, left_path: str, right_path: str, on: str
) -> DataFrame:
    """BUCKET-COLOCATED inner equi-join of two Iceberg tables that share
    a ``bucket[N]`` partition spec on the join key — the payoff of bucket
    partitioning at scale (the filesystem analogue of Spark's
    storage-partitioned join, which needs the DSv2 connector to report
    partitioning; a real cluster deployment would use
    iceberg-spark-runtime and get the same effect from one join).

    Instead of shuffling BOTH full tables on the key, the join is planned
    as N per-bucket sub-joins (bucket b of the left against bucket b of
    the right — correct because both sides use the spec's identical
    murmur3 bucket function, verified from the two tables' metadata),
    unioned. Each sub-join touches 1/N of each table: peak shuffle/build
    memory drops by N, Catalyst may broadcast a small bucket's side
    outright, and AQE sizes each slice independently. Buckets empty on
    either side are never planned (inner-join semantics; the NULL-key
    partition never matches and is skipped). Merge-on-read deletes
    compose — every sub-scan goes through the snapshot reader.

    Driver cost: metadata is KB-scale and re-read per planned bucket
    (≤ 2N manifest decodes) — negligible next to the scans it saves."""
    ls = _bucket_spec_for(left_path, on)
    rs = _bucket_spec_for(right_path, on)
    if ls is None or rs is None:
        raise ValueError(
            f"both tables must be bucket-partitioned on {on!r} "
            f"(left={ls}, right={rs}): use a plain join for "
            "unbucketed tables"
        )
    if ls[1] != rs[1]:
        raise ValueError(
            f"bucket widths differ (left bucket[{ls[1]}] vs right "
            f"bucket[{rs[1]}]): co-located planning needs identical specs"
        )
    lname, n = ls
    rname = rs[0]

    def _live_buckets(path, field):
        data_files, _d, _e, _s = _iceberg_snapshot_files(path)
        return {
            (e.partition or {}).get(field)
            for e in data_files
            if (e.partition or {}).get(field) is not None
        }

    buckets = sorted(
        _live_buckets(left_path, lname) & _live_buckets(right_path, rname)
    )
    parts = [
        read_iceberg_snapshot(
            spark, left_path, partition_filter={lname: b}
        ).join(
            read_iceberg_snapshot(
                spark, right_path, partition_filter={rname: b}
            ),
            on,
        )
        for b in buckets
    ]
    if not parts:
        # no overlapping non-empty bucket: a legal EMPTY join result
        return read_iceberg_snapshot(spark, left_path).limit(0).join(
            read_iceberg_snapshot(spark, right_path).limit(0), on
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _iceberg_local_path(p: str) -> str:
    """Manifest/metadata location → plain local path. Our own writer
    records plain paths (identity); a foreign writer's ``file:`` URI is
    percent-encoded per java.net.URI, so decode after the scheme strip
    (urllib.parse.unquote leaves ``+`` alone, matching URI semantics)."""
    from urllib.parse import unquote

    if p.startswith("file://"):
        return unquote(p[7:])
    if p.startswith("file:"):
        return unquote(p[5:])
    return p


class _DataFile(NamedTuple):
    """A live data-file entry from the snapshot walk."""

    path: str
    seq: int
    partition: dict | None
    lower: dict | None  # str(field id) -> typed min (zone map)
    upper: dict | None
    fmt: str = "PARQUET"  # PARQUET | AVRO
    spec_id: int = 0  # partition spec the entry's manifest was written under


class _DVDelete(NamedTuple):
    """An Iceberg v3 deletion-vector delete entry (round 11): one Puffin
    ``deletion-vector-v1`` blob masking one data file (at most one DV
    per data file, per the v3 spec). Travels in the same
    ``pos_delete_files`` list as v2 parquet delete paths — both decode
    to the identical (__fp, __pos) mask in
    :func:`_position_delete_rows`, so the two generations compose."""

    data_path: str  # the masked data file (local path)
    puffin_path: str  # the Puffin container holding the blob
    offset: int  # manifest content_offset
    size: int  # manifest content_size_in_bytes


def _check_iceberg_v3_features(meta: dict) -> None:
    """Narrowed format-version-3 gate (round 11): deletion vectors are
    read natively (Puffin blobs → the same per-file position masks v2
    uses); every OTHER v3 feature still fails fast with its own remedy,
    because misreading it returns WRONG ROWS, not degraded ones — row
    lineage changes what the lineage columns mean, default values
    change column values, and the new types have no mapping here."""
    if "next-row-id" in meta or any(
        "first-row-id" in s for s in meta.get("snapshots") or []
    ):
        raise NotImplementedError(
            "Iceberg format-version 3 row lineage (next-row-id / "
            "first-row-id) is not supported by the minimal reader: use "
            "the iceberg-spark-runtime connector"
        )
    def _walk_fields(fields) -> None:
        # RECURSIVE: defaults and v3-only types can hide at any nesting
        # depth (struct fields, list elements, map keys/values) — a
        # top-level-only check would misread them instead of refusing
        for f in fields or []:
            if "initial-default" in f or "write-default" in f:
                raise NotImplementedError(
                    "Iceberg format-version 3 default values (field "
                    f"{f.get('name')!r}) are not supported by the "
                    "minimal reader: use the iceberg-spark-runtime "
                    "connector"
                )
            _walk_type(f.get("type"), f.get("name"))

    def _walk_type(t, name) -> None:
        if isinstance(t, str):
            if (
                t in ("unknown", "variant", "timestamp_ns", "timestamptz_ns")
                or t.startswith("geometry")
                or t.startswith("geography")
            ):
                raise NotImplementedError(
                    f"Iceberg format-version 3 type {t!r} (field "
                    f"{name!r}) is not supported by the minimal "
                    "reader: use the iceberg-spark-runtime connector"
                )
            return
        if isinstance(t, dict):
            kind = t.get("type")
            if kind == "struct":
                _walk_fields(t.get("fields"))
            elif kind == "list":
                _walk_type(t.get("element"), name)
            elif kind == "map":
                _walk_type(t.get("key"), name)
                _walk_type(t.get("value"), name)

    for sch in meta.get("schemas") or []:
        _walk_fields(sch.get("fields"))


def _iceberg_snapshot_files(
    path: str, snapshot_id: int | None = None, as_of_ms: int | None = None
) -> tuple[list[tuple[str, int]], list[str], list[tuple[str, int, list[str]]], dict]:
    """Resolve an Iceberg snapshot to its live file sets — the shared
    metadata walk of the minimal reader and the delete writers. Driver-side
    KB-scale work. Returns::

        (data_files,      # [_DataFile(path, seq, partition, lower, upper)]
         pos_delete_files,  # [path | _DVDelete]  (v2 parquet | v3 DV)
         eq_deletes,      # [(path, sequence_number, [equality column name])]
         snapshot)

    Sequence numbers follow the spec's manifest inheritance: an entry with
    no explicit sequence number inherits its manifest's ``sequence_number``
    (our writer never writes per-entry overrides). Equality field ids are
    resolved to column NAMES via the current table schema
    (``metadata.json`` ``schemas`` / ``current-schema-id``); an equality
    delete against a table with no field-id schema fails fast."""
    import json
    import os
    from glob import glob

    from .avro_lite import read_avro_file

    meta_dir = os.path.join(path, "metadata")
    versions = sorted(
        glob(os.path.join(meta_dir, "v*.metadata.json")),
        key=lambda p: int(os.path.basename(p)[1:].split(".")[0]),
    )
    if not versions:
        raise FileNotFoundError(f"no Iceberg metadata at {meta_dir}")
    with open(versions[-1]) as fh:
        meta = json.load(fh)
    fv = meta.get("format-version", 1)
    if fv == 3:
        # round-11 narrowing (docs/iceberg_v3_scope.md): deletion
        # vectors read natively below; row lineage / default values /
        # new types still fail FAST — never misread
        _check_iceberg_v3_features(meta)
    elif fv > 3:
        raise NotImplementedError(
            f"Iceberg format-version {fv} is not supported by the "
            "minimal reader: use the iceberg-spark-runtime connector"
        )
    snapshots = meta.get("snapshots") or []
    if not snapshots:
        raise ValueError(f"Iceberg table at {path} has no snapshots")
    if snapshot_id is not None:
        chosen = [s for s in snapshots if s["snapshot-id"] == snapshot_id]
        if not chosen:
            raise ValueError(f"snapshot {snapshot_id} not found")
        snap = chosen[0]
    elif as_of_ms is not None:
        eligible = [s for s in snapshots if s["timestamp-ms"] <= as_of_ms]
        if not eligible:
            raise ValueError(f"no snapshot at or before {as_of_ms}")
        snap = max(eligible, key=lambda s: s["timestamp-ms"])
    else:
        cur = meta.get("current-snapshot-id")
        snap = next(s for s in snapshots if s["snapshot-id"] == cur)

    id_to_name: dict[int, str] = {}
    id_to_type: dict[str, str] = {}
    schemas = meta.get("schemas") or []
    cur_schema = next(
        (s for s in schemas if s.get("schema-id") == meta.get("current-schema-id")),
        schemas[0] if schemas else None,
    )
    if cur_schema:
        id_to_name = {f["id"]: f["name"] for f in cur_schema.get("fields", [])}
        id_to_type = {
            str(f["id"]): f["type"]
            for f in cur_schema.get("fields", [])
            if isinstance(f.get("type"), str)
        }

    def _decode_bounds(raw: dict | None) -> dict | None:
        """Manifest bound maps carry the spec's binary single-value
        serialization (iceberg.decode_bound_value; legacy typed values
        pass through) — decode to comparable python values for the
        zone-map pruner."""
        if not raw:
            return raw
        from .iceberg import decode_bound_value

        return {
            fid: decode_bound_value(id_to_type.get(fid, "string"), v)
            for fid, v in raw.items()
            if fid in id_to_type or not isinstance(v, (bytes, bytearray))
        }

    data_files: list[_DataFile] = []
    delete_files: list[str] = []
    eq_deletes: list[tuple[str, int, list[str]]] = []
    _, manifests = read_avro_file(_iceberg_local_path(snap["manifest-list"]))
    for m in manifests:
        # v2 manifest-list rows carry `content`: 0=data, 1=deletes
        content = m.get("content", 0)
        if content not in (0, 1):
            raise NotImplementedError(
                f"Iceberg manifest content={content}: use the "
                "iceberg-spark-runtime connector"
            )
        m_seq = m.get("sequence_number", 0)
        _, entries = read_avro_file(_iceberg_local_path(m["manifest_path"]))
        for e in entries:
            if e.get("status") == 2:  # DELETED entry — not live in snapshot
                continue
            # spec sequence-number inheritance: an explicit entry-level
            # value pins the file's data sequence number (manifest
            # consolidation moves old entries into new manifests); null
            # inherits the manifest-list row's
            e_seq = e.get("sequence_number")
            e_seq = m_seq if e_seq is None else e_seq
            df_rec = e["data_file"]
            fc = df_rec.get("content", 0)
            fmt = df_rec["file_format"].upper()
            if fmt == "PUFFIN" and fc == 1:
                # v3 deletion vector: ONE blob inside a Puffin file,
                # referenced per data file via explicit coordinates
                ref = df_rec.get("referenced_data_file")
                off = df_rec.get("content_offset")
                size = df_rec.get("content_size_in_bytes")
                if not ref or off is None or size is None:
                    raise NotImplementedError(
                        "Iceberg PUFFIN delete entry without "
                        "referenced_data_file/content_offset/"
                        "content_size_in_bytes: use the "
                        "iceberg-spark-runtime connector"
                    )
                delete_files.append(
                    _DVDelete(
                        _iceberg_local_path(ref),
                        _iceberg_local_path(df_rec["file_path"]),
                        int(off),
                        int(size),
                    )
                )
                continue
            if fmt not in ("PARQUET", "AVRO"):
                raise NotImplementedError(
                    f"Iceberg {df_rec['file_format']} files "
                    "(minimal reader scans parquet and avro only)"
                )
            if fc != 0 and fmt != "PARQUET":
                raise NotImplementedError(
                    f"Iceberg {fmt} DELETE files (parquet delete files "
                    "only): use the iceberg-spark-runtime connector"
                )
            fpath = _iceberg_local_path(df_rec["file_path"])
            if fc == 0:
                data_files.append(
                    _DataFile(
                        fpath,
                        e_seq,
                        df_rec.get("partition"),
                        _decode_bounds(df_rec.get("lower_bounds")),
                        _decode_bounds(df_rec.get("upper_bounds")),
                        fmt,
                        spec_id=m.get("partition_spec_id", 0),
                    )
                )
            elif fc == 1:  # position deletes
                delete_files.append(fpath)
            else:  # 2 = equality deletes
                ids = df_rec.get("equality_ids") or []
                if not ids:
                    raise NotImplementedError(
                        "Iceberg equality delete file without equality_ids: "
                        "use the iceberg-spark-runtime connector"
                    )
                missing = [i for i in ids if i not in id_to_name]
                if missing:
                    raise NotImplementedError(
                        f"equality field ids {missing} not resolvable (table "
                        "has no field-id schema for them): use the "
                        "iceberg-spark-runtime connector"
                    )
                eq_deletes.append(
                    (fpath, e_seq, [id_to_name[i] for i in ids])
                )
    return data_files, delete_files, eq_deletes, snap


def _apply_equality_deletes(
    spark: SparkSession,
    data: DataFrame,
    data_files: "list[_DataFile]",
    eq_deletes: list[tuple[str, int, list[str]]],
    legacy: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Merge-on-read equality deletes, spec semantics: a delete row kills a
    data row iff the equality columns match NULL-SAFELY and the data file's
    data sequence number is STRICTLY LOWER than the delete file's. Delete
    files are grouped by their equality-column set, and each group is ONE
    scan of all its files under an explicit schema (the data scan's column
    types, so no schema-inference job runs per file) and one broadcast
    anti-join. Every file's sequence number — data or delete — reaches its
    rows through one broadcast join on the hidden file path (KB-scale map,
    never collected back; the data and delete sides reuse the one
    exchange). Fully distributed — scales with the data scan, not the
    driver."""
    import functools
    from collections import defaultdict

    import pyarrow.parquet as pq

    seq_df = F.broadcast(
        local_frame(
            spark,
            [(e.path, e.seq) for e in data_files]
            + [(fpath, seq) for fpath, seq, _ in eq_deletes],
            "__fp: string, __fseq: long",
        )
    )
    data = data.join(seq_df, "__fp", "inner")
    types = {f.name: f.dataType for f in data.schema.fields}
    groups: dict[tuple[str, ...], list[str]] = defaultdict(list)
    for fpath, _seq, cols in eq_deletes:
        groups[tuple(cols)].append(fpath)
    for cols, paths in groups.items():
        # a delete file written before a column RENAME carries the
        # historical name (the manifest's equality_ids are field ids, so
        # the name mapping resolves it): each historical name is one more
        # nullable column, coalesced — a file carries exactly one of the
        # names, as in the data scan
        names = {c: [c] + (legacy or {}).get(c, []) for c in cols}
        for fpath in paths:
            have = set(pq.read_schema(fpath).names)
            for c in cols:
                if not have.intersection(names[c]):
                    raise ValueError(
                        f"equality-delete file {fpath} lacks column "
                        f"{c!r} (and no historical name matches)"
                    )
        schema = T.StructType(
            [
                T.StructField(n, types[c], True)
                for c in cols
                for n in names[c]
            ]
        )
        dels = (
            spark.read.schema(schema)
            .parquet(*paths)
            .select(
                *[F.coalesce(*map(F.col, names[c])).alias(c) for c in cols],
                _uri_to_path(F.col("_metadata.file_path")).alias("__fp"),
            )
            .join(seq_df, "__fp", "inner")
            .select(*cols, F.col("__fseq").alias("__dseq"))
        )
        cond = functools.reduce(
            lambda a, b: a & b, [data[c].eqNullSafe(dels[c]) for c in cols]
        ) & (dels["__dseq"] > data["__fseq"])
        data = data.join(F.broadcast(dels), cond, "left_anti")
    return data.drop("__fseq")


def _norm_file_path(c):
    """Identity-ish normalization for file paths WE wrote (delete-file
    ``file_path`` columns, manifest entries): they are plain local paths,
    so only a legacy ``file:`` scheme is stripped. NOT for
    ``_metadata.file_path`` — that is a percent-encoded URI; use
    :func:`_uri_to_path`."""
    return F.regexp_replace(c, "^file:/*", "/")


def _uri_to_path(c):
    """``_metadata.file_path`` → plain filesystem path. Spark emits the
    column as a PERCENT-ENCODED URI (``file:///a%20b/f.parquet`` for a
    table dir containing a space), so stripping the scheme alone makes
    every join against driver-side ``os.path`` keys silently empty
    (round-5 advisor: DV-masked rows resurfaced; the Iceberg seq join
    emptied the whole scan). ``url_decode`` follows
    application/x-www-form-urlencoded and would also turn a literal
    ``+`` into a space — URI percent-encoding never produces a ``+`` for
    a space, so ``+`` is pre-escaped to ``%2B`` to survive the decode."""
    stripped = F.regexp_replace(c, "^file:/*", "/")
    return F.url_decode(F.regexp_replace(stripped, r"\+", "%2B"))


def _position_delete_rows(spark: SparkSession, delete_files: list):
    """(__fp, __pos) rows of the given position deletes. v2 parquet
    delete files (str paths) scan distributed; v3 deletion vectors
    (:class:`_DVDelete`) decode DRIVER-side — the blobs are KB-scale
    roaring bitmaps the driver's metadata walk already located — and
    ship as a local relation for the same broadcast anti-join, capped
    like the Delta DV path so a pathological table can't balloon driver
    memory. Both
    kinds compose into ONE mask."""
    paths = [f for f in delete_files if isinstance(f, str)]
    dvs = [f for f in delete_files if isinstance(f, _DVDelete)]
    parts = []
    if paths:
        parts.append(
            spark.read.parquet(*paths).select(
                _norm_file_path(F.col("file_path")).alias("__fp"),
                F.col("pos").cast("long").alias("__pos"),
            )
        )
    if dvs:
        import os

        from .puffin import dv_positions_from_puffin

        rows: list[tuple[str, int]] = []
        total = 0
        for d in dvs:
            positions = dv_positions_from_puffin(
                d.puffin_path, d.offset, d.size
            )
            total += len(positions)
            if total > _MAX_DV_POSITIONS:
                raise NotImplementedError(
                    f"deletion vectors mask more than {_MAX_DV_POSITIONS} "
                    "positions: use the iceberg-spark-runtime connector"
                )
            ap = os.path.abspath(d.data_path)
            rows.extend((ap, p) for p in positions)
        parts.append(local_frame(spark, rows, "__fp string, __pos long"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def jdbc_reader(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 16,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    properties: dict[str, str] | None = None,
):
    """S1: PostgreSQL/JDBC scan (README.md:23). Parallel reads REQUIRE the
    partitionColumn/bounds triple — a bare JDBC read is a single-task scan,
    which at warehouse scale is the classic accidental bottleneck.

    Returns the configured DataFrameReader (caller invokes ``.load()``);
    no database exists in the test environment, so tests stop at config.
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("fetchsize", "10000")
    )
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partitioned JDBC read needs lower/upper bounds")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader
