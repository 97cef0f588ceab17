"""Puffin container + Iceberg v3 deletion-vector codec (round 11),
built from PUBLIC specifications only:

- the Puffin file format (iceberg.apache.org/puffin-spec/): ``PFA1``
  magic at offset 0; blobs; a footer of ``Magic | FooterPayload (JSON)
  | FooterPayloadSize (int32 LE) | Flags (4 bytes) | Magic``. Flag
  byte 0 bit 0 marks an LZ4-compressed payload — REFUSED (no lz4 in
  this container's dependency budget; a compressed footer fails fast
  rather than being misread). The FooterPayload is the FileMetadata
  JSON: ``{"blobs": [BlobMetadata...], "properties": {...}}`` where
  each BlobMetadata carries type/fields/snapshot-id/sequence-number/
  offset/length(+ properties).
- the Iceberg table spec v3 "Deletion Vectors": a
  ``deletion-vector-v1`` blob is ``len(magic+vector) as int32 BE |
  magic D1 D3 39 64 | vector | CRC-32(magic+vector) as int32 BE``,
  the vector being a 64-bit Roaring bitmap in the PORTABLE format
  (sources/roaring.py:decode_portable64 — the framing differs from
  Delta's RoaringBitmapArray, the 32-bit container payloads are
  byte-identical). The blob magic 0xD1D33964 is the little-endian
  encoding of 1681511377 — the same magic word Delta's DV bitmaps use
  (the spec chose it deliberately for cross-format familiarity).
  Manifest position-delete entries reference a DV via file_format
  ``PUFFIN`` + ``referenced_data_file``/``content_offset``/
  ``content_size_in_bytes``; at most ONE DV applies per data file.

Read path (the round-11 "do" row of docs/iceberg_v3_scope.md):
readers._iceberg_snapshot_files routes PUFFIN delete entries here and
applies the decoded positions through the SAME per-file mask v2
position deletes use. Write side: :func:`write_puffin_file` +
:func:`convert_iceberg_position_deletes_to_dvs` mint spec-layout DVs
for an engine-written v2 table — the migration seed and the reader-
conformance fixture builder; it is NOT yet a spec-complete v3 writer
(row lineage, mandatory for lineage-tracking v3 writers, is
intentionally absent and this reader refuses lineage-bearing tables —
see the scope doc's decision matrix).
"""

from __future__ import annotations

import json
import os
import struct
import time
import zlib

from .roaring import decode_portable64, encode_portable64

PUFFIN_MAGIC = b"PFA1"
# int32 LE of 1681511377 — spec'd magic for deletion-vector-v1 blobs
DV_BLOB_MAGIC = b"\xd1\xd3\x39\x64"
DV_BLOB_TYPE = "deletion-vector-v1"
_FLAG_FOOTER_COMPRESSED = 0x01  # footer flags byte 0, bit 0


# ----------------------------------------------------------------- read


def read_puffin_footer(path: str) -> dict:
    """The FileMetadata JSON of a Puffin file, fully verified: leading
    magic, both footer magics, payload size bounds, and the
    compressed-footer flag (refused — fail fast, never misread)."""
    size = os.path.getsize(path)
    # magic + (empty payload) + magic + size + flags + magic = 20 bytes
    if size < 20:
        raise ValueError(f"truncated Puffin file {path} ({size} bytes)")
    with open(path, "rb") as fh:
        if fh.read(4) != PUFFIN_MAGIC:
            raise ValueError(f"{path} is not a Puffin file (bad magic)")
        fh.seek(size - 12)
        payload_size, flags, magic = struct.unpack("<i4s4s", fh.read(12))
        if magic != PUFFIN_MAGIC:
            raise ValueError(f"{path}: bad trailing Puffin magic")
        if flags[0] & _FLAG_FOOTER_COMPRESSED:
            raise NotImplementedError(
                f"{path}: LZ4-compressed Puffin footer is not supported: "
                "use the iceberg-spark-runtime connector"
            )
        if payload_size < 0 or payload_size > size - 20:
            raise ValueError(
                f"{path}: Puffin footer payload size {payload_size} "
                "out of bounds"
            )
        fh.seek(size - 12 - payload_size - 4)
        if fh.read(4) != PUFFIN_MAGIC:
            raise ValueError(f"{path}: bad footer-start Puffin magic")
        payload = fh.read(payload_size)
    meta = json.loads(payload.decode("utf-8"))
    if not isinstance(meta, dict) or not isinstance(meta.get("blobs"), list):
        raise ValueError(f"{path}: malformed Puffin FileMetadata")
    return meta


def read_puffin_blob(path: str, offset: int, length: int) -> bytes:
    """One blob's raw bytes (bounds-checked against the file)."""
    size = os.path.getsize(path)
    if offset < 4 or length < 0 or offset + length > size:
        raise ValueError(
            f"{path}: blob span [{offset}, {offset + length}) outside "
            f"file of {size} bytes"
        )
    with open(path, "rb") as fh:
        fh.seek(offset)
        data = fh.read(length)
    if len(data) != length:
        raise ValueError(f"{path}: short blob read at {offset}")
    return data


def decode_dv_blob(data: bytes) -> list[int]:
    """``deletion-vector-v1`` blob bytes → sorted deleted row positions,
    verifying the length prefix, the magic, and the CRC-32."""
    if len(data) < 12:
        raise ValueError("deletion-vector blob too short")
    (combined,) = struct.unpack_from(">i", data, 0)
    if combined != len(data) - 8:
        raise ValueError(
            f"deletion-vector blob length {combined} != "
            f"{len(data) - 8} payload bytes"
        )
    if data[4:8] != DV_BLOB_MAGIC:
        raise ValueError("bad deletion-vector blob magic")
    (crc,) = struct.unpack_from(">I", data, len(data) - 4)
    if crc != (zlib.crc32(data[4:-4]) & 0xFFFFFFFF):
        raise ValueError("deletion-vector blob CRC mismatch")
    return decode_portable64(data[8:-4])


def dv_positions_from_puffin(path: str, offset: int, length: int) -> list[int]:
    """Manifest-entry coordinates (``content_offset`` /
    ``content_size_in_bytes``) → the referenced DV's deleted positions."""
    return decode_dv_blob(read_puffin_blob(path, offset, length))


# ---------------------------------------------------------------- write


def encode_dv_blob(positions) -> bytes:
    """Sorted (or sortable) row positions → ``deletion-vector-v1`` blob
    bytes (length prefix + magic + portable64 vector + CRC)."""
    vector = encode_portable64(positions)
    body = DV_BLOB_MAGIC + vector
    return (
        struct.pack(">i", len(body))
        + body
        + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
    )


def write_puffin_file(
    path: str, blobs: list[dict], properties: dict | None = None
) -> list[dict]:
    """Write a Puffin file of the given blobs (each a dict with ``type``,
    ``data`` bytes, and optional ``fields``/``snapshot-id``/
    ``sequence-number``/``properties``); returns the BlobMetadata list
    (offsets/lengths filled in) for manifest wiring. Footer is written
    uncompressed."""
    metas: list[dict] = []
    with open(path, "wb") as fh:
        fh.write(PUFFIN_MAGIC)
        pos = 4
        for b in blobs:
            data = b["data"]
            fh.write(data)
            meta = {
                "type": b["type"],
                "fields": list(b.get("fields") or []),
                "snapshot-id": b.get("snapshot-id", -1),
                "sequence-number": b.get("sequence-number", -1),
                "offset": pos,
                "length": len(data),
            }
            if b.get("properties"):
                meta["properties"] = dict(b["properties"])
            metas.append(meta)
            pos += len(data)
        payload = json.dumps(
            {"blobs": metas, "properties": properties or {}}
        ).encode("utf-8")
        fh.write(PUFFIN_MAGIC)
        fh.write(payload)
        fh.write(struct.pack("<i", len(payload)))
        fh.write(b"\x00\x00\x00\x00")  # flags: footer uncompressed
        fh.write(PUFFIN_MAGIC)
    return metas


# ------------------------------------------------- v2 → v3 DV conversion


def convert_iceberg_position_deletes_to_dvs(path: str) -> int:
    """Rewrite an ENGINE-WRITTEN v2 table's live position-delete files
    as Iceberg v3 deletion vectors — one Puffin file carrying one
    ``deletion-vector-v1`` blob per referenced data file (positions
    merged across delete files, at most one DV per data file as the
    spec requires) — and bump ``format-version`` to 3. Returns the new
    snapshot id (or the current one when the table has no position
    deletes — the bump still happens so the result is a v3 table).

    This is the spec's upgrade discipline (v3 forbids NEW position
    delete files; existing ones are rewritten as DVs) applied as one
    commit: a ``replace`` snapshot whose manifest list carries the data
    manifests verbatim, equality-delete manifests verbatim, and one
    fresh delete manifest of PUFFIN DV entries in place of the
    position-delete entries. Driver-side KB-scale metadata work plus
    one read of the (already KB-scale, driver-written) delete parquet.

    Scope (docs/iceberg_v3_scope.md): migration seed + reader-
    conformance fixture builder. NOT a spec-complete v3 writer — row
    lineage (``next-row-id`` / per-file ``first-row-id``) is absent
    even though v3 makes it mandatory, so a SPEC-STRICT foreign engine
    may refuse the emitted metadata; consume it with this engine's
    reader (whose lineage gate tests presence, not requirement). After
    the bump every OTHER writer verb of this engine refuses the table
    (v2-only verbs, gated in ``_load_meta``)."""
    import pyarrow.parquet as pq

    from .avro_lite import read_avro_file
    from .iceberg import _commit_metadata, _commit_row_delta, _owned_meta
    from .readers import _iceberg_local_path

    meta_dir = os.path.join(path, "metadata")
    meta, ver = _owned_meta(path)  # refuses v3+ already
    cur_id = meta.get("current-snapshot-id")
    cur = next(
        (
            s
            for s in meta.get("snapshots") or []
            if cur_id not in (None, -1) and s["snapshot-id"] == cur_id
        ),
        None,
    )
    if cur is None:
        raise ValueError(
            f"Iceberg table at {path} has no current snapshot to convert"
        )
    _, manifests = read_avro_file(_iceberg_local_path(cur["manifest-list"]))

    # split the manifest list: position-delete entries are replaced by
    # DVs; everything else (data manifests, pure equality-delete
    # manifests) travels verbatim
    keep_rows: list[dict] = []
    pos_delete_files: list[str] = []
    for m in manifests:
        if m.get("content", 0) != 1:
            keep_rows.append(m)
            continue
        _, entries = read_avro_file(_iceberg_local_path(m["manifest_path"]))
        live = [e for e in entries if e.get("status") != 2]
        pos_here = [
            e for e in live if e["data_file"].get("content", 0) == 1
        ]
        if not pos_here:
            keep_rows.append(m)
            continue
        if len(pos_here) != len(live):
            # engine manifests never mix delete contents; a foreign
            # layout would force an equality-entry rewrite here
            raise NotImplementedError(
                "position- and equality-delete entries share a manifest "
                "(foreign layout): use the iceberg-spark-runtime connector"
            )
        pos_delete_files.extend(
            _iceberg_local_path(e["data_file"]["file_path"])
            for e in pos_here
        )

    if not pos_delete_files:
        # nothing to rewrite: bump the format version WITHOUT minting a
        # no-op snapshot — the docstring's contract (callers comparing
        # snapshot ids must not mis-detect a data change)
        now_ms = int(time.time() * 1000)
        _commit_metadata(
            meta_dir,
            ver,
            dict(meta, **{"format-version": 3, "last-updated-ms": now_ms}),
        )
        return cur["snapshot-id"]

    by_data_file: dict[str, set] = {}
    for f in sorted(set(pos_delete_files)):
        t = pq.read_table(f, columns=["file_path", "pos"])
        for fp, p in zip(
            t.column("file_path").to_pylist(), t.column("pos").to_pylist()
        ):
            by_data_file.setdefault(fp, set()).add(int(p))
    return _commit_row_delta(
        path,
        meta,
        ver,
        {"operation": "replace"},
        None,
        manifests=_dv_manifests(path, meta, by_data_file, keep_rows),
        updates={"format-version": 3},
    )


def _dv_entry_schema() -> dict:
    """MANIFEST_ENTRY_SCHEMA extended with the v3 DV reference fields
    (referenced_data_file / content_offset / content_size_in_bytes),
    nullable with null defaults so data entries encode unchanged."""
    import copy

    from .iceberg import MANIFEST_ENTRY_SCHEMA

    schema = copy.deepcopy(MANIFEST_ENTRY_SCHEMA)
    df_fields = schema["fields"][2]["type"]["fields"]
    df_fields.extend(
        [
            {
                "name": "referenced_data_file",
                "type": ["null", "string"],
                "default": None,
            },
            {
                "name": "content_offset",
                "type": ["null", "long"],
                "default": None,
            },
            {
                "name": "content_size_in_bytes",
                "type": ["null", "long"],
                "default": None,
            },
        ]
    )
    return schema


MANIFEST_ENTRY_SCHEMA_V3_DV = _dv_entry_schema()


def _dv_manifests(
    path: str, meta: dict, by_data_file: "dict[str, object]", plan: list
):
    """The per-attempt manifest list of the two DV writers (convert + DV
    delete), for ``iceberg._commit_row_delta``: ``plan`` — carried list
    rows, and ``(spec id, entries)`` pairs of surviving delete entries
    re-homed into a fresh manifest — plus one new delete manifest
    pointing into ONE Puffin file with one ``deletion-vector-v1`` blob
    per referenced data file (``by_data_file``: data file → positions)."""
    from . import iceberg
    from .avro_lite import write_avro_file

    meta_dir = os.path.join(path, "metadata")

    def written(snap_id: int, seq: int, staged: list) -> list:
        rows = []
        for i, item in enumerate(plan):
            if isinstance(item, dict):
                rows.append(item)
                continue
            m_spec, recs = item
            mpath = os.path.join(meta_dir, f"m-{snap_id}-dvkeep{i}.avro")
            write_avro_file(mpath, MANIFEST_ENTRY_SCHEMA_V3_DV, recs)
            rows.append((mpath, 1, m_spec))
        puffin_path = os.path.join(path, "data", f"dv-{snap_id}.puffin")
        staged.append(puffin_path)
        blob_metas = write_puffin_file(
            puffin_path,
            [
                {
                    "type": DV_BLOB_TYPE,
                    "data": encode_dv_blob(sorted(by_data_file[fp])),
                    "snapshot-id": snap_id,
                    "sequence-number": seq,
                    "properties": {
                        "referenced-data-file": fp,
                        "cardinality": str(len(set(by_data_file[fp]))),
                    },
                }
                for fp in sorted(by_data_file)
            ],
        )
        puffin_size = os.path.getsize(puffin_path)
        dv_manifest = os.path.join(meta_dir, f"m-{snap_id}-dvs.avro")
        write_avro_file(
            dv_manifest,
            MANIFEST_ENTRY_SCHEMA_V3_DV,
            [
                {
                    "status": 1,  # the DVs ARE added by this snapshot
                    "snapshot_id": snap_id,
                    "data_file": {
                        "content": 1,  # position deletes (vector form)
                        "file_path": puffin_path,
                        "file_format": "PUFFIN",
                        "record_count": int(
                            bm["properties"]["cardinality"]
                        ),
                        "file_size_in_bytes": puffin_size,
                        "referenced_data_file": bm["properties"][
                            "referenced-data-file"
                        ],
                        "content_offset": bm["offset"],
                        "content_size_in_bytes": bm["length"],
                    },
                }
                for bm in blob_metas
            ],
        )
        return rows + [(dv_manifest, 1, iceberg._default_spec_id(meta))]

    return written


# --------------------------------------------------- v3 DV MOR delete


def write_iceberg_dv_deletes(spark, path: str, condition) -> "int | None":
    """Merge-on-read DELETE on a FORMAT-VERSION-3 table via deletion
    vectors — the v3 twin of ``write_iceberg_position_deletes`` and the
    second "do" row of docs/iceberg_v3_scope.md (the write path, built
    once the read path proved the container codec). Marks every
    currently-live row matching ``condition`` by minting one Puffin
    ``deletion-vector-v1`` blob per touched data file, following the
    spec's REPLACE discipline: a file's new DV carries the union of its
    previous DV's positions and the new ones, and the previous DV entry
    leaves the metadata in the same commit — at most ONE DV per data
    file at every snapshot (older snapshots keep their own entries, so
    time travel is untouched). Returns the new snapshot id, or None
    when no live row matches (idempotent no-op, like the partition
    drop).

    Mechanics (all driver-side KB-scale metadata + one KB-scale Puffin
    write): the shared live scan (existing DVs applied first, so
    re-deleting dead rows is a no-op) collects the matching (file, pos)
    coordinates under the same cap as the v2 delete writers; prior
    delete manifests travel verbatim unless they carry a superseded DV
    entry, in which case the survivors move to a fresh manifest as
    EXISTING with explicit ids. Single-writer fail-fast scope: a lost
    CAS surfaces (the v2 writers' validated-retry ladder can be added
    when a concurrent-writer deployment needs it). v2 position-delete
    FILES on a v3 table are a spec violation and refuse loudly."""
    from .avro_lite import read_avro_file
    from .iceberg import _commit_row_delta, _delete_coords, _owned_meta
    from .readers import _iceberg_live_scan, _iceberg_local_path

    meta, ver = _owned_meta(path, allow_v3=True)
    if meta.get("format-version", 1) != 3:
        raise ValueError(
            "write_iceberg_dv_deletes needs a format-version-3 table: "
            "use write_iceberg_position_deletes on v2 tables, or "
            "convert_iceberg_position_deletes_to_dvs first"
        )
    cur_id = meta.get("current-snapshot-id")
    cur = next(
        (
            s
            for s in meta.get("snapshots") or []
            if cur_id not in (None, -1) and s["snapshot-id"] == cur_id
        ),
        None,
    )
    if cur is None:
        raise ValueError(f"Iceberg table at {path} has no current snapshot")

    coords = _delete_coords(
        _iceberg_live_scan(spark, path, keep_coords=True).filter(condition),
        "delete",
    )
    if not coords:
        return None
    new_by_file: dict[str, set] = {}
    for fp, pos in coords:
        new_by_file.setdefault(os.path.abspath(fp), set()).add(int(pos))

    # walk the delete manifests: find superseded DV entries for touched
    # files (their positions merge into the replacement), keep the rest
    _, manifests = read_avro_file(_iceberg_local_path(cur["manifest-list"]))
    plan: list = []  # carried list rows, or (spec id, surviving entries)
    for m in manifests:
        if m.get("content", 0) != 1:
            plan.append(m)
            continue
        m_seq = m.get("sequence_number", 0)
        m_spec = m.get("partition_spec_id", 0)
        _, entries = read_avro_file(_iceberg_local_path(m["manifest_path"]))
        live = [e for e in entries if e.get("status") != 2]
        superseded, kept = [], []
        for e in live:
            df_rec = e["data_file"]
            if df_rec.get("content", 0) == 1 and df_rec[
                "file_format"
            ].upper() != "PUFFIN":
                raise NotImplementedError(
                    "v2 position-delete FILES on a format-version-3 "
                    "table (spec violation): rewrite them with "
                    "convert_iceberg_position_deletes_to_dvs, or use "
                    "the iceberg-spark-runtime connector"
                )
            ref = df_rec.get("referenced_data_file")
            if ref is not None and os.path.abspath(
                _iceberg_local_path(ref)
            ) in new_by_file:
                superseded.append(e)
            else:
                kept.append(e)
        if not superseded:
            plan.append(m)
            continue
        for e in superseded:
            df_rec = e["data_file"]
            prev = dv_positions_from_puffin(
                _iceberg_local_path(df_rec["file_path"]),
                int(df_rec["content_offset"]),
                int(df_rec["content_size_in_bytes"]),
            )
            new_by_file[
                os.path.abspath(
                    _iceberg_local_path(df_rec["referenced_data_file"])
                )
            ].update(prev)
        if kept:
            # survivors move as EXISTING with explicit ids (the same
            # copy rule the drop/consolidation verbs follow)
            recs = [
                {
                    "status": 0,
                    "snapshot_id": (
                        m.get("added_snapshot_id")
                        if e.get("snapshot_id") is None
                        else e["snapshot_id"]
                    ),
                    "sequence_number": (
                        m_seq
                        if e.get("sequence_number") is None
                        else e["sequence_number"]
                    ),
                    "data_file": e["data_file"],
                }
                for e in kept
            ]
            plan.append((m_spec, recs))
        # else: every entry superseded — the manifest leaves the list

    return _commit_row_delta(
        path,
        meta,
        ver,
        {"operation": "delete"},
        None,
        manifests=_dv_manifests(path, meta, new_by_file, plan),
    )
