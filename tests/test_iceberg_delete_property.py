"""Randomized differential for Iceberg v2 position-delete round-trips.

Random interleavings of appends and predicate deletes against the minimal
writer, checked after every commit against a plain-Python reference table
(id -> val). Covers: delete-on-delete stacking (existing deletes applied
before computing new coordinates), appends after deletes, empty-result
deletes, and time travel to every prior snapshot at the end.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from mysoftware_nocnetintel_spark.sources.iceberg import (
    write_iceberg_append,
    write_iceberg_position_deletes,
)
from mysoftware_nocnetintel_spark.sources.readers import read_iceberg_snapshot


def _rows(df):
    return {(r.id, r.val) for r in df.collect()}


@pytest.mark.parametrize("seed", [5, 17])
def test_random_append_delete_interleavings(spark, tmp_path, seed):
    rng = random.Random(seed)
    root = str(tmp_path / f"t{seed}")
    ref: dict[int, str] = {}
    next_id = 0
    snapshots: list[tuple[int, set]] = []

    # first commit must be an append (table creation)
    ops = ["append"] + [
        "delete" if rng.random() < 0.4 else "append" for _ in range(5)
    ]
    for op in ops:
        if op == "append":
            n = rng.randint(1, 4)
            batch = [(next_id + i, chr(97 + (next_id + i) % 26)) for i in range(n)]
            next_id += n
            sid = write_iceberg_append(
                spark.createDataFrame(batch, "id bigint, val string"), root
            )
            ref.update(dict(batch))
        else:
            # random modulus predicate; may match zero live rows
            m = rng.choice([2, 3, 5])
            r = rng.randrange(m)
            sid = write_iceberg_position_deletes(
                spark, root, F.col("id") % m == r
            )
            ref = {k: v for k, v in ref.items() if k % m != r}
        snapshots.append((sid, set(ref.items())))
        if ref:
            assert _rows(read_iceberg_snapshot(spark, root)) == set(
                ref.items()
            ), f"seed={seed} after {op} (snapshot {sid})"

    # time travel: every recorded snapshot replays to its reference state
    for sid, want in snapshots:
        if not want:
            continue  # reader raises on empty snapshots by contract
        got = _rows(read_iceberg_snapshot(spark, root, snapshot_id=sid))
        assert got == want, f"seed={seed} snapshot {sid}"


@pytest.mark.parametrize("seed", [7, 23])
def test_random_mixed_delete_kind_interleavings(spark, tmp_path, seed):
    """All three commit kinds interleaved. The reference model tracks each
    live row's COMMIT SEQUENCE so the equality-delete rule (kills only rows
    from strictly-older sequences; re-appended keys survive) is checked
    independently of the reader's join plan. Keys deliberately repeat
    across appends so equality deletes hit multiple generations."""
    from mysoftware_nocnetintel_spark.sources.iceberg import (
        write_iceberg_equality_deletes,
    )

    rng = random.Random(seed)
    root = str(tmp_path / f"mix{seed}")
    # model: live row SET of (id, val, commit_seq) tuples; every commit of
    # any kind advances the sequence number by 1 (matching the writer)
    ref: set[tuple[int, str, int]] = set()
    seq = 0
    snapshots: list[tuple[int, set]] = []

    ops = ["append"] + [
        rng.choice(["append", "posdel", "eqdel", "eqdel"]) for _ in range(7)
    ]
    for op in ops:
        if op == "append" or not ref:
            seq += 1
            n = rng.randint(1, 3)
            # keys drawn from a small space so re-insertion happens a lot
            batch = {rng.randrange(8): chr(97 + seq) for _ in range(n)}
            sid = write_iceberg_append(
                spark.createDataFrame(
                    list(batch.items()), "id bigint, val string"
                ),
                root,
            )
            # NOTE: duplicate keys WITHIN one table are allowed by the
            # format; the model keeps them all as (id, val, seq) tuples
            ref |= {(k, v, seq) for k, v in batch.items()}
        elif op == "posdel":
            seq += 1
            m = rng.choice([2, 3])
            r = rng.randrange(m)
            sid = write_iceberg_position_deletes(
                spark, root, F.col("id") % m == r
            )
            ref = {t for t in ref if t[0] % m != r}
        else:
            seq += 1
            ks = sorted({t[0] for t in ref} | {rng.randrange(8)})
            chosen = rng.sample(ks, k=min(len(ks), rng.randint(1, 3)))
            sid = write_iceberg_equality_deletes(
                spark,
                root,
                spark.createDataFrame([(k,) for k in chosen], "id bigint"),
            )
            # strictly-lower-sequence rule
            ref = {
                t for t in ref if not (t[0] in chosen and t[2] < seq)
            }
        want = {(k, v) for (k, v, _s) in ref}
        snapshots.append((sid, want))
        if ref:
            got = _rows(read_iceberg_snapshot(spark, root))
            assert got == want, f"seed={seed} after {op} (seq {seq})"

    # time travel: every recorded snapshot replays to its reference state
    # (delete snapshots included — both delete kinds must replay)
    for sid, want in snapshots:
        if not want:
            continue  # reader raises on empty snapshots by contract
        got = _rows(read_iceberg_snapshot(spark, root, snapshot_id=sid))
        assert got == want, f"seed={seed} snapshot {sid}"


@pytest.mark.parametrize("seed", [11, 31])
def test_random_mixed_format_deletes_and_compaction(spark, tmp_path, seed):
    """The full lifecycle fuzz: appends in RANDOM file format (parquet or
    row-oriented avro fast-appends), both delete kinds, and MAJOR
    COMPACTION interleaved. The model tracks per-row commit sequences;
    compaction re-materializes every live row at the new sequence (so a
    later equality delete still kills it — rewritten rows are not
    magically older) and must leave only parquet files behind."""
    from mysoftware_nocnetintel_spark.sources.iceberg import (
        rewrite_iceberg_table,
        write_iceberg_equality_deletes,
    )
    from mysoftware_nocnetintel_spark.sources.readers import (
        _iceberg_snapshot_files,
    )

    rng = random.Random(seed)
    root = str(tmp_path / f"fmt{seed}")
    ref: set[tuple[int, str, int]] = set()
    seq = 0
    snapshots: list[tuple[int, set]] = []

    ops = ["append"] + [
        rng.choice(["append", "append", "posdel", "eqdel", "compact"])
        for _ in range(8)
    ]
    for op in ops:
        if op == "compact" and ref:
            seq += 1
            sid = rewrite_iceberg_table(spark, root)
            ref = {(k, v, seq) for (k, v, _s) in ref}
            data_files, pos_d, eq_d, _s = _iceberg_snapshot_files(root)
            assert not pos_d and not eq_d  # REPLACE folds deletes away
            assert all(e.fmt == "PARQUET" for e in data_files)
        elif op == "append" or not ref:
            seq += 1
            fmt = rng.choice(["parquet", "avro"])
            n = rng.randint(1, 3)
            batch = {rng.randrange(8): chr(97 + seq) for _ in range(n)}
            sid = write_iceberg_append(
                spark.createDataFrame(
                    list(batch.items()), "id bigint, val string"
                ),
                root,
                file_format=fmt,
            )
            ref |= {(k, v, seq) for k, v in batch.items()}
        elif op == "posdel":
            seq += 1
            m = rng.choice([2, 3])
            r = rng.randrange(m)
            sid = write_iceberg_position_deletes(
                spark, root, F.col("id") % m == r
            )
            ref = {t for t in ref if t[0] % m != r}
        else:
            seq += 1
            ks = sorted({t[0] for t in ref} | {rng.randrange(8)})
            chosen = rng.sample(ks, k=min(len(ks), rng.randint(1, 3)))
            sid = write_iceberg_equality_deletes(
                spark,
                root,
                spark.createDataFrame([(k,) for k in chosen], "id bigint"),
            )
            ref = {t for t in ref if not (t[0] in chosen and t[2] < seq)}
        want = {(k, v) for (k, v, _s) in ref}
        snapshots.append((sid, want))
        if ref:
            got = _rows(read_iceberg_snapshot(spark, root))
            assert got == want, f"seed={seed} after {op} (seq {seq})"

    for sid, want in snapshots:
        if not want:
            continue
        got = _rows(read_iceberg_snapshot(spark, root, snapshot_id=sid))
        assert got == want, f"seed={seed} snapshot {sid}"


@pytest.mark.parametrize("seed", [13, 31])
def test_random_lifecycle_with_renames(spark, tmp_path, seed):
    """Lifecycle fuzz WITH COLUMN RENAMES interleaved (round 6): random
    appends (parquet/avro), both delete kinds, compaction, and renames of
    the value column. The model is name-independent (values + commit
    sequences); every read — live and time-traveled — must keep
    returning the same values no matter how many renames happened, and
    post-rename writes use the current name."""
    from mysoftware_nocnetintel_spark.sources.iceberg import (
        rename_iceberg_column,
        rewrite_iceberg_table,
        write_iceberg_equality_deletes,
    )

    rng = random.Random(seed)
    root = str(tmp_path / f"ren{seed}")
    ref: set[tuple[int, str, int]] = set()
    seq = 0
    cur = "val"
    n_renames = 0
    snapshots: list[tuple[int, set]] = []

    ops = ["append"] + [
        rng.choice(
            ["append", "append", "posdel", "eqdel", "compact", "rename"]
        )
        for _ in range(9)
    ]
    for op in ops:
        sid = None
        if op == "rename" and ref:
            n_renames += 1
            new = f"val{n_renames}"
            rename_iceberg_column(root, cur, new)
            cur = new
        elif op == "compact" and ref:
            seq += 1
            sid = rewrite_iceberg_table(spark, root)
            ref = {(k, v, seq) for (k, v, _s) in ref}
        elif op == "append" or not ref:
            seq += 1
            fmt = rng.choice(["parquet", "avro"])
            batch = {
                rng.randrange(8): chr(97 + seq)
                for _ in range(rng.randint(1, 3))
            }
            sid = write_iceberg_append(
                spark.createDataFrame(
                    list(batch.items()), f"id bigint, {cur} string"
                ),
                root,
                file_format=fmt,
            )
            ref |= {(k, v, seq) for k, v in batch.items()}
        elif op == "posdel":
            seq += 1
            m = rng.choice([2, 3])
            r = rng.randrange(m)
            sid = write_iceberg_position_deletes(
                spark, root, F.col("id") % m == r
            )
            ref = {t for t in ref if t[0] % m != r}
        else:
            seq += 1
            ks = sorted({t[0] for t in ref} | {rng.randrange(8)})
            chosen = rng.sample(ks, k=min(len(ks), rng.randint(1, 2)))
            sid = write_iceberg_equality_deletes(
                spark,
                root,
                spark.createDataFrame([(k,) for k in chosen], "id bigint"),
            )
            ref = {t for t in ref if not (t[0] in chosen and t[2] < seq)}
        want = {(k, v) for (k, v, _s) in ref}
        if sid is not None:
            snapshots.append((sid, want))
        # name-independent extractor: the value column's NAME changes
        _vals = lambda df: {(r[0], r[1]) for r in df.collect()}  # noqa: E731
        if ref:
            got = _vals(read_iceberg_snapshot(spark, root))
            assert got == want, f"seed={seed} after {op} (seq {seq})"

    # time travel across every snapshot still reproduces the model, no
    # matter how many renames happened since
    _vals = lambda df: {(r[0], r[1]) for r in df.collect()}  # noqa: E731
    for sid, want in snapshots:
        if not want:
            continue
        got = _vals(read_iceberg_snapshot(spark, root, snapshot_id=sid))
        assert got == want, f"seed={seed} snapshot {sid}"
