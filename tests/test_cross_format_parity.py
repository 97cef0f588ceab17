"""Cross-format differential: one random sequence of lakehouse verbs
(append / upsert-merge / delete-merge / update / maintenance) applied to
a Delta table AND an Iceberg table must yield identical logical states
after every commit — the two writers implement the same verbs over
different metadata, so any semantic drift between them is a bug in one.
Maintenance verbs (compaction, manifest/log housekeeping, vacuum) must
be invisible to reads on both sides."""

from __future__ import annotations

import random

import pytest

from mysoftware_nocnetintel_spark.sources.delta import (
    checkpoint_delta_table,
    merge_delta_rows,
    optimize_delta_table,
    update_delta_rows,
    vacuum_delta,
    write_delta_append,
)
from mysoftware_nocnetintel_spark.sources.iceberg import (
    expire_iceberg_snapshots,
    merge_iceberg_rows,
    remove_iceberg_orphan_files,
    rewrite_iceberg_manifests,
    rewrite_iceberg_table,
    write_iceberg_append,
)
from mysoftware_nocnetintel_spark.sources.readers import (
    read_delta_snapshot,
    read_iceberg_snapshot,
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id bigint, val string")


@pytest.mark.parametrize("seed", [2, 59])
def test_same_verbs_same_state(spark, tmp_path, seed):
    rng = random.Random(seed)
    dpath = str(tmp_path / "delta")
    ipath = str(tmp_path / "iceberg")
    model: dict[int, str] = {1: "a", 2: "b"}
    init = sorted(model.items())
    write_delta_append(_mk(spark, init), dpath)
    write_iceberg_append(_mk(spark, init), ipath)
    nxt = 3

    for step in range(8):
        op = rng.choice(
            ["append", "upsert", "delete_merge", "update", "maintain"]
        )
        if op == "append":
            rows = [
                (nxt + i, f"a{step}.{i}") for i in range(rng.randint(1, 3))
            ]
            nxt += len(rows)
            write_delta_append(_mk(spark, rows), dpath)
            write_iceberg_append(_mk(spark, rows), ipath)
            model.update(dict(rows))
        elif op == "upsert":
            ks = rng.sample(range(1, nxt + 2), rng.randint(1, 3))
            src = [(k, f"u{step}.{k}") for k in ks]
            strat = rng.choice(["cow", "mor"])
            merge_delta_rows(
                spark, dpath, _mk(spark, src), ["id"], strategy=strat
            )
            merge_iceberg_rows(spark, ipath, _mk(spark, src), ["id"])
            model.update(dict(src))
            nxt = max(nxt, max(ks) + 1)
        elif op == "delete_merge":
            present = [k for k in model if k in model]
            if not present:
                continue
            ks = rng.sample(sorted(model), min(2, len(model)))
            src = [(k, "_") for k in ks]
            merge_delta_rows(
                spark,
                dpath,
                _mk(spark, src),
                ["id"],
                when_matched="delete",
                when_not_matched="ignore",
                strategy=rng.choice(["cow", "mor"]),
            )
            merge_iceberg_rows(
                spark,
                ipath,
                _mk(spark, src),
                ["id"],
                when_matched="delete",
                when_not_matched="ignore",
            )
            for k in ks:
                model.pop(k, None)
            if not model:  # keep the tables non-empty for later verbs
                rows = [(nxt, "refill")]
                nxt += 1
                write_delta_append(_mk(spark, rows), dpath)
                write_iceberg_append(_mk(spark, rows), ipath)
                model.update(dict(rows))
        elif op == "update":
            pivot = rng.randrange(1, nxt + 1)
            pred = f"id >= {pivot}"
            if not any(k >= pivot for k in model):
                continue
            exprs = {"val": f"concat(val, '.{step}')"}
            update_delta_rows(
                spark, dpath, pred, exprs,
                strategy=rng.choice(["cow", "mor"]),
            )
            # iceberg has no UPDATE verb: express it as a merge of the
            # updated images (same logical statement)
            upd = [
                (k, f"{v}.{step}") for k, v in model.items() if k >= pivot
            ]
            merge_iceberg_rows(spark, ipath, _mk(spark, upd), ["id"])
            model.update(dict(upd))
        else:  # maintenance — must be read-invisible on both sides
            which = rng.choice(["compact", "meta", "retain"])
            if which == "compact":
                rewrite_iceberg_table(spark, ipath)
                optimize_delta_table(spark, dpath, min_files=1)
                checkpoint_delta_table(dpath)
            elif which == "meta":
                rewrite_iceberg_manifests(ipath, min_manifests=2)
                checkpoint_delta_table(dpath)
            else:
                expire_iceberg_snapshots(ipath, keep_last=2)
                remove_iceberg_orphan_files(ipath, older_than_ms=0)
                vacuum_delta(dpath, retention_ms=0)

        d = {(r.id, r.val) for r in read_delta_snapshot(spark, dpath).collect()}
        i = {
            (r.id, r.val)
            for r in read_iceberg_snapshot(spark, ipath).collect()
        }
        assert d == i == set(model.items()), (
            f"seed={seed} step={step} op={op}: delta={sorted(d)} "
            f"iceberg={sorted(i)} model={sorted(model.items())}"
        )


def test_layout_migration_parity(spark, tmp_path):
    """Round 7: Iceberg partition spec EVOLUTION (metadata-only) and
    Delta LAYOUT MIGRATION (one-commit rewrite) express the same logical
    operation — after migrating both tables from unpartitioned to
    day-partitioned, every read (full, pruned, post-migration appends,
    deletes) must agree."""
    from mysoftware_nocnetintel_spark.sources.delta import (
        delete_delta_rows,
        repartition_delta_table,
    )
    from mysoftware_nocnetintel_spark.sources.iceberg import (
        update_iceberg_partition_spec,
        write_iceberg_position_deletes,
    )
    from pyspark.sql import functions as F

    def mk(rows):
        return spark.createDataFrame(rows, "id bigint, day string, val string")

    dpath = str(tmp_path / "delta")
    ipath = str(tmp_path / "iceberg")
    init = [(i, f"d{i % 2}", f"v{i}") for i in range(6)]
    write_delta_append(mk(init), dpath)
    write_iceberg_append(mk(init), ipath)

    repartition_delta_table(spark, dpath, ("day",))
    update_iceberg_partition_spec(ipath, ("day",))
    # Iceberg's old files weren't rewritten — a full rewrite is its
    # optional migration step; do it so the PRUNED reads compare exactly
    rewrite_iceberg_table(spark, ipath)

    write_delta_append(mk([(10, "d0", "new")]), dpath)
    write_iceberg_append(mk([(10, "d0", "new")]), ipath)
    delete_delta_rows(spark, dpath, "id = 1")
    write_iceberg_position_deletes(spark, ipath, F.col("id") == 1)

    def state(df):
        return sorted(
            (r.id, r.day, r.val)
            for r in df.select("id", "day", "val").collect()
        )

    assert state(read_delta_snapshot(spark, dpath)) == state(
        read_iceberg_snapshot(spark, ipath)
    )
    d0_d = state(
        read_delta_snapshot(spark, dpath, partition_filter={"day": "d0"})
    )
    d0_i = state(
        read_iceberg_snapshot(spark, ipath, partition_filter={"day": "d0"})
    )
    assert d0_d == d0_i == [
        (0, "d0", "v0"),
        (2, "d0", "v2"),
        (4, "d0", "v4"),
        (10, "d0", "new"),
    ]
