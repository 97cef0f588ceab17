"""The data-file layout and Spark-job budget of a byte-small ingest batch.

``sources.zorder.cluster`` is the one layout decision of every Delta and
Iceberg data write: a write without ``sort_by`` whose optimized plan is
byte-small (under 512 KiB) runs as one task and stages one file. A
2,000-row driver-built batch would otherwise fan out to every core and
stage a file per task. Jobs and tasks are counted by the ``job_budget``
fixture (conftest), with AQE off as in the ingest benchmark; the MinHash
gate's shingle front end runs no Python.
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pytest

from mysoftware_nocnetintel_spark.operators.dedup import minhash_signatures
from mysoftware_nocnetintel_spark.plans.diagnostics import plan_summary
from mysoftware_nocnetintel_spark.session import local_frame
from mysoftware_nocnetintel_spark.sources import delta as dl
from mysoftware_nocnetintel_spark.sources import iceberg as ice
from mysoftware_nocnetintel_spark.sources.readers import read_delta_snapshot
from mysoftware_nocnetintel_spark.sources.zorder import (
    byte_small,
    cluster,
    plan_bytes,
)


def _batch(spark, lo: int, n: int = 2000):
    """An Arrow event batch, as the ingest path builds one."""
    ids = range(lo, lo + n)
    return spark.createDataFrame(
        pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "user_id": pa.array([i % 97 for i in ids], pa.int64()),
                "event_type": pa.array(
                    ["error" if i % 7 == 0 else "ok" for i in ids]
                ),
                "value": pa.array([i * 0.5 for i in ids], pa.float64()),
            }
        )
    )


def _data_files(root: str) -> set[str]:
    return {
        f
        for f in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
        if "_delta_log" not in f
    }


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_byte_small_append_is_one_task_and_one_file(
    aqe_off, job_budget, tmp_path, fmt
):
    spark = aqe_off
    root = str(tmp_path / fmt)
    append = dl.write_delta_append if fmt == "delta" else ice.write_iceberg_append
    append(_batch(spark, 0), root)
    before = _data_files(root)
    batch = _batch(spark, 2000)
    assert byte_small(plan_bytes(batch))
    assert batch.rdd.getNumPartitions() > 1  # the fan-out the rule removes
    assert job_budget(lambda: append(batch, root)) == (1, 1)
    assert len(_data_files(root) - before) == 1


def test_sort_by_append_still_clusters_into_many_files(aqe_off, tmp_path):
    root = str(tmp_path / "sorted")
    dl.write_delta_append(_batch(aqe_off, 0), root, sort_by=("event_id",))
    assert len(_data_files(root)) > 1


def test_batch_over_the_threshold_keeps_its_partitions(aqe_off):
    big = _batch(aqe_off, 0, n=20_000)
    assert not byte_small(plan_bytes(big))
    parts = big.rdd.getNumPartitions()
    assert parts > 1
    assert cluster(big, ()).rdd.getNumPartitions() == parts


def test_cow_merge_into_byte_small_table_writes_one_file(aqe_off, tmp_path):
    spark = aqe_off
    root = str(tmp_path / "merge")
    for lo in (0, 2000, 4000):
        dl.write_delta_append(_batch(spark, lo), root)
    before = _data_files(root)
    # 200 corrections spread over all three files, 50 new rows
    fixes = _batch(spark, 0, n=6000).filter("event_id % 30 = 0")
    source = fixes.unionByName(_batch(spark, 6000, n=50))
    assert source.count() == 250
    dl.merge_delta_rows(spark, root, source, on=["event_id"])
    assert len(_data_files(root) - before) == 1
    assert read_delta_snapshot(spark, root).count() == 6050


def test_minhash_front_end_runs_no_python(spark):
    docs = local_frame(
        spark,
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox leaps")],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(docs, "doc_id", "text")
    assert plan_summary(sigs)["python_evals"] == 0
    assert sigs.count() == 2
