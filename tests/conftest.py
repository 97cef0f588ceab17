from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mysoftware_nocnetintel_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

# Heavy suites deselected from the DEFAULT run so `pytest tests/` fits its
# time budget (pyproject addopts `-m "not slow"`); the full matrix runs
# with `pytest tests/ -m ""`. Subsystem representatives stay in the
# default set — see OPTIMIZATION_r13.md "pytest budget".
SLOW_SUITES = frozenset(
    {
        "test_ann_rebalance.py",
        "test_cross_format_parity.py",
        "test_dedup_gate_stream.py",
        "test_delta_cas.py",
        "test_delta_merge.py",
        "test_delta_merge_mor.py",
        "test_delta_optimize.py",
        "test_delta_rename.py",
        "test_delta_schema_evolution.py",
        "test_delta_txn_sink.py",
        "test_delta_v2_checkpoint.py",
        "test_iceberg_avro_data.py",
        "test_iceberg_binpack.py",
        "test_iceberg_cas.py",
        "test_iceberg_delete_property.py",
        "test_iceberg_manifest_rewrite.py",
        "test_iceberg_merge.py",
        "test_iceberg_schema_evolution.py",
        "test_iceberg_spec_evolution.py",
        "test_iceberg_transforms.py",
        "test_iceberg_zone_maps.py",
        "test_incremental_reads.py",
        "test_multimodal_io.py",
        "test_oracle_parity.py",
        "test_plan_shapes_registry.py",
        "test_property.py",
        "test_property_r5.py",
        "test_r8_advisor.py",
        "test_rescan_retry.py",
        "test_rest_spec_native.py",
        "test_streaming.py",
        "test_streaming_cdc.py",
        "test_table_inspection.py",
        "test_tailer_fuzz.py",
    }
)


@pytest.hookimpl(tryfirst=True)
def pytest_collection_modifyitems(config, items):
    # tryfirst: the marks must exist before `-m` deselects
    for item in items:
        if item.path.name in SLOW_SUITES:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="nocnetintel-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(autouse=True)
def _restore_shuffle_partitions():
    """The session is shared across the whole suite; a test that tunes
    ``spark.sql.shuffle.partitions`` must not leak it into later tests
    (z-order/clustering tests key their file-count expectations off it).
    Restores the pre-test value after every test; doesn't force session
    creation for non-Spark tests."""
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    before = (
        s.conf.get("spark.sql.shuffle.partitions") if s is not None else None
    )
    yield
    s = SparkSession.getActiveSession()
    if s is not None and before is not None:
        s.conf.set("spark.sql.shuffle.partitions", before)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
