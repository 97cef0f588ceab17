"""Differential oracle tests: every SQL-expressible query in the registry
must match DuckDB on the same parquet (the driver's t2 gate, locally)."""

from __future__ import annotations

import pytest

from mysoftware_nocnetintel_spark.plans import ORACLES, QUERIES

from .oracle_harness import assert_matches_oracle

ORACLE_CHECKED = sorted(set(QUERIES) & set(ORACLES))
ROWS_ONLY = sorted(set(QUERIES) - set(ORACLES))


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_query_matches_oracle(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert_matches_oracle(df, ORACLES[name], sf_dir)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_query_runs(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "risk_score" in df.columns


def test_every_oracle_key_has_query():
    assert set(ORACLES) <= set(QUERIES)
