"""plan_summary / assert_plan diagnostics over known plan shapes."""

from __future__ import annotations

import pytest

from mysoftware_nocnetintel_spark.plans import QUERIES
from mysoftware_nocnetintel_spark.plans.diagnostics import (
    assert_plan,
    plan_summary,
)


def test_q2_summary_matches_plan_gates(spark, sf_dir):
    s = plan_summary(QUERIES["q2_join_topn"](spark, sf_dir))
    assert s["broadcast_joins"] >= 2
    assert s["sort_merge_joins"] == 0
    assert s["top_k"] is True
    assert s["python_evals"] == 0
    assert any("o_orderdate" in f for f in s["pushed_filters"])


def test_assert_plan_passes_and_fails(spark, sf_dir):
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    s = assert_plan(
        df,
        max_exchanges=2,
        forbid_sort_merge=True,
        forbid_python=True,
        require_pushed_filter="l_shipdate",
    )
    assert s["exchanges"] <= 2
    with pytest.raises(AssertionError, match="exchanges"):
        assert_plan(df, max_exchanges=0)
    with pytest.raises(AssertionError, match="not pushed"):
        assert_plan(df, require_pushed_filter="no_such_col")


def test_python_seam_detected(spark, sf_dir):
    # q71 is the intentional Arrow pandas-UDF seam — the detector must see it
    s = plan_summary(QUERIES["q71_pandas_udf_score"](spark, sf_dir))
    assert s["python_evals"] >= 1


def test_round4_rewrite_plan_shapes(spark, sf_dir):
    """Plan gates for the round-4 architectures: the shapes the rewrites
    were designed to produce, asserted so regressions surface in CI rather
    than in bench numbers.

    - q41: ONE scan, a JVM map-side shingle posting builder (no Python
      pass), pairs via nested generate — exactly two data shuffles plus
      the spread repartition and the final sort; no joins at all.
    - q107 (gated closure path): overlap computed inside the train-side
      Python pass — NO join operators of any kind survive in the plan.
    - q110 (single-task gate): the iteration runs inside Python; no
      sort-merge joins; the deliberate repartition(1) shows up as a
      single-partition exchange.
    """
    s41 = plan_summary(QUERIES["q41_ngram_jaccard"](spark, sf_dir))
    assert s41["python_evals"] == 0
    assert s41["scans"] == 1
    assert s41["broadcast_joins"] == 0 and s41["sort_merge_joins"] == 0
    assert s41["exchanges"] <= 4

    s107 = plan_summary(QUERIES["q107_decontamination"](spark, sf_dir))
    assert s107["python_evals"] == 1
    assert (
        s107["broadcast_joins"] == 0
        and s107["sort_merge_joins"] == 0
        and s107["nested_loop_joins"] == 0
    )

    s110 = plan_summary(QUERIES["q110_pagerank"](spark, sf_dir))
    assert s110["python_evals"] == 1
    assert s110["sort_merge_joins"] == 0
    assert s110["single_partition_exchanges"] is True  # deliberate, gated
