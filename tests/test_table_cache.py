"""The hot-table cache's layout rule under the serving settings.

``sources.registry.load_table`` caches a byte-small table (under 512 KiB of
parquet) whose scan arrives as one partition as ``coalesce(1)``, so the
cached relation reports ``SinglePartition`` and aggregates, windows,
distincts and joins over it plan no shuffle. Larger tables keep their byte
spread, and ``documents`` keeps its fan-out to every core. These tests run
the serving mix the way the serving benchmark does: table cache on, 8
shuffle partitions, AQE off, sf0.01.
"""

from __future__ import annotations

import os

import pytest

from mysoftware_nocnetintel_spark.plans import QUERIES
from mysoftware_nocnetintel_spark.plans.diagnostics import (
    formatted_plan,
    plan_summary,
)
from mysoftware_nocnetintel_spark.sources import registry

from .conftest import SF_DIR

SF = os.path.join(os.path.dirname(SF_DIR), "sf0.01")

MIX = [
    "q1_pricing_summary",
    "q2_join_topn",
    "q3_window_rank",
    "q4_rolling_avg",
    "q5_sessionize",
    "q6_json_extract",
    "q7_distinct",
    "q8_dedup_docs",
    "q9_knn",
    "q10_setops",
    "q0_flagship_risk",
    "q52_model_metrics",
    "q124_bm25",
]
# statements whose every input is a byte-small SinglePartition table at
# sf0.01 (not lineitem, not documents)
NO_SHUFFLE = [
    "q3_window_rank",
    "q4_rolling_avg",
    "q5_sessionize",
    "q6_json_extract",
    "q7_distinct",
    "q10_setops",
    "q0_flagship_risk",
    "q52_model_metrics",
]

# Statements that sum floats over lineitem: its cached 3-way spread splits
# the sums into partials that an uncached one-partition scan adds up in
# another order, so their floats are compared to 12 significant digits.
# Everything else compares exactly.
SPREAD_DIGITS = {"q1_pricing_summary": 12, "q2_join_topn": 12}

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF), reason=f"{SF} not present"
)


@pytest.fixture(scope="module")
def serving(spark):
    conf = spark.conf
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    before = {k: conf.get(k) for k in keys}
    was_on = registry._CACHE_ENABLED
    with pytest.MonkeyPatch.context() as mp:
        # load_table re-tunes the session on every cache miss; this keeps
        # AQE off through it, as the serving benchmark does
        mp.setenv("SPARK_GRAFT_AQE", "false")
        conf.set("spark.sql.shuffle.partitions", "8")
        conf.set("spark.sql.adaptive.enabled", "false")
        registry.enable_table_cache(True)
        try:
            yield spark
        finally:
            registry.enable_table_cache(False)
            registry.enable_table_cache(was_on)
            for k, v in before.items():
                conf.set(k, v)


def _shuffles(df) -> int:
    """Shuffle exchanges in the executed plan, not counting the ones
    inside a cached relation (those ran once, at cache build)."""
    todo, n = [df._jdf.queryExecution().executedPlan()], 0
    while todo:
        node = todo.pop()
        n += node.getClass().getSimpleName() == "ShuffleExchangeExec"
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return n


def _declares_order(df) -> bool:
    """True when the statement ends in an ORDER BY (under any projection,
    filter or limit): a global sort, or a sort within the one partition
    of a ``coalesce(1)``."""
    node = df._jdf.queryExecution().optimizedPlan()
    while node.getClass().getSimpleName() in (
        "Project", "Filter", "GlobalLimit", "LocalLimit", "Offset",
    ):
        node = node.child()
    if node.getClass().getSimpleName() != "Sort":
        return False
    child = node.child()
    return getattr(node, "global")() or (
        child.getClass().getSimpleName() == "Repartition"
        and child.numPartitions() == 1
    )


def _rows(df, ordered: bool, digits: int | None = None) -> list[str]:
    def canon(v):
        return float(f"{v:.{digits}g}") if digits and isinstance(
            v, float
        ) else v

    rows = [repr(tuple(canon(v) for v in r)) for r in df.collect()]
    return rows if ordered else sorted(rows)


def test_byte_small_tables_cache_as_one_partition(serving):
    spark = serving
    cores = spark.sparkContext.defaultParallelism
    for name in registry.TABLES:
        nbytes = os.path.getsize(registry.table_path(SF, name))
        df = registry.load_table(spark, SF, name).select("*")
        part = df._jdf.queryExecution().executedPlan().outputPartitioning()
        if name == "documents":
            want = f"RoundRobinPartitioning({cores})"
        elif nbytes >> 18 <= 1:
            want = "SinglePartition"
        else:
            assert name == "lineitem", (name, nbytes)
            want = f"RoundRobinPartitioning({min(cores, nbytes >> 18)})"
            assert nbytes >> 18 == 3
        assert part.toString() == want, (name, nbytes)
        df.count()


def test_serving_statements_plan_no_shuffle_over_cached_tables(serving):
    got = {}
    for name in NO_SHUFFLE + ["q1_pricing_summary"]:
        df = QUERIES[name](serving, SF)
        df.collect()
        got[name] = _shuffles(df)
    assert got == {**{n: 0 for n in NO_SHUFFLE}, "q1_pricing_summary": 1}


def test_cached_rows_match_uncached(serving):
    spark = serving
    ordered, cached = {}, {}
    for name in MIX:
        df = QUERIES[name](spark, SF)
        ordered[name] = _declares_order(df)
        cached[name] = _rows(df, ordered[name], SPREAD_DIGITS.get(name))
    # q10 is a set operation with no ORDER BY: compared sorted
    assert not ordered["q10_setops"]
    registry.enable_table_cache(False)
    try:
        bad = [
            name for name in MIX
            if _rows(QUERIES[name](spark, SF), ordered[name],
                     SPREAD_DIGITS.get(name)) != cached[name]
        ]
    finally:
        registry.enable_table_cache(True)
    assert bad == [], (bad, ordered)


def test_disabling_the_cache_unpersists_every_table(serving):
    spark = serving
    df = registry.load_table(spark, SF, "region")
    df.count()
    assert df.storageLevel.useMemory
    assert registry._TABLE_CACHE
    registry.enable_table_cache(False)
    try:
        assert registry._TABLE_CACHE == {}
        assert not df.storageLevel.useMemory
        assert registry.load_table(spark, SF, "region") is not df
    finally:
        registry.enable_table_cache(True)


def test_plan_summary_skips_the_cache_build_exchange(serving):
    # q1's cached lineitem was spread by a repartition when the cache was
    # built; each execution of q1 runs only its aggregate's shuffle
    df = QUERIES["q1_pricing_summary"](serving, SF)
    p = formatted_plan(df)
    assert "InMemoryRelation" in p and p.count("Exchange (") == 2
    assert plan_summary(df)["exchanges"] == 1 == _shuffles(df)
