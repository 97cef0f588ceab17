"""Property-based differential tests (SURVEY.md §5.2 layer 5): random
filter/group/aggregate combinations must match DuckDB on the same parquet.
Catches null handling, type coercion, and grouping edge cases the
hand-written queries don't reach."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mysoftware_nocnetintel_spark.sources import table_path

from .oracle_harness import assert_matches_oracle

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
GROUP_KEYS = ["event_type", "user_id"]


@st.composite
def query_params(draw):
    types = draw(
        st.lists(st.sampled_from(EVENT_TYPES), min_size=1, max_size=5, unique=True)
    )
    lo = draw(st.integers(min_value=-50, max_value=200))
    hi = lo + draw(st.integers(min_value=1, max_value=400))
    keys = draw(
        st.lists(st.sampled_from(GROUP_KEYS), min_size=1, max_size=2, unique=True)
    )
    agg = draw(st.sampled_from(["count", "sum", "avg", "min", "max"]))
    return types, lo, hi, sorted(keys), agg


def _sql(types, lo, hi, keys, agg) -> str:
    tlist = ", ".join(f"'{t}'" for t in types)
    key_cols = ", ".join(keys)
    agg_expr = {
        "count": "count(*)",
        "sum": "round(sum(value), 6)",
        "avg": "round(avg(value), 6)",
        "min": "min(value)",
        "max": "max(value)",
    }[agg]
    return (
        f"SELECT {key_cols}, {agg_expr} AS agg_val FROM events "
        f"WHERE event_type IN ({tlist}) AND value >= {lo} AND value < {hi} "
        f"GROUP BY {key_cols}"
    )


@pytest.mark.usefixtures("spark")
class TestRandomizedParity:
    @settings(
        max_examples=20,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(params=query_params())
    def test_random_filter_group_agg(self, spark, sf_dir, params):
        types, lo, hi, keys, agg = params
        sql = _sql(types, lo, hi, keys, agg)
        from mysoftware_nocnetintel_spark.sources import register_views

        register_views(spark, sf_dir, ("events",))
        got = spark.sql(sql)
        assert_matches_oracle(got, sql, sf_dir)

    @settings(
        max_examples=12,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        k=st.integers(min_value=1, max_value=30),
        agg=st.sampled_from(["avg", "sum", "min", "max", "count"]),
    )
    def test_random_rolling_window(self, spark, sf_dir, k, agg):
        expr = {
            "avg": "round(avg(value) OVER w, 6)",
            "sum": "round(sum(value) OVER w, 6)",
            "min": "min(value) OVER w",
            "max": "max(value) OVER w",
            "count": "count(*) OVER w",
        }[agg]
        sql = (
            f"SELECT event_id, {expr} AS agg_val FROM events "
            f"WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id "
            f"ROWS BETWEEN {k - 1} PRECEDING AND CURRENT ROW)"
        )
        from mysoftware_nocnetintel_spark.sources import register_views

        register_views(spark, sf_dir, ("events",))
        assert_matches_oracle(spark.sql(sql), sql, sf_dir)

    @settings(
        max_examples=10,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        join_type=st.sampled_from(["JOIN", "LEFT JOIN"]),
        bal=st.integers(min_value=-1000, max_value=9000),
        kind=st.sampled_from(EVENT_TYPES),
    )
    def test_random_join_agg(self, spark, sf_dir, join_type, bal, kind):
        # events.user_id overlaps customer.c_custkey by construction
        sql = (
            f"SELECT c_mktsegment, count(*) AS n, "
            f"count(user_id) AS n_matched "
            f"FROM customer {join_type} "
            f"(SELECT user_id FROM events WHERE event_type = '{kind}') e "
            f"ON c_custkey = e.user_id "
            f"WHERE c_acctbal > {bal} "
            f"GROUP BY c_mktsegment"
        )
        from mysoftware_nocnetintel_spark.sources import register_views

        register_views(spark, sf_dir, ("events", "customer"))
        assert_matches_oracle(spark.sql(sql), sql, sf_dir)


class TestAsofTiebreakParity:
    """asof_join with (key, ts) collisions on the right side must pick the
    max-tiebreak payload deterministically — differential against a pure
    Python reference over randomized collision-heavy inputs."""

    @settings(
        max_examples=15,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        seed=st.integers(min_value=0, max_value=10_000),
        direction=st.sampled_from(["backward", "forward"]),
    )
    def test_asof_tiebreak_matches_reference(self, spark, direction, seed):
        import random

        from mysoftware_nocnetintel_spark.operators.timeseries import asof_join

        rng = random.Random(seed)
        # tiny ts domain forces heavy (key, ts) collisions
        right = [
            (k, rng.randint(0, 5), i, rng.randint(0, 100))
            for i, k in enumerate(rng.choices([1, 2], k=20))
        ]
        left = [(k, rng.randint(0, 6)) for k in rng.choices([1, 2], k=10)]
        rdf = spark.createDataFrame(right, "key INT, ts INT, rid INT, payload INT")
        ldf = spark.createDataFrame(left, "key INT, ts INT")
        got = asof_join(
            ldf.withColumn("ts", F.col("ts").cast("timestamp")),
            rdf.withColumn("ts", F.col("ts").cast("timestamp")),
            keys="key",
            right_cols=["rid", "payload"],
            direction=direction,
            right_tiebreak="rid",
        ).collect()

        def ref(k, t):
            if direction == "backward":
                cands = [r for r in right if r[0] == k and r[1] <= t]
                if not cands:
                    return None
                best_ts = max(c[1] for c in cands)
            else:
                cands = [r for r in right if r[0] == k and r[1] >= t]
                if not cands:
                    return None
                best_ts = min(c[1] for c in cands)
            return max((c for c in cands if c[1] == best_ts), key=lambda c: c[2])

        from collections import Counter

        # compare on (key, epoch-seconds, matched rid) multisets
        got_c2 = Counter()
        for r in got:
            ts_int = int(r.ts.timestamp()) if r.ts else None
            got_c2[(r.key, ts_int, r.rid_right)] += 1
        want2 = Counter()
        for k, t in left:
            m = ref(k, t)
            want2[(k, t, None if m is None else m[2])] += 1
        assert got_c2 == want2


class TestRandomWindowFrames:
    """Randomized window-frame differential: rows- and range-frames with
    random bounds must match DuckDB exactly (frame-boundary off-by-ones are
    the classic silent window bug)."""

    @settings(
        max_examples=15,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        preceding=st.integers(min_value=0, max_value=50),
        following=st.integers(min_value=0, max_value=50),
        mode=st.sampled_from(["rows", "range_seconds"]),
        agg=st.sampled_from(["count", "sum", "min", "max"]),
    )
    def test_random_frame_matches_duckdb(
        self, spark, sf_dir, preceding, following, mode, agg
    ):
        from pyspark.sql import Window

        from mysoftware_nocnetintel_spark.sources import load_table

        ev = load_table(spark, sf_dir, "events")
        agg_fn = {"count": F.count, "sum": F.sum, "min": F.min, "max": F.max}[agg]
        val = F.lit(1) if agg == "count" else F.col("value")
        if mode == "rows":
            w = (
                Window.partitionBy("user_id")
                .orderBy("ts", "event_id")
                .rowsBetween(-preceding, following)
            )
            got = ev.select(
                "event_id",
                F.round(agg_fn(val).over(w).cast("double"), 6).alias("v"),
            )
            frame = f"ROWS BETWEEN {preceding} PRECEDING AND {following} FOLLOWING"
            order = "ts, event_id"
        else:
            usec = F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            ).cast("long")
            w = (
                Window.partitionBy("user_id")
                .orderBy(F.col("__u"))
                .rangeBetween(-preceding * 1_000_000, following * 1_000_000)
            )
            got = ev.withColumn("__u", usec).select(
                "event_id",
                F.round(agg_fn(val).over(w).cast("double"), 6).alias("v"),
            )
            frame = (
                f"RANGE BETWEEN INTERVAL {preceding} SECOND PRECEDING "
                f"AND INTERVAL {following} SECOND FOLLOWING"
            )
            order = "ts"
        inner = {"count": "count(*)", "sum": "sum(value)",
                 "min": "min(value)", "max": "max(value)"}[agg]
        sql = (
            f"SELECT event_id, round(CAST({inner} OVER "
            f"(PARTITION BY user_id ORDER BY {order} {frame}) AS DOUBLE), 6) "
            f"AS v FROM events"
        )
        assert_matches_oracle(got, sql, sf_dir)


class TestRandomGroupingSets:
    """Randomized rollup/cube/grouping-sets differential: NULL-indicator
    semantics and set expansion must match DuckDB for any key combination."""

    @settings(
        max_examples=12,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        mode=st.sampled_from(["ROLLUP", "CUBE"]),
        keys=st.lists(
            st.sampled_from(["event_type", "user_id % 3", "CAST(value >= 250 AS INT)"]),
            min_size=1,
            max_size=2,
            unique=True,
        ),
        agg=st.sampled_from(["count(*)", "round(sum(value), 6)", "min(event_id)"]),
    )
    def test_random_grouping_sets(self, spark, sf_dir, mode, keys, agg):
        from mysoftware_nocnetintel_spark.sources import register_views

        register_views(spark, sf_dir, ("events",))
        key_aliases = [f"({k}) AS k{i}" for i, k in enumerate(keys)]
        key_names = [f"k{i}" for i in range(len(keys))]
        sql = (
            f"SELECT {', '.join(key_names)}, {agg} AS agg_val FROM "
            f"(SELECT *, {', '.join(key_aliases)} FROM events) "
            f"GROUP BY {mode} ({', '.join(key_names)})"
        )
        got = spark.sql(sql)
        assert_matches_oracle(got, sql, sf_dir)


class TestRandomSetOpChains:
    """Randomized UNION/INTERSECT/EXCEPT (ALL and DISTINCT) chains over
    filtered projections — multiplicity semantics must match DuckDB."""

    @settings(
        max_examples=12,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        op=st.sampled_from(
            ["UNION", "UNION ALL", "INTERSECT", "INTERSECT ALL",
             "EXCEPT", "EXCEPT ALL"]
        ),
        t1=st.sampled_from(["view", "click", "purchase"]),
        t2=st.sampled_from(["view", "error", "signup"]),
        col=st.sampled_from(["user_id", "user_id % 7"]),
    )
    def test_random_setop_chain(self, spark, sf_dir, op, t1, t2, col):
        from mysoftware_nocnetintel_spark.sources import register_views

        register_views(spark, sf_dir, ("events",))
        sql = (
            f"SELECT ({col}) AS k FROM events WHERE event_type = '{t1}' "
            f"{op} "
            f"SELECT ({col}) AS k FROM events WHERE event_type = '{t2}'"
        )
        got = spark.sql(sql)
        assert_matches_oracle(got, sql, sf_dir)


class TestRandomRankingFunctions:
    """Randomized ranking-family differential: rank / dense_rank /
    row_number / ntile over random partition and order choices must match
    DuckDB, including tie handling (value has duplicates at every SF)."""

    @settings(
        max_examples=12,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        fn=st.sampled_from(["rank()", "dense_rank()", "row_number()", "ntile(5)"]),
        part=st.sampled_from(["user_id", "event_type", "user_id % 4"]),
        order=st.sampled_from(
            ["value, event_id", "ts, event_id", "value DESC, event_id"]
        ),
    )
    def test_random_ranking(self, spark, sf_dir, fn, part, order):
        from mysoftware_nocnetintel_spark.sources import register_views

        register_views(spark, sf_dir, ("events",))
        sql = (
            f"SELECT event_id, CAST({fn} OVER "
            f"(PARTITION BY ({part}) ORDER BY {order}) AS BIGINT) AS r "
            f"FROM events"
        )
        got = spark.sql(sql)
        assert_matches_oracle(got, sql, sf_dir)
