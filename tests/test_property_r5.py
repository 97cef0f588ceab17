"""Property-based differential suites for the round-3 continuation
operators: gap-fill spines, sequence packing, and as-of grid resampling.
Same discipline as test_property.py — randomized parameters, Spark plan
vs DuckDB SQL on the same parquet, value-hash comparison."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from mysoftware_nocnetintel_spark.operators.timeseries import asof_join
from mysoftware_nocnetintel_spark.plans.queries_r5 import q108_sequence_packing
from mysoftware_nocnetintel_spark.sources import load_table

from .oracle_harness import assert_matches_oracle

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


class TestGapfillRandomized:
    """Random sparsity (value band + user modulus) and spine step: the
    sequence-explode spine + left join must match generate_series."""

    @settings(**_SETTINGS)
    @given(
        lo=st.integers(min_value=-20, max_value=150),
        width=st.integers(min_value=10, max_value=200),
        mod=st.sampled_from([3, 7, 50, 200]),
        step=st.integers(min_value=1, max_value=6),
    )
    def test_gapfill_spine(self, spark, sf_dir, lo, width, mod, step):
        ev = load_table(spark, sf_dir, "events").filter(
            (F.col("value") >= lo)
            & (F.col("value") < lo + width)
            & (F.col("user_id") % mod == 0)
        )
        hourly = ev.groupBy(
            "user_id", F.date_trunc("hour", "ts").alias("h")
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        bounds = hourly.groupBy("user_id").agg(
            F.min("h").alias("h0"), F.max("h").alias("h1")
        )
        spine = bounds.select(
            "user_id",
            F.explode(
                F.sequence("h0", "h1", F.expr(f"INTERVAL {step} HOUR"))
            ).alias("h"),
        )
        got = (
            spine.join(hourly, ["user_id", "h"], "left")
            .select(
                "user_id",
                F.col("h").alias("hour_start"),
                F.coalesce("n_events", F.lit(0)).alias("n_events"),
                F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
            )
        )
        sql = f"""
            WITH f AS (
                SELECT user_id, ts, value FROM events
                WHERE value >= {lo} AND value < {lo + width}
                  AND user_id % {mod} = 0
            ),
            hourly AS (
                SELECT user_id, date_trunc('hour', ts) AS h,
                       count(*) AS n_events,
                       round(sum(value), 6) AS total_value
                FROM f GROUP BY 1, 2
            ),
            bounds AS (
                SELECT user_id, min(h) AS h0, max(h) AS h1
                FROM hourly GROUP BY 1
            ),
            spine AS (
                SELECT user_id,
                       unnest(generate_series(h0, h1,
                              INTERVAL {step} HOUR)) AS h
                FROM bounds
            )
            SELECT s.user_id, s.h AS hour_start,
                   coalesce(n_events, 0) AS n_events,
                   coalesce(total_value, 0.0) AS total_value
            FROM spine s LEFT JOIN hourly USING (user_id, h)
        """
        assert_matches_oracle(got, sql, sf_dir)


class TestPackingRandomized:
    """Random context lengths: bin arithmetic (first-token bin, straddle
    census, fill ratio) must match the windowed-cumsum SQL at any
    capacity."""

    @settings(**_SETTINGS)
    @given(cap=st.sampled_from([64, 128, 513, 1024, 2048, 4096]))
    def test_packing_capacity(self, spark, sf_dir, cap):
        got = q108_sequence_packing(spark, sf_dir, context_len=cap)
        sql = f"""
            WITH per AS (
                SELECT source, doc_id,
                       len(list_filter(
                           string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> ''
                       )) AS n_tok
                FROM documents
            ),
            laid AS (
                SELECT source, n_tok,
                       sum(n_tok) OVER (
                           PARTITION BY source ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS cum
                FROM per
            ),
            binned AS (
                SELECT source, n_tok,
                       ((cum - n_tok) // {cap}) AS bin,
                       ((cum - 1) // {cap}) AS end_bin
                FROM laid
            )
            SELECT source,
                   count(*) AS n_docs,
                   sum(n_tok)::BIGINT AS total_tokens,
                   (max(end_bin) + 1)::BIGINT AS n_bins,
                   sum((end_bin > bin)::BIGINT)::BIGINT AS n_straddling,
                   round(sum(n_tok)::DOUBLE
                         / ((max(end_bin) + 1) * {cap}.0), 6) AS fill_ratio
            FROM binned GROUP BY source ORDER BY source
        """
        assert_matches_oracle(got, sql, sf_dir)


class TestShingleOverlapRandomized:
    """Fuzz the rewritten inverted-index core (window-lead shingles +
    hashed keys + window-fused stop-shingle cap) across shingle sizes,
    thresholds, and cap values against string-exact DuckDB SQL."""

    @settings(**_SETTINGS)
    @given(
        k=st.integers(min_value=2, max_value=5),
        threshold=st.sampled_from([0.3, 0.5, 0.8]),
        cap=st.sampled_from([None, 50, 500]),
    )
    def test_jaccard_matches_duckdb(self, spark, sf_dir, k, threshold, cap):
        from mysoftware_nocnetintel_spark.operators.dedup import (
            ngram_jaccard_pairs,
        )

        docs = load_table(spark, sf_dir, "documents")
        got = ngram_jaccard_pairs(
            docs, "doc_id", "text", shingle_k=k, threshold=threshold,
            max_shingle_df=cap,
        ).orderBy("id_a", "id_b")
        gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(k)).replace(
            "t[i+0]", "t[i]"
        )
        cap_filter = (
            ""
            if cap is None
            else f""",
            hot AS (
                SELECT shingle FROM ex GROUP BY shingle
                HAVING count(*) > {cap}
            )"""
        )
        ex_src = (
            "ex" if cap is None else "(SELECT * FROM ex ANTI JOIN hot USING (shingle))"
        )
        sql = f"""
            WITH toks AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                FROM documents
            ),
            sh AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, greatest(len(t) - {k - 1}, 0) + 1),
                           i -> {gram})) AS s
                FROM toks
            ),
            ex AS (
                SELECT doc_id, len(s) AS n, unnest(s) AS shingle FROM sh
            ){cap_filter},
            pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       count(*) AS common,
                       any_value(a.n) AS na, any_value(b.n) AS nb
                FROM {ex_src} a JOIN {ex_src} b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(common * 1.0 / (na + nb - common), 6) AS jaccard
            FROM pairs
            WHERE round(common * 1.0 / (na + nb - common), 6) >= {threshold}
            ORDER BY id_a, id_b
        """
        assert_matches_oracle(got, sql, sf_dir)


class TestPagerankRandomized:
    """Random damping factors and iteration counts: the iterative operator
    must match the unrolled-CTE oracle at every configuration, not just
    the registered (10, 0.85)."""

    @settings(**_SETTINGS)
    @given(
        iters=st.integers(min_value=1, max_value=12),
        damping=st.sampled_from([0.5, 0.7, 0.85, 0.99]),
        strategy=st.sampled_from(
            [(500_000, 2_000_000), (0, 2_000_000), (0, 0)]
        ),
    )
    def test_pagerank_config_matches_unrolled_sql(
        self, spark, sf_dir, iters, damping, strategy
    ):
        from mysoftware_nocnetintel_spark.operators import graph as G
        from mysoftware_nocnetintel_spark.operators.graph import pagerank

        from mysoftware_nocnetintel_spark.plans.oracles_r5 import _pagerank_sql

        # exercise all three physical strategies against the same oracle
        saved = (G._LOCAL_EDGES, G._BROADCAST_NODES)
        G._LOCAL_EDGES, G._BROADCAST_NODES = strategy
        try:
            ev = load_table(spark, sf_dir, "events")
            w = Window.partitionBy("user_id").orderBy("ts", "event_id")
            edges = (
                ev.select(
                    F.col("event_type").alias("src"),
                    F.lead("event_type").over(w).alias("dst"),
                )
                .filter(F.col("dst").isNotNull())
                .groupBy("src", "dst")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            w_src = Window.partitionBy("src")
            edges = edges.select(
                "src", "dst", (F.col("n") / F.sum("n").over(w_src)).alias("w")
            )
            got = (
                pagerank(edges, num_iters=iters, damping=damping, weight="w")
                .select("node", F.round("r", 6).alias("pagerank"))
            )
            assert_matches_oracle(got, _pagerank_sql(iters, damping), sf_dir)
        finally:
            G._LOCAL_EDGES, G._BROADCAST_NODES = saved


class TestAsofGridRandomized:
    """Random resample grids against DuckDB's native ASOF JOIN: for every
    grid point, the latest event at or before it per user."""

    @settings(**_SETTINGS)
    @given(
        step_min=st.sampled_from([7, 30, 60, 240]),
        mod=st.sampled_from([5, 20, 100]),
    )
    def test_resample_grid_asof(self, spark, sf_dir, step_min, mod):
        ev = load_table(spark, sf_dir, "events").filter(
            F.col("user_id") % mod == 0
        )
        bounds = ev.groupBy("user_id").agg(
            F.date_trunc("hour", F.min("ts")).alias("t0"),
            F.max("ts").alias("t1"),
        )
        grid = bounds.select(
            "user_id",
            F.explode(
                F.sequence("t0", "t1", F.expr(f"INTERVAL {step_min} MINUTE"))
            ).alias("ts"),
        )
        # tiebreak on event_id: equal-ts right rows must carry a
        # deterministic payload in BOTH engines (DuckDB ASOF breaks ties
        # arbitrarily, so fold the tiebreak into the oracle via argmax)
        got = asof_join(
            grid,
            ev.select("user_id", "ts", "value", "event_id"),
            keys="user_id",
            right_cols=["value"],
            right_tiebreak="event_id",
        ).select(
            "user_id",
            F.col("ts").alias("grid_ts"),
            F.round(F.coalesce("value_right", F.lit(-1.0)), 6).alias("v"),
        )
        sql = f"""
            WITH f AS (
                SELECT user_id, ts, value, event_id FROM events
                WHERE user_id % {mod} = 0
            ),
            bounds AS (
                SELECT user_id, date_trunc('hour', min(ts)) AS t0,
                       max(ts) AS t1
                FROM f GROUP BY 1
            ),
            grid AS (
                SELECT user_id,
                       unnest(generate_series(t0, t1,
                              INTERVAL {step_min} MINUTE)) AS ts
                FROM bounds
            ),
            dedup AS (
                SELECT user_id, ts, arg_max(value, event_id) AS value
                FROM f GROUP BY user_id, ts
            )
            SELECT g.user_id, g.ts AS grid_ts,
                   round(coalesce(d.value, -1.0), 6) AS v
            FROM grid g ASOF LEFT JOIN dedup d
              ON g.user_id = d.user_id AND g.ts >= d.ts
        """
        assert_matches_oracle(got, sql, sf_dir)
