"""Registry-WIDE physical plan-shape sweep — the design-for-scale gate.

Every registry query's built plan is checked for the three local-mode
plan shapes that become cluster-killers at 100 TB:

- ``CartesianProduct``: never acceptable, no whitelist.
- ``BroadcastNestedLoopJoin``: acceptable ONLY as the physical form of a
  broadcast of a BOUNDED side (a scalar-aggregate stats row, a literal
  query-vector table, a codebook) — each allowed query is whitelisted
  with the bounded side named, so a new unbounded BNLJ fails the sweep.
- ``Exchange SinglePartition``: acceptable ONLY for scalar aggregates and
  post-aggregation windows over provably bounded row counts (score
  grids, histogram bins, per-lang rollups) — same whitelist discipline.

The per-query gates in test_plans.py pin EXACT shapes for rewritten hot
paths; this sweep is the coarse safety net that keeps every future query
honest by default. Plans are built at sf0.001 (shape is SF-independent;
building is cheap there even for the k-means/model-fit queries).
"""

from __future__ import annotations

from mysoftware_nocnetintel_spark.plans import QUERIES

from .conftest import SF_DIR as SF

# query -> (max BNLJ occurrences, bounded side justifying them)
_BNLJ_OK = {
    "q9_knn": (1, "single literal query vector broadcast"),
    "q35_embedding_neardup": (1, "scalar norm/stats side"),
    "q36_knn_batch": (1, "5-row query-vector table broadcast"),
    "q42_ann_lsh": (2, "query-vector + hyperplane literal sides"),
    "q48_ann_ivf": (1, "query-vector/centroid literal side"),
    "q76_ann_pq": (2, "query-vector + codebook literal sides"),
    "q90_ann_ivfpq": (2, "query-vector + codebook literal sides"),
    "q92_ann_opq": (2, "rotated query-vector + codebook literal sides"),
    "q67_tfidf": (1, "scalar corpus-size aggregate"),
    "q84_maintenance_suppression": (1, "bounded maintenance-window dim"),
    "q85_flap_suppression": (1, "bounded suppression-window side"),
    "q109_pmi_bigrams": (2, "scalar unigram/bigram totals"),
    "q112_chi2_independence": (5, "marginal-total grids (|types|x|days|)"),
    "q114_attribution": (1, "scalar conversion-total aggregate"),
    "q117_bigram_surprisal": (2, "scalar vocab/total aggregates"),
    "q119_source_overlap": (1, "scalar per-source vocab totals"),
    "q124_bm25": (1, "single-row corpus-statistics side table"),
    "q133_rfm_segments": (1, "single-row quartile-boundary aggregate"),
    "q136_temperature_mix": (1, "single-row temperature-normalizer aggregate"),
    "q140_psi_drift": (1, "single-row global min/max bin-edge aggregate"),
    "q145_embedding_decontam": (
        1,
        "broadcast held-out eval split (~1/16 md5 bucket — the bounded "
        "benchmark side of a decontamination pass; the train corpus "
        "streams through map-side)",
    ),
    "q146_bpe_pipeline": (
        2,
        "single-row eval-encode checksum aggregate joined onto the "
        "30-row local merge list",
    ),
}

# query -> (max SinglePartition exchanges, bounded set justifying them)
_SINGLE_OK = {
    "q52_model_metrics": (1, "scalar metrics aggregate"),
    "q54_scalar_subquery": (2, "scalar subquery aggregates"),
    "q67_tfidf": (1, "scalar corpus-size aggregate"),
    "q74_auc": (1, "cumulative window over bounded integer score grid"),
    "q78_hll_rollup": (1, "merge of per-day sketch partials"),
    "q81_root_cause_lift": (2, "scalar lift denominators"),
    "q84_maintenance_suppression": (1, "bounded window-dim aggregate"),
    "q85_flap_suppression": (1, "bounded suppression aggregate"),
    "q91_dedup_clusters": (1, "2-scalar convergence signature"),
    "q93_dedup_keep_one": (1, "per-lang keep-one rollup (|langs| rows)"),
    "q99_neardup_clusters": (1, "2-scalar convergence signature"),
    "q104_histogram_quantiles": (1, "cumulative window over 128 bins"),
    "q109_pmi_bigrams": (2, "scalar totals"),
    "q110_pagerank": (1, "2-scalar convergence/dangling aggregate"),
    "q112_chi2_independence": (4, "marginal totals"),
    "q114_attribution": (1, "scalar conversion total"),
    "q117_bigram_surprisal": (1, "scalar vocab total"),
    "q119_source_overlap": (2, "scalar per-source totals"),
    "q123_semdedup": (1, "k-means sample bound (centroid fit input cap)"),
    "q124_bm25": (1, "single-row statistics aggregate"),
    "q125_mllib_pipeline": (1, "scalar metrics row"),
    "q132_session_funnel": (1, "scalar funnel rollup"),
    "q133_rfm_segments": (1, "single-row quartile-boundary aggregate"),
    "q134_profile": (1, "scalar profile aggregate (one row, then explode)"),
    "q136_temperature_mix": (
        1,
        "normalizer agg over the per-source table (|sources| rows)",
    ),
    "q140_psi_drift": (1, "scalar min/max bin-edge aggregate"),
    "q146_bpe_pipeline": (
        2,
        "scalar eval-encode checksum aggregate (count/countDistinct/"
        "bit_xor over the eval split — one row by construction)",
    ),
}


def test_registry_plan_shapes(spark):
    failures = []
    for name, fn in QUERIES.items():
        try:
            plan = (
                fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
            )
        except Exception as e:  # a query that cannot BUILD is a failure too
            failures.append(f"{name}: build error {e!r:.120}")
            continue
        cart = plan.count("CartesianProduct")
        bnlj = plan.count("BroadcastNestedLoopJoin")
        single = plan.count("Exchange SinglePartition")
        if cart:
            failures.append(f"{name}: {cart} CartesianProduct")
        max_bnlj = _BNLJ_OK.get(name, (0, ""))[0]
        if bnlj > max_bnlj:
            failures.append(
                f"{name}: {bnlj} BroadcastNestedLoopJoin (allowed {max_bnlj}"
                " — whitelist it ONLY with a bounded build side)"
            )
        max_single = _SINGLE_OK.get(name, (0, ""))[0]
        if single > max_single:
            failures.append(
                f"{name}: {single} SinglePartition exchanges (allowed "
                f"{max_single} — whitelist ONLY bounded post-agg sets)"
            )
    assert not failures, "\n".join(failures)


def test_whitelists_reference_real_queries(spark):
    for name in list(_BNLJ_OK) + list(_SINGLE_OK):
        assert name in QUERIES, f"stale whitelist entry {name}"
