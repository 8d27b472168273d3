"""Registry-wide physical-plan LINT (SURVEY.md §4.2 tier, sweep form).

The per-key tests in test_plans.py pin the plans of individual
operators; this sweep prices the WHOLE registry against the three
plan shapes that decide 100 TB survival, so a future edit cannot
quietly introduce one in a key nobody pinned:

- ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` — a non-equi
  join. Fine ONLY when at least one side is bounded by construction
  (a no-group-key aggregate is exactly 1 row; a literal relation is
  fixed-size); fatal when both sides scale with data. Every key
  allowed to carry one is enumerated below with the bounded side
  named — evidence regenerable via ``python tools/plan_audit.py``.
- ``BatchEvalPython`` — row-at-a-time Python, the slow path. Allowed
  only for the two §2.L contract keys whose PURPOSE is the row-UDF
  correctness twin.

A key appearing here with a SCALAR reason means: the broadcast side
is a no-group-key aggregate (count/sum/avg over the whole relation),
so the product multiplies row counts by exactly 1 at any data scale.
LITERAL means the broadcast side is a fixed in-plan relation
(parameter grids, k-lists, fold ids) whose size is independent of
the data. Iterative keys (gradient descent, backtest folds) repeat
the scalar join per step — node counts scale with iterations, never
with rows.
"""

from __future__ import annotations

from systematic_review_classification_spark import all_oracles, all_queries
from tests.harness import plan_of

QUERIES = all_queries()
ORACLES = all_oracles()

# Keys allowed to plan a non-equi join (CartesianProduct or
# BroadcastNestedLoopJoin) — bounded side documented per family.
NONEQUI_OK = {
    # -- merge-tree demos: each side a <=1-row filtered shard state
    "agg_variance_merge",
    "agg_sketch_merge",
    # -- the non-equi-join CONTRACT keys themselves (bounded fixtures)
    "join_cross",        # region x nation, both dimension-sized
    "join_theta",        # band predicate over dimension-sized inputs
    # -- SCALAR joins: corpus/total statistics broadcast to every row
    "dedup_fellegi_sunter",   # match/unmatch priors (1 row)
    "dedup_minhash_eval",     # exact-duplicate totals for recall/precision
    "join_bloom_prefilter",   # bloom bitmap + n as scalars
    "ml_confusion_multiclass",  # grand-total row for rates
    "ml_eval_wss95",          # total positives/negatives
    "ml_feature_mi",          # corpus counts for MI terms
    "ml_gains_table",         # total positives for lift
    "ml_logreg_gd",           # weight state per GD iteration (1 row x steps)
    "ml_nb_portable",         # class priors + vocab size
    "ml_rank_screen",         # total relevant for recall@rank
    "ml_split_leakage",       # split sizes
    "ml_stop_screening",      # screening totals
    "ml_threshold_at_recall", # total positives -> threshold row
    "sim_bruteforce_topk",    # probe-block x base-block cogroup scalars
    "sim_hybrid_rrf",         # per-channel result counts
    "sim_rp_lsh",             # projection seeds + probe scalars
    "sim_sparse_cosine",      # corpus norm scalars
    "txt_bigram_lm_score",    # vocab size V for add-one smoothing
    "txt_bm25_topk",          # corpus stats (N, avgdl)
    "txt_bpe_apply",          # merge-table broadcast (bounded vocab)
    "txt_burstiness",         # document count N
    "txt_collocation",        # total bigram count for PMI
    "txt_conditional_entropy",  # total bigram mass
    "txt_df_idf",             # n_docs scalar
    "txt_distinctive_terms",  # per-corpus totals for log-odds
    "txt_logodds_shift",      # background-corpus totals + prior
    "txt_tfidf_topk",         # n_docs scalar
    "wl_anomaly_deseasonalized",  # global mean/std scalars
    "wl_autocorrelation",     # series mean/var scalars
    "wl_basket_rules",        # basket count N for support
    "wl_benford",             # total first-digit mass
    "wl_capture_recapture",   # Lincoln-Petersen totals
    "wl_causal_impact_lite",  # pre-period fit scalars
    "wl_change_attribution",  # period totals
    "wl_chi2_assoc",          # grand total for expected counts
    "wl_control_chart",       # center line + sigma scalars
    "wl_cuped",               # theta = cov/var scalar
    "wl_cusum",               # target mean scalar
    "wl_data_quality",        # per-table row-count scalars
    "wl_eb_shrinkage",        # prior mean/strength scalars
    "wl_equidepth_bins",      # total count for bin edges
    "wl_error_budget",        # period-total budget scalar (1-row sum)
    "wl_forecast_backtest",   # fold stats per backtest step (LITERAL folds)
    "wl_funnel_steps",        # step-0 cohort size
    "wl_growth_accounting",   # period-boundary scalars
    "wl_kaplan_meier",        # at-risk totals
    "wl_kl_source_mix",       # corpus-mix totals
    "wl_ks_test",             # sample sizes n, m
    "wl_lorenz_points",       # population/value totals
    "wl_pagerank3",           # node count N per iteration (1 row x 3)
    "wl_pareto_frontier",     # global frontier scalars
    "wl_periodogram",         # series length + mean scalars
    "wl_poisson_bootstrap",   # observed statistic row
    "wl_psi_drift",           # per-period totals
    "wl_q11_partvalue",       # Q11 threshold scalar (pinned reuse test)
    "wl_q22_inactive",        # Q22 avg-balance scalar
    "wl_rank_correlation",    # n + tie-correction scalars
    "wl_rendezvous_hashing",  # node list LITERAL
    "wl_resample_ffill",      # event-type x day spine, both sides bounded
    "wl_retention_half_life", # cohort-size scalar
    "wl_retrieval_eval",      # per-metric totals (LITERAL k grid)
    "wl_rfm",                 # 1-row R/F/M median-edge aggregate
    "wl_seasonal_index",      # grand-mean scalar
    "wl_simpson_check",       # pooled-rate scalars
    "wl_skew_report",         # table-total scalar for share
    "wl_srm_check",           # expected-ratio scalar
    "wl_stratified_ate",      # stratum-weight totals
    "wl_theil_sen",           # median-slope scalar
    "wl_triangles",           # triangle-count scalar vs wedge total
}

# Keys allowed a row-at-a-time Python eval node: the §2.L row-UDF
# contract twins — their purpose IS the slow path, on bounded input.
ROW_PYTHON_OK = {"udf_python", "udtf_python"}


def test_registry_nonequi_and_row_python_lint(spark, sf_dir):
    bad: list[tuple[str, str]] = []
    for key, fn in QUERIES.items():
        s = plan_of(fn(spark, sf_dir))
        nonequi = ("CartesianProduct" in s) or ("BroadcastNestedLoopJoin" in s)
        if nonequi and key not in NONEQUI_OK:
            bad.append((key, "unvetted non-equi join (Cartesian/BNLJ)"))
        if "BatchEvalPython" in s and key not in ROW_PYTHON_OK:
            bad.append((key, "row-at-a-time Python in the plan"))
    assert not bad, f"{len(bad)} keys fail the plan lint: {bad}"


def test_nonequi_allowlist_is_live():
    """Every allowlisted key must still exist — a renamed/removed key
    must not leave a stale allowlist hole a future key could fall
    into silently."""
    dead = (NONEQUI_OK | ROW_PYTHON_OK) - set(QUERIES)
    assert not dead, f"allowlist entries no longer registered: {sorted(dead)}"
