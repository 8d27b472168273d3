"""One differential test per registered query — the same comparison
the driver runs at t2, so t2 failures never surprise (SURVEY.md §5.2.5).
Rows-only queries (no oracle) are executed and sanity-checked instead.
"""

from __future__ import annotations

import pytest

from bench import HEADLINE
from systematic_review_classification_spark import all_oracles, all_queries
from tests.harness import compare

QUERIES = all_queries()
ORACLES = all_oracles()

# ---- fast tier ----------------------------------------------------
# The driver's default gate runs a curated oracle sample instead of
# the full 446-key sweep, which with the world sweeps takes far longer
# than the driver's verification window. The sample = every bench
# headline key (bench.HEADLINE) + _TOUCHED (keys whose plans changed
# in recent rounds, and an oracled key for each shared column helper
# in functions/vectors.py, functions/seeded.py and
# shingles.adjacent_pairs; sqdist's only operator, sim_pq_adc, is
# rows-only) + a deterministic every-9th spread across the sorted
# registry, so each operator module keeps differential coverage in the
# gate. The full sweep stays as the builder tier (pytest.ini header).
_TOUCHED = {
    "dedup_near_jaccard", "dedup_ngram_jaccard",
    "dedup_minhash_portable", "dedup_minhash_eval",
    "dedup_components", "dedup_scurve_empirical",
    "dedup_threshold_sweep", "txt_containment", "mm_decode_stub",
    "ml_screen_e2e", "wl_pareto_frontier",
    "dedup_simhash", "dedup_simhash64", "dedup_simhash_band",
    "mm_vector_norm", "sim_semdedup_centroid", "ml_split_leakage",
    "wl_poisson_bootstrap", "txt_ngram",
}
_SPREAD = {k for i, k in enumerate(sorted(ORACLES)) if i % 9 == 0}
FAST_ORACLE = sorted((set(HEADLINE) | _TOUCHED | _SPREAD) & set(ORACLES))
# rows-only smoke: cheap representatives only — the expensive rows-only
# keys (MLlib estimator fits, streaming replays, the degenerate-vocab
# dedup_minhash) belong to the builder tier
FAST_ROWS_ONLY = sorted(
    {"ml_active_screen", "ml_lr", "sample_seeded", "agg_hll_sketch",
     "sim_ann_lsh"}
    & (set(QUERIES) - set(ORACLES))
)


@pytest.mark.parametrize("key", FAST_ORACLE)
def test_oracle_match_fast(key, spark, sf_dir, duck):
    compare(QUERIES[key](spark, sf_dir), duck, ORACLES[key], key=key)


@pytest.mark.parametrize("key", FAST_ROWS_ONLY)
def test_rows_only_runs_fast(key, spark, sf_dir):
    df = QUERIES[key](spark, sf_dir)
    n = df.count()
    assert n >= 0
    assert len(df.schema.fields) > 0


# ---- builder tier: the full registry sweep ------------------------


@pytest.mark.slow
@pytest.mark.parametrize("key", sorted(ORACLES))
def test_oracle_match(key, spark, sf_dir, duck):
    compare(QUERIES[key](spark, sf_dir), duck, ORACLES[key], key=key)


@pytest.mark.slow
@pytest.mark.parametrize("key", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_runs(key, spark, sf_dir):
    df = QUERIES[key](spark, sf_dir)
    n = df.count()
    assert n >= 0
    assert len(df.schema.fields) > 0
