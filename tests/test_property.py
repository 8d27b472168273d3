"""Property-based cross-engine fuzzing (hypothesis): generate small
adversarial corpora — unicode, quotes, whitespace runs, duplicate
texts, single-token docs — write them as the documents table, and
check that a representative slice of document operators still matches
its DuckDB oracle EXACTLY on data the fixtures never exercise.

This is the generalization of test_edge_values: instead of a fixed
edge list, hypothesis searches the input space for dialect drift
(tokenization, hashing, aggregation) and shrinks any failure to a
minimal corpus.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # builder tier: full-registry sweep (see pytest.ini)
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from systematic_review_classification_spark import all_oracles, all_queries
import duckdb

from tests.harness import canonical_rows
from tests.worlds import ddl

# Words mix ascii, unicode, quoting, and digits; texts are space-joined
# so both engines' tokenizers see identical boundaries.
_WORDS = st.sampled_from(
    ["spark", "join", "dup", "中文", "it's", 'q"q', "x1", "UPPER", "a", "zzz"]
)
_TEXT = st.lists(_WORDS, min_size=1, max_size=12).map(" ".join)

_DOC = st.tuples(_TEXT, st.sampled_from(["en", "zh", "unk"]), st.sampled_from(["s0", "s1"]))
_CORPUS = st.lists(_DOC, min_size=1, max_size=12)

# Documents-driven operators with full oracles, chosen to cover the
# dialect-risk families: hashing (dedup), tokenizing + HOFs (bpe
# count), posting-list aggregation (inverted index), shingle pairing
# (containment), and windowed keeper dedup (pretrain manifest).
_KEYS = [
    "dedup_exact",
    "txt_token_count_bpe",
    "wl_inverted_index",
    "txt_containment",
    "wl_pretrain_pipeline",
    # r4b: the portable-hash LSH families — band bucketing and hamming
    # verification logic on tiny adversarial corpora (duplicate texts,
    # single-token docs, unicode)
    "dedup_minhash_portable",
    "dedup_minhash_canonical",
    "dedup_simhash64",
    "dedup_simhash_band",
    "dedup_biblio",
    # r4c: corpus statistics with smoothing/ratio branches
    "txt_readability", "txt_script_mix", "txt_chao1_richness",
    "txt_distinctive_terms", "txt_logodds_shift", "wl_wilson_ci",
    "wl_capture_recapture", "txt_repetition", "wl_dataset_card",
    "txt_ocr_artifact_filter", "txt_bpe_pair_counts",
    # r5: empty-pair-set divergence class (a 1-doc or all-distinct-source
    # corpus produces ZERO candidate pairs; a global agg would emit one
    # NULL row where the oracle emits none)
    "dedup_threshold_sweep", "dedup_near_jaccard", "dedup_scurve_empirical",
]


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    return tmp_path_factory.mktemp("prop_corpus")


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(corpus=_CORPUS)
def test_document_oracles_hold_on_generated_corpora(spark, corpus_dir, corpus):
    rows = [
        (i, text, lang, source, len(text))
        for i, (text, lang, source) in enumerate(corpus)
    ]
    path = str(corpus_dir / "case")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")

    queries, oracles = all_queries(), all_oracles()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/documents.parquet/*.parquet')"
    )
    try:
        for key in _KEYS:
            sp = canonical_rows(queries[key](spark, path).toPandas())
            du = canonical_rows(con.execute(oracles[key]).df())
            assert sp == du, f"[{key}] diverged on generated corpus {rows!r}"
    finally:
        con.close()


_EVT_TYPES = ["click", "view", "purchase", "signup", "error"]

_EVENT = st.tuples(
    # offsets: constants and same-second collisions COMMON — constant
    # daily counts make stddev/MAD exactly 0, the ANSI-division trap
    st.one_of(
        st.just(0),
        st.sampled_from([3600, 86_400, 172_800]),
        st.integers(min_value=0, max_value=3600 * 72),
    ),
    st.integers(min_value=1, max_value=4),          # user_id — few users => deep windows
    st.sampled_from(_EVT_TYPES),
    # values: degenerate constants common (zero variance arms)
    st.one_of(st.just(1_000), st.integers(min_value=1, max_value=100_000)),
)
_EVENTS = st.lists(_EVENT, min_size=1, max_size=25)

_EVENT_KEYS = [
    "win_running_distinct", "wl_path_trigrams", "wl_hour_heatmap", "win_ewma",
    "wl_interval_union", "wl_lateness_profile", "wl_cusum", "wl_control_chart",
    "wl_concurrency",
    # r4: branchy conversion/censoring logic the fixture under-covers
    # (any path length incl. 2-touch, empty treatment arms, all-censored)
    "wl_multitouch_attribution", "wl_kaplan_meier", "wl_stratified_ate",
    # r4: statistics that divide by data-dependent spreads — constant
    # inputs make sigma/MAD/variance exactly 0
    "wl_anomaly_zscore", "win_rolling_zscore", "wl_mad_outliers",
    "wl_ab_ttest", "wl_paired_ttest", "wl_cuped", "wl_ks_test",
    "wl_psi_drift", "wl_srm_check", "wl_power_analysis",
    # r4b: window family under same-second ties (tie-break determinism)
    "win_gaps_islands", "win_time_range", "win_lag_ignore_nulls",
    "win_lag_lead", "wl_anomaly_deseasonalized", "pivot_multi_agg",
    # r4c: sessionization / chain / time-series analytics on sparse,
    # collision-heavy, constant-valued streams
    "wl_retention", "wl_dau_wau", "wl_markov_transitions",
    "wl_markov2_conditional", "wl_markov_absorbing", "wl_funnel",
    "wl_funnel_steps", "wl_stickiness", "wl_growth_accounting",
    "wl_interarrival_hist", "wl_engagement_hist",
    "wl_retention_half_life", "wl_autocorrelation", "wl_periodogram",
    "wl_holt_smoothing", "wl_theil_sen", "wl_seasonal_index",
    "wl_error_budget", "wl_causal_impact_lite", "wl_forecast_backtest",
    "wl_linear_forecast", "wl_resample_ffill", "wl_attribution",
    "wl_dp_counts",
    # r5: remaining events-only wl_* stat keys (verdict r4 asked for the
    # FULL stat list under constant-series/single-day generators —
    # wl_autocorrelation's zero-variance abort hid in exactly this gap)
    "wl_anova_seasonality", "wl_daily_quantile_bands", "wl_diff_in_diff",
    "wl_seasonality", "wl_forget_users", "agg_time_rollup",
    "batch_session_window",
    # r6: events-based rollups from the divisor sweep (verdict r5 asked
    # that every key dividing by a data-derived quantity be fuzzed)
    "agg_incremental_rollup", "cache_reuse",
]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(events=_EVENTS)
def test_event_oracles_hold_on_generated_streams(spark, corpus_dir, events):
    """Windows over event time must agree cross-engine even with
    COLLIDING timestamps (same user, same second — the tie-break
    determinism the synthetic fixtures barely exercise) and deep
    per-user sequences (EWMA fold order, trigram leads)."""
    import datetime as dt

    base = dt.datetime(2024, 3, 1)
    rows = [
        (i, base + dt.timedelta(seconds=off), uid, typ, cents / 100.0)
        for i, (off, uid, typ, cents) in enumerate(events)
    ]
    path = str(corpus_dir / "evcase")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")

    queries, oracles = all_queries(), all_oracles()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}/events.parquet/*.parquet')"
    )
    try:
        for key in _EVENT_KEYS:
            sp = canonical_rows(queries[key](spark, path).toPandas())
            du = canonical_rows(con.execute(oracles[key]).df())
            assert sp == du, f"[{key}] diverged on generated events {rows!r}"
    finally:
        con.close()


_DATES = [
    "1996-12-31", "1997-01-01", "1997-06-30", "1997-07-01",
    "1997-12-31", "1998-01-01", "1996-02-29", "1998-08-01",
]

_ORDER = st.tuples(
    st.integers(min_value=1, max_value=6),        # o_custkey (collisions certain)
    st.sampled_from(["O", "F", "P"]),
    # totalprice cents — zero COMMON: all-zero-price tables make every
    # sum(revenue)-style denominator exactly 0 on both engines
    st.one_of(st.just(0), st.integers(min_value=0, max_value=50_000_00)),
    st.sampled_from(_DATES),                      # boundary dates incl. leap day
    st.sampled_from(["1-URGENT", "3-MEDIUM", "5-LOW"]),
)
_ORDERS = st.lists(_ORDER, min_size=1, max_size=20)

_ORDER_KEYS = ["wl_benford", "agg_weighted_median", "wl_merge_upsert",
               "wl_data_quality", "wl_pit_features", "wl_decayed_popularity",
               # r4: concentration/inequality/moment statistics on
               # degenerate tables (constant prices, single customer,
               # duplicate keys) — zero-spread division traps
               "wl_theil_index", "wl_hhi", "wl_gini", "wl_equidepth_bins",
               "wl_lorenz_points", "wl_simpson_check",
               "wl_effective_sample_size", "wl_winsorized_mean",
               "wl_iqr_outliers", "agg_higher_moments", "agg_linreg",
               "wl_abc_analysis", "win_nth_value", "win_top_percent",
               # r5: remaining orders-only wl_* stat keys (verdict r4:
               # sweep the FULL stat family under degenerate generators)
               "wl_poisson_bootstrap", "wl_rfm", "wl_snapshot_diff",
               "wl_ivm_retraction", "wl_rendezvous_hashing",
               "wl_data_vault_keys", "agg_mode_tiebreak",
               "agg_percentile_disc", "agg_bitmap_distinct"]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(orders=_ORDERS)
def test_order_oracles_hold_on_generated_tables(spark, corpus_dir, orders):
    """Date-boundary and duplicate-sort-key fuzzing for the orders
    ops: period edges (half/year boundaries, a leap day), duplicated
    (custkey, orderdate) pairs (running-sum tie-breaks), and the full
    price range (Benford's floor-guarded digit cast)."""
    import datetime as dt

    o_rows = [
        (i + 1, ck, stat, cents / 100.0, dt.date.fromisoformat(day), prio)
        for i, (ck, stat, cents, day, prio) in enumerate(orders)
    ]
    c_rows = [(k, f"cust{k}", 100.0 + k, "SEG") for k in range(1, 7)]
    l_rows = [
        (o[0], 1, 1, 1, float(1 + o[0] % 5), 100.0, 0.05, 0.01, "N", "O",
         dt.date(1997, 1, 1))
        for o in o_rows
    ]
    path = str(corpus_dir / "ordcase")
    spark.createDataFrame(
        o_rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double,"
        " o_orderdate date, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/orders.parquet")
    spark.createDataFrame(
        c_rows, "c_custkey long, c_name string, c_acctbal double, c_mktsegment string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/customer.parquet")
    spark.createDataFrame(
        l_rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double, l_tax double,"
        " l_returnflag string, l_linestatus string, l_shipdate date",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/lineitem.parquet")

    queries, oracles = all_queries(), all_oracles()
    con = duckdb.connect()
    for t in ("orders", "customer", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/{t}.parquet/*.parquet')"
        )
    try:
        for key in _ORDER_KEYS:
            sp = canonical_rows(queries[key](spark, path).toPandas())
            du = canonical_rows(con.execute(oracles[key]).df())
            assert sp == du, f"[{key}] diverged on generated orders {o_rows!r}"
    finally:
        con.close()


# --- functions/ranks.py: the two-pass primitives vs the naive window ---

_VALS = st.lists(
    st.tuples(st.integers(-1000, 1000), st.integers(0, 5)),
    min_size=1,
    max_size=60,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(vals=_VALS)
def test_global_rank_equals_naive_window(spark, vals):
    """global_rank must equal row_number() over the same total order
    for any data/partitioning — including duplicates in the range key
    (id breaks ties), empty range partitions, and tiny inputs."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from systematic_review_classification_spark.functions.ranks import (
        global_prefix_sum,
        global_rank,
    )

    df = spark.createDataFrame(
        [(i, k, w) for i, (k, w) in enumerate(vals)], "id long, k long, w long"
    )
    got = {
        r.id: r.rnk
        for r in global_rank(df, F.col("k"), F.col("id"), rank_col="rnk").collect()
    }
    want = {
        r.id: r.rnk
        for r in df.select(
            "id", F.row_number().over(W.orderBy("k", "id")).alias("rnk")
        ).collect()
    }
    assert got == want

    got_ps = {
        r.id: r.cum
        for r in global_prefix_sum(df, "w", F.col("k"), F.col("id")).collect()
    }
    want_ps = {
        r.id: r.cum
        for r in df.select(
            "id", F.sum("w").over(W.orderBy("k", "id")).alias("cum")
        ).collect()
    }
    assert got_ps == want_ps


def test_global_rank_totals_match_aggregates(spark):
    from pyspark.sql import functions as F

    from systematic_review_classification_spark.functions.ranks import global_rank

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k"), (F.col("id") * 2).alias("w")
    )
    out = global_rank(
        df,
        F.col("k"),
        F.col("id"),
        rank_col="rnk",
        totals={"n": F.count(F.lit(1)), "tw": F.sum("w")},
    )
    row = out.select("n", "tw").distinct().collect()
    assert row == [(100, 9900)], row


# --- r4: position-arithmetic / entropy / growth-curve document keys ---
# The advisor-bug class: oracles that enumerate token positions,
# bigrams, or growth bins can silently hard-code fixture shape (the r3
# 200-position cap). Fuzz them with LONG documents (up to ~300 tokens,
# repeated runs, shared spans across docs) that the driver fixture
# never produces.

_LONG_TEXT = st.lists(
    st.tuples(_WORDS, st.integers(min_value=1, max_value=40)),
    min_size=1,
    max_size=12,
).map(lambda runs: " ".join(w for w, n in runs for _ in range(n)))

_LONG_DOC = st.tuples(
    _LONG_TEXT, st.sampled_from(["en", "unk"]), st.sampled_from(["s0", "s1"])
)
_LONG_CORPUS = st.lists(_LONG_DOC, min_size=1, max_size=6)

_LONG_KEYS = [
    "dedup_exact_substring",
    "txt_bigram_lm_score",
    "txt_conditional_entropy",
    "txt_boilerplate_strip",
    "txt_oov_curve",
    "txt_repetition",
    "txt_burstiness",
    "wl_vocab_growth",
    "txt_heaps_fit",
    "txt_novelty_rate",
    "sim_sparse_cosine",
    # r4b: hashing/ratio dedup + scoring keys on long repeated-run docs
    "dedup_paragraph",
    "dedup_ngram_jaccard",
    "dedup_keep_best",
    "txt_langid",
    "txt_quality_score",
    "txt_fingerprint",
    "wl_clean_corpus",
    "wl_eb_shrinkage",
]


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(corpus=_LONG_CORPUS)
def test_long_document_oracles_hold(spark, corpus_dir, corpus):
    rows = [
        (i, text, lang, source, len(text))
        for i, (text, lang, source) in enumerate(corpus)
    ]
    path = str(corpus_dir / "longcase")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")

    queries, oracles = all_queries(), all_oracles()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/documents.parquet/*.parquet')"
    )
    try:
        for key in _LONG_KEYS:
            sp = canonical_rows(queries[key](spark, path).toPandas())
            du = canonical_rows(con.execute(oracles[key]).df())
            assert sp == du, f"[{key}] diverged on generated corpus {rows!r}"
    finally:
        con.close()


# --- r4: embedding-space keys on INTEGER-valued vectors ---
# Small-integer components keep every dot product / norm exact in
# float64, so any mismatch is a LOGIC divergence, never fp noise.
# Vectors are always 64-dim (the production dim several ops pin in
# their projection constants); zero vectors are allowed — division
# handling (NaN/Inf) must agree cross-engine too.

_VEC = st.lists(
    st.integers(min_value=-3, max_value=3), min_size=64, max_size=64
).map(lambda xs: [float(x) for x in xs])

_EMB_ROW = st.tuples(_VEC, st.integers(min_value=0, max_value=2))
_EMB_TABLE = st.lists(_EMB_ROW, min_size=1, max_size=10)

_EMB_KEYS = [
    "sim_cosine_topk",
    "sim_centroid",
    "wl_embedding_drift",
    "sim_semdedup_centroid",
    "dedup_embed_cos",
    "dedup_degree_hist",
    "mm_embed_quantize",
    "sim_topk_int8",
    # r6: divisor sweep — zero vectors make the norm denominator 0
    "mm_vector_norm",
]


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(table=_EMB_TABLE)
def test_embedding_oracles_hold_on_generated_vectors(spark, corpus_dir, table):
    rows = [(i, vec, label) for i, (vec, label) in enumerate(table)]
    path = str(corpus_dir / "embcase")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/embeddings.parquet")

    queries, oracles = all_queries(), all_oracles()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}/embeddings.parquet/*.parquet')"
    )
    try:
        for key in _EMB_KEYS:
            sp = canonical_rows(queries[key](spark, path).toPandas())
            du = canonical_rows(con.execute(oracles[key]).df())
            assert sp == du, f"[{key}] diverged on generated embeddings {rows!r}"
    finally:
        con.close()


# --- r4c: the join family on generated tables with FULL schemas ---
# Static tiny dims + generated customers/orders/lineitem exercise
# join semantics (left/full null extension, semi/anti de-dup, theta
# ranges, null-safe buckets incl. the NULL key) on shapes the fixture
# holds constant: empty probe sides, all-match, no-match, duplicate
# keys, NULL-bucket collisions.

_CUST = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),      # c_nationkey (incl. %5==4 -> NULL bucket)
        st.sampled_from(["BUILDING", "MACHINERY"]),
        st.integers(min_value=-100, max_value=1000),  # acctbal (negatives matter)
    ),
    min_size=1,
    max_size=6,
)

_JOIN_KEYS = [
    "join_broadcast", "join_left", "join_full", "join_semi",
    "join_anti", "join_theta", "join_null_safe", "join_multiway",
    # graph family on the same tables: degenerate graphs (no edges,
    # isolated nodes, single component) that sf fixtures never produce
    "graph_clustering_coeff", "graph_powerlaw_fit",
    "graph_link_prediction", "graph_bfs_levels",
    "wl_triangles", "wl_copurchase",
    # SQL frontend / set ops / reshape on the same tables
    "sql_qualify", "sql_natural_join", "sql_params", "sql_subqueries",
    "set_ops_all", "set_union_missing", "pivot_wide", "unpivot_long",
    "stat_crosstab", "agg_string_agg", "agg_mode_tiebreak", "agg_geomean",
    # r6: multi-table keys from the divisor sweep — all-zero-price and
    # empty-filter-result tables drive revenue/share denominators to 0
    # (the guards must null out identically on both engines), and the
    # relational/rollup keys ride along for shape coverage
    "filter_null", "win_first_last", "agg_variance_merge",
    "wl_q14_promo", "sample_weighted_es", "wl_q8_share", "wl_q2_mincost",
    "wl_pagerank3", "wl_pareto", "wl_basket_rules",
    "wl_change_attribution", "wl_skew_report", "wl_percent_of_parent",
]


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(custs=_CUST, orders=_ORDERS)
def test_join_oracles_hold_on_generated_tables(spark, corpus_dir, custs, orders):
    import datetime as dt

    path = str(corpus_dir / "joincase")
    c_rows = [
        (k + 1, f"cust{k + 1}", nk, float(bal), seg)
        for k, (nk, seg, bal) in enumerate(custs)
    ]
    o_rows = [
        (i + 1, ck, stat, cents / 100.0,
         dt.datetime.fromisoformat(day + " 00:00:00"), prio)
        for i, (ck, stat, cents, day, prio) in enumerate(orders)
    ]
    l_rows = [
        (o[0], (o[0] % 4) + 1, (o[0] % 3) + 1, 1 + (o[0] % 2),
         float(1 + o[0] % 5), 100.0 * (1 + o[0] % 3), 0.05, 0.01,
         "N" if o[0] % 2 else "R", "O",
         dt.datetime(1997, 1 + (o[0] % 12), 1))
        for o in o_rows
    ]
    tables = {
        "region": [(0, "AMERICA"), (1, "EUROPE")],
        "nation": [(0, "BRAZIL", 0), (1, "FRANCE", 1), (2, "GERMANY", 1)],
        "supplier": [(1, "sup1", 0, 100.0), (2, "sup2", 1, -5.0), (3, "sup3", 9, 0.0)],
        "part": [
            (1, "part1", "Brand#1", "SMALL BRASS", 5, 900.0),
            (2, "part2", "Brand#2", "LARGE STEEL", 30, 1500.0),
            (3, "part3", "Brand#1", "MEDIUM COPPER", 15, 1200.0),
            (4, "part4", "Brand#3", "SMALL STEEL", 50, 400.0),
        ],
        "customer": c_rows,
        "orders": o_rows,
        "lineitem": l_rows,
    }
    for t, rows in tables.items():
        spark.createDataFrame(rows, ddl(t)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{path}/{t}.parquet")

    queries, oracles = all_queries(), all_oracles()
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/{t}.parquet/*.parquet')"
        )
    try:
        for key in _JOIN_KEYS:
            sp = canonical_rows(queries[key](spark, path).toPandas())
            du = canonical_rows(con.execute(oracles[key]).df())
            assert sp == du, f"[{key}] diverged on generated join tables"
    finally:
        con.close()


# --- r4c: streaming tier on generated collision streams ---
# Each key REALLY executes through micro-batches (availableNow over a
# staged copy of the generated events); 3 examples keep the state-store
# startup cost bounded. Exercises window assignment and session merge
# on same-second collisions and single-event streams.

_STREAM_KEYS = ["stream_tumbling", "stream_sliding", "stream_session"]


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(events=_EVENTS)
def test_streaming_oracles_hold_on_generated_streams(spark, corpus_dir, events):
    import datetime as dt
    import os

    base = dt.datetime(2024, 3, 1)
    rows = [
        (i, base + dt.timedelta(seconds=off), uid, typ, cents / 100.0, "{}")
        for i, (off, uid, typ, cents) in enumerate(events)
    ]
    path = str(corpus_dir / "streamcase")
    os.makedirs(path, exist_ok=True)
    # streaming staging symlinks {sf_dir}/events.parquet as ONE FILE
    # (the fixture layout); a Spark-written parquet DIRECTORY would be
    # invisible to the file-stream source — write via DuckDB instead
    wcon = duckdb.connect()
    wcon.execute(
        "CREATE TABLE ev (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
        " event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    wcon.executemany("INSERT INTO ev VALUES (?, ?, ?, ?, ?, ?)", rows)
    wcon.execute(f"COPY ev TO '{path}/events.parquet' (FORMAT PARQUET)")
    wcon.close()

    queries, oracles = all_queries(), all_oracles()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}/events.parquet')"
    )
    try:
        for key in _STREAM_KEYS:
            sp = canonical_rows(queries[key](spark, path).toPandas())
            du = canonical_rows(con.execute(oracles[key]).df())
            assert sp == du, f"[{key}] diverged on generated stream {rows!r}"
    finally:
        con.close()


# r5 (verdict r4 item 2): the spread-dividing statistics, fuzzed HARD on
# degenerate series — tiny streams where constant values / constant
# timestamps make every variance, MAD, slope denominator, and
# sum-of-squares exactly 0. Separated from the broad event sweep so the
# example budget can be 25+ without multiplying the full 57-key loop.
_STAT_KEYS = [
    "wl_autocorrelation", "wl_periodogram", "wl_anova_seasonality",
    "wl_anomaly_zscore", "wl_anomaly_deseasonalized", "win_rolling_zscore",
    "wl_mad_outliers", "wl_ab_ttest", "wl_paired_ttest", "wl_cuped",
    "wl_ks_test", "wl_psi_drift", "wl_srm_check", "wl_power_analysis",
    "wl_cusum", "wl_control_chart", "wl_theil_sen", "wl_linear_forecast",
    "wl_holt_smoothing", "wl_seasonal_index", "wl_causal_impact_lite",
    "wl_forecast_backtest", "wl_daily_quantile_bands", "win_ewma",
]

_DEGENERATE_EVENT = st.tuples(
    # day offsets only — forces constant or near-constant DAILY series
    st.one_of(st.just(0), st.sampled_from([86_400, 172_800, 259_200])),
    st.integers(min_value=1, max_value=2),
    st.sampled_from(["click", "view"]),
    st.one_of(st.just(100_000), st.just(1)),  # two-point value space
)
_DEGENERATE_EVENTS = st.lists(_DEGENERATE_EVENT, min_size=1, max_size=6)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(events=_DEGENERATE_EVENTS)
def test_stat_oracles_survive_degenerate_series(spark, corpus_dir, events):
    """Constant daily counts, single active days, two-point value
    distributions: every data-derived denominator in the stat family
    must null out identically on both engines — never DIVIDE_BY_ZERO
    (wl_autocorrelation's r4 bug class)."""
    import datetime as dt

    base = dt.datetime(2024, 3, 1)
    rows = [
        (i, base + dt.timedelta(seconds=off), uid, typ, cents / 100.0)
        for i, (off, uid, typ, cents) in enumerate(events)
    ]
    path = str(corpus_dir / "statcase")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")

    queries, oracles = all_queries(), all_oracles()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}/events.parquet/*.parquet')"
    )
    try:
        for key in _STAT_KEYS:
            sp = canonical_rows(queries[key](spark, path).toPandas())
            du = canonical_rows(con.execute(oracles[key]).df())
            assert sp == du, f"[{key}] diverged on degenerate series {rows!r}"
    finally:
        con.close()

# --- r6: documents-ratio family — every remaining key that divides by
# a data-derived quantity (verdict r5 asked that the fuzz cover the
# FULL divisor list). Tiny adversarial corpora: single-doc, all-one-
# language (zero positive labels for the ml_* recall/lift
# denominators), all-identical texts (zero-variance features).

_DOC_RATIO_KEYS = [
    "txt_lang_stats", "txt_collocation", "wl_hygiene_attribution",
    "wl_kl_source_mix", "ml_nb_portable", "wl_cohens_kappa",
    "ml_feature_mi", "ml_gains_table", "ml_cascade_cost",
    "ml_screen_e2e", "ml_eval_wss95", "ml_rank_screen",
    "ml_threshold_at_recall", "dedup_minhash_eval",
    "dedup_fellegi_sunter", "wl_temperature_mix", "wl_mix_entropy",
    "wl_chi2_assoc", "txt_bm25_topk", "txt_sentiment_lexicon",
    "wl_soft_dedup_sampling", "wl_retrieval_eval", "wl_rank_correlation",
]

# all-'zh' corpora are COMMON: they zero the en-positive label mass
_DOC_MONO = st.tuples(
    _TEXT,
    st.one_of(st.just("zh"), st.sampled_from(["en", "zh", "unk"])),
    st.sampled_from(["s0", "s1"]),
)
_MONO_CORPUS = st.lists(_DOC_MONO, min_size=1, max_size=8)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(corpus=_MONO_CORPUS)
def test_doc_ratio_oracles_survive_degenerate_corpora(spark, corpus_dir, corpus):
    """Zero-positive-label and single-doc corpora: recall/lift/MI/kappa
    denominators (n_pos, sum(y), marginals) must null out identically
    on both engines — never DIVIDE_BY_ZERO (wl_poisson_bootstrap's r5
    bug class, caught by exactly this generator shape)."""
    rows = [
        (i, text, lang, source, len(text))
        for i, (text, lang, source) in enumerate(corpus)
    ]
    path = str(corpus_dir / "ratiocase")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")
    # the ml_eval_* scorers read scores from embeddings keyed by doc_id:
    # deterministic small-integer vectors (exact in float64), including
    # the all-same-label case the mono-language corpus drives
    emb_rows = [
        (i, [float((i + j) % 5 - 2) for j in range(64)], i % 2)
        for i, _ in enumerate(corpus)
    ]
    spark.createDataFrame(
        emb_rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/embeddings.parquet")

    queries, oracles = all_queries(), all_oracles()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/documents.parquet/*.parquet')"
    )
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}/embeddings.parquet/*.parquet')"
    )
    try:
        for key in _DOC_RATIO_KEYS:
            sp = canonical_rows(queries[key](spark, path).toPandas())
            du = canonical_rows(con.execute(oracles[key]).df())
            assert sp == du, f"[{key}] diverged on degenerate corpus {rows!r}"
    finally:
        con.close()


# --- JSON props fuzzing (round 10) ---------------------------------
# Generalizes the badjson world's fixed rows: the r9/r10 advice cycle
# showed the JSON cast surface diverges VALUE-BY-VALUE (DuckDB
# TRY_CAST parses '7' and rounds '3.7' where Spark's typed from_json
# NULLs both; the variant int cast truncates doubles and accepts '+5'
# strings), so hypothesis searches the scalar space instead of
# pinning instances. Generator bounds mirror the documented contract:
# ints inside int64, floats non-integral in [1e-3, 1e6) (integral-
# double and sci-notation LEXEMES are out of the canonical contract —
# JCS vs source-preserving rendering), no duplicate keys, flat
# objects (nesting is the badjson world's job).

import json as _json

_JSON_SCALARS = st.one_of(
    st.integers(min_value=-(2**63) + 1, max_value=2**63 - 1),
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False).filter(
        lambda f: f != int(f) and abs(f) >= 1e-3
    ),
    st.booleans(),
    st.none(),
    st.sampled_from(
        ["7", "3.7", "+5", " 8 ", "-12", "abc", "", "０７", "x y", "1e3",
         # ASCII-control padding: Spark's cast trims exactly \x00-\x20
         # before parsing (NOT unicode spaces) — the oracle's explicit
         # padding class must agree on all of these
         "\t8\t", "\x00 14", "16\x1f", "\x0b12", " 7", "7 "]
    ),
)


def _dump_props(v, extra, use_k):
    # extra keys deliberately sort BEFORE and AFTER "k" (and include a
    # '$'-prefixed and an NBSP-bearing key): Spark's variant sorts
    # object members on re-serialization where DuckDB preserves source
    # order, so the oracle's sorted rebuild must hold for any flat
    # member arrangement, and '$'/quote keys must not bind as paths.
    doc = {("k" if use_k else "x"): v}
    for ek in extra:
        doc[ek] = "s"
    return _json.dumps(doc, ensure_ascii=False)


_EXTRA_KEYS = st.lists(
    st.sampled_from(["a0", "z2", "$weird", "k spaced", 'q"t']),
    max_size=3,
    unique=True,
)

_PROPS_DOC = st.one_of(
    st.builds(_dump_props, _JSON_SCALARS, _EXTRA_KEYS, st.booleans()),
    st.sampled_from(
        ['{"x": 1}', "[1, 2]", "null", "", "not json", '{"k": 2', "{", None]
    ),
)
_PROPS_LIST = st.lists(_PROPS_DOC, min_size=1, max_size=20)

_JSON_KEYS = ["fn_json", "fn_map", "fn_variant"]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(props=_PROPS_LIST)
def test_json_cast_oracles_hold_on_generated_props(spark, corpus_dir, props):
    """Typed JSON extraction must agree cross-engine for EVERY
    in-contract scalar shape of props.k: integral/overflowing ints,
    non-integral doubles (trunc-vs-round), numeric-ish strings
    (signed, padded, full-width, decimal), bools, JSON null, missing
    key, and malformed documents."""
    import datetime as dt

    base = dt.datetime(2024, 3, 1)
    rows = [
        (i, base + dt.timedelta(hours=i), (i % 3) + 1,
         ["click", "view", "purchase"][i % 3], 5.0 * (i + 1), p)
        for i, p in enumerate(props)
    ]
    path = str(corpus_dir / "jsoncase")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")

    queries, oracles = all_queries(), all_oracles()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}/events.parquet/*.parquet')"
    )
    try:
        for key in _JSON_KEYS:
            sp = canonical_rows(queries[key](spark, path).toPandas())
            du = canonical_rows(con.execute(oracles[key]).df())
            assert sp == du, f"[{key}] diverged on generated props {props!r}"
    finally:
        con.close()


# --- try_cast family fuzzing (round 10) ----------------------------
# Generalizes the dirty-cast fixture the same way the props fuzz
# generalizes the badjson world: Spark's try_cast TRUNCATES doubles
# and accepts only \x00-\x20-padded integral string tokens, and the
# fn_try oracle claims to mirror both — so hypothesis searches the
# numeric/token space (including non-finite doubles, int32-overflow
# magnitudes, and x.5 truncation boundaries).

_QTY = st.one_of(
    st.floats(allow_nan=True, allow_infinity=True, width=64),
    st.sampled_from([0.49, -3.7, 10.5, -10.5, 2.5e9, -2.5e9, 1e15,
                     2147483647.0, 2147483648.0, -2147483649.0]),
)
_FLAG = st.sampled_from(
    ["N", "R", "3.7", "\t8\t", "\x00 14", "+5", " 7 ", "16\x1f",
     "-0", "007", "abc", "", "２", "1e3", "9999999999999"]
)
_LI_ROW = st.tuples(_QTY, _FLAG, st.integers(min_value=1, max_value=7))
_LI_ROWS = st.lists(_LI_ROW, min_size=1, max_size=20)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(rows=_LI_ROWS)
def test_try_cast_oracle_holds_on_generated_lineitem(spark, corpus_dir, rows):
    """fn_try must agree cross-engine for ANY double quantity
    (truncation, int32 overflow, NaN/inf → NULL) and ANY returnflag
    token (integral-after-ASCII-trim or NULL)."""
    import datetime as dt

    li = [
        (i, i, i, ln, q, 100.0 * (i + 1), 0.05, 0.02, flag, "O",
         dt.datetime(1997, 3, 2))
        for i, (q, flag, ln) in enumerate(rows)
    ]
    path = str(corpus_dir / "trycastcase")
    spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp_ntz",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/lineitem.parquet")

    queries, oracles = all_queries(), all_oracles()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{path}/lineitem.parquet/*.parquet')"
    )
    try:
        sp = canonical_rows(queries["fn_try"](spark, path).toPandas())
        du = canonical_rows(con.execute(oracles["fn_try"]).df())
        assert sp == du, f"[fn_try] diverged on generated lineitem {rows!r}"
    finally:
        con.close()


# --- embedding-vector fuzzing (round 10) ---------------------------
# The vector twin: fixed fixtures pin zero-norm / cancelling /
# DBL_MAX-span instances, hypothesis searches the float space —
# denormals, signed zeros, mixed magnitudes, NaN/inf/NULL elements,
# ragged and empty vectors — against the row-local vector family
# (norms, quantization) and the pairwise cosine path.

_ELEM = st.one_of(
    st.floats(allow_nan=True, allow_infinity=True, width=32),
    st.sampled_from([0.0, -0.0, 5e-324, -5e-324, 1e38, -1e38, 1.0, -1.0]),
    st.none(),
)
_VEC = st.one_of(
    st.lists(_ELEM, min_size=0, max_size=8),
    st.none(),
)
_VECS = st.lists(st.tuples(_VEC, st.integers(min_value=0, max_value=1)),
                 min_size=1, max_size=10)

_VEC_KEYS = ["mm_vector_norm", "mm_embed_quantize", "dedup_embed_cos",
             "sim_bruteforce_topk"]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(vecs=_VECS)
def test_vector_oracles_hold_on_generated_embeddings(spark, corpus_dir, vecs):
    """Norm / quantization / cosine keys must agree cross-engine for
    ANY embedding column content: corrupt vectors (NULL, empty, NaN,
    inf, NULL elements) are dropped identically by the finite_array ↔
    CLEAN_VEC hygiene pair, and the survivors' math (including
    denormals and signed zeros) hashes identically."""
    rows = [(i, v, lbl) for i, (v, lbl) in enumerate(vecs)]
    path = str(corpus_dir / "veccase")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/embeddings.parquet")

    queries, oracles = all_queries(), all_oracles()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}/embeddings.parquet/*.parquet')"
    )
    try:
        for key in _VEC_KEYS:
            sp = canonical_rows(queries[key](spark, path).toPandas())
            du = canonical_rows(con.execute(oracles[key]).df())
            assert sp == du, f"[{key}] diverged on generated embeddings {rows!r}"
    finally:
        con.close()


# --- scattered-layout moment fuzzing (round 11) ---------------------
# The r10 multi-file scatter world caught the read-order signed-zero
# class LIVE on the fitted-moment family (covariance-residue sign
# following parquet file enumeration order). The static world pins one
# layout; this tier lets hypothesis choose the rows, the row→part
# permutation, AND the part count, so the combine order of the
# per-part partial moments varies per example. Values live on the
# cents grid at modest magnitude (sums exact in doubles, rounding far
# from representation noise), so any divergence is a SEMANTIC class —
# sign-of-zero, flat-series guards, n=1 sample variance — never ulp
# lottery. Modes force the structures that make residues exactly
# zero: exact collinearity, constant series, two-point alternation.

_MOMENT_KEYS = ["agg_stats", "agg_linreg", "agg_corr_matrix"]

_M_CASE = st.tuples(
    st.sampled_from(["random", "collinear", "constant", "twopoint"]),
    st.lists(
        st.tuples(
            st.integers(min_value=-10_000, max_value=10_000),  # qty cents
            st.integers(min_value=-10_000, max_value=10_000),  # price cents
            st.integers(min_value=0, max_value=99),            # discount %
            st.sampled_from(["N", "R", "A"]),                  # group flag
        ),
        min_size=1,
        max_size=24,
    ),
    st.integers(min_value=2, max_value=5),  # parquet part count
    st.integers(min_value=0, max_value=2**31),  # shuffle seed
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=_M_CASE)
def test_moment_oracles_hold_on_scattered_layouts(spark, corpus_dir, case):
    """agg_stats / agg_linreg / agg_corr_matrix must agree cross-engine
    for ANY row→part scatter of the same rows: DuckDB's glob order ≠
    Spark's split order ≠ insertion order, so agreement proves the
    fitted moments (and the SIGNS of their zero residues) are
    read-order-independent."""
    import datetime as dt
    import random as _random

    mode, rows, n_parts, seed = case
    li = []
    q0, p0 = rows[0][0], rows[0][1]
    for i, (q, p, d, flag) in enumerate(rows):
        qty = q / 100.0
        if mode == "collinear":
            price = 3.0 * qty + 7.0  # exact on the cents grid
        elif mode == "constant":
            qty, price = q0 / 100.0, p0 / 100.0
        elif mode == "twopoint":
            qty = (q0 if i % 2 == 0 else -q0) / 100.0
            price = (p0 if i % 2 == 0 else -p0) / 100.0
        else:
            price = p / 100.0
        li.append(
            (i, i, i, 1 + i % 7, qty, price, d / 100.0, 0.02, flag, "O",
             dt.datetime(1997, 3, 2))
        )
    _random.Random(seed).shuffle(li)
    path = str(corpus_dir / "momentcase")
    (
        spark.createDataFrame(
            li,
            "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
            " l_quantity double, l_extendedprice double, l_discount double,"
            " l_tax double, l_returnflag string, l_linestatus string,"
            " l_shipdate timestamp_ntz",
        )
        .repartition(n_parts)
        .write.mode("overwrite")
        .parquet(f"{path}/lineitem.parquet")
    )

    queries, oracles = all_queries(), all_oracles()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT *"
        f" FROM read_parquet('{path}/lineitem.parquet/*.parquet')"
    )
    try:
        for key in _MOMENT_KEYS:
            sp = canonical_rows(queries[key](spark, path).toPandas())
            du = canonical_rows(con.execute(oracles[key]).df())
            assert sp == du, (
                f"[{key}] diverged on scattered layout"
                f" mode={mode} parts={n_parts} seed={seed} rows={rows!r}"
            )
    finally:
        con.close()
