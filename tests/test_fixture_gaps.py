"""Differential tests on SYNTHESIZED inputs that cover branches the
driver fixture happens to miss (ADVICE r3): 2-touch attribution paths
(sf0.001 has path lengths {1,3,4,5,6,7,12} only) and documents longer
than the old 200-token oracle spine. Each test writes its own parquet
next to nothing else and runs the registered Spark query AND its
DuckDB oracle on that same file — the driver's comparison, pointed at
the adversarial input.
"""

from __future__ import annotations

import datetime as dt

import pytest

from systematic_review_classification_spark import all_oracles, all_queries
from tests.harness import check_keys, compare, duck_con, write_tables

QUERIES = all_queries()
ORACLES = all_oracles()
# the events columns without props, as the series fixtures write them
_NO_PROPS = {"events": ["event_id", "ts", "user_id", "event_type", "value"]}


@pytest.fixture(scope="module")
def synth_events_dir(spark, tmp_path_factory):
    """Events with one converting user per path length 1..4 — the
    2-touch path is the case the U-shape credit formula gets wrong
    without its dedicated branch (0.4+0.4 != 1)."""
    d = tmp_path_factory.mktemp("synth_events")
    rows, eid = [], 0
    for user, n_touch in [(1, 1), (2, 2), (3, 3), (4, 4)]:
        for i in range(n_touch):
            eid += 1
            rows.append(
                (eid, f"2024-01-0{i + 1} 00:00:00", user, f"view{i % 2}", 1.0, "{}")
            )
        eid += 1
        rows.append((eid, "2024-01-09 00:00:00", user, "purchase", 9.9, "{}"))
    return write_tables(spark, d, {"events": rows}, "file")


@pytest.fixture(scope="module")
def synth_long_docs_dir(spark, tmp_path_factory):
    """Documents up to 400 tokens — past the 200-position cap the r3
    oracles silently assumed (safe then only because fixture docs
    maxed out at 100 tokens)."""
    d = tmp_path_factory.mktemp("synth_docs")
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    docs = []
    for doc_id, n_tok in [(0, 40), (1, 250), (2, 400), (3, 400)]:
        toks = [words[(doc_id + 3 * i) % len(words)] for i in range(n_tok)]
        if doc_id >= 2:  # shared 60-token run deep past position 200
            toks[300:360] = [f"shared{j}" for j in range(60)]
        text = " ".join(toks)
        docs.append((doc_id, f"src{doc_id % 2}", "en", text, len(text)))
    return write_tables(spark, d, {"documents": docs}, "file",
                        cols={"documents": ["doc_id", "source", "lang", "text", "n_chars"]})


def test_multitouch_two_touch_parity(spark, synth_events_dir):
    assert not check_keys(spark, synth_events_dir, ["wl_multitouch_attribution"])


def test_multitouch_two_touch_conserved(spark, synth_events_dir):
    """4 users have non-empty paths (lengths 1, 2, 3, 4); both models
    must hand out exactly 4.0 credits — the 2-touch user gets 0.5+0.5,
    not 0.4+0.4."""
    rows = QUERIES["wl_multitouch_attribution"](spark, synth_events_dir).collect()
    expected = 4.0
    assert abs(sum(r.linear_attrib for r in rows) - expected) < 1e-6, rows
    assert abs(sum(r.u_shape_attrib for r in rows) - expected) < 1e-6, rows


@pytest.mark.parametrize(
    "key",
    [
        "dedup_exact_substring",
        "txt_conditional_entropy",
        "txt_bigram_lm_score",
        "txt_boilerplate_strip",
    ],
)
def test_long_doc_oracle_parity(spark, synth_long_docs_dir, key):
    """Token-position spines must be data-derived on both engines: a
    400-token corpus with shared spans at positions 300+ still
    hash-matches."""
    assert not check_keys(spark, synth_long_docs_dir, [key])


def test_long_doc_substring_finds_deep_span(spark, synth_long_docs_dir):
    """The shared 60-token run sits at positions 301-360 — invisible
    under the old 200-position cap; the fixed spine must surface the
    (2, 3) duplicate pair."""
    rows = QUERIES["dedup_exact_substring"](spark, synth_long_docs_dir).collect()
    pairs = {(r.id1, r.id2) for r in rows}
    assert (2, 3) in pairs, rows


@pytest.fixture(scope="module")
def synth_zero_vec_dir(spark, tmp_path_factory):
    """Embeddings including an all-zero vector and a cancelling pair
    (centroid exactly zero) — the degenerate inputs a 100 TB corpus
    certainly contains (padding rows, failed encodes) and the fixture
    never does. Under ANSI mode an unguarded norm division aborts the
    whole job."""
    d = tmp_path_factory.mktemp("synth_vecs")
    rows = []
    for vid in range(8):
        if vid == 3:
            vec = [0.0] * 64                       # zero vector
        elif vid in (4, 5):
            sign = 1.0 if vid == 4 else -1.0       # cancelling pair: centroid 0
            vec = [sign * float((i % 3) - 1) for i in range(64)]
        else:
            vec = [float(((vid + i) % 5) - 2) for i in range(64)]
        rows.append((vid, vec, vid % 2))
    return write_tables(spark, d, {"embeddings": rows}, "file")


@pytest.mark.parametrize(
    "key",
    [
        "sim_cosine_topk",
        "sim_semdedup_centroid",
        "mm_vector_norm",
        "wl_embedding_drift",
        "dedup_embed_cos",
        "dedup_degree_hist",
        "ml_knn_classify",
        "sim_bruteforce_topk",
        "mm_embed_quantize",
        "sim_topk_int8",
    ],
)
def test_zero_norm_vectors_survive(spark, synth_zero_vec_dir, key):
    """Every cosine-family operator must neither crash (ANSI
    DIVIDE_BY_ZERO) nor diverge from its oracle when zero-norm /
    cancelling vectors are present."""
    assert not check_keys(spark, synth_zero_vec_dir, [key])


@pytest.fixture(scope="module")
def synth_constant_events_dir(spark, tmp_path_factory):
    """The r4 falsifying example, frozen: one event per day for four
    days — a CONSTANT daily-count series whose variance is exactly 0.
    Any time-series statistic that divides by a data-derived spread
    (ACF's sum-of-squares, z-scores, trend slopes) must return NULL /
    empty here, not abort the job with ANSI DIVIDE_BY_ZERO
    (wl_autocorrelation did, analytics.py — fixed r5)."""
    d = tmp_path_factory.mktemp("synth_const_events")
    base = dt.datetime(2024, 3, 1)
    rows = [
        (i, (base + dt.timedelta(days=i)).isoformat(sep=" "), 1, "click", 1.0)
        for i in range(4)
    ]
    return write_tables(spark, d, {"events": rows}, "file", cols=_NO_PROPS)


@pytest.mark.parametrize(
    "key",
    [
        "wl_autocorrelation",
        "wl_periodogram",
        "wl_linear_forecast",
        "wl_theil_sen",
        "wl_holt_smoothing",
        "wl_seasonal_index",
        "wl_anova_seasonality",
        "wl_causal_impact_lite",
        "wl_forecast_backtest",
        "wl_anomaly_zscore",
        "wl_anomaly_deseasonalized",
        "wl_control_chart",
        "wl_cusum",
        "wl_daily_quantile_bands",
        "wl_mad_outliers",
    ],
)
def test_constant_daily_series_survives(spark, synth_constant_events_dir, key):
    """Zero-variance daily series: every spread-dividing time-series
    statistic must match its oracle (typically NULL columns or zero
    rows) instead of raising DIVIDE_BY_ZERO."""
    assert not check_keys(spark, synth_constant_events_dir, [key])


@pytest.fixture(scope="module")
def synth_flat_adjusted_events_dir(spark, tmp_path_factory):
    """The r7 hypothesis falsifying example for
    wl_anomaly_deseasonalized, frozen: every observed day is a
    DISTINCT weekday with a DIFFERENT event count. The per-weekday
    seasonal index then equals y_d/mu, so the adjusted series is
    exactly mu for every day — true variance 0 — but the engines
    reach that flat series through division, so the cancellation
    Σy²−(Σy)²/n lands at exact 0.0 on Spark and a ~1e-16 residue on
    DuckDB (NULL vs 0.0 adj_z before the relative-ε fix)."""
    d = tmp_path_factory.mktemp("synth_flatadj_events")
    base = dt.datetime(2024, 3, 4)  # Monday; 4 distinct weekdays
    rows, eid = [], 0
    for day, n in enumerate([1, 2, 3, 4]):
        for _ in range(n):
            eid += 1
            rows.append(
                (eid, (base + dt.timedelta(days=day)).isoformat(sep=" "),
                 1, "click", 1.0)
            )
    return write_tables(spark, d, {"events": rows}, "file", cols=_NO_PROPS)


def test_flat_adjusted_series_zscore_parity(spark, synth_flat_adjusted_events_dir):
    """Zero-variance ADJUSTED series (reached via division, so one
    engine keeps a cancellation residue): adj_z must be NULL on both
    engines via the shared relative-ε flatness test, never NULL on
    one and 0.0 on the other."""
    assert not check_keys(spark, synth_flat_adjusted_events_dir, ["wl_anomaly_deseasonalized"])


@pytest.fixture(scope="module")
def synth_symmetric_events_dir(spark, tmp_path_factory):
    """The r7 hypothesis −0.0 class for wl_linear_forecast, frozen:
    daily counts (2, 3, 2) make the OLS slope exactly zero — but
    DuckDB's regr_slope accumulates it as −0.0 (probe-verified
    through the oracle's own GROUP BY path over the written parquet)
    while Spark's lands on +0.0, and round() preserves the sign. Every derived column must
    pass through the shared rnd()/+0.0 normalizer."""
    d = tmp_path_factory.mktemp("synth_sym_events")
    base = dt.datetime(2024, 5, 1)
    rows, eid = [], 0
    for day, n in enumerate([2, 3, 2]):
        for _ in range(n):
            eid += 1
            rows.append(
                (eid, (base + dt.timedelta(days=day)).isoformat(sep=" "),
                 1, "click", 1.0)
            )
    return write_tables(spark, d, {"events": rows}, "file", cols=_NO_PROPS)


def test_symmetric_series_forecast_negzero_parity(spark, synth_symmetric_events_dir):
    """Zero-slope daily series: slope rounds to signed zero (−0.0 in
    DuckDB's accumulation order, +0.0 in Spark's). The shared rnd()
    helper must normalize the sign identically on both engines."""
    con = duck_con(synth_symmetric_events_dir)
    # One thread: DuckDB's parallel regr_slope combines partial states
    # in an order that can round the slope to +0.0 instead of −0.0.
    con.execute("SET threads=1")
    # precondition: without the + 0.0 normalizer the oracle's own
    # GROUP BY path still produces the signed zero this test freezes
    sgn = con.execute(
        "WITH daily AS (SELECT datediff('day', DATE '2024-01-01', "
        "CAST(date_trunc('day', ts) AS DATE)) AS t, "
        "CAST(count(*) AS DOUBLE) AS y FROM events GROUP BY 1) "
        "SELECT round(regr_slope(y, t), 6) FROM daily"
    ).fetchone()[0]
    assert repr(sgn) == "-0.0", "fixture no longer exercises the −0.0 branch"
    compare(
        QUERIES["wl_linear_forecast"](spark, synth_symmetric_events_dir),
        con,
        ORACLES["wl_linear_forecast"],
        key="wl_linear_forecast@negzero",
    )
    con.close()


@pytest.fixture(scope="module")
def synth_dblmax_span_vec_dir(spark, tmp_path_factory):
    """Embeddings with a schema drifted to DOUBLE[] carrying finite
    opposite-sign extrema near DBL_MAX (r9 advice): mx − mn overflows
    to +inf, so an unguarded affine quantization evaluates inf/inf =
    NaN and the BIGINT cast aborts BOTH engines. (The driver corpus
    stores FLOAT32, whose ±3.4e38 span stays finite in double — only
    a drifted double column reaches this branch, which is why the
    overflow world's 1e150 single-sign values never did.)"""
    rows = [
        (0, [float(i % 5) - 2.0 for i in range(8)], 0),     # healthy
        (1, [-1.0e308, 1.0e308] + [0.0] * 6, 1),            # inf span
        (2, [1.0e308, 1.2e308] + [1.0e308] * 6, 0),         # finite huge span
        (3, [-1.0e308] * 8, 1),                             # mx = mn escape
    ]
    return write_tables(spark, tmp_path_factory.mktemp("synth_dblmax_vecs"),
                        {"embeddings": rows}, "file",
                        retype={"embeddings": {"embedding": "array<double>"}})


def test_quantize_survives_dblmax_span(spark, synth_dblmax_span_vec_dir):
    """mm_embed_quantize on the inf-span world: the inf-span row gets
    qsum NULL (corrupt scale, not a crash), the finite-huge-span row
    quantizes via the overflow-free (x−mn)/(mx−mn)·255 order, and the
    flat row takes the mx = mn escape — identically on both engines."""
    assert not check_keys(spark, synth_dblmax_span_vec_dir, ["mm_embed_quantize"])
    out = {
        r.vec_id: r.qsum
        for r in QUERIES["mm_embed_quantize"](spark, synth_dblmax_span_vec_dir).collect()
    }
    assert out[1] is None and out[3] == 0 and out[2] is not None


@pytest.fixture(scope="module")
def synth_dirty_cast_lineitem_dir(spark, tmp_path_factory):
    """Lineitem rows whose cast inputs sit exactly on the TRY_CAST /
    try_cast fault lines (r10): non-integral quantities (Spark's
    double→int cast truncates, DuckDB's rounds), decimal-token and
    control-padded returnflag strings (Spark's string parser trims
    exactly ASCII x00-x20 and accepts integral tokens only)."""
    rows = [
        (1, 1, 1, 1, 10.5, 1000.0, 0.05, 0.02, "N", "O", "1997-03-02"),
        (2, 2, 2, 2, -3.7, 2000.0, 0.10, 0.04, "3.7", "F", "1997-04-02"),
        (3, 3, 3, 4, 20.0, 3000.0, 0.00, 0.00, "\t8\t", "O", "1997-05-02"),
        (4, 4, 4, 5, 0.49, 4000.0, 0.01, 0.01, "\x00 14", "O", "1997-06-02"),
        (5, 5, 5, 6, 1e15, 5000.0, 0.02, 0.00, "+5", "F", "1997-07-02"),
        (6, 6, 6, 7, 2.5e9, 6000.0, 0.03, 0.00, " 7 ", "O", "1997-08-02"),
    ]
    return write_tables(spark, tmp_path_factory.mktemp("synth_dirty_cast"),
                        {"lineitem": rows}, "file")


def test_try_cast_family_survives_dirty_inputs(spark, synth_dirty_cast_lineitem_dir):
    """fn_try on the dirty-cast lineitem: truncation vs rounding on
    non-integral doubles (10.5 → 10, -3.7 → -3), int32 overflow
    (2.5e9 → NULL), and string tokens Spark's trimAll accepts
    ('\\t8\\t' → 8, '\\x00 14' → 14, '+5' → 5) or rejects ('3.7' →
    NULL where a bare DuckDB TRY_CAST would round to 4)."""
    assert not check_keys(spark, synth_dirty_cast_lineitem_dir, ["fn_try"])
    out = {
        r.l_orderkey: (r.flag_int, r.qty_int)
        for r in QUERIES["fn_try"](spark, synth_dirty_cast_lineitem_dir).collect()
    }
    assert out[1] == (None, 10)
    assert out[2] == (None, -3)
    assert out[3] == (8, 20)
    assert out[4] == (14, 0)
    assert out[5] == (5, None)
    assert out[6] == (7, None)
