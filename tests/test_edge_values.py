"""Property-style edge-value checks (SURVEY.md §5.2.5): scalar
functions compared Spark-vs-DuckDB on adversarial inputs — empty
strings, unicode (zh docs exist in the corpus), embedded quotes,
whitespace, nulls, boundary timestamps — the places dialect drift
breeds outside the happy path of the synthetic tables.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from systematic_review_classification_spark import all_queries
from tests.harness import write_tables

EDGE_STRINGS = [
    "",
    " ",
    "  leading and trailing  ",
    "中文文本处理",
    "mixed 中文 and ascii",
    "it's \"quoted\"",
    "tab\there",
    "UPPER lower MiXeD",
    "a",
    "repeat repeat repeat",
    "x" * 500,
]


@pytest.fixture(scope="module")
def edge_pdf():
    return pd.DataFrame({"id": range(len(EDGE_STRINGS)), "s": EDGE_STRINGS})


@pytest.fixture(scope="module")
def edge_duck(edge_pdf):
    con = duckdb.connect()
    con.register("edge", edge_pdf)
    return con


def _cmp(spark, edge_pdf, edge_duck, spark_expr: str, duck_expr: str):
    sdf = spark.createDataFrame(edge_pdf)
    sdf.createOrReplaceTempView("edge_v")
    got = {
        r.id: r.v
        for r in spark.sql(f"SELECT id, {spark_expr} AS v FROM edge_v").collect()
    }
    want = {
        r[0]: r[1]
        for r in edge_duck.execute(f"SELECT id, {duck_expr} AS v FROM edge").fetchall()
    }
    assert got == want, f"{spark_expr!r}: {got} != {want}"


PAIRS = [
    ("length(s)", "length(s)"),
    ("upper(s)", "upper(s)"),
    ("lower(s)", "lower(s)"),
    ("trim(s)", "trim(s)"),
    ("reverse(s)", "reverse(s)"),
    ("substring(s, 2, 3)", "substring(s, 2, 3)"),
    ("concat_ws('-', s, s)", "concat_ws('-', s, s)"),
    ("replace(s, 'repeat', 'r')", "replace(s, 'repeat', 'r')"),
    ("instr(s, '中')", "strpos(s, '中')"),
    ("md5(s)", "md5(s)"),
    ("regexp_replace(s, '[aeiou]', '_')", "regexp_replace(s, '[aeiou]', '_', 'g')"),
    ("size(split(s, ' '))", "len(string_split(s, ' '))"),
    ("lpad(s, 5, '*')", "lpad(s, 5, '*')"),
    ("startswith(s, 'a')", "starts_with(s, 'a')"),
]


@pytest.mark.parametrize("spark_expr,duck_expr", PAIRS, ids=[p[0] for p in PAIRS])
def test_string_fn_edges(spark, edge_pdf, edge_duck, spark_expr, duck_expr):
    _cmp(spark, edge_pdf, edge_duck, spark_expr, duck_expr)


def test_levenshtein_unicode_divergence(spark, edge_pdf, edge_duck):
    """Documented dialect divergence: DuckDB levenshtein counts UTF-8
    BYTES, Spark counts CHARACTERS — equal on ASCII, different on
    multibyte text. fn_editdist's oracle therefore only runs over
    ASCII columns."""
    sdf = spark.createDataFrame(edge_pdf)
    sdf.createOrReplaceTempView("edge_lev")
    got = {
        r.id: r.v
        for r in spark.sql(
            "SELECT id, levenshtein(s, 'abc') AS v FROM edge_lev"
        ).collect()
    }
    want = {
        r[0]: r[1]
        for r in edge_duck.execute(
            "SELECT id, levenshtein(s, 'abc') FROM edge"
        ).fetchall()
    }
    for i, s in enumerate(EDGE_STRINGS):
        if s.isascii():
            assert got[i] == want[i], f"ascii input {s!r} should agree"
        else:
            assert got[i] <= want[i], "Spark chars can never exceed DuckDB bytes"
    assert got[3] == 6 and want[3] == 18  # 中文文本处理: 6 chars, 18 bytes


def test_null_propagation(spark, edge_duck, edge_pdf):
    _cmp(
        spark,
        edge_pdf,
        edge_duck,
        "coalesce(nullif(s, ''), 'EMPTY')",
        "coalesce(nullif(s, ''), 'EMPTY')",
    )
    _cmp(
        spark,
        edge_pdf,
        edge_duck,
        "nullif(s, ' ') IS NULL",
        "nullif(s, ' ') IS NULL",
    )


def test_boundary_timestamps(spark):
    con = duckdb.connect()
    cases = ["1970-01-01 00:00:00", "1969-12-31 23:59:59", "2262-04-11 00:00:00",
             "2024-02-29 23:59:59"]
    pdf = pd.DataFrame({"id": range(len(cases)), "t": pd.to_datetime(cases)})
    con.register("ts_edge", pdf)
    sdf = spark.createDataFrame(pdf)
    sdf.createOrReplaceTempView("ts_edge_v")
    got = {
        r.id: (r.y, r.m, r.d, r.e)
        for r in spark.sql(
            "SELECT id, year(t) AS y, month(t) AS m, day(t) AS d, "
            "unix_timestamp(t) AS e FROM ts_edge_v"
        ).collect()
    }
    want = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(
            "SELECT id, year(t), month(t), day(t), epoch_us(t) // 1000000 FROM ts_edge"
        ).fetchall()
    }
    assert got == want


# the documents columns in the order these tests write them
_DOC_COLS = ["doc_id", "text", "n_chars", "source", "lang"]


def _write_docs(spark, root, rows, **more):
    write_tables(spark, root, {"documents": rows, **more}, cols={"documents": _DOC_COLS})


def test_frame_sample_short_document(spark, tmp_path):
    """A document under 16 chars has zero frames: sequence upper bound
    is clamped so the query must return no rows for it instead of
    throwing sequence(0, -1) boundary errors (general corpora contain
    short docs even though the shipped fixture does not)."""
    from systematic_review_classification_spark.operators.multimodal import mm_frame_sample

    _write_docs(spark, tmp_path, [(1, "tiny", 4, "s", "en"), (2, "x" * 40, 40, "s", "en")])
    rows = sorted(
        (r.doc_id, r.frame_idx)
        for r in mm_frame_sample(spark, str(tmp_path)).collect()
    )
    assert rows == [(2, 0)]


EMPTY_CORPUS_KEYS = [
    "txt_normalize", "txt_tokenize", "txt_stopwords", "txt_ngram",
    "txt_tf", "txt_df_idf", "txt_langid", "txt_quality_score",
    "txt_token_count_bpe", "txt_fingerprint",
    "dedup_exact", "dedup_near_jaccard", "dedup_simhash",
    "dedup_simhash64", "dedup_simhash_band", "dedup_ngram_jaccard",
    "dedup_minhash_portable", "dedup_embed_cos",
    "mm_binary_meta", "mm_decode_stub", "mm_frame_sample",
    "sim_cosine_topk", "sim_centroid", "mm_vector_norm",
    "ml_eval_confusion", "ml_eval_auc", "ml_label_index", "ml_split",
    "dedup_components", "txt_pii_scrub", "wl_clean_corpus",
    "txt_chunk", "txt_chunk_tokens", "txt_sentence_split",
    "dedup_paragraph", "ml_calibration", "sim_bruteforce_topk",
    "dedup_minhash_canonical", "txt_repetition", "wl_dataset_card",
    "mm_embed_quantize",
    "txt_collocation", "txt_zipf", "txt_stem", "sim_topk_int8",
    "wl_mix_entropy",
    "dedup_incremental", "dedup_cluster_hist", "dedup_degree_hist",
    "fn_collate",
    "txt_bm25_topk", "wl_inverted_index", "txt_containment",
    "dedup_biblio", "agg_cms_portable", "dedup_fellegi_sunter", "wl_hygiene_attribution",
    "wl_eb_shrinkage", "wl_capture_recapture", "dedup_threshold_sweep",
    "wl_vocab_growth", "txt_sentiment_lexicon", "wl_kl_source_mix", "txt_conditional_entropy",
    "txt_burstiness", "txt_chao1_richness", "txt_distinctive_terms", "txt_heaps_fit",
    "txt_logodds_shift",
    "txt_bigram_lm_score", "wl_embedding_drift", "dedup_minhash_eval",
    "sim_sparse_cosine", "ml_knn_classify", "txt_bpe_pair_counts",
    "wl_pretrain_pipeline", "sim_rp_lsh", "txt_ocr_artifact_filter",
    "ml_logreg_gd", "ml_nb_portable", "dedup_exact_substring",
    "ml_kmeans_portable", "wl_prisma_flow", "wl_cohens_kappa",
    "ml_feature_mi", "ml_screen_e2e", "ml_split_leakage", "ml_gains_table",
    "ml_cascade_cost", "txt_script_mix",
    "txt_boilerplate_strip", "wl_soft_dedup_sampling", "wl_retrieval_eval",
    "wl_temperature_mix", "sim_semdedup_centroid", "txt_oov_curve",
]


def test_document_operators_survive_empty_corpus(spark, tmp_path):
    """Every documents/embeddings-driven operator must run (not throw)
    on an EMPTY corpus — general pipelines hit empty partitions and
    empty filter results constantly; ANSI mode turns latent indexing
    and sequence assumptions into runtime errors only a test like this
    catches."""
    _write_docs(spark, tmp_path, [], embeddings=[])
    q = all_queries()
    for key in EMPTY_CORPUS_KEYS:
        n = q[key](spark, str(tmp_path)).count()
        assert n >= 0  # ran without throwing; row count is key-specific


def test_chunking_short_document_boundaries(spark, tmp_path):
    """Chunking must emit exactly one whole-document chunk for any
    document shorter than one window — including 1-char and
    shorter-than-overlap texts, where a naive sequence upper bound of
    n_chars - overlap would go negative and throw (the
    mm_frame_sample bug class, ADVICE r1)."""
    _write_docs(spark, tmp_path, [
        (1, "x", 1, "s", "en"),
        (2, "ab cd", 5, "s", "en"),
        (3, "y" * 56, 56, "s", "en"),   # == char overlap
        (4, "z" * 257, 257, "s", "en"),  # one char past a window
    ])
    q = all_queries()
    chunks = {
        r.doc_id: r for r in q["txt_chunk"](spark, str(tmp_path)).collect()
        if r.doc_id != 4
    }
    assert set(chunks) == {1, 2, 3}
    for doc_id, text in [(1, "x"), (2, "ab cd"), (3, "y" * 56)]:
        assert chunks[doc_id].chunk == text and chunks[doc_id].chunk_start == 1
    two = [r for r in q["txt_chunk"](spark, str(tmp_path)).collect() if r.doc_id == 4]
    assert [r.chunk_start for r in sorted(two, key=lambda r: r.chunk_start)] == [1, 201]
    toks = q["txt_chunk_tokens"](spark, str(tmp_path)).collect()
    by_doc = {}
    for r in toks:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[1]) == 1 and by_doc[1][0].chunk == "x"
    assert len(by_doc[2]) == 1 and by_doc[2][0].n_tokens == 2


# ---- shared column helpers vs plain Python --------------------------
# functions/vectors.py, functions/seeded.py and shingles.adjacent_pairs
# render SQL templates; each is checked here against a reference
# written in Python, not against its own template.

VECS = [
    ([3.0, 4.0], [1.0, 2.0]),
    ([], []),  # empty: the folds return their 0.0 start
    (None, [1.0]),  # NULL array
    ([1.0, 2.0, 3.0], [1.0, 2.0]),  # ragged: zip_with pads with NULL
    ([2.0, None], [1.0, 1.0]),  # NULL element
    ([-0.5, 0.25, 8.0], [0.5, -0.25, 1.0]),
]


def _py_fold(xs):
    if xs is None or None in xs:
        return None
    s = 0.0
    for x in xs:
        s += x
    return s


def _py_zip(a, b, f):
    if a is None or b is None or len(a) != len(b):
        return None
    return [None if x is None or y is None else f(x, y) for x, y in zip(a, b)]


def _py_sq(a):
    return None if a is None else [None if x is None else x * x for x in a]


VECTOR_HELPERS = {
    "total": (lambda V: V.total("a"), lambda a, b: _py_fold(a)),
    "sqnorm": (lambda V: V.sqnorm("a"), lambda a, b: _py_fold(_py_sq(a))),
    "norm": (
        lambda V: V.norm("a"),
        lambda a, b: None if _py_fold(_py_sq(a)) is None else _py_fold(_py_sq(a)) ** 0.5,
    ),
    "dot": (lambda V: V.dot("a", "b"), lambda a, b: _py_fold(_py_zip(a, b, lambda x, y: x * y))),
    "sqdist": (
        lambda V: V.sqdist("a", "b"),
        lambda a, b: _py_fold(_py_zip(a, b, lambda x, y: (x - y) * (x - y))),
    ),
}


@pytest.mark.parametrize("name", sorted(VECTOR_HELPERS))
def test_vector_helper_edges(spark, name):
    from systematic_review_classification_spark.functions import vectors

    build, want = VECTOR_HELPERS[name]
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(VECS)],
        "id int, a array<double>, b array<double>",
    )
    got = {r.id: r.v for r in df.select("id", build(vectors).alias("v")).collect()}
    assert got == {i: want(a, b) for i, (a, b) in enumerate(VECS)}


def test_dbl_widens_float_elements(spark):
    import numpy as np

    from systematic_review_classification_spark.functions.vectors import dbl

    rows = [[0.1, -2.5], [], None, [1.0, None]]
    df = spark.createDataFrame(list(enumerate(rows)), "id int, a array<float>")
    got = {r.id: r.v for r in df.select("id", dbl("a").alias("v")).collect()}
    assert got == {
        i: None if a is None else [None if x is None else float(np.float32(x)) for x in a]
        for i, a in enumerate(rows)
    }
    assert df.select(dbl("a")).schema.fields[0].dataType.simpleString() == "array<double>"


SEEDED_PARTS = ["x", "", "中文", None, "a b"]


def _py_u32(text):
    import hashlib

    return None if text is None else int(hashlib.md5(text.encode()).hexdigest()[:8], 16)


@pytest.mark.parametrize("name", ["md5_u32", "md5_uniform"])
def test_seeded_hash_edges(spark, name):
    from systematic_review_classification_spark.functions import seeded

    df = spark.createDataFrame(list(enumerate(SEEDED_PARTS)), "id int, s string")
    # an int part is hashed through its decimal string form
    col = getattr(seeded, name)("'bs'", "id", "':'", "s")
    got = {r.id: r.v for r in df.select("id", col.alias("v")).collect()}
    u32 = {i: _py_u32(None if s is None else f"bs{i}:{s}") for i, s in enumerate(SEEDED_PARTS)}
    if name == "md5_u32":
        assert got == u32
    else:
        assert got == {
            i: None if u is None else (u % 1000000 + 0.5) / 1000001.0 for i, u in u32.items()
        }
        assert all(0.0 < v < 1.0 for v in got.values() if v is not None)


PAIR_TEXTS = ["a b c", "one", None, "a  b", "", "x y x y"]


@pytest.mark.parametrize(
    "combine,py",
    [
        ("concat(a, '_', b)", lambda a, b: f"{a}_{b}"),
        ("concat(a, b)", lambda a, b: a + b),
        ("named_struct('w1', a, 'w2', b)", lambda a, b: (a, b)),
    ],
    ids=["sep", "concat", "struct"],
)
def test_adjacent_pairs_edges(spark, combine, py):
    from systematic_review_classification_spark.functions.shingles import adjacent_pairs

    df = spark.createDataFrame(list(enumerate(PAIR_TEXTS)), "id int, s string")
    col = adjacent_pairs("split(s, ' ')", combine)
    got = {r.id: r.v for r in df.select("id", col.alias("v")).collect()}
    want = {}
    for i, s in enumerate(PAIR_TEXTS):
        t = None if s is None else s.split(" ")
        want[i] = None if t is None else [py(a, b) for a, b in zip(t, t[1:])]
    assert got == want  # a struct Row compares equal to its tuple
