"""Category I (text half) — text analytics (SURVEY.md §2.I).

The reference's own surface: normalize → tokenize → stop-words →
n-grams → TF → IDF → TF-IDF top-k (the bag-of-words featurization of
a systematic-review screening pipeline [PUB — /root/reference/README.md:1],
here expressed relationally so every step is distributed, pushdown-
friendly, and oracle-checkable).

Scale design: tokenization is explode + groupBy — one shuffle keyed on
(doc_id, token); document frequency is a token-keyed aggregate; the
corpus size N joins in as a broadcast scalar, never a driver action.
At 100 TB none of these steps materializes per-document state outside
the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from systematic_review_classification_spark.functions.shingles import adjacent_pairs
from systematic_review_classification_spark.functions.vectors import norm
from systematic_review_classification_spark.registry import query
from systematic_review_classification_spark.sources.tables import load

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
_STOP_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)


def _norm_col():
    return F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", " "), " +", " ")
    )


_NORM_SQL = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' +', ' ', 'g'))"


@query(
    "txt_normalize",
    oracle=f"""
SELECT doc_id, {_NORM_SQL} AS norm_text, md5({_NORM_SQL}) AS norm_md5
FROM documents
""",
)
def txt_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization: lowercase, strip non-letters, squeeze spaces."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id", _norm_col().alias("norm_text"), F.md5(_norm_col()).alias("norm_md5")
    )


@query(
    "txt_tokenize",
    oracle="""
SELECT doc_id,
       len(string_split(text, ' '))       AS n_tokens,
       string_split(text, ' ')[1]         AS first_tok,
       string_split(text, ' ')[-1]        AS last_tok
FROM documents
""",
)
def txt_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenization (relational path; the MLlib RegexTokenizer path is
    exercised in txt_hashing_tf)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.element_at(toks, 1).alias("first_tok"),
        F.element_at(toks, -1).alias("last_tok"),
    )


@query(
    "txt_stopwords",
    oracle=f"""
SELECT doc_id,
       len(list_filter(string_split(text, ' '), t -> t NOT IN ({_STOP_SQL}))) AS n_content,
       len(string_split(text, ' '))
         - len(list_filter(string_split(text, ' '), t -> t NOT IN ({_STOP_SQL}))) AS n_stop,
       array_to_string(list_sort(list_distinct(list_filter(string_split(text, ' '),
                                           t -> t NOT IN ({_STOP_SQL})))), '|') AS content_vocab
FROM documents WHERE doc_id < 300
""",
)
def txt_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop-word removal via array filter (JVM lambda, no UDF)."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    toks = F.split(F.col("text"), " ")
    content = F.filter(toks, lambda t: ~t.isin(*STOPWORDS))
    return d.select(
        "doc_id",
        F.size(content).alias("n_content"),
        (F.size(toks) - F.size(content)).alias("n_stop"),
        F.array_join(F.sort_array(F.array_distinct(content)), "|").alias("content_vocab"),
    )


@query(
    "txt_ngram",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
     grams AS (
       SELECT doc_id,
              unnest(list_filter(
                list_transform(list_zip(t, list_slice(t, 2, len(t))),
                               p -> CASE WHEN p[2] IS NULL THEN NULL
                                         ELSE p[1] || ' ' || p[2] END),
                g -> g IS NOT NULL)) AS bigram
       FROM toks)
SELECT bigram, count(*) AS n, count(DISTINCT doc_id) AS n_docs
FROM grams GROUP BY bigram HAVING count(*) >= 20
""",
)
def txt_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigrams via zip_with(tokens, shift(tokens)) — corpus bigram
    counts. The null-padded tail pair is filtered out."""
    d = load(spark, sf_dir, "documents")
    bigrams = adjacent_pairs("split(text, ' ')", "concat(a, ' ', b)")
    return (
        d.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n") >= 20)
    )


@query(
    "txt_tf",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
             FROM documents WHERE doc_id < 300)
SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token
""",
)
def txt_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term frequency: explode → (doc_id, token) hash aggregate."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


@query(
    "txt_df_idf",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
     n AS (SELECT count(*) AS n_docs FROM documents)
SELECT token,
       count(DISTINCT doc_id) AS df,
       round(ln((n.n_docs + 1) / (count(DISTINCT doc_id) + 1)) + 1, 6) AS idf
FROM tok, n
GROUP BY token, n.n_docs
""",
)
def txt_df_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document frequency + smoothed IDF per token. Corpus size N is a
    broadcast scalar join (no driver-side count action)."""
    d = load(spark, sf_dir, "documents")
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    return (
        tok.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(n))
        .select(
            "token",
            "df",
            F.round(F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1, 6).alias("idf"),
        )
    )


@query(
    "txt_tfidf_topk",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
     n AS (SELECT count(*) AS n_docs FROM documents),
     tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
     idf AS (SELECT token, round(ln((n.n_docs + 1) / (count(DISTINCT doc_id) + 1)) + 1, 6) AS idf
             FROM tok, n GROUP BY token, n.n_docs),
     scored AS (
       SELECT tf.doc_id, tf.token, round(tf.tf * idf.idf, 6) AS tfidf
       FROM tf JOIN idf ON tf.token = idf.token)
SELECT doc_id, token, tfidf, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn
  FROM scored)
WHERE rn <= 5
""",
)
def txt_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF weighting + top-5 terms per document — the reference's
    featurization relationally: TF (doc-key agg) ⋈ IDF (token-key agg,
    broadcastable) → windowed top-k per doc. Ranking uses the rounded
    score + token tie-break so order is cross-engine deterministic."""
    d = load(spark, sf_dir, "documents")
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    # tf is persisted because BOTH branches below (per-doc tf rows and
    # the token-keyed df aggregate) consume it: column pruning makes
    # the two exchanges non-identical, defeating ReuseExchange, so
    # without the cache a join-based idf would re-scan and re-explode
    # the whole corpus (measured ~25% slower at sf0.1).
    tf = (
        tok.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    # df via hash aggregate over tf — NOT a count-window partitioned
    # by token: a window partition gets no partial aggregation and no
    # AQE skew split, so every tf row for a hot token (a stopword
    # appears in essentially every document) lands in ONE task's
    # window buffer — a single-task straggler proportional to corpus
    # size at 100 TB. The hash agg combines map-side (one partial row
    # per token per task), and the token join back gets AQE's
    # skew-join handling on hot keys. tf is one row per (doc, token),
    # so count(*) per token IS the document frequency.
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = F.round(
        F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1, 6
    )
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "token", F.round(F.col("tf") * idf, 6).alias("tfidf"))
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)


@query("txt_hashing_tf")  # rows-only: hash-bucket layout is engine-specific
def txt_hashing_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed TF vectorizer (MLlib pipeline path): RegexTokenizer →
    HashingTF → sparse VectorUDT, surfaced as (doc_id, nnz, vec_norm).
    The fixed-width hashed space is what makes featurization scale
    without a vocabulary broadcast."""
    from pyspark.ml.feature import HashingTF, RegexTokenizer
    from pyspark.ml.functions import vector_to_array

    # NULL text has no token vector (HashingTF NPEs on a NULL array):
    # corrupt input, filtered — the NULL-total policy of the tier
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tokens = RegexTokenizer(inputCol="text", outputCol="toks", pattern="\\s+").transform(d)
    tf = HashingTF(inputCol="toks", outputCol="tf_vec", numFeatures=1024).transform(tokens)
    return tf.select("doc_id", vector_to_array("tf_vec").alias("arr")).select(
        "doc_id",
        F.size(F.filter("arr", lambda x: x > 0)).alias("nnz"),
        F.round(norm("arr"), 6).alias("vec_norm"),
    )


@query(
    "txt_lang_stats",
    oracle="""
SELECT lang,
       count(*)                                   AS n_docs,
       count(DISTINCT source)                     AS n_sources,
       CAST(sum(n_chars) AS BIGINT)               AS total_chars,
       round(median(n_chars), 1)                  AS med_chars,
       round(quantile_cont(n_chars, 0.9), 1)      AS p90_chars,
       CAST(sum(n_chars) AS BIGINT) / CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS chars_per_tok
FROM documents GROUP BY lang
""",
)
def txt_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per language — integer sums are exact, so the
    chars-per-token ratio needs no rounding."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.median("n_chars"), 1).alias("med_chars"),
        F.round(F.percentile("n_chars", 0.9), 1).alias("p90_chars"),
        (F.sum("n_chars") / F.sum(F.size(F.split(F.col("text"), " ")))).alias("chars_per_tok"),
    )


@query(
    "txt_quality_filter",
    oracle="""
SELECT doc_id, lang, n_chars,
       len(string_split(text, ' ')) AS n_tokens
FROM documents
WHERE n_chars BETWEEN 100 AND 2000
  AND lang IN ('en', 'fr', 'es', 'de')
  AND len(string_split(text, ' ')) BETWEEN 10 AND 200
  AND len(list_filter(string_split(text, ' '), t -> len(t) > 15)) = 0
""",
)
def txt_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-data-pipeline hygiene filter: length bounds, language
    allowlist, token-count bounds, no over-long tokens."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.filter(
        F.col("n_chars").between(100, 2000)
        & F.col("lang").isin("en", "fr", "es", "de")
        & F.size(toks).between(10, 200)
        & (F.size(F.filter(toks, lambda t: F.length(t) > 15)) == 0)
    ).select("doc_id", "lang", "n_chars", F.size(toks).alias("n_tokens"))


@query(
    "txt_boilerplate_strip",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
ch AS (
  SELECT doc_id, i, array_to_string(list_slice(toks, i, i + 15), ' ') AS chunk,
         md5(array_to_string(list_slice(toks, i, i + 15), ' ')) AS fp
  FROM t CROSS JOIN UNNEST(range(1, len(toks) + 1, 16)) AS r(i)
  WHERE i <= len(toks)),
common AS (
  SELECT fp FROM (SELECT fp, count(DISTINCT doc_id) AS nd FROM ch GROUP BY fp)
  WHERE nd >= 3),
kept AS (
  SELECT ch.doc_id, ch.i, ch.chunk,
         CASE WHEN common.fp IS NULL THEN 1 ELSE 0 END AS keep
  FROM ch LEFT JOIN common ON ch.fp = common.fp)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(1 - keep) AS BIGINT) AS n_dropped,
       coalesce(array_to_string(list(CASE WHEN keep = 1 THEN chunk END ORDER BY i)
                FILTER (WHERE keep = 1), ' '), '') AS text_clean
FROM kept GROUP BY doc_id
""",
)
def txt_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate REMOVAL (not just detection): 16-token chunks whose
    fingerprint recurs in ≥ 3 distinct documents are corpus-global
    boilerplate (headers, license blocks, template frames) and are cut
    out; the document is REBUILT from its surviving chunks in order —
    the step after dedup_paragraph's report, producing the cleaned
    training text. Only fingerprints shuffle to find the common set
    (broadcast back as a deny-list); reconstruction is a per-doc
    ordered collect of kept chunks — text moves once, doc-local."""
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    ch = t.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("toks"), F.lit(16))).alias("i"),
        "toks",
    ).select(
        "doc_id",
        "i",
        F.concat_ws(" ", F.slice("toks", F.col("i"), 16)).alias("chunk"),
        F.md5(F.concat_ws(" ", F.slice("toks", F.col("i"), 16))).alias("fp"),
    )
    common = (
        ch.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 3)
        .select("fp")
    )
    kept = ch.join(
        F.broadcast(common.withColumnRenamed("fp", "cfp")),
        ch.fp == F.col("cfp"),
        "left",
    ).select(
        "doc_id",
        "i",
        "chunk",
        F.when(F.col("cfp").isNull(), 1).otherwise(0).alias("keep"),
    )
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum(1 - F.col("keep")).cast("bigint").alias("n_dropped"),
        F.coalesce(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("keep") == 1, F.struct("i", "chunk")
                            )
                        )
                    ),
                    lambda s: s.chunk,
                ),
            ),
            F.lit(""),
        ).alias("text_clean"),
    )
