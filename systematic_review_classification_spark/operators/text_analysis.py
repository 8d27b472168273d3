"""Task-brief text-analysis operators beyond the reference surface:
language-ID heuristic, quality scoring, BPE-ish token counting,
rolling-hash document fingerprinting (all relational, all oracled).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from systematic_review_classification_spark.functions.ranks import global_rank
from systematic_review_classification_spark.functions.shingles import adjacent_pairs
from systematic_review_classification_spark.registry import query
from systematic_review_classification_spark.sources.tables import load

_EN_STOP = ("the", "a", "of", "and", "to", "in", "is")
_EN_STOP_SQL = ", ".join(f"'{w}'" for w in _EN_STOP)


@query(
    "txt_langid",
    oracle=f"""
WITH feats AS (
  SELECT doc_id, lang,
         len(list_filter(string_split(text, ' '), t -> t IN ({_EN_STOP_SQL}))) AS stop_hits,
         len(string_split(text, ' ')) AS n_tok,
         CAST(len(regexp_extract_all(text, '[aeiou]')) AS DOUBLE)
           / nullif(length(text), 0) AS vowel_ratio
  FROM documents)
SELECT doc_id, lang, stop_hits, round(vowel_ratio, 6) AS vowel_ratio,
       CASE WHEN CAST(stop_hits AS DOUBLE) / n_tok >= 0.05 THEN 'en' ELSE 'unk' END AS pred_lang
FROM feats
""",
)
def txt_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword-hit rate + vowel ratio →
    threshold rule. (A real n-gram profile model drops into the same
    shape: per-language feature columns + argmax.)
    An EMPTY (zero-length, non-NULL) document has no vowel ratio —
    NULL via nullif on both engines rather than an ANSI
    divide-by-zero abort (blank-text world, r9)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*_EN_STOP)))
    vowel_ratio = F.regexp_count(F.col("text"), F.lit("[aeiou]")).cast(
        "double"
    ) / F.nullif(F.length("text"), F.lit(0))
    return d.select(
        "doc_id",
        "lang",
        stop_hits.alias("stop_hits"),
        F.round(vowel_ratio, 6).alias("vowel_ratio"),
        F.when(stop_hits.cast("double") / F.size(toks) >= 0.05, "en")
        .otherwise("unk")
        .alias("pred_lang"),
    )


@query(
    "txt_quality_score",
    oracle=f"""
WITH f AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tok,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS ttr,
         CAST(len(list_filter(string_split(text, ' '), t -> t IN ({_EN_STOP_SQL}))) AS DOUBLE)
           / len(string_split(text, ' ')) AS stop_ratio,
         CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS chars_per_tok
  FROM documents)
SELECT doc_id, n_tok, round(ttr, 6) AS ttr, round(stop_ratio, 6) AS stop_ratio,
       round(chars_per_tok, 6) AS chars_per_tok,
       round(0.4 * least(ttr / 0.6, 1.0) + 0.3 * least(stop_ratio / 0.1, 1.0)
             + 0.3 * least(n_tok / 50.0, 1.0), 6) AS quality
FROM f
""",
)
def txt_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (type-token ratio, stopword ratio,
    length) — the continuous counterpart of txt_quality_filter's
    hard gate; integer-ratio arithmetic so engines agree exactly."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tok
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(*_EN_STOP))).cast("double") / n_tok
    )
    cpt = F.length("text").cast("double") / n_tok
    quality = F.round(
        0.4 * F.least(ttr / 0.6, F.lit(1.0))
        + 0.3 * F.least(stop_ratio / 0.1, F.lit(1.0))
        + 0.3 * F.least(n_tok / 50.0, F.lit(1.0)),
        6,
    )
    return d.select(
        "doc_id",
        n_tok.alias("n_tok"),
        F.round(ttr, 6).alias("ttr"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(cpt, 6).alias("chars_per_tok"),
        quality.alias("quality"),
    )


@query(
    "txt_token_count_bpe",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_words,
       -- NULL text => NULL counts (DuckDB's list_prepend(0, NULL) would
       -- otherwise smuggle a 0 where every other column is NULL)
       CAST(CASE WHEN toks IS NULL THEN NULL ELSE
            list_reduce(list_prepend(0, list_transform(toks, w -> CAST(ceil(length(w) / 4.0) AS INTEGER))),
                        (a, b) -> a + b) END AS BIGINT) AS n_bpe_est,
       CAST(len(toks) - 1 AS BIGINT) AS n_spaces
FROM t
""",
)
def txt_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace words + a BPE-ish estimate
    (ceil(len/4) subwords per word — the usual chars-per-token rule of
    thumb), computed with a higher-order fold, no tokenizer UDF."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    bpe = F.aggregate(
        F.transform(toks, lambda w: F.ceil(F.length(w) / 4.0).cast("int")),
        F.lit(0),
        lambda a, x: a + x,
    )
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_words"),
        bpe.cast("bigint").alias("n_bpe_est"),
        (F.size(toks) - 1).cast("bigint").alias("n_spaces"),
    )


@query(
    "txt_fingerprint",
    oracle="""
WITH c AS (
  SELECT doc_id,
         list_transform(string_split(text, ''), ch -> CAST(ascii(ch) AS BIGINT)) AS codes
  FROM documents)
SELECT doc_id,
       CASE WHEN codes IS NULL THEN NULL
            ELSE list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
                             (h, x) -> (h * 31 + x) % 1000000007) END AS fp
FROM c
""",
)
def txt_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: classic polynomial rolling hash
    (h = h·31 + byte mod 1e9+7) as a sequential higher-order fold —
    exact integer arithmetic, identical in both engines. The content-
    defined-chunking fingerprint for incremental dedup at scale.
    A NULL text fingerprints to NULL on both sides (the oracle CASEs
    it: DuckDB's list_prepend(0, NULL) would otherwise fold to 0,
    colliding missing text with the empty string's neighbor)."""
    d = load(spark, sf_dir, "documents")
    codes = F.transform(F.split(F.col("text"), ""), lambda ch: F.ascii(ch).cast("bigint"))
    fp = F.aggregate(
        codes, F.lit(0).cast("bigint"), lambda h, x: (h * 31 + x) % 1000000007
    )
    return d.select("doc_id", fp.alias("fp"))


@query(
    "txt_pii_scrub",
    oracle="""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com call 555-01'
              || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS raw
  FROM documents WHERE doc_id < 300)
SELECT doc_id,
       regexp_replace(
         regexp_replace(raw,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')                  AS scrubbed,
       len(regexp_extract_all(raw,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
       len(regexp_extract_all(raw, '[0-9]{3}-[0-9]{4}'))       AS n_phones
FROM aug
""",
)
def txt_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass every training-data pipeline
    runs before anything else: regex-replace emails and phone-shaped
    digit runs with typed placeholders, plus per-doc match counts for
    audit metrics. PII is injected deterministically (doc_id-derived)
    so the scrub provably fires on every row; patterns stay in the
    RE2 ∩ Java-regex portable subset. JVM-side regexp_replace — at
    100 TB this is a pure map stage, no shuffle at all."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com call 555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
    )
    email_re = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    phone_re = "[0-9]{3}-[0-9]{4}"
    return d.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(raw, email_re, "<EMAIL>"), phone_re, "<PHONE>"
        ).alias("scrubbed"),
        F.regexp_count(raw, F.lit(email_re)).cast("bigint").alias("n_emails"),
        F.regexp_count(raw, F.lit(phone_re)).cast("bigint").alias("n_phones"),
    )


@query(
    "txt_chunk",
    oracle="""
SELECT doc_id, cs AS chunk_start,
       substring(text, cs, 256) AS chunk,
       length(substring(text, cs, 256)) AS chunk_len
FROM documents, unnest(range(1, greatest(length(text) - 56, 1) + 1, 200)) AS u(cs)
""",
)
def txt_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window document chunking with overlap — the LLM
    training-data shaping step (context-window packing). Windows of
    256 chars at stride 200 (56-char overlap) so no boundary content
    is lost; start offsets stop once the remaining tail is covered by
    the previous window (``greatest(n_chars - 56, 1)`` keeps every
    document, however short, producing at least one chunk).

    Chunks are generated by ``explode(sequence(...))`` + ``substr`` —
    a pure per-row map with no shuffle: at 100 TB this is a linear
    scan whose output co-partitions with its input, and the chunk
    relation inherits parquet pushdown on doc_id/lang filters. A
    tokenizer-aware variant only swaps the offset expression; the
    plan shape is identical.

    Offsets derive from ``length(text)`` — never the ``n_chars``
    METADATA column: metadata can lie, and a single row claiming 4e18
    chars would have sequence() materialize a 2e16-element array and
    abort the executor (overflow world, r9). Work sizing always comes
    from the data being sized, identically on both engines."""
    d = load(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(1).cast("long"),
        F.greatest(F.length("text").cast("long") - 56, F.lit(1).cast("long")),
        F.lit(200).cast("long"),
    )
    chunk = F.col("text").substr(F.col("chunk_start"), F.lit(256))
    return (
        d.select("doc_id", "text", F.explode(starts).alias("chunk_start"))
        .select(
            "doc_id",
            "chunk_start",
            chunk.alias("chunk"),
            F.length(chunk).alias("chunk_len"),
        )
    )


@query(
    "txt_sentence_split",
    oracle="""
SELECT doc_id,
       generate_subscripts(string_split(text, '. '), 1) - 1 AS sent_idx,
       unnest(string_split(text, '. ')) AS sentence,
       length(unnest(string_split(text, '. '))) AS n_chars
FROM documents
WHERE doc_id < 200
""",
)
def txt_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation: split on '. ' boundaries with ordinal
    positions (posexplode) — the unit-of-text step between documents
    and chunks for labeling, PII scanning, or per-sentence quality
    scores. Deliberately a fixed-delimiter split (portable across
    Spark's Java regex and DuckDB's RE2 — lookbehind isn't in the
    common subset); an abbreviation-aware splitter drops into the same
    posexplode shape. Pure per-row generate: no shuffle, output
    co-partitioned with input."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return d.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), "\\. ")).alias("sent_idx", "sentence"),
    ).select(
        "doc_id", "sent_idx", "sentence", F.length("sentence").alias("n_chars")
    )


@query(
    "txt_chunk_tokens",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id, toks, unnest(range(0, greatest(len(toks) - 8, 1), 56)) AS cs
      FROM t)
SELECT doc_id, cs AS tok_start,
       array_to_string(list_slice(toks, cs + 1, cs + 64), ' ') AS chunk,
       CAST(len(list_slice(toks, cs + 1, cs + 64)) AS INTEGER) AS n_tokens
FROM s
""",
)
def txt_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget chunking — the realistic LLM variant of txt_chunk:
    windows of 64 tokens at stride 56 (8-token overlap), so every
    chunk fits a fixed context budget regardless of character length.
    Tokenize once, build ALL chunks inside the row with one
    higher-order transform (slice + re-join per start offset), THEN
    explode only the finished chunk structs — still zero shuffles,
    but each exploded row carries a 64-token chunk, never the whole
    document. The explode-starts-first shape duplicated the FULL
    token array into every window row (Generate keeps the array
    because the downstream slice needs it): a single 100k-token
    document fanned out to ~1800 copies of a 2 MB array and timed out
    the round-7 huge-string battery; this shape is linear in OUTPUT
    size, so one pathological document costs its chunk bytes and
    nothing more. Only the tokenizer changes between this and a BPE
    variant (txt_token_count_bpe has the regex), never the plan."""
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    chunks = F.transform(
        F.sequence(
            F.lit(0), F.greatest(F.size("toks") - 9, F.lit(0)), F.lit(56)
        ),
        lambda s: F.struct(
            s.cast("long").alias("tok_start"),
            F.array_join(F.slice(F.col("toks"), s + 1, F.lit(64)), " ").alias(
                "chunk"
            ),
            F.size(F.slice(F.col("toks"), s + 1, F.lit(64))).alias("n_tokens"),
        ),
    )
    return t.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id", "c.tok_start", "c.chunk", "c.n_tokens"
    )


@query(
    "txt_repetition",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g AS (
  SELECT doc_id, len(toks) AS n_tok,
         list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i + 1]) AS g2,
         list_transform(range(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) AS g3
  FROM t)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
       round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / nullif(len(g2), 0), 6) AS dup2_frac,
       round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / nullif(len(g3), 0), 6) AS dup3_frac
FROM g
""",
)
def txt_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals (the Gopher/FineWeb "duplicated n-gram
    fraction" quality rule): per doc, the fraction of bigrams and
    trigrams that are repeats of an earlier one. Everything is
    row-local array math in whole-stage codegen — zero shuffles, so
    the operator is embarrassingly parallel at any corpus size; docs
    too short for a window yield NULL (nullif guard), never a throw.

    Bigrams pair the array with its own shift (``adjacent_pairs``) —
    no index sequence is ever built, so there is no descending-sequence
    trap on 1-token docs (they give no pairs). Trigrams use a guarded
    index transform (sequence() descends when stop < start, hence the
    explicit CASE)."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    g = d.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tok"),
        adjacent_pairs("toks", "concat(a, ' ', b)").alias("g2"),
        F.expr(
            "CASE WHEN size(toks) >= 3"
            "     THEN transform(sequence(0, size(toks) - 3),"
            "                    i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))"
            "     ELSE cast(array() AS array<string>) END"
        ).alias("g3"),
    )
    def dup_frac(col: str):
        return F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(col)).cast("double")
            / F.nullif(F.size(col), F.lit(0)),
            6,
        )
    return g.select(
        "doc_id", "n_tok",
        dup_frac("g2").alias("dup2_frac"),
        dup_frac("g3").alias("dup3_frac"),
    )


@query(
    "txt_collocation",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
uni AS (SELECT unnest(t) AS tok FROM toks),
ucnt AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
utot AS (SELECT sum(c) AS n FROM ucnt),
grams AS (
  SELECT unnest(list_filter(
           list_transform(list_zip(t, list_slice(t, 2, len(t))),
                          p -> CASE WHEN p[2] IS NULL THEN NULL
                                    ELSE p[1] || ' ' || p[2] END),
           g -> g IS NOT NULL)) AS bigram
  FROM toks),
bcnt AS (SELECT bigram, count(*) AS c_xy FROM grams GROUP BY bigram),
btot AS (SELECT sum(c_xy) AS n FROM bcnt)
SELECT b.bigram, b.c_xy,
       round(ln((CAST(b.c_xy AS DOUBLE) / btot.n)
                / ((CAST(u1.c AS DOUBLE) / utot.n)
                   * (CAST(u2.c AS DOUBLE) / utot.n))), 6) AS pmi
FROM bcnt b
JOIN ucnt u1 ON string_split(b.bigram, ' ')[1] = u1.tok
JOIN ucnt u2 ON string_split(b.bigram, ' ')[2] = u2.tok
CROSS JOIN utot CROSS JOIN btot
WHERE b.c_xy >= 10
""",
)
def txt_collocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-scored bigram collocations: log( p(xy) / (p(x)·p(y)) ) with
    bigram probability over the bigram total and unigram probabilities
    over the unigram total, kept where the bigram occurs ≥ 10 times.

    Scale shape: two corpus-linear hash aggs (unigram + bigram
    counts), then the bigram table equi-joins the unigram table twice
    ON THE TOKEN (vocab-key shuffle, Zipf skew absorbed by AQE); the
    two grand totals are 1-row broadcasts. The support filter runs
    before the joins, so the join input is the (small) frequent-bigram
    set, not the full bigram vocabulary."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    bigrams = adjacent_pairs("split(text, ' ')", "concat(a, ' ', b)")
    ucnt = (
        d.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    utot = ucnt.agg(F.sum("c").alias("un"))
    bcnt = (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    btot = bcnt.agg(F.sum("c_xy").alias("bn"))
    b = bcnt.filter(F.col("c_xy") >= 10).withColumns(
        {
            "w1": F.split(F.col("bigram"), " ").getItem(0),
            "w2": F.split(F.col("bigram"), " ").getItem(1),
        }
    )
    u1 = ucnt.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = ucnt.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    pmi = F.log(
        (F.col("c_xy").cast("double") / F.col("bn"))
        / (
            (F.col("c1").cast("double") / F.col("un"))
            * (F.col("c2").cast("double") / F.col("un"))
        )
    )
    return (
        b.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(utot))
        .crossJoin(F.broadcast(btot))
        .select("bigram", "c_xy", F.round(pmi, 6).alias("pmi"))
    )


@query(
    "txt_zipf",
    oracle="""
WITH ucnt AS (
  SELECT tok, count(*) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok),
ranked AS (
  SELECT tok, c, row_number() OVER (ORDER BY c DESC, tok) AS r FROM ucnt
  ORDER BY c DESC, tok LIMIT 100)
SELECT count(*) AS n_terms,
       min(CASE WHEN r = 1 THEN tok END) AS top_token,
       round(regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(r AS DOUBLE))), 4)
         AS zipf_slope
FROM ranked
""",
)
def txt_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the top-100 terms: slope of log-frequency
    vs log-rank via REGR_SLOPE (a healthy natural-language corpus
    lands near −1; a templated/spammy one is much flatter — a cheap
    corpus-level quality signal).

    Scale shape: the corpus-linear part is one token-count hash agg;
    ranking happens AFTER `orderBy().limit(100)` reduces the vocab to
    a driver-trivial 100 rows (Spark's TakeOrdered, partial top-k per
    partition — never a global sort of the vocabulary), so the
    single-partition window is over 100 rows by construction."""
    d = load(spark, sf_dir, "documents")
    ucnt = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from pyspark.sql import Window as W

    top = ucnt.orderBy(F.col("c").desc(), "tok").limit(100)
    ranked = top.withColumn(
        "r", F.row_number().over(W.orderBy(F.col("c").desc(), "tok"))
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.min(F.when(F.col("r") == 1, F.col("tok"))).alias("top_token"),
        F.round(
            F.regr_slope(
                F.log(F.col("c").cast("double")), F.log(F.col("r").cast("double"))
            ),
            4,
        ).alias("zipf_slope"),
    )


@query(
    "txt_stem",
    oracle="""
WITH tok AS (
  SELECT DISTINCT unnest(string_split(text, ' ')) AS token
  FROM documents WHERE doc_id < 200),
stemmed AS (
  SELECT token,
         CASE
           WHEN regexp_matches(token, 'ies$') AND len(token) > 4
             THEN regexp_replace(token, 'ies$', 'y')
           WHEN regexp_matches(token, 'sses$')
             THEN regexp_replace(token, 'sses$', 'ss')
           WHEN regexp_matches(token, 'ing$') AND len(token) > 5
             THEN regexp_replace(token, 'ing$', '')
           WHEN regexp_matches(token, 'ed$') AND len(token) > 4
             THEN regexp_replace(token, 'ed$', '')
           WHEN regexp_matches(token, 'ly$') AND len(token) > 4
             THEN regexp_replace(token, 'ly$', '')
           WHEN regexp_matches(token, 's$')
                AND NOT regexp_matches(token, '(ss|us|is)$') AND len(token) > 3
             THEN regexp_replace(token, 's$', '')
           ELSE token END AS stem
  FROM tok)
SELECT token, stem, (token <> stem) AS changed
FROM stemmed
""",
)
def txt_stem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based suffix stemmer (Porter-step-1-flavored): plural /
    participle / adverb suffix stripping with length guards — the
    cheap normalization pass before index building when a real
    stemmer's language models aren't warranted. Both engines run the
    IDENTICAL ordered rule cascade, so the mapping is bit-equal.

    Scale shape: stems the DISTINCT token vocabulary, not token
    occurrences — the classic build-small-apply-broadcast pattern
    (the vocabulary-sized mapping then broadcast-joins back onto the
    token stream). Pure regexp expressions, codegen'd, one distinct
    shuffle."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    tok = d.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    ).distinct()
    t = F.col("token")
    stem = (
        F.when(t.rlike("ies$") & (F.length(t) > 4), F.regexp_replace(t, "ies$", "y"))
        .when(t.rlike("sses$"), F.regexp_replace(t, "sses$", "ss"))
        .when(t.rlike("ing$") & (F.length(t) > 5), F.regexp_replace(t, "ing$", ""))
        .when(t.rlike("ed$") & (F.length(t) > 4), F.regexp_replace(t, "ed$", ""))
        .when(t.rlike("ly$") & (F.length(t) > 4), F.regexp_replace(t, "ly$", ""))
        .when(
            t.rlike("s$") & ~t.rlike("(ss|us|is)$") & (F.length(t) > 3),
            F.regexp_replace(t, "s$", ""),
        )
        .otherwise(t)
    )
    return tok.select(
        "token", stem.alias("stem"), (t != stem).alias("changed")
    )


@query(
    "txt_readability",
    oracle="""
WITH f AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS words,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]')), 1) AS DOUBLE)
           AS sentences,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
           AS syllables
  FROM documents)
SELECT doc_id, CAST(words AS BIGINT) AS n_words,
       CAST(sentences AS BIGINT) AS n_sentences,
       CAST(syllables AS BIGINT) AS n_syllables,
       round(206.835 - 1.015 * (words / sentences)
             - 84.6 * (syllables / words), 4) AS flesch
FROM f
""",
)
def txt_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring with a vowel-group syllable proxy —
    the classic cheap readability gate in corpus quality filtering
    (too-low scores flag machine-generated or OCR-garbled text).
    Pure regexp-count expressions, codegen'd, zero shuffles; both
    engines evaluate the identical formula so only the two divisions
    carry float noise (rounded at 4)."""
    d = load(spark, sf_dir, "documents")
    words = F.size(F.split(F.col("text"), " ")).cast("double")
    sentences = F.greatest(
        F.regexp_count(F.col("text"), F.lit("[.!?]")), F.lit(1)
    ).cast("double")
    syllables = F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+")).cast(
        "double"
    )
    return d.select(
        "doc_id",
        words.cast("bigint").alias("n_words"),
        sentences.cast("bigint").alias("n_sentences"),
        syllables.cast("bigint").alias("n_syllables"),
        F.round(
            F.lit(206.835) - F.lit(1.015) * (words / sentences)
            - F.lit(84.6) * (syllables / words),
            4,
        ).alias("flesch"),
    )


@query("txt_compression_ratio")  # rows-only: no zlib in the SQL oracle engine
def txt_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal: len(zlib(text)) / len(text) —
    the cheap entropy proxy corpus filters use to catch boilerplate
    (ratio → 0, compresses too well) and random garbage (ratio → 1,
    incompressible). Natural prose sits in a mid band.

    zlib level 6 is deterministic for fixed input, so the column is
    reproducible run to run — but no SQL engine exposes zlib, hence
    rows-only; tests/test_invariants.py bounds the band and pins
    repeats-compress-better-than-prose.

    Scale shape: Arrow-batched pandas UDF (the legitimate Python
    path — this is byte-level work no built-in expresses), pure map
    stage, no shuffle; at 100 TB it rides the same scan as the other
    per-doc quality columns."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def comp_ratio(texts: pd.Series) -> pd.Series:
        import zlib

        def ratio(t):
            if not t:
                return 0.0
            raw = t.encode("utf-8")
            return round(len(zlib.compress(raw, 6)) / len(raw), 6)

        return texts.map(ratio)

    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        comp_ratio(F.col("text")).alias("comp_ratio"),
    )


@query(
    "txt_ocr_artifact_filter",
    oracle="""
WITH f AS (
  SELECT doc_id,
         CASE WHEN regexp_matches(text, '[bcdfghjklmnpqrstvwxz]{5,}')
              THEN 1 ELSE 0 END AS consonant_run,
         round(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
               / nullif(length(text), 0), 6) AS digit_ratio,
         round(CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
               / nullif(length(text), 0), 6) AS symbol_ratio
  FROM documents)
SELECT doc_id, consonant_run, digit_ratio, symbol_ratio,
       CASE WHEN consonant_run = 1 OR digit_ratio > 0.3 OR symbol_ratio > 0.2
            THEN 0 ELSE 1 END AS keep
FROM f
""",
)
def txt_ocr_artifact_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OCR/extraction-artifact gate (the C4-style hygiene rule family
    beyond txt_quality_filter's length/stopword gates): long consonant
    runs (broken hyphenation / column-merge garbage), digit density
    (tables read as prose), and symbol density (formula/markup
    spillover). Pure regex-count projections — codegen, one scan, no
    UDF; thresholds are corpus-policy knobs, not plan changes. The
    regex subset (plain character classes) is portable between Java
    regex and RE2 (the txt_pii_scrub discipline)."""
    d = load(spark, sf_dir, "documents")
    consonant_run = F.when(
        F.regexp_count(F.col("text"), F.lit("[bcdfghjklmnpqrstvwxz]{5,}")) > 0, 1
    ).otherwise(0)
    # empty text: ratios are undefined — NULL on both engines (nullif in
    # the oracle), not an ANSI DIVIDE_BY_ZERO abort
    n_chars = F.nullif(F.length("text"), F.lit(0))
    digit_ratio = F.round(
        F.regexp_count(F.col("text"), F.lit("[0-9]")).cast("double") / n_chars, 6
    )
    symbol_ratio = F.round(
        F.regexp_count(F.col("text"), F.lit("[^a-zA-Z0-9 ]")).cast("double") / n_chars,
        6,
    )
    f = d.select(
        "doc_id",
        consonant_run.alias("consonant_run"),
        digit_ratio.alias("digit_ratio"),
        symbol_ratio.alias("symbol_ratio"),
    )
    return f.select(
        "doc_id",
        "consonant_run",
        "digit_ratio",
        "symbol_ratio",
        F.when(
            (F.col("consonant_run") == 1)
            | (F.col("digit_ratio") > 0.3)
            | (F.col("symbol_ratio") > 0.2),
            0,
        )
        .otherwise(1)
        .alias("keep"),
    )


@query(
    "wl_hygiene_attribution",
    oracle=f"""
WITH flags AS (
  SELECT doc_id,
         CASE WHEN n_chars >= 64 THEN 0 ELSE 1 END AS fail_len,
         CASE WHEN CAST(len(list_filter(string_split(text, ' '),
                                        t -> t IN ({_EN_STOP_SQL}))) AS DOUBLE)
                   / len(string_split(text, ' ')) >= 0.05
              THEN 0 ELSE 1 END AS fail_stop,
         CASE WHEN regexp_matches(text, '[bcdfghjklmnpqrstvwxz]{{5,}}')
                OR CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                   / nullif(length(text), 0) > 0.3
              THEN 1 ELSE 0 END AS fail_ocr
  FROM documents)
SELECT rule, n_failed, n_docs, round(CAST(n_failed AS DOUBLE) / n_docs, 6) AS fail_rate
FROM (
  SELECT 'len' AS rule, CAST(sum(fail_len) AS BIGINT) AS n_failed,
         CAST(count(*) AS BIGINT) AS n_docs FROM flags
  UNION ALL
  SELECT 'stopword', CAST(sum(fail_stop) AS BIGINT), CAST(count(*) AS BIGINT) FROM flags
  UNION ALL
  SELECT 'ocr', CAST(sum(fail_ocr) AS BIGINT), CAST(count(*) AS BIGINT) FROM flags
  UNION ALL
  SELECT 'kept', CAST(sum(CASE WHEN fail_len + fail_stop + fail_ocr = 0
                               THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(*) AS BIGINT) FROM flags)
""",
)
def wl_hygiene_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hygiene-gate ATTRIBUTION: which cleaning rule rejects how much
    of the corpus — the report a data lead needs before tightening any
    threshold (a rule that kills 40% of a source is a bug or a policy
    decision, never a silent default). Three representative gates
    (length, stopword-rate/langid, OCR noise) evaluate in ONE scan as
    flag columns; the per-rule roll-up plus the all-rules 'kept' row
    are conditional sums over that single pass — adding a rule adds a
    column, not a job. The row-level flag relation is the audit log;
    this is its dashboard."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_rate = (
        F.size(F.filter(toks, lambda t: t.isin(*_EN_STOP))).cast("double") / F.size(toks)
    )
    fail_len = F.when(F.col("n_chars") >= 64, 0).otherwise(1)
    fail_stop = F.when(stop_rate >= 0.05, 0).otherwise(1)
    # nullif denominator: a zero-length (non-NULL) document must not
    # ANSI-abort the digit-ratio gate (blank-text world, r9) — the
    # NULL ratio falls through CASE to "not failed" on both engines
    fail_ocr = F.when(
        (F.regexp_count(F.col("text"), F.lit("[bcdfghjklmnpqrstvwxz]{5,}")) > 0)
        | (
            F.regexp_count(F.col("text"), F.lit("[0-9]")).cast("double")
            / F.nullif(F.length("text"), F.lit(0))
            > 0.3
        ),
        1,
    ).otherwise(0)
    flags = d.select(
        fail_len.alias("fail_len"),
        fail_stop.alias("fail_stop"),
        fail_ocr.alias("fail_ocr"),
    )

    def rule(name, col):
        return flags.agg(
            F.sum(col).cast("bigint").alias("n_failed"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        ).select(F.lit(name).alias("rule"), "n_failed", "n_docs")

    kept = flags.agg(
        F.sum(
            F.when(
                F.col("fail_len") + F.col("fail_stop") + F.col("fail_ocr") == 0, 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_failed"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    ).select(F.lit("kept").alias("rule"), "n_failed", "n_docs")
    out = (
        rule("len", F.col("fail_len"))
        .unionByName(rule("stopword", F.col("fail_stop")))
        .unionByName(rule("ocr", F.col("fail_ocr")))
        .unionByName(kept)
    )
    return out.select(
        "rule",
        "n_failed",
        "n_docs",
        F.round(F.col("n_failed").cast("double") / F.col("n_docs"), 6).alias(
            "fail_rate"
        ),
    )


@query(
    "wl_kl_source_mix",
    oracle="""
WITH sl AS (SELECT source, lang, CAST(count(*) AS DOUBLE) AS n
            FROM documents GROUP BY 1, 2),
st AS (SELECT source, sum(n) AS ns FROM sl GROUP BY source),
ct AS (SELECT lang, sum(n) AS nl FROM sl GROUP BY lang),
tot AS (SELECT sum(n) AS nt FROM sl),
langs AS (SELECT count(*) AS k FROM ct),
cells AS (
  SELECT st.source,
         (coalesce(sl.n, 0) + 0.5) / (st.ns + 0.5 * langs.k) AS p,
         (ct.nl + 0.5) / (tot.nt + 0.5 * langs.k) AS q
  FROM st CROSS JOIN ct
  LEFT JOIN sl ON sl.source = st.source AND sl.lang = ct.lang,
  tot, langs)
SELECT source, round(sum(p * ln(p / q)), 6) AS kl_vs_corpus
FROM cells GROUP BY source
""",
)
def wl_kl_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence of each source's language mix from the corpus
    mix — 'which ingest feed is most unlike the blend', the
    domain-balance alarm for mixture curation (wl_domain_mix picks
    weights; this says when a feed's composition drifted). Every
    (source, lang) cell is add-half smoothed so unseen languages stay
    finite; the whole computation is two bounded aggregates and a
    |sources| × |langs| cross of tiny relations."""
    d = load(spark, sf_dir, "documents")
    sl = d.groupBy("source", "lang").agg(F.count(F.lit(1)).cast("double").alias("n"))
    st = sl.groupBy("source").agg(F.sum("n").alias("ns"))
    ct = sl.groupBy("lang").agg(F.sum("n").alias("nl"))
    tot = sl.agg(F.sum("n").alias("nt"))
    langs = ct.agg(F.count(F.lit(1)).cast("double").alias("k"))
    cells = (
        st.crossJoin(F.broadcast(ct))
        .join(sl, ["source", "lang"], "left")
        .join(F.broadcast(tot))
        .join(F.broadcast(langs))
        .select(
            "source",
            (
                (F.coalesce("n", F.lit(0.0)) + 0.5) / (F.col("ns") + 0.5 * F.col("k"))
            ).alias("p"),
            ((F.col("nl") + 0.5) / (F.col("nt") + 0.5 * F.col("k"))).alias("q"),
        )
    )
    return cells.groupBy("source").agg(
        F.round(F.sum(F.col("p") * F.log(F.col("p") / F.col("q"))), 6).alias(
            "kl_vs_corpus"
        )
    )


@query(
    "txt_conditional_entropy",
    oracle="""
WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
bg AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2
  FROM t CROSS JOIN UNNEST(range(1, len(toks) + 1)) AS r(i)
  WHERE i + 1 <= len(toks)),
c2 AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS n12 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, sum(n12) AS n1 FROM c2 GROUP BY w1),
tot AS (SELECT sum(n12) AS nt FROM c2)
SELECT CAST(tot.nt AS BIGINT) AS n_bigrams,
       round(-sum((c2.n12 / tot.nt) * ln(c2.n12 / c1.n1)), 6) + 0.0 AS h_cond,
       round(-sum((c2.n12 / tot.nt) * ln(c2.n12 / tot.nt)), 6) + 0.0 AS h_joint
FROM c2 JOIN c1 USING (w1), tot
GROUP BY tot.nt
""",
)
def txt_conditional_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional entropy H(next|prev) and joint entropy of the
    corpus bigram distribution — the information-theoretic sequence
    predictability measure (low H(next|prev) ⇒ formulaic text; the
    entropy-rate cousin of txt_repetition's count-based rule, and the
    corpus-level analog of txt_bigram_lm_score's per-doc scoring).
    Exact MLE probabilities from the two bounded count relations; the
    ln/sum runs over the vocabulary-sized bigram table, not the
    corpus."""
    d = load(spark, sf_dir, "documents")
    bg = d.select(
        F.explode(
            adjacent_pairs("split(text, ' ')", "named_struct('w1', a, 'w2', b)")
        ).alias("p")
    ).select("p.w1", "p.w2")
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("double").alias("n12"))
    c1 = c2.groupBy("w1").agg(F.sum("n12").alias("n1"))
    tot = c2.agg(F.sum("n12").alias("nt"))
    j = c2.join(c1, "w1").join(F.broadcast(tot))
    # grouped on the (single-valued) corpus total so a bigram-free
    # corpus yields ZERO rows, matching the oracle's grouped aggregate
    # — a global agg would emit one all-NULL row instead
    return (
        j.groupBy("nt")
        .agg(
            (
                F.round(
                    -F.sum(
                        (F.col("n12") / F.col("nt")) * F.log(F.col("n12") / F.col("n1"))
                    ),
                    6,
                )
                + 0.0  # kill IEEE -0.0 when the entropy sum is exactly zero
            ).alias("h_cond"),
            (
                F.round(
                    -F.sum(
                        (F.col("n12") / F.col("nt")) * F.log(F.col("n12") / F.col("nt"))
                    ),
                    6,
                )
                + 0.0
            ).alias("h_joint"),
        )
        .select(F.col("nt").cast("bigint").alias("n_bigrams"), "h_cond", "h_joint")
    )


@query(
    "txt_oov_curve",
    oracle="""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
freq AS (SELECT token, CAST(count(*) AS DOUBLE) AS n FROM tok GROUP BY token),
ranked AS (
  SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rnk FROM freq),
tot AS (SELECT sum(n) AS nt FROM ranked),
ks AS (SELECT unnest([5, 10, 20, 40, 80]) AS k)
SELECT ks.k AS vocab_size,
       round(sum(CASE WHEN ranked.rnk <= ks.k THEN ranked.n ELSE 0 END) / tot.nt, 6)
         AS coverage,
       round(1 - sum(CASE WHEN ranked.rnk <= ks.k THEN ranked.n ELSE 0 END) / tot.nt, 6)
         AS oov_rate
FROM ks CROSS JOIN ranked, tot
GROUP BY ks.k, tot.nt
""",
)
def txt_oov_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OOV-rate vs vocabulary-size curve: for candidate vocab sizes,
    the share of token OCCURRENCES covered by the top-k
    frequency-ranked types — the tokenizer-budget design input (pick
    the knee; everything beyond buys marginal coverage; pairs with
    txt_bpe_pair_counts which then spends the budget on merges).
    Frequencies rank once via the distributed two-pass range rank
    (functions/ranks.py — vocabulary is 10⁷–10⁸ types at corpus
    scale, too big for a single-task global window); the curve is a
    conditional sum over vocab × |k| candidate sizes — corpus touched
    once."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("token"))
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("n"))
    ranked = global_rank(
        freq, F.col("n").desc(), F.col("token"), rank_col="rnk"
    ).select("n", "rnk")
    # One aggregate pass with |k| conditional sums — the candidate
    # sizes are compile-time literals, so replicating the ranked
    # vocabulary ×5 via crossJoin (a BroadcastNestedLoopJoin at plan
    # level) buys nothing: sum(when(rnk <= k, n)) per literal k reads
    # the vocabulary ONCE with full map-side partial aggregation, then
    # the 1-row result unpivots to the curve via stack().
    ks = [5, 10, 20, 40, 80]
    cover = ranked.agg(
        F.sum("n").alias("nt"),
        *[
            F.sum(F.when(F.col("rnk") <= k, F.col("n")).otherwise(0.0)).alias(
                f"c{k}"
            )
            for k in ks
        ],
    )
    stack_args = ", ".join(f"{k}, c{k}" for k in ks)
    # Empty-corpus guard: the global aggregate yields ONE all-NULL row
    # on zero input (SQL semantics), but the oracle's CROSS JOIN over
    # an empty vocabulary yields ZERO rows — drop the NULL-total row
    # before unpivoting (1-row relation; free).
    return cover.filter(F.col("nt").isNotNull()).select(
        F.expr(f"stack({len(ks)}, {stack_args}) AS (vocab_size, ck)"), "nt"
    ).select(
        "vocab_size",
        F.round(F.col("ck") / F.col("nt"), 6).alias("coverage"),
        F.round(1 - F.col("ck") / F.col("nt"), 6).alias("oov_rate"),
    )


@query(
    "txt_burstiness",
    oracle="""
WITH nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
tc AS (
  SELECT token, CAST(count(*) AS DOUBLE) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY doc_id, token),
agg AS (
  SELECT token, sum(c) AS s1, sum(c * c) AS s2 FROM tc GROUP BY token)
SELECT token,
       round(s1 / nd.n, 6) AS mean_per_doc,
       round(((s2 - s1 * s1 / nd.n) / nd.n) / (s1 / nd.n), 6) AS burstiness_vmr
FROM agg, nd
ORDER BY round(((s2 - s1 * s1 / nd.n) / nd.n) / (s1 / nd.n), 6) DESC, token
LIMIT 15
""",
)
def txt_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token BURSTINESS (Church–Gale variance-to-mean ratio): content
    words clump into few documents (VMR ≫ 1) while function words
    spread uniformly (VMR ≈ 1) — the corpus-linguistics statistic
    behind why raw frequency is a bad keyword signal and idf-style
    weighting works. Zero-occurrence documents enter the variance
    through N in the algebra, never as materialized rows; everything
    reduces from per-(doc, token) counts — one explode, two bounded
    aggregates, exact integer sums."""
    d = load(spark, sf_dir, "documents")
    nd = d.agg(F.count(F.lit(1)).cast("double").alias("n"))
    tc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    agg = tc.groupBy("token").agg(
        F.sum("c").alias("s1"), F.sum(F.col("c") * F.col("c")).alias("s2")
    )
    j = agg.join(F.broadcast(nd))
    vmr = F.round(
        ((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / F.col("n"))
        / (F.col("s1") / F.col("n")),
        6,
    )
    return (
        j.select(
            "token",
            F.round(F.col("s1") / F.col("n"), 6).alias("mean_per_doc"),
            vmr.alias("burstiness_vmr"),
        )
        .orderBy(F.col("burstiness_vmr").desc(), "token")
        .limit(15)
    )


@query(
    "txt_chao1_richness",
    oracle="""
WITH df AS (
  SELECT token, count(DISTINCT doc_id) AS d
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token),
f AS (
  SELECT CAST(count(*) AS DOUBLE) AS v,
         CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS f1,
         CAST(sum(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS f2
  FROM df)
SELECT CAST(v AS BIGINT) AS observed_types,
       CAST(f1 AS BIGINT) AS singletons, CAST(f2 AS BIGINT) AS doubletons,
       round(v + f1 * f1 / (2.0 * greatest(f2, 1.0)), 6) AS chao1_estimate
FROM f
""",
)
def txt_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAO1 richness estimation: how many vocabulary types the corpus
    has NOT yet shown you, from singleton/doubleton counts alone —
    V̂ = V + F1²/2F2, the species-richness estimator applied to
    tokens (the quantitative answer to wl_vocab_growth's curve: will
    more data keep finding new types?). Three conditional sums over
    the bounded document-frequency relation; the F2=0 edge clamps to
    1 (the standard bias-corrected fallback) so the estimate stays
    finite."""
    d = load(spark, sf_dir, "documents")
    df_t = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.countDistinct("doc_id").alias("d"))
    )
    f = df_t.agg(
        F.count(F.lit(1)).cast("double").alias("v"),
        F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).cast("double").alias("f1"),
        F.sum(F.when(F.col("d") == 2, 1).otherwise(0)).cast("double").alias("f2"),
    )
    return f.select(
        F.col("v").cast("bigint").alias("observed_types"),
        F.col("f1").cast("bigint").alias("singletons"),
        F.col("f2").cast("bigint").alias("doubletons"),
        F.round(
            F.col("v")
            + F.col("f1") * F.col("f1") / (2.0 * F.greatest(F.col("f2"), F.lit(1.0))),
            6,
        ).alias("chao1_estimate"),
    )


@query(
    "txt_distinctive_terms",
    oracle="""
WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
stf AS (SELECT source, token, CAST(count(*) AS DOUBLE) AS tf
        FROM tok GROUP BY 1, 2),
sdf AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM stf GROUP BY token),
ns AS (SELECT CAST(count(DISTINCT source) AS DOUBLE) AS n FROM stf),
scored AS (
  SELECT stf.source, stf.token,
         round(stf.tf * ln((ns.n + 1.0) / (sdf.df + 1.0)), 6) AS score
  FROM stf JOIN sdf USING (token), ns),
ranked AS (
  SELECT source, token, score,
         row_number() OVER (PARTITION BY source
                            ORDER BY score DESC, token) AS rn
  FROM scored)
SELECT source, token, score FROM ranked WHERE rn <= 3
""",
)
def txt_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCTIVE terms per source: tf-idf computed at the SOURCE
    grain (each feed is the 'document') — the three terms that
    characterize a feed against its peers, the one-line answer to
    'what is this ingest source actually about'. Same machinery as
    txt_tfidf_topk, one grain up: the source×token relation is tiny,
    the source-frequency join bounded by the vocabulary, and the
    per-source window ranks a handful of rows. Smoothed idf keeps
    everywhere-present tokens finite."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("token"))
    stf = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    sdf = stf.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("df"))
    ns = stf.agg(F.countDistinct("source").cast("double").alias("n"))
    scored = (
        stf.join(sdf, "token")
        .join(F.broadcast(ns))
        .select(
            "source",
            "token",
            F.round(
                F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("score"),
        )
    )
    ranked = scored.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("source").orderBy(F.col("score").desc(), "token")
        ),
    )
    return ranked.filter(F.col("rn") <= 3).select("source", "token", "score")


@query(
    "txt_script_mix",
    oracle="""
WITH f AS (
  SELECT doc_id, lang,
         CAST(len(regexp_extract_all(text, '[一-鿿]')) AS BIGINT) AS cjk_chars,
         CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS latin_chars,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents)
SELECT doc_id, lang, cjk_chars, latin_chars,
       CASE WHEN cjk_chars > latin_chars THEN 'cjk'
            WHEN latin_chars > 0 THEN 'latin'
            ELSE 'other' END AS dominant_script,
       round(CAST(cjk_chars AS DOUBLE) / nullif(n_chars, 0), 6) AS cjk_ratio
FROM f
""",
)
def txt_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode SCRIPT detection: CJK vs Latin character census per
    document — the writing-system-level language signal that
    tokenizer routing and lang-ID priors consume before any model
    runs (a 'zh'-tagged doc full of Latin text is a labeling bug this
    catches; both occur in the fixture corpus). The CJK class is the
    literal codepoint range 一-鿿 (U+4E00–U+9FFF) embedded as
    characters, so the Java-regex and RE2 patterns are byte-identical.
    Pure regexp-count projection, one scan."""
    d = load(spark, sf_dir, "documents")
    cjk = F.regexp_count(F.col("text"), F.lit("[一-鿿]")).cast("bigint")
    latin = F.regexp_count(F.col("text"), F.lit("[A-Za-z]")).cast("bigint")
    return d.select(
        "doc_id",
        "lang",
        cjk.alias("cjk_chars"),
        latin.alias("latin_chars"),
        F.when(cjk > latin, "cjk")
        .when(latin > 0, "latin")
        .otherwise("other")
        .alias("dominant_script"),
        # empty text: ratio undefined — NULL both engines, never
        # DIVIDE_BY_ZERO
        F.round(
            cjk.cast("double") / F.nullif(F.length("text"), F.lit(0)), 6
        ).alias("cjk_ratio"),
    )


@query(
    "txt_logodds_shift",
    oracle="""
WITH tok AS (
  SELECT CASE WHEN doc_id < (SELECT max(doc_id) / 2 FROM documents)
              THEN 0 ELSE 1 END AS era,
         unnest(string_split(text, ' ')) AS token
  FROM documents),
c AS (SELECT era, token, CAST(count(*) AS DOUBLE) AS n FROM tok GROUP BY era, token),
tot AS (SELECT era, sum(n) AS nt FROM c GROUP BY era),
prior AS (SELECT token, sum(n) AS a FROM c GROUP BY token),
a0 AS (SELECT sum(a) AS atot FROM prior),
w AS (
  SELECT p.token,
         coalesce(max(CASE WHEN c.era = 0 THEN c.n END), 0) AS n0,
         coalesce(max(CASE WHEN c.era = 1 THEN c.n END), 0) AS n1,
         max(p.a) AS a,
         max(CASE WHEN t.era = 0 THEN t.nt END) AS t0,
         max(CASE WHEN t.era = 1 THEN t.nt END) AS t1
  FROM prior p
  LEFT JOIN c ON c.token = p.token
  CROSS JOIN tot t
  GROUP BY p.token)
SELECT token,
       round(ln((n1 + a) / nullif(t1 + (SELECT atot FROM a0) - n1 - a, 0))
             - ln((n0 + a) / nullif(t0 + (SELECT atot FROM a0) - n0 - a, 0)), 6)
         AS log_odds_shift
FROM w
ORDER BY abs(ln((n1 + a) / nullif(t1 + (SELECT atot FROM a0) - n1 - a, 0))
             - ln((n0 + a) / nullif(t0 + (SELECT atot FROM a0) - n0 - a, 0))) DESC, token
LIMIT 15
""",
)
def txt_logodds_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY SHIFT via log-odds with an informative Dirichlet
    prior (Monroe/Colaresi/Quinn's 'Fightin' Words'): which tokens
    moved most between the corpus's earlier and later halves, with the
    overall corpus as the smoothing prior so rare words cannot fake
    huge shifts — the principled version of the naive frequency-ratio
    comparison, and the temporal sibling of txt_distinctive_terms'
    source contrast. Two bounded count relations; the top-15 cut
    ranks on the rounded |shift| with token tie-break."""
    d = load(spark, sf_dir, "documents")
    half = d.agg((F.max("doc_id") / 2).alias("mid"))
    tok = d.join(F.broadcast(half)).select(
        F.when(F.col("doc_id") < F.col("mid"), 0).otherwise(1).alias("era"),
        F.explode(F.split("text", " ")).alias("token"),
    )
    c = tok.groupBy("era", "token").agg(F.count(F.lit(1)).cast("double").alias("n"))
    tot = c.groupBy("era").agg(F.sum("n").alias("nt"))
    prior = c.groupBy("token").agg(F.sum("n").alias("a"))
    a0 = prior.agg(F.sum("a").alias("atot"))
    w = (
        prior.join(c, "token", "left")
        .groupBy("token")
        .agg(
            F.coalesce(F.max(F.when(F.col("era") == 0, F.col("n"))), F.lit(0.0)).alias(
                "n0"
            ),
            F.coalesce(F.max(F.when(F.col("era") == 1, F.col("n"))), F.lit(0.0)).alias(
                "n1"
            ),
            F.max("a").alias("a"),
        )
        .join(
            F.broadcast(
                tot.groupBy().pivot("era", [0, 1]).agg(F.max("nt"))
                .withColumnRenamed("0", "t0")
                .withColumnRenamed("1", "t1")
            )
        )
        .join(F.broadcast(a0))
    )
    # a token owning ALL of an era's smoothed mass zeroes its odds
    # complement — the shift is undefined (NULL via nullif), not an
    # ANSI division abort (hit when a corpus has one distinct token)
    lo = F.log(
        (F.col("n1") + F.col("a"))
        / F.nullif(
            F.col("t1") + F.col("atot") - F.col("n1") - F.col("a"), F.lit(0.0)
        )
    ) - F.log(
        (F.col("n0") + F.col("a"))
        / F.nullif(
            F.col("t0") + F.col("atot") - F.col("n0") - F.col("a"), F.lit(0.0)
        )
    )
    return (
        w.select("token", F.round(lo, 6).alias("log_odds_shift"))
        .orderBy(F.abs(F.col("log_odds_shift")).desc(), "token")
        .limit(15)
    )
