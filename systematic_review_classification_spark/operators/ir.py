"""Information-retrieval operators over the document corpus: BM25
ranking, an inverted index, asymmetric containment near-dup,
blocked fuzzy (edit-distance) bibliographic dedup, and a portable
count-min sketch for heavy-hitter counts.

These extend the reference's screening surface (rank documents for a
reviewer query — /root/reference/README.md:1-6; SURVEY.md §2.I) with
the classic IR data structures a 100 TB corpus engine needs. All
shapes are linear or blocked: one explode + hash-agg for the index,
a broadcast scalar join for corpus stats, and candidate-pair joins
only within equality blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from systematic_review_classification_spark.functions.predicates import (
    clean_vec_sql,
    eval_once,
    finite_array,
    overlap_pairs,
)
from systematic_review_classification_spark.functions.ranks import global_prefix_sum, global_rank
from systematic_review_classification_spark.functions.seeded import md5_u32
from systematic_review_classification_spark.functions.shingles import (
    adjacent_pairs,
    bigram_shingles,
    has_bigram,
)
from systematic_review_classification_spark.functions.vectors import dbl, dot, norm
from systematic_review_classification_spark.registry import query
from systematic_review_classification_spark.sources.tables import load

# Query terms for the BM25 / sketch demos — fixed so both engines see
# the same literals (the corpus vocabulary is synthetic Spark jargon).
_QUERY_TERMS = ("spark", "join", "stream", "hash")
_QUERY_TERMS_SQL = ", ".join(f"'{t}'" for t in _QUERY_TERMS)

_BM25_K1 = 1.2
_BM25_B = 0.75


@query(
    "txt_bm25_topk",
    oracle=f"""
WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
  WHERE token IN ({_QUERY_TERMS_SQL})
  GROUP BY doc_id, token),
idf AS (
  SELECT token, ln(1.0 + (s.n_docs - count(DISTINCT doc_id) + 0.5)
                         / (count(DISTINCT doc_id) + 0.5)) AS idf
  FROM tf, stats s GROUP BY token, s.n_docs),
scored AS (
  SELECT tf.doc_id,
         sum(idf.idf * tf.tf * ({_BM25_K1} + 1.0)
             / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * d.dl / s.avgdl))) AS score
  FROM tf JOIN idf USING (token) JOIN d USING (doc_id), stats s
  GROUP BY tf.doc_id)
SELECT doc_id, round(score, 6) AS score
FROM scored ORDER BY round(score, 6) DESC, doc_id LIMIT 20
""",
)
def txt_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 ranking of the corpus against a fixed query — the
    reviewer-facing ranking step of a screening pipeline (the
    reference's rank-then-screen loop, SURVEY.md §2.I).

    Plan shape for 100 TB: one explode filtered to query terms (the
    filter lands BEFORE the aggregate, so the shuffle carries only
    matching postings, not the corpus), a tiny per-term idf table and
    1-row corpus stats both broadcast, and the final top-k is
    orderBy+limit => TakeOrderedAndProject (per-partition partial
    top-k, never a single-reducer global sort). Rank is computed on
    the ROUNDED score with doc_id tie-break so both engines cut the
    same top-20 set."""
    d = load(spark, sf_dir, "documents")
    dl = d.select("doc_id", F.size(F.split("text", " ")).alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token").isin(*_QUERY_TERMS))
        .groupBy("doc_id", "token")
        .count()
        .withColumnRenamed("count", "tf")
    )
    idf = (
        tf.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .join(F.broadcast(stats), how="cross")
        .select(
            "token",
            F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)).alias(
                "idf"
            ),
        )
    )
    k1, b = F.lit(_BM25_K1), F.lit(_BM25_B)
    scored = (
        tf.join(F.broadcast(idf), "token")
        .join(dl, "doc_id")
        .join(F.broadcast(stats), how="cross")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("idf")
                * F.col("tf")
                * (k1 + 1.0)
                / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("score")
        )
    )
    return (
        scored.select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


@query(
    "wl_inverted_index",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
SELECT token,
       count(DISTINCT doc_id) AS df,
       count(*) AS tf_total,
       array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings
FROM tok GROUP BY token
""",
)
def wl_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index: token -> (document frequency, total term
    frequency, sorted posting list). One explode + one hash aggregate
    keyed on token — the shuffle carries (token, doc_id) pairs and the
    posting lists only materialize reduce-side. At 100 TB, postings
    for ultra-common tokens are the skew risk; the production layout
    segments them (posting blocks per token bucket, delta-encoded),
    which changes the sink format, not this plan."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    # Postings emitted as a comma-joined string (the agg_string_agg
    # convention): the external harness canonicalizes results through
    # pandas sort/hash, which cannot handle bare array cells.
    return tok.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df"),
        F.count("*").alias("tf_total"),
        F.array_join(F.sort_array(F.collect_set("doc_id")), ",").alias(
            "postings"
        ),
    )


@query(
    "txt_containment",
    oracle="""
WITH g AS (
  SELECT doc_id, source,
         list_distinct(list_filter(
           list_transform(list_zip(t, list_slice(t, 2, len(t))),
                          p -> CASE WHEN p[2] IS NULL THEN NULL
                                    ELSE p[1] || '_' || p[2] END),
           x -> x IS NOT NULL)) AS grams
  FROM (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents)),
gnz AS (SELECT * FROM g WHERE len(grams) > 0),
pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2,
         CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) / len(a.grams) AS c
  FROM gnz a JOIN gnz b ON a.source = b.source AND a.doc_id <> b.doc_id)
SELECT id1, id2, round(c, 6) AS containment
FROM pairs WHERE c >= 0.25
""",
)
def txt_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle CONTAINMENT near-dup: |A∩B| / |A| over bigram shingle
    sets — the asymmetric cousin of Jaccard that catches a short
    document embedded inside a longer one (quote inclusion, boilerplate
    wrapping), which symmetric Jaccard under-scores. Ordered pairs
    (a consumed-by b ≠ b consumed-by a) within source blocks; at
    100 TB the block key becomes the MinHash band bucket exactly as in
    dedup_minhash_portable."""
    d = load(spark, sf_dir, "documents")
    # single-token docs have NO bigrams; they can neither contain nor be
    # contained, and an unguarded |A∩B|/|A| is an ANSI divide-by-zero
    # (found by tests/test_property.py fuzzing)
    g = d.filter(has_bigram("text")).select(
        "doc_id", "source", bigram_shingles("text").alias("grams")
    )
    # overlap_pairs: a hashed upper bound on |A∩B| filters the block
    # pairs in the join, the string intersect verifies the few
    # survivors (functions/predicates.overlap_pairs). c >= 0.25 as
    # 4·nc >= |A|: the same rational test without a division
    pairs = overlap_pairs(
        g,
        "grams",
        (F.col("a.source") == F.col("b.source"))
        & (F.col("a.doc_id") != F.col("b.doc_id")),
        lambda nc, n1, n2: nc.cast("bigint") * 4 >= n1,
        F.col("a.doc_id").alias("id1"),
        F.col("b.doc_id").alias("id2"),
    )
    c = F.col("nc").cast("double") / F.col("n1")
    return pairs.select("id1", "id2", F.round(c, 6).alias("containment"))


@query(
    "dedup_biblio",
    oracle="""
WITH d AS (
  SELECT doc_id, text, lang, n_chars // 16 AS nb
  FROM documents
  WHERE length(text) = strlen(text) AND length(text) <= 10000)
SELECT a.doc_id AS id1, b.doc_id AS id2, levenshtein(a.text, b.text) AS dist
FROM d a JOIN d b ON a.lang = b.lang AND a.nb = b.nb AND a.doc_id < b.doc_id
                  AND abs(length(a.text) - length(b.text)) <= 64
WHERE levenshtein(a.text, b.text) <= 64
""",
)
def dedup_biblio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bibliographic-record fuzzy dedup: block on (lang, length
    bucket), verify candidates with edit distance — the classic
    citation-dedup step of a systematic-review pipeline (same records
    exported by different databases with small field diffs). Blocking
    keeps the verify quadratic only WITHIN a block; Spark's
    levenshtein(l, r, threshold) abandons a pair early once the
    distance provably exceeds the bound, so cost per surviving pair is
    O(len * threshold), not O(len^2).

    Two round-9 bounds (both mirrored in the oracle, so the compared
    result is identical by construction):
    - record-length cap 10,000 chars: bibliographic records are
      KB-scale; an MB-scale "record" is corrupt input to reject at
      ingest, not to edit-distance-diff (the unthresholded DuckDB
      levenshtein is O(len²) — an MB pair alone blows any wall-clock
      budget, the round-8 30 s-battery timeout);
    - abs(length(a)−length(b)) ≤ 64 join prefilter: implied by
      dist ≤ 64 (levenshtein ≥ |length difference|), so it never
      changes the result — but it skips the verify entirely when the
      length-bucket block is built from a corrupt n_chars column that
      disagrees with the actual text length.

    Scope note: restricted to single-byte (ASCII) texts via
    length = octet_length on BOTH engines, because DuckDB's
    levenshtein counts UTF-8 bytes while Spark counts characters
    (proven divergent in tests/test_edge_values.py) — the filter is
    engine-consistent, the metric beyond it is not."""
    d = (
        load(spark, sf_dir, "documents")
        .filter(
            (F.length("text") == F.octet_length("text"))
            & (F.length("text") <= 10000)
        )
        .select(
            "doc_id", "text", "lang", F.expr("n_chars div 16").alias("nb")
        )
    )
    a, b = d.alias("a"), d.alias("b")
    # eval_once is an optimizer barrier, not math (adds exactly 0):
    # without it the `dist >= 0` filter pushes through the projection
    # into the join residual, where the duplicated levenshtein ran
    # once per raw block pair (ahead of the cheap doc_id/length
    # conjuncts) and again in the output projection — measured 27.2 s
    # vs 12.2 s at sf0.1 (2.2×), identical rows. See
    # functions/predicates.eval_once.
    dist = eval_once(F.levenshtein(F.col("a.text"), F.col("b.text"), 64))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.nb") == F.col("b.nb"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.abs(F.length(F.col("a.text")) - F.length(F.col("b.text")))
                <= 64
            ),
        )
        .select(
            F.col("a.doc_id").alias("id1"),
            F.col("b.doc_id").alias("id2"),
            dist.alias("dist"),
        )
        .filter(F.col("dist") >= 0)  # threshold form returns -1 past 64
    )


@query(
    "agg_cms_portable",
    oracle=f"""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
rb AS (
  SELECT r.i AS di, CAST(CAST(('0x' || substring(md5(CAST(r.i AS VARCHAR) || ':' || token), 1, 8))
                              AS BIGINT) % 32 AS INTEGER) AS bucket
  FROM tok, (SELECT unnest([0, 1, 2, 3]) AS i) r),
sketch AS (SELECT di, bucket, count(*) AS cnt FROM rb GROUP BY di, bucket),
keys AS (SELECT unnest(['spark', 'join', 'stream', 'zzz_absent']) AS key),
kb AS (
  SELECT key, r.i AS di,
         CAST(CAST(('0x' || substring(md5(CAST(r.i AS VARCHAR) || ':' || key), 1, 8))
                   AS BIGINT) % 32 AS INTEGER) AS bucket
  FROM keys, (SELECT unnest([0, 1, 2, 3]) AS i) r),
est AS (
  SELECT key, min(coalesce(s.cnt, 0)) AS est
  FROM kb LEFT JOIN sketch s USING (di, bucket) GROUP BY key),
exact AS (SELECT token AS key, count(*) AS exact FROM tok GROUP BY token)
SELECT e.key, e.est, coalesce(x.exact, 0) AS exact
FROM est e LEFT JOIN exact x USING (key)
""",
)
def agg_cms_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch built from DataFrame primitives: depth 4 ×
    width 32 counters, portable md5-prefix hashing (same rule as
    dedup_minhash_portable — Spark murmur3 and DuckDB's native hash
    differ by construction, md5 arithmetic is bit-equal). The sketch
    IS a groupBy(row, bucket) count, so it builds with map-side
    partial aggregation and merges associatively — the property that
    lets 1000 executors each sketch their shard and a coordinator sum
    the 128 counters. Query side: per-key bucket probe against the
    broadcast sketch, min over rows; `exact` is joined alongside to
    exhibit the one-sided error (est >= exact always, asserted in
    tests/test_invariants.py)."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("token"))

    def _bucket(col):
        return F.posexplode(
            F.array(*[(md5_u32(f"'{i}:'", col) % 32).cast("int") for i in range(4)])
        )

    sketch = (
        tok.select(_bucket("token").alias("di", "bucket"))
        .groupBy("di", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    keys = spark.createDataFrame(
        [("spark",), ("join",), ("stream",), ("zzz_absent",)], "key string"
    )
    kb = keys.select("key", _bucket("key").alias("di", "bucket"))
    est = (
        kb.join(F.broadcast(sketch), ["di", "bucket"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est"))
    )
    exact = tok.groupBy("token").agg(F.count("*").alias("exact"))
    return est.join(
        F.broadcast(exact.withColumnRenamed("token", "key")), "key", "left"
    ).select("key", "est", F.coalesce("exact", F.lit(0)).alias("exact"))


@query(
    "wl_vocab_growth",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
first AS (SELECT token, min(doc_id) // 20 AS first_bin FROM tok GROUP BY token),
newb AS (SELECT first_bin, count(*) AS new_tokens FROM first GROUP BY first_bin),
bins AS (SELECT DISTINCT doc_id // 20 AS bin FROM documents)
SELECT b.bin, CAST(coalesce(n.new_tokens, 0) AS BIGINT) AS new_tokens,
       CAST(sum(coalesce(n.new_tokens, 0)) OVER (ORDER BY b.bin) AS BIGINT) AS vocab_size
FROM bins b LEFT JOIN newb n ON n.first_bin = b.bin
""",
)
def wl_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) curve: distinct tokens seen as
    the corpus grows, per ingestion bin of 20 docs. Running
    "distinct so far" without any stateful scan: each token
    contributes only at its FIRST bin (min(doc_id) per token — one
    hash agg), then a cumulative sum over the BINNED axis. Bins grow
    only as n_docs/20, but at corpus scale even that axis is large,
    so the running total uses the distributed two-pass prefix sum
    (functions/ranks.py) instead of a single-task global window;
    resolution is a knob, not a scale risk."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    first = tok.groupBy("token").agg(
        F.expr("min(doc_id) div 20").alias("first_bin")
    )
    newb = first.groupBy("first_bin").agg(F.count(F.lit(1)).alias("new_tokens"))
    bins = d.select(F.expr("doc_id div 20").alias("bin")).distinct()
    joined = bins.join(
        F.broadcast(newb), bins.bin == newb.first_bin, "left"
    ).select("bin", F.coalesce("new_tokens", F.lit(0)).alias("new_tokens"))
    return global_prefix_sum(
        joined, "new_tokens", F.col("bin"), out_col="vocab_size"
    ).select("bin", "new_tokens", "vocab_size")


_LEXICON = [("fast", 2), ("small", 1), ("scan", 1), ("merge", -1), ("dup", -2)]
_LEXICON_SQL = ", ".join(f"('{w}', {s})" for w, s in _LEXICON)


@query(
    "txt_sentiment_lexicon",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
hits AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits, CAST(sum(wt) AS BIGINT) AS raw
  FROM tok JOIN (VALUES {_LEXICON_SQL}) lex(word, wt) ON token = word
  GROUP BY doc_id),
dl AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents)
SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits, coalesce(h.raw, 0) AS raw,
       round(CAST(coalesce(h.raw, 0) AS DOUBLE) / d.n_tok, 6) AS score
FROM dl d LEFT JOIN hits h USING (doc_id)
""",
)
def txt_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based scoring (the sentiment/toxicity/domain-term
    pattern): token stream equi-joined to a BROADCAST weighted
    lexicon, weights summed per document, normalized by length. The
    lexicon side is always small (10^4-10^6 terms) — broadcast it and
    the corpus never shuffles; the per-doc aggregate combines
    map-side. Swapping in a real sentiment/quality lexicon changes
    the VALUES, not the plan."""
    d = load(spark, sf_dir, "documents")
    lex = spark.createDataFrame(_LEXICON, "word string, wt int")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    hits = (
        tok.join(F.broadcast(lex), tok.token == lex.word)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"), F.sum("wt").cast("bigint").alias("raw"))
    )
    dl = d.select("doc_id", F.size(F.split("text", " ")).alias("n_tok"))
    return dl.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        F.coalesce("raw", F.lit(0)).alias("raw"),
        F.round(F.coalesce("raw", F.lit(0)).cast("double") / F.col("n_tok"), 6).alias(
            "score"
        ),
    )


@query(
    "txt_bigram_lm_score",
    oracle="""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bg AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM tok CROSS JOIN UNNEST(range(1, len(t) + 1)) AS r(i)
  WHERE i + 1 <= len(t)),
uni AS (
  SELECT token AS w1, count(*) AS cu
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) GROUP BY token),
vocab AS (SELECT count(*) AS v FROM uni),
bic AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2),
scored AS (
  SELECT bg.doc_id,
         ln(CAST(bic.cb + 1 AS DOUBLE) / (uni.cu + vocab.v)) AS lp
  FROM bg JOIN bic USING (w1, w2) JOIN uni USING (w1), vocab)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(lp), 6) AS avg_logprob
FROM scored GROUP BY doc_id
""",
)
def txt_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram language-model scoring with add-one
    smoothing: lp(w2|w1) = ln((C(w1,w2)+1) / (C(w1)+V)), averaged per
    document — the KenLM-style perplexity filter of LLM data pipelines
    (low avg log-prob ⇒ gibberish / OCR noise / wrong-language).

    Train and score are the SAME two linear aggregates: bigram counts
    and unigram counts over one pass, then the document bigram stream
    joins the count tables on their keys. No model object, no UDF —
    the 'model' is a relation, which is exactly what makes it
    trainable on 100 TB (counts partial-aggregate map-side; at that
    scale the count join is a shuffle join on w1/w2, with the head of
    the Zipf curve broadcast as a hot-key side table)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    bg = toks.select(
        "doc_id", F.explode(adjacent_pairs("t", "named_struct('w1', a, 'w2', b)")).alias("p")
    ).select("doc_id", "p.w1", "p.w2")
    uni = (
        d.select(F.explode(F.split("text", " ")).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))
    bic = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    scored = (
        bg.join(bic, ["w1", "w2"])
        .join(uni, "w1")
        .join(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log((F.col("cb") + 1).cast("double") / (F.col("cu") + F.col("v"))).alias(
                "lp"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"), F.round(F.avg("lp"), 6).alias("avg_logprob")
    )


@query(
    "sim_sparse_cosine",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(list_filter(
    list_transform(list_zip(t, list_slice(t, 2, len(t))),
                   p -> CASE WHEN p[2] IS NULL THEN NULL
                             ELSE p[1] || '_' || p[2] END),
    x -> x IS NOT NULL)) AS token
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
n_docs AS (SELECT count(DISTINCT doc_id) AS n FROM tok),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
w AS (
  SELECT tf.doc_id, tf.token, tf.tf * ln(CAST(n.n AS DOUBLE) / df.df) AS w
  FROM tf JOIN df USING (token), n_docs n),
nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nn FROM w GROUP BY doc_id),
u AS (SELECT w.doc_id, w.token, w.w / nrm.nn AS u
      FROM w JOIN nrm USING (doc_id) JOIN df USING (token), n_docs n
      WHERE df.df <= 0.05 * n.n AND nrm.nn > 0),
pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, sum(a.u * b.u) AS sim
  FROM u a JOIN u b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT id1, id2, round(sim, 6) AS rare_term_cos
FROM pairs WHERE sim >= 0.1
""",
)
def sim_sparse_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine via the INVERTED INDEX: documents pair
    only through shared bigram shingles (shingle-key equi-join), with the
    posting-list join restricted to discriminative tokens
    (df ≤ 5% of docs) — the cutoff that keeps the pair generation
    sub-quadratic at corpus scale, because a token with df=f emits
    f·(f−1)/2 partials and stop-like tokens would emit ~n². Scores
    are the rare-term partial cosine normalized by FULL TF-IDF norms
    (a lower bound on true cosine — the standard prune-then-verify
    candidate score). The dense counterpart is sim_cosine_topk; this
    is the memory-sparse regime where vectors never materialize."""
    d = load(spark, sf_dir, "documents")
    grams = adjacent_pairs("split(text, ' ')", "concat(a, '_', b)")
    tok = d.select("doc_id", F.explode(grams).alias("token"))
    # tf persisted: three consumers (df aggregate, n_docs, the scored
    # rows) whose pruned exchanges defeat ReuseExchange — the cache is
    # what keeps the corpus from re-exploding per branch.
    tf = (
        tok.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    # df via hash aggregate + token join, NOT a count window over
    # token: a stop-like shingle's window partition lands in ONE task
    # (no partial agg, no AQE skew split) — the r11 de-skew class,
    # same fix as txt_tfidf_topk. The doc norm KEEPS its window: its
    # partition is doc_id, bounded by document length, never by
    # corpus-wide token popularity.
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = tf.agg(F.countDistinct("doc_id").alias("n"))
    w = (
        tf.join(dfreq, "token")
        .join(F.broadcast(n_docs))
        .withColumn("w", F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")))
        .withColumn(
            "nn", F.sqrt(F.sum(F.col("w") * F.col("w")).over(W.partitionBy("doc_id")))
        )
    )
    # a doc whose every shingle is corpus-universal has an all-zero
    # tf-idf vector (ln(n/df)=0 for all) => nn=0; guard the normalize
    u = (
        w.filter((F.col("df") <= 0.05 * F.col("n")) & (F.col("nn") > 0))
        .select("doc_id", "token", (F.col("w") / F.col("nn")).alias("u"))
    )
    a, b = u.alias("a"), u.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .agg(F.sum(F.col("a.u") * F.col("b.u")).alias("sim"))
    )
    return pairs.filter(F.col("sim") >= 0.1).select(
        "id1", "id2", F.round("sim", 6).alias("rare_term_cos")
    )


@query(
    "join_bloom_prefilter",
    oracle="""
WITH dim AS (SELECT DISTINCT o_custkey AS k FROM orders
             WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 200000),
bits AS (
  SELECT DISTINCT CAST(CAST(('0x' || substring(md5(i::VARCHAR || '#' || k::VARCHAR), 1, 8))
                            AS BIGINT) % 1024 AS INTEGER) AS bit
  FROM dim CROSS JOIN (SELECT unnest(range(0, 3)) AS i) h),
probe AS (
  SELECT c_custkey, c_acctbal,
         (SELECT count(*)
          FROM (SELECT unnest(range(0, 3)) AS i) h
          WHERE CAST(CAST(('0x' || substring(md5(i::VARCHAR || '#' || c_custkey::VARCHAR), 1, 8))
                          AS BIGINT) % 1024 AS INTEGER) IN (SELECT bit FROM bits)) AS nhit
  FROM customer),
passed AS (SELECT c_custkey, c_acctbal FROM probe WHERE nhit = 3)
SELECT (SELECT count(*) FROM customer) AS probe_rows,
       (SELECT count(*) FROM passed) AS bloom_pass,
       (SELECT count(*) FROM passed p JOIN dim ON dim.k = p.c_custkey) AS true_match,
       (SELECT count(*) FROM passed p
        WHERE NOT EXISTS (SELECT 1 FROM dim WHERE dim.k = p.c_custkey)) AS false_positives
""",
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning, built portably: the small
    (filtered) dim side hashes each key into k=3 bit positions of a
    1024-bit filter (md5-prefix arithmetic — bit-equal across
    engines); the probe side drops every row missing ANY of its 3
    bits BEFORE the expensive join. Catalyst injects exactly this
    (spark.sql.optimizer.runtime.bloomFilter) when thresholds allow —
    here the mechanism is explicit, so its effect is measurable and
    oracle-checkable: one report row with probe_rows → bloom_pass →
    true_match and the false-positive residue the verify join must
    still remove. The bit set is a broadcast array; the probe is a
    map-side higher-order ALL-bits-present check — no shuffle touches
    the probe side until after pruning."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    dim = (
        o.filter(
            (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 200000)
        )
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )

    def _bits(col):
        return F.array(*[(md5_u32(f"'{i}#'", col) % 1024).cast("int") for i in range(3)])

    bloom = (
        dim.select(F.explode(_bits("k")).alias("bit"))
        .distinct()
        .agg(F.sort_array(F.collect_set("bit")).alias("bits"))
    )
    # membership per hash row (NOT array_intersect, which dedups: a key
    # whose 3 hash rows collide into 2 distinct bits must still pass)
    probe = c.join(F.broadcast(bloom)).select(
        "c_custkey",
        F.size(
            F.filter(
                _bits("c_custkey"),
                lambda b: F.array_contains(F.col("bits"), b),
            )
        ).alias("nhit"),
    )
    passed = probe.filter(F.col("nhit") == 3).select("c_custkey")
    probe_rows = c.agg(F.count(F.lit(1)).alias("probe_rows"))
    bloom_pass = passed.agg(F.count(F.lit(1)).alias("bloom_pass"))
    true_match = (
        passed.join(F.broadcast(dim), passed.c_custkey == dim.k)
        .agg(F.count(F.lit(1)).alias("true_match"))
    )
    false_pos = (
        passed.join(F.broadcast(dim), passed.c_custkey == dim.k, "left_anti")
        .agg(F.count(F.lit(1)).alias("false_positives"))
    )
    return (
        probe_rows.join(F.broadcast(bloom_pass))
        .join(F.broadcast(true_match))
        .join(F.broadcast(false_pos))
    )


@query(
    "txt_bpe_pair_counts",
    oracle="""
WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
wc AS (SELECT word, count(*) AS wn FROM w GROUP BY word),
ch AS (SELECT word, wn, regexp_extract_all(word, '.') AS cs FROM wc),
pr AS (
  SELECT unnest(list_filter(
           list_transform(list_zip(cs, list_slice(cs, 2, len(cs))),
                          p -> CASE WHEN p[2] IS NULL THEN NULL
                                    ELSE p[1] || p[2] END),
           x -> x IS NOT NULL)) AS pair,
         wn
  FROM ch),
agg AS (SELECT pair, CAST(sum(wn) AS BIGINT) AS cnt FROM pr GROUP BY pair)
SELECT pair, cnt FROM agg ORDER BY cnt DESC, pair LIMIT 10
""",
)
def txt_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, round 1: the top-10 adjacent
    symbol-pair counts that the first merge rule would be chosen from.
    The load-bearing scale property of BPE training is here: pair
    counting runs over the DISTINCT VOCABULARY weighted by word
    frequency — the corpus collapses to its vocab (bounded even at
    100 TB) in one hash agg, and all character work happens on that
    small relation. Subsequent merge rounds iterate this exact plan
    with a re-derived symbol list (cf. wl_pagerank3's unrolled-loop
    pattern). Top-10 cut ranks on (count, pair) so both engines pick
    identical merges."""
    d = load(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wn"))
    )
    pairs = adjacent_pairs("split(word, '')", "concat(a, b)")
    pr = wc.select(F.explode(pairs).alias("pair"), "wn")
    return (
        pr.groupBy("pair")
        .agg(F.sum("wn").cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(10)
    )


@query(
    "wl_soft_dedup_sampling",
    oracle="""
WITH cl AS (
  SELECT doc_id, source, md5(text) AS fp,
         count(*) OVER (PARTITION BY md5(text)) AS csize
  FROM documents),
coin AS (
  SELECT doc_id, source, csize,
         (CAST(('0x' || substring(md5('soft:' || CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 1000000) / 1000000.0 AS u
  FROM cl)
SELECT source,
       CAST(count(*) AS BIGINT) AS docs_in,
       CAST(sum(CASE WHEN u < 1.0 / csize THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept
FROM coin GROUP BY source
""",
)
def wl_soft_dedup_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT dedup (duplicate-aware downsampling): instead of hard-
    keeping one copy per duplicate cluster, every copy survives with
    probability 1/cluster_size — expected one survivor per cluster,
    but the survivor choice is uncoordinated: each row flips its OWN
    deterministic md5 coin against its cluster size. This is the
    production middle ground (UniMax/DoReMi-style duplicate
    discounting) when exact dedup is too destructive and cluster
    representatives would bias toward low ids. Cluster sizes come
    from a hash aggregate over fingerprints joined back on the
    fingerprint (map-side partial agg + AQE skew-split on a
    boilerplate mega-cluster) — NOT a count window, which funnels
    every copy of a hot text into one task's buffer (r11 de-skew
    class, same fix as txt_tfidf_topk's df)."""
    base = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "source", F.md5("text").alias("fp"))
        .persist()  # two consumers: cluster-size agg + per-row coin
    )
    # null-SAFE equi-join: NULL text → NULL fp, which the oracle's
    # window groups as one cluster; a plain inner join would drop it
    sizes = base.groupBy("fp").agg(F.count(F.lit(1)).alias("csize"))
    cl = base.join(
        sizes.withColumnRenamed("fp", "_fp"),
        base["fp"].eqNullSafe(F.col("_fp")),
    ).select("doc_id", "source", "csize")
    u = md5_u32("'soft:'", "doc_id") % 1000000 / 1000000.0
    coin = cl.select("source", "csize", u.alias("u"))
    return coin.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs_in"),
        F.sum(F.when(F.col("u") < 1.0 / F.col("csize"), 1).otherwise(0))
        .cast("bigint")
        .alias("docs_kept"),
    )


@query(
    "wl_retrieval_eval",
    oracle=f"""
WITH d AS (SELECT doc_id, text, len(string_split(text, ' ')) AS dl FROM documents),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
  WHERE token IN ({_QUERY_TERMS_SQL})
  GROUP BY doc_id, token),
idf AS (
  SELECT token, ln(1.0 + (s.n_docs - count(DISTINCT doc_id) + 0.5)
                         / (count(DISTINCT doc_id) + 0.5)) AS idf
  FROM tf, stats s GROUP BY token, s.n_docs),
scored AS (
  SELECT tf.doc_id, count(*) AS n_terms,
         sum(idf.idf * tf.tf * ({_BM25_K1} + 1.0)
             / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * d.dl / s.avgdl))) AS score
  FROM tf JOIN idf USING (token) JOIN d USING (doc_id), stats s
  GROUP BY tf.doc_id),
ranked AS (
  SELECT doc_id, CASE WHEN n_terms >= 3 THEN 1 ELSE 0 END AS rel,
         row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rnk
  FROM scored),
m AS (
  SELECT sum(CASE WHEN rnk <= 10 THEN rel ELSE 0 END) AS rel_at_10,
         min(CASE WHEN rel = 1 THEN rnk END) AS first_rel,
         sum(CASE WHEN rnk <= 10 AND rel = 1 THEN 1.0 / ln(1 + rnk) * ln(2.0) END) AS dcg,
         sum(rel) AS n_rel
  FROM ranked),
ideal AS (
  SELECT sum(1.0 / ln(1 + i) * ln(2.0)) AS idcg
  FROM (SELECT unnest(range(1, 11)) AS i), m WHERE i <= least(m.n_rel, 10))
SELECT round(m.rel_at_10 / 10.0, 6) AS p_at_10,
       round(1.0 / m.first_rel, 6) AS mrr,
       round(m.dcg / ideal.idcg, 6) AS ndcg_at_10,
       CAST(m.n_rel AS BIGINT) AS n_relevant
FROM m, ideal
""",
)
def wl_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR evaluation metrics over the BM25 ranking: Precision@10,
    MRR, and binary-gain nDCG@10 against a deterministic relevance
    rule (document matches ≥ 3 distinct query terms) — the metric
    tail every retrieval stack (and the reference's screening
    prioritization) reports. The ranking reuses txt_bm25_topk's exact
    scoring; metrics reduce the ranked relation in one conditional
    aggregate, with IDCG from a bounded rank spine. Ranks cut on the
    rounded score with doc_id tie-break — identical lists, so the
    metric comparison is exact."""
    d = load(spark, sf_dir, "documents")
    dl = d.select("doc_id", F.size(F.split("text", " ")).alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token").isin(*_QUERY_TERMS))
        .groupBy("doc_id", "token")
        .count()
        .withColumnRenamed("count", "tf")
    )
    idf = (
        tf.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .join(F.broadcast(stats), how="cross")
        .select(
            "token",
            F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)).alias("idf"),
        )
    )
    k1, b = F.lit(_BM25_K1), F.lit(_BM25_B)
    scored = (
        tf.join(F.broadcast(idf), "token")
        .join(dl, "doc_id")
        .join(F.broadcast(stats), how="cross")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(
                F.col("idf") * F.col("tf") * (k1 + 1.0)
                / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("score"),
        )
    )
    from systematic_review_classification_spark.functions.ranks import global_rank

    # the MRR term consumes the rank of the FIRST relevant document,
    # which can sit anywhere in the list — so the ranking must be the
    # full global order, and a partition-less row_number would funnel
    # every scored document through one task. Two-pass range rank
    # instead (functions/ranks.py): the only unpartitioned window left
    # is over the bounded per-partition stats relation.
    ranked = global_rank(
        scored.select(
            F.when(F.col("n_terms") >= 3, 1).otherwise(0).alias("rel"),
            F.round("score", 6).alias("s"),
            "doc_id",
        ),
        F.col("s").desc(),
        F.col("doc_id").asc(),
        rank_col="rnk",
    ).select("rel", "rnk")
    m = ranked.agg(
        F.sum(F.when(F.col("rnk") <= 10, F.col("rel")).otherwise(0)).alias("rel_at_10"),
        F.min(F.when(F.col("rel") == 1, F.col("rnk"))).alias("first_rel"),
        F.sum(
            F.when(
                (F.col("rnk") <= 10) & (F.col("rel") == 1),
                1.0 / F.log(1 + F.col("rnk")) * F.log(F.lit(2.0)),
            )
        ).alias("dcg"),
        F.sum("rel").alias("n_rel"),
    )
    spine = spark.range(1, 11).select(F.col("id").alias("i"))
    ideal = (
        spine.join(F.broadcast(m))
        .filter(F.col("i") <= F.least(F.col("n_rel"), F.lit(10)))
        .agg(F.sum(1.0 / F.log(1 + F.col("i")) * F.log(F.lit(2.0))).alias("idcg"))
    )
    return (
        m.join(F.broadcast(ideal))
        .select(
            F.round(F.col("rel_at_10") / 10.0, 6).alias("p_at_10"),
            F.round(1.0 / F.col("first_rel"), 6).alias("mrr"),
            F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg_at_10"),
            F.col("n_rel").cast("bigint").alias("n_relevant"),
        )
    )


@query(
    "wl_postings_delta",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
pl AS (SELECT token, list_sort(list(DISTINCT doc_id)) AS p FROM tok GROUP BY token)
SELECT token,
       CAST(len(p) AS BIGINT) AS df,
       p[1] AS first_doc,
       coalesce(array_to_string(
         list_transform(list_zip(list_slice(p, 2, len(p)), list_slice(p, 1, len(p) - 1)),
                        q -> q[1] - q[2]), ','), '') AS deltas,
       CAST(coalesce(list_max(list_transform(
              list_zip(list_slice(p, 2, len(p)), list_slice(p, 1, len(p) - 1)),
              q -> q[1] - q[2])), 0) AS BIGINT) AS max_gap
FROM pl
""",
)
def wl_postings_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list DELTA ENCODING — the storage layout inverted
    indexes actually ship: doc-id gaps instead of absolute ids, which
    varint/PForDelta then pack into a fraction of the bytes. Computed
    as a row-local zip of the sorted postings with its own shift (no
    extra shuffle beyond wl_inverted_index's build); max_gap is the
    compressibility signal (small uniform gaps ⇒ dense term ⇒ near-
    optimal packing). Reconstruction is the prefix sum — lossless by
    construction."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    pl = tok.groupBy("token").agg(
        F.sort_array(F.collect_set("doc_id")).alias("p")
    )
    deltas = adjacent_pairs("p", "b - a")
    # Deltas emitted comma-joined (the agg_string_agg convention): the
    # external harness canonicalizes via pandas sort/hash, which cannot
    # handle bare array cells — the varint-packable ints live on either
    # side of the string in a real sink.
    return pl.select(
        "token",
        F.size("p").cast("bigint").alias("df"),
        F.element_at("p", 1).alias("first_doc"),
        F.array_join(deltas, ",").alias("deltas"),
        F.coalesce(F.array_max(deltas), F.lit(0)).cast("bigint").alias("max_gap"),
    )


@query(
    "txt_bpe_apply",
    oracle="""
WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
wc AS (SELECT word, count(*) AS wn FROM w GROUP BY word),
ch AS (SELECT word, wn, regexp_extract_all(word, '.') AS cs FROM wc),
pr AS (
  SELECT unnest(list_filter(
           list_transform(list_zip(cs, list_slice(cs, 2, len(cs))),
                          p -> CASE WHEN p[2] IS NULL THEN NULL
                                    ELSE p[1] || p[2] END),
           x -> x IS NOT NULL)) AS pair,
         wn
  FROM ch),
rule AS (
  SELECT pair FROM (
    SELECT pair, CAST(sum(wn) AS BIGINT) AS cnt FROM pr GROUP BY pair)
  ORDER BY cnt DESC, pair LIMIT 1)
SELECT wc.word, CAST(wc.wn AS BIGINT) AS wn, rule.pair AS merge_rule,
       replace(wc.word, rule.pair, chr(167)) AS merged,
       CAST(length(wc.word) - length(replace(wc.word, rule.pair, chr(167)))
            AS BIGINT) AS n_merges
FROM wc, rule
""",
)
def txt_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE round 1 APPLIED: the winning merge rule (data-dependent —
    joined in as a broadcast 1-row relation, never collected) is
    applied to every vocabulary word. The subtle part is free: BPE
    merges left-to-right without overlap, and for character symbols
    that is EXACTLY SQL replace() semantics ('aaa' under rule 'aa' →
    '§a', one merge), so no per-symbol fold machinery is needed for
    the first round; later rounds (multi-char symbols) switch to the
    delimiter-separated symbol string and the same replace. Per-word
    merge counts fall out of the length delta. Still vocabulary-
    scaled: the corpus is touched once for counts, never re-tokenized
    row by row."""
    d = load(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wn"))
    )
    pairs = adjacent_pairs("split(word, '')", "concat(a, b)")
    rule = (
        wc.select(F.explode(pairs).alias("pair"), "wn")
        .groupBy("pair")
        .agg(F.sum("wn").cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(1)
        .select("pair")
    )
    merged = F.replace(F.col("word"), F.col("pair"), F.lit("§"))
    return wc.join(F.broadcast(rule)).select(
        "word",
        F.col("wn").cast("bigint").alias("wn"),
        F.col("pair").alias("merge_rule"),
        merged.alias("merged"),
        (F.length("word") - F.length(merged)).cast("bigint").alias("n_merges"),
    )


@query(
    "sim_hybrid_rrf",
    oracle=f"""
WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
  WHERE token IN ({_QUERY_TERMS_SQL})
  GROUP BY doc_id, token),
idf AS (
  SELECT token, ln(1.0 + (s.n_docs - count(DISTINCT doc_id) + 0.5)
                         / (count(DISTINCT doc_id) + 0.5)) AS idf
  FROM tf, stats s GROUP BY token, s.n_docs),
bm AS (
  SELECT tf.doc_id,
         sum(idf.idf * tf.tf * ({_BM25_K1} + 1.0)
             / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * d.dl / s.avgdl))) AS s
  FROM tf JOIN idf USING (token) JOIN d USING (doc_id), stats s
  GROUP BY tf.doc_id),
bmr AS (SELECT doc_id, row_number() OVER (ORDER BY round(s, 6) DESC, doc_id) AS r
        FROM bm),
e AS (SELECT * FROM (
       SELECT vec_id, embedding::DOUBLE[] AS v,
              sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                               (a, b) -> a + b)) AS nn
       FROM embeddings WHERE {clean_vec_sql("embedding")}) WHERE nn > 0),
qv AS (SELECT v AS q, nn AS qn FROM e WHERE vec_id = 0),
es AS (
  SELECT e.vec_id AS doc_id,
         round(list_reduce(list_transform(list_zip(e.v, qv.q), p -> p[1] * p[2]),
                           (a, b) -> a + b)
               / (e.nn * qv.qn), 6) AS cos
  FROM e, qv WHERE e.vec_id <> 0 AND len(e.v) = len(qv.q)),
esr AS (SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS r FROM es),
fused AS (
  SELECT coalesce(b.doc_id, v.doc_id) AS doc_id,
         round(coalesce(1.0 / (60 + b.r), 0) + coalesce(1.0 / (60 + v.r), 0), 6) AS rrf
  FROM bmr b FULL OUTER JOIN esr v ON b.doc_id = v.doc_id)
SELECT doc_id, rrf FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
""",
)
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval via Reciprocal Rank Fusion: the lexical
    ranking (txt_bm25_topk's scorer) and the dense ranking (cosine to
    a query vector) fused as Σ 1/(60 + rank) — the score-free
    combination modern search stacks use because BM25 and cosine live
    on incomparable scales. Rankings cut on rounded scores with id
    tie-breaks (identical lists both engines), the fusion is a
    full-outer join on doc id (a doc ranked by only one system still
    scores), and the top-10 is TakeOrdered. The doc↔vector pairing is
    the fixture's id alignment — in production it is the document
    key both stores share."""
    d = load(spark, sf_dir, "documents")
    dl = d.select("doc_id", F.size(F.split("text", " ")).alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token").isin(*_QUERY_TERMS))
        .groupBy("doc_id", "token")
        .count()
        .withColumnRenamed("count", "tf")
    )
    idf = (
        tf.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .join(F.broadcast(stats), how="cross")
        .select(
            "token",
            F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)).alias("idf"),
        )
    )
    k1, b = F.lit(_BM25_K1), F.lit(_BM25_B)
    bm = (
        tf.join(F.broadcast(idf), "token")
        .join(dl, "doc_id")
        .join(F.broadcast(stats), how="cross")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("idf") * F.col("tf") * (k1 + 1.0)
                / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("s")
        )
    )
    # two-pass range rank: the lexical candidate set is bounded only by
    # query-term selectivity — at corpus scale an unpartitioned
    # row_number is a single-task sort.
    bmr = global_rank(
        bm, F.round("s", 6).desc(), F.col("doc_id"), rank_col="r"
    ).select("doc_id", "r")
    # clean vectors only (ragged-vector world r9): a NaN norm passes
    # bare > 0 under NaN-is-greatest and ranks divergently; empty
    # arrays error DuckDB's list_reduce; dims must match the query's
    e = load(spark, sf_dir, "embeddings").filter(finite_array("embedding")).select(
        "vec_id", dbl("embedding").alias("v")
    )
    # zero-norm vectors excluded on both engines (undefined cosine;
    # ANSI division would abort the job)
    e = e.withColumn("nn", norm("v")).filter(F.col("nn") > 0)
    qv = e.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("q"), F.col("nn").alias("qn")
    )
    es = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .filter(F.size("v") == F.size("q"))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(dot("v", "q") / (F.col("nn") * F.col("qn")), 6).alias("cos"),
        )
    )
    esr = global_rank(
        es, F.col("cos").desc(), F.col("doc_id"), rank_col="r"
    ).select("doc_id", "r")
    fused = (
        bmr.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("r", "br")
        .join(
            esr.withColumnRenamed("doc_id", "v_id").withColumnRenamed("r", "vr"),
            F.col("b_id") == F.col("v_id"),
            "full_outer",
        )
        .select(
            F.coalesce("b_id", "v_id").alias("doc_id"),
            F.round(
                F.coalesce(1.0 / (60 + F.col("br")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("vr")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(10)


@query(
    "wl_rank_correlation",
    oracle=f"""
WITH d AS (SELECT doc_id, text, len(string_split(text, ' ')) AS dl FROM documents),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
  WHERE token IN ({_QUERY_TERMS_SQL})
  GROUP BY doc_id, token),
idf AS (
  SELECT token, ln(1.0 + (s.n_docs - count(DISTINCT doc_id) + 0.5)
                         / (count(DISTINCT doc_id) + 0.5)) AS idf
  FROM tf, stats s GROUP BY token, s.n_docs),
scores AS (
  SELECT tf.doc_id,
         sum(idf.idf * tf.tf * ({_BM25_K1} + 1.0)
             / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * d.dl / s.avgdl))) AS bm25,
         sum(idf.idf * tf.tf) AS tfidf
  FROM tf JOIN idf USING (token) JOIN d USING (doc_id), stats s
  GROUP BY tf.doc_id),
ranked AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY round(bm25, 6) DESC, doc_id) AS DOUBLE) AS r1,
         CAST(row_number() OVER (ORDER BY round(tfidf, 6) DESC, doc_id) AS DOUBLE) AS r2
  FROM scores)
SELECT CAST(count(*) AS BIGINT) AS n,
       round(1.0 - 6.0 * sum((r1 - r2) * (r1 - r2))
                   / nullif(count(*) * (count(*) * count(*) - 1.0), 0), 6)
         AS spearman_rho
FROM ranked
""",
)
def wl_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between two retrieval scorers (BM25
    vs raw TF-IDF over the same query) — the system-comparison number
    IR papers report before claiming a reranker helps: ρ = 1 − 6Σd²/
    n(n²−1) over the paired ranks. Both scorers come from the ONE
    postings aggregate (two sum expressions, not two pipelines); ranks
    cut on rounded scores with id tie-breaks so the paired lists are
    identical cross-engine and the ρ comparison is exact. Windows are
    global for oracle parity (bounded: only docs matching query
    terms)."""
    d = load(spark, sf_dir, "documents")
    dl = d.select("doc_id", F.size(F.split("text", " ")).alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token").isin(*_QUERY_TERMS))
        .groupBy("doc_id", "token")
        .count()
        .withColumnRenamed("count", "tf")
    )
    idf = (
        tf.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .join(F.broadcast(stats), how="cross")
        .select(
            "token",
            F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)).alias("idf"),
        )
    )
    k1, b = F.lit(_BM25_K1), F.lit(_BM25_B)
    scores = (
        tf.join(F.broadcast(idf), "token")
        .join(dl, "doc_id")
        .join(F.broadcast(stats), how="cross")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("idf") * F.col("tf") * (k1 + 1.0)
                / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("bm25"),
            F.sum(F.col("idf") * F.col("tf")).alias("tfidf"),
        )
    )
    # two-pass range ranks, one per ordering (docs scale with data — an
    # unpartitioned row_number would collapse the corpus into one task);
    # the doc_id equi-join re-pairs the two rank columns.
    r1 = global_rank(
        scores, F.round("bm25", 6).desc(), F.col("doc_id"), rank_col="r1"
    ).select("doc_id", F.col("r1").cast("double").alias("r1"))
    r2 = global_rank(
        scores, F.round("tfidf", 6).desc(), F.col("doc_id"), rank_col="r2"
    ).select("doc_id", F.col("r2").cast("double").alias("r2"))
    ranked = r1.join(r2, "doc_id")
    n = F.count(F.lit(1))
    # a 0- or 1-doc ranking has no rank variance: n(n²-1) = 0 and ρ is
    # undefined — NULL via nullif on both engines, never DIVIDE_BY_ZERO
    return ranked.agg(
        n.cast("bigint").alias("n"),
        F.round(
            1.0
            - 6.0
            * F.sum((F.col("r1") - F.col("r2")) * (F.col("r1") - F.col("r2")))
            / F.nullif(n * (n * n - 1.0), F.lit(0.0)),
            6,
        ).alias("spearman_rho"),
    )


@query(
    "txt_heaps_fit",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
first AS (SELECT token, min(doc_id) // 20 AS first_bin FROM tok GROUP BY token),
newb AS (SELECT first_bin, count(*) AS new_tokens FROM first GROUP BY first_bin),
toks_per_bin AS (
  SELECT doc_id // 20 AS bin, count(*) AS n_tok FROM tok GROUP BY 1),
curve AS (
  SELECT t.bin,
         sum(t.n_tok) OVER (ORDER BY t.bin) AS cum_tokens,
         sum(coalesce(n.new_tokens, 0)) OVER (ORDER BY t.bin) AS vocab
  FROM toks_per_bin t LEFT JOIN newb n ON n.first_bin = t.bin)
SELECT CAST(count(*) AS BIGINT) AS n_points,
       round(regr_slope(ln(CAST(vocab AS DOUBLE)),
                        ln(CAST(cum_tokens AS DOUBLE))), 6) + 0.0 AS heaps_beta,
       round(exp(regr_intercept(ln(CAST(vocab AS DOUBLE)),
                                ln(CAST(cum_tokens AS DOUBLE)))), 6) AS heaps_k
FROM curve
""",
)
def txt_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAPS'-LAW fit: V = K·Nᵝ estimated by ln-ln OLS over the
    vocabulary-growth curve — wl_vocab_growth plots the curve, this
    extracts (K, β), and β directly answers the scaling question
    Chao1 (txt_chao1_richness) answers statically: how fast new
    types keep arriving as tokens accumulate (β ≈ 0.4–0.6 for
    natural text; the synthetic jargon corpus sits lower). Both
    running axes are the bounded 20-doc bins; the regression is the
    REGR_* moment state."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    first = tok.groupBy("token").agg(F.expr("min(doc_id) div 20").alias("first_bin"))
    newb = first.groupBy("first_bin").agg(F.count(F.lit(1)).alias("new_tokens"))
    tpb = tok.groupBy(F.expr("doc_id div 20").alias("bin")).agg(
        F.count(F.lit(1)).alias("n_tok")
    )
    # the bin axis is corpus-size/20 — it SCALES with the data, so the
    # two running sums ride the two-pass range prefix sum
    # (functions/ranks.py), never a partition-less window
    from systematic_review_classification_spark.functions.ranks import (
        global_prefix_sum,
    )

    # newb is O(bins) too — join it key-on-key (AQE picks the
    # strategy) rather than forcing a broadcast of a data-scaled side
    binned = tpb.join(newb, tpb.bin == newb.first_bin, "left").select(
        "bin",
        "n_tok",
        F.coalesce("new_tokens", F.lit(0)).alias("nt"),
    )
    curve = global_prefix_sum(
        global_prefix_sum(binned, "n_tok", F.col("bin").asc(), out_col="cum_tokens"),
        "nt",
        F.col("bin").asc(),
        out_col="vocab",
    ).select("cum_tokens", "vocab")
    lnv = F.log(F.col("vocab").cast("double"))
    lnt = F.log(F.col("cum_tokens").cast("double"))
    return curve.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        (F.round(F.regr_slope(lnv, lnt), 6) + 0.0).alias("heaps_beta"),
        F.round(F.exp(F.regr_intercept(lnv, lnt)), 6).alias("heaps_k"),
    )


@query(
    "txt_novelty_rate",
    oracle="""
WITH bg AS (
  SELECT doc_id, doc_id // 20 AS bin,
         unnest(list_filter(
           list_transform(list_zip(t, list_slice(t, 2, len(t))),
                          p -> CASE WHEN p[2] IS NULL THEN NULL
                                    ELSE p[1] || '_' || p[2] END),
           x -> x IS NOT NULL)) AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
first AS (SELECT gram, min(bin) AS first_bin FROM bg GROUP BY gram),
tagged AS (
  SELECT bg.bin,
         CASE WHEN f.first_bin = bg.bin THEN 1 ELSE 0 END AS is_new
  FROM bg JOIN first f ON f.gram = bg.gram)
SELECT bin, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(is_new) AS BIGINT) AS novel_occurrences,
       round(CAST(sum(is_new) AS DOUBLE) / count(*), 6) AS novelty_rate
FROM tagged GROUP BY bin
""",
)
def txt_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOVELTY RATE per ingestion bin: the share of bigram occurrences
    whose TYPE first appears in that bin — the curation signal behind
    novelty-weighted data sampling (a feed whose novelty collapses is
    re-serving old content; cf. wl_vocab_growth for types and
    txt_heaps_fit for the trend). First-appearance attributes via one
    min-bin aggregate joined back on the gram key — the shuffle
    carries gram fingerprints, and the bin axis stays bounded."""
    d = load(spark, sf_dir, "documents")
    grams = adjacent_pairs("split(text, ' ')", "concat(a, '_', b)")
    bg = d.select(
        F.expr("doc_id div 20").alias("bin"), F.explode(grams).alias("gram")
    )
    first = bg.groupBy("gram").agg(F.min("bin").alias("first_bin"))
    tagged = bg.join(first, "gram").select(
        "bin", F.when(F.col("first_bin") == F.col("bin"), 1).otherwise(0).alias("is_new")
    )
    return tagged.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum("is_new").cast("bigint").alias("novel_occurrences"),
        F.round(F.sum("is_new").cast("double") / F.count(F.lit(1)), 6).alias(
            "novelty_rate"
        ),
    )
