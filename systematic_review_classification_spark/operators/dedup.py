"""Category J (dedup half) — deduplication operators (SURVEY.md §2.J).

Tiered the way an LLM-data pipeline dedups at 100 TB:

1. exact      — fingerprint hash + one groupBy. Linear, one shuffle
                (dedup_exact).
2. near/exact — token-set / shingle Jaccard and embedding cosine, but
                ONLY on blocked candidate pairs (source block here; at
                scale: LSH buckets / IVF cells). Never an unblocked
                O(n²) pairwise pass (dedup_near_jaccard,
                dedup_ngram_jaccard, dedup_embed_cos).
3. signatures — linear sketches: 16/64-bit SimHash (dedup_simhash,
                dedup_simhash64) — one explode + two hash aggregates.
4. LSH        — sub-quadratic candidate generation + exact verify:
                simhash band bucketing (dedup_simhash_band), MLlib
                MinHashLSH (dedup_minhash, rows-only), the
                fully-oracled from-scratch portable MinHash
                (dedup_minhash_portable), and its linear-output
                star-edge form (dedup_minhash_canonical — the variant
                whose cost does not grow with duplicate-cluster size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from systematic_review_classification_spark.functions.predicates import (
    clean_vec_sql,
    eval_once,
    finite_array,
    hashed_sets,
    jaccard_ge,
    overlap_pairs,
)
from systematic_review_classification_spark.functions.shingles import bigram_shingles, has_bigram
from systematic_review_classification_spark.functions.vectors import dbl, dot, norm
from systematic_review_classification_spark.registry import query
from systematic_review_classification_spark.sources.tables import load


@query(
    "dedup_exact",
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
)
SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
FROM corpus GROUP BY md5(text)
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content fingerprint, keep-lowest-id. The corpus
    is the documents table unioned with a shifted copy of every third
    doc, so real duplicates exist and are provably collapsed."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    dup = (
        d.filter(F.col("doc_id") % 3 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    corpus = d.unionByName(dup)
    return corpus.groupBy(F.md5("text").alias("fp")).agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


@query(
    "dedup_near_jaccard",
    oracle="""
WITH t AS (SELECT doc_id, source,
                  list_sort(list_distinct(string_split(text, ' '))) AS toks
           FROM documents),
pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
                 len(list_intersect(a.toks, b.toks)) AS n_common,
                 len(a.toks) AS n1, len(b.toks) AS n2
          FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id)
SELECT id1, id2,
       round(CAST(n_common AS DOUBLE) / (n1 + n2 - n_common), 6) AS jaccard
FROM pairs
WHERE CAST(n_common AS DOUBLE) / (n1 + n2 - n_common) >= 0.62
""",
)
def dedup_near_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection via token-set Jaccard on blocked pairs.
    Blocking key = source (the generic pattern: any cheap equality
    block — at 100 TB an LSH band hash). Jaccard is integer-ratio
    arithmetic, so both engines divide identical values."""
    # hashed_sets: token-set intersects run on bigint arrays when the
    # runtime injectivity guard passes — value-identical, 2.5× cheaper
    # per pair, and the blocked self-join shuffles longs, not strings
    # (see functions/predicates.hashed_sets; per-site A/B in
    # OPTIMIZATION_r12.md)
    t = hashed_sets(
        load(spark, sf_dir, "documents").select(
            "doc_id", "source", F.array_distinct(F.split(F.col("text"), " ")).alias("toks")
        ),
        "toks",
    )
    a, b = t.alias("a"), t.alias("b")
    pairs = a.join(
        b,
        (F.col("a.source") == F.col("b.source")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("id1"),
        F.col("b.doc_id").alias("id2"),
        # eval_once pins the intersect to ONE evaluation: without it
        # the jaccard threshold filter pushes through this projection
        # into the join residual and the intersect re-runs per candidate
        # (see functions/predicates.eval_once; measured per key, r11)
        eval_once(F.size(F.array_intersect("a.toks", "b.toks"))).alias("n_common"),
        F.size("a.toks").alias("n1"),
        F.size("b.toks").alias("n2"),
    )
    jac = F.col("n_common").cast("double") / (F.col("n1") + F.col("n2") - F.col("n_common"))
    # threshold as jaccard_ge (0.62 = 31/50): the division form pushed
    # into the join residual evaluates array_intersect twice per
    # candidate pair (no CSE there) — measured 1.7× slower (r11)
    return pairs.filter(
        jaccard_ge(F.col("n_common"), F.col("n1") + F.col("n2"), 31, 50)
    ).select("id1", "id2", F.round(jac, 6).alias("jaccard"))


@query("dedup_minhash")  # rows-only: LSH banding layout is engine-specific
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup at scale: CountVectorizer(binary) →
    MinHashLSH(seeded) → approxSimilarityJoin. Sub-quadratic candidate
    generation — the only near-dedup shape that survives 100 TB.
    Local tests assert the candidate set covers exact duplicates."""
    from pyspark.ml.feature import CountVectorizer, MinHashLSH, RegexTokenizer

    # NULL text cannot be tokenized (RegexTokenizer's Scala UDF NPEs)
    # and an empty token set has no MinHash. A plain
    # .filter(text.isNotNull()) is NOT enough: Catalyst freely
    # reorders conjunctive predicates, and the downstream
    # empty-token-set filter inlines the tokenizer UDF into a scan
    # predicate that can run BEFORE the null filter (combo-world
    # catch; same class as sim_ann_lsh's pushed-down hash UDF). The
    # NPE-proof form substitutes the sentinel INSIDE the expression —
    # coalesce to '' so the UDF is total, and '' tokenizes to [] which
    # the token-count filter already excludes.
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    from pyspark.ml.functions import array_to_vector

    toks = RegexTokenizer(inputCol="text", outputCol="toks", pattern="\\s+").transform(d)
    cv = CountVectorizer(inputCol="toks", outputCol="vec", binary=True, minDF=1.0).fit(toks)
    # An empty token set has no MinHash ('Must have at least 1 non
    # zero entry') and a plain filter between transform and join is
    # NOT enough either: approxSimilarityJoin's hash UDF gets
    # evaluated ahead of the filter once Catalyst collapses the
    # stages (combo-world catch, second site of the sim_ann_lsh
    # class). Sentinel INSIDE the expression: empty vectors are
    # replaced by a fixed one-hot basis vector so the LSH UDF is
    # total, and sentinel rows are dropped from the OUTPUT by the
    # _ok flag on both join sides.
    n_vocab = max(len(cv.vocabulary), 1)
    basis = array_to_vector(
        F.concat(F.array(F.lit(1.0)), F.array_repeat(F.lit(0.0), n_vocab - 1))
    )
    ok = F.size("toks") > 0
    raw = cv.transform(toks)
    vecs = raw.withColumn("_ok", ok).withColumn(
        "vec", F.when(F.col("_ok"), F.col("vec")).otherwise(basis)
    )
    # fit on the UNsubstituted column: the when() substitution strips
    # CountVectorizer's ML-attribute metadata, and without it
    # MinHashLSH.fit falls back to head() to learn the input dim —
    # 'head of empty array' on an empty corpus (the metadata path
    # needs no rows). The model itself is data-independent (seeded
    # random hash coefficients), so fitting on raw changes nothing.
    mh = MinHashLSH(inputCol="vec", outputCol="sig", numHashTables=8, seed=42).fit(raw)
    pairs = mh.approxSimilarityJoin(vecs, vecs, 0.3, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA._ok") & F.col("datasetB._ok"))
        .select(
            F.col("datasetA.doc_id").alias("id1"),
            F.col("datasetB.doc_id").alias("id2"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
        .filter(F.col("id1") < F.col("id2"))
    )


@query(
    "dedup_simhash",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
             FROM documents),
b AS (
  SELECT doc_id, pos,
         CASE WHEN sum(CASE WHEN (strpos('0123456789abcdef',
                                          substring(md5(token), pos, 1)) - 1) % 2 = 1
                            THEN 1 ELSE -1 END) >= 0
              THEN 1 ELSE 0 END AS bit
  FROM tok CROSS JOIN (SELECT unnest(range(1, 17)) AS pos) AS p
  GROUP BY doc_id, pos)
SELECT doc_id,
       CAST(sum(bit * CAST(power(2, pos - 1) AS BIGINT)) AS BIGINT) AS simhash
FROM b GROUP BY doc_id
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document signatures (16-bit here; 64-bit is the same
    plan wider): per distinct token take md5-derived bit votes, sign of
    the per-position vote is the signature bit. One explode + two hash
    aggregates - linear, shuffle-partitioned by doc, no pairwise work.
    Near-dup candidates then hamming-band on the signature."""
    d = load(spark, sf_dir, "documents")
    # all 16 per-bit vote sums as aggregate expressions in ONE
    # groupBy(doc_id) — no ×16 vote explode through the shuffle; same
    # fused shape and integer math as _simhash64_sigs (r12, measured
    # there 5.5 → 1.2 s; the oracle keeps the exploded CTE)
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("token")
    ).select("doc_id", F.md5("token").alias("h"))
    votes = [
        F.sum(
            F.expr(
                f"CASE WHEN (instr('0123456789abcdef', substring(h, {pos}, 1)) - 1) % 2 = 1"
                " THEN 1 ELSE -1 END"
            )
        ).alias(f"v{pos}")
        for pos in range(1, 17)
    ]
    sig = F.expr(
        "CAST("
        + " + ".join(f"CAST(v{pos} >= 0 AS BIGINT) * {2 ** (pos - 1)}" for pos in range(1, 17))
        + " AS BIGINT)"
    )
    return (
        tok.groupBy("doc_id").agg(*votes).select("doc_id", sig.alias("simhash"))
    )


# 64-bit simhash signature as a DuckDB CTE ending in relation
# sigs(doc_id, simhash64) — shared by the signature and banding oracles.
_SIMHASH64_SQL = """
tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents),
v AS (
  SELECT doc_id, nib, bio,
         CASE WHEN sum(CASE WHEN ((strpos('0123456789abcdef',
                                          substring(md5(token), nib + 1, 1)) - 1)
                                  // CAST(power(2, bio) AS INTEGER)) % 2 = 1
                            THEN 1 ELSE -1 END) >= 0
              THEN 1 ELSE 0 END AS bit
  FROM tok
  CROSS JOIN (SELECT unnest(range(0, 16)) AS nib) n
  CROSS JOIN (SELECT unnest(range(0, 4)) AS bio) b
  GROUP BY doc_id, nib, bio),
nibs AS (
  SELECT doc_id, nib,
         CAST(sum(bit * CAST(power(2, bio) AS INTEGER)) AS INTEGER) AS nv
  FROM v GROUP BY doc_id, nib),
sigs AS (
  SELECT doc_id,
         string_agg(substring('0123456789abcdef', nv + 1, 1), '' ORDER BY nib)
           AS simhash64
  FROM nibs GROUP BY doc_id)
"""


def _simhash64_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash64 hex string) — see dedup_simhash64.

    Scale shape (r12): all 64 per-bit vote sums are aggregate
    expressions in ONE groupBy(doc_id) over the token relation — the
    same discipline as ``_minhash_bands``. The previous form exploded
    every token ×64 positions (a 64×-inflated vote stream through the
    first shuffle: 7.4 M rows at sf0.1) and then re-aggregated twice
    more (doc×pos, doc×nib); with partial (map-side) aggregation the
    fused form shuffles ≤ one 64-column row per doc per map partition
    and needs ONE exchange. Measured 5.5 → 1.2 s noop at sf0.1 —
    which was the entire dominant stage of dedup_simhash_band. Vote
    sums, sign bits and nibble packing are integer math identical to
    the exploded form (the oracle keeps the exploded CTE; results
    hash-match)."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("token")
    ).select("doc_id", F.md5("token").alias("h"))
    # vote(pos) = +1 iff bit `pos%4` of hex nibble `pos//4` of md5(token)
    votes = [
        F.sum(
            F.expr(
                f"CASE WHEN ((instr('0123456789abcdef', substring(h, {pos // 4 + 1}, 1)) - 1)"
                f" div {2 ** (pos % 4)}) % 2 = 1 THEN 1 ELSE -1 END"
            )
        ).alias(f"v{pos}")
        for pos in range(64)
    ]
    sigw = tok.groupBy("doc_id").agg(*votes)
    nib_chars = [
        F.expr(
            "substring('0123456789abcdef', ("
            + " + ".join(
                f"CAST(v{4 * nib + bio} >= 0 AS INT) * {2 ** bio}"
                for bio in range(4)
            )
            + ") + 1, 1)"
        )
        for nib in range(16)
    ]
    return sigw.select("doc_id", F.concat(*nib_chars).alias("simhash64"))


@query("dedup_simhash64", oracle=f"WITH {_SIMHASH64_SQL} SELECT * FROM sigs")
def dedup_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-width 64-bit SimHash: all 64 bits of the md5-derived
    token hash vote (the 16-bit dedup_simhash is the teaching version).
    Same linear plan — one token explode + two hash aggregates, no
    pairwise work. The signature is emitted as a 16-hex-char string
    because a packed int64 either overflows the signed top bit or loses
    exactness through double-typed pow; the hex form is exact, hashable,
    and bands directly into 4-char hamming blocks."""
    return _simhash64_sigs(spark, sf_dir)


# popcount of nibble value v = digit at index v+1 (portable across
# engines — integer bit_count widths differ)
_POPCOUNT_NIBBLE = "0112122312232334"


@query(
    "dedup_simhash_band",
    oracle=f"""
WITH {_SIMHASH64_SQL},
bands AS (
  SELECT doc_id, simhash64, band,
         substring(simhash64, band * 8 + 1, 8) AS bv
  FROM sigs CROSS JOIN (SELECT unnest(range(0, 2)) AS band) AS bb),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
         a.simhash64 AS s1, b.simhash64 AS s2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
scored AS (
  SELECT id1, id2,
         list_reduce(
           list_transform(
             list_zip(string_split(s1, ''), string_split(s2, '')),
             p -> CAST(substring('{_POPCOUNT_NIBBLE}',
                    xor(strpos('0123456789abcdef', p[1]) - 1,
                        strpos('0123456789abcdef', p[2]) - 1) + 1, 1) AS INTEGER)),
           (x, y) -> x + y) AS hamming
  FROM cand)
SELECT id1, id2, hamming FROM scored WHERE hamming <= 6
""",
)
def dedup_simhash_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash LSH banding — the sub-quadratic candidate step that
    makes simhash a 100 TB dedup: split the 64-bit signature into 2
    32-bit bands, bucket-join on (band, value) so only docs sharing an
    identical band ever pair (pigeonhole: any pair within hamming
    distance 1 shares a band; wider bands = fewer false candidates,
    tuned so the template-similar fixture corpus stays sub-quadratic),
    then verify candidates with the exact
    hamming distance (per-nibble XOR popcount via lookup string, a JVM
    lambda chain). Work is O(n·bands + collisions), never O(n²)."""
    sig = _simhash64_sigs(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        "simhash64",
        F.posexplode(
            F.array(*[F.substring("simhash64", i * 8 + 1, 8) for i in range(2)])
        ).alias("band", "bv"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id1"),
            F.col("b.doc_id").alias("id2"),
            F.col("a.simhash64").alias("s1"),
            F.col("b.simhash64").alias("s2"),
        )
        .distinct()
    )
    # hamming as bit_count(xor) over the two 32-bit halves parsed from
    # hex — 4 integer ops per pair instead of the 16-step
    # zip_with/instr/substring lambda chain (r11: 8.6 → 6.6 s at
    # sf0.1, 0 value mismatches over every candidate pair). The
    # nibble-lookup form stays in the ORACLE (DuckDB has no conv);
    # equivalence: md5 hex is lowercase [0-9a-f], each 8-char half ≤
    # 2³²−1 parses exactly into a bigint, and summing per-nibble XOR
    # popcounts IS bit_count of the XORed halves.
    hamming = F.expr(
        "CAST(bit_count(CAST(conv(substring(s1, 1, 8), 16, 10) AS BIGINT)"
        "             ^ CAST(conv(substring(s2, 1, 8), 16, 10) AS BIGINT))"
        "   + bit_count(CAST(conv(substring(s1, 9, 8), 16, 10) AS BIGINT)"
        "             ^ CAST(conv(substring(s2, 9, 8), 16, 10) AS BIGINT)) AS INT)"
    )
    return (
        cand.select("id1", "id2", hamming.alias("hamming"))
        .filter(F.col("hamming") <= 6)
    )


@query(
    "dedup_ngram_jaccard",
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
         len(list_intersect(a.grams, b.grams)) AS nc,
         len(a.grams) AS n1, len(b.grams) AS n2
  FROM gnz a JOIN gnz b ON a.source = b.source AND a.doc_id < b.doc_id)
SELECT id1, id2, round(CAST(nc AS DOUBLE) / (n1 + n2 - nc), 6) AS jaccard
FROM pairs WHERE CAST(nc AS DOUBLE) / (n1 + n2 - nc) >= 0.08
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram (bigram shingle) Jaccard near-dup on blocked pairs -
    shingles catch reordered-token near-dups that token-set Jaccard
    misses. Same integer-ratio arithmetic, same blocking discipline."""
    d = load(spark, sf_dir, "documents")
    # two bigram-less docs would make the union size 0 — an ANSI
    # divide-by-zero under the Jaccard ratio (test_property.py class)
    g = d.filter(has_bigram("text")).select(
        "doc_id", "source", bigram_shingles("text").alias("grams")
    )
    # overlap_pairs: a hashed upper bound on |A∩B| filters the block
    # pairs in the join, the string intersect verifies the few
    # survivors (functions/predicates.overlap_pairs). 0.08 = 2/25 via
    # jaccard_ge: the intersect size is referenced once
    pairs = overlap_pairs(
        g,
        "grams",
        (F.col("a.source") == F.col("b.source")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        lambda nc, n1, n2: jaccard_ge(nc, n1 + n2, 2, 25),
        F.col("a.doc_id").alias("id1"),
        F.col("b.doc_id").alias("id2"),
    )
    jac = F.col("nc").cast("double") / (F.col("n1") + F.col("n2") - F.col("nc"))
    return pairs.select("id1", "id2", F.round(jac, 6).alias("jaccard"))


@query(
    "dedup_embed_cos",
    oracle="""
WITH e AS (SELECT * FROM (
       SELECT vec_id, label, embedding::DOUBLE[] AS v,
              sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                               (x, y) -> x + y)) AS nn
       FROM embeddings WHERE {CLEAN_VEC}) WHERE nn > 0),
pairs AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2,
         round(list_reduce(list_transform(list_zip(a.v, b.v), q -> q[1] * q[2]), (x, y) -> x + y)
               / (a.nn * b.nn), 6) AS cos_sim
  FROM e a JOIN e b
    ON a.label = b.label AND a.vec_id < b.vec_id AND a.vec_id % 10 = 0)
SELECT id1, id2, cos_sim FROM pairs WHERE cos_sim >= 0.3
""".replace("{CLEAN_VEC}", clean_vec_sql("embedding")),
)
def dedup_embed_cos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: semantic dedup - blocked
    (label block + probe stride) pairwise cosine with a similarity
    floor. At 100 TB the block comes from LSH buckets (sim_ann_lsh) or
    IVF cells; the pairwise core is this exact plan.
    Hygiene (ragged-vector world r9): finite_array drops NULL/empty/
    poisoned vectors on both engines — a NaN norm passes bare > 0
    under NaN-is-greatest, then `NaN >= 0.3` is FALSE on Spark but
    TRUE on DuckDB; mixed-dim pairs yield NULL cos_sim and fail the
    threshold identically on both."""
    e = load(spark, sf_dir, "embeddings").filter(finite_array("embedding")).select(
        "vec_id", "label", dbl("embedding").alias("v")
    )
    # per-vector norms computed BEFORE the join (per pair they would
    # re-reduce both arrays — the sim_cosine_topk lesson, 2× at sf0.1)
    # zero-norm embeddings (padding / failed encodes) carry no
    # direction — excluded on both engines; ANSI division would abort
    a = e.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("id1"), F.col("label").alias("l1"),
        F.col("v").alias("v1"), norm("v").alias("n1"),
    ).filter(F.col("n1") > 0)
    b = e.select(
        F.col("vec_id").alias("id2"), F.col("label").alias("l2"),
        F.col("v").alias("v2"), norm("v").alias("n2"),
    ).filter(F.col("n2") > 0)
    pairs = a.join(
        b, (F.col("l1") == F.col("l2")) & (F.col("id1") < F.col("id2"))
    ).select(
        "id1", "id2", F.round(dot("v1", "v2") / (F.col("n1") * F.col("n2")), 6).alias("cos_sim")
    )
    return pairs.filter(F.col("cos_sim") >= 0.3)


def _minhash_bands(d: DataFrame) -> DataFrame:
    """(doc_id, band, bkey) MinHash-LSH band keys with portable hashes.

    All 16 min-hashes are aggregate expressions in ONE groupBy(doc_id)
    over the token relation — partial (map-side) min means the shuffle
    carries ≤ one 16-column row per doc per map partition, never a
    16×-exploded token stream (a naive explode(0..15) +
    groupBy(doc_id, i) shuffles 16× the corpus and measured 10× slower
    at sf0.1). Band keys are a row-local posexplode of two digests."""
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("token")
    )
    sigw = tok.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("token")))).alias(f"mh{i}")
            for i in range(16)
        ]
    )
    return sigw.select(
        "doc_id",
        F.posexplode(
            F.array(
                F.md5(F.concat_ws("|", *[F.col(f"mh{i}") for i in range(8)])),
                F.md5(F.concat_ws("|", *[F.col(f"mh{i}") for i in range(8, 16)])),
            )
        ).alias("band", "bkey"),
    )



@query(
    "dedup_minhash_portable",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
             FROM documents),
sig AS (
  SELECT doc_id, i, min(md5(i::VARCHAR || ':' || token)) AS mh
  FROM tok CROSS JOIN (SELECT unnest(range(0, 16)) AS i) AS hi
  GROUP BY doc_id, i),
band AS (
  SELECT doc_id, i // 8 AS band, md5(string_agg(mh, '|' ORDER BY i)) AS bkey
  FROM sig GROUP BY doc_id, i // 8),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM band a JOIN band b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
verified AS (
  SELECT id1, id2,
         len(list_intersect(ta.toks, tb.toks)) AS nc,
         len(ta.toks) AS n1, len(tb.toks) AS n2
  FROM cand JOIN t ta ON ta.doc_id = id1 JOIN t tb ON tb.doc_id = id2)
SELECT id1, id2, round(CAST(nc AS DOUBLE) / (n1 + n2 - nc), 6) AS jaccard
FROM verified WHERE CAST(nc AS DOUBLE) / (n1 + n2 - nc) >= 0.8
""",
)
def dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch MinHash LSH with PORTABLE hashes, so — unlike the
    MLlib dedup_minhash, whose seeded hash family is engine-specific —
    the whole pipeline is exactly oracle-checkable end to end:

    1. signature_i(doc) = min over tokens of md5(i || ':' || token),
       i ∈ 0..15 — min over a uniform hash as *lexicographic* min of
       the hex string, identical in any engine (16 independent
       permutation approximations).
    2. band key = md5 of 8 consecutive signature values; docs pair only
       when an entire band matches (2 bands × 8 rows) — the standard
       S-curve P(candidate) = 1-(1-j^8)^2, steep enough that the
       template-similar fixture corpus stays sub-quadratic.
    3. candidates verified with exact token-set Jaccard, keep ≥ 0.8.

    Scale shape: ALL 16 min-hashes are aggregate expressions in ONE
    groupBy(doc_id) over the token relation — partial (map-side) min
    means the shuffle carries ≤ one 16-column row per doc per map
    partition, never the 16×-exploded token stream (a naive
    explode(0..15) + groupBy(doc_id, i) shuffles 16× the corpus and
    was measured 10× slower at sf0.1). Banding is then a cheap
    row-local posexplode of the two band digests; candidate pairing is
    a bucket equi-join (sub-quadratic); the exact Jaccard runs only on
    candidates. No O(n²) step, no UDF, no library dependency — this is
    THE 100 TB near-dedup recipe.

    CAVEAT on the output (not the plan): emitting every verified PAIR
    is quadratic in duplicate-cluster size by definition — the fixture
    corpus's dense template clusters produce 1.6M pairs from 5k docs
    at sf0.1. When the goal is dedup rather than pair analytics, use
    ``dedup_minhash_canonical``: same signatures, linear output."""
    d = load(spark, sf_dir, "documents")
    band = _minhash_bands(d)
    a, b = band.alias("a"), band.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .distinct()
    )
    # hashed_sets: exact-verify intersects on bigint arrays when the
    # injectivity guard passes (functions/predicates.hashed_sets, r12)
    t = hashed_sets(
        d.select(
            "doc_id", F.array_distinct(F.split(F.col("text"), " ")).alias("toks")
        ),
        "toks",
    )
    verified = (
        cand.join(t.select(F.col("doc_id").alias("id1"), F.col("toks").alias("t1")), "id1")
        .join(t.select(F.col("doc_id").alias("id2"), F.col("toks").alias("t2")), "id2")
        .select(
            "id1",
            "id2",
            # eval_once: see functions/predicates.eval_once (r11)
            eval_once(F.size(F.array_intersect("t1", "t2"))).alias("nc"),
            F.size("t1").alias("n1"),
            F.size("t2").alias("n2"),
        )
    )
    jac = F.col("nc").cast("double") / (F.col("n1") + F.col("n2") - F.col("nc"))
    # 0.8 = 4/5 via jaccard_ge — one array_intersect per candidate
    # pair instead of two in the pushed join residual (r11)
    return verified.filter(
        jaccard_ge(F.col("nc"), F.col("n1") + F.col("n2"), 4, 5)
    ).select("id1", "id2", F.round(jac, 6).alias("jaccard"))


@query(
    "dedup_minhash_canonical",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
             FROM documents),
sig AS (
  SELECT doc_id, i, min(md5(i::VARCHAR || ':' || token)) AS mh
  FROM tok CROSS JOIN (SELECT unnest(range(0, 16)) AS i) AS hi
  GROUP BY doc_id, i),
band AS (
  SELECT doc_id, i // 8 AS band, md5(string_agg(mh, '|' ORDER BY i)) AS bkey
  FROM sig GROUP BY doc_id, i // 8),
rep AS (SELECT band, bkey, min(doc_id) AS rep FROM band GROUP BY band, bkey),
edges AS (
  SELECT DISTINCT r.rep, b.doc_id
  FROM band b JOIN rep r ON b.band = r.band AND b.bkey = r.bkey
  WHERE b.doc_id <> r.rep),
t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
dup AS (
  SELECT e.doc_id, min(e.rep) AS canonical
  FROM edges e JOIN t ta ON ta.doc_id = e.rep JOIN t tb ON tb.doc_id = e.doc_id
  WHERE CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
        / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks)))
        >= 0.8
  GROUP BY e.doc_id)
SELECT d.doc_id,
       coalesce(dup.canonical, d.doc_id) AS canonical,
       dup.canonical IS NOT NULL AS is_dup
FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_id
""",
)
def dedup_minhash_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash dedup with LINEAR output — the shape a 100 TB corpus
    dedup actually runs, vs dedup_minhash_portable's pair analytics.

    Emitting all near-dup pairs is quadratic in cluster size (dense
    template clusters → 1.6M pairs from 5k docs at sf0.1), so instead
    each band bucket elects a representative (min doc_id) and every
    other member links to it: ≤ n_docs × n_bands STAR edges, verified
    with exact Jaccard ≥ 0.8 only along those edges. Output is one row
    per document — (doc_id, canonical, is_dup) — so cost is O(n·bands)
    end to end regardless of how duplicate-heavy the corpus is. Star
    linking can split a sparse chain a full pairwise closure would
    merge (rep–member below threshold while member–member above);
    production pipelines accept exactly this trade (one union-find /
    label-propagation round over star edges recovers it; see
    dedup_components for the iterative closure)."""
    d = load(spark, sf_dir, "documents")
    band = _minhash_bands(d)
    rep = band.groupBy("band", "bkey").agg(F.min("doc_id").alias("rep"))
    edges = (
        band.join(rep, ["band", "bkey"])
        .filter(F.col("doc_id") != F.col("rep"))
        .select("rep", "doc_id")
        .distinct()
    )
    # NOT hashed_sets (r12, measured): star edges are ≤ n·bands, so the
    # verify intersect volume is LINEAR — the injectivity guard's extra
    # tokenize pass costs more than the cheap intersects save
    # (1.65 → 1.91 s noop at sf0.1). The quadratic-pair family keeps
    # the guard; this linear-output key keeps plain strings.
    t = d.select("doc_id", F.array_distinct(F.split(F.col("text"), " ")).alias("toks"))
    ver = (
        edges.join(
            t.select(F.col("doc_id").alias("rep"), F.col("toks").alias("tr")), "rep"
        )
        .join(t, "doc_id")
        .select(
            "doc_id",
            "rep",
            # eval_once: see functions/predicates.eval_once (r11)
            eval_once(F.size(F.array_intersect("tr", "toks"))).alias("nc"),
            F.size("tr").alias("n1"),
            F.size("toks").alias("n2"),
        )
    )
    # 0.8 = 4/5 via jaccard_ge — one array_intersect per star edge
    # instead of two in the pushed join residual (r11)
    dup = (
        ver.filter(jaccard_ge(F.col("nc"), F.col("n1") + F.col("n2"), 4, 5))
        .groupBy("doc_id")
        .agg(F.min("rep").alias("canonical"))
    )
    return (
        d.select("doc_id")
        .join(dup, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("canonical"), F.col("doc_id")).alias("canonical"),
            F.col("canonical").isNotNull().alias("is_dup"),
        )
    )


@query(
    "dedup_components",
    oracle="""
WITH t AS (SELECT doc_id, source,
                  list_distinct(string_split(text, ' ')) AS toks
           FROM documents),
pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2
          FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
                >= 0.62),
edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
          UNION ALL SELECT id2, id1 FROM pairs),
reach AS (
  WITH RECURSIVE r(a, b) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.a, e.dst FROM r JOIN edges e ON r.b = e.src)
  SELECT * FROM r)
SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a
""",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    near-dup pair graph (component id = min doc_id reachable), the
    step that turns pairwise LSH/Jaccard hits into dedup GROUPS so a
    keep-one policy can act per cluster.

    Spark side: iterative min-label propagation — each round joins
    labels to the symmetric edge list, takes the min over neighbors,
    and localCheckpoints every few rounds to truncate lineage. Rounds
    needed = graph diameter; near-dup clusters are dense (diameter ≤
    2-3), and 8 rounds covers any chain the corpus produces. Every
    round is two distributed joins — nothing driver-side grows with
    data. An explicit convergence guard re-checks the final labels
    against one more neighbor-min pass and RAISES if anything would
    still shrink (a diameter-9 chain trips it — see
    tests/test_dedup_convergence.py), and the oracle computes the
    exact fixpoint via a recursive-CTE transitive closure, so an
    under-iterated graph fails loudly on both axes."""
    d = load(spark, sf_dir, "documents")
    # hashed_sets: pair-build intersects on bigint arrays when the
    # injectivity guard passes (functions/predicates.hashed_sets, r12)
    t = hashed_sets(
        d.select(
            "doc_id", "source", F.array_distinct(F.split(F.col("text"), " ")).alias("toks")
        ),
        "toks",
    )
    a, b = t.alias("a"), t.alias("b")
    nc = F.size(F.array_intersect("a.toks", "b.toks"))
    pairs = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        # 0.62 = 31/50 via jaccard_ge — one array_intersect per
        # candidate pair instead of two in the pushed join residual
        # (measured 14.5 → 8.6 s on this pair stream at sf0.1, r11)
        .filter(jaccard_ge(nc, F.size("a.toks") + F.size("b.toks"), 31, 50))
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    )
    # The symmetric edge list is the LOOP INVARIANT: it appears in all
    # 8 supersteps AND the convergence guard, and each localCheckpoint
    # segment executes as its own job — without a persist the blocked
    # quadratic pair join above is re-evaluated once per segment
    # (measured 53 s at sf0.1, ~4 evaluations of an ~11 s join; 15 s
    # persisted). Same persist-the-invariant pattern as wl_pagerank3's
    # weighted edge list; unpersisted before return — every consumer
    # (supersteps, guard) has executed by then because the final
    # labels are eagerly checkpointed.
    # Partitioned on dst BEFORE the persist (wl_pagerank3's trick):
    # every superstep joins on edges.dst == labels.doc_id, and
    # InMemoryRelation preserves outputPartitioning, so the cached
    # edge list never re-exchanges inside the loop — only the small
    # label table shuffles per superstep.
    edges = (
        pairs.unionByName(
            pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .repartition("dst")
        .persist()
    )
    labels = d.select("doc_id", F.col("doc_id").alias("component"))

    def _residual(lbl):
        """Count of labels one more neighbor-min pass would still
        shrink — 0 ⟺ lbl is the min-label fixpoint."""
        return (
            edges.join(lbl, edges.dst == lbl.doc_id)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
            .join(lbl.select(F.col("doc_id").alias("src"), "component"), "src")
            .filter(F.col("nbr_component") < F.col("component"))
            .count()
        )

    supersteps = 8
    for i in range(supersteps):
        nbr_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        labels = labels.join(
            nbr_min, labels.doc_id == nbr_min.src, "left"
        ).select(
            "doc_id",
            F.least(
                F.col("component"),
                F.coalesce(F.col("nbr_component"), F.col("component")),
            ).alias("component"),
        )
        if i % 3 == 2:
            labels = labels.localCheckpoint(eager=False)
            # Early exit (r12): near-dup clusters are dense (diameter
            # ≤ 2-3), so the fixpoint is normally reached inside the
            # first segment and the remaining supersteps are no-op
            # joins. One residual count at the segment boundary (the
            # checkpoint is materialized by it anyway) skips them.
            # Labels are IDENTICAL either way — min-label propagation
            # is idempotent at the fixpoint — and the final guard
            # below still re-verifies on the returned relation.
            if _residual(labels) == 0:
                break
    # Convergence guard (r10 verdict item 5): one more neighbor-min
    # pass over the FINAL labels; if any label would still shrink, the
    # graph diameter exceeded the superstep budget and the labels are
    # NOT a fixpoint — fail loudly here rather than hand a silently
    # under-merged clustering to the keep-one policy downstream. The
    # eager localCheckpoint materializes the labels once so the guard
    # count and the returned DataFrame share the same computed result
    # (one bounded action; nothing driver-side grows with data).
    labels = labels.localCheckpoint(eager=True)
    residual = _residual(labels)
    edges.unpersist()
    if residual:
        raise RuntimeError(
            f"dedup_components: not converged after {supersteps} supersteps"
            f" ({residual} labels would still shrink) — graph diameter"
            " exceeds the superstep budget; raise it for this corpus"
        )
    return labels


@query(
    "dedup_paragraph",
    oracle="""
WITH chunks AS (
  SELECT doc_id, cs AS chunk_start, substring(text, cs, 256) AS chunk
  FROM documents, unnest(range(1, greatest(length(text) - 56, 1) + 1, 200)) AS u(cs)),
fps AS (SELECT doc_id, chunk_start, md5(chunk) AS fp FROM chunks),
keep AS (SELECT fp,
                min(struct_pack(d := doc_id, c := chunk_start)) AS keep_key,
                count(*) AS n_copies
         FROM fps GROUP BY fp)
SELECT f.doc_id, f.chunk_start, k.n_copies,
       struct_pack(d := f.doc_id, c := f.chunk_start) = k.keep_key AS kept
FROM fps f JOIN keep k ON f.fp = k.fp
""",
)
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (paragraph/chunk-level) exact dedup — the
    boilerplate-removal pass of a training-data pipeline: repeated
    headers, license blurbs, and navigation chrome recur across
    documents that are NOT whole-document duplicates, so dedup must
    run at chunk grain. Composes txt_chunk's windows with
    dedup_exact's keep-lowest fingerprint discipline: md5 per chunk,
    one hash aggregation decides the canonical copy, a second
    fingerprint join labels every chunk kept/dropped.

    Scale shape: fingerprints (16 bytes) shuffle, chunk text does not
    — the labeling join carries only (fp, keep_key, n_copies) back to
    the chunk relation on the fingerprint key. Both sides partition on
    fp, AQE handles the (boilerplate-heavy) skewed fingerprints.
    Fingerprints are computed INSIDE the row (one higher-order
    transform over the window starts) and only (start, md5) structs
    explode — exploding starts first would duplicate the full document
    text into every window row (a single 2 MB document fanned out to
    ~10k copies of itself and timed out the round-7 huge-string
    battery); this shape costs 24 bytes per window regardless of
    document length.

    Per-document cost is O(doclen) (r8): the text is pre-split ONCE
    into 200-char blocks (one linear regex pass) and window i is
    rebuilt as ``block_i || left(block_{i+1}, 56)`` — array-element
    access on an UnsafeRow is a zero-copy view, so each window costs
    O(window) regardless of document size or start offset. The naive
    ``substr(text, s, 256)`` per window scans from the string head to
    locate char s under variable-width UTF-8 (O(windows × doclen) per
    document, ~224 s on one 4 MB doc); a byte-domain
    ``substr(encode(text), s, 256)`` variant was probed and is ALSO
    quadratic because UnsafeRow.getBinary COPIES the whole byte array
    on every lambda-body access (~20 s on the same doc), where
    getArray/getUTF8String return views. The blocks kernel runs the
    same doc in 0.6 s, is exactly window-equivalent to the naive form
    (verified over multibyte edge lengths 0..1234), and leaves the
    char-domain oracle untouched. NULL text keeps a NULL fingerprint
    (the when() guard), matching ``md5(substr(NULL))`` on both
    engines; windows past the end of a short text coalesce to '' on
    both engines."""
    d = load(spark, sf_dir, "documents")
    blocks = F.regexp_extract_all(F.col("text"), F.lit(r"[\s\S]{1,200}"), F.lit(0))
    b = d.select("doc_id", F.col("text").isNotNull().alias("has_text"),
                 blocks.alias("blocks"),
                 F.length("text").cast("long").alias("_tlen"))
    # window count from length(text), never the n_chars METADATA: a
    # row claiming 4e18 chars would size a 2e16-window sequence and
    # abort the executor (overflow world, r9) — work sizing comes
    # from the data being sized, identically on both engines
    n_windows = (
        F.lit(1)
        + F.floor((F.greatest(F.col("_tlen") - 56, F.lit(1).cast("long")) - 1) / 200)
    ).cast("int")
    fp_structs = F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda i: F.struct(
            (F.lit(1) + (i - 1) * 200).cast("long").alias("chunk_start"),
            F.when(
                F.col("has_text"),
                F.md5(
                    F.concat(
                        F.coalesce(F.get(F.col("blocks"), i - 1), F.lit("")),
                        F.coalesce(
                            F.substring(F.get(F.col("blocks"), i), 1, 56), F.lit("")
                        ),
                    )
                ),
            ).alias("fp"),
        ),
    )
    fps = b.select("doc_id", F.explode(fp_structs).alias("c")).select(
        "doc_id",
        F.col("c.chunk_start").alias("chunk_start"),
        F.col("c.fp").alias("fp"),
    )
    # Canonical-copy election is a lexicographic struct min over
    # (doc_id, chunk_start) — NOT the arithmetic doc_id*1e6+start
    # composite, which collides once chunk_start >= 1e6 (exactly the
    # MB-scale documents the O(doclen) kernel targets: a 4 MB doc has
    # chunk_start up to ~4M, so two rows of one fingerprint group
    # could both label kept=true; ADVICE r8). Struct ordering is
    # field-lexicographic on both engines (DuckDB struct_pack min
    # mirrors it).
    keep = fps.groupBy("fp").agg(
        F.min(F.struct("doc_id", "chunk_start")).alias("keep_key"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    return fps.join(keep, "fp").select(
        "doc_id",
        "chunk_start",
        "n_copies",
        (
            (F.col("doc_id") == F.col("keep_key.doc_id"))
            & (F.col("chunk_start") == F.col("keep_key.chunk_start"))
        ).alias("kept"),
    )


@query(
    "dedup_keep_best",
    oracle="""
WITH fp AS (
  SELECT doc_id, n_chars, source,
         md5(lower(trim(text))) AS fingerprint
  FROM documents),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY fingerprint
                               ORDER BY n_chars DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY fingerprint) AS n_copies
  FROM fp)
SELECT fingerprint, doc_id AS keeper_doc_id, source AS keeper_source,
       n_chars AS keeper_len, n_copies
FROM ranked WHERE rn = 1
""",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware exact dedup: one keeper per duplicate cluster,
    chosen by a quality key (longest text, doc_id tie-break) instead
    of an arbitrary first-seen — what production corpus cleaning does,
    because near-identical crawls differ in truncation and you want
    the fullest copy.

    Scale shape identical to `dedup_exact`: md5 fingerprints shuffle,
    never text. The keeper pick is a row_number window filtered to
    rn=1 — scale-safe because WindowGroupLimit limits PARTIALLY on the
    map side, so a boilerplate mega-cluster reaches its final task
    with at most one row per map task, never cluster-size rows. The
    cluster COUNT must NOT ride the same window (a count window gets
    no partial pass — it would re-funnel the mega-cluster into one
    buffer, r11 de-skew class): it is a hash aggregate (map-side
    partial) joined back on fingerprint (AQE skew-split on hot keys).
    Compose with `dedup_minhash_canonical`'s star edges to pick
    keepers for NEAR-duplicate clusters the same way."""
    d = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "n_chars",
            "source",
            F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint"),
        )
        .persist()  # two consumers: keeper window + cluster-size agg
    )
    sizes = d.groupBy("fingerprint").agg(F.count(F.lit(1)).alias("n_copies"))
    w = W.partitionBy("fingerprint").orderBy(F.col("n_chars").desc(), "doc_id")
    keeper = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "fingerprint",
            F.col("doc_id").alias("keeper_doc_id"),
            F.col("source").alias("keeper_source"),
            F.col("n_chars").alias("keeper_len"),
        )
    )
    # null-SAFE equi-join: a NULL text mints a NULL fingerprint, which
    # the window form (and the oracle) treats as ONE cluster — a plain
    # inner join would silently drop it (r11 sweep catch)
    return keeper.join(
        sizes.withColumnRenamed("fingerprint", "_fp"),
        keeper["fingerprint"].eqNullSafe(F.col("_fp")),
    ).select("fingerprint", "keeper_doc_id", "keeper_source", "keeper_len", "n_copies")


@query(
    "dedup_incremental",
    oracle="""
WITH base AS (SELECT md5(text) AS fp FROM documents),
delta AS (
  SELECT doc_id + 2000000 AS doc_id, md5(text) AS fp
  FROM documents WHERE doc_id % 4 = 0
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id, md5(text || ' v2') AS fp
  FROM documents WHERE doc_id % 7 = 3
)
SELECT d.doc_id, d.fp
FROM delta d ANTI JOIN (SELECT DISTINCT fp FROM base) b USING (fp)
""",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: admit only delta documents whose
    fingerprint is NOT already in the base corpus — the nightly-batch
    pattern that avoids ever re-deduplicating the full corpus.

    The delta here is half re-submissions (exact copies of every 4th
    base doc — must be rejected) and half genuinely new revisions
    (suffix-modified — must be admitted). Shape: left-anti join on the
    md5 fingerprint; text is fingerprinted map-side, so the shuffle
    carries (fp, doc_id) — 40 bytes/row, not documents. At 100 TB the
    base side is a fingerprint-only table maintained across runs (its
    distinct-fp projection IS the dedup index)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.select(F.md5("text").alias("fp")).distinct()
    resub = docs.where(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), F.md5("text").alias("fp")
    )
    novel = docs.where(F.col("doc_id") % 7 == 3).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.md5(F.concat(F.col("text"), F.lit(" v2"))).alias("fp"),
    )
    delta = resub.unionByName(novel)
    return delta.join(base, "fp", "left_anti").select("doc_id", "fp")


@query(
    "dedup_degree_hist",
    oracle="""
WITH e AS (SELECT * FROM (
       SELECT vec_id, label, embedding::DOUBLE[] AS v,
              sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                               (x, y) -> x + y)) AS nn
       FROM embeddings WHERE {CLEAN_VEC}) WHERE nn > 0),
pairs AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE round(list_reduce(list_transform(list_zip(a.v, b.v), q -> q[1] * q[2]), (x, y) -> x + y)
              / (a.nn * b.nn), 6) >= 0.2),
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT id1 AS node FROM pairs UNION ALL SELECT id2 AS node FROM pairs) n
  GROUP BY node)
SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree
""".replace("{CLEAN_VEC}", clean_vec_sql("embedding")),
)
def dedup_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate graph degree histogram — the planning report
    that decides whether connected-component dedup will produce
    pathological mega-clusters (a heavy tail here means transitive
    closure will chain half the corpus together).

    Shape: label-blocked cosine pairs (JVM zip_with dot product, no
    UDF), each edge charged to both endpoints via a 2-row explode,
    then two chained hash aggs. The pair join is bounded by block
    size; everything after it is linear in edges."""
    emb = load(spark, sf_dir, "embeddings").filter(finite_array("embedding"))
    e = emb.select("vec_id", "label", dbl("embedding").alias("v"))
    e = e.withColumn("nrm", norm("v")).filter(F.col("nrm") > 0)
    a, b = e.alias("a"), e.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn("cos_sim", F.round(dot("a.v", "b.v") / (F.col("a.nrm") * F.col("b.nrm")), 6))
        .where(F.col("cos_sim") >= 0.2)
        .select(F.col("a.vec_id").alias("id1"), F.col("b.vec_id").alias("id2"))
    )
    nodes = pairs.select(F.explode(F.array("id1", "id2")).alias("node"))
    deg = nodes.groupBy("node").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


@query(
    "dedup_minhash_eval",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
             FROM documents),
sig AS (
  SELECT doc_id, i, min(md5(i::VARCHAR || ':' || token)) AS mh
  FROM tok CROSS JOIN (SELECT unnest(range(0, 16)) AS i) AS hi
  GROUP BY doc_id, i),
band AS (
  SELECT doc_id, i // 8 AS band, md5(string_agg(mh, '|' ORDER BY i)) AS bkey
  FROM sig GROUP BY doc_id, i // 8),
src AS (SELECT doc_id, source FROM documents),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM band a JOIN band b ON a.band = b.band AND a.bkey = b.bkey
                          AND a.doc_id < b.doc_id
  JOIN src sa ON sa.doc_id = a.doc_id
  JOIN src sb ON sb.doc_id = b.doc_id AND sa.source = sb.source),
t AS (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks
      FROM documents),
truth AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2
  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8),
nums AS (
  SELECT (SELECT count(*) FROM truth) AS n_truth,
         (SELECT count(*) FROM cand) AS n_cand,
         (SELECT count(*) FROM cand JOIN truth USING (id1, id2)) AS tp)
SELECT CAST(n_truth AS BIGINT) AS n_truth, CAST(n_cand AS BIGINT) AS n_cand,
       CAST(tp AS BIGINT) AS tp,
       round(CASE WHEN n_truth = 0 THEN NULL
                  ELSE CAST(tp AS DOUBLE) / n_truth END, 6) AS recall,
       round(CASE WHEN n_cand = 0 THEN NULL
                  ELSE CAST(tp AS DOUBLE) / n_cand END, 6) AS precision
FROM nums
""",
)
def dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH QUALITY evaluation: candidate recall and precision
    of the banded signatures (dedup_minhash_portable's exact
    configuration, 16 hashes × 2 bands) against exact token-set
    Jaccard ≥ 0.8 ground truth, measured on the same-source stratum —
    at corpus scale the global truth is uncomputable by definition, so
    production dedup QA samples strata where exact all-pairs IS
    affordable and extrapolates; this operator is that measurement.

    Everything is md5-deterministic, so unlike every library LSH the
    quality numbers themselves are oracle-checkable. One row:
    (n_truth, n_cand, tp, recall, precision)."""
    d = load(spark, sf_dir, "documents")
    band = _minhash_bands(d)
    src = d.select("doc_id", "source")
    a, b = band.alias("a"), band.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .join(src.select(F.col("doc_id").alias("id1"), F.col("source").alias("s1")), "id1")
        .join(src.select(F.col("doc_id").alias("id2"), F.col("source").alias("s2")), "id2")
        .filter(F.col("s1") == F.col("s2"))
        .select("id1", "id2")
        .distinct()
    )
    # hashed_sets: blocked-pair intersects on bigint arrays when the
    # injectivity guard passes (functions/predicates.hashed_sets, r12)
    t = hashed_sets(
        d.select(
            "doc_id", "source", F.array_distinct(F.split("text", " ")).alias("toks")
        ),
        "toks",
    )
    ta, tb = t.alias("ta"), t.alias("tb")
    nc = F.size(F.array_intersect("ta.toks", "tb.toks"))
    truth = (
        ta.join(
            tb,
            (F.col("ta.source") == F.col("tb.source"))
            & (F.col("ta.doc_id") < F.col("tb.doc_id")),
        )
        # 0.8 = 4/5 via jaccard_ge — one array_intersect per candidate
        # pair instead of two in the pushed join residual (r11)
        .filter(jaccard_ge(nc, F.size("ta.toks") + F.size("tb.toks"), 4, 5))
        .select(F.col("ta.doc_id").alias("id1"), F.col("tb.doc_id").alias("id2"))
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    tp = cand.join(truth, ["id1", "id2"]).agg(F.count(F.lit(1)).alias("tp"))
    return (
        n_truth.join(F.broadcast(n_cand))
        .join(F.broadcast(tp))
        .select(
            "n_truth",
            "n_cand",
            "tp",
            F.round(
                F.when(F.col("n_truth") == 0, None).otherwise(
                    F.col("tp").cast("double") / F.col("n_truth")
                ),
                6,
            ).alias("recall"),
            F.round(
                F.when(F.col("n_cand") == 0, None).otherwise(
                    F.col("tp").cast("double") / F.col("n_cand")
                ),
                6,
            ).alias("precision"),
        )
    )


@query(
    "dedup_exact_substring",
    # Oracle windows build from EXPLODED (pos, token) rows + a 16-row
    # window-frame string_agg — NOT list_slice per window: DuckDB
    # copies a list per slice access (probe: 43 s for slice-only on a
    # 2 MB doc, the same UnsafeRow.getBinary-style trap Spark's char
    # kernel had), and the CROSS JOIN UNNEST form duplicates the full
    # token list into every window row. Element access toks[i] is a
    # view (0.0 s probe), so the explode is linear; equivalence to the
    # slice form is probe-verified incl. NULL text and <16-token docs.
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
tok AS (
  SELECT doc_id, u.pt.pos AS pos, u.pt.tok AS token
  FROM t, unnest(list_transform(range(1, len(toks) + 1),
                 i -> struct_pack(pos := i, tok := toks[i]))) AS u(pt)),
wins AS (
  SELECT DISTINCT doc_id, md5(string_agg(token, ' ') OVER w) AS fp
  FROM tok
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING)
  QUALIFY count(*) OVER w = 16),
rep AS (SELECT fp, min(doc_id) AS rep FROM wins GROUP BY fp)
SELECT r.rep AS id1, w.doc_id AS id2,
       count(DISTINCT w.fp) AS n_shared_spans
FROM wins w JOIN rep r ON w.fp = r.fp
WHERE w.doc_id <> r.rep
GROUP BY 1, 2
""",
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING dedup (the Lee et al. 'Deduplicating Training
    Data' method, window-fingerprint form): every 16-token sliding
    window is fingerprinted; two documents sharing ANY window share a
    verbatim 16-token span — catching copied sentences that
    whole-document fingerprints (dedup_exact) and set-similarity
    (Jaccard/MinHash) both miss.

    LINEAR output (round-9 rewrite): each window fingerprint elects a
    min-doc_id representative and every other holder links to it —
    dedup_minhash_canonical's star-edge trick — so a boilerplate span
    shared by k docs emits k−1 edges, not k(k−1)/2 pairs; total output
    is bounded by distinct (doc, fingerprint) incidences, linear in
    corpus size regardless of duplicate density. The per-doc window
    set is DISTINCT before any join (a pathological single-char-run
    document repeats one fingerprint ~doclen times; without the
    distinct, two such docs joined fp-to-fp explode quadratically —
    the round-8 30 s-battery timeout). Windows are a row-local slice
    projection (no suffix array materializes); the only shuffle keys
    WINDOW FINGERPRINTS — text never moves (the dedup_paragraph
    discipline). Output: (id1=representative, id2=member,
    n_shared_spans); run dedup_components over the edges when full
    cluster closure is needed."""
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    starts = F.when(
        F.size("toks") >= 16, F.sequence(F.lit(1), F.size("toks") - 15)
    ).otherwise(F.array().cast("array<int>"))
    wins = (
        t.select("doc_id", F.explode(starts).alias("i"), "toks")
        .select(
            "doc_id",
            F.md5(F.concat_ws(" ", F.slice("toks", F.col("i"), 16))).alias("fp"),
        )
        .distinct()
    )
    rep = wins.groupBy("fp").agg(F.min("doc_id").alias("rep"))
    return (
        wins.join(rep, "fp")
        .filter(F.col("doc_id") != F.col("rep"))
        .groupBy(F.col("rep").alias("id1"), F.col("doc_id").alias("id2"))
        .agg(F.countDistinct("fp").alias("n_shared_spans"))
    )


@query(
    "dedup_scurve_empirical",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
             FROM documents),
sig AS (
  SELECT doc_id, i, min(md5(i::VARCHAR || ':' || token)) AS mh
  FROM tok CROSS JOIN (SELECT unnest(range(0, 16)) AS i) AS hi
  GROUP BY doc_id, i),
band AS (
  SELECT doc_id, i // 8 AS band, md5(string_agg(mh, '|' ORDER BY i)) AS bkey
  FROM sig GROUP BY doc_id, i // 8),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM band a JOIN band b ON a.band = b.band AND a.bkey = b.bkey
                          AND a.doc_id < b.doc_id),
t AS (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks
      FROM documents),
pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2,
         CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jac
  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id),
tagged AS (
  SELECT CAST(floor(p.jac * 10) AS INTEGER) AS jac_bucket,
         CASE WHEN c.id1 IS NULL THEN 0 ELSE 1 END AS is_cand
  FROM pairs p LEFT JOIN cand c ON p.id1 = c.id1 AND p.id2 = c.id2)
SELECT jac_bucket, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(is_cand) AS BIGINT) AS n_candidates,
       round(CAST(sum(is_cand) AS DOUBLE) / count(*), 6) AS candidate_rate
FROM tagged GROUP BY jac_bucket
""",
)
def dedup_scurve_empirical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMPIRICAL S-curve of the banded MinHash LSH: for each Jaccard
    bucket of the same-source truth pairs, the fraction that the
    2×8-band signatures actually surfaced as candidates — measuring
    the theoretical P(candidate) = 1−(1−j⁸)² that justifies the
    banding parameters. This is how you TUNE b and r before a 100 TB
    run: measure the curve on a stratum (exact all-pairs affordable),
    pick bands so the knee sits at your dedup threshold. All
    md5-deterministic — the measured curve itself is oracle-checked;
    the invariant suite asserts monotonicity."""
    d = load(spark, sf_dir, "documents")
    band = _minhash_bands(d)
    a, b = band.alias("a"), band.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("c1"), F.col("b.doc_id").alias("c2"))
        .distinct()
    )
    # hashed_sets: blocked-pair intersects on bigint arrays when the
    # injectivity guard passes (functions/predicates.hashed_sets, r12)
    t = hashed_sets(
        d.select(
            "doc_id", "source", F.array_distinct(F.split("text", " ")).alias("toks")
        ),
        "toks",
    )
    ta, tb = t.alias("ta"), t.alias("tb")
    nc = F.size(F.array_intersect("ta.toks", "tb.toks"))
    jac = nc.cast("double") / (F.size("ta.toks") + F.size("tb.toks") - nc)
    pairs = ta.join(
        tb,
        (F.col("ta.source") == F.col("tb.source"))
        & (F.col("ta.doc_id") < F.col("tb.doc_id")),
    ).select(
        F.col("ta.doc_id").alias("id1"),
        F.col("tb.doc_id").alias("id2"),
        jac.alias("jac"),
    )
    tagged = pairs.join(
        cand, (pairs.id1 == cand.c1) & (pairs.id2 == cand.c2), "left"
    ).select(
        F.floor(F.col("jac") * 10).cast("int").alias("jac_bucket"),
        F.when(F.col("c1").isNull(), 0).otherwise(1).alias("is_cand"),
    )
    return tagged.groupBy("jac_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("is_cand").cast("bigint").alias("n_candidates"),
        F.round(F.sum("is_cand").cast("double") / F.count(F.lit(1)), 6).alias(
            "candidate_rate"
        ),
    )


@query(
    "dedup_fellegi_sunter",
    oracle="""
WITH d AS (
  SELECT doc_id, text, lang, source, n_chars, n_chars // 16 AS nb
  FROM documents WHERE length(text) = strlen(text)),
pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2,
         CASE WHEN levenshtein(a.text, b.text) <= 40 THEN 1 ELSE 0 END AS is_match,
         CASE WHEN substring(a.text, 1, 8) = substring(b.text, 1, 8)
              THEN 1 ELSE 0 END AS f_prefix,
         CASE WHEN abs(a.n_chars - b.n_chars) <= 8 THEN 1 ELSE 0 END AS f_len,
         CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS f_src
  FROM d a JOIN d b ON a.lang = b.lang AND a.nb = b.nb AND a.doc_id < b.doc_id),
mu AS (
  SELECT
    (sum(is_match * f_prefix) + 0.5) / (sum(is_match) + 1.0) AS m1,
    (sum((1 - is_match) * f_prefix) + 0.5) / (sum(1 - is_match) + 1.0) AS u1,
    (sum(is_match * f_len) + 0.5) / (sum(is_match) + 1.0) AS m2,
    (sum((1 - is_match) * f_len) + 0.5) / (sum(1 - is_match) + 1.0) AS u2,
    (sum(is_match * f_src) + 0.5) / (sum(is_match) + 1.0) AS m3,
    (sum((1 - is_match) * f_src) + 0.5) / (sum(1 - is_match) + 1.0) AS u3
  FROM pairs)
SELECT p.id1, p.id2,
       round(
         (CASE WHEN p.f_prefix = 1 THEN ln(mu.m1 / mu.u1)
               ELSE ln((1 - mu.m1) / (1 - mu.u1)) END)
         + (CASE WHEN p.f_len = 1 THEN ln(mu.m2 / mu.u2)
                 ELSE ln((1 - mu.m2) / (1 - mu.u2)) END)
         + (CASE WHEN p.f_src = 1 THEN ln(mu.m3 / mu.u3)
                 ELSE ln((1 - mu.m3) / (1 - mu.u3)) END), 6) AS fs_score,
       p.is_match
FROM pairs p, mu
WHERE (CASE WHEN p.f_prefix = 1 THEN ln(mu.m1 / mu.u1)
            ELSE ln((1 - mu.m1) / (1 - mu.u1)) END)
      + (CASE WHEN p.f_len = 1 THEN ln(mu.m2 / mu.u2)
              ELSE ln((1 - mu.m2) / (1 - mu.u2)) END)
      + (CASE WHEN p.f_src = 1 THEN ln(mu.m3 / mu.u3)
              ELSE ln((1 - mu.m3) / (1 - mu.u3)) END) > 0
""",
)
def dedup_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FELLEGI–SUNTER probabilistic record linkage — the statistical
    model behind every serious bibliographic/entity-matching system:
    per-field agreement probabilities m=P(agree|match), u=P(agree|
    non-match) turn field comparisons into additive log-likelihood
    weights, Σ ln(m/u) for agreements, Σ ln((1−m)/(1−u)) for
    disagreements. Here m/u are estimated on the blocked candidate
    pairs from an edit-distance 'gold' rule (self-supervised, the EM
    seed step), with add-half smoothing so no weight is ±∞; fields
    are title-prefix, length-delta, and source. Pairs exist only
    inside dedup_biblio's (lang, length) blocks; the m/u table is ONE
    conditional-sum aggregate broadcast back. Output: positively
    scored pairs with their gold label — the reviewer triage queue."""
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.length("text") == F.octet_length("text"))
        .select(
            "doc_id", "text", "lang", "source", "n_chars",
            F.expr("n_chars div 16").alias("nb"),
        )
    )
    a, b = d.alias("a"), d.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.nb") == F.col("b.nb"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("id1"),
        F.col("b.doc_id").alias("id2"),
        # length bound first: levenshtein ≥ |length difference|, so a
        # pair more than 40 characters apart cannot match and skips the
        # banded edit distance (exact; texts are ASCII-only here)
        F.when(
            (F.abs(F.length("a.text") - F.length("b.text")) <= 40)
            & (F.levenshtein(F.col("a.text"), F.col("b.text"), 40) >= 0),
            1,
        )
        .otherwise(0)
        .alias("is_match"),
        F.when(
            F.substring(F.col("a.text"), 1, 8) == F.substring(F.col("b.text"), 1, 8), 1
        )
        .otherwise(0)
        .alias("f_prefix"),
        F.when(F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 8, 1)
        .otherwise(0)
        .alias("f_len"),
        F.when(F.col("a.source") == F.col("b.source"), 1).otherwise(0).alias("f_src"),
    ).persist()
    # persisted: BOTH consumers below (the m/u aggregate and the final
    # scored output) otherwise re-run the blocked pair join and its
    # per-pair thresholded levenshtein. At sf0.1 the cache write costs
    # about what the second evaluation saved (cold 6.1 s vs 5.8 s,
    # r11), but the cached relation is bounded candidate rows while
    # the re-evaluated work grows with block size squared — same
    # loop-invariant discipline as dedup_components' edge list
    im, f = F.col("is_match"), lambda c: F.col(c)
    mu = pairs.agg(
        *[
            e.alias(n)
            for n, e in {
                "m1": (F.sum(im * f("f_prefix")) + 0.5) / (F.sum(im) + 1.0),
                "u1": (F.sum((1 - im) * f("f_prefix")) + 0.5) / (F.sum(1 - im) + 1.0),
                "m2": (F.sum(im * f("f_len")) + 0.5) / (F.sum(im) + 1.0),
                "u2": (F.sum((1 - im) * f("f_len")) + 0.5) / (F.sum(1 - im) + 1.0),
                "m3": (F.sum(im * f("f_src")) + 0.5) / (F.sum(im) + 1.0),
                "u3": (F.sum((1 - im) * f("f_src")) + 0.5) / (F.sum(1 - im) + 1.0),
            }.items()
        ]
    )

    def w(flag, m, u):
        return F.when(
            F.col(flag) == 1, F.log(F.col(m) / F.col(u))
        ).otherwise(F.log((1 - F.col(m)) / (1 - F.col(u))))

    score = w("f_prefix", "m1", "u1") + w("f_len", "m2", "u2") + w("f_src", "m3", "u3")
    return (
        pairs.join(F.broadcast(mu))
        .filter(score > 0)
        .select("id1", "id2", F.round(score, 6).alias("fs_score"), "is_match")
    )


@query(
    "dedup_threshold_sweep",
    oracle="""
WITH t AS (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks
           FROM documents),
pairs AS (
  SELECT CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jac
  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id),
th AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold)
SELECT th.threshold,
       CAST(sum(CASE WHEN pairs.jac >= th.threshold THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_pairs
FROM th CROSS JOIN pairs
GROUP BY th.threshold
""",
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup THRESHOLD SENSITIVITY: duplicate-pair counts at five
    Jaccard cutoffs from ONE pass over the blocked exact pairs — the
    curve a data lead reads before committing to a threshold (a cliff
    between 0.7 and 0.8 means the corpus has a near-dup band exactly
    there; a flat curve means the choice barely matters). Pairs
    compute once and are scanned ONCE: five conditional partial
    aggregates (sum(when(jac >= t))) ride a single map-side-combined
    pass — no threshold×pairs replication — and the 1-row result
    explodes into the 5-row curve. Feeds the banding design
    dedup_scurve_empirical then validates."""
    d = load(spark, sf_dir, "documents")
    # hashed_sets: blocked-pair intersects on bigint arrays when the
    # injectivity guard passes (functions/predicates.hashed_sets, r12)
    t = hashed_sets(
        d.select(
            "doc_id", "source", F.array_distinct(F.split("text", " ")).alias("toks")
        ),
        "toks",
    )
    a, b = t.alias("a"), t.alias("b")
    nc = F.size(F.array_intersect("a.toks", "b.toks"))
    jac = nc.cast("double") / (F.size("a.toks") + F.size("b.toks") - nc)
    pairs = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(jac.alias("jac"))
    ths = [0.5, 0.6, 0.7, 0.8, 0.9]
    # groupBy on a pairs-derived constant, not a global agg: when no two
    # docs share a source the pair stream is EMPTY, and the oracle's
    # th CROSS JOIN pairs yields 0 rows — a global agg would emit one
    # all-NULL row that explodes into 5 bogus curve points (same
    # empty-input divergence class as txt_conditional_entropy).
    counts = (
        pairs.select(F.lit(1).alias("g"), "jac")
        .groupBy("g")
        .agg(
            *[
                F.sum(F.when(F.col("jac") >= F.lit(t), 1).otherwise(0))
                .cast("bigint")
                .alias(f"c{i}")
                for i, t in enumerate(ths)
            ]
        )
    )
    curve = F.array(
        *[
            F.struct(
                F.lit(t).alias("threshold"), F.col(f"c{i}").alias("n_dup_pairs")
            )
            for i, t in enumerate(ths)
        ]
    )
    return counts.select(F.explode(curve).alias("s")).select(
        "s.threshold", "s.n_dup_pairs"
    )
