"""Category H — scalar function surface (SURVEY.md §2.H).

One query per function family, each a wide projection exercising many
built-ins. Everything stays JVM-side (whole-stage codegen) — no Python
in any of these paths.

This module doubles as the Spark↔DuckDB dialect mapping table
(SURVEY.md M3): every oracle documents the translation.

  Spark                      DuckDB 1.0
  ------------------------   ----------------------------------
  split(s, ' ')              string_split(s, ' ')
  rlike(re)                  regexp_matches(s, re)
  regexp_replace (all)       regexp_replace(s, re, r, 'g')  -- 'g'!
  regexp_count(s, re)        len(regexp_extract_all(s, re))
  instr / locate             strpos
  dayofweek (Sun=1)          dayofweek(x) + 1 (Sun=0)
  weekday (Mon=0)            isodow(x) - 1 (Mon=1)
  datediff(end, start)       date_diff('day', start, end) -- arg order!
  unix_timestamp(ts)         epoch_us(ts) // 1000000
  date_trunc → timestamp     date_trunc → DATE (cast to string both)
  bround(x, n)               roundbankers(x, n)
  pmod(a, b)                 ((a % b) + b) % b
  size(arr)                  len(l)
  array_contains             list_contains
  array_distinct (ordered)   list_distinct (UNORDERED — sort both!)
  array_position (0 if ∅)    list_position (0 if ∅)
  slice(a, start, length)    list_slice(a, start, start+length-1)
  transform/filter           list_transform / list_filter
  aggregate(a, 0D, +)        list_reduce(a, +)   (0+x == x exactly)
  zip_with(a, b, f)          list_transform(list_zip(a,b), p -> f(p[1],p[2]))
  vectors.dbl(v)             v::DOUBLE[]
  vectors.total(v)           list_reduce(v, +)   (CASE arms for NULL / empty)
  vectors.sqnorm / norm      [sqrt] list_reduce(list_transform(v, x -> x * x), +)
  vectors.dot / sqdist       list_reduce(list_transform(list_zip(a, b), p -> ..), +)
  seeded.md5_u32(*parts)     CAST('0x' || substring(md5(p1 || ..), 1, 8) AS BIGINT)
  seeded.md5_uniform         (md5_u32 % 1000000 + 0.5) / 1000001.0
  shingles.adjacent_pairs    list_filter(list_transform(list_zip(t, list_slice(t,
    (t, f(a, b))               2, len(t))), p -> CASE WHEN p[2] IS NULL THEN NULL
                               ELSE f(p[1], p[2]) END), g -> g IS NOT NULL)
  explode/posexplode         unnest(...) [+ zipped unnest(range(...))]
  get_json_object(j,'$.k')   j ->> '$.k'
  sha2(s, 256)               sha256(s)
  (no initcap/btrim in DuckDB 1.0 — excluded from oracled columns)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from systematic_review_classification_spark.functions.predicates import finite, rnd
from systematic_review_classification_spark.functions.vectors import dbl, dot, norm
from systematic_review_classification_spark.registry import query
from systematic_review_classification_spark.sources.tables import load


@query(
    "fn_string",
    oracle="""
SELECT doc_id,
       lower(source)                      AS src_lower,
       upper(lang)                        AS lang_upper,
       trim('  ' || lang || '  ')         AS lang_trim,
       lpad(lang, 5, '*')                 AS lang_pad,
       substring(text, 1, 10)             AS text_head,
       length(text)                       AS text_len,
       concat_ws('|', lang, source)       AS lang_src,
       replace(source, 'src', 'S')        AS src_short,
       reverse(lang)                      AS lang_rev,
       left(text, 5)                      AS l5,
       right(source, 2)                   AS r2,
       repeat(lang, 2)                    AS lang2,
       strpos(text, 'spark')              AS spark_at,
       translate(lang, 'en', 'EN')        AS lang_tr
FROM documents
""",
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core string functions over documents.text.

    Dialect caveat (null-world sweep): Spark ``concat`` propagates a
    NULL argument; DuckDB ``concat`` silently SKIPS NULL arguments.
    Oracles must therefore spell concatenation as ``||`` (which does
    propagate NULL in DuckDB) wherever the Spark side uses
    ``F.concat``."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.lower("source").alias("src_lower"),
        F.upper("lang").alias("lang_upper"),
        F.trim(F.concat(F.lit("  "), F.col("lang"), F.lit("  "))).alias("lang_trim"),
        F.lpad("lang", 5, "*").alias("lang_pad"),
        F.substring("text", 1, 10).alias("text_head"),
        F.length("text").alias("text_len"),
        F.concat_ws("|", "lang", "source").alias("lang_src"),
        F.replace(F.col("source"), F.lit("src"), F.lit("S")).alias("src_short"),
        F.reverse("lang").alias("lang_rev"),
        F.left(F.col("text"), F.lit(5)).alias("l5"),
        F.right(F.col("source"), F.lit(2)).alias("r2"),
        F.repeat(F.col("lang"), 2).alias("lang2"),
        F.instr(F.col("text"), "spark").alias("spark_at"),
        F.translate(F.col("lang"), "en", "EN").alias("lang_tr"),
    )


@query(
    "fn_regex",
    oracle="""
SELECT doc_id,
       regexp_extract(text, '(sp)(ark)', 2)              AS ark,
       regexp_replace(text, '[aeiou]', '_', 'g')         AS devoweled_head,
       len(regexp_extract_all(text, 'join'))             AS n_join,
       regexp_matches(text, 'spark.*join|join.*spark')   AS has_both,
       string_split(lang, '')[1]                         AS lang_first
FROM documents WHERE doc_id < 100
""",
)
def fn_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex family. DuckDB regexp_replace needs the 'g' flag to match
    Spark's replace-all; no-match regexp_extract is '' in both."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return d.select(
        "doc_id",
        F.regexp_extract("text", "(sp)(ark)", 2).alias("ark"),
        F.regexp_replace(F.col("text"), "[aeiou]", "_").alias("devoweled_head"),
        F.regexp_count(F.col("text"), F.lit("join")).cast("bigint").alias("n_join"),
        F.col("text").rlike("spark.*join|join.*spark").alias("has_both"),
        F.split(F.col("lang"), "").getItem(0).alias("lang_first"),
    )


@query(
    "fn_editdist",
    oracle="""
SELECT doc_id,
       levenshtein(lang, 'en')              AS d_en,
       levenshtein(source, 'src1')          AS d_src,
       levenshtein(left(text, 8), 'the fast') AS d_head
FROM documents
""",
)
def fn_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit distance — near-duplicate keys for fuzzy dedup.

    Dialect caveat (tests/test_edge_values.py): DuckDB levenshtein
    counts UTF-8 bytes, Spark counts characters — identical on ASCII
    (all columns used here), divergent on multibyte text.
    """
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.levenshtein("lang", F.lit("en")).alias("d_en"),
        F.levenshtein("source", F.lit("src1")).alias("d_src"),
        F.levenshtein(F.left(F.col("text"), F.lit(8)), F.lit("the fast")).alias("d_head"),
    )


@query(
    "fn_date",
    oracle="""
SELECT o_orderkey,
       year(o_orderdate)                                        AS yr,
       month(o_orderdate)                                       AS mo,
       day(o_orderdate)                                         AS dy,
       dayofweek(o_orderdate) + 1                               AS dow,
       isodow(o_orderdate) - 1                                  AS wkday,
       CAST(date_trunc('month', o_orderdate) AS VARCHAR)        AS month_start,
       date_diff('day', o_orderdate, timestamp '2000-01-01')    AS days_to_y2k,
       CAST(CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS VARCHAR) AS plus2mo,
       CAST(last_day(o_orderdate) AS VARCHAR)                   AS month_end,
       CAST(make_date(year(o_orderdate), month(o_orderdate), 1) AS VARCHAR) AS first_of_month,
       epoch_us(o_orderdate) // 1000000                         AS epoch_sec
FROM orders WHERE o_orderkey < 1000
""",
)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time parts. Dialect traps documented in the module header:
    dayofweek origin, datediff arg order, date_trunc return type."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.month(d).alias("mo"),
        F.dayofmonth(d).alias("dy"),
        F.dayofweek(d).alias("dow"),
        F.weekday(d).alias("wkday"),
        F.date_trunc("month", d).cast("date").cast("string").alias("month_start"),
        F.datediff(F.lit("2000-01-01").cast("timestamp_ntz"), d).alias("days_to_y2k"),
        F.add_months(d.cast("date"), 2).cast("string").alias("plus2mo"),
        F.last_day(d.cast("date")).cast("string").alias("month_end"),
        F.make_date(F.year(d), F.month(d), F.lit(1)).cast("string").alias("first_of_month"),
        F.unix_timestamp(d).alias("epoch_sec"),
    )


@query(
    "fn_math",
    oracle="""
SELECT o_orderkey,
       round(o_totalprice / 7, 3)             AS div7,
       roundbankers(o_totalprice / 7, 3)      AS div7_be,
       CAST(floor(o_totalprice / 1000) AS BIGINT) AS kfloor,
       CAST(ceil(o_totalprice / 1000) AS BIGINT)  AS kceil,
       abs(o_totalprice - 250000)             AS dist_mid,
       CAST(sign(o_totalprice - 250000) AS INTEGER) AS side,
       ((o_orderkey % 7) + 7) % 7             AS key_mod,
       (((0 - o_orderkey) % 7) + 7) % 7       AS negkey_mod,
       round(CASE WHEN o_totalprice >= 0 THEN sqrt(o_totalprice) END, 6)
                                              AS root,
       round(CASE WHEN o_totalprice > 0 THEN ln(o_totalprice) END, 6)
                                              AS log_e,
       round(CASE WHEN o_totalprice > 0 THEN log10(o_totalprice) END, 6)
                                              AS log_10,
       round(pow(o_totalprice / 100000, 3), 6) + 0.0 AS cubed,
       greatest(o_orderkey % 5, o_orderkey % 3) AS g,
       least(o_orderkey % 5, o_orderkey % 3)    AS l
FROM orders WHERE o_orderkey < 2000 AND isfinite(o_totalprice)
""",
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math functions. Transcendentals (ln/log10/pow) are rounded to 6
    decimals — JVM Math and C libm may differ in the last ulp; sqrt is
    IEEE-correctly-rounded so exact. Divisions by 7 keep round inputs
    off decimal half-boundaries. Finite prices only on both engines:
    floor(NaN)'s ANSI bigint cast aborts the job outright."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderkey") < 2000) & finite("o_totalprice")
    )
    p = F.col("o_totalprice")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        F.round(p / 7, 3).alias("div7"),
        F.bround(p / 7, 3).alias("div7_be"),
        F.floor(p / 1000).alias("kfloor"),
        F.ceil(p / 1000).alias("kceil"),
        F.abs(p - 250000).alias("dist_mid"),
        F.signum(p - 250000).cast("int").alias("side"),
        F.pmod(k, F.lit(7)).alias("key_mod"),
        F.pmod(-k, F.lit(7)).alias("negkey_mod"),
        # sqrt gated to non-negative input on BOTH engines: a negative
        # price errors out-of-range on DuckDB and silently NaNs on
        # Spark (flat-world catch) — NULL identically instead
        F.round(F.when(p >= 0, F.sqrt(p)), 6).alias("root"),
        # logs gated to positive input on BOTH engines: ln(0) aborts
        # DuckDB and silently NULLs only on Spark
        F.round(F.when(p > 0, F.ln(p)), 6).alias("log_e"),
        F.round(F.when(p > 0, F.log10(p)), 6).alias("log_10"),
        # rnd(): a small negative cube rounds to zero with sign -0.0
        # in DuckDB, +0.0 here (flat-world catch)
        rnd(F.pow(p / 100000, 3), 6).alias("cubed"),
        F.greatest(k % 5, k % 3).alias("g"),
        F.least(k % 5, k % 3).alias("l"),
    )


@query(
    "fn_array",
    oracle="""
SELECT doc_id,
       len(string_split(text, ' '))                                    AS n_tokens,
       list_contains(string_split(text, ' '), 'spark')                 AS has_spark,
       array_to_string(list_sort(list_distinct(string_split(text, ' '))), '|') AS vocab,
       list_position(string_split(text, ' '), 'spark')                 AS spark_pos,
       array_to_string(list_slice(string_split(text, ' '), 1, 5), '|') AS head5,
       array_to_string(list_sort(list_slice(string_split(text, ' '), 1, 5)), '|')
                                                                       AS head5_sorted,
       array_to_string(flatten([list_slice(string_split(text, ' '), 1, 2),
                                list_slice(string_split(text, ' '), 3, 4)]), '|')
                                                                       AS head4_via_flatten
FROM documents WHERE doc_id < 200
""",
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array functions over tokenized text. array_distinct keeps
    first-occurrence order in Spark but is unordered in DuckDB —
    both sides sort for a canonical value. Array results are joined to
    '|'-separated strings so the output stays hashable for pandas-based
    result canonicalizers (raw list cells are unhashable)."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.array_join(F.sort_array(F.array_distinct(toks)), "|").alias("vocab"),
        F.array_position(toks, "spark").cast("int").alias("spark_pos"),
        F.array_join(F.slice(toks, 1, 5), "|").alias("head5"),
        F.array_join(F.sort_array(F.slice(toks, 1, 5)), "|").alias("head5_sorted"),
        F.array_join(
            F.flatten(F.array(F.slice(toks, 1, 2), F.slice(toks, 3, 2))), "|"
        ).alias("head4_via_flatten"),
    )


@query(
    "fn_array_hof",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
SELECT vec_id,
       CASE WHEN emb IS NULL THEN NULL WHEN len(emb) = 0 THEN 0.0
            ELSE round(sqrt(list_reduce(list_transform(emb, x -> x * x),
                                        (a, b) -> a + b)), 6) END AS l2_norm,
       len(list_filter(emb, x -> x > 0))                                             AS n_pos,
       len(list_filter(emb, x -> abs(x) > 2.0)) > 0                                  AS has_big,
       CASE WHEN emb IS NULL THEN NULL WHEN len(emb) = 0 THEN 0.0
            ELSE round(list_reduce(list_transform(list_zip(emb, emb), p -> p[1] * p[2]),
                                   (a, b) -> a + b), 6) END AS self_dot
FROM e
""",
)
def fn_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order functions on the embedding column — the multimodal
    vector-math backbone (all JVM-side, no UDF). Floats are widened to
    double first so both engines square/accumulate identically;
    Spark's aggregate(0D, +) == DuckDB list_reduce because 0.0 + x
    is exact. DuckDB list_reduce RAISES on NULL/empty lists where
    Spark's aggregate returns NULL / the init value — the oracle's
    CASE arms mirror Spark's totals explicitly."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", dbl("embedding").alias("emb"))
    return e.select(
        "vec_id",
        F.round(norm("emb"), 6).alias("l2_norm"),
        F.size(F.filter("emb", lambda x: x > 0)).alias("n_pos"),
        F.exists("emb", lambda x: F.abs(x) > 2.0).alias("has_big"),
        F.round(dot("emb", "emb"), 6).alias("self_dot"),
    )


@query(
    "fn_explode",
    oracle="""
SELECT doc_id,
       unnest(string_split(text, ' '))                                AS token,
       unnest(range(0, len(string_split(text, ' '))))                 AS pos
FROM documents WHERE doc_id < 100
""",
)
def fn_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-generating functions — the tokenization backbone.
    posexplode ↔ DuckDB's zipped parallel unnest with a 0-based range."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return d.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "token")
    )


@query(
    "fn_map",
    oracle="""
SELECT event_id,
       CASE WHEN json_valid(props) THEN
         (CASE WHEN json_type(props) = 'OBJECT'
               AND regexp_matches(props ->> '$.k',
                                  '^[\\x00-\\x20]*[+-]?[0-9]+[\\x00-\\x20]*$')
               THEN TRY_CAST(regexp_replace(props ->> '$.k',
                      '^[\\x00-\\x20]+|[\\x00-\\x20]+$', '', 'g')
                    AS INTEGER) END) END AS k_val,
       CASE WHEN json_valid(props) THEN
         (CASE WHEN json_type(props) = 'OBJECT'
               THEN len(json_keys(props)) END) END AS n_keys,
       CASE WHEN json_valid(props) THEN
         (CASE WHEN json_type(props) = 'OBJECT'
               THEN array_to_string(list_sort(json_keys(props)), ',') END) END AS key_list
FROM events WHERE event_id < 500
""",
)
def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map functions: parse the JSON props column into map<string,int>
    and operate on it (element_at / map_keys / size). Oracle reads the
    same values through DuckDB's JSON path functions.

    Malformed-JSON world (r9): a 100 TB event stream ships truncated /
    garbage / non-object props. Spark's from_json PERMISSIVE-NULLs
    them; the oracle mirrors with json_valid + json_type OBJECT guards
    (DuckDB's json functions ERROR on malformed input — lazy nested
    CASE keeps them unevaluated), and the value cast is try_cast on
    both engines (ANSI CAST of a non-numeric prop value aborts the
    job). Spark's try_cast string→int REJECTS decimal tokens ('3.7' →
    NULL) where DuckDB's TRY_CAST rounds ('3.7' → 4), and before
    parsing Spark trims EXACTLY the ASCII range ≤ 0x20 (including NUL
    and 0x1F; NOT unicode spaces — NBSP/U+2028 padding stays NULL,
    probe-verified r10) where DuckDB's cast trims only standard
    whitespace — so the oracle gates on an integral-token regexp with
    explicit [\\x00-\\x20] padding and strips that padding before its
    own TRY_CAST ('+5' → 5, '\\t8\\t' → 8, '\\x00 14' → 14 agree).
    Duplicate-key objects are OUT of the cross-engine contract
    (RFC 8259 leaves them unspecified; DuckDB keeps both keys where
    Spark's map dedups) — the world pins abort-safety only there."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    # map<string,STRING>, value cast after lookup: typing the whole
    # map as int makes from_json return NULL for the ENTIRE map the
    # moment props carries one non-int value (heterogeneous props are
    # the norm in event streams) — the oracle's ->> path extracts the
    # one key it needs and is unaffected by sibling value types
    m = F.from_json(F.col("props"), "map<string,string>")
    return ev.select(
        "event_id",
        # try_element_at: ANSI element_at throws on a missing map key,
        # but the oracle's ->> returns NULL — and general corpora have
        # heterogeneous props
        F.try_element_at(m, F.lit("k")).try_cast("int").alias("k_val"),
        F.size(F.map_keys(m)).cast("bigint").alias("n_keys"),
        F.array_join(F.sort_array(F.map_keys(m)), ",").alias("key_list"),
    )


@query(
    "fn_json",
    oracle="""
SELECT event_id,
       CASE WHEN json_valid(props) THEN props ->> '$.k' END AS k_str,
       CASE WHEN json_valid(props) THEN
         (CASE WHEN json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
               THEN TRY_CAST(props ->> '$.k' AS INTEGER) END) END AS k_int,
       CASE WHEN json_valid(props)
            THEN CAST(props ->> '$.missing' AS VARCHAR) END AS absent,
       CASE WHEN json_valid(props) THEN
         (CASE WHEN json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
               THEN TRY_CAST(props ->> '$.k' AS INTEGER) END) END % 10
         AS k_bucket
FROM events WHERE event_id < 500
""",
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction: get_json_object / from_json-to-struct paths.

    Malformed-JSON world (r9): Spark's get_json_object/from_json
    return NULL on malformed or wrong-typed input; DuckDB's ->> path
    ERRORS on malformed JSON and its ANSI CAST aborts on a non-numeric
    value — the oracle mirrors Spark's null-on-bad-input semantics
    with json_valid guards and TRY_CAST. from_json(struct<k:int>) is
    STRICTLY typed: it NULLs quoted-string numbers ('"7"'), decimals
    (3.7 AND 7.0), booleans, and beyond-int32 numbers (probe-verified
    r10) — where DuckDB's bare TRY_CAST(->> ...) would parse '7' → 7
    and round '3.7' → 4 — so the oracle additionally gates k_int /
    k_bucket on json_type(props,'$.k') IN ('BIGINT','UBIGINT'), after
    which TRY_CAST supplies the matching int32-overflow → NULL."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    k_struct = F.from_json(F.col("props"), "struct<k:int>")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        k_struct.getField("k").alias("k_int"),
        F.get_json_object("props", "$.missing").alias("absent"),
        (k_struct.getField("k") % 10).alias("k_bucket"),
    )


@query(
    "fn_hash",
    oracle="""
SELECT doc_id,
       md5(text)                                AS text_md5,
       sha256(concat_ws('|', lang, source))     AS meta_sha,
       left(md5(source || text), 8)             AS bucket_hex
FROM documents WHERE doc_id < 500
""",
)
def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable hashes (md5 / sha256 agree across engines) — stable
    dedup keys and ids. The oracle concatenates with ``||`` (not
    DuckDB concat, which skips NULL args) so a NULL field nulls the
    hash on both engines instead of silently hashing the remainder."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return d.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2(F.concat_ws("|", "lang", "source"), 256).alias("meta_sha"),
        F.left(F.md5(F.concat("source", "text")), F.lit(8)).alias("bucket_hex"),
    )


@query("fn_hash_engine")  # rows-only: xxhash64/crc32 are engine-specific
def fn_hash_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native hashes (xxhash64, crc32, murmur3) — the fast
    shuffle/dedup keys at 100 TB scale. No cross-engine oracle exists;
    local tests assert determinism across runs."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.xxhash64("text").alias("text_xx64"),
        F.crc32(F.col("text").cast("binary")).alias("text_crc"),
        F.hash("text").alias("text_murmur"),
    )


@query(
    "fn_bitwise",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_linenumber & 5        AS b_and,
       l_linenumber | 9        AS b_or,
       xor(l_linenumber, 3)    AS b_xor,
       CASE WHEN l_linenumber >= 0 THEN l_linenumber << 2 END AS b_shl,
       CASE WHEN l_linenumber >= 0 THEN l_linenumber >> 1 END AS b_shr,
       ~l_linenumber           AS b_not
FROM lineitem WHERE l_orderkey < 100
""",
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar operators (&, |, ^, shifts, complement) — the
    flag-mask toolkit. Two's-complement semantics agree across
    engines on INTEGER for &, |, ^ and ~; SHIFTS of a NEGATIVE value
    do NOT (DuckDB raises Out of Range on `-1 << k` where Spark
    shifts arithmetically — negative-ID world, r9), so shifts are
    defined on the non-negative domain and NULL elsewhere, mirrored
    in the oracle's CASE."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    ln = F.col("l_linenumber")
    nonneg = ln >= 0
    return li.select(
        "l_orderkey",
        "l_linenumber",
        ln.bitwiseAND(F.lit(5)).alias("b_and"),
        ln.bitwiseOR(F.lit(9)).alias("b_or"),
        ln.bitwiseXOR(F.lit(3)).alias("b_xor"),
        F.when(nonneg, F.shiftleft(ln, 2)).alias("b_shl"),
        F.when(nonneg, F.shiftright(ln, 1)).alias("b_shr"),
        F.bitwise_not(ln).alias("b_not"),
    )


@query(
    "fn_explode_outer",
    oracle="""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x LIKE 's%') AS stoks
  FROM documents WHERE doc_id < 300)
SELECT doc_id,
       unnest(CASE WHEN stoks IS NULL OR len(stoks) = 0
                   THEN [CAST(NULL AS VARCHAR)]
                   ELSE stoks END) AS stok
FROM t
""",
)
def fn_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-preserving explode (explode_outer): documents with NO
    matching tokens still emit one row with a NULL token — the shape
    for 'keep every parent row' joins against token-level derivations.
    DuckDB has no outer unnest; the oracle emulates it with a CASE that
    substitutes [NULL] for the empty list AND for a NULL list (a NULL
    text row): Spark's explode_outer keeps the parent row in both
    cases, while raw unnest(NULL) would drop it."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    stoks = F.filter(
        F.split(F.col("text"), " "), lambda x: x.startswith("s")
    )
    return d.select("doc_id", F.explode_outer(stoks).alias("stok"))


@query(
    "fn_try",
    oracle="""
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice / (l_linenumber - 3), 4) + 0.0 AS safe_div,
       CASE WHEN regexp_matches(l_returnflag,
                 '^[\\x00-\\x20]*[+-]?[0-9]+[\\x00-\\x20]*$')
            THEN TRY_CAST(regexp_replace(l_returnflag,
                   '^[\\x00-\\x20]+|[\\x00-\\x20]+$', '', 'g')
                 AS INTEGER) END                      AS flag_int,
       TRY_CAST(trunc(l_quantity) AS INTEGER)         AS qty_int
FROM lineitem WHERE l_orderkey < 200
""",
)
def fn_try(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_* error-safe functions — ANSI mode makes /0 and bad casts
    runtime ERRORS, so general pipelines over dirty data need the try_
    family (NULL instead of job abort). DuckDB's plain division already
    yields NULL on /0. TRY_CAST is NOT a drop-in mirror of try_cast
    (r10, generalizing the fn_map/fn_variant advice class): Spark's
    double→int cast TRUNCATES where DuckDB's rounds (oracle truncs
    explicitly — NaN/inf/overflow still NULL on both), and Spark's
    string→int parse accepts only integral tokens after trimming
    exactly ASCII [\\x00-\\x20] (oracle gates + strips the same way;
    dormant on this corpus's enum flags and integral quantities, but
    a 100 TB feed will ship '3.7'-shaped strings where the engines
    disagree by round-vs-NULL)."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        # + 0.0 normalizes the IEEE -0.0 a zero numerator gets over a
        # negative divisor (DuckDB round keeps the sign, Spark drops it)
        (
            F.round(
                F.try_divide(
                    F.col("l_extendedprice"), F.col("l_linenumber") - 3
                ),
                4,
            )
            + 0.0
        ).alias("safe_div"),
        F.col("l_returnflag").try_cast("int").alias("flag_int"),
        F.col("l_quantity").try_cast("int").alias("qty_int"),
    )


@query(
    "fn_url",
    oracle="""
SELECT c_custkey,
       CASE WHEN c_mktsegment IS NULL THEN NULL
            ELSE 'https' END AS proto,
       CASE WHEN c_mktsegment IS NULL THEN NULL
            ELSE 'archive.example.org' END AS host,
       '/' || lower(c_mktsegment) || '/doc' AS path,
       CASE WHEN c_mktsegment IS NULL THEN NULL
            ELSE 'id=' || c_custkey || '&page=' || (c_custkey % 7) END AS query,
       CASE WHEN c_mktsegment IS NULL THEN NULL
            ELSE CAST(c_custkey % 7 AS VARCHAR) END AS page,
       replace(lower(c_mktsegment), 'a', '%61') AS seg_encoded
FROM customer WHERE c_custkey <= 200
""",
)
def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing/encoding surface: parse_url component extraction
    (PROTOCOL / HOST / PATH / QUERY and keyed query-parameter lookup)
    plus percent-encoding. URLs are constructed from customer columns,
    so the oracle re-derives each component from the same inputs —
    Spark's parser is checked against ground truth, not against
    another parser. JVM-side expressions throughout (parse_url,
    url_encode): a pure map stage, no shuffle.

    (url_encode output is pinned via a single-character 'a'→%61 case:
    portable across engines, unlike full-string encoding where space
    → '+' vs '%20' conventions differ. A NULL segment nulls the whole
    constructed URL — Spark concat propagates — so every extracted
    component is NULL; the oracle's CASE arms mirror that for the
    components whose ground-truth expression would otherwise be a
    non-null literal.)"""
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    seg = F.lower(F.col("c_mktsegment"))
    url = F.concat(
        F.lit("https://archive.example.org/"),
        seg,
        F.lit("/doc?id="),
        F.col("c_custkey").cast("string"),
        F.lit("&page="),
        (F.col("c_custkey") % 7).cast("string"),
    )
    return c.select(
        "c_custkey",
        F.parse_url(url, F.lit("PROTOCOL")).alias("proto"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("page")).alias("page"),
        F.regexp_replace(seg, "a", "%61").alias("seg_encoded"),
    )


@query(
    "fn_struct",
    oracle="""
SELECT o_orderkey,
       struct_extract(struct_pack(prio := o_orderpriority,
                                  price := o_totalprice), 'price') AS price_back,
       struct_extract(struct_pack(prio := o_orderpriority,
                                  price := o_totalprice), 'prio')  AS prio_back,
       CASE WHEN o_orderstatus IS NULL OR o_orderpriority IS NULL THEN NULL
            ELSE ((o_orderstatus, o_orderpriority) < ('O', '3-MEDIUM')) END
         AS lt_probe,
       CASE WHEN o_orderstatus IS NULL OR o_orderpriority IS NULL THEN NULL
            ELSE ((o_orderstatus, o_orderpriority) = ('F', '1-URGENT')) END
         AS eq_probe
FROM orders WHERE o_orderkey <= 2000
""",
)
def fn_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct (row-value) surface: named-struct construction, field
    extraction back out, and lexicographic struct comparison (`<` and
    `=`) against a literal row value — the semantics SQL row-value
    comparisons define (a,b) < (x,y) ⇔ a<x OR (a=x AND b<y), which is
    what both Spark struct ordering and DuckDB struct comparison
    implement.

    Struct columns are flattened by Tungsten into the same unsafe-row
    layout as top-level columns, so none of this leaves whole-stage
    codegen — a pure map stage, no shuffle. (Output keeps only scalar
    columns: cross-engine STRUCT cell encodings differ, the probes
    don't.)"""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    s = F.struct(
        F.col("o_orderpriority").alias("prio"), F.col("o_totalprice").alias("price")
    )
    probe = F.struct(F.col("o_orderstatus"), F.col("o_orderpriority"))
    # Spark struct comparison is an ORDERING (NULL fields sort first,
    # the result is never NULL) while SQL row-value comparison is
    # three-valued — the engines genuinely diverge on NULL fields.
    # Policy, applied identically on both sides: any NULL field in
    # the probe makes the comparison NULL.
    any_null = F.col("o_orderstatus").isNull() | F.col("o_orderpriority").isNull()
    return o.select(
        "o_orderkey",
        s.getField("price").alias("price_back"),
        s.getField("prio").alias("prio_back"),
        F.when(~any_null, probe < F.struct(F.lit("O"), F.lit("3-MEDIUM"))).alias(
            "lt_probe"
        ),
        F.when(~any_null, probe == F.struct(F.lit("F"), F.lit("1-URGENT"))).alias(
            "eq_probe"
        ),
    )


@query(
    "fn_format",
    oracle="""
SELECT o_orderkey,
       CASE WHEN isfinite(o_totalprice) THEN
         CASE WHEN o_totalprice < 0 THEN '-' ELSE '' END ||
         format('{:,}', CAST(floor(abs(o_totalprice)) AS BIGINT)) || '.' ||
           lpad(CAST(CAST(round((abs(o_totalprice) - floor(abs(o_totalprice))) * 100)
                     AS BIGINT) AS VARCHAR), 2, '0') END        AS price_fmt,
       printf('%05d|%s', o_orderkey, o_orderstatus)             AS key_tag,
       printf('%.1f%%', 100.0 * o_orderkey / 3000)              AS pct_tag,
       printf('%x', o_orderkey)                                 AS key_hex
FROM orders WHERE o_orderkey <= 500
""",
)
def fn_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Number/string formatting surface: locale-style thousands
    grouping (format_number) and C-style printf (format_string /
    hex / fixed-width zero-pad / percent).

    Portability note: format_number(2 decimals) over already-2-decimal
    money never hits a rounding tie, so Spark's HALF_UP vs fmt's
    HALF_EVEN divergence cannot fire — the same
    exact-representability discipline the decimal/median oracles use.
    The oracle's grouped-integer + 2-digit-fraction decomposition runs
    on abs() with the sign prepended: floor(-1000.1) is -1001 with
    fractional part .9, which would render the NEGATIVE money as
    '-1,001.90' (flat-world catch). Pure codegen'd projection, no
    shuffle."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500)
    return o.select(
        "o_orderkey",
        # a non-finite price has no money rendering: Spark would
        # print the '\ufffdNaN\ufffd'-style token while the oracle's
        # BIGINT path errors — NULL on both engines instead
        # + 0.0 normalizes IEEE -0.0 before rendering: format_number
        # would print '-0.00' where the oracle's sign test sees >= 0
        F.when(
            finite("o_totalprice"), F.format_number(F.col("o_totalprice") + 0.0, 2)
        ).alias("price_fmt"),
        # Java's Formatter renders a NULL %s as the string "null";
        # DuckDB printf returns NULL — emit NULL explicitly for NULL
        # args so a dirty row doesn't mint a literal "null" tag
        F.when(
            F.col("o_orderstatus").isNotNull(),
            F.format_string("%05d|%s", F.col("o_orderkey"), F.col("o_orderstatus")),
        ).alias("key_tag"),
        F.format_string(
            "%.1f%%", F.lit(100.0) * F.col("o_orderkey") / F.lit(3000)
        ).alias("pct_tag"),
        F.format_string("%x", F.col("o_orderkey")).alias("key_hex"),
    )


@query(
    "fn_base64",
    oracle="""
SELECT c_custkey,
       to_base64(encode(c_name))                     AS name_b64,
       decode(from_base64(to_base64(encode(c_name)))) AS roundtrip,
       hex(encode(c_mktsegment))                     AS seg_hex,
       decode(unhex(hex(encode(c_mktsegment))))      AS seg_back
FROM customer WHERE c_custkey <= 300
""",
)
def fn_base64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary↔text codecs: base64 and hex encode/decode round-trips
    over string payloads — the serialization glue for shipping binary
    features (embeddings, thumbnails) through text-typed transports.
    Pure codegen'd projections; both engines implement RFC 4648 /
    straight hex so the encodings are bit-equal. The oracle converts
    VARCHAR↔BLOB via encode()/decode() — DuckDB's ::BLOB cast REJECTS
    non-ASCII payloads outright."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 300)
    name_bin = F.col("c_name").cast("binary")
    seg_bin = F.col("c_mktsegment").cast("binary")
    return c.select(
        "c_custkey",
        F.base64(name_bin).alias("name_b64"),
        F.unbase64(F.base64(name_bin)).cast("string").alias("roundtrip"),
        F.hex(seg_bin).alias("seg_hex"),
        F.unhex(F.hex(seg_bin)).cast("string").alias("seg_back"),
    )


_XML_ROWS = [
    (1, "<rec><title>Spark at scale</title><year>2024</year><cites>12</cites></rec>"),
    (2, "<rec><title>Dedup &amp; LSH</title><year>2021</year><cites>5</cites></rec>"),
    (3, "<rec><title>Untitled</title></rec>"),
]


@query(
    "fn_xml",
    oracle="""
SELECT * FROM (VALUES
  (1, 'Spark at scale', 2024, 12, 'Spark at scale'),
  (2, 'Dedup & LSH', 2021, 5, 'Dedup & LSH'),
  (3, 'Untitled', NULL, NULL, 'Untitled')
) t(id, title, year, cites, xp_title)
""",
)
def fn_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion functions (the bibliographic-export format every
    systematic-review database also speaks): from_xml with an explicit
    schema (entity decoding, missing elements → NULL, numeric
    coercion) plus the xpath_* accessor family on the same payload.
    Literal-oracle contract like src_csv_quoted: the expected relation
    is frozen as VALUES, so any parser drift (entity handling, null
    coercion) fails the diff. Both functions are row-local projections
    — codegen, no shuffle."""
    df = spark.createDataFrame(_XML_ROWS, "id int, xml string")
    return df.select(
        "id",
        F.from_xml("xml", "title STRING, year INT, cites INT").alias("r"),
        F.xpath_string("xml", F.lit("/rec/title")).alias("xp_title"),
    ).select(
        "id",
        F.col("r.title").alias("title"),
        F.col("r.year").alias("year"),
        F.col("r.cites").alias("cites"),
        "xp_title",
    )


_AUTHOR_ROWS = [
    (0, "Smith"), (1, "Smyth"), (2, "Johnson"), (3, "Jonsen"),
    (4, "Garcia"), (5, "Gracia"), (6, "Lee"), (7, "Leigh"),
]


@query(
    "fn_phonetic",
    oracle="""
SELECT * FROM (VALUES
  (0, 'Smith', 'S530'), (1, 'Smyth', 'S530'),
  (2, 'Johnson', 'J525'), (3, 'Jonsen', 'J525'),
  (4, 'Garcia', 'G620'), (5, 'Gracia', 'G620'),
  (6, 'Lee', 'L000'), (7, 'Leigh', 'L200')
) t(id, name, sx)
""",
)
def fn_phonetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic encoding (soundex) — the classic author-name blocking
    key for bibliographic dedup: Smith/Smyth and Johnson/Jonsen
    collapse to one code, so records block together before an
    edit-distance verify (dedup_biblio's block key, upgraded for name
    fields). DuckDB has no soundex, so the contract is a frozen
    literal oracle (the fn_xml pattern): any drift in Spark's
    American-Soundex table fails the diff. Row-local codegen
    projection — the blocking join it feeds is dedup_biblio's."""
    df = spark.createDataFrame(_AUTHOR_ROWS, "id int, name string")
    return df.select("id", "name", F.soundex("name").alias("sx"))


_BROUND_VALS = [0.5, 1.5, 2.5, 3.5, -0.5, -1.5, -2.5, 2.25, 6.25]


@query(
    "fn_bround",
    oracle="""
WITH v AS (SELECT unnest([0.5, 1.5, 2.5, 3.5, -0.5, -1.5, -2.5, 2.25, 6.25]::DOUBLE[]) AS x)
SELECT x,
       round_even(x, 0) + 0.0 AS banker_0,
       round_even(x * 10, 0) / 10 + 0.0 AS banker_1_shifted
FROM v
""",
)
def fn_bround(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BANKER'S ROUNDING (half-to-even) parity — the rounding mode
    financial aggregation requires because half-away accumulates
    upward bias over millions of rows: Spark bround ≡ DuckDB
    round_even on IEEE-exact tie values (0.5→0, 1.5→2, 2.5→2, ties
    chosen so the doubles are binary-exact — 2.35 is NOT a real tie
    in binary and would mislead). Sub-integer scales round via an
    exact power-of-ten shift so both engines face the identical tie.
    +0.0 folds −0.0. Row-local; the money-sum twin of
    agg_decimal_exact."""
    vals = spark.createDataFrame([(v,) for v in _BROUND_VALS], "x double")
    return vals.select(
        "x",
        (F.bround(F.col("x"), 0) + 0.0).alias("banker_0"),
        (F.bround(F.col("x") * 10, 0) / 10 + 0.0).alias("banker_1_shifted"),
    )
