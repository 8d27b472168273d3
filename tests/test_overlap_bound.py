"""Exactness of ``predicates.overlap_pairs``, the hashed-bound filter
that the shingle near-dup keys verify on strings.

The join keeps a pair on an upper bound of ``|A ∩ B|`` computed over
``xxhash64`` ids, falling back to ``least(|A|, |B|)`` when hashing
may have merged elements on both sides. A hash that collides freely
(string length) must therefore change no result: not the converted
keys' output against their DuckDB oracles, and not the pairs a direct
call returns against a brute-force join on the exact count.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from systematic_review_classification_spark.functions import predicates
from systematic_review_classification_spark.functions.predicates import overlap_pairs
from tests.harness import check_keys, write_tables

KEYS = ("txt_containment", "dedup_ngram_jaccard")

# (doc_id, text, source). Single-letter tokens make bigrams of one
# length, so a length hash merges them all: docs 1, 2 and 5 have no
# injective side, and 2 contains 1 only on the exact count. Docs 3 and 4
# have bigrams of distinct lengths, so the length hash is injective on
# them. Docs 6-8 have no bigram (NULL, one token, empty); 9 and 10 are
# the one bigram "_"; 11 repeats 1 in another block; 12 has no block.
DOCS = [
    (1, "a b c d e f g h i j", "s0"),
    (2, "a b c d e f g h i j k", "s0"),
    (3, "a bb ccc dddd eeeee", "s0"),
    (4, "a bb ccc dddd eeeee x y", "s0"),
    (5, "x y a b c", "s0"),
    (6, None, "s0"),
    (7, "single", "s0"),
    (8, "", "s0"),
    (9, " ", "s0"),
    (10, " ", "s0"),
    (11, "a b c d e f g h i j", "s1"),
    (12, "a b c d e f g h i j", None),
]
NO_BIGRAM = {6, 7, 8}


def _length_hash(c):
    return F.length(c).cast("bigint")


@pytest.fixture(scope="module")
def docs_dir(spark, tmp_path_factory):
    rows = [(i, text, "en", source, len(text or "")) for i, text, source in DOCS]
    return write_tables(spark, tmp_path_factory.mktemp("overlap_docs"), {"documents": rows},
                        "file")


def _check_key(spark, docs_dir, key):
    from systematic_review_classification_spark import all_queries

    assert not check_keys(spark, docs_dir, [key])
    return {(r.id1, r.id2) for r in all_queries()[key](spark, docs_dir).collect()}


@pytest.mark.parametrize("key", KEYS)
def test_colliding_hash_keeps_key_exact(spark, docs_dir, key, monkeypatch):
    monkeypatch.setattr(predicates.F, "xxhash64", _length_hash)
    pairs = _check_key(spark, docs_dir, key)
    assert (1, 2) in pairs, pairs  # kept only through the least() fallback


@pytest.mark.parametrize("key", KEYS)
def test_bigram_less_docs_drop_on_both_engines(spark, docs_dir, key):
    pairs = _check_key(spark, docs_dir, key)
    assert (9, 10) in pairs, pairs  # a lone space is one bigram, "_"
    assert not {i for p in pairs for i in p} & NO_BIGRAM, pairs


@pytest.mark.parametrize("hashed", ["xxhash64", "length"])
def test_bound_never_drops_a_verified_pair(spark, monkeypatch, hashed):
    # In-row collisions ("a"/"b" under the length hash), a duplicate
    # element, NULL elements and a NULL set: the pairs kept must be the
    # pairs an exact intersect over every candidate keeps.
    if hashed == "length":
        monkeypatch.setattr(predicates.F, "xxhash64", _length_hash)
    df = spark.createDataFrame(
        [
            (1, ["a", "b"]),
            (2, ["a", "b", "cc"]),
            (3, ["a", None, "ddd"]),
            (4, [None]),
            (5, ["a", "a", "b"]),
            (6, None),
            (7, ["b", "a", "cc", "ddd"]),
        ],
        "id int, s array<string>",
    )

    def subset(nc, n1, n2):  # a ⊆ b
        return nc >= n1

    on = F.col("a.id") != F.col("b.id")
    got = overlap_pairs(
        df, "s", on, subset, F.col("a.id").alias("i"), F.col("b.id").alias("j")
    )
    a, b = df.alias("a"), df.alias("b")
    want = a.join(b, on).select(
        F.col("a.id").alias("i"),
        F.col("b.id").alias("j"),
        F.size(F.array_intersect("a.s", "b.s")).alias("nc"),
        F.size("a.s").alias("n1"),
        F.size("b.s").alias("n2"),
    ).filter(subset(F.col("nc"), F.col("n1"), F.col("n2")))
    got_rows = sorted(tuple(r) for r in got.collect())
    assert got_rows == sorted(tuple(r) for r in want.collect())
    assert (1, 2, 2, 2, 3) in got_rows and (4, 3, 1, 1, 3) in got_rows, got_rows
