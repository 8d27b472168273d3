"""NULL hazards handled in the helper that creates them.

* ``ranks.global_prefix_min_excl``: Spark sorts NULL order keys first,
  so a NULL-key row must not feed the other rows' prefix min
  (``wl_pareto_frontier``'s NULL-price parts).
* ``predicates.hashed_sets``: a NULL token hashes to a real value that
  the per-hash min/max tokens do not see, so it must force the string
  fallback, as must a collision between two real tokens.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from systematic_review_classification_spark.functions import predicates
from systematic_review_classification_spark.functions.ranks import (
    global_prefix_min_excl,
)
from systematic_review_classification_spark.functions.predicates import hashed_sets
from tests.harness import check_keys, write_tables


def test_prefix_min_skips_null_order_keys(spark):
    df = spark.createDataFrame(
        [(None, 0), (1, 5), (2, 3), (3, 9), (4, None)], "k int, v int"
    )
    got = global_prefix_min_excl(df, "v", F.col("k")).select("k", "pmin")
    assert sorted(got.collect(), key=lambda r: (r.k is not None, r.k)) == [
        (None, None), (1, None), (2, 5), (3, 3), (4, 3)
    ]


def test_pareto_frontier_null_price_and_null_size(spark, tmp_path):
    from systematic_review_classification_spark import all_queries

    # part 3: NULL price, a size below every other; part 4: the
    # converse. Neither dominates nor is dominated; part 5 is
    # dominated by part 2.
    d = write_tables(spark, tmp_path, {"part": [
        (1, "A", 10.0, 5), (2, "B", 20.0, 3), (3, "C", None, 1), (4, "D", 15.0, None),
        (5, "E", 25.0, 4),
    ]}, "file", cols={"part": ["p_partkey", "p_brand", "p_retailprice", "p_size"]})
    key = "wl_pareto_frontier"
    df = all_queries()[key](spark, d)
    assert sorted(r.p_partkey for r in df.collect()) == [1, 2, 3, 4]
    assert not check_keys(spark, d, [key])


def test_hashed_sets_keeps_strings_when_a_token_is_null(spark):
    schema = "id int, toks array<string>"
    dirty = spark.createDataFrame([(1, ["a", None, "b"]), (2, ["a", "c"])], schema)
    clean = spark.createDataFrame([(1, ["a", "b"]), (2, ["a", "c"])], schema)
    assert dict(hashed_sets(dirty, "toks").dtypes)["toks"] == "array<string>"
    assert dict(hashed_sets(clean, "toks").dtypes)["toks"] == "array<bigint>"


def test_null_token_cannot_mask_a_collision(spark, monkeypatch):
    # A stand-in hash where "a" and "b" collide and NULL hashes to a
    # fresh value, as xxhash64(NULL) does: distinct tokens {a, b} and
    # distinct hashes {1, 42} count the same, so only the NULL count
    # shows that hashing would merge "a" and "b".
    monkeypatch.setattr(
        predicates.F,
        "xxhash64",
        lambda c: F.coalesce(F.length(c).cast("bigint"), F.lit(42).cast("bigint")),
    )
    df = spark.createDataFrame([(1, ["a", None]), (2, ["b"])], "id int, toks array<string>")
    assert dict(hashed_sets(df, "toks").dtypes)["toks"] == "array<string>"


def test_pure_collision_keeps_strings(spark, monkeypatch):
    # A stand-in hash under which "a" and "b" collide, with no NULL
    # token anywhere: only the collision itself can keep the strings.
    monkeypatch.setattr(predicates.F, "xxhash64", lambda c: F.length(c).cast("bigint"))
    df = spark.createDataFrame([(1, ["a", "cc"]), (2, ["b"])], "id int, toks array<string>")
    assert dict(hashed_sets(df, "toks").dtypes)["toks"] == "array<string>"
