"""Adjacent-token pairs and the word-bigram shingles built from them.

``adjacent_pairs(tokens, combine)`` — ``combine`` applied to each
adjacent pair of an array, in order: ``n`` elements give ``n − 1``
pairs, fewer than two give an empty array and a NULL array gives NULL.
``bigram_shingles(text)`` — the distinct ``tok_i || '_' || tok_{i+1}``
bigrams of ``split(text, ' ')``; ``has_bigram(text)`` — TRUE iff that
set is non-empty.

Filter rows with ``has_bigram``, not ``size(bigram_shingles(t)) > 0``:
Catalyst pushes the filter below the projection that computes the
shingles and inlines the interpreted ``zip_with``/``filter``/
``array_distinct`` chain into it, so every row built its shingles
twice. The two forms agree row for row: ``split`` of a non-NULL string
yields non-NULL tokens, so ``n`` tokens give ``n − 1`` bigrams, and
NULL text is NULL (dropped) in both. Oracles mirror the shingles with
DuckDB's ``list_zip`` chain and keep ``len(grams) > 0``.

All are SQL text: one parse on the JVM instead of ~100 py4j round
trips to build the lambda chain column by column (see
tests/test_build_budget.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _pairs(t: str, combine: str) -> str:
    return (
        f"filter(zip_with({t}, slice({t}, 2, greatest(size({t}) - 1, 1)),"
        f" (a, b) -> CASE WHEN b IS NULL THEN NULL ELSE {combine} END),"
        " x -> x IS NOT NULL)"
    )


def adjacent_pairs(tokens: str, combine: str) -> Column:
    """``combine`` — SQL text over ``a`` and its successor ``b``, e.g.
    ``"concat(a, '_', b)"`` or ``"named_struct('w1', a, 'w2', b)"`` —
    for each adjacent pair of the array ``tokens`` (SQL text: a column
    name or an array expression). The array zips with its own shift;
    the NULL-padded tail pair is dropped, so ``tokens`` must hold no
    NULL elements."""
    return F.expr(_pairs(tokens, combine))


def bigram_shingles(text: str) -> Column:
    """Distinct word bigrams of column ``text`` as ``array<string>``."""
    grams = _pairs(f"split(`{text}`, ' ')", "concat(a, '_', b)")
    return F.expr(f"array_distinct({grams})")


def has_bigram(text: str) -> Column:
    """TRUE iff ``bigram_shingles(text)`` is non-empty: at least two
    tokens."""
    return F.expr(f"size(split(`{text}`, ' ')) > 1")
