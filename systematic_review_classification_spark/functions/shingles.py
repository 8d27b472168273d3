"""Word-bigram shingles shared by the shingle near-dup keys.

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

Both are SQL text: one parse on the JVM instead of ~100 py4j round
trips to build the lambda chain column by column (see
tests/test_build_budget.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def bigram_shingles(text: str) -> Column:
    """Distinct word bigrams of column ``text`` as ``array<string>``."""
    t = f"split(`{text}`, ' ')"
    return F.expr(
        f"array_distinct(filter(zip_with({t}, slice({t}, 2, greatest(size({t}) - 1, 1)),"
        " (a, b) -> CASE WHEN b IS NULL THEN NULL ELSE concat(a, '_', b) END),"
        " x -> x IS NOT NULL))"
    )


def has_bigram(text: str) -> Column:
    """TRUE iff ``bigram_shingles(text)`` is non-empty: at least two
    tokens."""
    return F.expr(f"size(split(`{text}`, ' ')) > 1")
