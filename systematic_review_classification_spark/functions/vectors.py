"""Vector math over array columns, shared by the embedding operators.

``dbl(v)`` widens every element to DOUBLE; ``total(v)`` is the
component sum, ``sqnorm(v)`` the sum of squares and ``norm(v)`` its
square root; ``dot(a, b)`` and ``sqdist(a, b)`` fold two arrays
position by position.

Every fold starts from ``0D`` and adds left to right, so on a non-empty
list it equals DuckDB's ``list_reduce(..., (a, b) -> a + b)`` mirror in
the oracles (``0.0 + x == x`` exactly). The edge cases follow Spark's
higher-order functions: a NULL array gives NULL, an empty array gives
0.0 (where ``list_reduce`` raises), a NULL element gives NULL, and
arrays of different lengths give NULL for ``dot`` and ``sqdist``
(``zip_with`` pads the shorter one with NULL).

Arguments are SQL text: a column name, a ``struct.field`` path or any
array expression. Each helper is one ``F.expr``, parsed once on the
JVM, instead of a lambda chain built column by column over py4j (see
tests/test_build_budget.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _fold(v: str) -> str:
    return f"aggregate({v}, 0D, (s, x) -> s + x)"


def _sq_sum(v: str) -> str:
    return _fold(f"transform({v}, x -> x * x)")


def dbl(v: str) -> Column:
    """``v`` with every element cast to DOUBLE."""
    return F.expr(f"transform({v}, x -> CAST(x AS DOUBLE))")


def total(v: str) -> Column:
    """Sum of the elements of ``v``."""
    return F.expr(_fold(v))


def sqnorm(v: str) -> Column:
    """Sum of the squared elements of ``v``."""
    return F.expr(_sq_sum(v))


def norm(v: str) -> Column:
    """Euclidean length of ``v``."""
    return F.expr(f"sqrt({_sq_sum(v)})")


def dot(a: str, b: str) -> Column:
    """Dot product of ``a`` and ``b``."""
    return F.expr(_fold(f"zip_with({a}, {b}, (x, y) -> x * y)"))


def sqdist(a: str, b: str) -> Column:
    """Squared Euclidean distance between ``a`` and ``b``."""
    return F.expr(_fold(f"zip_with({a}, {b}, (x, y) -> (x - y) * (x - y))"))
