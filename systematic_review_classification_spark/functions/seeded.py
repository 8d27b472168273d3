"""Seeded md5 hashing: deterministic pseudo-random draws that both
engines compute bit for bit.

``md5_u32(*parts)`` is the first 32 bits of ``md5(concat(parts))`` as a
BIGINT in ``[0, 2^32)``; ``md5_uniform(*parts)`` maps it to
``((u32 % 1000000) + 0.5) / 1000001`` in the open interval (0, 1), a
DOUBLE never exactly 0 or 1, so ``ln(u)`` and inverse CDFs stay finite.
Oracles mirror the hash as ``CAST('0x' || substring(md5(...), 1, 8) AS
BIGINT)``. ``concat`` propagates NULL, so a NULL part makes the draw
NULL on both engines.

Parts are SQL text: column names, expressions or quoted literals (the
salt, e.g. ``"'dp:'"``); ``concat`` turns non-string parts into their
string form. Each helper is one ``F.expr``, parsed once on the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _u32(parts: tuple[str, ...]) -> str:
    return f"CAST(conv(substring(md5(concat({', '.join(parts)})), 1, 8), 16, 10) AS BIGINT)"


def md5_u32(*parts: str) -> Column:
    """First 8 hex digits of ``md5(concat(parts))`` as a BIGINT."""
    return F.expr(_u32(parts))


def md5_uniform(*parts: str) -> Column:
    """``md5_u32(parts)`` mapped to a DOUBLE in (0, 1)."""
    return F.expr(f"({_u32(parts)} % 1000000 + 0.5D) / 1000001.0D")
