"""Table loaders for the test star schema (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file (or a directory of part files)
each under an sf dir.

Relation memo
-------------
Inferring a parquet schema starts one Spark job to read the footers,
and most queries load the same few tables again and again. ``load``
therefore remembers, per SparkSession, each table path's resolved
relation and its drift-checked repairs (the events.ts normalization
and the canonical-width casts below). A repeat ``load`` of an
unchanged path wraps a fresh copy of the remembered relation in a new
DataFrame: no job, no reader, no file listing, no schema round trip
through JSON (9.5 → 1.6 ms per ``load``), and it applies the
remembered repairs without asking Spark for ``dtypes`` again.

* What is cached: the JVM logical plan of the first read, i.e. the
  parquet relation with its inferred schema and its file index (the
  listing of the path's files), plus the repair list; never rows.
  Every call returns a NEW DataFrame over ``relation.newInstance()``,
  which carries fresh attribute ids, so a query may load the same
  table twice and self-join it.
* What invalidates it: the path's fingerprint, ``(name, size,
  mtime_ns, inode)`` of the file, or of every file under a
  ``{t}.parquet/`` directory. A rewrite, an added or removed part file
  or a replaced directory misses, re-lists and re-infers. A path that
  cannot be ``os.stat``-ed (``hdfs://``, ``s3a://``) bypasses the memo.
* Scope: one memo per session object, created on first use. A new
  session, also one built after ``spark.stop()``, starts empty.
* A miss runs the full inference and drift check; a drift
  ``ValueError`` is never memoized, so it is raised on every call.
* Entries are immutable and stored whole, and the fingerprint is taken
  before the read it validates, so concurrent or racing loads can only
  repeat an inference, never pair a relation with a newer fingerprint.

events.ts
---------
The only table needing special handling is ``events``: its ``ts``
column is parquet TIMESTAMP(NANOS). How Spark surfaces that type has
DRIFTED across environments — observed variants:

* inferred read → ``timestamp_ntz`` already truncated ns → µs
  (current behavior; matches DuckDB's native ns → µs truncation);
* ``nanosAsLong=true`` honored → bigint NANOseconds (older behavior);
* explicit ``LongType`` schema → bigint MICROseconds (current
  behavior — the reader truncates before widening to long!).

So no code path may assume a fixed unit for a bigint ``ts``. The guard
below keys on the observed dtype and, for bigint, on magnitude:
µs-epoch for this dataset ≈ 1.7e15, ns-epoch ≈ 1.7e18, so 1e17 cleanly
separates them (it would misread only dates past year 5138). The
conversion uses *truncating* integer division (``div``) to match
DuckDB; float division would lose precision (ns epoch > 2^53) and
round. See SURVEY.md §1.4.1 and
tests/test_invariants.py::test_events_ts_sanity.
"""

from __future__ import annotations

import os
import stat
import weakref
from typing import NamedTuple

from py4j.java_gateway import JavaObject
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from systematic_review_classification_spark.session import ensure_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Tiny dimension tables: always safe (and profitable) to broadcast.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})


# bigint epochs below this are µs, above ns (2024 ≈ 1.7e15 µs / 1.7e18 ns)
_NS_MAGNITUDE_CUTOFF = 10**17


# Canonical logical types for every SCALAR numeric column (TESTDATA.md
# schema). At 100 TB the engine never owns its inputs: upstream
# re-exports drift to narrower physical widths (pandas int64 → int32
# when values fit, REAL instead of DOUBLE, smallint lengths). The
# schema-drift world (``schemadrift`` in tests/worlds.py, round 10)
# showed width-sensitive code diverges or ABORTS on drifted parquet —
# hll_sketch_agg rejects SMALLINT input outright, a float32 measure
# makes round()/comparison semantics engine-dependent (DuckDB rounds
# REAL in float space, and compares REAL to DECIMAL literals, where
# Spark widens to double first) — so ``load`` widens any drifted
# scalar to its canonical type AT INGEST. All widenings are exact
# (int32 ⊂ int64, float32 ⊂ float64), so on a canonical corpus the
# cast list is empty and the plan is byte-identical. Temporal drift
# is the same class (a DATE-typed order date from a warehouse export,
# an ISO-string timestamp from a CSV relay): DATE/VARCHAR →
# timestamp_ntz is deterministic on both engines (midnight / ISO
# parse), and ``normalize_event_ts`` already owns the events.ts
# variants (ns/µs bigint and any non-ntz dtype). Vector columns
# (``embedding``) are deliberately NOT normalized: the whole
# embedding family casts elements to double before arithmetic (r9
# convention) and survived the drift world unmodified on a DOUBLE[]
# column.
# The ONLY drifts load() repairs: exact widenings (value-preserving by
# construction) plus the deterministic temporal lifts documented above.
# Anything else — a WIDER-than-canonical physical type (BIGINT where
# canonical is INT, DECIMAL where canonical is DOUBLE) or a lossy
# conversion — fails loudly at ingest: an ANSI narrowing cast can abort
# mid-query on overflow and decimal→double silently loses precision,
# so the pipeline refuses the feed instead of guessing (r10 ADVICE).
_EXACT_WIDENINGS: dict[str, tuple[str, ...]] = {
    "int": ("tinyint", "smallint"),
    "bigint": ("tinyint", "smallint", "int"),
    "double": ("float",),
    "timestamp_ntz": ("date", "string", "timestamp"),
}

_CANONICAL: dict[str, dict[str, str]] = {
    "region": {"r_regionkey": "int"},
    "nation": {"n_nationkey": "int", "n_regionkey": "int"},
    "supplier": {"s_suppkey": "bigint", "s_nationkey": "int",
                 "s_acctbal": "double"},
    "part": {"p_partkey": "bigint", "p_size": "int",
             "p_retailprice": "double"},
    "customer": {"c_custkey": "bigint", "c_nationkey": "int",
                 "c_acctbal": "double"},
    "orders": {"o_orderkey": "bigint", "o_custkey": "bigint",
               "o_totalprice": "double",
               "o_orderdate": "timestamp_ntz"},
    "lineitem": {"l_orderkey": "bigint", "l_partkey": "bigint",
                 "l_suppkey": "bigint", "l_linenumber": "int",
                 "l_quantity": "double", "l_extendedprice": "double",
                 "l_discount": "double", "l_tax": "double",
                 "l_shipdate": "timestamp_ntz"},
    "documents": {"doc_id": "bigint", "n_chars": "bigint"},
    "embeddings": {"vec_id": "bigint", "label": "int"},
    "events": {"event_id": "bigint", "user_id": "bigint",
               "value": "double"},
}


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an events timestamp column to ``timestamp_ntz`` (µs)
    whatever the reader delivered: timestamp/ntz pass through; bigint is
    unit-detected by magnitude per row (ns → truncating ``div 1000``)."""
    return _normalize_ts(df, col, dict(df.dtypes).get(col))


def _normalize_ts(df: DataFrame, col: str, dtype: str | None) -> DataFrame:
    if dtype == "bigint":
        us = F.when(
            F.abs(F.col(col)) >= F.lit(_NS_MAGNITUDE_CUTOFF),
            F.expr(f"{col} div 1000"),
        ).otherwise(F.col(col))
        return df.withColumn(col, F.timestamp_micros(us).cast("timestamp_ntz"))
    if dtype and dtype != "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp_ntz"))
    return df


class _Entry(NamedTuple):
    """One memoized table read: the path fingerprint it is valid for,
    the read's JVM ``LogicalPlan`` (relation and file index), and the
    repairs ``load`` applies."""

    stamp: tuple
    relation: JavaObject
    ts_dtype: str | None  # events.ts as read, before normalization
    casts: tuple[tuple[str, str], ...]  # (column, canonical type)


# session → {path: _Entry}. Weak keys: a stopped, dropped session takes
# its memo with it, and a new session object starts empty.
_MEMO: weakref.WeakKeyDictionary[SparkSession, dict[str, _Entry]] = (
    weakref.WeakKeyDictionary()
)


def _fingerprint(path: str) -> tuple | None:
    """``(name, size, mtime_ns, inode)`` of the file, or of every file
    under the directory, sorted; None when the path is not local."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return ((path, st.st_size, st.st_mtime_ns, st.st_ino),)
        files = []
        for root, _, names in os.walk(path):
            for n in names:
                f = os.path.join(root, n)
                s = os.stat(f)
                files.append((f, s.st_size, s.st_mtime_ns, s.st_ino))
        return tuple(sorted(files))
    except (OSError, ValueError):
        return None


def _repairs(name: str, schema: StructType) -> tuple[str | None, tuple]:
    """The events.ts dtype to normalize and the canonical-width casts
    for a table read with ``schema``; raises ``ValueError`` on a drift
    that is not an exact widening."""
    dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}
    ts_dtype = None
    if name == "events":
        ts_dtype = dtypes.get("ts")
        if ts_dtype is not None:
            dtypes["ts"] = "timestamp_ntz"
    casts = []
    for c, t in _CANONICAL.get(name, {}).items():
        got = dtypes.get(c)
        if got is None or got == t:
            continue
        if got not in _EXACT_WIDENINGS.get(t, ()):  # lossy / narrowing drift
            raise ValueError(
                f"{name}.{c}: physical type {got!r} is not an exact widening"
                f" to canonical {t!r} — refusing to narrow silently at ingest"
                " (fix the upstream export or extend _EXACT_WIDENINGS if the"
                " conversion is provably exact)"
            )
        casts.append((c, t))
    return ts_dtype, tuple(casts)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table; normalizes events.ts to timestamp_ntz(µs)
    and widens any width-drifted scalar column to its canonical
    logical type (exact, no-op on a canonical corpus — see
    ``_CANONICAL``). Repeat reads of an unchanged local path reuse the
    session's relation memo (module docstring)."""
    ensure_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    stamp = _fingerprint(path)
    memo = _MEMO.setdefault(spark, {})
    entry = memo.get(path)
    if stamp is not None and entry is not None and entry.stamp == stamp:
        dataset = getattr(spark._jvm, "org.apache.spark.sql.classic.Dataset")
        jdf = dataset.ofRows(spark._jsparkSession, entry.relation.newInstance())
        df = DataFrame(jdf, spark)
    else:
        df = spark.read.parquet(path)
        entry = _Entry(stamp, df._jdf.logicalPlan(), *_repairs(name, df.schema))
        if stamp is not None:
            memo[path] = entry
    if entry.ts_dtype is not None:
        df = _normalize_ts(df, "ts", entry.ts_dtype)
    if entry.casts:
        df = df.withColumns({c: F.col(c).cast(t) for c, t in entry.casts})
    return df
