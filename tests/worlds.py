"""The dirty-data WORLD suite, declared once.

A world is one pathological dataset over the ten engine tables. The
sweep (tests/test_worlds.py::test_world_sweep) writes it as parquet
with ``tests.harness.write_tables`` and runs EVERY registered key
against it via ``tests.harness.check_keys``.
Each world is a function decorated with ``@world``: its docstring is
the hazard it prices (the reason the world exists), its return value
is the rows per table, and the decorator carries what differs from
the plain case — extra exclusions with their reasons, the physical
file layout, column type overrides (schema drift) and oracle-view
casts. Everything shared — the schema, the healthy base rows, the
exclusions every world needs — is written once below.
"""

from __future__ import annotations

import datetime as dt
import inspect
from dataclasses import dataclass, field

D = dt.datetime

# The canonical logical schema of the ten tables (FIXTURES.md types),
# in the order every world writes them.
SCHEMA: dict[str, dict[str, str]] = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "supplier": {"s_suppkey": "long", "s_name": "string", "s_nationkey": "int",
                 "s_acctbal": "double"},
    "part": {"p_partkey": "long", "p_name": "string", "p_brand": "string",
             "p_type": "string", "p_size": "int", "p_retailprice": "double"},
    "customer": {"c_custkey": "long", "c_name": "string", "c_nationkey": "int",
                 "c_acctbal": "double", "c_mktsegment": "string"},
    "orders": {"o_orderkey": "long", "o_custkey": "long", "o_orderstatus": "string",
               "o_totalprice": "double", "o_orderdate": "timestamp_ntz",
               "o_orderpriority": "string"},
    "lineitem": {"l_orderkey": "long", "l_partkey": "long", "l_suppkey": "long",
                 "l_linenumber": "int", "l_quantity": "double",
                 "l_extendedprice": "double", "l_discount": "double",
                 "l_tax": "double", "l_returnflag": "string",
                 "l_linestatus": "string", "l_shipdate": "timestamp_ntz"},
    "documents": {"doc_id": "long", "text": "string", "lang": "string",
                  "source": "string", "n_chars": "long"},
    "embeddings": {"vec_id": "long", "embedding": "array<float>", "label": "int"},
    "events": {"event_id": "long", "ts": "timestamp_ntz", "user_id": "long",
               "event_type": "string", "value": "double", "props": "string"},
}

# The column that makes a row unique within its table (lineitem: with
# l_orderkey), and the foreign keys. Neither is ever NULLed on purpose.
ROW_ID = {
    "region": "r_regionkey", "nation": "n_nationkey", "supplier": "s_suppkey",
    "part": "p_partkey", "customer": "c_custkey", "orders": "o_orderkey",
    "lineitem": "l_linenumber", "documents": "doc_id", "embeddings": "vec_id",
    "events": "event_id",
}
FOREIGN_KEYS = {
    "nation": ("n_regionkey",), "supplier": ("s_nationkey",),
    "customer": ("c_nationkey",), "orders": ("o_custkey",),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
}

# Excluded from EVERY world:
# - stream_* / src_stream_file execute through the micro-batch staging
#   layout that the streaming fuzz (test_property.py streaming tier)
#   builds properly; under a bare world directory they read empty
#   batch-0 relations, which tests the harness, not the operator.
# - sink_parquet / sink_compaction outputs depend on the PHYSICAL file
#   layout of the input (file counts, rewrite sizes) by design —
#   observability keys, pinned by their own plan/invariant tests.
BASE_EXCLUDED = frozenset({
    "stream_tumbling", "stream_sliding", "stream_session",
    "stream_dedup", "stream_stateful", "stream_foreachbatch",
    "stream_static_join", "src_stream_file",
    "sink_parquet", "sink_compaction",
})

_LEVENSHTEIN = "documented engine divergence: DuckDB levenshtein counts UTF-8 bytes, Spark characters"

# tests.harness.write_tables layouts a world may use (5: five parts)
LAYOUTS = ("single", 5, "degenerate_parts")


def ddl(table: str, retype: dict[str, str] | None = None, cols=None) -> str:
    """Spark DDL for ``table``: SCHEMA with any ``retype`` overrides,
    limited to ``cols`` (in their order) when given."""
    over = retype or {}
    return ", ".join(f"{c} {over.get(c, SCHEMA[table][c])}" for c in cols or SCHEMA[table])


# Spark type -> DuckDB type, for oracle-view casts and DuckDB-written files
DUCK_TYPES = {"int": "INTEGER", "long": "BIGINT", "bigint": "BIGINT", "double": "DOUBLE",
              "string": "VARCHAR", "timestamp_ntz": "TIMESTAMP", "date": "DATE",
              "array<float>": "FLOAT[]", "array<double>": "DOUBLE[]"}


@dataclass(frozen=True)
class World:
    reason: str  # the hazard the world prices: its function's docstring
    tables: dict[str, list]
    excluded: dict[str, str] = field(default_factory=dict)  # key -> reason
    layout: str | int = "single"
    retype: dict[str, dict[str, str]] = field(default_factory=dict)
    duck_casts: dict[str, dict[str, str]] | None = None
    # key -> its failing output: an open engine divergence this world
    # exposes, run on its own as a strict xfail (fixing the key turns
    # that test red until the entry is removed)
    diverges: dict[str, str] = field(default_factory=dict)

    def ddl(self, table: str) -> str:
        return ddl(table, self.retype.get(table))

    def all_excluded(self) -> set[str]:
        return set(BASE_EXCLUDED) | set(self.excluded)


WORLDS: dict[str, World] = {}


def world(excluded=None, layout="single", retype=None, duck_casts=None, compose=(),
          diverges=None):
    """Register the decorated function as a world. ``compose`` lists
    (world name, key offset) pairs: the world's rows are then those
    worlds' rows unioned (see ``_compose``), and it inherits their
    exclusions."""

    def register(fn):
        ex = dict(excluded or {})
        for name, _ in compose:
            ex.update(WORLDS[name].excluded)
        tables = _compose(compose) if compose else fn()
        WORLDS[fn.__name__] = World(inspect.cleandoc(fn.__doc__), tables, ex, layout,
                                    retype or {}, duck_casts, diverges or {})
        return fn

    return register


# key columns offset per source world so unioned worlds don't collide;
# orders.o_custkey follows the customer offset so FK joins resolve
# within each world's slice. region/nation stay the first world's (they
# are the FK targets every world's rows point at).
_SHIFTED = {"supplier": (0,), "part": (0,), "customer": (0,), "orders": (0, 1),
            "lineitem": (0,), "documents": (0,), "embeddings": (0,), "events": (0,)}


def _compose(parts):
    tables = {t: [] for t in SCHEMA}
    for name, off in parts:
        src = WORLDS[name]
        assert not src.retype, f"schema drift in composed world {name}"
        for t, rows in src.tables.items():
            if t in _SHIFTED:
                idx = _SHIFTED[t]
                rows = [tuple(v + off if i in idx and v is not None else v
                              for i, v in enumerate(r)) for r in rows]
            elif off:
                continue
            tables[t].extend(rows)
    return tables


def _va(n):
    return [float(i % 7) - 3.0 for i in range(n)]


def _vb(n):
    return [float((i * 3) % 5) - 2.0 for i in range(n)]


A16, B16, A64, B64 = _va(16), _vb(16), _va(64), _vb(64)
NAN, INF = float("nan"), float("inf")

# The healthy two-row set most worlds start from: a world that only
# poisons some tables takes the rest from here unchanged.
BASE = {
    "region": [(0, "AMERICA"), (1, "EUROPE")],
    "nation": [(0, "BRAZIL", 0), (1, "FRANCE", 1)],
    "supplier": [(1, "sup1", 0, 100.0), (2, "sup2", 1, 200.0)],
    "part": [(1, "part1", "Brand#1", "SMALL BRASS", 5, 900.0),
             (2, "part2", "Brand#2", "LARGE COPPER", 10, 1100.0)],
    "customer": [(1, "cust1", 0, 500.0, "BUILDING"), (2, "cust2", 1, 600.0, "MACHINERY")],
    "orders": [(1, 1, "O", 1000.5, D(1997, 3, 1), "1-URGENT"),
               (2, 2, "F", 2000.5, D(1997, 4, 1), "2-HIGH")],
    "lineitem": [(1, 1, 1, 1, 10.0, 1000.0, 0.05, 0.02, "N", "O", D(1997, 3, 2)),
                 (2, 2, 2, 1, 20.0, 2000.0, 0.10, 0.04, "R", "F", D(1997, 4, 2))],
    "documents": [(0, "spark makes big data simple and fast", "en", "s0", 37),
                  (1, "le spark est rapide et simple", "fr", "s1", 29)],
    "embeddings": [(0, A16, 0), (1, B16, 1)],
    "events": [(0, D(2024, 3, 1, 0, 0), 1, "click", 5.0, '{"k": 1}'),
               (1, D(2024, 3, 1, 1, 0), 2, "purchase", 60.0, '{"k": 2}')],
}


def base(**tables):
    """BASE with the given tables replaced."""
    return {**BASE, **tables}


def _docs(texts):
    return [(i, t, lang, src, len(t)) for i, (t, lang, src) in enumerate(texts)]


# --- value worlds ----------------------------------------------------


@world()
def degenerate():
    """The DEGENERATE WORLD: every table in its most pathological legal
    form, every oracled key run against it.

    One fixed scenario — 1-token mono-language document, zero-norm
    embedding, single event, all-zero prices/quantities/balances across
    the TPC-H tables — drives every data-derived denominator to zero,
    every ln/sqrt argument to its boundary, and every label margin to
    empty, in ONE pass over the full oracled registry (~7 min). This is
    the sweep that caught 9 distinct round-6 bugs (F.corr's ANSI abort,
    ln(0) engine divergence, -0.0 round signs, a descending-sequence
    slice, empty-postings NULL-vs-'' ...) that per-family fuzz lists had
    missed because each list only covers its own tables.

    Complements (does not replace) the hypothesis generators in
    test_property.py: hypothesis explores shapes, this pins the one shape
    that breaks the most expressions at once.
    """
    l_row = (0.0, 0.0, 0.0, 0.0, "N", "O", D(1997, 3, 2))
    return base(
        supplier=[(1, "sup1", 0, 0.0)],
        part=[(1, "part1", "Brand#1", "SMALL BRASS", 5, 0.0)],
        customer=[(1, "cust1", 0, 0.0, "BUILDING")],
        orders=[(1, 1, "O", 0.0, D(1997, 3, 1), "1-URGENT"),
                (2, 1, "O", 0.0, D(1997, 3, 1), "1-URGENT")],
        lineitem=[(1, 1, 1, 1, *l_row), (2, 1, 1, 1, *l_row)],
        documents=[(0, "spark", "zh", "s0", 5)],
        embeddings=[(0, [0.0] * 64, 0)],
        events=[(0, D(2024, 3, 1), 1, "click", 0.0, '{"k": 0}')],
    )


@world(excluded=dict.fromkeys(
    ("agg_rollup", "agg_cube", "agg_gsets", "agg_grouping_id", "agg_time_rollup"),
    "GENUINE ENGINE SEMANTICS DIFFERENCE — on empty input DuckDB (per the SQL"
    " standard) still emits the grand-total grouping-set row (count 0, NULL"
    " aggregates) while Spark's rollup/cube/grouping-sets emit zero rows. The"
    " driver compares on non-empty fixtures where both agree; this divergence"
    " is recorded here rather than papered over with a synthetic union row."))
def empty():
    """The EMPTY WORLD: every table zero-row, every oracled key run.

    Empty relations are routine at scale — a filter that matches nothing,
    a partition with no data, a day with no events — and ANSI mode plus
    cross-engine NULL-row semantics make them a distinct bug class from
    the degenerate-world values (Spark's global agg emits one NULL row
    where a grouped form emits none; codegen ANSI division checks the
    zero divisor BEFORE the NULL numerator, so count()=0 denominators
    abort even under a NULL sum; empty partitioned writes create no
    files, breaking schema inference on readback).

    This sweep forced the round-6 fixes to wl_holt_smoothing (ANSI
    element_at on an empty series), wl_paired_ttest (s1/n with n=0 under
    codegen), and the explicit-readback-schema fixes in src_jsonl /
    udf_arrow_convert / sink_partitioned / join_dpp / scan_partition_prune.
    """
    return {t: [] for t in SCHEMA}


@world()
def null():
    """The NULL WORLD: every nullable non-key column gets a NULL row,
    every oracled key run on both engines.

    Dirty nulls are routine at 100 TB — a failed fetch, a schema-drifted
    upstream, an optional field — and they are a bug class distinct from
    degenerate VALUES (the degenerate world) and empty RELATIONS
    (the empty world), because the two engines' NULL conventions
    genuinely diverge:

    - SORT position: Spark orders NULLS FIRST (ascending), DuckDB NULLS
      LAST — any rank / cumulative sum / ntile / fold over a nullable
      ordering key silently shifts every real row's position
      (wl_cusum, wl_gini, wl_lorenz_points, wl_equidepth_bins,
      ml_label_index, wl_holt_smoothing).
    - concat: Spark propagates a NULL argument, DuckDB concat() SKIPS it
      (|| propagates on both) — hashes/keys built by concatenation
      silently hash the remainder (fn_hash, fn_string, fn_url,
      ml_feature_cross, wl_data_vault_keys).
    - printf/format: Java renders NULL %s as the literal "null", DuckDB
      returns NULL (fn_format); df.stat.crosstab stringifies the NULL
      key as "null" (stat_crosstab).
    - list folds: DuckDB list_reduce RAISES on NULL/empty lists, Spark
      aggregate() returns NULL / the init value (fn_array_hof,
      txt_fingerprint, mm_decode_stub).
    - Python workers: a row UDF / UDTF / mapInPandas body that assumes
      non-None crashes the executor outright (udf_python, udtf_python,
      mm_decode_stub); a pandas UDAF's sum() turns an all-NULL group
      into 0.0 where SQL avg gives NULL (udaf_pandas_agg).
    - multi-column count(DISTINCT a, b): Spark skips rows with ANY NULL,
      DuckDB counts the (NULL, NULL) row-value (agg_count_distinct);
      Spark struct ORDERING never yields NULL, SQL row-value comparison
      is three-valued (fn_struct); correlated equality on a NULL group
      key finds nothing (wl_soft_dedup_sampling).

    The round-6 policy each fix applies IDENTICALLY on both engines:
    time-axis / rank operators drop NULL keys explicitly; key-building
    hashes either null out (||) or coalesce with kept delimiters (data
    vault); Python UDFs are NULL-total like their SQL twins.
    """
    return {
        "region": [(0, "AMERICA"), (1, "EUROPE"), (2, None)],
        "nation": [(0, "BRAZIL", 0), (1, "FRANCE", 1), (2, None, None)],
        "supplier": [(1, "sup1", 0, 100.0), (2, "sup2", 1, 200.0), (3, None, None, None)],
        "part": [(1, "part1", "Brand#1", "SMALL BRASS", 5, 900.0),
                 (2, "part2", "LARGE COPPER", "LARGE COPPER", 10, 1100.0),
                 (3, None, None, None, None, None)],
        "customer": [(1, "cust1", 0, 500.0, "BUILDING"), (2, "cust2", 1, 600.0, "MACHINERY"),
                     (3, None, None, None, None)],
        "orders": [(1, 1, "O", 1000.0, D(1997, 3, 1), "1-URGENT"),
                   (2, 2, "F", 2000.0, D(1997, 4, 1), "2-HIGH"),
                   (3, None, None, None, None, None)],
        "lineitem": BASE["lineitem"] + [(3, None, None, 2) + (None,) * 7],
        "documents": BASE["documents"] + [(2, None, None, None, None)],
        "embeddings": [(0, A64, 0), (1, B64, 1), (2, None, None)],
        "events": BASE["events"] + [(2, None, None, None, None, None)],
    }


# Open divergences the independent-NULL world exposes, each with the
# failing output its sweep printed. Each is a NULL ORDER BY key (ts,
# o_orderdate, c_acctbal, label) inside that operator's own window or
# ranking — Spark sorts NULLS FIRST, DuckDB NULLS LAST. No shared
# helper creates them, so each needs its own drop-or-order fix in its
# operator and oracle.
_NULL_INDEPENDENT_OPEN = {
    "win_nth_value": (
        "MISMATCH sp=[('1', '1', '1000.5', '␀NULL'), ('1', '3', '1000.5', '3.0')]"
        " du=[('1', '1', '␀NULL', '␀NULL'), ('1', '3', '1000.5', '␀NULL')]"
    ),
    "win_lag_ignore_nulls": (
        "MISMATCH sp=[('0', '5.0', '5.0', '1.0'), ('1', '␀NULL', '␀NULL', '2.0')]"
        " du=[('0', '␀NULL', '5.0', '1.0'), ('1', '␀NULL', '␀NULL', '2.0')]"
    ),
    "wl_qtr_growth": (
        "MISMATCH sp=[('BRAZIL', '2.0', '1997-01-01', '3001.5'), ('BRAZIL', '␀NULL',"
        " '␀NULL', '1000.5')] du=[('BRAZIL', '-0.666667', '␀NULL', '1000.5'),"
        " ('BRAZIL', '␀NULL', '1997-01-01', '3001.5')]"
    ),
    "win_lag_lead": (
        "MISMATCH sp=[('0', 'click', '␀NULL', '␀NULL', 'click', '-1.0', '1.0'), ('1',"
        " 'purchase', '␀NULL', '␀NULL', '␀NULL', '-1.0', '2.0')] du=[('0', 'click',"
        " '␀NULL', '␀NULL', '␀NULL', '-1', '1.0'), ('1', 'purchase', '␀NULL', '␀NULL',"
        " '␀NULL', '-1', '2.0')]"
    ),
    "win_running": (
        "MISMATCH sp=[('1', '1', '2', '2001.0'), ('1', '3', '3', '3001.5')] du=[('1',"
        " '1', '1', '1000.5'), ('1', '3', '2', '2001.0')]"
    ),
    "win_ntile_dist": (
        "MISMATCH sp=[('1', '0', '0.5', '0.3333333333333333', '2'), ('2', '1', '1.0',"
        " '0.0', '1')] du=[('1', '0', '0.25', '0.0', '1'), ('2', '1', '1.0', '0.0',"
        " '1')]"
    ),
    "win_running_distinct": (
        "MISMATCH sp=[('0', '1', '1.0'), ('1', '1', '2.0')] du=[('0', '1', '1.0'),"
        " ('1', '1', '2.0')]"
    ),
    "win_rolling_zscore": (
        "MISMATCH sp=[('0', '␀NULL', '1.0'), ('1', '␀NULL', '2.0')] du=[('0', '␀NULL',"
        " '1.0'), ('1', '␀NULL', '2.0')]"
    ),
    "ml_knn_classify": (
        "MISMATCH sp=[('0', '␀NULL', '0', '0')] du=[('0', '1', '0', '0')]"
    ),
    "wl_path_trigrams": (
        "MISMATCH sp=[('1', 'click>click')] du=[('1', 'click>click>click'), ('1',"
        " '␀NULL')]"
    ),
    "wl_markov2_conditional": (
        "MISMATCH sp=[] du=[('1', '1.0', 'click', 'click', 'click')]"
    ),
    "wl_interval_union": (
        "MISMATCH sp=[('5', '1', '2.0'), ('5', '1', '␀NULL')] du=[('5', '1', '1.0'),"
        " ('5', '1', '2.0')]"
    ),
    "sql_window_clause": (
        "MISMATCH sp=[('1', '1', '2', '2001.0'), ('1', '3', '3', '3001.5')] du=[('1',"
        " '1', '1', '1000.5'), ('1', '3', '2', '2001.0')]"
    ),
    "wl_pit_features": (
        "MISMATCH sp=[('1', '1', '1', '1000.5'), ('1', '3', '2', '2001.0')] du=[('1',"
        " '1', '0', '0.0'), ('1', '3', '1', '1000.5')]"
    ),
}


@world(diverges=_NULL_INDEPENDENT_OPEN)
def null_independent():
    """The INDEPENDENT-NULL world: every nullable non-key column gets its
    OWN row in which only that column is NULL, every key on both
    engines.

    The lockstep null world NULLs whole rows at once, so a hazard that
    needs one column NULL while its partner column is set never
    appears there. That is exactly how it missed the wl_pareto_frontier
    leak: a part with a NULL price but a real size sorts NULLS FIRST
    on Spark, so its size entered the skyline prefix-min of every real
    price and marked real parts dominated, while DuckDB's dominance
    join compares NULL and never dominates (fixed once, in
    functions/ranks.global_prefix_min_excl). Here each NULL row is a
    copy of the table's first healthy row with a fresh row id and one
    column nulled; primary and foreign keys are never nulled, so every
    row still joins and only the one NULL is in play.
    """
    out = {}
    for t, rows in BASE.items():
        cols = list(SCHEMA[t])
        rid = cols.index(ROW_ID[t])
        top = max(r[rid] for r in rows)
        keep = {ROW_ID[t], cols[0], *FOREIGN_KEYS.get(t, ())}
        out[t] = list(rows)
        for j, c in enumerate(cols):
            if c not in keep:
                top += 1
                row = list(rows[0])
                row[j], row[rid] = None, top
                out[t].append(tuple(row))
    return out


@world()
def nan():
    """The NaN/Inf WORLD: non-finite doubles in every measure column,
    every oracled key run on both engines.

    A 100 TB feed WILL ship a NaN (0/0 upstream, a corrupt sensor, a
    failed join default) and an inf (overflowed accumulator). This world
    targets the worst failure class the other worlds can't reach: the
    single poisoned double that ABORTS the whole job — ANSI
    ``CAST(NaN AS INT/BIGINT)`` overflows on BOTH engines, so every
    ``floor(x)::bigint`` bucket/bin/quantization expression is a landmine;
    DuckDB additionally errors its stddev/var family "out of range" on
    inf, and ``CAST(inf AS DECIMAL)`` refuses.

    Probe-verified agreements that make the world tractable: both engines
    propagate NaN through sum/avg/round identically, both treat NaN as
    GREATER than +inf in comparisons and sorts (so `x > 0` does NOT
    exclude NaN — a trap: filters must test isfinite explicitly), and the
    driver canonicalizer renders NaN like NULL on both sides.

    The round-6 policy, applied identically on both engines via
    ``functions/predicates.finite`` ↔ DuckDB ``isfinite``: statistics,
    bucketings, quantizations, DECIMAL ledgers, and money renderings
    treat a non-finite measure as corrupt input and FILTER it (or null
    the derived column) — never abort, never let the engines' NaN
    conventions diverge. One genuine limitation is documented instead of
    filtered: a pandas UDAF cannot distinguish SQL NULL from NaN (Arrow
    delivers both as NaN), so udaf_pandas_agg's oracle declares the
    NaN-as-missing contract.

    A latent-hazard note this world exposed (wl_q2_mincost): AQE's
    empty-relation pruning can skip an entire aggregate subtree at small
    fixtures, HIDING an unguarded division/cast that a fuller world
    executes — "the suite is green" does not prove an expression is
    abort-safe unless some fixture actually forces its evaluation.
    """
    return base(
        supplier=BASE["supplier"] + [(3, "sup3", 0, NAN)],
        part=BASE["part"] + [(3, "part3", "Brand#3", "STD TIN", 7, INF)],
        customer=BASE["customer"] + [(3, "cust3", 0, NAN, "BUILDING")],
        orders=[(1, 1, "O", 1000.0, D(1997, 3, 1), "1-URGENT"),
                (2, 2, "F", 2000.0, D(1997, 4, 1), "2-HIGH"),
                (3, 3, "O", NAN, D(1997, 5, 1), "3-MEDIUM")],
        lineitem=BASE["lineitem"] + [(3, 3, 3, 1, NAN, INF, 0.0, 0.0, "N", "O", D(1997, 5, 2))],
        embeddings=[(0, A64, 0), (1, B64, 1), (2, [NAN] * 64, 0), (3, [INF] * 64, 1)],
        events=BASE["events"] + [(2, D(2024, 3, 1, 2, 0), 1, "click", NAN, '{"k": 3}'),
                                 (3, D(2024, 3, 1, 3, 0), 2, "purchase", INF, '{"k": 4}')],
    )


@world()
def single_row():
    """The SINGLE-ROW WORLD: every table exactly one row, every key on
    both engines.

    One row is the boundary where distributional assumptions silently
    collapse: n−1 variance factors hit zero, every window frame is its
    own partition, medians equal minima equal maxima, splits/folds/CV
    have nothing to hold out, and per-group spreads are degenerate
    everywhere at once. The degenerate world covers zero/constant VALUES;
    this world covers minimal CARDINALITY with healthy values. Added in
    round 7 after a report-only probe ran the full registry clean —
    the test pins that property against regression.
    """
    one = {t: rows[:1] for t, rows in BASE.items()}
    return {**one,
            "orders": [(1, 1, "O", 1000.0, D(1997, 3, 1), "1-URGENT")],
            "documents": [(0, "spark makes big data simple", "en", "s0", 27)],
            "embeddings": [(0, A64, 0)]}


@world()
def extreme_ts():
    """The EXTREME-TIMESTAMP WORLD: pre-epoch (1950) and far-future (2199)
    event times in every temporal table, run against every key on both
    engines.

    Timestamps outside the unix-epoch comfort zone are where epoch
    arithmetic silently breaks: negative epoch micros flip integer
    division toward zero instead of -inf (day/bucket boundaries shift by
    one), 32-bit second math overflows, and windows/watermarks anchored
    at epoch 0 sit BETWEEN the data points. A 100 TB archive ingest WILL
    carry a 1969 mainframe record and a fat-fingered 2199 expiry date.
    Added in round 7 after a report-only probe ran the full registry
    clean — the test pins that property against regression.
    """
    old, new = D(1950, 6, 1, 12, 0), D(2199, 12, 31, 23, 59)
    one = {t: rows[:1] for t, rows in BASE.items()}
    return {**one,
            "orders": [(1, 1, "O", 1000.0, old, "1-URGENT"), (2, 1, "F", 2000.0, new, "2-HIGH")],
            "lineitem": [(1, 1, 1, 1, 10.0, 1000.0, 0.05, 0.02, "N", "O", old),
                         (2, 1, 1, 1, 20.0, 2000.0, 0.10, 0.04, "R", "F", new)],
            "documents": [(0, "old doc text here", "en", "s0", 17),
                          (1, "new doc text here", "fr", "s1", 17)],
            "embeddings": [(0, A64, 0), (1, B64, 1)],
            "events": [(0, old, 1, "signup", 5.0, '{"k": 1}'),
                       (1, new, 1, "purchase", 60.0, '{"k": 2}')]}


@world()
def skew():
    """The SKEW WORLD: one hot key dominating every relation, run against
    every key on both engines.

    Heavy duplication is the shape 100 TB data actually arrives in — one
    viral document mirrored everywhere, one bot user emitting most events,
    one order holding most line items, and TIED metric values wherever the
    duplicates collapse. Ties are the semantic trap: any arg-extremum,
    top-k cut, or mode that orders by a non-unique key returns an
    ARBITRARY row — nondeterministic across retries and divergent between
    engines. The round-7 report-only probe of this world caught exactly
    that in ``agg_minmax_by`` (Spark and DuckDB elected different
    customers for an equal balance); the fix made the ordering total, and
    this test pins the whole registry against the next regression of that
    class.
    """
    # order 1 owns 16 of 18 line items; user 7 emits 12 of 13 events;
    # 8 of 9 documents are verbatim copies; 6 of 7 embeddings identical
    return base(
        supplier=[(1, "sup1", 0, 100.0), (2, "sup2", 0, 100.0)],
        part=BASE["part"][:1],
        # tied balances in one segment — the arg-extremum trap
        customer=[(1, "cust1", 0, 500.0, "BUILDING"), (2, "cust2", 0, 500.0, "BUILDING")],
        orders=[(k, 1, "O", 1000.0, D(1997, 3, 1), "1-URGENT") for k in (1, 2)],
        lineitem=[(k, 1, 1, j + 1, 10.0, 1000.0, 0.05, 0.02, "N", "O", D(1997, 3, 2))
                  for j, k in enumerate([1] * 16 + [2] * 2)],
        documents=[(i, "lorem ipsum dolor sit amet " * 3, "en", "s0", 81) for i in range(8)]
        + [(8, "unique document text here", "fr", "s1", 25)],
        embeddings=[(i, A64, 0) for i in range(6)] + [(6, B64, 1)],
        events=[(i, D(2024, 3, 1, 0, i % 60), 7, "click", 5.0, '{"k": 1}') for i in range(12)]
        + [(12, D(2024, 3, 1, 1, 0), 8, "purchase", 60.0, '{"k": 2}')],
    )


@world()
def flat():
    """The FLAT / CANCELLATION world: every measure is constructed so
    that sums cancel exactly and variances are exactly zero — from
    NONZERO values — and every oracled key runs on both engines.

    This is the world for the two bug classes round 7's hypothesis tier
    caught one key at a time (wl_anomaly_deseasonalized NULL-vs-0.0,
    wl_linear_forecast −0.0) and round 8 closes globally. It is DISTINCT
    from the degenerate world (zero/constant VALUES — a zero never
    exercises sign or residue) and the NaN world (non-finite): here the
    inputs are ordinary finite numbers whose AGGREGATES are pathological:

    - NONZERO CONSTANT columns (quantity 10.0, discount 0.1): true
      variance is 0, but Spark's central-moment accumulator yields
      exactly 0.0 where DuckDB's sum-of-squares form leaves a
      summation-order-dependent ~1e-16 residue. Unguarded, the residue
      slips past nullif(…, 0) and mints arbitrary statistics — the probe
      measured corr = −0.47 (non-deterministic across runs!), a Welch t
      of 1.8e18, and a Theil index abort. Policy: RELATIVE-epsilon
      flatness tests (var ≤ 1e-9·avg(x²), mu ≤ 1e-9·avg|x|) mirrored on
      both engines (_safe_corr, wl_ab_ttest, wl_theil_index,
      wl_anova_seasonality, wl_anomaly_deseasonalized).
    - SYMMETRIC ±v values: group sums cancel to exact 0 (or a residue),
      so share-of-total denominators hit 0 from nonzero inputs and
      winsorized/clamped means land on signed ~1e-14 residues whose
      round(…, n) keeps the − sign on DuckDB and drops it on Spark.
      Policy: rnd() / round(…)+0.0 on every derived zero-able column.
    - NEGATIVE flat totals (a user whose value is constantly −5.0, a
      nation whose only customer has negative revenue): 0/negative is
      −0.0 in DuckDB's round; floor-based decimal decomposition renders
      −1000.1 as '-1,001.90' (fn_format); sqrt/ln of a negative aborts
      DuckDB where Spark silently NaN/NULLs (fn_math, wl_theil_index).
      Policy: sign-decomposed formatting, non-negativity gates on both
      engines.
    - FLAT daily event series covering all 7 weekdays: the seasonal
      index is flat, so the deseasonalized residual variance is exactly
      0 — the wl_anomaly_deseasonalized class.
    - Embedding pairs v/−v: centroids cancel to the zero vector, norms
      to 0 (zero-norm guards must fire identically).

    Late-data note: the flat world's 4-way chronological replay also
    exposed that applyInPandasWithState does NOT pre-filter late rows, so
    a session rebuilt behind the watermark must clamp its TTL horizon to
    watermark+1 (stream_stateful_ttl).
    """
    v = [0.1 * ((i % 8) - 3.5) for i in range(64)]  # symmetric pattern, sum 0
    w = [0.3 - 0.01 * (i % 5) for i in range(64)]
    d1 = "the quick brown fox jumps over a lazy dog."   # 43 chars
    d2 = "pack my box with five dozen brown jugs now."[:43]
    return base(
        nation=BASE["nation"] + [(2, "GERMANY", 1)],
        supplier=[(1, "sup1", 0, -100.1), (2, "sup2", 1, 100.1),
                  (3, "sup3", 2, -100.1), (4, "sup4", 0, 100.1)],
        part=[(1, "part1", "Brand#1", "SMALL BRASS", 5, 100.1),
              (2, "part2", "Brand#2", "LARGE COPPER", 5, 100.1),
              (3, "part3", "Brand#1", "SMALL BRASS", 5, 100.1)],
        customer=[(1, "cust1", 0, -500.1, "BUILDING"), (2, "cust2", 1, 500.1, "BUILDING"),
                  (3, "cust3", 2, -300.1, "MACHINERY"), (4, "cust4", 0, 300.1, "MACHINERY")],
        orders=[(1, 1, "O", 1000.1, D(1997, 3, 1), "1-URGENT"),
                (2, 1, "F", -1000.1, D(1997, 3, 2), "1-URGENT"),
                (3, 2, "O", 250.1, D(1997, 3, 3), "2-HIGH"),
                (4, 2, "F", -250.1, D(1997, 3, 4), "2-HIGH"),
                (5, 3, "O", -250.1, D(1997, 3, 5), "2-HIGH"),
                (6, 4, "O", 250.1, D(1997, 3, 6), "3-MEDIUM")],
        # quantity CONSTANT 10.0, discount CONSTANT 0.1, tax CONSTANT
        # 0.02, extendedprice symmetric ±100.1 within each returnflag
        lineitem=[(o, p, s, n, 10.0, x, 0.1, 0.02, rf, ls, D(1997, 3, day))
                  for o, p, s, n, x, rf, ls, day in [
                      (1, 1, 1, 1, 100.1, "N", "O", 2), (1, 2, 2, 2, -100.1, "N", "O", 3),
                      (2, 3, 3, 1, 100.1, "R", "F", 4), (2, 1, 4, 2, -100.1, "R", "F", 5),
                      (3, 2, 1, 1, 100.1, "A", "F", 6), (4, 3, 2, 1, -100.1, "A", "F", 7)]],
        documents=[(0, d1, "en", "s0", 43), (1, d1, "en", "s1", 43),
                   (2, d2, "en", "s0", 43), (3, d2, "en", "s1", 43)],
        embeddings=[(0, v, 0), (1, [-x for x in v], 1), (2, w, 0),
                    (3, [-x for x in w], 1), (4, [0.1] * 64, 0), (5, [0.1] * 64, 1)],
        # 8 consecutive days (all 7 weekdays) × 3 events/day: user 1
        # constant +0.1, user 2 constant −0.1 (the pair cancels), user
        # 3 constant −5.0 → daily total −5.0 (flat NEGATIVE series,
        # day-over-day delta 0 → 0/negative shares)
        events=[(d * 3 + u, D(2024, 3, 1 + d, 6 + u), u + 1, ["click", "view", "purchase"][u],
                 [0.1, -0.1, -5.0][u], '{"k": %d}' % u) for d in range(8) for u in range(3)],
    )


@world()
def overflow():
    """The OVERFLOW-MAGNITUDE world: finite values too large for the
    downstream STORAGE TYPE, every oracled key on both engines.

    The NaN world closed the ``CAST(NaN AS BIGINT)`` abort class; this
    world closes its finite twin (round 9): a FINITE 1e150 aborts every
    int-cast bucket/bin/grid expression exactly the same way (Spark ANSI
    CAST_OVERFLOW, DuckDB Conversion Error), and a lying bigint metadata
    column sizes a job-killing sequence. What the probe forced:

    - ``finite_bounded`` (|x| ≤ 9e15 ≈ 2^53): agg_histogram, wl_psi_drift,
      wl_ks_test, udf_map_pandas, ml_calibration — a finite-but-off-grid
      value has no bucket on either engine (numpy's astype would even
      WRAP it to INT64_MIN garbage silently); bucket indices widened to
      BIGINT so every in-grid value is representable.
    - metadata lies: txt_chunk / dedup_paragraph / mm_frame_sample sized
      their sequence() from the n_chars COLUMN — one row claiming 4e18
      chars materializes a 2e16-element array and aborts the executor.
      Work sizing now derives from length(text), never metadata.
    - wl_data_vault_keys: the hashdiff rendered money via raw
      double→string, which diverges at 1e7 (Spark '1.0E7' vs DuckDB
      '10000000.0') — now an exact DECIMAL(28,2) rendering, bounded to
      |x| ≤ 9e13 where the double→decimal conversion itself is exact on
      both engines.

    DOCUMENTED BOUNDARIES this world deliberately respects (see
    functions/predicates.py): money columns stay inside money_round's
    portable snap domain (past ~2^53/10^scale DuckDB's double→decimal
    conversion is lossy); doubles stay ≤ 1e150 because past ~1e154
    DuckDB's variance family ABORTS by design ("out of range") where
    Spark yields inf — an engine-level contract difference no query
    rewrite reconciles; and sums that MIX magnitudes (1e150 with 1e1, or
    1e18 with 1e3) lose the small terms to summation ORDER — catastrophic
    cancellation/absorption makes even round(sum, 2) nondeterministic
    run-to-run (first caught on agg_time_rollup's grand-total cell:
    1e150 − 1e150 + 5 is 5.0 or 0.0 by partial-sum order). No rounding
    scheme can mask it, so this world's extreme values share ONE
    magnitude (every partial sum exactly representable) and mixed-
    magnitude second-moment statistics stay out of the bit-equality
    contract.
    """
    big = 4 * 10**18      # bigint metadata lie (n_chars), sums past 2^63
    dbig = 1.0e150        # finite, far beyond INT/BIGINT cast range, but
                          # inside DuckDB's variance domain (~1e154)
    imax = 2**31 - 1
    return base(
        supplier=BASE["supplier"] + [(3, "sup3", 0, 300.0)],
        part=[(k, f"part{k}", f"Brand#{k}", ty, imax, price) for k, ty, price in
              [(1, "SMALL BRASS", 900.0), (2, "LARGE COPPER", 1100.0), (3, "STD TIN", 950.0)]],
        orders=BASE["orders"] + [(3, 1, "O", 1000.0, D(1997, 5, 1), "3-MEDIUM")],
        lineitem=BASE["lineitem"] + [(3, 3, 3, 1, 30.0, 3000.0, 0.00, 0.00, "N", "O",
                                      D(1997, 5, 2))],
        documents=[(0, "spark makes big data simple and fast", "en", "s0", big),
                   (1, "le spark est rapide et simple", "fr", "s1", big),
                   (2, "ein kurzer text ueber gar nichts", "de", "s0", big)],
        embeddings=BASE["embeddings"] + [(2, [1.0e19] * 16, 0)],
        events=[(0, D(2024, 3, 1, 0, 0), 1, "click", dbig, '{"k": 1}'),
                (1, D(2024, 3, 1, 1, 0), 2, "purchase", -dbig, '{"k": 2}'),
                (2, D(2024, 3, 1, 2, 0), 1, "click", dbig, '{"k": 3}')],
    )


@world()
def negid():
    """The NEGATIVE/BOUNDARY-ID world: negative, zero, and deep-negative
    surrogate KEYS in every relation, every oracled key on both engines.

    A merged/backfilled 100 TB corpus ships them routinely (hash-derived
    synthetic IDs, pre-epoch backfills with negative surrogates), and key
    SIGN is where engines can differ: `%` conventions, shifts, hash
    inputs, struct-min elections over negative components. The round-9
    probe ran the full registry against negative doc/vec/user/order keys
    (including a -2^62 surrogate) and caught exactly one divergence:

    - fn_bitwise: DuckDB raises Out of Range on `negative << k` where
      Spark shifts arithmetically — shifts are now defined on the
      non-negative domain (NULL elsewhere) on both engines.

    Everything else — modulo probe strides (vec_id % 25 on negatives:
    both engines truncate toward zero), pmod block assignment, composite
    keep-keys, md5-of-negative-id hub keys — agreed. This test pins that
    property against regression.
    """
    lmin = -(2**62)  # deep-negative surrogate key (not INT64_MIN: leaves headroom)
    vc = [float((i * 5) % 3) - 1.0 for i in range(16)]
    return {
        "region": [(0, "AMERICA"), (-1, "EUROPE")],
        "nation": [(0, "BRAZIL", 0), (-1, "FRANCE", -1)],
        "supplier": [(-1, "sup-neg", 0, 100.0), (2, "sup2", -1, 200.0), (0, "sup0", 0, 300.0)],
        "part": [(-5, "partneg", "Brand#1", "SMALL BRASS", -5, 900.0),
                 (0, "part0", "Brand#2", "LARGE COPPER", 0, 1100.0),
                 (2, "part2", "Brand#3", "STD TIN", 10, 950.0)],
        "customer": [(-7, "custneg", 0, 500.0, "BUILDING"), (0, "cust0", -1, 600.0, "MACHINERY"),
                     (3, "cust3", 0, 700.0, "BUILDING")],
        "orders": [(0, -7, "O", 1000.5, D(1997, 3, 1), "1-URGENT"),
                   (-3, 0, "F", 2000.5, D(1997, 4, 1), "2-HIGH"),
                   (5, 3, "O", 1500.0, D(1997, 5, 1), "3-MEDIUM")],
        "lineitem": [(0, -5, -1, 1, 10.0, 1000.0, 0.05, 0.02, "N", "O", D(1997, 3, 2)),
                     (-3, 0, 2, -1, 20.0, 2000.0, 0.10, 0.04, "R", "F", D(1997, 4, 2)),
                     (5, 2, 0, 2, 30.0, 3000.0, 0.00, 0.00, "N", "O", D(1997, 5, 2))],
        "documents": [(-1, "negative id document about spark and scale", "en", "s0", 41),
                      (0, "zero id document mentions review screening", "en", "s1", 42),
                      (lmin, "deep negative surrogate key document text", "de", "s0", 41),
                      (7, "an ordinary positive id document as control", "fr", "s1", 43)],
        "embeddings": [(-1, A16, 0), (0, B16, 1), (lmin, vc, 0), (25, A16, 1), (50, B16, 0)],
        "events": [(-1, D(2024, 3, 1, 0, 0), -9, "click", 5.0, '{"k": 1}'),
                   (0, D(2024, 3, 1, 1, 0), 0, "purchase", 60.0, '{"k": 2}'),
                   (3, D(2024, 3, 1, 2, 0), -9, "view", 7.5, '{"k": 3}')],
    }


@world()
def dupflood():
    """The DUPLICATE-FLOOD world: every document, vector, and fact value
    is duplicated k times — exact copies and near-identical variants —
    and every oracled key runs on both engines.

    This is the cluster-density axis no single-value world covers (the
    round-8 verdict's stretch item): dedup families that are correct on
    sparse duplicates can break when a fingerprint/band bucket holds 60
    members (star-edge election ties, pair blowups), and analytics that
    are correct on distinct values can diverge when a sort key or sum is
    FLOODED with identical rows:

    - 60 EXACT copies of one document across 4 sources, 60 near-identical
      variants (3 variant groups of 20), 30 copies flooded into a single
      source, the same text under two langs — dedup_* star/band/bucket
      paths at real cluster density.
    - 40+20+20 duplicate embedding vectors (two exact floods plus a
      1e-3-perturbed near-dup flood) — zero-distance ties in every
      similarity/ANN path.
    - duplicate TIMESTAMPS (4 distinct ts shared by 60 events, duplicated
      (user, ts) pairs) — window/asof/session tie behavior.
    - fact tables whose measures take only 2 distinct values — duplicate
      floods drive sums onto EXACT DECIMAL MIDPOINTS of the coarse round
      (13 × 95.475 = 1241.175), where a plain round(sum, 2) resolves by
      engine/run summation-order luck (.17 vs .18 — DuckDB's morsel
      scheduling makes it nondeterministic run-to-run). The probe caught
      agg_pricing_summary / agg_partial_final; policy = money_round's
      decimal snap (functions/predicates.py), mirrored in the oracles.
    """
    a = ("apache spark shuffles data across the cluster while the optimizer "
         "prunes columns and pushes filters down to the parquet scan so that "
         "every executor reads only the bytes it truly needs for the query plan")
    b = ("the screening pipeline ranks abstracts by relevance and the review "
         "team reads from the top until the estimated recall target is reached "
         "which saves most of the manual effort in a large systematic review")
    c = ("duplicate records drift into bibliographic databases through mirrored "
         "exports and shared indexing so the dedup stage must elect exactly one "
         "canonical copy from every flooded cluster before training ever begins")
    v = [0.1 * ((i % 8) + 1) for i in range(16)]
    vp = [x + (0.001 if i == 0 else 0.0) for i, x in enumerate(v)]  # near-dup
    w = [1.0 - 0.05 * i for i in range(16)]
    return base(
        nation=BASE["nation"] + [(2, "GERMANY", 1)],
        supplier=[(1, "sup1", 0, 100.5), (2, "sup2", 1, 100.5),
                  (3, "sup3", 2, 100.5), (4, "sup4", 0, 200.5)],
        # duplicate part names/brands (2 of 3 rows identical but for key)
        part=[(1, "part1", "Brand#1", "SMALL BRASS", 5, 100.5),
              (2, "part1", "Brand#1", "SMALL BRASS", 5, 100.5),
              (3, "part3", "Brand#2", "LARGE COPPER", 7, 200.5)],
        # duplicate names and balances
        customer=[(1, "cust1", 0, 500.5, "BUILDING"), (2, "cust1", 1, 500.5, "BUILDING"),
                  (3, "cust3", 2, 500.5, "MACHINERY"), (4, "cust4", 0, 700.5, "MACHINERY")],
        # only 2 distinct totalprice values, duplicated dates, 4 customers
        orders=[(i + 1, (i % 4) + 1, ["O", "F"][i % 2], [1000.5, 2000.5][i % 2],
                 D(1997, 3, 1 + (i % 3)), ["1-URGENT", "2-HIGH"][i % 2]) for i in range(40)],
        # identical measure rows flooded: quantity/price/discount from a
        # 2-value pool; (orderkey, linenumber) unique. The 2-value pool
        # is what lands group sums on exact decimal midpoints.
        lineitem=[((i % 40) + 1, (i % 3) + 1, (i % 4) + 1, i // 40 + 1,
                   [10.0, 20.0][i % 2], [100.5, 200.5][i % 2], 0.05, 0.02,
                   ["N", "R", "A"][i % 3], ["O", "F"][i % 2], D(1997, 3, 2 + (i % 3)))
                  for i in range(80)],
        # flood 1: 60 EXACT copies of A across 4 sources (15 each);
        # flood 2: 60 near-identical variants of B — 3 variant groups
        # of 20 (exact dups within a group, near-dups across groups);
        # flood 3: 30 copies of C all in ONE source; the same text
        # under a different lang (lang-blocking tie); two unique rows
        documents=[(i, a, "en", f"s{i % 4}", len(a)) for i in range(60)]
        + [(100 + i, b + f" variant {i % 3}", "en", f"s{i % 4}", len(b) + 10)
           for i in range(60)]
        + [(200 + i, c, "en", "s9", len(c)) for i in range(30)]
        + [(240, c, "de", "s9", len(c)),
           (300, "one tiny unique document about nothing in particular today", "en", "s0", 59),
           (301, "another short unique text that matches no other row at all", "en", "s1", 59)],
        # 40 identical copies, 20 near-identical, 20 identical 2nd vec, 1 unique
        embeddings=[(i, v, i % 2) for i in range(40)]
        + [(100 + i, vp, i % 2) for i in range(20)]
        + [(200 + i, w, i % 2) for i in range(20)]
        + [(300, [float(i) for i in range(16)], 0)],
        # duplicate timestamps: 4 distinct ts shared by 60 events,
        # duplicated (user, ts) pairs; one later day so daily
        # aggregates have 2 groups
        events=[(i, D(2024, 5, 1, 12, 0, [0, 0, 30, 45][i % 4]), (i % 3) + 1,
                 ["click", "view", "purchase"][i % 3], [5.0, 5.0, 7.5][i % 3],
                 '{"k": %d}' % (i % 3)) for i in range(60)]
        + [(100 + i, D(2024, 5, 2, 9, 0, (i % 2) * 30), (i % 3) + 1, "click", 5.0, '{"k": 0}')
           for i in range(12)],
    )


@world()
def ragged_vec():
    """The RAGGED/POISONED-VECTOR world: pathology INSIDE the embedding
    arrays, every oracled key run on both engines.

    The nan world poisons WHOLE vectors uniformly and the null world NULLs
    the whole column; this world carries the intra-array defects a 100 TB
    embedding feed actually ships — and its first probe broke 22 keys in
    one pass (round 9):

    - EMPTY arrays: DuckDB's ``list_reduce`` ERRORS on an empty list where
      Spark's ``F.aggregate`` quietly returns the init value — 14 oracles
      aborted before any comparison. Policy: ``finite_array`` now rejects
      empty arrays, mirrored by ``clean_vec_sql`` in every embedding
      oracle.
    - ONE NaN element among finite: the row's norm is NaN, and a bare
      ``nn > 0`` keeps it on BOTH engines (NaN-is-greatest), after which
      ``NaN >= τ`` is FALSE on Spark but TRUE on DuckDB — silent
      divergence, not an abort.
    - NULL element inside a healthy array, short-dimension rows, an empty
      corpus dim: pairwise dots are undefined across dims — pair joins now
      require equal lengths; MLlib/GEMM paths filter to the MODAL dim
      (``dominant_dim_only``/``modal_dim_sql``).
    - float32-edge magnitudes: one 3e38-component vector made k-means||'s
      cost-weighted init sample nothing else (every other probability
      ~1e-77) and ABORT with an AIOOBE — ml_kmeans now uses uniform init
      over the distinct vector set; ml_calibration's bin cast hit the
      finite-but-off-grid class (finite_bounded).
    - an all--0.0 vector: DuckDB's init-less list_reduce folds to -0.0
      where Spark's 0.0-init aggregate gives +0.0 — vmin/vmax/score now
      ride the rnd()/+0.0 signed-zero snap.
    """
    null_elt = [x if i != 2 else None for i, x in enumerate(A16)]
    one_nan = [x if i != 5 else NAN for i, x in enumerate(B16)]
    one_inf = [x if i != 3 else INF for i, x in enumerate(B16)]
    return base(embeddings=[
        (0, A16, 0),
        (1, B16, 1),
        (2, null_elt, 0),          # NULL element inside the array
        (3, A16[:8], 1),           # short-dimension row (clean but ragged)
        (4, [], 0),                # empty array
        (5, one_nan, 1),           # one NaN element among finite
        (6, one_inf, 0),           # one Inf element among finite
        (7, [3.0e38] * 16, 1),     # f32-near-max: astronomical but finite
        (8, [1.0e-39] * 16, 0),    # subnormal float32
        (9, list(A16), 1),         # exact duplicate of vec 0, other label
        (10, [-0.0] * 16, 0),      # signed zero-norm vector
    ])


# --- text worlds -----------------------------------------------------


@world(excluded={"fn_editdist": _LEVENSHTEIN})
def unicode():
    """The UNICODE WORLD: adversarial multilingual text in every string
    column, every oracled key run on both engines.

    A 100 TB training corpus is never ASCII. This world packs the cases
    that break naive byte/char assumptions — accented Latin (with ß),
    CJK without spaces, emoji + ZWJ sequences, RTL Arabic, composed vs
    decomposed accents, regex metacharacters as literal text, a 300-char
    token — and asserts every oracled key still agrees across engines.

    What the sweep established (probe-verified, round 6):

    - AGREE on codepoints: length(), substring(), split(''), ascii(),
      reverse(), left/right, strpos — both engines are codepoint-based,
      so the whole tokenize/chunk/fingerprint family is unicode-safe.
    - DIVERGE, fixed by making the contract explicit:
      * DuckDB's ``::BLOB`` cast REJECTS non-ASCII — oracles use
        encode()/decode() (fn_base64, mm_binary_meta);
      * Spark mask() classifies by Character.isUpperCase/isLowerCase —
        oracles need \\p{Lu}/\\p{Ll}/\\p{Nd}, not [A-Z]/[a-z]/[0-9]
        (fn_mask: ASCII classes silently LEAK accented letters);
      * from_json with map<string,int> nulls the ENTIRE map when props
        carries one non-int value — parse map<string,string>, cast the
        looked-up value (fn_map);
      * the decode stub's pixel stats are CODEPOINT stats so the
        per-character oracle holds on any corpus (mm_decode_stub).
    - DIVERGE, inherent to the engines (documented exclusions):
      * levenshtein — DuckDB counts UTF-8 BYTES, Spark characters
        (fn_editdist docstring; agrees on ASCII columns only);
      * exotic case mapping — Spark upper('ß')='SS' vs DuckDB 'STRAẞE',
        Spark lower('İ') keeps the combining dot — the corpus keeps
        upper/lower'd COLUMNS (lang/source) ASCII, text exercises
        everything else.
    """
    return {
        "region": [(0, "AMÉRICA"), (1, "EURÓPA")],
        "nation": [(0, "BRÉSIL", 0), (1, "FRANÇA", 1)],
        "supplier": [(1, "søren's supplies", 0, 100.0), (2, "müller gmbh", 1, 200.0)],
        "part": [(1, "pièce nº1", "Brand#1", "SMALL BRASS", 5, 900.0),
                 (2, "零件二", "Brand#2", "LARGE COPPER", 10, 1100.0)],
        "customer": [(1, "José Müller", 0, 500.0, "BUILDING"),
                     (2, "王小明", 1, 600.0, "MACHINERY")],
        "orders": [(1, 1, "O", 1000.0, D(1997, 3, 1), "1-URGENT"),
                   (2, 2, "F", 2000.0, D(1997, 4, 1), "2-HIGH")],
        "lineitem": BASE["lineitem"],
        "documents": _docs([
            ("café résumé naïve coöperate straße weiß", "de", "s0"),
            ("这是一个测试文档 数据 管道 很快", "zh", "s1"),
            ("good \U0001F44D family \U0001F469\u200d\U0001F469\u200d\U0001F467 mix",
             "en", "s0"),
            ("مرحبا بالعالم hello world", "ar", "s1"),
            ("é composed \xe9 decomposed test case", "fr", "s0"),
            ("a.b*c(d)[e]{f}|g\\h+i?j^k$l regex meta", "en", "s1"),
            ("tab\there nbsp word mixed space", "en", "s0"),
            ("x" * 300 + " short tail words here", "en", "s1"),
        ]),
        "embeddings": [(0, A64, 0), (1, B64, 1)],
        "events": [(0, D(2024, 3, 1, 0, 0), 1, "click", 5.0, '{"k": 1, "note": "caf\\u00e9"}'),
                   (1, D(2024, 3, 1, 1, 0), 2, "purchase", 60.0,
                    '{"k": 2, "note": "\\u6d4b\\u8bd5"}')],
    }


# the multi-byte NBSP/ZWSP rows re-trigger the unicode world's
# levenshtein exclusion for the same reason
@world(excluded={"fn_editdist": _LEVENSHTEIN})
def ctrlchar():
    """The CONTROL-CHARACTER world: invisible and non-printing codepoints
    in every string column, every oracled key on both engines.

    A 100 TB scrape carries what the unicode world (round 6) deliberately
    left out: NUL bytes from binary-contaminated pages, vertical-tab /
    form-feed from PDF text extraction, bare CR and CRLF from DOS files,
    NBSP / zero-width characters from HTML, and the Unicode
    Other_Uppercase / Other_Lowercase letters (Roman numerals Ⅰ Ⅻ,
    ordinal indicators ª º) that sit OUTSIDE the Lu/Ll general categories.

    Known cross-engine fault lines this world prices (probe-verified
    round 10):

    - Java regex ``\\s`` includes vertical tab \\x0B; RE2's is
      ``[ \\t\\n\\f\\r]`` only — any oracle that pairs Spark ``\\s`` with
      DuckDB ``\\s`` diverges on \\x0B. (At world-build time every ORACLED
      key tokenizes on literal ' ' or explicit classes; the Java-``\\s``
      users — RegexTokenizer in dedup_minhash / txt_hashing_tf / the
      seeded-ML featurizer — are rows-only by design.)
    - Spark ``mask()`` classifies via Character.isUpperCase/isLowerCase,
      which follow the Other_Uppercase/Other_Lowercase PROPERTIES: Ⅰ
      (category Nl) masks to X and ª (category Lo) to x, while RE2's
      \\p{Lu}/\\p{Ll} match the general CATEGORY only — fn_mask's oracle
      must mirror the property, not the category.
    - NUL bytes survive parquet round-trips on both engines (probe:
      length/upper/trim agree codepoint-wise); the hazard is downstream
      C-string truncation in sinks, covered by the round-trip keys here.
    """
    return base(
        region=[(0, "AMERICA"), (1, "EUR\tOPE")],
        nation=[(0, "BRAZIL", 0), (1, "FRA\xa0NCE", 1)],
        supplier=[(1, "sup\tone", 0, 100.0), (2, "sup\u200btwo", 1, 200.0)],
        part=[(1, "part\x0bone", "Brand#1", "SMALL BRASS", 5, 900.0),
              (2, "part two", "Brand#2", "LARGE COPPER", 10, 1100.0)],
        customer=[(1, "cust\r\none", 0, 500.0, "BUILDING"),
                  (2, "cust two", 1, 600.0, "MACHINERY")],
        documents=_docs([
            ("plain control free baseline text", "en", "s0"),
            ("nul\x00byte inside a token stream", "en", "s1"),
            ("vertical\x0btab and\x0cformfeed breaks", "en", "s0"),
            ("dos line one\r\nline two\rbare cr", "en", "s1"),
            ("nbsp\xa0bound\xa0words stay joined", "en", "s0"),
            ("zero\u200bwidth\u200cspace\u200djoined text", "en", "s1"),
            ("roman Ⅰ Ⅱ Ⅻ and ordinals \xaa \xba mixed", "en", "s0"),
            ("tab\tseparated\tcolumns masquerade", "en", "s1"),
        ]),
        events=[(0, D(2024, 3, 1, 0, 0), 1, "click", 5.0,
                 '{"k": "a\\u0000b"}'),                       # NUL inside JSON string
                (1, D(2024, 3, 1, 1, 0), 2, "view", 10.0,
                 '{"k": "tab\\tval"}'),                       # escaped tab value
                (2, D(2024, 3, 1, 2, 0), 1, "purchase", 15.0,
                 '{"k\\u00a0spaced": 1, "k": 2}'),            # NBSP inside a KEY
                (3, D(2024, 3, 1, 3, 0), 2, "click", 20.0, '{"k": 3}')],
    )


@world()
def blanktext():
    """The BLANK/DEGENERATE-TEXT world: empty-string and whitespace-only
    documents, every oracled key on both engines.

    The null world owns NULL text; this world owns ZERO-LENGTH and
    whitespace-only text (a failed extraction that still wrote a row, a
    stripped boilerplate page) plus split-edge shapes: leading/trailing/
    double spaces ('' tokens mid-stream), a single long token with no
    spaces, and a lone punctuation char. First probe (round 9) caught:

    - txt_langid / wl_hygiene_attribution: ratio denominators of
      length(text) ANSI-abort on a zero-length document — NULL via nullif
      on both engines (an empty doc has no vowel/digit ratio).
    - mm_decode_stub: Python's list('') is [] but DuckDB's
      string_split('', '') is [''] (one empty token, ascii 0) — the
      zero-byte asset case must be EXPLICIT on both engines (0 px, NULL
      mean), matching the real-codec branch's contract.
    """
    texts = [
        ("", "en", "s0"),                       # empty string (not NULL)
        (" ", "en", "s0"),                      # single space
        ("   ", "en", "s1"),                    # spaces only
        ("\t\n \t", "en", "s1"),                # tabs/newlines
        ("supercalifragilistic" * 10, "en", "s0"),  # one long token, no spaces
        (" leading space", "en", "s1"),         # leading space -> '' token
        ("trailing space ", "en", "s0"),        # trailing space -> '' token
        ("double  space", "en", "s1"),          # '' token mid-stream
        ("normal healthy text with words", "en", "s0"),
        (".", "en", "s1"),                      # single punctuation char
    ]
    return base(documents=_docs(texts))


PROPS = [
    '{"k": 1}',                      # healthy
    '{"k": 2',                       # truncated
    'not json at all',               # garbage
    '',                              # empty string
    'null',                          # JSON null literal
    '{"k": "str"}',                  # wrong type
    '{"k": "7"}',                    # numeric-ish quoted string (r9 advice)
    '{"k": 3.7}',                    # non-integral number: trunc-vs-round
    '{"k": -3.2}',                   # negative non-integral number
    '{"k": "+5"}',                   # signed numeric string
    '{"k": 2147483648}',             # int64-ok / int32-overflow number
    '{"k": true}',                   # boolean-valued property
    '{"a": {"b": {"c": {"d": 7}}}}', # deep nesting
    '{"k": "\\u00e9\\ud83d\\ude00"}',  # unicode escapes (é + emoji pair)
    '[1, 2, 3]',                     # array at top level
    None,                            # NULL props
]

# RFC 8259-unspecified shapes: cross-engine values are OUT of contract,
# abort-safety is still IN (see the badjson world's reason).
AMBIGUOUS_PROPS = [
    '{"k": 1, "k": 2}',              # duplicate key
    '{"k": 1e309}',                  # beyond double range
    '{"k": 123456789012345678901}',  # beyond int64 range
    # number-lexeme rendering in re-serialization (fn_variant's
    # canonical): Spark's variant prints JCS shortest form ("7", "100")
    # where DuckDB's json() preserves the source lexeme ("7.0", "1e2").
    # ECMA-404 doesn't specify number serialization; typed k extraction
    # still agrees (7.0 → 7 on both, probe-verified r10).
    '{"k": 7.0}',                    # integral double lexeme
    '{"k": 1e2}',                    # scientific-notation lexeme
]


def json_events(props):
    return [(i, D(2024, 3, 1, i % 24, 0), (i % 3) + 1, ["click", "view", "purchase"][i % 3],
             5.0 * (i + 1), p) for i, p in enumerate(props)]


@world()
def badjson():
    """The MALFORMED-JSON world: every malformation a 100 TB log feed
    ships in the events.props column, every oracled key on both engines.

    The JSON functions are where the engines' error philosophies collide:
    Spark's get_json_object/from_json PERMISSIVE-NULL malformed input,
    DuckDB's ``->>``/json_keys ERROR on it, Spark's parse_json ABORTS
    where try_parse_json NULLs, and an ANSI CAST of a string-valued
    property aborts both. The round-9 probe broke fn_json (oracle abort),
    fn_map (Spark ANSI cast abort on a unicode prop value), and
    fn_variant (Spark parse abort) in one pass; all three now share the
    null-on-bad-input contract (json_valid/json_type guards + TRY casts
    on both engines).

    OUT of the value contract — RFC 8259 leaves them implementation-
    defined, and the engines legitimately disagree:
    - duplicate-key objects: DuckDB's path extraction is first-wins and
      json_keys keeps BOTH keys; Spark's map/variant dedup (last-wins).
    - numbers beyond double/int64 interop range: DuckDB renders 1e309 as
      ``Infinity`` and parses 123456789012345678901 as a lossy double;
      Spark's variant keeps the exact decimal.
    - number-LEXEME preservation in re-serialization: Spark's variant
      prints JCS shortest form (7.0 → ``7``, 1e2 → ``100``), DuckDB's
      json() keeps the source lexeme (r10).
    Those rows live in AMBIGUOUS_PROPS and get the weaker abort-safety check:
    every key must still EVALUATE (null-propagate), never crash.
    """
    return base(events=json_events(PROPS))


# --- layout worlds ---------------------------------------------------


def _multifile_rows():
    texts = [
        "spark makes big data simple and fast",
        "le spark est rapide et simple",
        "ein kurzer text ueber gar nichts",
        "data pipelines scale with partitions",
        "plain words repeated words repeated here",
        "another short document about engines",
        "sorting must never matter for results",
        "hash joins shuffle on their keys",
    ]
    return {
        "region": [(i, n) for i, n in enumerate(["AMERICA", "EUROPE", "ASIA"])],
        "nation": [(0, "BRAZIL", 0), (1, "FRANCE", 1), (2, "CHINA", 2), (3, "CANADA", 0)],
        "supplier": [(i, f"sup{i}", i % 4, 100.0 * (i + 1)) for i in range(6)],
        "part": [(i, f"part{i}", f"Brand#{i % 3}",
                  ["SMALL BRASS", "LARGE COPPER", "STD TIN"][i % 3], 5 + i, 900.0 + 50.0 * i)
                 for i in range(8)],
        "customer": [(i, f"cust{i}", i % 4, 500.0 + 10.0 * i,
                      ["BUILDING", "MACHINERY", "AUTOMOBILE"][i % 3]) for i in range(8)],
        "orders": [(i, (i % 8), "OF"[i % 2], 1000.0 + 7.5 * i, D(1997, 1 + i % 12, 1 + i % 28),
                    ["1-URGENT", "2-HIGH", "3-MEDIUM"][i % 3]) for i in range(24)],
        "lineitem": [(i % 24, (i % 8) + 1, (i % 6) + 1, i % 7 + 1, 10.0 + i % 5,
                      1000.0 + 13.0 * i, 0.01 * (i % 9), 0.01 * (i % 5), "NRA"[i % 3],
                      "OF"[i % 2], D(1997, 1 + i % 12, 2 + i % 27)) for i in range(48)],
        "documents": [(i, t, ["en", "fr", "de"][i % 3], f"s{i % 2}", len(t))
                      for i, t in enumerate(texts)],
        "embeddings": [(i, [float((i + j * 3) % 7) - 3.0 for j in range(16)], i % 2)
                       for i in range(10)],
        "events": [(i, D(2024, 3, 1 + i % 5, i % 24, i % 60), (i % 4) + 1,
                    ["click", "view", "purchase"][i % 3], 5.0 * (i % 11), f'{{"k": {i % 7}}}')
                   for i in range(40)],
    }


@world(layout=5)
def multifile():
    """The MULTI-FILE SCATTER world: every table physically split across
    several tiny parquet files in shuffled row order, every oracled key
    on both engines.

    At 100 TB no table is one file: a table is thousands of parts whose
    enumeration order differs by lister, and Spark's parallel scan
    interleaves them nondeterministically. A single-file fixture
    therefore MASKS input-order dependence: any key leaning on
    first/any_value without a window, on collect_list order without
    array_sort, or on a LIMIT without full ORDER BY could hash-match by
    luck on one file and diverge on a real multi-part layout (or between
    runs). This world writes every table via round-robin repartition —
    rows deliberately scattered out of key order across 5 parts — and
    requires every oracled key to still hash-match DuckDB reading the
    same parts via glob (DuckDB's glob order ≠ Spark's split order, so
    agreement proves order-independence, the determinism convention
    SURVEY §1.4.4 demands of every key).
    """
    return _multifile_rows()


@world(layout="degenerate_parts")
def multifile_degenerate_parts():
    """The DEGENERATE-PARTS world: the multi-file world's rows laid out
    as one ZERO-row parquet part + one 1-row part + the remaining rows
    scattered across 3 shuffled parts (maximal scatter skew), every
    oracled key on both engines.

    The physical-layout twin of the r6 empty-world bugs: at 100 TB a
    table's parts are NOT uniform — compaction leaves zero-row files,
    predicate-pushdown writers emit single-row tails, and a reader
    that assumes "every split has rows" or "splits are comparable in
    size" breaks exactly there. Every oracled key must still
    hash-match DuckDB reading the same parts via glob.
    """
    return _multifile_rows()


# --- schema-drift worlds ---------------------------------------------

_DRIFT = {
    "region": {"r_regionkey": "smallint"},
    "nation": {"n_nationkey": "smallint", "n_regionkey": "smallint"},
    "supplier": {"s_suppkey": "int", "s_nationkey": "smallint", "s_acctbal": "float"},
    "part": {"p_partkey": "int", "p_size": "smallint", "p_retailprice": "float"},
    "customer": {"c_custkey": "int", "c_nationkey": "smallint", "c_acctbal": "float"},
    "orders": {"o_orderkey": "int", "o_custkey": "int", "o_totalprice": "float"},
    "lineitem": {"l_orderkey": "int", "l_partkey": "int", "l_suppkey": "int",
                 "l_linenumber": "smallint", "l_quantity": "float",
                 "l_extendedprice": "float", "l_discount": "float", "l_tax": "float"},
    "documents": {"doc_id": "int", "n_chars": "smallint"},
    "embeddings": {"vec_id": "int", "embedding": "array<double>", "label": "smallint"},
    "events": {"event_id": "int", "user_id": "smallint", "value": "float"},
}
_TEMPORAL_DRIFT = {
    **_DRIFT,
    "orders": {**_DRIFT["orders"], "o_orderdate": "date"},
    "lineitem": {**_DRIFT["lineitem"], "l_shipdate": "date"},
    "events": {**_DRIFT["events"], "ts": "string"},
}


def _duck_casts(**extra):
    """The oracle-view mirror of load()'s ingest normalization, built
    from the engine's own canonical-type table so the two can never
    drift apart."""
    from systematic_review_classification_spark.sources.tables import _CANONICAL

    casts = {t: {c: DUCK_TYPES[ty] for c, ty in cols.items()}
             for t, cols in _CANONICAL.items()}
    for t, cols in extra.items():
        casts.setdefault(t, {}).update(cols)
    return casts


def _drift_rows(orderdate, shipdate, ts):
    texts = [
        ("spark makes big data simple and fast", "en", "s0"),
        ("le spark est rapide et simple", "fr", "s1"),
        ("ein kurzer text ueber gar nichts", "de", "s0"),
        ("data pipelines scale with partitions", "en", "s1"),
    ]
    return base(
        orders=[(1, 1, "O", 1000.5, orderdate(1997, 3, 1), "1-URGENT"),
                (2, 2, "F", 2000.5, orderdate(1997, 4, 1), "2-HIGH"),
                (3, 1, "O", 1500.0, orderdate(1997, 5, 1), "3-MEDIUM")],
        lineitem=[(1, 1, 1, 1, 10.0, 1000.0, 0.05, 0.02, "N", "O", shipdate(1997, 3, 2)),
                  (2, 2, 2, 1, 20.0, 2000.0, 0.10, 0.04, "R", "F", shipdate(1997, 4, 2)),
                  (3, 1, 2, 2, 30.0, 3000.0, 0.00, 0.00, "N", "O", shipdate(1997, 5, 2))],
        documents=_docs(texts),
        events=[(i, ts(i % 24), (i % 3) + 1, ["click", "view", "purchase"][i % 3],
                 5.0 * (i + 1), f'{{"k": {i}}}') for i in range(6)],
    )


@world(retype=_DRIFT, duck_casts=_duck_casts())
def schemadrift():
    """The SCHEMA-DRIFT world: the same logical tables arriving with
    NARROWER / WIDER physical types — int32 keys, float32 measures,
    smallint lengths, float64 embeddings — every oracled key on both
    engines.

    At 100 TB the engine never owns its inputs: an upstream team
    re-exports with pandas (int64 → int32 when values fit), a vendor
    feed ships REAL instead of DOUBLE, an embedding service switches to
    float64. What the round-10 probe run established (4 keys broke on raw drifted
    parquet): width-sensitivity is an ENGINE-INGEST problem, not a
    per-operator one —

    - hll_sketch_agg ABORTS outright on SMALLINT input
      (wl_hll_daily_rollup); win_ewma's fold state double vs float
      element mismatched the same way;
    - DuckDB rounds a REAL measure in float32 space (fn_math read
      142.9290008544922 where Spark's double-widened round read 142.929)
      and compares REAL to DECIMAL literals by its own promotion rules
      (agg_filtered's FILTER matched different rows per engine), while
      Spark widens float → double before both.

    The fix is one-place: ``sources.tables.load`` widens every drifted
    SCALAR column to its canonical logical type at ingest (exact
    widenings, no-op cast list on a canonical corpus), and this world's
    oracle views mirror that via SELECT * REPLACE casts — both engines
    then see identical logical types, which is the contract a 100 TB
    ingest layer owes its operators. Vector columns need no
    normalization: the embedding family casts elements to double before
    arithmetic (r9 convention) and survived the DOUBLE[] drift unchanged
    (mm_embed_quantize's r10 isfinite(mx-mn) escape covers the only
    double-only abort path).
    """
    return _drift_rows(D, D, lambda h: D(2024, 3, 1, h, 0))


@world(retype=_TEMPORAL_DRIFT,
       duck_casts=_duck_casts(orders={"o_orderdate": "TIMESTAMP"},
                              lineitem={"l_shipdate": "TIMESTAMP"},
                              events={"ts": "TIMESTAMP"}))
def schemadrift_temporal():
    """The TEMPORAL-DRIFT world: the schema-drift world with its time
    columns drifted too, every oracled key on both engines.

    The temporal twin of width drift: a warehouse export ships
    o_orderdate / l_shipdate as DATE (not timestamp) and a CSV relay
    ships events.ts as ISO VARCHAR. load() widens DATE →
    timestamp_ntz (midnight) via _CANONICAL and normalize_event_ts
    owns the ts variants; the oracle views mirror with CAST AS
    TIMESTAMP.
    """
    return _drift_rows(dt.date, dt.date, lambda h: f"2024-03-01 {h:02d}:00:00")


# --- combination worlds ----------------------------------------------


@world(compose=(("null", 0), ("flat", 1000), ("skew", 2000)))
def combo_null_flat_skew():
    """The COMBO world: null-world + flat-world + skew-world rows UNIONED
    per table (key columns offset per source world so primary keys stay
    distinct and intra-world FK joins still resolve), every key on both
    engines.

    Single-axis worlds can miss COMBINATION divergences — the r7 ADVICE
    agg_minmax_by finding (NULL tie-break key × tied skewed metric) was
    exactly that shape, and this world's first probe caught three more in
    one pass:

    - wl_control_chart: a NULL day SHIFTS the moving-range lag chain
      (Spark NULLS FIRST vs DuckDB NULLS LAST) — masked by symmetry at
      the null world's 2 daily rows, divergent at the combo's 9+.
    - wl_stratified_ate: a NULL user_id enters the activity rank order at
      opposite ends on the two engines, moving every other user's stratum
      boundary. Both fixed with the standard drop-NULL-keys policy.
    - dedup_minhash: Catalyst reorders conjunctive predicates, so the
      empty-token-set filter (which inlines RegexTokenizer's Scala UDF)
      can run BEFORE a plain text-IS-NOT-NULL filter and NPE on the null
      world's row — the same pushdown-defeats-hygiene class as
      sim_ann_lsh, fixed the same way (sentinel inside the expression).

    The union deliberately mixes 1997 order dates with 2024 event dates,
    NULL rows next to exact-cancellation rows, and duplicate-heavy skew
    next to flat groups, so per-key guards must compose rather than each
    relying on its own world's shape.
    """


@world(compose=(("nan", 0), ("unicode", 1000), ("extreme_ts", 2000)))
def combo_nan_unicode_ts():
    """The second COMBO world: nan + unicode + extreme-ts rows unioned
    the same way as the first, every key on both engines.

    It covers the other three axes. Its probes caught three more:
    wl_simpson_check (one NaN price makes Spark's regr_slope NaN where
    DuckDB's is NULL, and NaN != 0.0 is TRUE in Spark where NULL <> 0
    is NULL — the sign_flip flag fired on one engine only; masked in
    the pure NaN world where every slope degenerated identically),
    ml_cv (a seeded random fold split stranded a whole class inside
    one fold, making that fold's training complement single-class and
    aborting the AUC evaluator — now a stratified deterministic
    foldCol), and wl_mad_outliers (a NaN value inside a group that
    MIXES NaN and finite rows poisons the two engines' exact medians
    differently, and NaN > 1.8 self-flags — now finite-filtered on
    both engines; masked in the pure NaN world where whole groups
    degenerated together). It inherits every source world's
    exclusions: a key excluded from one axis stays excluded when that
    axis's rows are present.
    """
