"""Driver-contract sweeps over EVERY registered key.

Two failure classes have each cost a full external-verification round:

1. A bare array/map/struct output column — the driver canonicalizes
   results through pandas ``sort_values``, which cannot sort list
   cells, so such a key can never hash-match regardless of semantic
   correctness (`wl_inverted_index`, round 5's only external failure).
2. An unpartitioned window over a data-scaled relation — a single-task
   ``WindowExec: No Partition Defined`` that works at test SF and
   falls over at 100 TB. The per-key plan tests pin the converted
   shapes; this sweep catches NEW regressions anywhere in the
   registry (the JVM-wide WindowExec warning is log4j-silenced in
   session.py, so nothing else would).

Both checks run one pass over all registered queries: build the lazy
DataFrame, record schema and formatted physical plan, assert. Heavy
(~4 min for the full registry) but it turns a burned driver round
into a local test failure.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from systematic_review_classification_spark import all_oracles, all_queries
from tests.harness import plan_of

# Keys allowed to keep an unpartitioned window: must be a window over
# a PROVABLY BOUNDED relation (a reduced aggregate whose cardinality
# is fixed by the schema / an explicit limit, not by the data). Add a
# key here ONLY with a bounded-cardinality justification in a comment.
BOUNDED_WINDOW_OK: set[str] = {
    # Round-7 re-audit (after the detector fix below): every entry's
    # global window runs over a relation whose cardinality is fixed by
    # schema, config, calendar, or an upstream limit — never by data
    # volume. The genuinely data-scaled cases found by the fixed
    # detector (wl_retrieval_eval's full ranking, txt_heaps_fit's bin
    # prefix sums) were converted to the two-pass range shape instead
    # of listed here.
    "ml_label_index",       # dense_rank over the distinct-label frequency table (|langs| rows)
    "ml_rank_screen",       # windows over orderBy().limit(100) output — ≤100 rows via TakeOrdered
    "txt_zipf",             # row_number over the top-100 vocab slice (limit(100) upstream)
    "ml_gains_table",       # running sums over the decile aggregate — 10 rows
    "wl_lorenz_points",     # running share over the decile aggregate — 10 rows
    "wl_temperature_mix",   # global normalizers over the per-source aggregate (|sources| rows)
    "wl_ks_test",           # ECDF over unit-quantized value grid — ≤ value-range bins, not row count
    "wl_kaplan_meier",      # risk-set windows over the per-day aggregate — observation horizon in days
    "wl_percent_of_parent", # global total over the nation-level rollup (≤25 rows by schema)
    "wl_cusum",             # cumulative sum over the per-day series — calendar-bounded
    "wl_control_chart",     # lag over the per-day series — calendar-bounded
    "wl_error_budget",      # burn-down over the per-day series — calendar-bounded
}

_SCALAR_BAD = (T.ArrayType, T.MapType, T.StructType)

# A Window node's formatted-plan Arguments line renders (probe-verified
# on this build — Spark 4.1 OMITS empty spec lists instead of printing
# `[]`, which is why round 6's `\], \[\], \[` regex could never fire):
#   partitioned + ordered:    [winExprs], [partCols], [sortCols]
#   partitioned, unordered:   [winExprs], [partCols]
#   unpartitioned + ordered:  [winExprs], [sortCols]
#   unpartitioned, unordered: [winExprs]
# Two top-level groups is therefore ambiguous; the discriminator is
# that a sort spec ALWAYS renders direction markers (` ASC` / ` DESC`)
# while a partition list is bare column refs.


def _toplevel_group_texts(args_line: str) -> list[str]:
    """Contents of each depth-0 ``[...]`` group on a formatted
    Arguments line (bracket nesting inside windowspecdefinition is
    depth-counted)."""
    groups: list[str] = []
    depth = 0
    buf: list[str] = []
    for ch in args_line:
        if ch == "[":
            depth += 1
            if depth == 1:
                buf = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(buf))
                continue
        if depth >= 1:
            buf.append(ch)
    return groups


def _unpartitioned_window_lines(plan: str) -> list[str]:
    out = []
    for raw in plan.splitlines():
        line = raw.strip()
        if not line.startswith("Arguments: [") or "windowspecdefinition" not in line:
            continue
        groups = _toplevel_group_texts(line)
        if len(groups) >= 3:
            continue  # partition spec + sort spec both present
        if len(groups) == 2 and " ASC" not in groups[1] and " DESC" not in groups[1]:
            continue  # second group is a partition list (unordered window)
        # Exempt the shared two-pass range-rank idiom (functions/ranks.py):
        # its second pass windows over the per-partition stats relation —
        # ≤ spark.sql.shuffle.partitions rows by construction — ordered by
        # the internal `_pid` column. Nothing else uses that name.
        if "windowspecdefinition(_pid#" in line:
            continue
        out.append(line)
    return out


@pytest.fixture(scope="module")
def surfaces(spark, sf_dir):
    """key -> (schema, formatted physical plan) for every registered
    query, built once."""
    out = {}
    for key, fn in all_queries().items():
        df = fn(spark, sf_dir)
        out[key] = (df.schema, plan_of(df))
    return out


def test_oracled_outputs_are_scalar(surfaces):
    """Every oracled key must emit only scalar top-level columns —
    anything else is invisible to the driver's pandas canonicalizer
    (stringify with array_join / to_json instead)."""
    oracled = set(all_oracles())
    bad = [
        (key, f.name, f.dataType.simpleString())
        for key, (schema, _) in surfaces.items()
        if key in oracled
        for f in schema.fields
        if isinstance(f.dataType, _SCALAR_BAD)
    ]
    assert not bad, f"non-scalar output columns on oracled keys: {bad}"


def test_no_unpartitioned_windows(surfaces):
    """No registered key may plan a single-task global window unless
    allowlisted as provably bounded."""
    offenders = []
    for key, (_, plan) in surfaces.items():
        if key in BOUNDED_WINDOW_OK:
            continue
        lines = _unpartitioned_window_lines(plan)
        if lines:
            offenders.append((key, lines[0][:120]))
    assert not offenders, f"unpartitioned windows: {offenders}"


def test_unpartitioned_window_canary(spark, sf_dir):
    """The detector itself must fire: a deliberately GLOBAL window over
    lineitem is flagged, its partitioned twin is not. Guards against
    the round-6 regression where a stale plan-format regex matched
    nothing and the whole sweep was vacuous."""
    from pyspark.sql import Window, functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    bad_ordered = li.withColumn(
        "rn", F.row_number().over(Window.orderBy("l_extendedprice"))
    )
    bad_unordered = li.withColumn(
        "s", F.sum("l_quantity").over(Window.partitionBy())
    )
    good_ordered = li.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
        ),
    )
    good_unordered = li.withColumn(
        "s", F.sum("l_quantity").over(Window.partitionBy("l_returnflag"))
    )
    for name, df in [("ordered", bad_ordered), ("unordered", bad_unordered)]:
        assert _unpartitioned_window_lines(plan_of(df)), (
            f"canary: a global {name} window over lineitem was NOT "
            "flagged — the plan-format parser has gone stale again"
        )
    for df in (good_ordered, good_unordered):
        assert not _unpartitioned_window_lines(plan_of(df))
