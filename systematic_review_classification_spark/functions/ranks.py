"""Distributed global ordering primitives — the two-pass range rank.

A global ``row_number()`` / running sum ``over(W.orderBy(...))`` with no
partition key collapses the whole relation into ONE task (Spark warns
``WindowExec: No Partition Defined``) — fine for a bounded axis (days,
deciles, partition stats), fatal when the ordered set scales with the
data (users, vocabulary, documents). The scale-correct shape, shared by
``wl_gini`` (operators/warehouse.py) and ``ml._screen_curve``
(operators/ml.py) and factored here so every operator ranks the same
way:

1. ``repartitionByRange`` on the order key so each partition holds a
   contiguous slice of the global order (Spark samples range bounds —
   one extra pass over the keys, no data movement beyond the one
   shuffle the rank needs anyway);
2. per-partition row counts / value sums become cumulative OFFSETS via
   a window over the bounded partition-stats table (``n_partitions``
   rows — the only unpartitioned window left, bounded by config, not
   by data);
3. in-partition ``row_number``/running sum + broadcast offset = the
   exact global result.

Deterministic whenever the order key is a total order (callers append a
unique tie-break column).

CORRECTNESS DEPENDENCY — exchange determinism: the range-partitioned
relation ``d`` is evaluated in TWO plan branches (the per-partition
stats aggregate and the offset join back onto the data). Catalyst
normally compiles both branches onto one ``Exchange rangepartitioning``
node (``ReusedExchange``), so both observe identical sampled range
bounds. If the branches ever compiled to SEPARATE exchanges, the two
samplings could disagree and offsets would silently misalign. This is
safe even with ``spark.sql.exchange.reuse=false`` because
``RangePartitioner`` seeds its reservoir sampling deterministically per
partition (byte-identical input ⇒ identical bounds), but we pin BOTH
properties in ``tests/test_ranks_exchange.py``: plan-level reuse under
default config, and value-level agreement with reuse disabled.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def _with_offsets(
    df: DataFrame,
    order: tuple[Column, ...],
    stat: Column,
    totals: dict[str, Column] | None = None,
):
    """Range-partition ``df`` on ``order``; return (tagged df, per-
    partition cumulative offsets of ``stat``, in-partition window).
    ``totals`` aggregates ride the SAME per-partition stats pass and
    come back as 1-row broadcast columns — global counts/sums cost no
    extra scan of the base relation (the range exchange is reused for
    the stats branch and the rank branch)."""
    d = df.repartitionByRange(*order).withColumn("_pid", F.spark_partition_id())
    totals = totals or {}
    pstats = d.groupBy("_pid").agg(
        stat.alias("_pstat"),
        *[v.alias(f"_t_{k}") for k, v in totals.items()],
    )
    w_prev = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    offs = pstats.select(
        "_pid", F.coalesce(F.sum("_pstat").over(w_prev), F.lit(0)).alias("_off")
    )
    tagged = d.join(F.broadcast(offs), "_pid")
    if totals:
        tot = pstats.agg(*[F.sum(f"_t_{k}").alias(k) for k in totals])
        tagged = tagged.join(F.broadcast(tot))
    w_in = W.partitionBy("_pid").orderBy(*order)
    return tagged, w_in


def global_rank(
    df: DataFrame,
    *order: Column,
    rank_col: str = "rnk",
    totals: dict[str, Column] | None = None,
) -> DataFrame:
    """``row_number() over (ORDER BY *order)`` without the single-task
    window. ``order`` must be a total order (include a tie-break).
    Pass ``totals={"n": F.count(F.lit(1)), ...}`` to get global
    aggregates as extra columns for free (see ``_with_offsets``)."""
    tagged, w_in = _with_offsets(df, order, F.count(F.lit(1)), totals)
    return tagged.withColumn(
        rank_col, F.row_number().over(w_in) + F.col("_off")
    ).drop("_pid", "_off")


def global_prefix_sum(
    df: DataFrame, value: str, *order: Column, out_col: str = "cum"
) -> DataFrame:
    """Inclusive running ``sum(value) over (ORDER BY *order)`` — the
    same two-pass shape with per-partition value sums as offsets."""
    tagged, w_in = _with_offsets(df, order, F.sum(F.col(value)))
    return tagged.withColumn(
        out_col, F.sum(F.col(value)).over(w_in) + F.col("_off")
    ).drop("_pid", "_off")


def global_prefix_min_excl(
    df: DataFrame, value: str, *order: Column, out_col: str = "pmin"
) -> DataFrame:
    """EXCLUSIVE running ``min(value)`` over the global ``*order`` —
    for each row, the min of ``value`` across all STRICTLY-PRECEDING
    rows (NULL for the global first row) — without the single-task
    window, via the same two-pass range shape: per-partition mins
    become cross-partition offsets (min over preceding partitions),
    combined with an in-partition exclusive running min through
    ``least`` (which skips the NULL offset of partition 0 and the NULL
    in-partition min of each partition's first row). ``min``/``least``
    ignore NULL values, so NULL ``value`` rows never pollute the
    prefix, matching ``min() OVER`` semantics. Added r12 for the
    skyline sweep (wl_pareto_frontier).

    ``order`` holds plain ascending expressions. A row with a NULL
    order key has no place in the order: its ``value`` never feeds
    the prefix and its ``out_col`` is NULL. (Spark sorts NULLs first,
    so without this a NULL-key row's value would leak into every
    other row's prefix; DuckDB sorts them last.)"""
    keyed = F.lit(True)
    for c in order:
        keyed = keyed & c.isNotNull()
    v = F.when(keyed, F.col(value))
    d = df.repartitionByRange(*order).withColumn("_pid", F.spark_partition_id())
    pstats = d.groupBy("_pid").agg(F.min(v).alias("_pmin"))
    w_prev = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    offs = pstats.select("_pid", F.min("_pmin").over(w_prev).alias("_off"))
    tagged = d.join(F.broadcast(offs), "_pid")
    w_in = (
        W.partitionBy("_pid")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return tagged.withColumn(
        out_col, F.when(keyed, F.least(F.min(v).over(w_in), F.col("_off")))
    ).drop("_pid", "_off")
