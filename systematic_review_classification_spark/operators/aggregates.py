"""Category D — aggregations (SURVEY.md §2.D).

The reference's pipeline aggregates with pandas groupby/describe
(implementation not locally retrievable — /root/reference/README.md:6;
see SURVEY.md §0). Here every aggregate is a declarative
``groupBy(...).agg(...)`` so Catalyst plans partial (map-side) + final
aggregation around a single hash-partitioned exchange — the plan shape
that scales linearly with executors at 100 TB.

Float convention (SURVEY.md §1.4.3): every floating aggregate is
wrapped ``round(expr, n)`` identically in the Spark query and the
DuckDB oracle so cross-engine partial-sum ordering can't flip the
value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from systematic_review_classification_spark.functions.predicates import (
    finite,
    finite_bounded,
    money_round,
    rnd,
)
from systematic_review_classification_spark.registry import query
from systematic_review_classification_spark.sources.tables import load


# --- flagship -----------------------------------------------------------


def _mr(expr: str, scale: int = 2) -> str:
    """Oracle-side mirror of predicates.money_round: decimal-snap a
    finite money aggregate before the coarse round so an exact-decimal
    midpoint (e.g. a duplicate-flood sum of 13 × 95.475 = 1241.175)
    resolves the same way regardless of either engine's summation
    order; non-finite values keep plain-round propagation."""
    return (
        f"CASE WHEN isfinite({expr}) THEN"
        f" CAST(round(CAST({expr} AS DECIMAL(28,6)), {scale}) AS DOUBLE)"
        f" ELSE round({expr}, {scale}) END"
    )


PRICING_SUMMARY_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       {_mr("sum(l_quantity)")}                                           AS sum_qty,
       {_mr("sum(l_extendedprice)")}                                      AS sum_base_price,
       {_mr("sum(l_extendedprice * (1 - l_discount))")}                   AS sum_disc_price,
       {_mr("sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))")}     AS sum_charge,
       {_mr("avg(l_quantity)")}                                           AS avg_qty,
       {_mr("avg(l_extendedprice)")}                                      AS avg_price,
       {_mr("avg(l_discount)")}                                           AS avg_disc,
       count(*)                                                           AS count_order
FROM lineitem
WHERE l_shipdate <= timestamp '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@query("agg_pricing_summary", oracle=PRICING_SUMMARY_ORACLE)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-shaped scan → filter → hash aggregate.

    Plan: parquet scan with pushed shipdate filter and 7-column pruned
    ReadSchema → partial HashAggregate → Exchange on the two group
    keys → final HashAggregate, all inside whole-stage codegen.

    Money aggregates round through money_round's decimal snap (round 9,
    duplicate-flood world): a flood of identical rows sums to an exact
    2-digit midpoint (13 × 95.475 = 1241.175) that plain round(x, 2)
    resolves by summation-order luck — .17 vs .18 across engines and
    even across DuckDB runs. The snap is a per-GROUP scalar on the
    final aggregate (4 rows at any scale), so the scan/shuffle plan is
    byte-identical.
    """
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_round(F.sum("l_quantity")).alias("sum_qty"),
            money_round(F.sum("l_extendedprice")).alias("sum_base_price"),
            money_round(F.sum(disc_price)).alias("sum_disc_price"),
            money_round(F.sum(disc_price * (1 + F.col("l_tax")))).alias("sum_charge"),
            money_round(F.avg("l_quantity")).alias("avg_qty"),
            money_round(F.avg("l_extendedprice")).alias("avg_price"),
            money_round(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query("agg_partial_final", oracle=PRICING_SUMMARY_ORACLE)
def agg_partial_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.D partial→final aggregation, registered as its own key.

    This is a PLAN property, not a distinct query: Catalyst compiles
    every ``groupBy().agg()`` here into partial (map-side combine)
    HashAggregate → Exchange on the group keys → final HashAggregate
    — ``tests/test_plans.py::test_partial_aggregation`` pins exactly
    that shape on this plan. The query body is the flagship pricing
    summary so the key carries a full value-hash oracle rather than a
    synthetic twin."""
    return agg_pricing_summary(spark, sf_dir)


@query(
    "agg_count_distinct",
    oracle="""
SELECT l_returnflag,
       count(DISTINCT l_partkey)               AS nd_part,
       count(DISTINCT CASE WHEN l_partkey IS NULL OR l_suppkey IS NULL
                           THEN NULL ELSE (l_partkey, l_suppkey) END)
                                               AS nd_part_supp,
       count(DISTINCT l_orderkey)              AS nd_order
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (Catalyst expands to two-phase agg).

    NULL policy: Spark's multi-column count(DISTINCT a, b) skips a row
    when ANY column is NULL; DuckDB's count(DISTINCT (a, b)) counts
    the row-value, and (NULL, NULL) is a non-NULL row value — the
    oracle CASEs such rows to NULL so both engines skip them."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("nd_part"),
        F.countDistinct("l_partkey", "l_suppkey").alias("nd_part_supp"),
        F.countDistinct("l_orderkey").alias("nd_order"),
    )


@query("agg_approx_distinct")  # rows-only: HLL estimate is engine-specific
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the 100 TB path for
    distinct counts: one pass, fixed-size sketch, no distinct shuffle.
    Local tests assert the estimate is within rsd of the exact count.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_nd_part"),
        F.countDistinct("l_partkey").alias("exact_nd_part"),
    )


@query(
    "agg_rollup",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid,
       {_mr("sum(l_quantity)")} AS sum_qty,
       count(*)                  AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals. Money/measure sums go through
    money_round: super-aggregate cells sum MANY rows, so cancelling
    (±v) inputs leave a signed FP residue that DuckDB's round keeps as
    −0.0 nondeterministically across runs (flat-world catch, round 9),
    and flooded inputs can land the total on an exact coarse-round
    midpoint — the decimal snap closes both."""
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("int").alias("gid"),
        money_round(F.sum("l_quantity")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_cube",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS INTEGER) AS gid,
       {_mr("sum(o_totalprice)")} AS sum_price,
       count(*)                    AS n
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-subsets subtotals; money_round on the measure for the same
    reason as agg_rollup (the grand-total cell over the flat world's
    cancelling ±prices minted a run-to-run −0.0 from DuckDB)."""
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("int").alias("gid"),
        money_round(F.sum("o_totalprice")).alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_gsets",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       {_mr("sum(o_totalprice)")} AS sum_price,
       count(*)                    AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
)
def agg_gsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        # money_round: the () grouping set is agg_cube's grand-total
        # cell — same −0.0/midpoint exposure
        money_round(F.sum("o_totalprice")).alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_having",
    oracle=f"""
SELECT o_custkey, {_mr("sum(o_totalprice)")} AS total_spent, count(*) AS n_orders
FROM orders GROUP BY o_custkey
HAVING sum(o_totalprice) > 1500000 AND count(*) >= 5
""",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING): filter composes on the agg plan."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            money_round(F.sum("o_totalprice")).alias("total_spent"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("_raw_total"),
        )
        .filter((F.col("_raw_total") > 1500000) & (F.col("n_orders") >= 5))
        .drop("_raw_total")
    )


@query(
    "agg_filtered",
    oracle="""
SELECT l_returnflag,
       round(sum(CASE WHEN l_discount > 0.05 THEN l_extendedprice END), 2) AS disc_rev,
       count(*) FILTER (WHERE l_quantity > 25)                             AS n_bulk,
       round(avg(CASE WHEN l_tax = 0 THEN l_extendedprice END), 2)         AS avg_notax_price
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation — sum(when(...)), count_if."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum(F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice"))), 2).alias("disc_rev"),
        F.count_if(F.col("l_quantity") > 25).alias("n_bulk"),
        F.round(F.avg(F.when(F.col("l_tax") == 0, F.col("l_extendedprice"))), 2).alias("avg_notax_price"),
    )


@query(
    "agg_collect",
    oracle="""
SELECT c_nationkey,
       array_to_string(list_sort(array_agg(c_custkey)), ',') AS custkeys,
       count(*) AS n
FROM customer WHERE c_acctbal > 9000
GROUP BY c_nationkey
""",
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation — collect_list, numerically sorted for
    cross-engine determinism, then joined to one scalar string so the
    result stays hashable for any downstream pandas canonicalizer
    (a raw array<long> column is unhashable in pandas sort/factorize).
    """
    c = load(spark, sf_dir, "customer")
    return (
        c.filter(F.col("c_acctbal") > 9000)
        .groupBy("c_nationkey")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("c_custkey")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("custkeys"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def _safe_corr(x: str, y: str):
    """Pearson r as guarded population moments: covar_pop/(sd·sd) is
    algebraically F.corr, but F.corr ABORTS with ANSI DIVIDE_BY_ZERO
    on a zero-variance column (n>=2 constant input) where DuckDB's
    corr returns NULL — the moments form nulls out identically.

    The zero-variance test is a RELATIVE epsilon (var ≤ 1e-9·avg(c²)
    counts as flat), not an exact nullif: Spark's central-moment
    accumulator gives a constant column variance exactly 0, DuckDB's
    sum-of-squares form leaves a summation-order-dependent ~1e-16
    residue — unguarded, the residue slips past nullif and the ratio
    of two residues mints an arbitrary r (the flat world measured
    −0.47 for a constant-vs-cancelling pair, non-deterministically).
    Oracles mirror the identical CASE (see agg_stats /
    agg_corr_matrix).

    CONTRACT (ADVICE r8, documented rather than changed): the floor
    is deliberately UNCENTERED — relative to avg(c²), not to the
    centered variance scale — because the failure mode it guards is
    catastrophic cancellation in DuckDB's uncentered sum-of-squares
    accumulator, whose residue magnitude tracks avg(c²). A centered
    test (eps·avg((c−mu)²) = eps·var itself) is circular and would
    re-admit the residue class. Consequence: data with relative
    spread below ~3e-5 of its magnitude (e.g. values ≈1e6 with
    sd ≈ 1 → var/avg(c²) ≈ 1e-12) is classified flat and its
    correlation reported NULL on BOTH engines. At that spread the
    uncentered double-precision moments carry no trustworthy r
    anyway (the residue floor ~1e-16·avg(c²) is within 4 decimal
    orders of the signal); a pipeline needing r on such data should
    center/rescale the measure upstream."""

    def flat(c: str):
        return F.var_pop(c) <= 1e-9 * F.avg(F.col(c) * F.col(c))

    return F.when(
        ~flat(x) & ~flat(y),
        F.covar_pop(x, y) / (F.stddev_pop(x) * F.stddev_pop(y)),
    )


@query(
    "agg_stats",
    oracle="""
SELECT l_returnflag,
       round(stddev_samp(l_quantity), 4)                 AS sd_qty,
       round(stddev_pop(l_quantity), 4)                  AS sdp_qty,
       round(var_samp(l_extendedprice), 2)               AS var_price,
       round(CASE WHEN var_pop(l_quantity) > 1e-9 * avg(l_quantity * l_quantity)
                   AND var_pop(l_extendedprice)
                       > 1e-9 * avg(l_extendedprice * l_extendedprice)
                  THEN covar_pop(l_quantity, l_extendedprice)
                       / (stddev_pop(l_quantity) * stddev_pop(l_extendedprice))
             END, 6) + 0.0                               AS corr_qty_price,
       round(covar_samp(l_quantity, l_extendedprice), 4) + 0.0 AS cov_qty_price,
       round(covar_pop(l_quantity, l_discount), 6) + 0.0 AS covp_qty_disc
FROM lineitem
WHERE isfinite(l_quantity) AND isfinite(l_extendedprice) AND isfinite(l_discount)
GROUP BY l_returnflag
""",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (reference evaluates score distributions
    with pandas describe-level stats [PUB]; here distributed).
    Non-finite measures are filtered explicitly on both engines: one
    NaN/inf blows DuckDB's stddev out of range and poisons every
    Spark moment with NaN (``nan`` in tests/worlds.py). The covariance
    columns round through rnd()/+0.0: a CONSTANT column (the
    duplicate-flood world's 0.05 discount) makes the true covariance
    exactly 0, and DuckDB's sum-of-products residue rounds to −0.0
    where Spark's central-moment form gives +0.0 (the standard
    signed-zero class; variance/stddev columns are mathematically
    non-negative after round and need no normalizer). The CORRELATION
    column needs the same snap (multi-file scatter world, r10): on a
    near-uncorrelated group, DuckDB's covar_pop sign flips with file
    READ ORDER — a scattered 5-part layout summed to a −1e-16 residue
    where the single-file fixture summed to +1e-16 — so round(,6)
    minted −0.0 vs Spark's 0.0; order-independence requires the snap
    wherever the true value can be a signed zero."""
    li = load(spark, sf_dir, "lineitem").filter(
        finite("l_quantity") & finite("l_extendedprice") & finite("l_discount")
    )
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.stddev_pop("l_quantity"), 4).alias("sdp_qty"),
        F.round(F.var_samp("l_extendedprice"), 2).alias("var_price"),
        rnd(_safe_corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        rnd(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("cov_qty_price"),
        rnd(F.covar_pop("l_quantity", "l_discount"), 6).alias("covp_qty_disc"),
    )


@query(
    "agg_minmax_by",
    oracle="""
WITH c AS (SELECT * FROM customer
           WHERE c_acctbal IS NOT NULL AND c_custkey IS NOT NULL),
r AS (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal DESC, c_custkey DESC) AS rx,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal ASC, c_custkey ASC) AS rn
  FROM c)
SELECT c_mktsegment,
       max(CASE WHEN rx = 1 THEN c_custkey END) AS richest_cust,
       max(CASE WHEN rn = 1 THEN c_custkey END) AS poorest_cust,
       round(max(c_acctbal), 2) AS max_bal,
       round(min(c_acctbal), 2) AS min_bal
FROM r GROUP BY c_mktsegment
""",
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-extremum aggregates (max_by/min_by ↔ DuckDB arg_max/arg_min)
    with a TOTAL ordering: a bare ``max_by(key, value)`` picks an
    arbitrary row on tied values — nondeterministic across retries and
    partitionings at scale, and divergent between engines (the round-7
    skew-world probe caught Spark and DuckDB choosing different
    customers for an equal balance). The ordering struct appends the
    key itself as the tie-break — richest resolves toward the LARGER
    custkey, poorest toward the SMALLER — per the repo convention that
    every extremum/ranking orders by a unique key. NULL balances carry
    no position in either extremum and are filtered identically on
    both engines (a struct ordering would otherwise rank Spark's
    (NULL, key) rows lowest while SQL's three-valued row comparison
    skips them; DuckDB's arg_max only takes scalar orderings, so the
    oracle states the same total order as two ranked windows). NULL
    custkeys are filtered for the same reason (ADVICE r7): on a tied
    minimum balance Spark's struct comparison ranks a NULL key field
    LOWEST (min_by elects the NULL-key row) while the oracle's
    default NULLS LAST window ordering elects a non-NULL key — a
    NULL tie-break column cannot break ties deterministically, so
    both engines exclude it identically."""
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_acctbal").isNotNull() & F.col("c_custkey").isNotNull()
    )
    omax = F.struct("c_acctbal", "c_custkey")
    return c.groupBy("c_mktsegment").agg(
        F.max_by("c_custkey", omax).alias("richest_cust"),
        F.min_by("c_custkey", omax).alias("poorest_cust"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
    )


@query(
    "agg_median_pct",
    oracle="""
SELECT l_returnflag,
       round(median(l_quantity), 3)                    AS med_qty,
       round(quantile_cont(l_extendedprice, 0.95), 3)  AS p95_price,
       round(quantile_cont(l_extendedprice, 0.5), 3)   AS p50_price
FROM lineitem
WHERE isfinite(l_quantity) AND isfinite(l_extendedprice)
GROUP BY l_returnflag
""",
)
def agg_median_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (F.percentile == continuous interpolation ==
    DuckDB quantile_cont). The 100 TB variant is approx_percentile —
    covered rows-only via agg_approx_distinct's pattern.

    round(,3) not (,2): the true median of 2-decimal prices is a
    midpoint with exactly 3 decimals — round(,2) sits on a half-up
    boundary the two engines resolve differently, round(,3) is exact.

    Non-finite measures are filtered on both engines (the finite()
    policy): DuckDB's comparison-based quantile selection is
    RUN-TO-RUN NONDETERMINISTIC once a group mixes NaN and finite
    values (NaN's inconsistent comparisons make the selected element
    depend on morsel scheduling — combo-2 world, median 10.0 one run
    and NULL the next); masked in the pure NaN world where whole
    groups degenerated together."""
    li = load(spark, sf_dir, "lineitem").filter(
        finite("l_quantity") & finite("l_extendedprice")
    )
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 3).alias("med_qty"),
        F.round(F.percentile("l_extendedprice", 0.95), 3).alias("p95_price"),
        F.round(F.percentile("l_extendedprice", 0.5), 3).alias("p50_price"),
    )


@query(
    "agg_bitwise_bool",
    oracle="""
SELECT l_returnflag,
       CAST(bit_and(l_linenumber) AS INTEGER) AS lin_and,
       CAST(bit_or(l_linenumber)  AS INTEGER) AS lin_or,
       CAST(bit_xor(l_linenumber) AS INTEGER) AS lin_xor,
       bool_and(l_quantity > 1)  AS all_multi,
       bool_or(l_discount = 0)   AS any_nodisc
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_bitwise_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise (bit_and/or/xor) and boolean (bool_and/or) aggregates —
    flag-mask folds and every/any predicates. All are associative +
    commutative, so Spark runs them partial→final (map-side combine)
    like any algebraic aggregate."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bit_and("l_linenumber").cast("int").alias("lin_and"),
        F.bit_or("l_linenumber").cast("int").alias("lin_or"),
        F.bit_xor("l_linenumber").cast("int").alias("lin_xor"),
        F.bool_and(F.col("l_quantity") > 1).alias("all_multi"),
        F.bool_or(F.col("l_discount") == 0).alias("any_nodisc"),
    )


@query("agg_approx_pct")  # rows-only: t-digest/KLL layouts are engine-specific
def agg_approx_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile — the 100 TB quantile path: one pass, bounded
    sketch per group, no sort. Exact percentile rides along so local
    invariant tests can bound the approximation error (the sketch
    itself is engine-specific, hence rows-only)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_p50"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("approx_p95"),
        F.round(F.percentile("l_extendedprice", 0.5), 4).alias("exact_p50"),
        F.round(F.percentile("l_extendedprice", 0.95), 4).alias("exact_p95"),
    )


@query(
    "agg_histogram",
    oracle="""
SELECT CAST(floor((l_extendedprice - 900) / 5000) AS BIGINT) AS bucket,
       count(*)                        AS n,
       round(min(l_extendedprice), 2)  AS lo,
       round(max(l_extendedprice), 2)  AS hi
FROM lineitem WHERE isfinite(l_extendedprice) AND abs(l_extendedprice) <= 9e15
GROUP BY CAST(floor((l_extendedprice - 900) / 5000) AS BIGINT)
""",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram — the data-profiling primitive for 100 TB
    columns: bucket = floor((x - lo) / width), one map-side-combined
    groupBy, O(buckets) output no matter the input size. floor of a
    shared double expression is exact across engines (no rounding
    boundary: floor is not round). A non-finite OR off-grid value
    (|x| > 9e15, finite_bounded — overflow world r9) has no bucket —
    floor(inf)'s and floor(1e150)'s casts both abort the job — so the
    input is filtered identically on both engines; the bucket index
    is BIGINT so every in-grid value has a representable bucket."""
    li = load(spark, sf_dir, "lineitem").filter(finite_bounded("l_extendedprice"))
    bucket = F.floor((F.col("l_extendedprice") - 900) / 5000).cast("bigint")
    return li.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("l_extendedprice"), 2).alias("lo"),
        F.round(F.max("l_extendedprice"), 2).alias("hi"),
    )


@query("agg_hll_sketch")  # rows-only: approximate by construction
def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches via
    hll_sketch_agg): per-group distinct-order estimates PLUS a global
    estimate obtained by UNIONING the per-group sketches — no second
    scan of the fact.

    This is the 100 TB distinct-count architecture: sketches build in
    the map-side partial aggregate (each executor ships ~KB, never the
    keys), merge associatively across partitions/groups/days, and can
    be persisted next to rollup tables so "distinct over any superset
    of groups" becomes a sketch-merge, not a re-scan. Invariant-tested
    against exact counts (tests/test_invariants.py)."""
    li = load(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_orderkey").alias("sk"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    per = g.select(
        "l_returnflag",
        F.col("n_rows"),
        F.hll_sketch_estimate("sk").alias("approx_orders"),
    )
    total = g.agg(
        F.hll_union_agg("sk").alias("sk"), F.sum("n_rows").alias("n_rows")
    ).select(
        F.lit("ALL").alias("l_returnflag"),
        F.col("n_rows"),
        F.hll_sketch_estimate("sk").alias("approx_orders"),
    )
    return per.unionAll(total)


@query(
    "agg_decimal_exact",
    oracle="""
SELECT l_returnflag,
       sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS exact_revenue,
       sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS exact_disc_revenue,
       count(*) AS n
FROM lineitem
WHERE isfinite(l_extendedprice) AND isfinite(l_discount)
GROUP BY l_returnflag
""",
)
def agg_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decimal aggregation: money sums in DECIMAL, not DOUBLE.
    Float sums are order-dependent (parallel partial aggregation makes
    the addition order nondeterministic run to run — why every float
    oracle in this repo rounds); decimal sums are associative and
    EXACT, so the oracle needs no rounding and two runs of the same
    query agree to the last cent. At 100 TB this is the difference
    between a ledger and an estimate: Spark widens the accumulator
    (DECIMAL(28,2) here) so ~10^10 row sums cannot overflow, and
    Tungsten keeps fixed-precision decimals in unsafe rows, off-heap,
    codegen-friendly. A non-finite double cannot enter a DECIMAL
    ledger (the cast errors on DuckDB, nulls on Spark) — filtered
    identically on both engines."""
    li = load(spark, sf_dir, "lineitem").filter(
        finite("l_extendedprice") & finite("l_discount")
    )
    return li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("exact_revenue"),
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
        ).alias("exact_disc_revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_linreg",
    oracle="""
SELECT l_returnflag,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
       round(regr_slope(l_extendedprice, l_quantity), 4) + 0.0     AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 4) + 0.0 AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), 6) + 0.0        AS r2,
       round(regr_avgx(l_extendedprice, l_quantity), 6) + 0.0      AS avg_x,
       round(regr_avgy(l_extendedprice, l_quantity), 4) + 0.0      AS avg_y
FROM lineitem
WHERE isfinite(l_extendedprice) AND isfinite(l_quantity)
GROUP BY l_returnflag
""",
)
def agg_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares fit via the SQL-standard REGR_* aggregate
    family (slope / intercept / R² / per-axis means of the non-null
    pairs) — price-vs-quantity fit per return flag.

    Scale shape: each REGR_* is a single-pass moment aggregate
    (partial sums of x, y, x², xy per partition, merged at the
    reducer) — the same partial/final decomposition as sum/avg, ONE
    hash-agg shuffle regardless of group skew, nothing iterative.
    This is the built-in the naive version (per-group collect + numpy
    polyfit) would hide a scale-killer behind. Non-finite pairs are
    filtered on both engines (DuckDB's VARPOP errors out of range on
    inf; Spark's moments turn NaN)."""
    li = load(spark, sf_dir, "lineitem").filter(
        finite("l_extendedprice") & finite("l_quantity")
    )
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.regr_count(y, x).cast("bigint").alias("n"),
        # rnd()/+0.0 on every fitted moment (multi-file scatter world,
        # r10): the slope/intercept numerators are covariance-form
        # sums whose ~1e-16 residue SIGN follows file read order —
        # the scattered layout minted a DuckDB −0.0 slope on the
        # near-flat N group where the single-file order gave +0.0.
        rnd(F.regr_slope(y, x), 4).alias("slope"),
        rnd(F.regr_intercept(y, x), 4).alias("intercept"),
        rnd(F.regr_r2(y, x), 6).alias("r2"),
        rnd(F.regr_avgx(y, x), 6).alias("avg_x"),
        rnd(F.regr_avgy(y, x), 4).alias("avg_y"),
    )


@query(
    "agg_mode_tiebreak",
    oracle="""
WITH cnt AS (
  SELECT o_orderstatus, o_orderpriority, count(*) AS n
  FROM orders GROUP BY 1, 2),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderstatus
                               ORDER BY n DESC, o_orderpriority) AS rn
  FROM cnt)
SELECT o_orderstatus, o_orderpriority AS mode_priority, n
FROM ranked WHERE rn = 1
""",
)
def agg_mode_tiebreak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: most frequent order priority per
    status, ties broken by value — engine `mode()` aggregates leave
    tie order unspecified (why this is NOT written with F.mode), so
    the portable form is count + windowed pick, which every engine
    executes identically.

    Scale shape: hash agg collapses to (group, value) grain first —
    the window ranks the AGGREGATED table (|groups|×|values| rows,
    partitioned by group), never the raw fact."""
    cnt = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy("o_orderstatus").orderBy(F.col("n").desc(), "o_orderpriority")
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus", F.col("o_orderpriority").alias("mode_priority"), "n"
        )
    )


@query(
    "agg_geomean",
    oracle="""
SELECT l_returnflag,
       round(exp(avg(CASE WHEN l_extendedprice > 0
                          THEN ln(l_extendedprice) END)), 4) AS geomean_price,
       round(exp(avg(CASE WHEN l_quantity > 0
                          THEN ln(l_quantity) END)), 6)      AS geomean_qty,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean via the log identity exp(avg(ln x)) — the right
    average for multiplicative quantities (growth rates, price
    ratios) where the arithmetic mean over-weights spikes. No engine
    ships geometric_mean; the identity turns it into a single-pass
    moment aggregate with the same partial/final decomposition as
    avg — one hash-agg shuffle. The ln is gated to POSITIVE support
    with an explicit CASE on both engines (avg skips the NULLs
    identically): a bare ln(0) aborts DuckDB and silently drops the
    row only on Spark, so zero/negative values would abort one
    engine and diverge the other."""
    li = load(spark, sf_dir, "lineitem")

    def pos_log(c):
        return F.when(F.col(c) > 0, F.log(F.col(c)))

    return li.groupBy("l_returnflag").agg(
        F.round(F.exp(F.avg(pos_log("l_extendedprice"))), 4).alias(
            "geomean_price"
        ),
        F.round(F.exp(F.avg(pos_log("l_quantity"))), 6).alias("geomean_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_weighted_median",
    oracle="""
WITH pw AS (
  SELECT l_returnflag AS flag, l_extendedprice AS price, sum(l_quantity) AS w
  FROM lineitem GROUP BY 1, 2),
cum AS (
  SELECT flag, price,
         sum(w) OVER (PARTITION BY flag ORDER BY price) AS cw,
         sum(w) OVER (PARTITION BY flag) AS tw
  FROM pw)
SELECT flag, min(price) AS w_median
FROM cum WHERE cw >= 0.5 * tw GROUP BY flag
""",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median (price weighted by quantity) per group —
    the order statistic percentile_cont cannot express because each
    row carries a weight.

    Two-stage shape: pre-aggregate weights per (group, value) FIRST —
    the cumulative window then runs over distinct values, not raw rows,
    shrinking the sorted partition by the value-duplication factor and
    making ROWS/RANGE framing equivalent (no ties). The window
    partitions by group; at 100 TB with few groups this is the
    documented skew point — the production path is approx (weighted
    t-digest) or a two-pass range-partitioned rank like ml_eval_auc's.
    Weights stay integral so cw >= 0.5*tw compares exactly in both
    engines."""
    li = load(spark, sf_dir, "lineitem")
    pw = li.groupBy(
        F.col("l_returnflag").alias("flag"), F.col("l_extendedprice").alias("price")
    ).agg(F.sum("l_quantity").alias("w"))
    wflag = W.partitionBy("flag")
    cum = pw.select(
        "flag",
        "price",
        F.sum("w").over(wflag.orderBy("price")).alias("cw"),
        F.sum("w").over(wflag).alias("tw"),
    )
    return (
        cum.filter(F.col("cw") >= 0.5 * F.col("tw"))
        .groupBy("flag")
        .agg(F.min("price").alias("w_median"))
    )


@query("agg_sketch_merge")  # rows-only: HLL estimate is engine-specific
def agg_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed-sketch ALGEBRA: per-group HLL sketches built
    independently (one per order priority — stand-ins for 1000
    executors' shards), union-merged into a global distinct-customer
    estimate. This mergeability — sketch(A ∪ B) = merge(sketch(A),
    sketch(B)) — is why sketches beat exact distinct at 100 TB: the
    shuffle carries fixed-size binaries, not customer keys. Rows-only
    by design (Apache DataSketches HLL has no DuckDB twin);
    tests/test_invariants.py bounds the estimate against the exact
    count (lgConfigK=12 → ~1.6% standard error)."""
    o = load(spark, sf_dir, "orders")
    shard = o.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey", F.lit(12)).alias("sk")
    )
    merged = shard.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_distinct"),
        F.count(F.lit(1)).alias("n_shards"),
    )
    exact = o.agg(F.countDistinct("o_custkey").alias("exact_distinct"))
    return merged.join(F.broadcast(exact)).select(
        "n_shards",
        "est_distinct",
        "exact_distinct",
        F.round(
            F.abs(F.col("est_distinct") - F.col("exact_distinct"))
            # empty input → exact count 0 → NULL rel_err, not an
            # ANSI DIVIDE_BY_ZERO abort
            / F.nullif(F.col("exact_distinct").cast("double"), F.lit(0.0)),
            6,
        ).alias("rel_err"),
    )


@query(
    "agg_higher_moments",
    oracle="""
WITH m AS (
  SELECT l_returnflag AS flag, CAST(count(*) AS DOUBLE) AS n,
         sum(l_quantity) AS s1,
         sum(l_quantity * l_quantity) AS s2,
         sum(l_quantity * l_quantity * l_quantity) AS s3,
         sum(l_quantity * l_quantity * l_quantity * l_quantity) AS s4
  FROM lineitem GROUP BY 1)
SELECT flag, CAST(n AS BIGINT) AS n,
       round((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * pow(s1 / n, 3))
             / nullif(pow(s2 / n - pow(s1 / n, 2), 1.5), 0), 6) AS skew,
       round((s4 / n - 4 * (s1 / n) * (s3 / n) + 6 * pow(s1 / n, 2) * (s2 / n)
              - 3 * pow(s1 / n, 4))
             / nullif(pow(s2 / n - pow(s1 / n, 2), 2), 0) - 3, 6) AS ex_kurtosis
FROM m
""",
)
def agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness + excess kurtosis per group from RAW POWER SUMS — not
    the engine-native skewness()/kurtosis() aggregates, whose
    sample-vs-population bias conventions differ between engines.
    Moment algebra is the portable contract: one partial-aggregating
    pass accumulates (n, Σx, Σx², Σx³, Σx⁴) — a fixed-size mergeable
    state, the same property that distributes agg_corr_matrix — and
    the statistics are derived by an IDENTICAL expression tree on both
    sides. Because l_quantity is integer-valued, every partial sum
    stays an exact double (< 2^53), so the comparison is bit-equal,
    not merely close. A zero-variance group has no shape statistics —
    NULL via nullif on both engines (ANSI division would abort)."""
    li = load(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    m = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.sum(q * q * q).alias("s3"),
        F.sum(q * q * q * q).alias("s4"),
    )
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - F.pow(mean, 2)
    skew = (
        F.col("s3") / F.col("n") - 3 * mean * (F.col("s2") / F.col("n")) + 2 * F.pow(mean, 3)
    ) / F.nullif(F.pow(var, 1.5), F.lit(0.0))
    kurt = (
        F.col("s4") / F.col("n")
        - 4 * mean * (F.col("s3") / F.col("n"))
        + 6 * F.pow(mean, 2) * (F.col("s2") / F.col("n"))
        - 3 * F.pow(mean, 4)
    ) / F.nullif(F.pow(var, 2), F.lit(0.0)) - 3
    return m.select(
        "flag",
        F.col("n").cast("bigint").alias("n"),
        F.round(skew, 6).alias("skew"),
        F.round(kurt, 6).alias("ex_kurtosis"),
    )


@query(
    "agg_variance_merge",
    oracle="""
WITH sh AS (
  SELECT l_orderkey % 4 AS shard, CAST(count(*) AS DOUBLE) AS n,
         sum(l_quantity) AS s1, sum(l_quantity * l_quantity) AS s2
  FROM lineitem GROUP BY 1),
st AS (SELECT shard, n, s1 / n AS mean, s2 - s1 * s1 / n AS m2 FROM sh),
m01 AS (
  SELECT a.n + b.n AS n,
         a.mean + (b.mean - a.mean) * b.n / (a.n + b.n) AS mean,
         a.m2 + b.m2 + (b.mean - a.mean) * (b.mean - a.mean) * a.n * b.n / (a.n + b.n) AS m2
  FROM (SELECT * FROM st WHERE shard = 0) a, (SELECT * FROM st WHERE shard = 1) b),
m23 AS (
  SELECT a.n + b.n AS n,
         a.mean + (b.mean - a.mean) * b.n / (a.n + b.n) AS mean,
         a.m2 + b.m2 + (b.mean - a.mean) * (b.mean - a.mean) * a.n * b.n / (a.n + b.n) AS m2
  FROM (SELECT * FROM st WHERE shard = 2) a, (SELECT * FROM st WHERE shard = 3) b),
merged AS (
  SELECT a.n + b.n AS n,
         a.m2 + b.m2 + (b.mean - a.mean) * (b.mean - a.mean) * a.n * b.n / (a.n + b.n) AS m2
  FROM m01 a, m23 b),
direct AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, sum(l_quantity) AS s1,
         sum(l_quantity * l_quantity) AS s2
  FROM lineitem)
SELECT CAST(m.n AS BIGINT) AS n,
       round(m.m2 / m.n, 6) AS var_merged,
       round((d.s2 - d.s1 * d.s1 / d.n) / d.n, 6) AS var_direct
FROM merged m, direct d
""",
)
def agg_variance_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallel variance via CHAN'S MERGE FORMULA, made explicit: four
    hash shards each reduce to the mergeable state (n, mean, M2), then
    a merge tree combines them — M2_AB = M2_A + M2_B + δ²·n_A·n_B/n —
    and the merged population variance is compared against the direct
    one-pass answer in the same row. This is the algebra hiding inside
    every distributed var_pop/stddev: executors emit (n, mean, M2)
    partials, the exchange carries 3 doubles per partition, and
    merging is associative. Quantities are integer-valued so the power
    sums are exact and both engines' merge trees agree bit-for-bit."""
    li = load(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    sh = li.groupBy((F.col("l_orderkey") % 4).alias("shard")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
    )
    st = sh.select(
        "shard",
        "n",
        (F.col("s1") / F.col("n")).alias("mean"),
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")).alias("m2"),
    )

    def _merge(a, b):
        n = F.col(f"{a}.n") + F.col(f"{b}.n")
        delta = F.col(f"{b}.mean") - F.col(f"{a}.mean")
        return [
            n.alias("n"),
            (F.col(f"{a}.mean") + delta * F.col(f"{b}.n") / n).alias("mean"),
            (
                F.col(f"{a}.m2")
                + F.col(f"{b}.m2")
                + delta * delta * F.col(f"{a}.n") * F.col(f"{b}.n") / n
            ).alias("m2"),
        ]

    s0 = st.filter(F.col("shard") == 0).alias("a")
    s1_ = st.filter(F.col("shard") == 1).alias("b")
    m01 = s0.join(s1_).select(*_merge("a", "b")).alias("a")
    s2_ = st.filter(F.col("shard") == 2).alias("a")
    s3 = st.filter(F.col("shard") == 3).alias("b")
    m23 = s2_.join(s3).select(*_merge("a", "b")).alias("b")
    merged = m01.join(m23).select(
        (F.col("a.n") + F.col("b.n")).alias("n"),
        (
            F.col("a.m2")
            + F.col("b.m2")
            + (F.col("b.mean") - F.col("a.mean"))
            * (F.col("b.mean") - F.col("a.mean"))
            * F.col("a.n")
            * F.col("b.n")
            / (F.col("a.n") + F.col("b.n"))
        ).alias("m2"),
    )
    direct = li.agg(
        F.count(F.lit(1)).cast("double").alias("dn"),
        F.sum(q).alias("ds1"),
        F.sum(q * q).alias("ds2"),
    )
    return merged.join(F.broadcast(direct)).select(
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("m2") / F.col("n"), 6).alias("var_merged"),
        F.round(
            (F.col("ds2") - F.col("ds1") * F.col("ds1") / F.col("dn")) / F.col("dn"), 6
        ).alias("var_direct"),
    )


@query("wl_hll_daily_rollup")  # rows-only: HLL estimates are engine-specific
def wl_hll_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical mergeable-sketch deployment: ONE HLL sketch per
    (day) over user ids, stored once, then weekly distinct actives
    come from merging 7 daily sketches — never rescanning events.
    agg_sketch_merge proves the algebra across shards; this is the
    time axis, where the payoff compounds (a 90-day actives query
    merges 90 fixed-size binaries instead of scanning a quarter of
    raw events). Exact weekly distinct joined alongside;
    tests/test_invariants.py bounds the relative error at lgK=12."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
    )
    weekly_est = daily.groupBy(
        F.date_trunc("week", "day").alias("week")
    ).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_actives"),
        F.count(F.lit(1)).alias("n_days"),
    )
    weekly_exact = ev.groupBy(F.date_trunc("week", "ts").alias("week")).agg(
        F.countDistinct("user_id").alias("exact_actives")
    )
    return (
        weekly_est.join(weekly_exact, "week")
        .select(
            F.col("week").cast("string").alias("week"),
            "n_days",
            "est_actives",
            "exact_actives",
            F.round(
                F.abs(F.col("est_actives") - F.col("exact_actives"))
                / F.col("exact_actives"),
                6,
            ).alias("rel_err"),
        )
    )
