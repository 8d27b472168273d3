"""Warehouse-operations workloads: TPC-H Q11/Q20 adaptations, skew
diagnostics, seasonality, gap-filled resampling, deterministic
sampling, profiling, attribution, and a co-occurrence graph probe.

These close out the classic decision-support surface (Q11/Q20 were the
two TPC-H shapes still missing — both need partsupp, so they are
re-derived over lineitem) and add the operational queries a data
platform team runs against the same tables: key-skew reports before a
big join, per-column profiles before a schema migration, seasonality
and attribution over the event stream.

Scale discipline (same conventions as operators/analytics.py):

- every scalar "total" (Q11 threshold, skew denominator, resample
  bounds) is a 1-row aggregate broadcast into the fact scan — never a
  window over the whole table;
- the triangle probe orients edges (p1 < p2) so each wedge is counted
  once, and blocks on an attribute filter first — the classic trick
  that keeps wedge fan-out bounded on power-law graphs;
- forward-fill uses last(ignorenulls) over a per-group ROWS frame:
  state is one value per partition, mergeable, no driver loop;
- deterministic sampling orders by md5 of the row key, which both
  engines compute identically — reproducible at any scale with zero
  coordination (no seed exchange, no global shuffle).

Determinism: double sums round at 2, ratios at 4-6; integer-valued
doubles (l_quantity) are exact in IEEE754 so share comparisons have no
tie ambiguity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from systematic_review_classification_spark.functions.predicates import (
    finite,
    money_round,
    rnd,
)
from systematic_review_classification_spark.functions.seeded import md5_uniform
from systematic_review_classification_spark.registry import query
from systematic_review_classification_spark.sources.tables import load


@query(
    "wl_q11_partvalue",
    oracle="""
WITH pv AS (
  SELECT l_partkey,
         CASE WHEN isfinite(sum(l_extendedprice * (1 - l_discount)))
              THEN CAST(round(CAST(sum(l_extendedprice * (1 - l_discount))
                                   AS DECIMAL(28,6)), 2) AS DOUBLE)
              ELSE round(sum(l_extendedprice * (1 - l_discount)), 2)
         END AS part_value
  FROM lineitem GROUP BY l_partkey),
tot AS (SELECT sum(part_value) AS total_value FROM pv)
SELECT pv.l_partkey, pv.part_value
FROM pv, tot
WHERE pv.part_value > tot.total_value * 0.001
""",
)
def wl_q11_partvalue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important-stock identification) re-derived
    over lineitem: parts whose shipped value exceeds 0.1% of the
    global shipped value.

    Scale shape: one hash agg on l_partkey (map-side partials), then
    the global total is a second agg over the *already reduced* 2k-row
    part-value table — NOT a second scan of the fact — broadcast back
    as a 1-row scalar join. Threshold sits at 2x the mean part value,
    far from any double-ulp tie. part_value rounds through
    money_round's decimal snap (duplicate-flood catch: a flooded part
    sums to an exact half-cent, and plain round resolves it by
    summation-order luck)."""
    li = load(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        money_round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        ).alias("part_value")
    )
    tot = pv.agg(F.sum("part_value").alias("total_value"))
    return (
        pv.join(F.broadcast(tot))
        .where(F.col("part_value") > F.col("total_value") * 0.001)
        .select("l_partkey", "part_value")
    )


@query(
    "wl_q20_excess",
    oracle="""
WITH sq AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
  FROM lineitem GROUP BY 1, 2),
pq AS (SELECT l_partkey, sum(supp_qty) AS part_qty FROM sq GROUP BY 1)
SELECT DISTINCT s.s_suppkey, s.s_name
FROM sq
JOIN pq USING (l_partkey)
JOIN part p ON p.p_partkey = sq.l_partkey AND p.p_size <= 10
JOIN supplier s ON s.s_suppkey = sq.l_suppkey
WHERE sq.supp_qty > 0.5 * pq.part_qty
""",
)
def wl_q20_excess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (suppliers holding excess share) re-derived
    over lineitem: suppliers that shipped more than half of a small
    part's total quantity.

    Scale shape: per-(part,supplier) quantities reduce the fact once;
    the per-part total re-aggregates that reduced table (partial agg
    reuse, no second fact scan); part and supplier are broadcast dims.
    l_quantity is integer-valued, so the 50% share comparison is exact
    — no float-tie ambiguity between engines."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    supp = load(spark, sf_dir, "supplier")
    sq = li.groupBy("l_partkey", "l_suppkey").agg(F.sum("l_quantity").alias("supp_qty"))
    pq = sq.groupBy("l_partkey").agg(F.sum("supp_qty").alias("part_qty"))
    return (
        sq.join(pq, "l_partkey")
        .join(
            F.broadcast(part.where(F.col("p_size") <= 10)),
            sq.l_partkey == F.col("p_partkey"),
        )
        .join(F.broadcast(supp), sq.l_suppkey == F.col("s_suppkey"))
        .where(F.col("supp_qty") > 0.5 * F.col("part_qty"))
        .select("s_suppkey", "s_name")
        .distinct()
    )


@query(
    "wl_seasonality",
    oracle="""
SELECT CAST(extract(dow FROM ts) AS INTEGER) AS dow,
       CAST(extract(hour FROM ts) AS INTEGER) AS hod,
       count(*) AS n,
       round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2
""",
)
def wl_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic seasonality matrix: event count and value by
    (day-of-week, hour-of-day).

    Spark's dayofweek() is 1=Sunday; DuckDB's extract(dow) is
    0=Sunday — aligned by subtracting 1 here. One hash agg over a
    168-key space: fully map-side combinable, output is O(1) in data
    size. The canonical first query against a new 100 TB event feed."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "wl_skew_report",
    oracle="""
WITH k AS (SELECT l_partkey AS key, count(*) AS n FROM lineitem GROUP BY 1),
s AS (SELECT sum(n) AS total, avg(n) AS avg_n FROM k)
SELECT k.key, k.n,
       round(k.n / s.avg_n, 4) AS skew_factor,
       round(100.0 * k.n / s.total, 4) AS pct_of_rows
FROM k, s
ORDER BY k.n DESC, k.key
LIMIT 20
""",
)
def wl_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: the 20 heaviest l_partkey values with
    their multiple-of-average skew factor and row share.

    This is the query you run BEFORE a big join to decide whether to
    salt. Shape: one hash agg on the candidate key, a 1-row stats agg
    over the reduced key table broadcast back, then a global top-20 —
    Spark's sort-limit is a per-partition top-k + driver merge of 20
    rows per partition, never a full sort."""
    li = load(spark, sf_dir, "lineitem")
    k = li.groupBy(F.col("l_partkey").alias("key")).agg(F.count("*").alias("n"))
    s = k.agg(F.sum("n").alias("total"), F.avg("n").alias("avg_n"))
    return (
        k.join(F.broadcast(s))
        .select(
            "key",
            "n",
            F.round(F.col("n") / F.col("avg_n"), 4).alias("skew_factor"),
            F.round(100.0 * F.col("n") / F.col("total"), 4).alias("pct_of_rows"),
        )
        .orderBy(F.desc("n"), "key")
        .limit(20)
    )


@query(
    "wl_resample_ffill",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
         round(sum(value), 2) AS day_value
  FROM events WHERE value > 99 GROUP BY 1, 2),
bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
spine AS (
  SELECT et.event_type, CAST(gs.d AS DATE) AS d
  FROM (SELECT DISTINCT event_type FROM daily) et,
       (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM bounds) gs)
SELECT s.event_type, strftime(s.d, '%Y-%m-%d') AS d,
       coalesce(dy.day_value, 0.0) AS day_value,
       last_value(dy.day_value IGNORE NULLS)
         OVER (PARTITION BY s.event_type ORDER BY s.d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_value
FROM spine s
LEFT JOIN daily dy ON s.event_type = dy.event_type AND s.d = dy.d
""",
)
def wl_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample to a daily grid with zero-fill and
    forward-fill — the gap-filling primitive behind every dashboard
    downsample.

    Scale shape: the spine is generated from a 1-row min/max aggregate
    via sequence()+explode — O(days x groups) rows materialized
    map-side, never a driver loop. The left join hashes on
    (event_type, day) — grid cardinality, not fact cardinality. The
    forward fill is last(ignorenulls) over a ROWS frame partitioned by
    group: one running value of state per partition, mergeable."""
    ev = load(spark, sf_dir, "events").where(F.col("value") > 99)
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ).agg(F.round(F.sum("value"), 2).alias("day_value"))
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    days = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("d")
    )
    spine = daily.select("event_type").distinct().join(F.broadcast(days))
    w = (
        W.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        spine.join(daily, ["event_type", "d"], "left")
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("d"),
            F.coalesce("day_value", F.lit(0.0)).alias("day_value"),
            F.last("day_value", ignorenulls=True).over(w).alias("ffill_value"),
        )
    )


@query(
    "sample_reservoir",
    oracle="""
SELECT user_id, event_id, event_type FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
  FROM events) t
WHERE rn <= 3
""",
)
def sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sample (reservoir-equivalent): keep 3
    events per user, chosen by md5 of the row key.

    Both engines compute md5 of the same decimal string, so the sample
    is bit-identical with zero coordination — the property that makes
    hash-ordered sampling the right reservoir replacement at 100 TB
    (a true reservoir needs sequential state; this is one window over
    a user-hashed shuffle, and the per-user top-k is computed with a
    rank filter that AQE turns into partial top-k before the shuffle)."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    return (
        ev.select(
            "user_id", "event_id", "event_type", F.row_number().over(w).alias("rn")
        )
        .where(F.col("rn") <= 3)
        .drop("rn")
    )


@query(
    "agg_grouping_id",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       count(*) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup with grouping_id() flags — the disambiguator that lets a
    consumer of a materialized rollup distinguish 'NULL because
    subtotal row' from 'NULL because the data was NULL'.

    Same single-pass expand+hash-agg plan as agg_rollup; grouping_id
    is computed from the expand slice id, zero extra cost."""
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@query(
    "agg_corr_matrix",
    oracle="""
WITH f AS (SELECT l_quantity, l_extendedprice, l_discount FROM lineitem
           WHERE isfinite(l_quantity) AND isfinite(l_extendedprice)
             AND isfinite(l_discount)),
-- flatness-aware corr, mirroring _safe_corr's relative-epsilon guard:
-- a constant column's variance is a ~1e-16 residue here (sum-of-
-- squares form) but exactly 0 on Spark, and the ratio of two residues
-- mints an arbitrary r unguarded
m AS (SELECT count(*) AS n,
             var_pop(l_quantity) > 1e-9 * avg(l_quantity * l_quantity) AS ok_q,
             var_pop(l_extendedprice)
               > 1e-9 * avg(l_extendedprice * l_extendedprice) AS ok_p,
             var_pop(l_discount) > 1e-9 * avg(l_discount * l_discount) AS ok_d,
             covar_pop(l_quantity, l_extendedprice) AS c_qp,
             covar_pop(l_quantity, l_discount) AS c_qd,
             covar_pop(l_extendedprice, l_discount) AS c_pd,
             stddev_pop(l_quantity) AS s_q,
             stddev_pop(l_extendedprice) AS s_p,
             stddev_pop(l_discount) AS s_d
      FROM f)
SELECT 'qty_price' AS pair,
       round(CASE WHEN ok_q AND ok_p THEN c_qp / (s_q * s_p) END, 6) + 0.0 AS r FROM m
UNION ALL
SELECT 'qty_disc' AS pair,
       round(CASE WHEN ok_q AND ok_d THEN c_qd / (s_q * s_d) END, 6) + 0.0 AS r FROM m
UNION ALL
SELECT 'price_disc' AS pair,
       round(CASE WHEN ok_p AND ok_d THEN c_pd / (s_p * s_d) END, 6) + 0.0 AS r FROM m
""",
)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations between lineitem measures,
    unpivoted to (pair, r) rows.

    ONE aggregate pass computes all three correlations (Spark's corr
    is a mergeable moment sketch — map-side partials, O(1) state per
    pair); the unpivot is a stack() over the single result row. The
    oracle's three scans are the semantic spec, not the plan.
    Non-finite measures are filtered on both engines (DuckDB's
    STDDEV_POP errors out of range on inf)."""
    li = load(spark, sf_dir, "lineitem").filter(
        finite("l_quantity") & finite("l_extendedprice") & finite("l_discount")
    )
    from systematic_review_classification_spark.operators.aggregates import _safe_corr

    row = li.agg(
        rnd(_safe_corr("l_quantity", "l_extendedprice"), 6).alias("qty_price"),
        rnd(_safe_corr("l_quantity", "l_discount"), 6).alias("qty_disc"),
        rnd(_safe_corr("l_extendedprice", "l_discount"), 6).alias("price_disc"),
    )
    return row.select(
        F.expr(
            "stack(3, 'qty_price', qty_price, 'qty_disc', qty_disc,"
            " 'price_disc', price_disc) AS (pair, r)"
        )
    )


@query(
    "sql_qualify",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice
FROM orders
QUALIFY row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey) <= 2
""",
)
def sql_qualify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALIFY-clause parity: top-2 orders per customer. Spark SQL has
    no QUALIFY keyword, so the engine-level rewrite every QUALIFY
    implementation performs (project window -> filter -> drop) is done
    explicitly through the SQL frontend. Plan is identical to the
    native clause: one window over a custkey shuffle, filter pushed
    into the window's output."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_q")
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey, o_totalprice FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders_q) t
        WHERE rn <= 2
        """
    )


@query(
    "wl_profile",
    oracle="""
SELECT 'l_quantity' AS col, count(*) AS n, count(l_quantity) AS n_nonnull,
       count(DISTINCT l_quantity) AS n_distinct,
       round(min(l_quantity), 4) AS min_v, round(max(l_quantity), 4) AS max_v,
       round(avg(l_quantity), 4) AS mean_v
FROM lineitem
UNION ALL
SELECT 'l_discount' AS col, count(*), count(l_discount), count(DISTINCT l_discount),
       round(min(l_discount), 4), round(max(l_discount), 4), round(avg(l_discount), 4)
FROM lineitem
UNION ALL
SELECT 'l_tax' AS col, count(*), count(l_tax), count(DISTINCT l_tax),
       round(min(l_tax), 4), round(max(l_tax), 4), round(avg(l_tax), 4)
FROM lineitem
""",
)
def wl_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile report (the pre-migration / data-contract
    check): per column — row count, non-null count, distinct count,
    min/max/mean.

    ONE pass over the fact computes all 3x6 aggregates (count-distinct
    per column expands to a partial-distinct hash agg; Spark plans the
    multi-distinct with a single expand, not three scans); the row
    result is unpivoted driver-free with stack(). The oracle's
    three-scan UNION is the spec, not the plan."""
    li = load(spark, sf_dir, "lineitem")
    aggs = []
    for c in ("l_quantity", "l_discount", "l_tax"):
        aggs += [
            F.count("*").alias(f"{c}__n"),
            F.count(c).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
            F.round(F.min(c), 4).alias(f"{c}__min"),
            F.round(F.max(c), 4).alias(f"{c}__max"),
            F.round(F.avg(c), 4).alias(f"{c}__mean"),
        ]
    row = li.agg(*aggs)
    stacks = ", ".join(
        f"'{c}', {c}__n, {c}__nn, {c}__nd, {c}__min, {c}__max, {c}__mean"
        for c in ("l_quantity", "l_discount", "l_tax")
    )
    return row.select(
        F.expr(
            f"stack(3, {stacks}) AS (col, n, n_nonnull, n_distinct, min_v, max_v, mean_v)"
        )
    )


@query(
    "wl_attribution",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
  FROM events)
SELECT coalesce(channel, 'direct') AS channel, count(*) AS purchases
FROM seq WHERE event_type = 'purchase' GROUP BY 1
""",
)
def wl_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credited to the user's
    most recent preceding non-purchase event type ('direct' if none).

    The carry-forward is last(ignorenulls) over a ROWS frame ending 1
    PRECEDING — one pass, one value of state per user partition, no
    self-join of the event stream against itself (the naive as-of
    formulation). Shuffles once on user_id, then a 5-key hash agg."""
    ev = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    channel = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.select("user_id", "event_type", channel.alias("channel"))
        .where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("channel", F.lit("direct")).alias("channel"))
        .agg(F.count("*").alias("purchases"))
    )


@query(
    "wl_triangles",
    oracle="""
WITH lp AS (
  SELECT DISTINCT l_orderkey, l_partkey
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_size <= 10),
e AS (
  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
w AS (SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c FROM e e1 JOIN e e2 ON e1.p2 = e2.p1),
t AS (SELECT count(*) AS triangles FROM w JOIN e e3 ON w.a = e3.p1 AND w.c = e3.p2)
SELECT (SELECT count(*) FROM e) AS edges, (SELECT count(*) FROM w) AS wedges,
       t.triangles
FROM t
""",
)
def wl_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase graph probe: count edges, wedges, and triangles
    among small parts that co-occur in an order.

    The scalable triangle recipe: (1) block on a part attribute before
    building any pairs; (2) orient every edge p1 < p2 so each triangle
    is enumerated exactly once (no /6 correction, and the join fan-out
    follows out-degree in the orientation, which the ordering bounds
    on power-law graphs); (3) per-order pair fan-out is bounded by
    order size (~4 lines). Two distributed equi-joins, no crossJoin."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").where(F.col("p_size") <= 10)
    lp = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = lp.alias("a"), lp.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
        .distinct()
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    wedges = e1.join(e2, F.col("e1.p2") == F.col("e2.p1")).select(
        F.col("e1.p1").alias("a"), F.col("e1.p2").alias("b"), F.col("e2.p2").alias("c")
    )
    tri = wedges.join(
        e3, (F.col("a") == F.col("e3.p1")) & (F.col("c") == F.col("e3.p2"))
    )
    return (
        e.agg(F.count("*").alias("edges"))
        .join(wedges.agg(F.count("*").alias("wedges")))
        .join(tri.agg(F.count("*").alias("triangles")))
        .select("edges", "wedges", "triangles")
    )


@query(
    "fn_width_bucket",
    oracle="""
SELECT CAST(CASE WHEN l_quantity >= 50 THEN 11
            WHEN l_quantity < 0 THEN 0
            ELSE floor(l_quantity / 5.0) + 1 END AS INTEGER) AS qty_bucket,
       count(*) AS n,
       round(min(l_quantity), 2) AS lo,
       round(max(l_quantity), 2) AS hi
FROM lineitem WHERE isfinite(l_quantity)
GROUP BY 1
""",
)
def fn_width_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width binning with the SQL width_bucket() function (10
    buckets over [0, 50), overflow bucket 11) — the histogramming
    primitive. DuckDB lacks width_bucket, so the oracle spells out the
    same floor arithmetic; l_quantity is integer-valued so bucket
    edges are exact in both engines.

    Binning is a pure projection (stays in whole-stage codegen); the
    group-by is over <=12 keys — fully map-side combined. A NaN has
    no bucket (Spark width_bucket returns NULL where DuckDB's NaN >
    everything rule lands it in the overflow bucket) — non-finite
    values are filtered identically on both engines."""
    li = load(spark, sf_dir, "lineitem").filter(finite("l_quantity"))
    return (
        li.select(
            F.expr("width_bucket(l_quantity, 0.0D, 50.0D, 10)")
            .cast("int")
            .alias("qty_bucket"),
            "l_quantity",
        )
        .groupBy("qty_bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("l_quantity"), 2).alias("lo"),
            F.round(F.max("l_quantity"), 2).alias("hi"),
        )
    )


@query(
    "wl_gini",
    oracle="""
WITH r AS (SELECT o_custkey, round(sum(o_totalprice), 2) AS rev FROM orders
           WHERE o_custkey IS NOT NULL GROUP BY 1
           HAVING sum(o_totalprice) IS NOT NULL),
rk AS (SELECT rev, row_number() OVER (ORDER BY rev, o_custkey) AS i FROM r)
SELECT round(2.0 * sum(i * rev) / nullif(count(*) * sum(rev), 0)
             - (count(*) + 1.0) / nullif(count(*), 0), 6) AS gini
FROM rk
""",
)
def wl_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of per-customer revenue — the inequality
    metric behind every 'whales vs long tail' analysis.

    The rank-sum formula G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n needs a
    GLOBAL ascending rank — the classic single-reducer trap. Done here
    with the same two-pass range rank as ml._screen_curve: (1)
    repartitionByRange on (rev, custkey) so partitions hold contiguous
    slices of the global order, (2) per-partition counts become
    cumulative offsets via a window over the bounded partition-stats
    table, (3) in-partition row_number + offset = global rank. Ties
    contribute identically whatever their relative order (equal x,
    distinct i: sum(i*x) is invariant under permutation), so the
    result is deterministic. Input to the rank is the per-customer
    aggregate, already reduced by one hash agg."""
    orders = load(spark, sf_dir, "orders")
    # NULL-customer rows and all-NULL revenues are excluded on both
    # sides: a NULL rev ranks FIRST in Spark and LAST in DuckDB,
    # shifting every real rank i and with it the whole statistic
    r = (
        orders.filter(F.col("o_custkey").isNotNull())
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
        .filter(F.col("rev").isNotNull())
    )
    d = r.repartitionByRange(F.col("rev"), F.col("o_custkey")).withColumn(
        "_pid", F.spark_partition_id()
    )
    pstats = d.groupBy("_pid").agg(F.count(F.lit(1)).alias("_pcnt"))
    w_p = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    offs = pstats.select(
        "_pid", F.coalesce(F.sum("_pcnt").over(w_p), F.lit(0)).alias("_off")
    )
    w_in = W.partitionBy("_pid").orderBy("rev", "o_custkey")
    ranked = d.join(F.broadcast(offs), "_pid").select(
        "rev", (F.row_number().over(w_in) + F.col("_off")).alias("i")
    )
    return ranked.agg(
        F.round(
            2.0 * F.sum(F.col("i") * F.col("rev"))
            / F.nullif(F.count(F.lit(1)) * F.sum("rev"), F.lit(0.0))
            - (F.count(F.lit(1)) + 1.0)
            / F.nullif(F.count(F.lit(1)), F.lit(0)),
            6,
        ).alias("gini")
    )


@query(
    "wl_equidepth_bins",
    oracle="""
WITH rk AS (
  SELECT o_totalprice,
         ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders WHERE o_totalprice IS NOT NULL)
SELECT decile, count(*) AS n,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi,
       round(sum(o_totalprice), 2) AS total
FROM rk GROUP BY decile
""",
)
def wl_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) bin report over order values: bin
    boundaries, counts, and mass — the exact-quantile companion to
    fn_width_bucket's equi-width bins.

    The oracle's ntile() is a global sort; Spark-side the same bucket
    assignment comes from the two-pass range rank (contiguous range
    partitions -> offset join -> in-partition row_number), then
    ntile's fill rule — first (n mod 10) buckets take one extra row —
    is applied arithmetically from the broadcast total count. No
    single-reducer window anywhere."""
    orders = load(spark, sf_dir, "orders")
    # a NULL value has no quantile: it would land in bin 1 under
    # Spark's NULLS FIRST and bin 10 under DuckDB's NULLS LAST —
    # excluded identically on both sides
    d = (
        orders.select("o_totalprice", "o_orderkey")
        .filter(F.col("o_totalprice").isNotNull())
        .repartitionByRange(F.col("o_totalprice"), F.col("o_orderkey"))
        .withColumn("_pid", F.spark_partition_id())
    )
    pstats = d.groupBy("_pid").agg(F.count(F.lit(1)).alias("_pcnt"))
    w_p = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    offs = pstats.select(
        "_pid", F.coalesce(F.sum("_pcnt").over(w_p), F.lit(0)).alias("_off")
    )
    n_tot = pstats.agg(F.sum("_pcnt").alias("_n"))
    w_in = W.partitionBy("_pid").orderBy("o_totalprice", "o_orderkey")
    ranked = (
        d.join(F.broadcast(offs), "_pid")
        .withColumn("rn", F.row_number().over(w_in) + F.col("_off"))
        .join(F.broadcast(n_tot))
    )
    # ntile(10) fill rule: q = n div 10, r = n mod 10; the first r
    # buckets hold q+1 rows, the rest q.
    decile = F.when(
        F.col("rn") <= (F.col("_n") % 10) * (F.floor(F.col("_n") / 10) + 1),
        (F.col("rn") - 1) / (F.floor(F.col("_n") / 10) + 1) + 1,
    ).otherwise(
        (F.col("_n") % 10)
        + (
            F.col("rn")
            - (F.col("_n") % 10) * (F.floor(F.col("_n") / 10) + 1)
            - 1
        )
        / F.floor(F.col("_n") / 10)
        + 1
    )
    return (
        ranked.withColumn("decile", F.floor(decile).cast("int"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@query(
    "dedup_cluster_hist",
    oracle="""
SELECT sz, count(*) AS n_clusters FROM (
  SELECT count(*) AS sz FROM documents GROUP BY md5(text)) c
GROUP BY sz
""",
)
def dedup_cluster_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram — the dedup planning report
    ('how much of the corpus is exact-dup, in what cluster sizes?').

    Two chained hash aggs, both map-side combinable; the second
    operates on the already-reduced cluster table. Shuffles carry md5
    fingerprints, never document text."""
    docs = load(spark, sf_dir, "documents")
    clusters = docs.groupBy(F.md5("text").alias("fp")).agg(F.count("*").alias("sz"))
    return clusters.groupBy("sz").agg(F.count("*").alias("n_clusters"))


@query(
    "fn_epoch",
    oracle="""
SELECT event_id,
       epoch_us(ts) AS us,
       epoch_ms(ts) AS ms,
       CAST(floor(epoch(ts)) AS BIGINT) AS sec,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS rendered
FROM events
""",
)
def fn_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-unit conversion suite (µs / ms / s + formatted render) —
    the conversions whose silent unit drift broke the round-2
    streaming tier, now pinned as an oracled operator. All pure
    codegen projections; UTC session timezone makes the ntz→ltz cast
    the identity, so both engines see identical instants."""
    ev = load(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    return ev.select(
        "event_id",
        F.unix_micros(ts).alias("us"),
        F.unix_millis(ts).alias("ms"),
        F.unix_seconds(ts).alias("sec"),
        F.date_format(ts, "yyyy-MM-dd HH:mm:ss").alias("rendered"),
    )


@query(
    "sink_partitioned",
    oracle="""
SELECT event_id, user_id, round(value, 2) AS value
FROM events
WHERE event_type = 'purchase' AND value > 50
""",
)
def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet sink + pruned readback: write events
    partitioned by event_type, read back ONE partition directory.

    The readback filter on event_type is satisfied by directory
    pruning (PartitionFilters, zero data read from other partitions)
    and the value predicate pushes into the parquet scan of the one
    surviving partition — the layout every 100 TB event lake uses.
    Write side: partitionBy on a 5-value column gives 5 output
    streams per task; at scale you'd repartition on the partition
    column first to bound small files (done here)."""
    import os
    import tempfile

    ev = load(spark, sf_dir, "events")
    out = os.path.join(
        tempfile.gettempdir(),
        "systematic_review_classification_spark_sink_part",
        os.path.basename(sf_dir.rstrip("/")),
    )
    (
        ev.repartition("event_type")
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(out)
    )
    # explicit schema keeps the readback total on an EMPTY export
    # (a partitioned write of zero rows creates no directories)
    back = spark.read.schema(ev.schema).parquet(out)
    return (
        back.where((F.col("event_type") == "purchase") & (F.col("value") > 50))
        .select("event_id", "user_id", F.round("value", 2).alias("value"))
    )


@query(
    "wl_chi2_assoc",
    oracle="""
WITH o AS (SELECT lang, source, count(*)::DOUBLE AS obs FROM documents GROUP BY 1, 2),
rt AS (SELECT lang, sum(obs) AS r FROM o GROUP BY lang),
ct AS (SELECT source, sum(obs) AS c FROM o GROUP BY source),
n AS (SELECT sum(obs) AS n FROM o),
cells AS (
  SELECT rt.lang, ct.source, coalesce(o.obs, 0.0) AS obs, rt.r * ct.c / n.n AS exp
  FROM rt CROSS JOIN ct CROSS JOIN n
  LEFT JOIN o ON o.lang = rt.lang AND o.source = ct.source)
SELECT round(sum((obs - exp) * (obs - exp) / exp), 6) AS chi2,
       CAST((count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1) AS BIGINT) AS dof
FROM cells
""",
)
def wl_chi2_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between document language and
    source — the categorical-association screen run before trusting a
    domain-mix feature.

    Shape: one hash agg over the fact (lang x source cells), then all
    margin/expected arithmetic happens on the reduced cell table —
    margins via two tiny aggs, zero-observed cells restored by a
    cross join of the two margin tables (bounded: |langs| x |sources|)
    with a left join back. The fact is scanned once; every later input
    is O(cells)."""
    docs = load(spark, sf_dir, "documents")
    o = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("double").alias("obs")
    )
    rt = o.groupBy("lang").agg(F.sum("obs").alias("r"))
    ct = o.groupBy("source").agg(F.sum("obs").alias("c"))
    n = o.agg(F.sum("obs").alias("n"))
    cells = (
        rt.crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(n))
        .join(o, ["lang", "source"], "left")
        .select(
            "lang",
            "source",
            F.coalesce("obs", F.lit(0.0)).alias("obs"),
            (F.col("r") * F.col("c") / F.col("n")).alias("exp"),
        )
    )
    return cells.agg(
        F.round(
            F.sum((F.col("obs") - F.col("exp")) ** 2 / F.col("exp")), 6
        ).alias("chi2"),
        (
            (F.countDistinct("lang") - 1) * (F.countDistinct("source") - 1)
        ).cast("bigint").alias("dof"),
    )


@query(
    "wl_mad_outliers",
    oracle="""
WITH f AS (SELECT * FROM events WHERE isfinite(value)),
med AS (
  SELECT event_type, round(median(value), 6) AS med_v
  FROM f GROUP BY event_type),
mad AS (
  SELECT e.event_type, med.med_v,
         round(median(abs(e.value - med.med_v)), 6) AS mad_v
  FROM f e JOIN med USING (event_type)
  GROUP BY e.event_type, med.med_v)
SELECT e.event_id, e.event_type,
       round((e.value - m.med_v) / m.mad_v, 4) AS mad_score
FROM f e JOIN mad m USING (event_type)
WHERE m.mad_v > 0 AND abs((e.value - m.med_v) / m.mad_v) > 1.8
""",
)
def wl_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier detection — the robust
    alternative to z-scores (wl_anomaly_zscore) that a heavy-tailed
    metric needs: medians don't move when the outliers themselves do.

    Shape: per-type exact median (percentile over a per-type
    partition, bounded by type cardinality — both engines interpolate
    the same two middle doubles), broadcast back; a second per-type
    median over the absolute deviations; then one broadcast join
    flags |score| > 1.8. Two bounded aggregates + two broadcast joins;
    the fact never self-joins. A type whose MAD is exactly 0 (over
    half its values identical — common for fee-like metrics) has no
    robust spread to score against and is skipped on both engines;
    unguarded, that division aborts the job under ANSI mode.

    Non-finite values are filtered on both engines (the finite()
    policy): a NaN is corrupt input, not an outlier — letting it into
    the median/MAD chain poisons the group's spread differently per
    engine (the two engines' exact-median machinery treats NaN's sort
    position differently once a group mixes NaN and finite rows;
    combo-2 catch), and NaN > 1.8 is TRUE in both engines' comparison
    order, so an unfiltered NaN row even self-flags."""
    ev = load(spark, sf_dir, "events").filter(finite("value"))
    med = ev.groupBy("event_type").agg(
        F.round(F.median("value"), 6).alias("med_v")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med_v")
        .agg(F.round(F.median(F.abs(F.col("value") - F.col("med_v"))), 6).alias("mad_v"))
    )
    score = (F.col("value") - F.col("med_v")) / F.col("mad_v")
    return (
        ev.join(F.broadcast(mad.filter(F.col("mad_v") > 0)), "event_type")
        .where(F.abs(score) > 1.8)
        .select("event_id", "event_type", F.round(score, 4).alias("mad_score"))
    )


@query(
    "wl_source_overlap",
    oracle="""
WITH vocab AS (
  SELECT DISTINCT source, w FROM (
    SELECT source, unnest(string_split(lower(regexp_replace(text, '[^a-zA-Z ]', ' ', 'g')), ' ')) AS w
    FROM documents) t
  WHERE length(w) >= 3),
sizes AS (SELECT source, count(*) AS n FROM vocab GROUP BY source),
inter AS (
  SELECT a.source AS s1, b.source AS s2, count(*) AS n_common
  FROM vocab a JOIN vocab b ON a.w = b.w AND a.source < b.source
  GROUP BY 1, 2)
SELECT i.s1, i.s2, i.n_common,
       round(i.n_common / (x.n + y.n - i.n_common), 6) AS jaccard
FROM inter i
JOIN sizes x ON i.s1 = x.source
JOIN sizes y ON i.s2 = y.source
""",
)
def wl_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary overlap matrix between corpus sources: pairwise
    Jaccard of each source pair's distinct token sets — the
    domain-similarity diagnostic behind mixture-weight decisions
    (wl_domain_mix) and contamination checks.

    Shape: one explode + distinct to the (source, token) grain, then
    the pairwise intersection is an equi-join ON THE TOKEN (each token
    contributes its source pairs — never an all-pairs vocabulary
    comparison); union sizes come from a bounded per-source count
    broadcast back. Token-key join cardinality is bounded by sources
    per token (<= 5 here)."""
    docs = load(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            "source",
            F.explode(
                F.split(F.lower(F.regexp_replace("text", "[^a-zA-Z ]", " ")), " ")
            ).alias("w"),
        )
        .where(F.length("w") >= 3)
        .distinct()
    )
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = vocab.alias("a"), vocab.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w")) & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(F.col("a.source").alias("s1"), F.col("b.source").alias("s2"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    x = sizes.select(F.col("source").alias("s1"), F.col("n").alias("nx"))
    y = sizes.select(F.col("source").alias("s2"), F.col("n").alias("ny"))
    return (
        inter.join(F.broadcast(x), "s1")
        .join(F.broadcast(y), "s2")
        .select(
            "s1",
            "s2",
            "n_common",
            F.round(
                F.col("n_common") / (F.col("nx") + F.col("ny") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
    )


@query(
    "wl_data_quality",
    oracle="""
WITH o AS (
  SELECT count(*) AS orders_rows,
         sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_totalprice,
         sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)::BIGINT AS nonpos_totalprice,
         count(*) - count(DISTINCT o_orderkey) AS dup_orderkeys
  FROM orders),
l AS (
  SELECT count(*) AS lineitem_rows,
         sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)::BIGINT AS qty_out_of_range,
         sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)::BIGINT AS discount_out_of_range
  FROM lineitem),
orph AS (
  SELECT count(*) AS orphan_lineitems
  FROM lineitem li WHERE NOT EXISTS (SELECT 1 FROM orders o2 WHERE o2.o_orderkey = li.l_orderkey))
SELECT o.orders_rows, o.null_totalprice, o.nonpos_totalprice, o.dup_orderkeys,
       l.lineitem_rows, l.qty_out_of_range, l.discount_out_of_range,
       orph.orphan_lineitems
FROM o, l, orph
""",
)
def wl_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract validation report — the expectations check every
    production pipeline runs before publishing a table: row counts,
    null checks, range checks, key uniqueness, and referential
    integrity (orphan facts), all in ONE row.

    Shape for 100 TB: each table is scanned ONCE with all its checks
    fused into a single partial-aggregating pass (conditional sums,
    not one job per rule); the only shuffle is the orphan check's
    left-anti join on the fact key plus three 1-row cross joins. A
    rules engine adds rules by adding agg columns, not passes."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    o_rep = o.agg(
        F.count(F.lit(1)).alias("orders_rows"),
        F.sum(F.when(F.col("o_totalprice").isNull(), 1).otherwise(0)).alias(
            "null_totalprice"
        ),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
            "nonpos_totalprice"
        ),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("dup_orderkeys"),
    )
    l_rep = li.agg(
        F.count(F.lit(1)).alias("lineitem_rows"),
        F.sum(
            F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1).otherwise(0)
        ).alias("qty_out_of_range"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1).otherwise(0)
        ).alias("discount_out_of_range"),
    )
    orph = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("orphan_lineitems"))
    )
    return o_rep.join(F.broadcast(l_rep)).join(F.broadcast(orph))


@query(
    "wl_merge_upsert",
    oracle="""
WITH src AS (
  SELECT o_custkey AS key, round(sum(o_totalprice), 2) AS delta
  FROM orders WHERE o_orderdate >= DATE '1997-01-01' GROUP BY o_custkey
  UNION ALL
  SELECT o_custkey + 1000000 AS key, round(sum(o_totalprice), 2) AS delta
  FROM orders WHERE o_orderdate >= DATE '1997-01-01' AND o_custkey % 50 = 0
  GROUP BY o_custkey)
SELECT coalesce(t.c_custkey, s.key) AS key,
       coalesce(t.c_name, 'NEW-' || CAST(s.key AS VARCHAR)) AS name,
       round(coalesce(t.c_acctbal, 0) + coalesce(s.delta, 0), 2) AS acctbal,
       CASE WHEN t.c_custkey IS NULL THEN 'INSERT'
            WHEN s.key IS NULL THEN 'KEEP'
            ELSE 'UPDATE' END AS action
FROM customer t FULL OUTER JOIN src s ON t.c_custkey = s.key
""",
)
def wl_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE INTO (upsert) semantics via full-outer join — the
    warehouse three-branch merge: WHEN MATCHED update (balance +=
    period spend), WHEN NOT MATCHED insert (synthetic late-arriving
    customers, key-shifted so the branch is non-empty at every SF),
    WHEN NOT MATCHED BY SOURCE keep.

    MERGE fundamentally requires co-partitioning target and source on
    the merge key — expressed here as one shuffle-on-key full-outer
    SMJ (a full outer can never broadcast). At 100 TB the win comes
    from bucketing the target on the key so only the source side
    shuffles; the branch logic is identical."""
    t = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= F.lit("1997-01-01"))
    upd = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("delta")
    )
    ins = (
        o.filter(F.col("o_custkey") % 50 == 0)
        .groupBy((F.col("o_custkey") + 1000000).alias("key"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("delta"))
    )
    s = upd.unionByName(ins)
    m = t.join(s, t.c_custkey == s.key, "full_outer")
    return m.select(
        F.coalesce(t.c_custkey, s.key).alias("key"),
        F.coalesce(t.c_name, F.concat(F.lit("NEW-"), s.key.cast("string"))).alias("name"),
        F.round(
            F.coalesce(t.c_acctbal, F.lit(0)) + F.coalesce(s.delta, F.lit(0)), 2
        ).alias("acctbal"),
        F.when(t.c_custkey.isNull(), "INSERT")
        .when(s.key.isNull(), "KEEP")
        .otherwise("UPDATE")
        .alias("action"),
    )


@query(
    "wl_benford",
    oracle="""
WITH d AS (
  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS INTEGER) AS digit
  FROM orders WHERE o_totalprice >= 1 AND isfinite(o_totalprice)),
c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
t AS (SELECT sum(n) AS tot FROM c)
SELECT digit, n, round(CAST(n AS DOUBLE) / tot, 6) AS observed,
       round(log10(1.0 + 1.0 / digit), 6) AS benford_expected
FROM c, t
""",
)
def wl_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit on order totals — the
    fraud/synthetic-data smell test: leading-digit frequencies vs the
    log10(1 + 1/d) law. One scan + a 9-row aggregate + a broadcast
    1-row total. Digit extraction floors BOTH engines before the
    bigint cast (DuckDB CAST(double AS BIGINT) rounds half-even,
    Spark truncates — the proj_cast dialect trap). Finite-only on
    both engines: Spark's NaN-greater-than-everything comparison lets
    NaN through `>= 1`, and floor(NaN)'s ANSI bigint cast aborts the
    job."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_totalprice") >= 1) & finite("o_totalprice")
    )
    d = o.select(
        F.substring(F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("tot"))
    return c.join(F.broadcast(t)).select(
        "digit",
        "n",
        F.round(F.col("n").cast("double") / F.col("tot"), 6).alias("observed"),
        F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("benford_expected"),
    )


@query(
    "sql_group_by_all",
    oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(sum(l_quantity), 2) AS qty, round(avg(l_discount), 6) AS avg_disc
FROM lineitem GROUP BY ALL
""",
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL parity (modern-SQL ergonomics, Spark 3.4+ and
    DuckDB agree on the rule: group on every non-aggregate select
    item). Resolves to the identical hash aggregate as an explicit
    column list — sugar at the analyzer, not a new plan."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gba")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               round(sum(l_quantity), 2) AS qty, round(avg(l_discount), 6) AS avg_disc
        FROM lineitem_gba GROUP BY ALL
        """
    )


@query(
    "wl_forget_users",
    oracle="""
WITH deny AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = 'signup' AND user_id % 7 = 0),
tagged AS (
  SELECT e.event_type,
         CASE WHEN d.user_id IS NULL THEN 0 ELSE 1 END AS hit
  FROM events e LEFT JOIN deny d ON e.user_id = d.user_id)
SELECT event_type,
       CAST(sum(hit) AS BIGINT) AS purged,
       CAST(sum(1 - hit) AS BIGINT) AS kept
FROM tagged GROUP BY event_type
""",
)
def wl_forget_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade (GDPR art. 17): a deny-list of
    requesting users propagates through every fact table, reported as
    purged/kept per event type — the audit record a deletion job must
    emit. The deny-list is small by nature → broadcast; the fact scan
    tags rows map-side (no shuffle before the count agg). At 100 TB
    the same broadcast drives an actual partition-rewrite sink;
    the report and the rewrite share this one plan."""
    ev = load(spark, sf_dir, "events")
    deny = (
        ev.filter((F.col("event_type") == "signup") & (F.col("user_id") % 7 == 0))
        .select("user_id")
        .distinct()
    )
    tagged = ev.join(
        F.broadcast(deny.withColumnRenamed("user_id", "d_uid")),
        ev.user_id == F.col("d_uid"),
        "left",
    ).select(
        "event_type", F.when(F.col("d_uid").isNull(), 0).otherwise(1).alias("hit")
    )
    return tagged.groupBy("event_type").agg(
        F.sum("hit").cast("bigint").alias("purged"),
        F.sum(1 - F.col("hit")).cast("bigint").alias("kept"),
    )


@query(
    "sql_cluster_by",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice FROM orders
""",
)
def sql_cluster_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTE BY + SORT BY frontend parity — the layout-control
    clauses ETL jobs use to co-locate and pre-order output before a
    partitioned write (cheaper than a global ORDER BY because no
    total order is imposed across partitions). Row content is
    unchanged (the oracle is the plain projection); what matters is
    the plan: one hash Exchange on the clustering key + an
    intra-partition Sort, pinned in tests/test_plans.py."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_cb")
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey, o_totalprice FROM orders_cb
        DISTRIBUTE BY o_custkey SORT BY o_custkey, o_totalprice
        """
    )


@query(
    "sql_window_clause",
    oracle="""
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER w, 2) AS run_spend,
       rank() OVER w AS rnk
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def sql_window_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named WINDOW clause parity: one spec shared by multiple window
    functions — both engines compile the shared spec into a SINGLE
    sort+window pass (vs repeating the OVER spec, which naive planners
    window twice). The running sum accumulates in identical
    (o_orderdate, o_orderkey) order on both sides, so even the float
    partial sums agree bit-for-bit before rounding."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_w")
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey,
               round(sum(o_totalprice) OVER w, 2) AS run_spend,
               rank() OVER w AS rnk
        FROM orders_w
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        """
    )


@query(
    "sql_identifier",
    oracle="""
SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY o_orderpriority
""",
)
def sql_identifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER(:param) — injection-safe dynamic table/column names
    (Spark 3.5+): templated jobs pick their target relation and
    grouping column through bound parameters instead of string
    concatenation, so a hostile value can never smuggle SQL. Resolves
    at analysis time to the identical aggregate plan as the literal
    query (sql_params' pushdown discipline, extended from values to
    names)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_idf")
    return spark.sql(
        "SELECT IDENTIFIER(:grp), count(*) AS n FROM IDENTIFIER(:tbl) "
        "GROUP BY IDENTIFIER(:grp)",
        args={"tbl": "orders_idf", "grp": "o_orderpriority"},
    )


@query(
    "wl_pit_features",
    oracle="""
SELECT o_orderkey, o_custkey,
       CAST(row_number() OVER w - 1 AS BIGINT) AS prior_orders,
       round(coalesce(sum(o_totalprice) OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0), 2)
         AS prior_spend
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def wl_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME-correct feature computation (the feature-store
    contract): for every order, the customer's history STRICTLY
    BEFORE it — prior order count and prior spend via an exclusive
    window frame (UNBOUNDED..1 PRECEDING). Including the current row
    is the classic training-serving leak; the exclusive frame is the
    one-line fix, and the running sum accumulates in identical
    (date, key) order on both engines so even the float prefix sums
    agree exactly. One customer shuffle serves every feature."""
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        (F.row_number().over(w) - 1).cast("bigint").alias("prior_orders"),
        F.round(
            F.coalesce(
                F.sum("o_totalprice").over(w.rowsBetween(W.unboundedPreceding, -1)),
                F.lit(0.0),
            ),
            2,
        ).alias("prior_spend"),
    )


@query(
    "wl_dp_counts",
    oracle="""
WITH c AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n FROM events GROUP BY 1),
u AS (
  SELECT event_type, n,
         ((CAST(('0x' || substring(md5('dp:' || event_type), 1, 8)) AS BIGINT)
           % 1000000) + 0.5) / 1000001.0 AS u01
  FROM c)
SELECT event_type,
       CAST(n AS BIGINT) AS true_count,
       round(n - 1.0 * CASE WHEN u01 >= 0.5 THEN 1.0 ELSE -1.0 END
                 * ln(1.0 - 2.0 * abs(u01 - 0.5)), 6) AS dp_count
FROM u
""",
)
def wl_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy-style noised release: per-type counts plus
    Laplace(1/ε) noise via inverse-CDF, x = −b·sign(u−½)·ln(1−2|u−½|)
    — the publishable-statistics pattern. For testability the uniform
    draw is a DETERMINISTIC md5 of the release key, making the whole
    mechanism oracle-checkable; a production release swaps in a
    CSPRNG per release and nothing else changes (the noise math and
    the one-aggregate shape are identical). Counts are never exposed
    below the aggregate grain, and the noise add is map-side on the
    tiny grouped relation."""
    ev = load(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(F.count(F.lit(1)).cast("double").alias("n"))
    u01 = md5_uniform("'dp:'", "event_type")
    noise = (
        F.when(u01 >= 0.5, 1.0).otherwise(-1.0)
        * F.log(1.0 - 2.0 * F.abs(u01 - 0.5))
    )
    return c.select(
        "event_type",
        F.col("n").cast("bigint").alias("true_count"),
        F.round(F.col("n") - 1.0 * noise, 6).alias("dp_count"),
    )


@query(
    "wl_ivm_retraction",
    oracle="""
WITH base AS (SELECT o_orderpriority AS p, count(*) AS n
              FROM orders WHERE o_orderkey % 10 <> 0 GROUP BY 1),
ins AS (SELECT o_orderpriority AS p, 1 AS d FROM orders WHERE o_orderkey % 10 = 0),
del AS (SELECT o_orderpriority AS p, -1 AS d FROM orders
        WHERE o_orderkey % 10 <> 0 AND o_orderkey % 7 = 0),
delta AS (SELECT p, CAST(sum(d) AS BIGINT) AS dn
          FROM (SELECT * FROM ins UNION ALL SELECT * FROM del) GROUP BY p),
merged AS (
  SELECT coalesce(b.p, delta.p) AS p,
         coalesce(b.n, 0) + coalesce(delta.dn, 0) AS n_view
  FROM base b FULL OUTER JOIN delta ON b.p = delta.p),
direct AS (
  SELECT o_orderpriority AS p, count(*) AS n_direct
  FROM orders
  WHERE NOT (o_orderkey % 10 <> 0 AND o_orderkey % 7 = 0)
  GROUP BY 1)
SELECT m.p AS priority, CAST(m.n_view AS BIGINT) AS n_view,
       CAST(d.n_direct AS BIGINT) AS n_direct
FROM merged m JOIN direct d ON m.p = d.p
""",
)
def wl_ivm_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance WITH RETRACTIONS: a materialized
    count view absorbs a changelog of +1 inserts and −1 deletes as one
    signed-delta aggregate merged over the view key — the Flink/
    Materialize changelog algebra that agg_incremental_rollup
    (append-only) cannot express. The proof is in the row: the
    maintained count and a from-scratch recompute are emitted side by
    side and must agree. Merge cost is |delta| + |view keys|, never a
    rescan of the base — the whole point at 100 TB."""
    o = load(spark, sf_dir, "orders")
    base = (
        o.filter(F.col("o_orderkey") % 10 != 0)
        .groupBy(F.col("o_orderpriority").alias("p"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ins = o.filter(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderpriority").alias("p"), F.lit(1).alias("d")
    )
    dele = o.filter(
        (F.col("o_orderkey") % 10 != 0) & (F.col("o_orderkey") % 7 == 0)
    ).select(F.col("o_orderpriority").alias("p"), F.lit(-1).alias("d"))
    delta = ins.unionByName(dele).groupBy("p").agg(
        F.sum("d").cast("bigint").alias("dn")
    )
    merged = (
        base.withColumnRenamed("p", "bp")
        .join(delta, F.col("bp") == delta.p, "full_outer")
        .select(
            F.coalesce(F.col("bp"), delta.p).alias("p"),
            (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n_view"),
        )
    )
    direct = (
        o.filter(~((F.col("o_orderkey") % 10 != 0) & (F.col("o_orderkey") % 7 == 0)))
        .groupBy(F.col("o_orderpriority").alias("dp"))
        .agg(F.count(F.lit(1)).alias("n_direct"))
    )
    return merged.join(direct, merged.p == direct.dp).select(
        F.col("p").alias("priority"),
        F.col("n_view").cast("bigint").alias("n_view"),
        F.col("n_direct").cast("bigint").alias("n_direct"),
    )


@query(
    "sql_lateral_view",
    oracle="""
SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
WHERE doc_id < 50
""",
)
def sql_lateral_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW explode(...) — the Hive-dialect generator syntax
    still ubiquitous in migrated warehouses; desugars to the same
    Generate node as the DataFrame explode (fn_explode) and the
    ANSI-ish LATERAL derived table (sql_lateral). Pure frontend
    parity: plan and rows are identical."""
    load(spark, sf_dir, "documents").createOrReplaceTempView("docs_lv")
    return spark.sql(
        """
        SELECT doc_id, tok
        FROM docs_lv LATERAL VIEW explode(split(text, ' ')) t AS tok
        WHERE doc_id < 50
        """
    )


@query(
    "sql_hint_broadcast",
    oracle="""
SELECT n_name, count(*) AS n_cust
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)
def sql_hint_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL join-strategy hints (/*+ BROADCAST(dim) */) — the escape
    hatch when statistics mislead the planner on a production cluster;
    the hint names the RELATION, not the strategy internals, and the
    result is bit-identical with or without it (tests/test_plans.py
    pins that the hint actually produced a BroadcastHashJoin)."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("cust_h")
    load(spark, sf_dir, "nation").createOrReplaceTempView("nation_h")
    return spark.sql(
        """
        SELECT /*+ BROADCAST(nation_h) */ n_name, count(*) AS n_cust
        FROM cust_h JOIN nation_h ON c_nationkey = n_nationkey
        GROUP BY n_name
        """
    )


@query(
    "wl_date_dim",
    oracle="""
WITH spine AS (
  SELECT CAST(unnest(generate_series(DATE '1997-01-01', DATE '1997-12-31',
                                     INTERVAL 1 DAY)) AS DATE) AS d)
SELECT CAST(d AS VARCHAR) AS date_key,
       year(d) AS yr, quarter(d) AS qtr, month(d) AS mth,
       day(d) AS day_of_month, CAST(dayofyear(d) AS INTEGER) AS day_of_year,
       CAST(isodow(d) AS INTEGER) AS iso_dow,
       CASE WHEN isodow(d) >= 6 THEN 1 ELSE 0 END AS is_weekend,
       CAST(CAST(date_trunc('month', d) AS DATE) AS VARCHAR) AS month_start,
       CAST(last_day(d) AS VARCHAR) AS month_end
FROM spine
""",
)
def wl_date_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar DIMENSION generation — the conformed date spine every
    warehouse joins its facts to: one year of days with year/quarter/
    month/day-of-year/ISO-weekday/weekend/month-boundary attributes,
    all derived row-locally from a generated sequence (no source
    scan). Dialect traps dodged deliberately: ISO weekday via
    weekday()+1 (not Sunday-origin dayofweek), dates surfaced as
    strings (the src_fixed_width pandas-rendering lesson). Extend the
    spine bounds, not the plan, for a century of calendar."""
    spine = spark.sql(
        "SELECT explode(sequence(DATE '1997-01-01', DATE '1997-12-31',"
        " INTERVAL 1 DAY)) AS d"
    )
    return spine.select(
        F.col("d").cast("string").alias("date_key"),
        F.year("d").alias("yr"),
        F.quarter("d").alias("qtr"),
        F.month("d").alias("mth"),
        F.dayofmonth("d").alias("day_of_month"),
        F.dayofyear("d").alias("day_of_year"),
        (F.weekday("d") + 1).alias("iso_dow"),
        F.when(F.weekday("d") + 1 >= 6, 1).otherwise(0).alias("is_weekend"),
        F.date_trunc("month", "d").cast("date").cast("string").alias("month_start"),
        F.last_day("d").cast("string").alias("month_end"),
    )


@query(
    "wl_percent_of_parent",
    oracle="""
WITH c AS (
  SELECT r.r_name AS region, n.n_name AS nation, count(*) AS n_cust,
         round(sum(cu.c_acctbal), 2) AS balance
  FROM customer cu
  JOIN nation n ON cu.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2)
SELECT region, nation, n_cust,
       round(CAST(n_cust AS DOUBLE)
             / sum(n_cust) OVER (PARTITION BY region), 6) AS pct_of_region,
       round(CAST(sum(n_cust) OVER (PARTITION BY region) AS DOUBLE)
             / sum(n_cust) OVER (), 6) AS region_pct_of_total
FROM c
""",
)
def wl_percent_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENT-OF-PARENT hierarchy shares: each nation's share of its
    region and each region's share of the world, in one pass — the
    drill-down ratio every OLAP tool renders next to raw counts. Both
    parent totals are windows over the BOUNDED (region, nation) grain
    after the aggregate, so the heavy fact work happens exactly once;
    the dims broadcast. agg_rollup gives the absolute subtotals; this
    gives their relative structure."""
    cu = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    c = (
        cu.join(F.broadcast(n), cu.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("balance"),
        )
    )
    wr = W.partitionBy("region")
    return c.select(
        "region",
        "nation",
        "n_cust",
        F.round(F.col("n_cust").cast("double") / F.sum("n_cust").over(wr), 6).alias(
            "pct_of_region"
        ),
        F.round(
            F.sum("n_cust").over(wr).cast("double")
            / F.sum("n_cust").over(W.partitionBy()),
            6,
        ).alias("region_pct_of_total"),
    )


@query(
    "wl_data_vault_keys",
    oracle="""
SELECT o_orderkey,
       md5('cust|' || CAST(o_custkey AS VARCHAR)) AS hub_customer_hk,
       md5('order|' || CAST(o_orderkey AS VARCHAR)) AS hub_order_hk,
       md5('cust|' || CAST(o_custkey AS VARCHAR) || '#order|'
           || CAST(o_orderkey AS VARCHAR)) AS link_order_customer_hk,
       md5(coalesce(CAST(o_orderstatus AS VARCHAR), '') || '|'
           || coalesce(CASE WHEN isfinite(o_totalprice)
                             AND abs(o_totalprice) <= 9e13
                            THEN CAST(CAST(o_totalprice AS DECIMAL(28,2)) AS VARCHAR)
                       END, '') || '|'
           || coalesce(CAST(o_orderpriority AS VARCHAR), '')) AS order_hashdiff
FROM orders WHERE o_orderkey <= 1000
""",
)
def wl_data_vault_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA VAULT key generation: deterministic hub hash keys from
    business keys, link keys from their ordered concatenation, and
    the satellite HASHDIFF over descriptive attributes — the modeling
    pattern that makes warehouse loads idempotent and parallel (any
    loader, any order, same keys; changed attributes surface as a new
    hashdiff without comparing columns). Pure md5 projection, no
    shuffle; delimiters guard against concatenation ambiguity.

    The money attribute is rendered through DECIMAL(28,2) — NOT raw
    double-to-string, which diverges the hashdiff the moment a total
    reaches 1e7 (Spark switches to scientific '1.0E7' where DuckDB
    prints '10000000.0'; overflow-world catch, r9). The portable
    domain is |x| ≤ 9e13: beyond ~2^53/10^scale DuckDB's
    double→decimal conversion is itself lossy (it scales in double),
    so larger totals — like non-finite ones — hash as the canonical
    absent value rather than an engine-dependent rendering. 90
    trillion with exact cents covers any real ledger line."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    ck = F.col("o_custkey").cast("string")
    ok = F.col("o_orderkey").cast("string")
    return o.select(
        "o_orderkey",
        F.md5(F.concat(F.lit("cust|"), ck)).alias("hub_customer_hk"),
        F.md5(F.concat(F.lit("order|"), ok)).alias("hub_order_hk"),
        F.md5(
            F.concat(F.lit("cust|"), ck, F.lit("#order|"), ok)
        ).alias("link_order_customer_hk"),
        # hashdiff per the Data Vault standard: each attribute
        # coalesced to '' with its delimiter KEPT, so a NULL attribute
        # hashes deterministically and 'a|NULL|b' cannot collide with
        # 'a|b' (concat_ws would silently drop the slot + delimiter)
        F.md5(
            F.concat(
                F.coalesce(F.col("o_orderstatus"), F.lit("")),
                F.lit("|"),
                # non-finite and beyond-9e13 totals hash as missing:
                # the engines RENDER them differently ('NaN' vs 'nan';
                # sci notation at 1e7; lossy double→decimal past
                # 2^53/100), so the canonical absent-value is the only
                # portable key; in-domain money renders via the exact
                # DECIMAL(28,2) string on both engines
                F.coalesce(
                    F.when(
                        finite("o_totalprice")
                        & (F.abs("o_totalprice") <= F.lit(9e13)),
                        F.col("o_totalprice").cast("decimal(28,2)").cast("string"),
                    ),
                    F.lit(""),
                ),
                F.lit("|"),
                F.coalesce(F.col("o_orderpriority"), F.lit("")),
            )
        ).alias("order_hashdiff"),
    )


@query(
    "wl_accumulating_snapshot",
    oracle="""
SELECT o.o_orderkey,
       CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS ordered_on,
       CAST(min(CAST(l.l_shipdate AS DATE)) AS VARCHAR) AS first_ship,
       CAST(max(CAST(l.l_shipdate AS DATE)) AS VARCHAR) AS last_ship,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(datediff('day', CAST(o.o_orderdate AS DATE),
                     max(CAST(l.l_shipdate AS DATE))) AS BIGINT) AS days_to_complete
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey <= 2000
GROUP BY o.o_orderkey, o.o_orderdate
""",
)
def wl_accumulating_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACCUMULATING-SNAPSHOT fact (Kimball): one row per order
    carrying its lifecycle milestones — ordered, first shipment, last
    shipment, completion lag — the fact-table design for processes
    with a defined pipeline, updated in place as milestones land (vs
    the transaction fact that appends). One key-join + per-order
    min/max; at load time this row is the MERGE target
    (wl_merge_upsert's branch logic) keyed on the order."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    li = load(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.min(F.col("l_shipdate").cast("date")).alias("fs"),
            F.max(F.col("l_shipdate").cast("date")).alias("ls"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").cast("string").alias("ordered_on"),
            F.col("fs").cast("string").alias("first_ship"),
            F.col("ls").cast("string").alias("last_ship"),
            "n_lines",
            F.datediff(F.col("ls"), F.col("o_orderdate").cast("date"))
            .cast("bigint")
            .alias("days_to_complete"),
        )
    )
