"""Event/corpus analytics workloads: cohort retention, rolling active
users, anomaly scoring, market-basket pairs, and a Q9-profit shape.

These are the product-analytics and data-warehouse query shapes a
large-scale pipeline runs daily over its event stream — each one
composed so the plan stays linear at 100 TB:

- retention / DAU-WAU never range-join the fact against itself; the
  rolling-window membership is expanded map-side (a bounded ×7
  explode) and collapsed with ONE hash aggregate.
- anomaly z-scores join the fact to a per-type stats table that is
  bounded by event-type cardinality → broadcast.
- co-purchase pairs self-join only WITHIN an order (per-order fan-out
  is bounded by order size, ~7 lines), never across orders.

Determinism conventions follow operators/scale.py: double sums round
at 4 decimals, derived ratios at 6, and both engines evaluate the
same expression text so the only divergence is summation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from systematic_review_classification_spark.functions.ranks import (
    global_prefix_min_excl,
    global_prefix_sum,
    global_rank,
)
from systematic_review_classification_spark.functions.predicates import finite, finite_bounded, rnd
from systematic_review_classification_spark.functions.seeded import md5_uniform
from systematic_review_classification_spark.registry import query
from systematic_review_classification_spark.sources.tables import load


@query(
    "wl_retention",
    oracle="""
WITH pairs AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
  FROM events),
cohort AS (SELECT user_id, min(wk) AS cohort_wk FROM pairs GROUP BY user_id)
SELECT CAST(c.cohort_wk AS VARCHAR) AS cohort_wk,
       CAST(date_diff('day', c.cohort_wk, p.wk) / 7 AS INTEGER) AS week_offset,
       count(DISTINCT p.user_id) AS n_users
FROM pairs p JOIN cohort c ON p.user_id = c.user_id
GROUP BY 1, 2
""",
)
def wl_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by their first-activity
    week, counted in each subsequent week they return.

    Scale shape: distinct (user, week) pairs → min-week cohort per
    user → one equi-join on user_id (both sides already hashed on it,
    AQE reuses the exchange) → hash agg. No window over the full event
    stream, no per-user collect; every step is a bounded shuffle on
    user_id or (cohort, offset)."""
    pairs = (
        load(spark, sf_dir, "events")
        .select(
            "user_id",
            F.date_trunc("week", F.col("ts")).cast("date").alias("wk"),
        )
        .distinct()
    )
    cohort = pairs.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        pairs.join(cohort, "user_id")
        .groupBy(
            F.col("cohort_wk").cast("string").alias("cohort_wk"),
            (F.datediff(F.col("wk"), F.col("cohort_wk")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@query(
    "wl_dau_wau",
    oracle="""
WITH pairs AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
dau AS (SELECT day, count(*) AS dau FROM pairs GROUP BY day),
wau AS (SELECT d.day, count(DISTINCT p.user_id) AS wau
        FROM (SELECT DISTINCT day FROM pairs) d
        JOIN pairs p ON p.day BETWEEN d.day - 6 AND d.day
        GROUP BY d.day)
SELECT CAST(dau.day AS VARCHAR) AS day, dau.dau, wau.wau
FROM dau JOIN wau ON dau.day = wau.day
""",
)
def wl_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users + exact rolling 7-day actives (WAU) per day.

    The oracle states WAU as a range self-join; the Spark plan instead
    expands each (day, user) map-side into the ≤7 target days it
    contributes to (`explode(sequence(day, day+6))`) and collapses
    with one count-distinct hash agg — linear in events, ONE shuffle,
    no range join. The bounded ×7 blow-up is the classic rolling-
    distinct trick that survives 100 TB where a day×day range join
    does not."""
    pairs = (
        load(spark, sf_dir, "events")
        .select(F.col("ts").cast("date").alias("day"), "user_id")
        .distinct()
    )
    dau = pairs.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    wau = (
        pairs.select(
            F.explode(
                F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
            ).alias("day"),
            "user_id",
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    # inner join against observed days drops the phantom tail days the
    # explode manufactures past max(day)
    return dau.join(wau, "day").select(
        F.col("day").cast("string").alias("day"), "dau", "wau"
    )


@query(
    "wl_anomaly_zscore",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
  FROM events GROUP BY 1, 2),
stats AS (
  SELECT event_type, avg(n) AS mu, stddev_samp(n) AS sigma
  FROM daily GROUP BY event_type)
SELECT d.event_type, CAST(d.day AS VARCHAR) AS day, d.n,
       round((d.n - s.mu) / nullif(s.sigma, 0), 6) AS z,
       (abs((d.n - s.mu) / nullif(s.sigma, 0)) > 2.0) AS is_anomaly
FROM daily d JOIN stats s ON d.event_type = s.event_type
""",
)
def wl_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily event-count z-scores with a |z| > 2 anomaly flag
    — the monitoring query every ingest pipeline runs.

    Scale shape: one hash agg to daily grain, then a second agg to a
    stats table BOUNDED BY EVENT-TYPE CARDINALITY — broadcast back
    against daily. No window over all days, so adding years of history
    widens neither shuffle. A type with constant daily counts has
    σ = 0 and NO z-score (NULL via nullif on both engines; unguarded,
    ANSI division aborts) — a single-day type already yields NULL
    through stddev_samp."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    stats = daily.groupBy("event_type").agg(
        F.avg("n").alias("mu"), F.stddev_samp("n").alias("sigma")
    )
    z = (F.col("n") - F.col("mu")) / F.nullif(F.col("sigma"), F.lit(0.0))
    return (
        daily.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            F.col("day").cast("string").alias("day"),
            "n",
            F.round(z, 6).alias("z"),
            (F.abs(z) > 2.0).alias("is_anomaly"),
        )
    )


@query(
    "wl_copurchase",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_orders
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2)
SELECT p1, p2, n_orders FROM pairs WHERE n_orders >= 2
""",
)
def wl_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-purchase pairs: parts appearing in the same
    order, counted across orders, kept when support ≥ 2.

    Scale shape: the self-join is ON THE ORDER KEY, so the pairwise
    blow-up is per-order (~7 lines → ~21 pairs), never corpus-wide —
    the same within-block discipline as the dedup tier. One shuffle
    on l_orderkey (both sides share it), one hash agg on the pair."""
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


@query(
    "wl_q9_profit",
    oracle="""
SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)
                 - 0.6 * p_retailprice * l_quantity), 4) AS profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, year(o_orderdate)
""",
)
def wl_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): profit per nation per
    order-year for parts matching a name pattern. The schema has no
    partsupp, so supply cost is proxied as 0.6 × p_retailprice
    (documented constant; the join/agg shape is what Q9 exercises).

    Scale shape: the p_name LIKE filter prunes part BEFORE its fact
    join (AQE broadcasts the survivor side when small enough);
    nation broadcasts always; lineitem⋈orders is the one big SMJ.
    The year comes off the orders row — no extra pass."""
    li = load(spark, sf_dir, "lineitem")
    p = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.6
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 4).alias("profit"))
    )


@query(
    "wl_pagerank3",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
cop AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2),
edges AS (SELECT p1 AS src, p2 AS dst FROM cop
          UNION ALL SELECT p2, p1 FROM cop),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
outdeg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
pr0 AS (SELECT node, (SELECT 1.0 / n FROM nn) AS pr FROM nodes),
pr1 AS (
  SELECT e.dst AS node,
         (SELECT 0.15 / n FROM nn) + 0.85 * sum(p.pr / o.d) AS pr
  FROM edges e JOIN pr0 p ON e.src = p.node JOIN outdeg o ON e.src = o.src
  GROUP BY e.dst),
pr2 AS (
  SELECT e.dst AS node,
         (SELECT 0.15 / n FROM nn) + 0.85 * sum(p.pr / o.d) AS pr
  FROM edges e JOIN pr1 p ON e.src = p.node JOIN outdeg o ON e.src = o.src
  GROUP BY e.dst),
pr3 AS (
  SELECT e.dst AS node,
         (SELECT 0.15 / n FROM nn) + 0.85 * sum(p.pr / o.d) AS pr
  FROM edges e JOIN pr2 p ON e.src = p.node JOIN outdeg o ON e.src = o.src
  GROUP BY e.dst)
SELECT node, round(pr * 1000, 6) AS pr_permille FROM pr3
""",
)
def wl_pagerank3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three fixed PageRank iterations (damping 0.85) over the
    co-purchase graph — graph centrality as a first-class distributed
    workload, with an EXACT oracle because the iteration count is
    pinned (the oracle unrolls the same three steps as CTEs).

    Scale shape: each iteration is edges ⋈ ranks on the source key,
    one hash agg on the destination — the frontier-join pattern shared
    with `dedup_components` / `sql_recursive_cte`. Nothing driver-side
    grows with the graph: the driver holds only the loop counter; the
    two scalar constants (node count) ride a 1-row broadcast. The
    graph is symmetric by construction, so there are no dangling
    nodes and mass is conserved without a dangling-redistribution
    term. Ranks are reported per-mille rounded at 6 — float group
    sums are order-dependent; the documented determinism convention."""
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    cop = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )
    edges = cop.select(F.col("p1").alias("src"), F.col("p2").alias("dst")).unionAll(
        cop.select(F.col("p2").alias("src"), F.col("p1").alias("dst"))
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # Loop-invariant state, prepared ONCE: the out-degree is fused into
    # the edge list up front (contribution weight 1/d per edge), so the
    # iteration body is a single join + one hash agg instead of two
    # joins. The weighted edges are repartitioned on the join key
    # BEFORE caching — InMemoryRelation preserves outputPartitioning,
    # so the big side never re-exchanges inside the loop; only the
    # small rank table shuffles per iteration. This is the
    # persist-the-invariant pattern every distributed iterative
    # algorithm needs (at cluster scale: checkpoint instead of cache
    # to also truncate lineage).
    edges_w = (
        edges.join(outdeg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("d")).alias("w"))
        .repartition("src")
        .cache()
    )
    nodes = edges_w.select(F.col("src").alias("node")).distinct()
    nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    pr = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(3):
        pr = (
            edges_w.join(pr.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("pr") * F.col("w")).alias("mass"))
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                (F.lit(0.15) / F.col("n") + F.lit(0.85) * F.col("mass")).alias("pr"),
            )
        )
    return pr.select("node", F.round(F.col("pr") * 1000, 6).alias("pr_permille"))


@query(
    "wl_ab_ttest",
    oracle="""
WITH g0 AS (
  SELECT event_type,
         count(*) AS n,
         avg(value) AS mu,
         var_samp(value) AS v0,
         avg(value * value) AS m2
  FROM events WHERE event_type IN ('click', 'purchase')
    AND isfinite(value)
  GROUP BY event_type),
g AS (
  SELECT event_type, n, mu,
         CASE WHEN v0 <= 1e-9 * m2 THEN 0.0 ELSE v0 END AS v
  FROM g0),
w AS (
  SELECT max(CASE WHEN event_type = 'click' THEN n END)    AS n1,
         max(CASE WHEN event_type = 'click' THEN mu END)   AS mu1,
         max(CASE WHEN event_type = 'click' THEN v END)    AS v1,
         max(CASE WHEN event_type = 'purchase' THEN n END) AS n2,
         max(CASE WHEN event_type = 'purchase' THEN mu END) AS mu2,
         max(CASE WHEN event_type = 'purchase' THEN v END) AS v2
  FROM g)
SELECT n1, n2, round(mu1, 6) AS mean_click, round(mu2, 6) AS mean_purchase,
       round((mu1 - mu2) / nullif(sqrt(v1 / n1 + v2 / n2), 0), 4) AS t_stat,
       round(pow(v1 / n1 + v2 / n2, 2)
             / nullif(pow(v1 / n1, 2) / (n1 - 1) + pow(v2 / n2, 2) / (n2 - 1), 0),
             2) AS welch_df
FROM w
""",
)
def wl_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-test between event-type value distributions
    (the A/B significance readout every experimentation pipeline
    computes): group means/variances → t statistic and
    Welch–Satterthwaite degrees of freedom.

    Scale shape: ONE aggregation pass over the filtered fact (count/
    avg/var_samp are single-pass moment aggregates); the test
    statistic is arithmetic over a 2-row table pivoted to one row.
    Adding a million experiment arms changes the small table's size,
    not the scan count."""
    # finite-only values on both engines: one inf blows DuckDB's
    # VARSAMP out of range, one NaN silently NaNs the Spark moments.
    # Each arm's variance is FLATNESS-TESTED with a relative epsilon
    # (v <= 1e-9 * avg(value^2) counts as zero): a constant arm is
    # exactly 0 under Spark's central-moment accumulator but a ~1e-16
    # cancellation residue under DuckDB's sum-of-squares form, which
    # unguarded turns an undefined t into a ~1e18 statistic there and
    # NULL here (flat-world catch; same pattern as
    # wl_anomaly_deseasonalized / wl_anova_seasonality).
    g0 = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase") & finite("value"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("value").alias("mu"),
            F.var_samp("value").alias("v0"),
            F.avg(F.col("value") * F.col("value")).alias("m2"),
        )
    )
    g = g0.select(
        "event_type", "n", "mu",
        F.when(F.col("v0") <= 1e-9 * F.col("m2"), F.lit(0.0))
        .otherwise(F.col("v0"))
        .alias("v"),
    )

    def pick(col: str, ev: str):
        return F.max(F.when(F.col("event_type") == ev, F.col(col)))

    w = g.agg(
        pick("n", "click").alias("n1"),
        pick("mu", "click").alias("mu1"),
        pick("v", "click").alias("v1"),
        pick("n", "purchase").alias("n2"),
        pick("mu", "purchase").alias("mu2"),
        pick("v", "purchase").alias("v2"),
    )
    # both-arms-constant data makes se2 exactly 0 — the statistic is
    # undefined (NULL via nullif); a single-sample arm already yields
    # NULL through var_samp. Unguarded, ANSI division aborts the job.
    se2 = F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    df_w = F.pow(se2, 2) / F.nullif(
        F.pow(F.col("v1") / F.col("n1"), 2) / (F.col("n1") - 1)
        + F.pow(F.col("v2") / F.col("n2"), 2) / (F.col("n2") - 1),
        F.lit(0.0),
    )
    return w.select(
        "n1",
        "n2",
        F.round("mu1", 6).alias("mean_click"),
        F.round("mu2", 6).alias("mean_purchase"),
        F.round(
            (F.col("mu1") - F.col("mu2")) / F.nullif(F.sqrt(se2), F.lit(0.0)), 4
        ).alias("t_stat"),
        F.round(df_w, 2).alias("welch_df"),
    )


@query(
    "wl_mix_entropy",
    oracle="""
WITH c AS (
  SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
tot AS (SELECT source, sum(n) AS tot FROM c GROUP BY source)
SELECT c.source,
       CAST(count(*) AS INTEGER) AS n_langs,
       round(-sum((CAST(n AS DOUBLE) / tot) * ln(CAST(n AS DOUBLE) / tot)), 6)
         + 0.0 AS lang_entropy
FROM c JOIN tot ON c.source = tot.source
GROUP BY c.source
""",
)
def wl_mix_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the language mix per source — the
    distributional balance metric a dataset card reports next to raw
    counts (`wl_dataset_card`): 0 = monolingual source, ln(k) =
    uniform over k languages.

    Scale shape: two hash aggs (source×lang grain, then per-source),
    joined on source — the totals join is group-cardinality-sized.
    The entropy sum is order-dependent float addition → rounded at 6,
    the repo-wide convention."""
    c = (
        load(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = c.groupBy("source").agg(F.sum("n").alias("tot"))
    p = F.col("n").cast("double") / F.col("tot")
    return (
        c.join(tot, "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_langs"),
            # + 0.0 kills IEEE -0.0 for monolingual sources (p=1 ⇒ sum=0)
            (F.round(-F.sum(p * F.log(p)), 6) + 0.0).alias("lang_entropy"),
        )
    )


@query(
    "win_gaps_islands",
    oracle="""
WITH pairs AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
isl AS (
  SELECT user_id, day,
         day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                    AS INTEGER) AS grp
  FROM pairs),
streaks AS (
  SELECT user_id, grp, count(*) AS len, min(day) AS start_day
  FROM isl GROUP BY 1, 2)
SELECT user_id, max(len) AS longest_streak,
       CAST(count(*) AS INTEGER) AS n_streaks,
       CAST(min(start_day) AS VARCHAR) AS first_day
FROM streaks GROUP BY user_id
""",
)
def win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: consecutive-day activity streaks per user
    (longest streak + streak count) via the classic
    `day − row_number()` island key — engagement-streak analytics
    done with two windows' worth of arithmetic, no self-join, no
    recursion.

    Scale shape: the window partitions on user_id (high cardinality,
    per-user row counts bounded by days); both follow-up aggs are on
    the same user key, so AQE reuses one exchange end-to-end."""
    pairs = (
        load(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    w = W.partitionBy("user_id").orderBy("day")
    isl = pairs.withColumn(
        "grp", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    streaks = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len"), F.min("day").alias("start_day")
    )
    return streaks.groupBy("user_id").agg(
        F.max("len").alias("longest_streak"),
        F.count(F.lit(1)).cast("int").alias("n_streaks"),
        F.min("start_day").cast("string").alias("first_day"),
    )


@query(
    "wl_rfm",
    oracle="""
WITH base AS (
  SELECT o_custkey,
         date_diff('day', max(o_orderdate), TIMESTAMP '1998-12-31')
           AS recency_days,
         count(*) AS frequency,
         round(sum(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END), 2)
           AS monetary
  FROM orders GROUP BY o_custkey),
thr AS (
  SELECT quantile_cont(recency_days, 0.5)  AS r_med,
         quantile_cont(frequency,    0.5)  AS f_med,
         quantile_cont(monetary,     0.5)  AS m_med
  FROM base)
SELECT o_custkey, recency_days, frequency, monetary,
       (recency_days <= r_med) AS recent,
       (frequency    >  f_med) AS frequent,
       (monetary     >  m_med) AS big_spender,
       CASE WHEN recency_days <= r_med AND frequency > f_med
                 AND monetary > m_med THEN 'champion'
            WHEN recency_days > r_med AND frequency <= f_med
              THEN 'at_risk'
            ELSE 'regular' END AS segment
FROM base CROSS JOIN thr
""",
)
def wl_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency / frequency / monetary per
    customer, split at the exact median of each axis, composed into
    segment labels.

    Scale note: the axis splits are exact percentiles of the
    CUSTOMER-GRAIN aggregate broadcast back as a 1-row table — NOT a
    global ntile() window, whose unpartitioned sort is the
    single-reducer funnel this repo never ships (same discipline as
    the ml_eval_* two-pass rank). Median interpolation (quantile_cont
    / percentile) matches across engines per the agg_median_pct
    parity; comparisons sit on integer-valued axes so interpolated
    halves cannot flip a boundary row."""
    base = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.datediff(
                F.lit("1998-12-31").cast("timestamp_ntz"), F.max("o_orderdate")
            ).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            # finite totals only: one NaN makes the monetary median
            # NaN on Spark while DuckDB's NaN-sorts-high quantile
            # shifts it — a corrupt total contributes no spend
            F.round(
                F.sum(F.when(finite("o_totalprice"), F.col("o_totalprice"))), 2
            ).alias("monetary"),
        )
    )
    thr = base.agg(
        F.percentile("recency_days", F.lit(0.5)).alias("r_med"),
        F.percentile("frequency", F.lit(0.5)).alias("f_med"),
        F.percentile("monetary", F.lit(0.5)).alias("m_med"),
    )
    recent = F.col("recency_days") <= F.col("r_med")
    frequent = F.col("frequency") > F.col("f_med")
    big = F.col("monetary") > F.col("m_med")
    return base.crossJoin(F.broadcast(thr)).select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        recent.alias("recent"),
        frequent.alias("frequent"),
        big.alias("big_spender"),
        F.when(recent & frequent & big, "champion")
        .when(~recent & ~frequent, "at_risk")
        .otherwise("regular")
        .alias("segment"),
    )


@query(
    "wl_snapshot_diff",
    oracle="""
WITH old AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 97 <> 7),
new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 5 THEN round(o_totalprice + 10, 2)
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 97 <> 3),
diff AS (
  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS k,
         CASE WHEN o.o_orderkey IS NULL THEN 'added'
              WHEN n.o_orderkey IS NULL THEN 'removed'
              WHEN o.o_totalprice <> n.o_totalprice THEN 'changed'
              ELSE 'unchanged' END AS kind,
         coalesce(abs(n.o_totalprice - o.o_totalprice), 0) AS delta
  FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey)
SELECT kind, count(*) AS n, round(sum(delta), 2) AS total_delta
FROM diff GROUP BY kind
""",
)
def wl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: diff two table versions into added /
    removed / changed / unchanged classes with a change magnitude —
    the audit every CDC pipeline and backfill runs to prove the
    incremental path matches a rebuild. The two versions are derived
    deterministically from orders (key-mod deletions + price bumps)
    so the oracle sees identical inputs.

    Scale shape: ONE full-outer sort-merge join on the key — the
    canonical diff plan; class assignment and the rollup are
    expression-level. At 100 TB you run exactly this, partitioned by
    the snapshot layout."""
    o = load(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 97 != 7).select(
        F.col("o_orderkey").alias("ko"), F.col("o_totalprice").alias("po")
    )
    new = (
        o.filter(F.col("o_orderkey") % 97 != 3)
        .select(
            F.col("o_orderkey").alias("kn"),
            F.when(
                F.col("o_orderkey") % 97 == 5, F.round(F.col("o_totalprice") + 10, 2)
            )
            .otherwise(F.col("o_totalprice"))
            .alias("pn"),
        )
    )
    diff = old.join(new, F.col("ko") == F.col("kn"), "full_outer").select(
        F.when(F.col("ko").isNull(), "added")
        .when(F.col("kn").isNull(), "removed")
        .when(F.col("po") != F.col("pn"), "changed")
        .otherwise("unchanged")
        .alias("kind"),
        F.coalesce(F.abs(F.col("pn") - F.col("po")), F.lit(0.0)).alias("delta"),
    )
    return diff.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("delta"), 2).alias("total_delta"),
    )


@query(
    "wl_markov_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events),
pairs AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2),
tot AS (SELECT prev_type, sum(n) AS row_tot FROM pairs GROUP BY prev_type)
SELECT p.prev_type, p.next_type, p.n,
       round(CAST(p.n AS DOUBLE) / t.row_tot, 6) AS prob
FROM pairs p JOIN tot t ON p.prev_type = t.prev_type
""",
)
def wl_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | previous event type) — the
    behavioral model behind next-action prediction and bot detection.

    Scale shape: ONE lag window partitioned by user_id (high
    cardinality, per-user sequences bounded), then two hash aggs on
    the 5×5 transition grain; the row-total join is
    event-type-bounded. Ordering ties broken by event_id so the lag
    sequence is deterministic."""
    seq = load(spark, sf_dir, "events").withColumn(
        "prev_type",
        F.lag("event_type").over(
            W.partitionBy("user_id").orderBy("ts", "event_id")
        ),
    )
    pairs = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = pairs.groupBy("prev_type").agg(F.sum("n").alias("row_tot"))
    return pairs.join(F.broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n").cast("double") / F.col("row_tot"), 6).alias("prob"),
    )


@query(
    "wl_pareto",
    oracle="""
WITH cust AS (
  SELECT c_nationkey, o_custkey, round(sum(o_totalprice), 2) AS revenue
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_nationkey, o_custkey),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY revenue DESC, o_custkey) AS rn,
         count(*) OVER (PARTITION BY c_nationkey) AS n_cust,
         sum(revenue) OVER (PARTITION BY c_nationkey) AS nation_rev
  FROM cust)
SELECT c_nationkey, CAST(max(n_cust) AS BIGINT) AS n_cust,
       round(max(nation_rev), 2) AS nation_rev,
       round(sum(CASE WHEN rn * 10 <= n_cust THEN revenue ELSE 0 END)
             / nullif(max(nation_rev), 0), 6) + 0.0 AS top_decile_share
FROM ranked GROUP BY c_nationkey
""",
)
def wl_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto check): the share of each
    nation's revenue held by its top-10% customers — the inequality
    readout behind whale-detection and account-tiering.

    Scale shape: aggregate to customer grain first, then ALL windows
    partition on the nation key (25 bounded partitions of
    customer-grain rows — never a global sort); the decile cut uses
    rank·10 ≤ count integer arithmetic, no percentile interpolation
    to diverge on. Revenue rounds at 2 BEFORE ranking so both engines
    rank identical doubles (ulp noise cannot reorder)."""
    cust = (
        load(spark, sf_dir, "orders")
        .join(
            load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    wp = W.partitionBy("c_nationkey")
    ranked = cust.select(
        "c_nationkey",
        "revenue",
        F.row_number()
        .over(wp.orderBy(F.col("revenue").desc(), "o_custkey"))
        .alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n_cust"),
        F.sum("revenue").over(wp).alias("nation_rev"),
    )
    return ranked.groupBy("c_nationkey").agg(
        F.max("n_cust").cast("bigint").alias("n_cust"),
        F.round(F.max("nation_rev"), 2).alias("nation_rev"),
        # rnd(): a 0-revenue decile over a NEGATIVE nation total is
        # 0/negative = -0.0 in DuckDB's round, +0.0 here
        rnd(
            F.sum(F.when(F.col("rn") * 10 <= F.col("n_cust"), F.col("revenue")).otherwise(0.0))
            / F.nullif(F.max("nation_rev"), F.lit(0.0)),
            6,
        ).alias("top_decile_share"),
    )


@query(
    "wl_funnel_steps",
    oracle="""
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts >= v.t_view
  WHERE e.event_type = 'click' GROUP BY e.user_id),
p AS (
  SELECT e.user_id, min(e.ts) AS t_buy
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts >= c.t_click
  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT (SELECT count(*) FROM v) AS n_view,
       (SELECT count(*) FROM c) AS n_click,
       (SELECT count(*) FROM p) AS n_purchase,
       round(CAST((SELECT count(*) FROM c) AS DOUBLE)
             / nullif((SELECT count(*) FROM v), 0), 6) AS view_to_click,
       round(CAST((SELECT count(*) FROM p) AS DOUBLE)
             / nullif((SELECT count(*) FROM c), 0), 6) AS click_to_buy
""",
)
def wl_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-stage ordered funnel report (view → click → purchase,
    each stage at-or-after the previous stage's first touch): stage
    populations and step conversion rates — the aggregate funnel
    chart, complementing `wl_funnel`'s per-user detail.

    Scale shape: each stage is a filtered groupBy-min joined to the
    previous stage ON USER_ID — three hash aggs + two equi-joins all
    sharing the user key (AQE reuses the exchange); stage counts
    reduce to 1-row aggregates cross-joined at the end. No windows,
    no ordered-row processing."""
    ev = load(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_buy"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_view"))
    nc = c.agg(F.count(F.lit(1)).alias("n_click"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchase"))
    return (
        nv.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(np_))
        .select(
            "n_view",
            "n_click",
            "n_purchase",
            # empty upstream stage => the rate is undefined, NULL via
            # nullif (ANSI division would abort on a view-less stream)
            F.round(
                F.col("n_click").cast("double")
                / F.nullif(F.col("n_view"), F.lit(0)),
                6,
            ).alias("view_to_click"),
            F.round(
                F.col("n_purchase").cast("double")
                / F.nullif(F.col("n_click"), F.lit(0)),
                6,
            ).alias("click_to_buy"),
        )
    )


@query(
    "wl_qtr_growth",
    oracle="""
WITH q AS (
  SELECT n_name,
         CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qtr,
         round(sum(o_totalprice), 2) AS revenue
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY n_name, date_trunc('quarter', o_orderdate))
SELECT n_name, CAST(qtr AS VARCHAR) AS qtr, revenue,
       round(revenue / nullif(lag(revenue) OVER (PARTITION BY n_name
                                                 ORDER BY qtr), 0)
             - 1, 6) AS qoq_growth
FROM q
""",
)
def wl_qtr_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarter-over-quarter revenue growth per nation: time-grain
    rollup + a lag window over the AGGREGATED series — the standard
    BI growth readout.

    Scale shape: the fact collapses to (nation × quarter) grain
    before any window touches it, so the lag partitions hold ~a few
    dozen rows each regardless of fact size; revenue rounds before
    the ratio so both engines divide identical doubles."""
    q = (
        load(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(load(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            "n_name",
            F.date_trunc("quarter", "o_orderdate").cast("date").alias("qtr"),
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    w = W.partitionBy("n_name").orderBy("qtr")
    return q.select(
        "n_name",
        F.col("qtr").cast("string").alias("qtr"),
        "revenue",
        # a zero-revenue prior quarter (possible on degenerate or
        # all-zero-price data) has no growth base: NULL via nullif on
        # both engines, never DIVIDE_BY_ZERO
        F.round(
            F.col("revenue") / F.nullif(F.lag("revenue").over(w), F.lit(0.0)) - 1,
            6,
        ).alias("qoq_growth"),
    )


@query(
    "wl_basket_rules",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
nb AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM li),
item AS (SELECT l_partkey, count(*) AS n_item FROM li GROUP BY l_partkey),
pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_pair
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 3)
SELECT p.p1, p.p2, p.n_pair,
       round(CAST(p.n_pair AS DOUBLE) / i1.n_item, 6) AS confidence,
       round(CAST(p.n_pair AS DOUBLE) * nb.n_baskets
             / (i1.n_item * i2.n_item), 6) AS lift
FROM pairs p
JOIN item i1 ON p.p1 = i1.l_partkey
JOIN item i2 ON p.p2 = i2.l_partkey
CROSS JOIN nb
""",
)
def wl_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over the co-purchase pairs: confidence
    P(p2|p1) and lift P(p1,p2)/(P(p1)P(p2)) — the market-basket
    scoring layer on top of `wl_copurchase` (lift > 1 = genuinely
    associated, not just both popular).

    Scale shape: the support filter (HAVING ≥ 3) shrinks pairs BEFORE
    the item-frequency joins, which shuffle on the item key; the
    basket count is a 1-row broadcast. Same within-order pair
    discipline as the base operator — nothing quadratic in the
    catalog."""
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    nb = li.agg(F.countDistinct("l_orderkey").alias("n_baskets"))
    item = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= 3)
    )
    i1 = item.select(F.col("l_partkey").alias("p1"), F.col("n_item").alias("n1"))
    i2 = item.select(F.col("l_partkey").alias("p2"), F.col("n_item").alias("n2"))
    return (
        pairs.join(i1, "p1")
        .join(i2, "p2")
        .crossJoin(F.broadcast(nb))
        .select(
            "p1",
            "p2",
            "n_pair",
            F.round(F.col("n_pair").cast("double") / F.col("n1"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("n_pair").cast("double") * F.col("n_baskets")
                / (F.col("n1") * F.col("n2")),
                6,
            ).alias("lift"),
        )
    )


@query(
    "wl_ks_test",
    oracle="""
WITH s AS (
  SELECT CAST(floor(value) AS BIGINT) AS g,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ib
  FROM events WHERE event_type IN ('purchase', 'click')
    AND isfinite(value) AND abs(value) <= 9e15),
pts AS (SELECT g, CAST(sum(ia) AS BIGINT) AS ca, CAST(sum(ib) AS BIGINT) AS cb
        FROM s GROUP BY g),
tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb FROM pts),
cdf AS (
  SELECT CAST(sum(ca) OVER (ORDER BY g) AS DOUBLE) / nullif(t.na, 0) AS fa,
         CAST(sum(cb) OVER (ORDER BY g) AS DOUBLE) / nullif(t.nb, 0) AS fb
  FROM pts, tot t)
SELECT round(max(abs(fa - fb)), 6) AS ks_stat,
       (SELECT na FROM tot) AS n_a, (SELECT nb FROM tot) AS n_b
FROM cdf
""",
)
def wl_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic (purchase vs click
    value distributions) on a QUANTIZED grid: values floor to unit
    bins first, so the ECDF window runs over a bounded axis (≤ range
    bins) instead of one row per distinct double — the same
    bounded-axis discipline as wl_vocab_growth; grid width trades
    resolution, never scalability. Both CDFs come from ONE scan
    (conditional partial sums), the supremum is a plain max."""
    # finite AND on-grid values only (finite_bounded, overflow world
    # r9): floor(NaN)'s bigint cast aborts, and a finite 1e150's
    # overflows it too — neither has a position on the ECDF grid
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click") & finite_bounded("value")
    )
    s = ev.select(
        F.floor("value").cast("bigint").alias("g"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("ia"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("ib"),
    )
    pts = s.groupBy("g").agg(F.sum("ia").alias("ca"), F.sum("ib").alias("cb"))
    tot = pts.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    # an empty sample (no purchases, or no clicks) has no ECDF — the
    # statistic is NULL via nullif rather than an ANSI-division abort
    cdf = pts.join(F.broadcast(tot)).select(
        (
            F.sum("ca").over(W.orderBy("g")).cast("double")
            / F.nullif(F.col("na"), F.lit(0))
        ).alias("fa"),
        (
            F.sum("cb").over(W.orderBy("g")).cast("double")
            / F.nullif(F.col("nb"), F.lit(0))
        ).alias("fb"),
    )
    return cdf.agg(F.round(F.max(F.abs(F.col("fa") - F.col("fb"))), 6).alias("ks_stat")).join(
        F.broadcast(tot.select(F.col("na").alias("n_a"), F.col("nb").alias("n_b")))
    )


@query(
    "wl_path_trigrams",
    oracle="""
WITH e AS (
  SELECT event_type AS t1,
         lead(event_type) OVER w AS t2,
         lead(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT t1 || '>' || t2 || '>' || t3 AS trigram, count(*) AS n
FROM e WHERE t3 IS NOT NULL AND t2 IS NOT NULL GROUP BY 1
""",
)
def wl_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: frequency of every 3-step event-type
    sequence per user journey — the sequence-mining extension of
    wl_markov_transitions (pairs). Two leads over ONE per-user window
    (single shuffle on user_id, one sort), then a hash aggregate on
    the composed trigram key. Path cardinality is |types|^3, bounded,
    so the final agg broadcasts trivially into dashboards."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    e = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type").over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    return (
        e.filter(F.col("t3").isNotNull() & F.col("t2").isNotNull())
        .select(F.concat_ws(">", "t1", "t2", "t3").alias("trigram"))
        .groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "wl_concurrency",
    oracle="""
WITH d AS (
  SELECT date_trunc('minute', ts) AS m, 1 AS delta FROM events
  UNION ALL
  SELECT date_trunc('minute', ts + INTERVAL 5 MINUTE), -1 FROM events),
g AS (SELECT m, CAST(sum(delta) AS BIGINT) AS dl FROM d GROUP BY m),
c AS (SELECT m, sum(dl) OVER (ORDER BY m) AS concurrent FROM g)
SELECT CAST(CAST(date_trunc('day', m) AS TIMESTAMP) AS VARCHAR) AS day,
       CAST(max(concurrent) AS BIGINT) AS peak_concurrent
FROM c GROUP BY 1
""",
)
def wl_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day via the sweep-line trick: each event
    contributes +1 at its start minute and −1 five minutes later
    (synthetic session length), deltas collapse onto the MINUTE grid
    first (bounded axis — the ks_test/vocab_growth discipline), then
    one cumulative sum walks the grid and a per-day max reports the
    peak. The classic interval-overlap question answered with two
    linear passes — no interval self-join, which is the O(n²) trap.
    The grid grows with the time span (~525k minutes/year), so the
    running sum is the two-pass range prefix sum (functions/ranks.py)
    — unconditional at any span, not just "fine for a few years"."""
    ev = load(spark, sf_dir, "events")
    starts = ev.select(F.date_trunc("minute", "ts").alias("m"), F.lit(1).alias("delta"))
    ends = ev.select(
        F.date_trunc("minute", F.col("ts") + F.expr("INTERVAL 5 MINUTE")).alias("m"),
        F.lit(-1).alias("delta"),
    )
    g = (
        starts.unionByName(ends)
        .groupBy("m")
        .agg(F.sum("delta").cast("bigint").alias("dl"))
    )
    c = global_prefix_sum(g, "dl", F.col("m"), out_col="concurrent")
    return (
        c.groupBy(F.date_trunc("day", "m").cast("string").alias("day"))
        .agg(F.max("concurrent").cast("bigint").alias("peak_concurrent"))
    )


@query(
    "graph_bfs_levels",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ed AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2),
edges AS (
  SELECT p1 AS src, p2 AS dst FROM ed WHERE n >= 2
  UNION ALL
  SELECT p2 AS src, p1 AS dst FROM ed WHERE n >= 2),
seed AS (SELECT min(l_partkey) AS node FROM li),
l0 AS (SELECT node, 0 AS lvl FROM seed),
f1 AS (SELECT DISTINCT e.dst AS node FROM l0 JOIN edges e ON e.src = l0.node),
l1 AS (SELECT node, lvl FROM l0
       UNION ALL
       SELECT f1.node, 1 AS lvl FROM f1
       WHERE NOT EXISTS (SELECT 1 FROM l0 WHERE l0.node = f1.node)),
f2 AS (SELECT DISTINCT e.dst AS node FROM l1 JOIN edges e ON e.src = l1.node),
l2 AS (SELECT node, lvl FROM l1
       UNION ALL
       SELECT f2.node, 2 AS lvl FROM f2
       WHERE NOT EXISTS (SELECT 1 FROM l1 WHERE l1.node = f2.node)),
f3 AS (SELECT DISTINCT e.dst AS node FROM l2 JOIN edges e ON e.src = l2.node),
l3 AS (SELECT node, lvl FROM l2
       UNION ALL
       SELECT f3.node, 3 AS lvl FROM f3
       WHERE NOT EXISTS (SELECT 1 FROM l2 WHERE l2.node = f3.node))
SELECT lvl, CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(node) AS BIGINT) AS min_node
FROM l3 GROUP BY lvl
""",
)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first reachability over the co-purchase graph: 3
    unrolled frontier expansions from a deterministic seed, reporting
    node counts per BFS level — the shortest-path-length sibling of
    wl_pagerank3 (value propagation) and dedup_components (label
    convergence). Each round is one frontier⋈edges equi-join plus an
    anti-join against the visited set — the Pregel superstep in
    DataFrame form; the frontier relation is the only state that
    moves. Edges materialize once (support ≥ 2 co-purchase pairs,
    symmetrized) — at 100 TB they would be bucketed on src so every
    superstep's join is exchange-free."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    ed = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
    )
    edges = ed.select(F.col("p1").alias("src"), F.col("p2").alias("dst")).unionByName(
        ed.select(F.col("p2").alias("src"), F.col("p1").alias("dst"))
    )
    visited = (
        li.agg(F.min("l_partkey").alias("node")).select("node", F.lit(0).alias("lvl"))
    )
    for lvl in (1, 2, 3):
        frontier = (
            visited.join(edges, visited.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(lvl).alias("lvl"))
        )
        visited = visited.unionByName(frontier)
    return visited.groupBy("lvl").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.min("node").cast("bigint").alias("min_node"),
    )


@query(
    "wl_decayed_popularity",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(pow(0.5, datediff('day', o_orderdate, DATE '1998-08-01') / 7.0)), 6) AS decayed_score
FROM orders GROUP BY o_orderpriority
""",
)
def wl_decayed_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed popularity (half-life = 7 days from
    a fixed as-of date) — the recency weighting every feed/recommender
    ranker applies. Decay is a row-local pow() folded into ONE
    partial-aggregating sum, so 'recompute popularity nightly over
    100 TB of history' is a single scan-agg; the equivalent
    last-N-days filter family loses the long tail this keeps."""
    o = load(spark, sf_dir, "orders")
    w = F.pow(0.5, F.datediff(F.lit("1998-08-01").cast("date"), F.col("o_orderdate")) / 7.0)
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(F.sum(w), 6).alias("decayed_score"),
    )


@query(
    "wl_cuped",
    oracle="""
WITH u AS (
  SELECT user_id, user_id % 2 AS variant,
         sum(CASE WHEN event_type = 'click' THEN value ELSE 0 END) AS x,
         sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS y
  FROM events GROUP BY user_id),
mom AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM u),
theta AS (
  SELECT coalesce((sxy / n - (sx / n) * (sy / n))
                  / nullif(sxx / n - (sx / n) * (sx / n), 0), 0) AS th,
         sx / n AS mean_x
  FROM mom)
SELECT variant,
       CAST(count(*) AS BIGINT) AS n_users,
       round(avg(y), 6) AS mean_post,
       round(avg(y - t.th * (x - t.mean_x)), 6) AS mean_cuped
FROM u, theta t GROUP BY variant, t.th, t.mean_x
""",
)
def wl_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (the experimentation-platform
    workhorse): adjust each user's post-period metric by their
    pre-period covariate, y* = y − θ(x − x̄), θ = cov(x,y)/var(x) —
    same means, materially tighter confidence intervals. θ comes from
    ONE moment aggregate over the per-user rollup (the
    agg_higher_moments discipline); the adjustment is a broadcast
    1-row join + map-side arithmetic. Clicks proxy the pre-period,
    purchases the post-period, user-id parity the variant."""
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        (F.col("user_id") % 2).alias("variant"),
        F.sum(F.when(F.col("event_type") == "click", F.col("value")).otherwise(0.0)).alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)
        ).alias("y"),
    )
    mom = u.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    # var(x) = 0 (no pre-period signal at all) ⇒ θ := 0, i.e. no
    # adjustment — unguarded, ANSI division aborts the job
    theta = mom.select(
        F.coalesce(
            (
                F.col("sxy") / F.col("n")
                - (F.col("sx") / F.col("n")) * (F.col("sy") / F.col("n"))
            )
            / F.nullif(
                F.col("sxx") / F.col("n")
                - (F.col("sx") / F.col("n")) * (F.col("sx") / F.col("n")),
                F.lit(0.0),
            ),
            F.lit(0.0),
        ).alias("th"),
        (F.col("sx") / F.col("n")).alias("mean_x"),
    )
    return (
        u.join(F.broadcast(theta))
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.round(F.avg("y"), 6).alias("mean_post"),
            F.round(
                F.avg(F.col("y") - F.col("th") * (F.col("x") - F.col("mean_x"))), 6
            ).alias("mean_cuped"),
        )
    )


@query(
    "wl_change_attribution",
    oracle="""
WITH r AS (
  SELECT c.c_mktsegment AS segment,
         sum(CASE WHEN o.o_orderdate >= DATE '1997-01-01'
                   AND o.o_orderdate < DATE '1997-07-01'
                  THEN o.o_totalprice ELSE 0 END) AS rev_h1,
         sum(CASE WHEN o.o_orderdate >= DATE '1997-07-01'
                   AND o.o_orderdate < DATE '1998-01-01'
                  THEN o.o_totalprice ELSE 0 END) AS rev_h2
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1),
t AS (SELECT sum(rev_h2 - rev_h1) AS total_delta FROM r)
SELECT segment, round(rev_h1, 2) AS rev_h1, round(rev_h2, 2) AS rev_h2,
       round(rev_h2 - rev_h1, 2) AS delta,
       round((rev_h2 - rev_h1) / nullif(t.total_delta, 0), 6) + 0.0 AS delta_share
FROM r, t
""",
)
def wl_change_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period change ATTRIBUTION: which customer segment
    drove the half-over-half revenue move — the 'why did the metric
    change' decomposition every BI review asks for. Both periods come
    from ONE fact scan (conditional sums — never two passes), the
    dimension joins broadcast, and each segment's share of the total
    delta is a broadcast 1-row normalization. Additive by
    construction: shares sum to 1."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    h1 = F.sum(
        F.when(
            (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-07-01"),
            F.col("o_totalprice"),
        ).otherwise(0.0)
    )
    h2 = F.sum(
        F.when(
            (F.col("o_orderdate") >= "1997-07-01") & (F.col("o_orderdate") < "1998-01-01"),
            F.col("o_totalprice"),
        ).otherwise(0.0)
    )
    r = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(h1.alias("rev_h1"), h2.alias("rev_h2"))
    )
    t = r.agg(F.sum(F.col("rev_h2") - F.col("rev_h1")).alias("total_delta"))
    return r.join(F.broadcast(t)).select(
        "segment",
        F.round("rev_h1", 2).alias("rev_h1"),
        F.round("rev_h2", 2).alias("rev_h2"),
        F.round(F.col("rev_h2") - F.col("rev_h1"), 2).alias("delta"),
        # a perfectly flat period pair (total_delta = 0, common on
        # degenerate or all-zero-price tables) has no shares to
        # attribute: NULL via nullif on both engines. + 0.0 normalizes
        # the IEEE -0.0 a zero-delta segment gets from a negative
        # total (DuckDB round keeps the sign, Spark's drops it).
        (
            F.round(
                (F.col("rev_h2") - F.col("rev_h1"))
                / F.nullif(F.col("total_delta"), F.lit(0.0)),
                6,
            )
            + 0.0
        ).alias("delta_share"),
    )


@query(
    "wl_markov2_conditional",
    oracle="""
WITH e AS (
  SELECT event_type AS t1,
         lead(event_type) OVER w AS t2,
         lead(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
tri AS (SELECT t1, t2, t3, count(*) AS n3 FROM e
        WHERE t3 IS NOT NULL AND t2 IS NOT NULL GROUP BY 1, 2, 3),
bi AS (SELECT t1, t2, CAST(sum(n3) AS DOUBLE) AS n2 FROM tri GROUP BY 1, 2)
SELECT tri.t1, tri.t2, tri.t3, tri.n3,
       round(tri.n3 / bi.n2, 6) AS p_next
FROM tri JOIN bi USING (t1, t2)
""",
)
def wl_markov2_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order Markov model: P(next | previous two) estimated
    from the trigram/bigram-prefix count ratio — the sequence model
    one order above wl_markov_transitions, sharing wl_path_trigrams'
    single user-window extraction. Both count tables are bounded by
    |types|² and |types|³, so the conditional table broadcasts
    anywhere; at scale only the ONE window over users touches data
    size. Exact integer ratios, rounded."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    e = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type").over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t2").isNotNull() & F.col("t3").isNotNull())
    tri = e.groupBy("t1", "t2", "t3").agg(F.count(F.lit(1)).alias("n3"))
    bi = tri.groupBy("t1", "t2").agg(F.sum("n3").cast("double").alias("n2"))
    return tri.join(F.broadcast(bi), ["t1", "t2"]).select(
        "t1", "t2", "t3", "n3", F.round(F.col("n3") / F.col("n2"), 6).alias("p_next")
    )


@query(
    "wl_linear_forecast",
    oracle="""
WITH daily AS (
  SELECT datediff('day', DATE '2024-01-01', CAST(date_trunc('day', ts) AS DATE)) AS t,
         CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1),
fit AS (
  SELECT regr_slope(y, t) AS slope, regr_intercept(y, t) AS icept,
         max(t) AS t_max, CAST(count(*) AS BIGINT) AS n_days
  FROM daily)
SELECT n_days, round(slope, 6) + 0.0 AS slope,
       round(icept, 6) + 0.0 AS intercept,
       round(icept + slope * (t_max + 1), 6) + 0.0 AS forecast_next_day,
       round(icept + slope * (t_max + 7), 6) + 0.0 AS forecast_next_week
FROM fit
""",
)
def wl_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-trend forecast: OLS over the daily event-count series
    (SQL-standard REGR_* — the agg_linreg machinery) extrapolated 1
    and 7 days past the observed horizon — the capacity-planning
    one-liner. The series aggregates to one row per day FIRST
    (bounded), so the regression runs over the calendar, not the
    events; both engines evaluate the same closed-form slope/intercept
    from exact integer (t, count) pairs."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.date_trunc("day", "ts"), F.lit("2024-01-01").cast("date")).alias("t")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    fit = daily.agg(
        F.regr_slope("y", "t").alias("slope"),
        F.regr_intercept("y", "t").alias("icept"),
        F.max("t").alias("t_max"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    # rnd (not bare round) on all four derived columns: a degenerate
    # series can land the forecast on exact zero with sign −0.0 in
    # DuckDB and +0.0 in Spark (hypothesis-caught r7) — the shared
    # helper normalizes the sign identically on both engines.
    return fit.select(
        "n_days",
        rnd("slope").alias("slope"),
        rnd("icept").alias("intercept"),
        rnd(F.col("icept") + F.col("slope") * (F.col("t_max") + 1)).alias(
            "forecast_next_day"
        ),
        rnd(F.col("icept") + F.col("slope") * (F.col("t_max") + 7)).alias(
            "forecast_next_week"
        ),
    )


@query(
    "wl_iqr_outliers",
    oracle="""
WITH q AS (
  SELECT l_returnflag AS flag,
         quantile_cont(l_extendedprice, 0.25) AS q1,
         quantile_cont(l_extendedprice, 0.75) AS q3
  FROM lineitem WHERE isfinite(l_extendedprice) GROUP BY 1)
SELECT li.l_returnflag AS flag,
       round(max(q.q1), 3) AS q1, round(max(q.q3), 3) AS q3,
       CAST(sum(CASE WHEN li.l_extendedprice > q.q3 + 1.5 * (q.q3 - q.q1)
                       OR li.l_extendedprice < q.q1 - 1.5 * (q.q3 - q.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST(count(*) AS BIGINT) AS n
FROM (SELECT * FROM lineitem WHERE isfinite(l_extendedprice)) li
JOIN q ON li.l_returnflag = q.flag
GROUP BY li.l_returnflag
""",
)
def wl_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence (IQR) outlier census per group — the third member
    of the robust-outlier family (wl_mad_outliers: median absolute
    deviation; wl_anomaly_zscore: parametric). Quartiles reduce per
    group first (bounded), broadcast back, and the fence test is one
    conditional-sum pass over the fact — two scans total, no
    row-vs-row work. Prices carry 2 decimals so the interpolated
    quartiles and fences are well clear of comparison knife-edges.

    Non-finite prices are filtered on both engines: DuckDB's
    comparison-based quantile is run-to-run NONDETERMINISTIC over a
    group mixing NaN and finite values (probe-verified on
    agg_median_pct — same machinery), and a NaN price is corrupt
    input, not an outlier."""
    li = load(spark, sf_dir, "lineitem").filter(finite("l_extendedprice"))
    q = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.percentile("l_extendedprice", F.lit(0.25)).alias("q1"),
        F.percentile("l_extendedprice", F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    out = (
        F.col("l_extendedprice") > F.col("q3") + 1.5 * iqr
    ) | (F.col("l_extendedprice") < F.col("q1") - 1.5 * iqr)
    return (
        li.join(F.broadcast(q), li.l_returnflag == q.flag)
        .groupBy("l_returnflag")
        .agg(
            F.round(F.max("q1"), 3).alias("q1"),
            F.round(F.max("q3"), 3).alias("q3"),
            F.sum(F.when(out, 1).otherwise(0)).cast("bigint").alias("n_outliers"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .withColumnRenamed("l_returnflag", "flag")
    )


@query(
    "wl_interarrival_hist",
    oracle="""
WITH g AS (
  SELECT user_id,
         (epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id)))
           // 60000000 AS gap_min
  FROM events),
b AS (
  SELECT CASE WHEN gap_min < 1 THEN '<1m'
              WHEN gap_min < 10 THEN '1-10m'
              WHEN gap_min < 60 THEN '10-60m'
              WHEN gap_min < 1440 THEN '1-24h'
              ELSE '>24h' END AS bucket
  FROM g WHERE gap_min IS NOT NULL)
SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY bucket
""",
)
def wl_interarrival_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time histogram: the distribution of gaps between
    a user's consecutive events, bucketed to human scales — the
    diagnostic that picks session-gap thresholds (batch_session_window
    and the streaming sessionizers consume the knee of this curve as
    their gap parameter). One lag over the user window, then a
    five-bucket map-side aggregate."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.floor(
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
        )
        / 60_000_000
    )
    g = ev.select(gap.alias("gap_min")).filter(F.col("gap_min").isNotNull())
    bucket = (
        F.when(F.col("gap_min") < 1, "<1m")
        .when(F.col("gap_min") < 10, "1-10m")
        .when(F.col("gap_min") < 60, "10-60m")
        .when(F.col("gap_min") < 1440, "1-24h")
        .otherwise(">24h")
    )
    return g.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


@query(
    "wl_lateness_profile",
    oracle="""
WITH arr AS (
  SELECT user_id, ts, md5('arr:' || CAST(event_id AS VARCHAR)) AS arrival_key
  FROM events),
lat AS (
  SELECT user_id,
         (epoch_us(max(ts) OVER (PARTITION BY user_id ORDER BY arrival_key))
          - epoch_us(ts)) // 1000000 AS late_s
  FROM arr),
b AS (
  SELECT CASE WHEN late_s = 0 THEN 'on-time'
              WHEN late_s <= 600 THEN '<=10m'
              WHEN late_s <= 3600 THEN '<=1h'
              WHEN late_s <= 86400 THEN '<=1d'
              ELSE '>1d' END AS bucket
  FROM lat)
SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY bucket
""",
)
def wl_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time LATENESS profile: how far behind the per-user
    high-watermark each event arrives, under a simulated
    network-shuffled arrival order (deterministic md5 of the event id
    — the staged fixture arrives time-sorted, which would make every
    event on-time and teach nothing). The histogram's tail IS the
    watermark delay you configure: pick the bucket where the
    cumulative mass crosses your completeness SLO and that is
    `withWatermark`'s horizon. One window per user (running max in
    arrival order), one bounded aggregate."""
    ev = load(spark, sf_dir, "events")
    arr = ev.select(
        "user_id",
        "ts",
        F.md5(F.concat(F.lit("arr:"), F.col("event_id").cast("string"))).alias(
            "arrival_key"
        ),
    )
    w = W.partitionBy("user_id").orderBy("arrival_key")
    late_s = F.floor(
        (
            F.unix_micros(F.max("ts").over(w).cast("timestamp"))
            - F.unix_micros(F.col("ts").cast("timestamp"))
        )
        / 1_000_000
    )
    b = arr.select(late_s.alias("late_s"))
    bucket = (
        F.when(F.col("late_s") == 0, "on-time")
        .when(F.col("late_s") <= 600, "<=10m")
        .when(F.col("late_s") <= 3600, "<=1h")
        .when(F.col("late_s") <= 86400, "<=1d")
        .otherwise(">1d")
    )
    return b.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


@query(
    "graph_link_prediction",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ed AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2),
edges AS (
  SELECT p1 AS src, p2 AS dst FROM ed WHERE n >= 2
  UNION ALL
  SELECT p2, p1 FROM ed WHERE n >= 2),
deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY 1),
twohop AS (
  SELECT e1.dst AS a, e2.dst AS b, count(DISTINCT e1.src) AS common
  FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
  GROUP BY 1, 2),
nonadj AS (
  SELECT t.a, t.b, t.common
  FROM twohop t
  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.src = t.a AND e.dst = t.b)
    AND t.common >= 2)
SELECT n.a, n.b, n.common,
       round(CAST(n.common AS DOUBLE) / (da.d + db.d - n.common), 6) AS jaccard
FROM nonadj n JOIN deg da ON da.node = n.a JOIN deg db ON db.node = n.b
""",
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINK PREDICTION by common-neighbor Jaccard: non-adjacent part
    pairs that share ≥ 2 co-purchase neighbors, scored
    |N(a)∩N(b)| / |N(a)∪N(b)| — 'products bought with the same things
    but never together yet', the graph-native recommendation
    complement of ml_item_cf (which scores through shared BASKETS;
    this scores through shared NEIGHBORS, one hop further out).
    Candidate pairs come only from the two-hop join THROUGH a shared
    neighbor (never all-pairs), adjacency is excluded by an anti-join
    on the edge list, and degree joins are AQE-sized."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    ed = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
    )
    edges = ed.select(F.col("p1").alias("src"), F.col("p2").alias("dst")).unionByName(
        ed.select(F.col("p2").alias("src"), F.col("p1").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    e1, e2 = edges.alias("e1"), edges.alias("e2")
    twohop = (
        e1.join(
            e2,
            (F.col("e1.src") == F.col("e2.src")) & (F.col("e1.dst") < F.col("e2.dst")),
        )
        .groupBy(F.col("e1.dst").alias("a"), F.col("e2.dst").alias("b"))
        .agg(F.countDistinct("e1.src").alias("common"))
        .filter(F.col("common") >= 2)
    )
    nonadj = twohop.join(
        edges,
        (twohop.a == edges.src) & (twohop.b == edges.dst),
        "left_anti",
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    # degrees are part-dimension sized — they scale with SF, so the
    # join strategy is left to AQE (broadcast when small, shuffle when not)
    return (
        nonadj.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "common",
            F.round(
                F.col("common").cast("double")
                / (F.col("da") + F.col("db") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )


@query(
    "wl_power_analysis",
    oracle="""
WITH m AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, sum(value) AS s1, sum(value * value) AS s2
  FROM events WHERE event_type = 'purchase' AND isfinite(value)),
v AS (SELECT n, (s2 - s1 * s1 / n) / nullif(n - 1, 0) AS var, s1 / n AS mean FROM m)
SELECT CAST(n AS BIGINT) AS n_obs,
       round(mean, 6) AS mean,
       round(var, 6) AS variance,
       CAST(ceil(2.0 * pow(1.959964 + 0.841621, 2) * var
                 / pow(0.05 * mean, 2)) AS BIGINT) AS n_per_variant
FROM v
""",
)
def wl_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B-test POWER ANALYSIS: the sample size per variant needed to
    detect a 5% lift on the purchase metric at α=0.05 (two-sided,
    z=1.960) with 80% power (z=0.842) — n = 2(z_α+z_β)²σ²/δ². The
    variance comes from ONE moment pass over historical data (the
    wl_cuped/agg_higher_moments state), the rest is closed-form scalar
    math — the planning step every experimentation platform runs
    before wl_ab_ttest runs after. Identical expression trees both
    engines. Finite values only on both engines: one NaN turns every
    moment NaN, and ceil(NaN)'s ANSI bigint cast aborts the job."""
    ev = load(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & finite("value")
    )
    m = ev.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("value").alias("s1"),
        F.sum(F.col("value") * F.col("value")).alias("s2"),
    )
    v = m.select(
        "n",
        (
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / F.nullif(F.col("n") - 1, F.lit(0.0))
        ).alias("var"),
        (F.col("s1") / F.col("n")).alias("mean"),
    )
    return v.select(
        F.col("n").cast("bigint").alias("n_obs"),
        F.round("mean", 6).alias("mean"),
        F.round("var", 6).alias("variance"),
        F.ceil(
            2.0
            * F.pow(F.lit(1.959964 + 0.841621), 2)
            * F.col("var")
            / F.pow(0.05 * F.col("mean"), 2)
        )
        .cast("bigint")
        .alias("n_per_variant"),
    )


@query(
    "graph_clustering_coeff",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ed AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2),
edges AS (
  SELECT p1 AS src, p2 AS dst FROM ed WHERE n >= 2
  UNION ALL
  SELECT p2, p1 FROM ed WHERE n >= 2),
deg AS (SELECT src AS node, CAST(count(*) AS DOUBLE) AS d FROM edges GROUP BY 1),
tri AS (
  SELECT e1.src AS node, count(*) AS wedges_closed
  FROM edges e1
  JOIN edges e2 ON e1.dst = e2.src AND e1.src <> e2.dst
  JOIN edges e3 ON e3.src = e2.dst AND e3.dst = e1.src
  GROUP BY e1.src)
SELECT deg.node, CAST(deg.d AS BIGINT) AS degree,
       CAST(coalesce(tri.wedges_closed, 0) / 2 AS BIGINT) AS triangles,
       round(CASE WHEN deg.d >= 2
                  THEN coalesce(tri.wedges_closed, 0) / (deg.d * (deg.d - 1))
                  ELSE 0 END, 6) AS clustering_coeff
FROM deg LEFT JOIN tri ON tri.node = deg.node
""",
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node CLUSTERING COEFFICIENT: the fraction of a part's
    co-purchase neighbors that are themselves co-purchased, C(v) =
    2·tri(v) / d(v)(d(v)−1) — the local-density metric that separates
    'hub' products from 'community' products (wl_triangles counts the
    global total; this localizes it). Triangles per node come from the
    standard two-join wedge closure on the symmetric edge list —
    degree-bounded, never all-pairs; nodes below degree 2 define
    C = 0."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    ed = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
    )
    edges = ed.select(F.col("p1").alias("src"), F.col("p2").alias("dst")).unionByName(
        ed.select(F.col("p2").alias("src"), F.col("p1").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("double").alias("d")
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(
            e2,
            (F.col("e1.dst") == F.col("e2.src")) & (F.col("e1.src") != F.col("e2.dst")),
        )
        .join(
            e3,
            (F.col("e3.src") == F.col("e2.dst")) & (F.col("e3.dst") == F.col("e1.src")),
        )
        .groupBy(F.col("e1.src").alias("tnode"))
        .agg(F.count(F.lit(1)).alias("wedges_closed"))
    )
    return deg.join(tri, deg.node == tri.tnode, "left").select(
        "node",
        F.col("d").cast("bigint").alias("degree"),
        (F.coalesce("wedges_closed", F.lit(0)) / 2).cast("bigint").alias("triangles"),
        F.round(
            F.when(
                F.col("d") >= 2,
                F.coalesce("wedges_closed", F.lit(0)) / (F.col("d") * (F.col("d") - 1)),
            ).otherwise(0.0),
            6,
        ).alias("clustering_coeff"),
    )


@query(
    "graph_powerlaw_fit",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ed AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 1),
edges AS (SELECT p1 AS src FROM ed UNION ALL SELECT p2 FROM ed),
deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
hist AS (SELECT d, CAST(count(*) AS DOUBLE) AS freq FROM deg GROUP BY d)
SELECT CAST(count(*) AS BIGINT) AS n_degree_levels,
       round(regr_slope(ln(freq), ln(CAST(d AS DOUBLE))), 6) + 0.0 AS powerlaw_exponent,
       round(regr_r2(ln(freq), ln(CAST(d AS DOUBLE))), 6) + 0.0 AS r2
FROM hist
""",
)
def graph_powerlaw_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution POWER-LAW fit: ln(freq) ~ α·ln(degree) by
    OLS over the degree histogram — the network-science test for
    scale-free structure, and operationally the early-warning for hub
    skew (a steep negative α with high R² means a few mega-degree
    nodes will dominate any degree-keyed join; see join_skew_salted
    for the mitigation). The regression runs over the BOUNDED
    (degree level, frequency) relation, never raw edges."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    ed = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    edges = ed.select(F.col("p1").alias("src")).unionByName(
        ed.select(F.col("p2").alias("src"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    hist = deg.groupBy("d").agg(F.count(F.lit(1)).cast("double").alias("freq"))
    return hist.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_degree_levels"),
        rnd(F.regr_slope(F.log("freq"), F.log(F.col("d").cast("double"))), 6).alias(
            "powerlaw_exponent"
        ),
        rnd(F.regr_r2(F.log("freq"), F.log(F.col("d").cast("double"))), 6).alias(
            "r2"
        ),
    )


@query(
    "wl_psi_drift",
    oracle="""
WITH s AS (
  SELECT CAST(floor(value / 50) AS BIGINT) AS bin,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ib
  FROM events WHERE event_type IN ('purchase', 'click')
    AND isfinite(value) AND abs(value) <= 9e15),
b AS (SELECT bin, CAST(sum(ia) AS DOUBLE) AS ca, CAST(sum(ib) AS DOUBLE) AS cb
      FROM s GROUP BY bin),
t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM b),
p AS (SELECT bin, (ca + 0.5) / (t.na + 0.5 * (SELECT count(*) FROM b)) AS pa,
             (cb + 0.5) / (t.nb + 0.5 * (SELECT count(*) FROM b)) AS pb
      FROM b, t)
SELECT CAST((SELECT count(*) FROM b) AS BIGINT) AS n_bins,
       round(sum((pa - pb) * ln(pa / pb)), 6) AS psi
FROM p
""",
)
def wl_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two score distributions
    (purchase vs click values binned to a bounded grid) — the
    model-monitoring industry standard: PSI = Σ(pᵢ−qᵢ)·ln(pᵢ/qᵢ),
    with <0.1 stable / 0.1–0.25 shifting / >0.25 drifted as the
    conventional alarm levels. Add-half smoothing keeps empty bins
    finite (the wl_dp_counts/Fellegi–Sunter discipline); both
    distributions come from ONE conditional-sum scan and the PSI is a
    bounded-bin aggregate — the KS statistic's (wl_ks_test)
    practitioner sibling, cheaper to monitor because no CDF ordering
    is needed."""
    # finite AND on-grid values only (finite_bounded, overflow world
    # r9): floor(inf/50)'s int cast aborts, and so does a FINITE
    # 1e150's — a non-finite or off-grid score has no bin on the
    # monitoring grid; bin is BIGINT so every in-grid value fits
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click") & finite_bounded("value")
    )
    s = ev.select(
        F.floor(F.col("value") / 50).cast("bigint").alias("bin"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("ia"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("ib"),
    )
    b = s.groupBy("bin").agg(
        F.sum("ia").cast("double").alias("ca"), F.sum("ib").cast("double").alias("cb")
    )
    t = b.agg(
        F.sum("ca").alias("na"),
        F.sum("cb").alias("nb"),
        F.count(F.lit(1)).cast("double").alias("k"),
    )
    p = b.join(F.broadcast(t)).select(
        ((F.col("ca") + 0.5) / (F.col("na") + 0.5 * F.col("k"))).alias("pa"),
        ((F.col("cb") + 0.5) / (F.col("nb") + 0.5 * F.col("k"))).alias("pb"),
        "k",
    )
    # n_bins rides the totals row, not max(k) over p: with zero
    # qualifying events p is EMPTY and the oracle's scalar subquery
    # still reports 0 bins (max over empty would say NULL)
    psi = p.agg(
        F.round(
            F.sum((F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb"))), 6
        ).alias("psi")
    )
    return psi.join(
        F.broadcast(t.select(F.col("k").cast("bigint").alias("n_bins")))
    ).select("n_bins", "psi")


@query(
    "wl_multitouch_attribution",
    oracle="""
WITH conv AS (
  SELECT user_id, min(ts) AS first_purchase
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
path AS (
  SELECT e.user_id, e.event_type, e.ts, e.event_id,
         count(*) OVER (PARTITION BY e.user_id) AS path_len,
         row_number() OVER (PARTITION BY e.user_id
                            ORDER BY e.ts, e.event_id) AS pos
  FROM events e JOIN conv c ON e.user_id = c.user_id
  WHERE e.ts < c.first_purchase AND e.event_type <> 'purchase'),
credit AS (
  SELECT event_type,
         1.0 / path_len AS linear_credit,
         CASE WHEN path_len = 1 THEN 1.0
              WHEN path_len = 2 THEN 0.5
              WHEN pos = 1 OR pos = path_len THEN 0.4
              ELSE 0.2 / (path_len - 2) END AS u_credit
  FROM path)
SELECT event_type,
       round(sum(linear_credit), 6) AS linear_attrib,
       round(sum(u_credit), 6) AS u_shape_attrib
FROM credit GROUP BY event_type
""",
)
def wl_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-TOUCH attribution: conversion credit spread across every
    pre-purchase touch — linear (1/n each) and U-shaped (40% first,
    40% last, 20% shared by the middle; 2-touch paths split 50/50 so
    credit stays conserved with no middle) side by side, completing
    wl_attribution's last-touch model. Touch paths come from one join
    against the per-user first conversion and ONE user-partitioned
    window pass (position + path length share the partition spec);
    credit math is row-local. Credit per model sums to the number of
    converting users with a non-empty path — conservation asserted in
    tests/test_invariants.py."""
    ev = load(spark, sf_dir, "events")
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    path = (
        ev.join(conv, "user_id")
        .filter((F.col("ts") < F.col("first_purchase")) & (F.col("event_type") != "purchase"))
        .select(
            "user_id",
            "event_type",
            F.count(F.lit(1)).over(W.partitionBy("user_id")).alias("path_len"),
            F.row_number()
            .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
            .alias("pos"),
        )
    )
    credit = path.select(
        "event_type",
        (1.0 / F.col("path_len")).alias("linear_credit"),
        F.when(F.col("path_len") == 1, 1.0)
        .when(F.col("path_len") == 2, 0.5)
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("path_len")), 0.4)
        .otherwise(0.2 / (F.col("path_len") - 2))
        .alias("u_credit"),
    )
    return credit.groupBy("event_type").agg(
        F.round(F.sum("linear_credit"), 6).alias("linear_attrib"),
        F.round(F.sum("u_credit"), 6).alias("u_shape_attrib"),
    )


@query(
    "wl_kaplan_meier",
    oracle="""
WITH su AS (SELECT user_id, min(ts) AS signup FROM events
            WHERE event_type = 'signup' GROUP BY user_id),
fp AS (SELECT e.user_id, min(e.ts) AS first_purchase
       FROM events e JOIN su ON e.user_id = su.user_id
       WHERE e.event_type = 'purchase' AND e.ts >= su.signup
       GROUP BY e.user_id),
mx AS (SELECT max(ts) AS m FROM events),
dur AS (
  SELECT su.user_id,
         CASE WHEN fp.first_purchase IS NOT NULL
              THEN (epoch_us(fp.first_purchase) - epoch_us(su.signup)) // 86400000000
              ELSE (epoch_us(mx.m) - epoch_us(su.signup)) // 86400000000 END AS t,
         CASE WHEN fp.first_purchase IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM su LEFT JOIN fp ON su.user_id = fp.user_id, mx),
byday AS (
  SELECT t, CAST(count(*) AS DOUBLE) AS leaving,
         CAST(sum(ev) AS DOUBLE) AS d
  FROM dur GROUP BY t),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM dur),
risk AS (
  SELECT t, d,
         tot.n - coalesce(sum(leaving) OVER (ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
  FROM byday, tot),
km AS (
  SELECT t, CAST(n_risk AS BIGINT) AS n_at_risk, CAST(d AS BIGINT) AS events,
         exp(sum(CASE WHEN d < n_risk THEN ln(1.0 - d / n_risk)
                      ELSE -1e9 END) OVER (ORDER BY t)) AS s
  FROM risk WHERE d > 0)
SELECT t AS day, n_at_risk, events, round(s, 6) AS km_survival
FROM km
""",
)
def wl_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN–MEIER survival estimation with right-censoring:
    time-to-first-purchase after signup, users who never purchase
    censored at the observation horizon — the survival-analysis
    workhorse (churn, time-to-convert, reliability) that naive
    conversion rates get wrong by ignoring censoring. The risk set
    n(t) is the running complement of departures on the BOUNDED day
    axis, and the product-limit Π(1 − d/n) is exp of a running
    ln-sum over the same axis — two windows over a days-sized
    relation; the event table is touched twice (cohort + first
    event), both linear. Both engines evaluate identical ln/exp
    chains, so the curve matches exactly."""
    ev = load(spark, sf_dir, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .filter(F.col("ts") >= F.col("signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    mx = ev.agg(F.max("ts").alias("m"))
    us = F.unix_micros(F.col("signup").cast("timestamp"))
    dur = (
        su.join(fp, "user_id", "left")
        .join(F.broadcast(mx))
        .select(
            F.when(
                F.col("first_purchase").isNotNull(),
                F.floor(
                    (F.unix_micros(F.col("first_purchase").cast("timestamp")) - us)
                    / 86400000000
                ),
            )
            .otherwise(
                F.floor((F.unix_micros(F.col("m").cast("timestamp")) - us) / 86400000000)
            )
            .alias("t"),
            F.when(F.col("first_purchase").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    byday = dur.groupBy("t").agg(
        F.count(F.lit(1)).cast("double").alias("leaving"),
        F.sum("ev").cast("double").alias("d"),
    )
    tot = dur.agg(F.count(F.lit(1)).cast("double").alias("n"))
    risk = byday.join(F.broadcast(tot)).select(
        "t",
        "d",
        (
            F.col("n")
            - F.coalesce(
                F.sum("leaving").over(
                    W.orderBy("t").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0.0),
            )
        ).alias("n_risk"),
    )
    km = risk.filter(F.col("d") > 0).select(
        F.col("t").alias("day"),
        F.col("n_risk").cast("bigint").alias("n_at_risk"),
        F.col("d").cast("bigint").alias("events"),
        # a day where the whole risk set exits gives factor 0: ln is
        # undefined, so the term becomes -1e9 and exp underflows to an
        # exact 0 survival in both engines
        F.exp(
            F.sum(
                F.when(
                    F.col("d") < F.col("n_risk"),
                    F.log(1.0 - F.col("d") / F.col("n_risk")),
                ).otherwise(F.lit(-1e9))
            ).over(W.orderBy("t"))
        ).alias("s"),
    )
    return km.select("day", "n_at_risk", "events", F.round("s", 6).alias("km_survival"))


@query(
    "wl_paired_ttest",
    oracle="""
WITH u AS (
  SELECT user_id,
         sum(CASE WHEN event_type = 'click'
                   AND ts < TIMESTAMP '2024-01-02 12:00:00'
                  THEN value ELSE 0 END) AS a,
         sum(CASE WHEN event_type = 'click'
                   AND ts >= TIMESTAMP '2024-01-02 12:00:00'
                  THEN value ELSE 0 END) AS b
  FROM events GROUP BY user_id),
m AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, sum(b - a) AS s1,
         sum((b - a) * (b - a)) AS s2
  FROM u)
SELECT CAST(n AS BIGINT) AS n_users,
       round(s1 / nullif(n, 0), 6) AS mean_diff,
       round((s1 / nullif(n, 0))
             / nullif(sqrt(greatest((s2 - s1 * s1 / nullif(n, 0))
                                    / nullif(n - 1, 0), 0) / nullif(n, 0)), 0),
             6) AS t_stat
FROM m
""",
)
def wl_paired_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAIRED t-test: each user is their own control (activity before
    vs after a midpoint), t = mean(diff) / (sd(diff)/√n) — the
    within-subject design that wl_ab_ttest's independent-samples Welch
    test cannot express, and usually far more powerful because
    between-user variance cancels. One per-user conditional-sum
    rollup, one moment pass over the diffs — the same mergeable
    (n, Σd, Σd²) state as everything in the moments family. The
    t statistic is NULL (nullif, both engines) when it is undefined:
    a single user (n−1 = 0) or zero-variance diffs — unguarded,
    ANSI division aborts the job on such cohorts."""
    ev = load(spark, sf_dir, "events")
    cut = F.lit("2024-01-02 12:00:00").cast("timestamp_ntz")
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") < cut), F.col("value")
            ).otherwise(0.0)
        ).alias("a"),
        F.sum(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") >= cut), F.col("value")
            ).otherwise(0.0)
        ).alias("b"),
    )
    diff = F.col("b") - F.col("a")
    m = u.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(diff).alias("s1"),
        F.sum(diff * diff).alias("s2"),
    )
    # nullif(n, 0) everywhere n divides: an empty cohort has n = 0 with
    # a NULL numerator, and under whole-stage codegen ANSI division
    # checks the zero divisor BEFORE the null numerator -> job abort
    # (the interpreted path returns NULL - do not trust constant-folded
    # NULL/0 experiments)
    mean_d = F.col("s1") / F.nullif(F.col("n"), F.lit(0.0))
    # greatest(...,0): fp cancellation can push the raw moment
    # difference a few ulps NEGATIVE — Spark's sqrt would yield NaN,
    # DuckDB's sqrt raises Out of Range
    var_d = F.greatest(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.nullif(F.col("n"), F.lit(0.0)))
        / F.nullif(F.col("n") - 1, F.lit(0.0)),
        F.lit(0.0),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.round(mean_d, 6).alias("mean_diff"),
        F.round(
            mean_d
            / F.nullif(
                F.sqrt(var_d / F.nullif(F.col("n"), F.lit(0.0))), F.lit(0.0)
            ),
            6,
        ).alias("t_stat"),
    )


@query(
    "wl_cusum",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, CAST(count(*) AS DOUBLE) AS y
  FROM events WHERE ts IS NOT NULL GROUP BY 1),
m AS (SELECT avg(y) AS mu FROM daily),
dev AS (SELECT d, y, y - m.mu AS dev FROM daily, m),
c AS (
  SELECT d, y,
         sum(dev) OVER (ORDER BY d) AS cusum
  FROM dev)
SELECT CAST(d AS VARCHAR) AS day, CAST(y AS BIGINT) AS n_events,
       round(cusum, 6) + 0.0 AS cusum,  -- +0.0 folds -0.0 into 0.0
       CASE WHEN abs(cusum) = (SELECT max(abs(cusum)) FROM c) THEN 1 ELSE 0 END
         AS is_changepoint
FROM c
""",
)
def wl_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint localization: the cumulative sum of
    deviations from the series mean peaks (in absolute value) at the
    most likely level-shift point — the classic offline changepoint
    estimator, flagged inline per day. Runs entirely on the BOUNDED
    daily aggregate (one scan to days, one broadcast mean, one
    running-sum window); the peak flag is a second bounded pass. The
    online sibling with reset-at-zero and a decision threshold keeps
    the identical relational shape."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("y")
    )
    # NULL timestamps have no place on the time axis, and their sort
    # position diverges across engines (Spark NULLS FIRST, DuckDB
    # LAST) — which would shift the whole cumulative prefix. Drop
    # them explicitly on both sides (oracle: WHERE ts IS NOT NULL).
    daily = daily.filter(F.col("d").isNotNull())
    m = daily.agg(F.avg("y").alias("mu"))
    c = daily.join(F.broadcast(m)).select(
        "d",
        "y",
        F.sum(F.col("y") - F.col("mu")).over(W.orderBy("d")).alias("cusum"),
    )
    mx = c.agg(F.max(F.abs(F.col("cusum"))).alias("peak"))
    return c.join(F.broadcast(mx)).select(
        F.col("d").cast("string").alias("day"),
        F.col("y").cast("bigint").alias("n_events"),
        (F.round("cusum", 6) + 0.0).alias("cusum"),
        F.when(F.abs(F.col("cusum")) == F.col("peak"), 1).otherwise(0).alias(
            "is_changepoint"
        ),
    )


@query(
    "wl_control_chart",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, CAST(count(*) AS DOUBLE) AS y
  FROM events WHERE ts IS NOT NULL GROUP BY 1),
mr AS (
  SELECT d, y, abs(y - lag(y) OVER (ORDER BY d)) AS rng
  FROM daily),
lim AS (
  SELECT avg(y) AS center, 2.66 * avg(rng) AS spread
  FROM mr)
SELECT CAST(mr.d AS VARCHAR) AS day, CAST(mr.y AS BIGINT) AS n_events,
       round(lim.center, 6) AS center,
       round(lim.center - lim.spread, 6) AS lcl,
       round(lim.center + lim.spread, 6) AS ucl,
       CASE WHEN mr.y > lim.center + lim.spread
              OR mr.y < lim.center - lim.spread THEN 1 ELSE 0 END AS out_of_control
FROM mr, lim
""",
)
def wl_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-mR CONTROL CHART (individuals chart): center line at the
    series mean, control limits at ±2.66 × average moving range — the
    Shewhart SPC rule that separates common-cause noise from special-
    cause signals without assuming any distribution. The moving range
    is one lag over the bounded daily axis; limits are a broadcast
    1-row aggregate; the violation flag is row-local. The operational
    sibling of wl_anomaly_zscore (which needs a variance estimate
    this chart deliberately avoids).

    NULL timestamps are dropped on both engines (the time-axis NULL
    policy): a NULL day sorts FIRST under Spark's window order but
    LAST under DuckDB's, which SHIFTS the whole moving-range lag
    chain and changes avg(rng) — masked by symmetry at 2 daily rows
    (the null world), caught at 9+ rows (the combo world)."""
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("y")
    )
    mr = daily.select(
        "d", "y", F.abs(F.col("y") - F.lag("y").over(W.orderBy("d"))).alias("rng")
    )
    lim = mr.agg(
        F.avg("y").alias("center"), (2.66 * F.avg("rng")).alias("spread")
    )
    return mr.join(F.broadcast(lim)).select(
        F.col("d").cast("string").alias("day"),
        F.col("y").cast("bigint").alias("n_events"),
        F.round("center", 6).alias("center"),
        F.round(F.col("center") - F.col("spread"), 6).alias("lcl"),
        F.round(F.col("center") + F.col("spread"), 6).alias("ucl"),
        F.when(
            (F.col("y") > F.col("center") + F.col("spread"))
            | (F.col("y") < F.col("center") - F.col("spread")),
            1,
        )
        .otherwise(0)
        .alias("out_of_control"),
    )


@query(
    "wl_theil_sen",
    oracle="""
WITH daily AS (
  SELECT datediff('day', DATE '2024-01-01', CAST(date_trunc('day', ts) AS DATE)) AS t,
         CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1),
slopes AS (
  SELECT (b.y - a.y) / (b.t - a.t) AS s
  FROM daily a JOIN daily b ON a.t < b.t)
SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(median(s), 6) AS theil_sen_slope
FROM slopes
""",
)
def wl_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL–SEN robust trend: the median of all pairwise slopes over
    the daily series — up to ~29% contaminated points cannot move it,
    where wl_linear_forecast's OLS chases every outlier. The pairwise
    join is over the BOUNDED day axis (n days → n²/2 slope pairs, a
    few hundred rows), so 'robust regression over 100 TB of events'
    costs one daily rollup plus arithmetic on a tiny relation — the
    bounded-axis discipline doing statistical heavy lifting. Slopes
    are exact integer ratios; the median interpolates identically
    cross-engine."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.date_trunc("day", "ts"), F.lit("2024-01-01").cast("date")).alias("t")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(b, F.col("a.t") < F.col("b.t")).select(
        ((F.col("b.y") - F.col("a.y")) / (F.col("b.t") - F.col("a.t"))).alias("s")
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return slopes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.percentile("s", F.lit(0.5)), 6).alias("theil_sen_slope"),
    ).join(F.broadcast(n_days)).select("n_days", "n_pairs", "theil_sen_slope")


@query(
    "wl_anova_seasonality",
    oracle="""
WITH x AS (
  SELECT isodow(ts) * 100 + hour(ts) AS cell, value FROM events),
cells AS (
  SELECT cell, CAST(count(*) AS DOUBLE) AS n, sum(value) AS s,
         sum(value * value) AS s2
  FROM x GROUP BY cell),
tot AS (
  SELECT sum(n) AS nt, sum(s) AS st, sum(s2) AS s2t,
         sum(s * s / n) AS sum_group_sq
  FROM cells)
SELECT CAST(nt AS BIGINT) AS n_obs,
       CAST((SELECT count(*) FROM cells) AS BIGINT) AS n_cells,
       round((sum_group_sq - st * st / nt)
             / (CASE WHEN abs(s2t - st * st / nt) <= 1e-9 * abs(s2t)
                     THEN NULL ELSE s2t - st * st / nt END), 6) + 0.0 AS eta_sq
FROM tot
""",
)
def wl_anova_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA variance decomposition: η² = SS_between/SS_total
    for the 168-cell hour-of-week grouping of event values — 'how much
    of the metric's variance is just seasonality', the number that
    decides whether wl_hour_heatmap's profile is signal or decoration
    (and how much wl_anomaly_zscore should deseasonalize first). Both
    sums of squares derive from per-cell (n, Σx, Σx²) — one
    partial-aggregating pass, mergeable state, identical algebra both
    engines."""
    ev = load(spark, sf_dir, "events")
    x = ev.select(
        ((F.weekday("ts") + 1) * 100 + F.hour("ts")).alias("cell"), "value"
    )
    cells = x.groupBy("cell").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("value").alias("s"),
        F.sum(F.col("value") * F.col("value")).alias("s2"),
    )
    tot = cells.agg(
        F.sum("n").alias("nt"),
        F.sum("s").alias("st"),
        F.sum("s2").alias("s2t"),
        F.sum(F.col("s") * F.col("s") / F.col("n")).alias("sum_group_sq"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
    )
    ssb = F.col("sum_group_sq") - F.col("st") * F.col("st") / F.col("nt")
    sst = F.col("s2t") - F.col("st") * F.col("st") / F.col("nt")
    # near-constant values make SS_total ~0: eta_sq is undefined. The
    # cancellation form s2t - st²/nt can land at exactly 0.0 on one
    # engine and a ~1e-12 residual on the other (summation order), so
    # the undefined test is a RELATIVE tolerance against s2t applied
    # identically on both sides — not an exact nullif.
    sst_safe = F.when(F.abs(sst) <= 1e-9 * F.abs(F.col("s2t")), None).otherwise(
        sst
    )
    return tot.select(
        F.col("nt").cast("bigint").alias("n_obs"),
        "n_cells",
        (F.round(ssb / sst_safe, 6) + 0.0).alias("eta_sq"),
    )


@query(
    "wl_simpson_check",
    oracle="""
WITH x AS (
  SELECT o_orderpriority AS grp,
         CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS DOUBLE)
           AS t,
         o_totalprice AS y
  FROM orders WHERE isfinite(o_totalprice)),
pooled AS (SELECT regr_slope(y, t) AS slope FROM x),
per_grp AS (
  SELECT grp, regr_slope(y, t) AS gslope, CAST(count(*) AS BIGINT) AS n
  FROM x GROUP BY grp)
SELECT g.grp, g.n,
       round(g.gslope, 6) + 0.0 AS group_slope,
       round(p.slope, 6) + 0.0 AS pooled_slope,
       CASE WHEN sign(round(g.gslope, 6)) <> sign(round(p.slope, 6))
            THEN 1 ELSE 0 END AS sign_flip
FROM per_grp g, pooled p
""",
)
def wl_simpson_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMPSON'S-PARADOX detector: the pooled trend of order value
    over time next to each segment's own trend, flagging sign flips —
    the aggregation-bias trap every dashboard metric is one GROUP BY
    away from. Both regressions are the REGR_* moment machinery (one
    pooled pass, one grouped pass); a flagged row means the pooled
    line is answering a different question than the segments, and any
    downstream narrative needs the stratified number.

    Non-finite prices are filtered on both engines (the finite()
    policy): one NaN y makes Spark's regr_slope NaN where DuckDB's
    returns NULL, and NaN's comparison semantics (NaN != 0.0 is TRUE
    in Spark, NULL <> 0 is NULL in SQL) then flip the sign_flip flag
    on one engine only (combo-2 catch — masked in the pure NaN world
    where EVERY slope degenerated the same way)."""
    o = load(spark, sf_dir, "orders").filter(finite("o_totalprice"))
    x = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("double")
        .alias("t"),
        F.col("o_totalprice").alias("y"),
    )
    pooled = x.agg(F.regr_slope("y", "t").alias("slope"))
    per_grp = x.groupBy("grp").agg(
        F.regr_slope("y", "t").alias("gslope"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return per_grp.join(F.broadcast(pooled)).select(
        "grp",
        "n",
        rnd("gslope", 6).alias("group_slope"),
        rnd("slope", 6).alias("pooled_slope"),
        # flag on ROUNDED slopes (multi-file scatter world, r10): a
        # near-flat group's raw-slope residue SIGN follows file read
        # order, so signum on the raw value would flip the flag
        # nondeterministically; ±0.0 compare equal after the round
        F.when(
            F.signum(F.round("gslope", 6)) != F.signum(F.round("slope", 6)), 1
        ).otherwise(0).alias("sign_flip"),
    )


@query(
    "wl_poisson_bootstrap",
    oracle="""
WITH reps AS (SELECT unnest(range(0, 10)) AS r),
w AS (
  SELECT r.r, o.o_totalprice AS y,
         CASE WHEN u < 0.367879 THEN 0
              WHEN u < 0.735759 THEN 1
              WHEN u < 0.919699 THEN 2
              WHEN u < 0.981012 THEN 3
              ELSE 4 END AS wt
  FROM (SELECT o_orderkey, o_totalprice,
               ((CAST(('0x' || substring(md5('bs' || CAST(r2.r AS VARCHAR) || ':'
                       || CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
                 % 1000000) + 0.5) / 1000001.0 AS u, r2.r
        FROM orders CROSS JOIN (SELECT unnest(range(0, 10)) AS r) r2
        WHERE isfinite(o_totalprice)) o
  JOIN reps r ON r.r = o.r),
means AS (
  SELECT r, CASE WHEN sum(wt) > 0 THEN sum(wt * y) / sum(wt) END AS m
  FROM w GROUP BY r)
SELECT CAST(count(m) AS BIGINT) AS n_replicates,
       round(avg(m), 4) AS boot_mean,
       round(stddev_samp(m), 4) AS boot_se
FROM means
""",
)
def wl_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON BOOTSTRAP standard error — the resampling method that
    actually works distributed: instead of drawing n rows with
    replacement (needs global coordination), every row draws an
    independent Poisson(1) weight per replicate, and replicate
    statistics are weighted aggregates. 10 replicates of the mean
    order value → SE from the replicate spread. Weights come from a
    DETERMINISTIC md5 uniform through the λ=1 inverse CDF (0.3679 /
    0.7358 / 0.9197 / 0.9810 steps), so the whole inference is
    oracle-checkable; production swaps a per-run seed. Cost: one
    10×-explode scan + bounded aggregates — no shuffle carries raw
    rows twice. Non-finite and NULL totals are dropped on both
    engines: one NaN or inf makes a replicate mean non-finite, and
    DuckDB's ``stddev_samp`` then aborts (out of range) where Spark
    returns NaN."""
    o = load(spark, sf_dir, "orders").filter(finite("o_totalprice"))
    reps = spark.range(0, 10).select(F.col("id").cast("int").alias("r"))
    u = md5_uniform("'bs'", "r", "':'", "o_orderkey")
    w = (
        o.crossJoin(F.broadcast(reps))
        .select(
            "r",
            F.col("o_totalprice").alias("y"),
            F.when(u < 0.367879, 0)
            .when(u < 0.735759, 1)
            .when(u < 0.919699, 2)
            .when(u < 0.981012, 3)
            .otherwise(4)
            .alias("wt"),
        )
    )
    # A replicate whose Poisson weights all drew 0 has no resampled rows:
    # its mean is undefined (NULL on both engines), and k counts only the
    # defined replicates — guarding the ANSI DIVIDE_BY_ZERO the degenerate
    # -corpus fuzz caught (all-zero-weight replicates are near-certain for
    # tiny corpora and possible for a pathological partition at scale).
    means = w.groupBy("r").agg(
        F.when(
            F.sum("wt") > 0, F.sum(F.col("wt") * F.col("y")) / F.sum("wt")
        ).alias("m")
    )
    # SE via the engines' Welford-based stddev_samp, NOT the textbook
    # sum-of-squares form (r12 property-fuzz catch): when every
    # replicate mean is IDENTICAL (a 1-row corpus — each m is exactly
    # y), `s2 - s1²/k` is catastrophic cancellation whose ±few-ulp
    # residue is ulp(y²)-scale, and sqrt of that rounds to 1e-4-scale
    # garbage that depends on SUMMATION ORDER — DuckDB's morsel
    # scheduling made the oracle nondeterministically emit 0.0003 vs
    # 0.0 for the same input. Welford keeps (x − mean) differences:
    # exact 0.0 for identical values in ANY order on both engines, and
    # far tighter rounding for real spreads. k = 0 → NULL mean/se,
    # k = 1 → NULL se, matching the old nullif semantics; values on
    # the canonical corpora verified identical to the old formula.
    return means.agg(
        F.count("m").cast("bigint").alias("n_replicates"),
        F.round(F.avg("m"), 4).alias("boot_mean"),
        F.round(F.stddev_samp("m"), 4).alias("boot_se"),
    )


@query(
    "wl_winsorized_mean",
    oracle="""
WITH q AS (
  SELECT l_returnflag AS flag,
         quantile_cont(l_extendedprice, 0.05) AS p5,
         quantile_cont(l_extendedprice, 0.95) AS p95
  FROM lineitem WHERE isfinite(l_extendedprice) GROUP BY 1)
SELECT li.l_returnflag AS flag,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(li.l_extendedprice), 4) + 0.0 AS raw_mean,
       round(avg(CASE WHEN li.l_extendedprice < q.p5 THEN q.p5
                      WHEN li.l_extendedprice > q.p95 THEN q.p95
                      ELSE li.l_extendedprice END), 4) + 0.0 AS winsorized_mean
FROM (SELECT * FROM lineitem WHERE isfinite(l_extendedprice)) li
JOIN q ON li.l_returnflag = q.flag
GROUP BY li.l_returnflag
""",
)
def wl_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINSORIZED mean per group: values clamped to the [p5, p95]
    band before averaging — the outlier-robust estimator that keeps
    every row (unlike trimming) and reports next to the raw mean so
    the tail influence is visible. Same two-pass shape as
    wl_iqr_outliers: bounded per-group quantiles broadcast back, one
    clamp-and-average pass over the fact. Non-finite prices filtered
    on both engines (DuckDB's NaN-mixed quantile race; see
    wl_iqr_outliers)."""
    li = load(spark, sf_dir, "lineitem").filter(finite("l_extendedprice"))
    q = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.percentile("l_extendedprice", F.lit(0.05)).alias("p5"),
        F.percentile("l_extendedprice", F.lit(0.95)).alias("p95"),
    )
    clamped = (
        F.when(F.col("l_extendedprice") < F.col("p5"), F.col("p5"))
        .when(F.col("l_extendedprice") > F.col("p95"), F.col("p95"))
        .otherwise(F.col("l_extendedprice"))
    )
    return (
        li.join(F.broadcast(q), li.l_returnflag == q.flag)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            # rnd(): symmetric +/-price groups winsorize to a ~1e-14
            # residue whose round lands on -0.0 in DuckDB, +0.0 here
            rnd(F.avg("l_extendedprice"), 4).alias("raw_mean"),
            rnd(F.avg(clamped), 4).alias("winsorized_mean"),
        )
        .withColumnRenamed("l_returnflag", "flag")
    )


@query(
    "wl_effective_sample_size",
    oracle="""
WITH w AS (SELECT o_orderpriority AS grp, o_totalprice AS wt FROM orders)
SELECT grp, CAST(count(*) AS BIGINT) AS n,
       round(sum(wt) * sum(wt) / nullif(sum(wt * wt), 0) / count(*), 6) AS ess_ratio,
       round(sum(wt) * sum(wt) / nullif(sum(wt * wt), 0), 6) AS ess
FROM w GROUP BY grp
""",
)
def wl_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EFFECTIVE SAMPLE SIZE of a weighted population, Kish's
    n_eff = (Σw)²/Σw² — the number that says how much statistical
    power a weighted estimate (importance sampling, wl_domain_mix
    reweighting, survey weights) actually retains: ess_ratio near 1
    means weights are benign, a small ratio means a few heavy rows
    dominate and every CI should be widened accordingly. One
    partial-aggregating pass per group, exact algebra."""
    o = load(spark, sf_dir, "orders")
    w = o.select(F.col("o_orderpriority").alias("grp"), F.col("o_totalprice").alias("wt"))
    return w.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.sum("wt") * F.sum("wt")
            / F.nullif(F.sum(F.col("wt") * F.col("wt")), F.lit(0.0))
            / F.count(F.lit(1)),
            6,
        ).alias("ess_ratio"),
        F.round(
            F.sum("wt") * F.sum("wt")
            / F.nullif(F.sum(F.col("wt") * F.col("wt")), F.lit(0.0)),
            6,
        ).alias("ess"),
    )


@query(
    "wl_theil_index",
    oracle="""
WITH x AS (SELECT o_orderpriority AS grp, o_totalprice AS y FROM orders),
m AS (SELECT grp, CAST(count(*) AS DOUBLE) AS n, avg(y) AS mu,
             coalesce(avg(abs(y)), 0.0) AS abs_mu
      FROM x GROUP BY grp)
SELECT x.grp, CAST(m.n AS BIGINT) AS n,
       CASE WHEN max(CASE WHEN x.y > 0 THEN 1 ELSE 0 END) = 1
                 AND NOT (m.mu > 1e-9 * m.abs_mu)
            THEN NULL
            ELSE round(sum(CASE WHEN x.y > 0 AND m.mu > 1e-9 * m.abs_mu
                           THEN (x.y / (m.n * m.mu)) * ln(x.y / m.mu)
                           ELSE 0 END), 6) + 0.0 END AS theil_t
FROM x JOIN m ON x.grp = m.grp
GROUP BY x.grp, m.n, m.mu, m.abs_mu
""",
)
def wl_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL T inequality index per group — the entropy-based
    concentration measure that, unlike wl_gini's rank-based
    coefficient, DECOMPOSES additively into within-group +
    between-group inequality (the property economists and capacity
    planners exploit). Per-group mean broadcasts back; the index is
    one ln-weighted sum over the fact — no sorting, no ranks, which
    is also why it scales more gracefully than Gini's two-pass rank."""
    o = load(spark, sf_dir, "orders")
    x = o.select(F.col("o_orderpriority").alias("grp"), F.col("o_totalprice").alias("y"))
    m = x.groupBy("grp").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("y").alias("mu"),
        F.coalesce(F.avg(F.abs("y")), F.lit(0.0)).alias("abs_mu"),
    )
    # 0·ln(0) = 0 by the limit convention, applied as an explicit CASE
    # on both engines: a bare y/mu would abort on an all-zero group
    # (mu = 0 ⇒ DIVIDE_BY_ZERO) and DIVERGE on a single zero row
    # (Spark ln(0) = NULL is skipped by sum; DuckDB ln(0) = -inf
    # poisons it). Zero-value rows contribute 0 inequality; an
    # all-zero group reports theil_t = 0.
    #
    # Theil T is only DEFINED for a positive mean, and the positivity
    # test must be flatness-aware (mu > 1e-9 · avg|y|, the relative-ε
    # pattern): a group whose values CANCEL (+1000.1 / −1000.1) has
    # mu exactly 0 on one engine and a residue on the other — the
    # bare form aborts Spark with DIVIDE_BY_ZERO and DuckDB with
    # ln(negative) (flat-world catch). A group holding positives but
    # a non-positive mean reports theil_t = NULL identically.
    mu_pos = F.col("mu") > 1e-9 * F.col("abs_mu")
    term = F.when(
        (F.col("y") > 0) & mu_pos,
        (F.col("y") / (F.col("n") * F.col("mu")))
        * F.log(F.col("y") / F.col("mu")),
    ).otherwise(0.0)
    has_pos = F.max(F.when(F.col("y") > 0, 1).otherwise(0))
    return (
        x.join(F.broadcast(m), "grp")
        .groupBy("grp", "n", "mu", "abs_mu")
        .agg(
            # rnd() not bare round: Theil T is mathematically >= 0,
            # but a tiny negative FP residue of the sum would round
            # to −0.0 on DuckDB and +0.0 on Spark (ADVICE r8) — the
            # same signed-zero class rnd() closes everywhere else.
            rnd(F.sum(term), 6).alias("t_sum"),
            has_pos.alias("has_pos"),
        )
        .select(
            "grp",
            F.col("n").cast("bigint").alias("n"),
            F.when(
                (F.col("has_pos") == 1) & ~mu_pos, F.lit(None).cast("double")
            )
            .otherwise(F.col("t_sum"))
            .alias("theil_t"),
        )
    )


@query(
    "wl_holt_smoothing",
    oracle="""
WITH RECURSIVE daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, CAST(count(*) AS DOUBLE) AS y
  FROM events WHERE ts IS NOT NULL GROUP BY 1),
days AS (SELECT row_number() OVER (ORDER BY d) AS i, y FROM daily),
holt AS (
  SELECT 1 AS i, (SELECT y FROM days WHERE i = 1) AS l, CAST(0.0 AS DOUBLE) AS b
  UNION ALL
  SELECT d.i,
         0.5 * d.y + 0.5 * (h.l + h.b),
         0.3 * (0.5 * d.y + 0.5 * (h.l + h.b) - h.l) + 0.7 * h.b
  FROM holt h JOIN days d ON d.i = h.i + 1)
SELECT CAST((SELECT max(i) FROM days) AS BIGINT) AS n_days,
       round(l, 6) AS level, round(b, 6) AS trend,
       round(l + b, 6) AS forecast_1d,
       round(l + 7 * b, 6) AS forecast_7d
FROM holt WHERE i = (SELECT max(i) FROM days)
""",
)
def wl_holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT double exponential smoothing (level + trend, α=0.5,
    β=0.3) over the daily series, with 1-day and 7-day forecasts —
    the adaptive forecaster between wl_linear_forecast's global OLS
    and win_ewma's level-only recurrence. The two-state recurrence is
    a JVM higher-order FOLD with a struct accumulator over the
    time-ordered bounded array (the win_ewma pattern, one state
    richer); both engines execute the identical left-to-right float
    sequence, so level, trend, and forecasts agree bit-for-bit."""
    ev = load(spark, sf_dir, "events")
    # NULL timestamps are dropped on both sides: a NULL day sorts
    # FIRST in Spark's sort_array but LAST under DuckDB's ORDER BY,
    # which would anchor the recurrence on a different observation
    daily = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )
    series = daily.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("d", "y"))), lambda s: s.y
        ).alias("ys"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )

    def step(a, c):
        new_l = 0.5 * c + 0.5 * (a.l + a.b)
        return F.struct(
            new_l.alias("l"), (0.3 * (new_l - a.l) + 0.7 * a.b).alias("b")
        )

    st = F.aggregate(
        F.slice(F.col("ys"), 2, F.greatest(F.size("ys") - 1, F.lit(0))),
        F.struct(
            F.try_element_at(F.col("ys"), F.lit(1)).alias("l"),
            F.lit(0.0).alias("b"),
        ),
        step,
    )
    # n > 0 first: an empty series has no level to anchor (ANSI
    # element_at would abort on ys = []), and the oracle's recursive
    # anchor row is filtered out by its max(i) = NULL comparison, so
    # BOTH engines return zero rows on empty input
    fitted = series.filter(F.col("n") > 0).select("n", st.alias("st"))
    return fitted.select(
        F.col("n").alias("n_days"),
        F.round(F.col("st.l"), 6).alias("level"),
        F.round(F.col("st.b"), 6).alias("trend"),
        F.round(F.col("st.l") + F.col("st.b"), 6).alias("forecast_1d"),
        F.round(F.col("st.l") + 7 * F.col("st.b"), 6).alias("forecast_7d"),
    )


@query(
    "wl_abc_analysis",
    oracle="""
WITH rev AS (
  SELECT l_returnflag AS flag, l_partkey AS part,
         round(sum(l_extendedprice), 2) AS revenue
  FROM lineitem GROUP BY 1, 2),
ranked AS (
  SELECT flag, part, revenue,
         sum(revenue) OVER (PARTITION BY flag
                            ORDER BY revenue DESC, part) AS cum_rev,
         sum(revenue) OVER (PARTITION BY flag) AS tot_rev
  FROM rev),
classed AS (
  SELECT flag,
         CASE WHEN cum_rev <= 0.8 * tot_rev THEN 'A'
              WHEN cum_rev <= 0.95 * tot_rev THEN 'B'
              ELSE 'C' END AS abc_class,
         revenue
  FROM ranked)
SELECT flag, abc_class, CAST(count(*) AS BIGINT) AS n_parts,
       round(sum(revenue), 2) AS class_revenue
FROM classed GROUP BY flag, abc_class
""",
)
def wl_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC CLASSIFICATION: parts bucketed per group into A (first 80%
    of cumulative revenue), B (to 95%), C (tail) — the inventory-
    management Pareto cut that decides stocking policy per item class.
    The cumulative share runs over per-(flag, part) AGGREGATED revenue
    (never raw lines) ordered deterministically; revenue is rounded
    BEFORE accumulating so class boundaries are knife-edge-free
    cross-engine. At part-dimension scale the per-flag window becomes
    ml_eval_auc's two-pass range rank — same cut logic."""
    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy(
        F.col("l_returnflag").alias("flag"), F.col("l_partkey").alias("part")
    ).agg(F.round(F.sum("l_extendedprice"), 2).alias("revenue"))
    wflag = W.partitionBy("flag")
    ranked = rev.select(
        "flag",
        "revenue",
        F.sum("revenue")
        .over(wflag.orderBy(F.col("revenue").desc(), "part"))
        .alias("cum_rev"),
        F.sum("revenue").over(wflag).alias("tot_rev"),
    )
    classed = ranked.select(
        "flag",
        F.when(F.col("cum_rev") <= 0.8 * F.col("tot_rev"), "A")
        .when(F.col("cum_rev") <= 0.95 * F.col("tot_rev"), "B")
        .otherwise("C")
        .alias("abc_class"),
        "revenue",
    )
    return classed.groupBy("flag", "abc_class").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.round(F.sum("revenue"), 2).alias("class_revenue"),
    )


@query(
    "wl_interval_union",
    oracle="""
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e
  FROM events),
mx AS (
  SELECT user_id, s, e,
         max(e) OVER (PARTITION BY user_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM iv),
isl AS (
  SELECT user_id, s, e,
         sum(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY s, e) AS island
  FROM mx),
merged AS (
  SELECT user_id, island, min(s) AS ms, max(e) AS me
  FROM isl GROUP BY user_id, island)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_busy_periods,
       CAST(sum(me - ms) // 60000000 AS BIGINT) AS busy_minutes
FROM merged GROUP BY user_id
""",
)
def wl_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL UNION (overlap merge): each event opens a 5-minute
    activity window; overlapping windows merge into busy periods and
    total busy time is reported per user — the time-coverage question
    (billing, utilization, SLA uptime) that wl_concurrency's
    sweep-line answers for PEAK and this answers for AREA. The classic
    algorithm relationally: a running max of interval ends flags
    island starts (gaps-and-islands, win_gaps_islands' trick on
    continuous time), islands collapse with min/max — two windows +
    one aggregate, all inside user partitions."""
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = ev.select("user_id", us.alias("s"), (us + 300000000).alias("e"))
    w = W.partitionBy("user_id").orderBy("s", "e")
    mx = iv.select(
        "user_id",
        "s",
        "e",
        F.max("e").over(w.rowsBetween(W.unboundedPreceding, -1)).alias("prev_max"),
    )
    isl = mx.select(
        "user_id",
        "s",
        "e",
        F.sum(
            F.when(F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max")), 1)
            .otherwise(0)
        )
        .over(w)
        .alias("island"),
    )
    merged = isl.groupBy("user_id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_busy_periods"),
        F.floor(F.sum(F.col("me") - F.col("ms")) / 60000000)
        .cast("bigint")
        .alias("busy_minutes"),
    )


@query(
    "wl_wilson_ci",
    oracle="""
WITH x AS (
  SELECT source,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CASE WHEN n_chars >= 64 THEN 1 ELSE 0 END) AS DOUBLE) AS k
  FROM documents GROUP BY source),
w AS (
  SELECT source, n, k, k / n AS p, 1.959964 AS z FROM x)
SELECT source, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
       round(p, 6) AS rate,
       round((p + z * z / (2 * n) - z * sqrt(p * (1 - p) / n + z * z / (4 * n * n)))
             / (1 + z * z / n), 6) + 0.0 AS wilson_lo,
       round((p + z * z / (2 * n) + z * sqrt(p * (1 - p) / n + z * z / (4 * n * n)))
             / (1 + z * z / n), 6) + 0.0 AS wilson_hi
FROM w
""",
)
def wl_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WILSON score interval for per-source pass rates — the binomial
    CI that stays sane at small n and extreme rates where the naive
    normal interval leaks outside [0, 1] (the right uncertainty bars
    for wl_hygiene_attribution's rates and any per-segment conversion
    dashboard). Closed-form from one conditional-count pass; identical
    expression trees both engines."""
    d = load(spark, sf_dir, "documents")
    x = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.when(F.col("n_chars") >= 64, 1).otherwise(0)).cast("double").alias("k"),
    )
    p = F.col("k") / F.col("n")
    z = F.lit(1.959964)
    half = z * F.sqrt(p * (1 - p) / F.col("n") + z * z / (4 * F.col("n") * F.col("n")))
    center = p + z * z / (2 * F.col("n"))
    denom = 1 + z * z / F.col("n")
    return x.select(
        "source",
        F.col("n").cast("bigint").alias("n"),
        F.col("k").cast("bigint").alias("k"),
        F.round(p, 6).alias("rate"),
        # + 0.0: at k=0 the lower bound cancels to ±0 within an ulp —
        # DuckDB's round keeps IEEE -0.0 where Spark's yields 0.0
        (F.round((center - half) / denom, 6) + 0.0).alias("wilson_lo"),
        (F.round((center + half) / denom, 6) + 0.0).alias("wilson_hi"),
    )


@query(
    "wl_autocorrelation",
    oracle="""
WITH daily AS (
  SELECT datediff('day', DATE '2024-01-01', CAST(date_trunc('day', ts) AS DATE)) AS t,
         CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1),
m AS (SELECT avg(y) AS mu, sum((y - (SELECT avg(y) FROM daily))
                              * (y - (SELECT avg(y) FROM daily))) AS ss
      FROM daily),
lags AS (SELECT unnest(range(1, 8)) AS k),
pairs AS (
  SELECT l.k, (a.y - m.mu) * (b.y - m.mu) AS prod
  FROM lags l
  JOIN daily a ON true
  JOIN daily b ON b.t = a.t + l.k, m)
SELECT k AS lag, round(sum(prod) / nullif(max(m.ss), 0), 6) + 0.0 AS acf
FROM pairs, m GROUP BY k
""",
)
def wl_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTOCORRELATION function at lags 1–7 over the daily series —
    the time-series diagnostic that exposes weekly cycles (spike at
    lag 7) and decides whether wl_linear_forecast's independence
    assumption even holds. Lagged pairs come from a self-join ON THE
    BOUNDED DAY AXIS shifted by each lag (days × 7 rows total), the
    mean and denominator from one broadcast moment pass — raw events
    are touched exactly once."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.date_trunc("day", "ts"), F.lit("2024-01-01").cast("date")).alias("t")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    mu_df = daily.agg(F.avg("y").alias("mu"))
    m = daily.join(F.broadcast(mu_df)).agg(
        F.max("mu").alias("mu"),
        F.sum((F.col("y") - F.col("mu")) * (F.col("y") - F.col("mu"))).alias("ss"),
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("k"))
    a = daily.select(F.col("t").alias("ta"), F.col("y").alias("ya"))
    b = daily.select(F.col("t").alias("tb"), F.col("y").alias("yb"))
    pairs = (
        lags.crossJoin(a)
        .join(b, F.col("tb") == F.col("ta") + F.col("k"))
        .join(F.broadcast(m))
        .select(
            "k",
            ((F.col("ya") - F.col("mu")) * (F.col("yb") - F.col("mu"))).alias("prod"),
            "ss",
        )
    )
    # ss = 0 on a constant (or single-day) series: ACF is undefined —
    # NULL on both engines (nullif in the oracle) instead of an ANSI
    # DIVIDE_BY_ZERO job abort; + 0.0 folds IEEE -0.0 like wl_wilson_ci.
    return pairs.groupBy(F.col("k").alias("lag")).agg(
        (
            F.round(
                F.sum("prod") / F.when(F.max("ss") > 0, F.max("ss")), 6
            )
            + 0.0
        ).alias("acf")
    )


@query(
    "wl_periodogram",
    oracle="""
WITH daily AS (
  SELECT datediff('day', DATE '2024-01-01', CAST(date_trunc('day', ts) AS DATE)) AS t,
         CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(y) AS mu FROM daily),
freqs AS (SELECT unnest(range(1, 11)) AS k),
terms AS (
  SELECT f.k,
         sum((d.y - n.mu) * cos(2 * pi() * f.k * d.t / n.n)) AS c,
         sum((d.y - n.mu) * sin(2 * pi() * f.k * d.t / n.n)) AS s
  FROM freqs f CROSS JOIN daily d, n
  GROUP BY f.k, n.n)
SELECT k AS freq_index,
       round((c * c + s * s) / (SELECT n FROM n), 6) AS power
FROM terms
""",
)
def wl_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERIODOGRAM (discrete Fourier power spectrum) of the
    mean-centered daily series at the first 10 frequencies — spectral
    periodicity detection (a ~weekly cycle peaks near k = n/7) that
    wl_autocorrelation sees in the time domain. The transform is a
    |freqs| × |days| cross of two BOUNDED relations with cos/sin
    projections summed per frequency — an O(n·k) DFT as a hash
    aggregate; both engines evaluate the identical trig expression
    tree."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.date_trunc("day", "ts"), F.lit("2024-01-01").cast("date")).alias("t")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    n = daily.agg(F.count(F.lit(1)).cast("double").alias("n"), F.avg("y").alias("mu"))
    freqs = spark.range(1, 11).select(F.col("id").cast("int").alias("k"))
    ang = 2 * F.lit(3.141592653589793) * F.col("k") * F.col("t") / F.col("n")
    terms = (
        freqs.crossJoin(daily)
        .join(F.broadcast(n))
        .groupBy("k", "n")
        .agg(
            F.sum((F.col("y") - F.col("mu")) * F.cos(ang)).alias("c"),
            F.sum((F.col("y") - F.col("mu")) * F.sin(ang)).alias("s"),
        )
    )
    return terms.select(
        F.col("k").alias("freq_index"),
        F.round((F.col("c") * F.col("c") + F.col("s") * F.col("s")) / F.col("n"), 6).alias(
            "power"
        ),
    )


@query(
    "wl_hhi",
    oracle="""
WITH s AS (
  SELECT o_orderpriority AS market, o_custkey, sum(o_totalprice) AS spend
  FROM orders GROUP BY 1, 2),
t AS (SELECT market, sum(spend) AS tot, count(*) AS n_firms FROM s GROUP BY market)
SELECT s.market, CAST(max(t.n_firms) AS BIGINT) AS n_participants,
       round(sum((s.spend / nullif(t.tot, 0)) * (s.spend / nullif(t.tot, 0)))
             * 10000, 4) AS hhi
FROM s JOIN t ON s.market = t.market
GROUP BY s.market
""",
)
def wl_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HERFINDAHL–HIRSCHMAN concentration index per market: Σ(share²)
    × 10000 over participant spend shares — the antitrust/market-
    structure metric completing the inequality family (wl_gini ranks,
    wl_theil_index decomposes, HHI is what regulators threshold at
    1500/2500). Per-participant rollup first, totals broadcast back,
    one squared-share aggregate — no sorting anywhere."""
    o = load(spark, sf_dir, "orders")
    s = o.groupBy(
        F.col("o_orderpriority").alias("market"), "o_custkey"
    ).agg(F.sum("o_totalprice").alias("spend"))
    t = s.groupBy("market").agg(
        F.sum("spend").alias("tot"), F.count(F.lit(1)).alias("n_firms")
    )
    return (
        s.join(F.broadcast(t), "market")
        .groupBy("market")
        .agg(
            F.max("n_firms").cast("bigint").alias("n_participants"),
            # an all-zero-spend market has no shares: hhi is NULL via
            # nullif on both engines, never DIVIDE_BY_ZERO
            F.round(
                F.sum(
                    (F.col("spend") / F.nullif(F.col("tot"), F.lit(0.0)))
                    * (F.col("spend") / F.nullif(F.col("tot"), F.lit(0.0)))
                )
                * 10000,
                4,
            ).alias("hhi"),
        )
    )


@query(
    "wl_retention_half_life",
    oracle="""
WITH wk AS (
  SELECT DISTINCT user_id,
         datediff('week', DATE '2024-01-01', CAST(date_trunc('week', ts) AS DATE)) AS w
  FROM events),
cohort AS (SELECT user_id, min(w) AS w0 FROM wk GROUP BY user_id),
act AS (
  SELECT wk.w - c.w0 AS k, count(DISTINCT wk.user_id) AS active
  FROM wk JOIN cohort c ON wk.user_id = c.user_id
  GROUP BY 1),
base AS (SELECT active AS n0 FROM act WHERE k = 0),
curve AS (
  SELECT k, CAST(active AS DOUBLE) / base.n0 AS rate
  FROM act, base WHERE k >= 1 AND active > 0)
SELECT CAST(count(*) AS BIGINT) AS n_points,
       round(regr_slope(ln(rate), CAST(k AS DOUBLE)), 6) + 0.0 AS decay_slope,
       round(CASE WHEN round(regr_slope(ln(rate), CAST(k AS DOUBLE)), 6) < 0
                  THEN ln(2.0) / (-regr_slope(ln(rate), CAST(k AS DOUBLE)))
             END, 6) AS half_life_weeks
FROM curve
""",
)
def wl_retention_half_life(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention HALF-LIFE: fit ln(retention_k) ~ k over the weekly
    retention curve and convert the decay slope to ln2/|slope| weeks —
    the single number product teams quote from wl_retention's matrix
    ('half the cohort is gone every N weeks'). The curve itself is
    bounded (weeks since first activity); positive-slope (growing
    'retention' in a finite observation window) yields NULL rather
    than a nonsense negative half-life."""
    ev = load(spark, sf_dir, "events")
    wk = ev.select(
        "user_id",
        F.datediff(
            F.date_trunc("week", "ts"), F.lit("2024-01-01").cast("date")
        ).alias("wd"),
    ).select("user_id", F.expr("wd div 7").alias("w")).distinct()
    cohort = wk.groupBy("user_id").agg(F.min("w").alias("w0"))
    act = (
        wk.join(cohort, "user_id")
        .groupBy((F.col("w") - F.col("w0")).alias("k"))
        .agg(F.countDistinct("user_id").alias("active"))
    )
    base = act.filter(F.col("k") == 0).select(F.col("active").alias("n0"))
    curve = (
        act.filter((F.col("k") >= 1) & (F.col("active") > 0))
        .join(F.broadcast(base))
        .select("k", (F.col("active").cast("double") / F.col("n0")).alias("rate"))
    )
    slope = F.regr_slope(F.log("rate"), F.col("k").cast("double"))
    return curve.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        rnd(slope, 6).alias("decay_slope"),
        # gate on the ROUNDED slope (multi-file scatter world, r10): a
        # flat curve's raw-slope residue sign follows file read order,
        # and a −1e-16 residue would mint a ~7e15-week "half-life" on
        # one engine and NULL on the other
        F.round(
            F.when(F.round(slope, 6) < 0, F.log(F.lit(2.0)) / (-slope)), 6
        ).alias("half_life_weeks"),
    )


@query(
    "wl_eb_shrinkage",
    oracle="""
WITH s AS (
  SELECT source, CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CASE WHEN n_chars >= 64 THEN 1 ELSE 0 END) AS DOUBLE) AS k
  FROM documents GROUP BY source),
r AS (SELECT source, n, k, k / n AS rate FROM s),
mom AS (
  SELECT avg(rate) AS mu,
         sum((rate - (SELECT avg(rate) FROM r)) * (rate - (SELECT avg(rate) FROM r)))
           / nullif(count(*) - 1, 0) AS var
  FROM r),
prior AS (
  SELECT mu, var,
         mu * (mu * (1 - mu) / nullif(var, 0) - 1) AS alpha,
         (1 - mu) * (mu * (1 - mu) / nullif(var, 0) - 1) AS beta
  FROM mom)
SELECT r.source, CAST(r.n AS BIGINT) AS n,
       round(r.rate, 6) AS raw_rate,
       round((r.k + p.alpha) / (r.n + p.alpha + p.beta), 6) AS shrunk_rate
FROM r, prior p
""",
)
def wl_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMPIRICAL-BAYES shrinkage of per-source pass rates toward the
    population: a Beta prior fit by method of moments from the
    observed rate spread, then each source's rate becomes
    (k+α)/(n+α+β) — the ranking fix that stops a 3-document source
    with 100% from topping every leaderboard (the uncertainty
    wl_wilson_ci quantifies, EB corrects). Two bounded passes over
    the per-source rollup; all algebra closed-form and identical
    cross-engine."""
    d = load(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.when(F.col("n_chars") >= 64, 1).otherwise(0)).cast("double").alias("k"),
    )
    r = s.select("source", "n", "k", (F.col("k") / F.col("n")).alias("rate"))
    mu_df = r.agg(F.avg("rate").alias("mu"))
    mom = r.join(F.broadcast(mu_df)).agg(
        F.max("mu").alias("mu"),
        (
            F.sum((F.col("rate") - F.col("mu")) * (F.col("rate") - F.col("mu")))
            / F.nullif(F.count(F.lit(1)) - 1, F.lit(0))
        ).alias("var"),
    )
    # a single source (n-1 = 0) or zero rate spread has no moment
    # prior — NULL via nullif on both engines (ANSI would abort)
    prior = mom.select(
        (
            F.col("mu")
            * (F.col("mu") * (1 - F.col("mu")) / F.nullif(F.col("var"), F.lit(0.0)) - 1)
        ).alias("alpha"),
        (
            (1 - F.col("mu"))
            * (F.col("mu") * (1 - F.col("mu")) / F.nullif(F.col("var"), F.lit(0.0)) - 1)
        ).alias("beta"),
    )
    return r.join(F.broadcast(prior)).select(
        "source",
        F.col("n").cast("bigint").alias("n"),
        F.round("rate", 6).alias("raw_rate"),
        F.round(
            (F.col("k") + F.col("alpha")) / (F.col("n") + F.col("alpha") + F.col("beta")),
            6,
        ).alias("shrunk_rate"),
    )


@query(
    "wl_capture_recapture",
    oracle="""
WITH fp AS (SELECT DISTINCT source, md5(text) AS fp FROM documents
            WHERE text IS NOT NULL),
s1 AS (SELECT DISTINCT fp FROM fp WHERE source IN ('src0', 'src1', 'src2')),
s2 AS (SELECT DISTINCT fp FROM fp WHERE source IN ('src2', 'src3', 'src4')),
m AS (
  SELECT (SELECT count(*) FROM s1) AS n1,
         (SELECT count(*) FROM s2) AS n2,
         (SELECT count(*) FROM s1 WHERE fp IN (SELECT fp FROM s2)) AS overlap,
         (SELECT count(DISTINCT fp) FROM fp) AS observed_total)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       CAST(overlap AS BIGINT) AS overlap,
       CAST(observed_total AS BIGINT) AS observed_total,
       round(CAST(n1 AS DOUBLE) * n2 / greatest(overlap, 1), 4)
         AS lincoln_petersen_estimate
FROM m
""",
)
def wl_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPTURE–RECAPTURE (Lincoln–Petersen) population estimation:
    treat two feed groups as independent 'captures' of the underlying
    document universe; the overlap of content fingerprints estimates
    the total N̂ = n1·n2/m — how many distinct documents EXIST beyond
    what all feeds have shown (the cross-source sibling of
    txt_chao1_richness's within-corpus estimate, and the planning
    number for 'is another crawl worth it'). Fingerprint sets are
    linear scans; the overlap is one semi-join on md5 keys."""
    d = load(spark, sf_dir, "documents")
    # a NULL text has no fingerprint: drop it on both engines (the
    # oracle's count(DISTINCT fp) ignores NULL where Spark's
    # distinct().count() would keep the NULL row — off-by-one totals)
    fp = (
        d.filter(F.col("text").isNotNull())
        .select("source", F.md5("text").alias("fp"))
        .distinct()
    )
    s1 = fp.filter(F.col("source").isin("src0", "src1", "src2")).select("fp").distinct()
    s2 = fp.filter(F.col("source").isin("src2", "src3", "src4")).select("fp").distinct()
    n1 = s1.agg(F.count(F.lit(1)).alias("n1"))
    n2 = s2.agg(F.count(F.lit(1)).alias("n2"))
    ov = s1.join(s2, "fp", "left_semi").agg(F.count(F.lit(1)).alias("overlap"))
    tot = fp.select("fp").distinct().agg(F.count(F.lit(1)).alias("observed_total"))
    return (
        n1.join(F.broadcast(n2))
        .join(F.broadcast(ov))
        .join(F.broadcast(tot))
        .select(
            F.col("n1").cast("bigint").alias("n1"),
            F.col("n2").cast("bigint").alias("n2"),
            F.col("overlap").cast("bigint").alias("overlap"),
            F.col("observed_total").cast("bigint").alias("observed_total"),
            F.round(
                F.col("n1").cast("double")
                * F.col("n2")
                / F.greatest(F.col("overlap"), F.lit(1)),
                4,
            ).alias("lincoln_petersen_estimate"),
        )
    )


@query(
    "wl_seasonal_index",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1),
m AS (SELECT avg(y) AS mu FROM daily)
SELECT CAST(isodow(d) AS INTEGER) AS iso_dow,
       CAST(count(*) AS BIGINT) AS n_days,
       round(avg(y), 6) AS dow_mean,
       round(avg(y) / m.mu, 6) AS seasonal_index
FROM daily, m GROUP BY isodow(d), m.mu
""",
)
def wl_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical SEASONAL INDICES: each ISO weekday's mean daily
    volume as a ratio to the overall mean — the multiplicative
    decomposition factor (index 1.3 ⇒ that weekday runs 30% hot) that
    deseasonalizes before wl_linear_forecast/wl_holt_smoothing fit
    trend, and quantifies what wl_hour_heatmap only displays. Bounded
    aggregates end to end; indices average to ~1 by construction."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("y")
    )
    m = daily.agg(F.avg("y").alias("mu"))
    return (
        daily.join(F.broadcast(m))
        .groupBy((F.weekday("d") + 1).alias("iso_dow"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.round(F.avg("y"), 6).alias("dow_mean"),
            F.round(F.avg("y") / F.max("mu"), 6).alias("seasonal_index"),
        )
    )


@query(
    "wl_srm_check",
    oracle="""
WITH a AS (
  SELECT user_id % 2 AS variant, count(DISTINCT user_id) AS n
  FROM events GROUP BY 1),
t AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM a)
SELECT CAST(sum(CASE WHEN variant = 0 THEN n END) AS BIGINT) AS n_control,
       CAST(sum(CASE WHEN variant = 1 THEN n END) AS BIGINT) AS n_treatment,
       round(sum((n - t.tot / 2) * (n - t.tot / 2) / (t.tot / 2)), 6) AS chi_sq,
       CASE WHEN sum((n - t.tot / 2) * (n - t.tot / 2) / (t.tot / 2)) > 3.841459
            THEN 1 ELSE 0 END AS srm_alarm
FROM a, t GROUP BY t.tot
""",
)
def wl_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE-RATIO MISMATCH check: χ² of the realized variant split
    against the intended 50/50, alarmed at the 0.05 critical value
    (3.84, 1 dof) — the experimentation-platform tripwire that
    invalidates a test BEFORE anyone reads wl_ab_ttest's p-value
    (assignment bugs silently bias everything downstream). One
    distinct-user count per variant; closed-form χ²."""
    ev = load(spark, sf_dir, "events")
    a = ev.groupBy((F.col("user_id") % 2).alias("variant")).agg(
        F.countDistinct("user_id").alias("n")
    )
    t = a.agg(F.sum("n").cast("double").alias("tot"))
    j = a.join(F.broadcast(t))
    chi = F.sum(
        (F.col("n") - F.col("tot") / 2)
        * (F.col("n") - F.col("tot") / 2)
        / (F.col("tot") / 2)
    )
    return j.groupBy("tot").agg(
        F.sum(F.when(F.col("variant") == 0, F.col("n"))).cast("bigint").alias("n_control"),
        F.sum(F.when(F.col("variant") == 1, F.col("n"))).cast("bigint").alias(
            "n_treatment"
        ),
        F.round(chi, 6).alias("chi_sq"),
        F.when(chi > 3.841459, 1).otherwise(0).alias("srm_alarm"),
    ).drop("tot")


@query(
    "wl_growth_accounting",
    oracle="""
WITH wk AS (
  SELECT DISTINCT user_id,
         datediff('day', DATE '2024-01-01', CAST(date_trunc('day', ts) AS DATE)) // 7
           AS w
  FROM events),
tagged AS (
  SELECT user_id, w,
         min(w) OVER (PARTITION BY user_id) AS first_w,
         lag(w) OVER (PARTITION BY user_id ORDER BY w) AS prev_w
  FROM wk),
classified AS (
  SELECT w,
         CASE WHEN w = first_w THEN 'new'
              WHEN prev_w = w - 1 THEN 'retained'
              ELSE 'resurrected' END AS status
  FROM tagged),
churn AS (
  SELECT w + 1 AS w, 'churned' AS status
  FROM tagged t
  WHERE NOT EXISTS (SELECT 1 FROM wk x
                    WHERE x.user_id = t.user_id AND x.w = t.w + 1)
    AND t.w + 1 <= (SELECT max(w) FROM wk))
SELECT w AS week, status, CAST(count(*) AS BIGINT) AS n_users
FROM (SELECT w, status FROM classified UNION ALL SELECT w, status FROM churn)
GROUP BY w, status
""",
)
def wl_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROWTH ACCOUNTING: every weekly active user classified as new
    (first week), retained (active last week too), or resurrected
    (returned after a gap), plus the churned count charged to the
    following week — the product-analytics identity
    (active_t = new + retained + resurrected; active_{t-1} − retained
    = churned_t) that explains WHERE a flat DAU line actually moves.
    One distinct (user, week) relation, one user-partitioned window
    pass for first/prev week, and an anti-join-shaped NOT EXISTS for
    churn — the per-user state is two integers, never a set."""
    ev = load(spark, sf_dir, "events")
    wk = ev.select(
        "user_id",
        F.expr(
            "datediff(date_trunc('day', ts), date'2024-01-01') div 7"
        ).alias("w"),
    ).distinct()
    uw = W.partitionBy("user_id")
    tagged = wk.select(
        "user_id",
        "w",
        F.min("w").over(uw).alias("first_w"),
        F.lag("w").over(uw.orderBy("w")).alias("prev_w"),
    )
    classified = tagged.select(
        "w",
        F.when(F.col("w") == F.col("first_w"), "new")
        .when(F.col("prev_w") == F.col("w") - 1, "retained")
        .otherwise("resurrected")
        .alias("status"),
    )
    mxw = wk.agg(F.max("w").alias("mx"))
    a, b = wk.alias("a"), wk.alias("b")
    no_next = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.w") == F.col("a.w") + 1),
        "left_anti",
    )
    churn = (
        no_next.join(F.broadcast(mxw))
        .filter(F.col("w") + 1 <= F.col("mx"))
        .select((F.col("w") + 1).alias("w"), F.lit("churned").alias("status"))
    )
    return (
        classified.unionByName(churn)
        .groupBy(F.col("w").alias("week"), "status")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


@query(
    "wl_diff_in_diff",
    oracle="""
WITH u AS (
  SELECT user_id % 2 AS treated,
         CASE WHEN ts < TIMESTAMP '2024-01-02 12:00:00' THEN 0 ELSE 1 END AS post,
         value
  FROM events WHERE event_type = 'purchase'),
cell AS (
  SELECT treated, post, avg(value) AS m, CAST(count(*) AS BIGINT) AS n
  FROM u GROUP BY treated, post)
SELECT
  round(max(CASE WHEN treated = 1 AND post = 1 THEN m END), 6) AS t_post,
  round(max(CASE WHEN treated = 1 AND post = 0 THEN m END), 6) AS t_pre,
  round(max(CASE WHEN treated = 0 AND post = 1 THEN m END), 6) AS c_post,
  round(max(CASE WHEN treated = 0 AND post = 0 THEN m END), 6) AS c_pre,
  round((max(CASE WHEN treated = 1 AND post = 1 THEN m END)
         - max(CASE WHEN treated = 1 AND post = 0 THEN m END))
        - (max(CASE WHEN treated = 0 AND post = 1 THEN m END)
           - max(CASE WHEN treated = 0 AND post = 0 THEN m END)), 6) AS did_estimate
FROM cell
""",
)
def wl_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES: the 2×2 (treated × pre/post) cell
    means and the DiD estimate (ΔT − ΔC) — the workhorse causal
    design when randomization is impossible and both groups share a
    trend (the parallel-trends assumption wl_cuped does not need but
    observational rollouts must make). One conditional-mean pass; the
    estimate is pure cell arithmetic."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    cut = F.lit("2024-01-02 12:00:00").cast("timestamp_ntz")
    u = ev.select(
        (F.col("user_id") % 2).alias("treated"),
        F.when(F.col("ts") < cut, 0).otherwise(1).alias("post"),
        "value",
    )
    cell = u.groupBy("treated", "post").agg(F.avg("value").alias("m"))

    def c(t, p):
        return F.max(
            F.when((F.col("treated") == t) & (F.col("post") == p), F.col("m"))
        )

    return cell.agg(
        F.round(c(1, 1), 6).alias("t_post"),
        F.round(c(1, 0), 6).alias("t_pre"),
        F.round(c(0, 1), 6).alias("c_post"),
        F.round(c(0, 0), 6).alias("c_pre"),
        F.round((c(1, 1) - c(1, 0)) - (c(0, 1) - c(0, 0)), 6).alias("did_estimate"),
    )


@query(
    "wl_stratified_ate",
    oracle="""
WITH act AS (
  SELECT user_id, user_id % 2 AS treated, count(*) AS n_events,
         sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS outcome
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY n_events, user_id) AS rnk,
         count(*) OVER () AS n
  FROM act),
strat AS (
  SELECT treated, outcome,
         CAST(ceil(4.0 * rnk / n) AS INTEGER) AS stratum
  FROM ranked),
cells AS (
  SELECT stratum, treated, avg(outcome) AS m, CAST(count(*) AS DOUBLE) AS n
  FROM strat GROUP BY stratum, treated),
per_stratum AS (
  SELECT stratum,
         max(CASE WHEN treated = 1 THEN m END)
           - max(CASE WHEN treated = 0 THEN m END) AS diff,
         sum(n) AS w
  FROM cells GROUP BY stratum),
naive AS (
  SELECT avg(CASE WHEN treated = 1 THEN outcome END)
         - avg(CASE WHEN treated = 0 THEN outcome END) AS d
  FROM strat)
SELECT round(naive.d, 6) AS naive_diff,
       round(sum(ps.diff * ps.w) / sum(ps.w), 6) AS stratified_ate,
       CAST(count(*) AS BIGINT) AS n_strata
FROM per_stratum ps, naive GROUP BY naive.d
""",
)
def wl_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED treatment-effect estimation: users bucketed into
    activity quartiles (the confounder), treated-vs-control outcome
    differences computed WITHIN each stratum and combined by stratum
    weight — the deconfounding that makes an observational comparison
    honest when heavy users differ from light ones (the tabular form
    of propensity stratification; wl_simpson_check detects the
    pathology, this corrects it). Quartiles cut by rank arithmetic
    (ml_gains_table's trick) over the DISTRIBUTED two-pass range rank
    (functions/ranks.py) — users scale with data, so a global-window
    row_number would collapse to one task; the total count rides a
    1-row broadcast. Strata are bounded, one pass per aggregate.

    NULL users are dropped on both engines (the rank-key NULL
    policy): a NULL user_id has no treatment arm (NULL % 2) and sorts
    FIRST in Spark's rank order but LAST in DuckDB's, shifting every
    other user's stratum assignment (combo-world catch)."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    act = ev.groupBy("user_id").agg(
        (F.col("user_id") % 2).alias("treated"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)
        ).alias("outcome"),
    )
    ranked = global_rank(
        act,
        F.col("n_events"),
        F.col("user_id"),
        rank_col="rnk",
        totals={"n": F.count(F.lit(1))},
    )
    strat = ranked.select(
        "treated",
        "outcome",
        F.ceil(4.0 * F.col("rnk") / F.col("n")).cast("int").alias("stratum"),
    )
    cells = strat.groupBy("stratum", "treated").agg(
        F.avg("outcome").alias("m"), F.count(F.lit(1)).cast("double").alias("cn")
    )
    per_stratum = cells.groupBy("stratum").agg(
        (
            F.max(F.when(F.col("treated") == 1, F.col("m")))
            - F.max(F.when(F.col("treated") == 0, F.col("m")))
        ).alias("diff"),
        F.sum("cn").alias("w"),
    )
    naive = strat.agg(
        (
            F.avg(F.when(F.col("treated") == 1, F.col("outcome")))
            - F.avg(F.when(F.col("treated") == 0, F.col("outcome")))
        ).alias("d")
    )
    return (
        per_stratum.join(F.broadcast(naive))
        .groupBy("d")
        .agg(
            F.round(F.sum(F.col("diff") * F.col("w")) / F.sum("w"), 6).alias(
                "stratified_ate"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        )
        .select(F.round("d", 6).alias("naive_diff"), "stratified_ate", "n_strata")
    )


@query(
    "wl_daily_quantile_bands",
    oracle="""
SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
       CAST(count(*) AS BIGINT) AS n,
       round(quantile_cont(value, 0.1), 3) AS p10,
       round(quantile_cont(value, 0.5), 3) AS p50,
       round(quantile_cont(value, 0.9), 3) AS p90
FROM events WHERE isfinite(value) GROUP BY 1
""",
)
def wl_daily_quantile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily QUANTILE BANDS (p10/p50/p90 of event value per day) —
    the band chart behind every latency/value SLO dashboard, and the
    input the anomaly family (z-score, control chart) conditions on
    when the metric's spread itself drifts. Exact per-day percentiles
    over the bounded day grouping; rounded at 3 dp per the
    half-boundary discipline for 2-decimal data. Finite values only
    on both engines: the engines interpolate around NaN/inf
    differently (Spark percentile propagates NaN, DuckDB sorts it
    high), and an SLO band over non-finite readings is meaningless."""
    ev = load(spark, sf_dir, "events").filter(finite("value"))
    return ev.groupBy(
        F.date_trunc("day", "ts").cast("date").cast("string").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.percentile("value", F.lit(0.1)), 3).alias("p10"),
        F.round(F.percentile("value", F.lit(0.5)), 3).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 3).alias("p90"),
    )


@query(
    "wl_error_budget",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE)
           AS errs
  FROM events GROUP BY 1),
tot AS (SELECT sum(n) AS tn FROM daily)
SELECT CAST(d AS VARCHAR) AS day,
       round(errs / n, 6) AS error_rate,
       round((errs / n) / 0.05, 6) AS burn_factor,
       round(sum(errs) OVER (ORDER BY d) / (0.05 * tot.tn), 6)
         AS budget_consumed
FROM daily, tot
""",
)
def wl_error_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRE ERROR-BUDGET accounting against a 5% error-rate SLO: daily
    error rate, burn factor (rate ÷ SLO — above 1 means the budget is
    burning faster than it accrues), and the cumulative share of the
    period's total budget already consumed — the escalation signal
    behind burn-rate alerts. Daily conditional counts, a broadcast
    period total, and one running sum on the bounded day axis."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("double")
        .alias("errs"),
    )
    tot = daily.agg(F.sum("n").alias("tn"))
    return daily.join(F.broadcast(tot)).select(
        F.col("d").cast("string").alias("day"),
        F.round(F.col("errs") / F.col("n"), 6).alias("error_rate"),
        F.round((F.col("errs") / F.col("n")) / 0.05, 6).alias("burn_factor"),
        F.round(
            F.sum("errs").over(W.orderBy("d")) / (0.05 * F.col("tn")), 6
        ).alias("budget_consumed"),
    )


@query(
    "wl_causal_impact_lite",
    oracle="""
WITH daily AS (
  SELECT datediff('day', DATE '2024-01-01', CAST(date_trunc('day', ts) AS DATE)) AS t,
         CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1),
horizon AS (SELECT CAST(floor(max(t) * 2.0 / 3) AS BIGINT) AS cut FROM daily),
fit AS (
  SELECT regr_slope(y, CAST(t AS DOUBLE)) AS slope,
         regr_intercept(y, CAST(t AS DOUBLE)) AS icept
  FROM daily, horizon WHERE t <= horizon.cut),
post AS (
  SELECT d.t, d.y, f.icept + f.slope * d.t AS expected
  FROM daily d, fit f, horizon h WHERE d.t > h.cut)
SELECT CAST(count(*) AS BIGINT) AS post_days,
       round(sum(y), 6) AS actual_total,
       round(sum(expected), 6) AS counterfactual_total,
       round(sum(y - expected), 6) AS cumulative_impact
FROM post
""",
)
def wl_causal_impact_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNTERFACTUAL impact estimation (CausalImpact's core idea,
    linear form): fit the trend on the pre-period (first two-thirds
    of days), project it over the post-period, and report actual
    minus counterfactual — 'what did the launch ADD beyond where the
    series was already heading', the question wl_diff_in_diff answers
    with a control group and this answers with the series' own
    history. Pre-fit is the REGR_* moment state; the projection and
    cumulative impact are bounded-axis arithmetic."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.date_trunc("day", "ts"), F.lit("2024-01-01").cast("date")).alias("t")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    horizon = daily.agg(F.floor(F.max("t") * 2 / 3).cast("bigint").alias("cut"))
    fit = (
        daily.join(F.broadcast(horizon))
        .filter(F.col("t") <= F.col("cut"))
        .agg(
            F.regr_slope("y", F.col("t").cast("double")).alias("slope"),
            F.regr_intercept("y", F.col("t").cast("double")).alias("icept"),
        )
    )
    post = (
        daily.join(F.broadcast(horizon))
        .filter(F.col("t") > F.col("cut"))
        .join(F.broadcast(fit))
        .select(
            "y", (F.col("icept") + F.col("slope") * F.col("t")).alias("expected")
        )
    )
    return post.agg(
        F.count(F.lit(1)).cast("bigint").alias("post_days"),
        F.round(F.sum("y"), 6).alias("actual_total"),
        F.round(F.sum("expected"), 6).alias("counterfactual_total"),
        F.round(F.sum(F.col("y") - F.col("expected")), 6).alias("cumulative_impact"),
    )


@query(
    "wl_engagement_hist",
    oracle="""
WITH ad AS (
  SELECT user_id, count(DISTINCT CAST(date_trunc('day', ts) AS DATE)) AS active_days
  FROM events GROUP BY user_id),
b AS (
  SELECT CASE WHEN active_days = 1 THEN '1'
              WHEN active_days <= 3 THEN '2-3'
              WHEN active_days <= 7 THEN '4-7'
              WHEN active_days <= 14 THEN '8-14'
              ELSE '15+' END AS bucket
  FROM ad)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_users FROM b GROUP BY bucket
""",
)
def wl_engagement_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENGAGEMENT distribution: users bucketed by distinct active
    days — the one-off-vs-habitual shape (power-law heavy in healthy
    products) that wl_dau_wau's aggregate curves and
    wl_growth_accounting's flows both summarize away. One distinct
    (user, day) count + a five-bucket map-side aggregate."""
    ev = load(spark, sf_dir, "events")
    ad = ev.groupBy("user_id").agg(
        F.countDistinct(F.date_trunc("day", "ts").cast("date")).alias("active_days")
    )
    bucket = (
        F.when(F.col("active_days") == 1, "1")
        .when(F.col("active_days") <= 3, "2-3")
        .when(F.col("active_days") <= 7, "4-7")
        .when(F.col("active_days") <= 14, "8-14")
        .otherwise("15+")
    )
    return ad.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


@query(
    "wl_anomaly_deseasonalized",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1),
m AS (SELECT avg(y) AS mu FROM daily),
idx AS (
  SELECT isodow(d) AS dow, avg(y) / m.mu AS si
  FROM daily, m GROUP BY isodow(d), m.mu),
adj AS (
  SELECT daily.d, daily.y, daily.y / idx.si AS y_adj
  FROM daily JOIN idx ON isodow(daily.d) = idx.dow),
stats AS (
  SELECT avg(y_adj) AS am, sum(y_adj * y_adj) AS s2t,
         sum(y_adj) AS st, count(*) AS cnt
  FROM adj),
sd AS (
  SELECT am,
         CASE WHEN abs(s2t - st * st / cnt) <= 1e-9 * abs(s2t) THEN NULL
              ELSE sqrt(greatest((s2t - st * st / cnt)
                                 / nullif(cnt - 1, 0), 0))
         END AS asd
  FROM stats)
SELECT CAST(adj.d AS VARCHAR) AS day, CAST(adj.y AS BIGINT) AS n_events,
       round(adj.y_adj, 6) + 0.0 AS deseasonalized,
       round((adj.y_adj - s.am) / nullif(s.asd, 0), 6) + 0.0 AS adj_z,
       CASE WHEN abs((adj.y_adj - s.am) / nullif(s.asd, 0)) > 2 THEN 1 ELSE 0 END AS anomaly
FROM adj, sd s
""",
)
def wl_anomaly_deseasonalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly detection on the DESEASONALIZED series: daily volume
    divided by its weekday seasonal index (wl_seasonal_index) before
    z-scoring — the methodological fix for the false alarms a naive
    z-score (wl_anomaly_zscore) raises every quiet Sunday and misses
    every soft Monday. Three bounded passes: indices, adjusted
    series, moment stats; flags at |z| > 2 on the adjusted scale."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("y")
    )
    m = daily.agg(F.avg("y").alias("mu"))
    idx = (
        daily.join(F.broadcast(m))
        .groupBy((F.weekday("d") + 1).alias("dow"))
        .agg((F.avg("y") / F.max("mu")).alias("si"))
    )
    adj = daily.join(
        F.broadcast(idx), (F.weekday(daily.d) + 1) == idx.dow
    ).select("d", "y", (F.col("y") / F.col("si")).alias("y_adj"))
    stats = adj.agg(
        F.avg("y_adj").alias("am"),
        F.sum(F.col("y_adj") * F.col("y_adj")).alias("s2t"),
        F.sum("y_adj").alias("st"),
        F.count(F.lit(1)).alias("cnt"),
    )
    # one adjusted day (n-1 = 0) or a perfectly flat adjusted series
    # has no z-scale. Flatness is a RELATIVE-tolerance test against
    # Σy²: when every observed day is a distinct weekday the seasonal
    # index makes y_adj ≡ mu, and the cancellation Σy² − (Σy)²/n
    # lands at exactly 0.0 on Spark but a ~1e-16 residue on DuckDB
    # (summation order) — an exact nullif diverges (hypothesis-caught
    # r7). Same pattern as wl_anova_seasonality.
    vn = F.col("s2t") - F.col("st") * F.col("st") / F.col("cnt")
    stats = stats.select(
        "am",
        F.when(F.abs(vn) <= 1e-9 * F.abs(F.col("s2t")), F.lit(None))
        .otherwise(
            F.sqrt(F.greatest(vn / F.nullif(F.col("cnt") - 1, F.lit(0)), F.lit(0.0)))
        )
        .alias("asd"),
    )
    z = (F.col("y_adj") - F.col("am")) / F.nullif(F.col("asd"), F.lit(0.0))
    return adj.join(F.broadcast(stats)).select(
        F.col("d").cast("string").alias("day"),
        F.col("y").cast("bigint").alias("n_events"),
        rnd("y_adj").alias("deseasonalized"),
        rnd(z).alias("adj_z"),
        F.when(F.abs(z) > 2, 1).otherwise(0).alias("anomaly"),
    )


@query(
    "wl_rate_volume_mix",
    oracle="""
WITH h AS (
  SELECT c.c_mktsegment AS segment,
         CASE WHEN o.o_orderdate < DATE '1997-07-01' THEN 0 ELSE 1 END AS half,
         CAST(count(*) AS DOUBLE) AS vol, avg(o.o_totalprice) AS rate
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE o.o_orderdate >= DATE '1997-01-01' AND o.o_orderdate < DATE '1998-01-01'
  GROUP BY 1, 2),
p AS (
  SELECT segment,
         max(CASE WHEN half = 0 THEN vol END) AS v0,
         max(CASE WHEN half = 1 THEN vol END) AS v1,
         max(CASE WHEN half = 0 THEN rate END) AS r0,
         max(CASE WHEN half = 1 THEN rate END) AS r1
  FROM h GROUP BY segment)
SELECT segment,
       round(v1 * r1 - v0 * r0, 2) + 0.0 AS revenue_delta,
       round((v1 - v0) * r0, 2) + 0.0 AS volume_effect,
       round((r1 - r0) * v0, 2) + 0.0 AS rate_effect,
       round((v1 - v0) * (r1 - r0), 2) + 0.0 AS mix_effect
FROM p WHERE v0 IS NOT NULL AND v1 IS NOT NULL
""",
)
def wl_rate_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RATE/VOLUME/MIX decomposition: each segment's half-over-half
    revenue change split exactly into volume effect (Δv·r₀), rate
    effect (Δr·v₀), and the joint mix term (Δv·Δr) — the FP&A
    variance-analysis identity that turns wl_change_attribution's
    'who moved' into 'was it more orders or bigger orders'. Additive
    by construction (the three effects sum to the delta); one
    conditional aggregate per (segment, half), broadcast-joined dims."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = load(spark, sf_dir, "customer")
    h = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.when(F.col("o_orderdate") < "1997-07-01", 0).otherwise(1).alias("half"),
        )
        .agg(
            F.count(F.lit(1)).cast("double").alias("vol"),
            F.avg("o_totalprice").alias("rate"),
        )
    )
    p = h.groupBy("segment").agg(
        F.max(F.when(F.col("half") == 0, F.col("vol"))).alias("v0"),
        F.max(F.when(F.col("half") == 1, F.col("vol"))).alias("v1"),
        F.max(F.when(F.col("half") == 0, F.col("rate"))).alias("r0"),
        F.max(F.when(F.col("half") == 1, F.col("rate"))).alias("r1"),
    )
    return p.filter(F.col("v0").isNotNull() & F.col("v1").isNotNull()).select(
        "segment",
        (F.round(F.col("v1") * F.col("r1") - F.col("v0") * F.col("r0"), 2) + 0.0).alias(
            "revenue_delta"
        ),
        (F.round((F.col("v1") - F.col("v0")) * F.col("r0"), 2) + 0.0).alias(
            "volume_effect"
        ),
        (F.round((F.col("r1") - F.col("r0")) * F.col("v0"), 2) + 0.0).alias(
            "rate_effect"
        ),
        (F.round((F.col("v1") - F.col("v0")) * (F.col("r1") - F.col("r0")), 2) + 0.0).alias(
            "mix_effect"
        ),
    )


@query(
    "wl_forecast_backtest",
    oracle="""
WITH daily AS (
  SELECT datediff('day', DATE '2024-01-01', CAST(date_trunc('day', ts) AS DATE)) AS t,
         isodow(CAST(date_trunc('day', ts) AS DATE)) AS dow,
         CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2),
h AS (SELECT CAST(floor(max(t) * 2.0 / 3) AS BIGINT) AS cut FROM daily),
train AS (SELECT * FROM daily, h WHERE t <= h.cut),
test AS (SELECT * FROM daily, h WHERE t > h.cut),
mean_fit AS (SELECT avg(y) AS mu FROM train),
ols AS (SELECT regr_slope(y, CAST(t AS DOUBLE)) AS slope,
               regr_intercept(y, CAST(t AS DOUBLE)) AS icept FROM train),
snaive AS (SELECT dow, avg(y) AS dow_mu FROM train GROUP BY dow),
preds AS (
  SELECT test.t, test.y,
         m.mu AS p_mean,
         o.icept + o.slope * test.t AS p_ols,
         s.dow_mu AS p_snaive
  FROM test, mean_fit m, ols o
  JOIN snaive s ON s.dow = test.dow)
SELECT model, round(mae, 6) AS mae FROM (
  SELECT 'mean' AS model, avg(abs(y - p_mean)) AS mae FROM preds
  UNION ALL
  SELECT 'ols_trend', avg(abs(y - p_ols)) FROM preds
  UNION ALL
  SELECT 'seasonal_naive', avg(abs(y - p_snaive)) FROM preds)
""",
)
def wl_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORECAST BACKTEST: three forecasters — global mean, OLS trend
    (wl_linear_forecast's model), weekday seasonal-naive
    (wl_seasonal_index's model) — trained on the first two-thirds of
    days and scored by MAE on the held-out tail, in one relation.
    This is the model-selection discipline that decides WHICH of the
    engine's forecasting operators a pipeline should trust, done the
    honest way (temporal holdout, never random). All fits are bounded
    aggregates; predictions join on the bounded day/dow axes."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.date_trunc("day", "ts"), F.lit("2024-01-01").cast("date")).alias("t"),
        (F.weekday(F.date_trunc("day", "ts")) + 1).alias("dow"),
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    h = daily.agg(F.floor(F.max("t") * 2 / 3).cast("bigint").alias("cut"))
    train = daily.join(F.broadcast(h)).filter(F.col("t") <= F.col("cut"))
    test = daily.join(F.broadcast(h)).filter(F.col("t") > F.col("cut"))
    mean_fit = train.agg(F.avg("y").alias("mu"))
    ols = train.agg(
        F.regr_slope("y", F.col("t").cast("double")).alias("slope"),
        F.regr_intercept("y", F.col("t").cast("double")).alias("icept"),
    )
    snaive = train.groupBy("dow").agg(F.avg("y").alias("dow_mu"))
    preds = (
        test.join(F.broadcast(mean_fit))
        .join(F.broadcast(ols))
        .join(F.broadcast(snaive), "dow")
        .select(
            "y",
            F.col("mu").alias("p_mean"),
            (F.col("icept") + F.col("slope") * F.col("t")).alias("p_ols"),
            F.col("dow_mu").alias("p_snaive"),
        )
    )
    mae = lambda c, name: preds.agg(
        F.round(F.avg(F.abs(F.col("y") - F.col(c))), 6).alias("mae")
    ).select(F.lit(name).alias("model"), "mae")
    return (
        mae("p_mean", "mean")
        .unionByName(mae("p_ols", "ols_trend"))
        .unionByName(mae("p_snaive", "seasonal_naive"))
    )


@query(
    "wl_stickiness",
    oracle="""
WITH d AS (
  SELECT CAST(date_trunc('month', ts) AS DATE) AS m,
         CAST(date_trunc('day', ts) AS DATE) AS d, user_id
  FROM events),
dau AS (SELECT m, d, count(DISTINCT user_id) AS dau FROM d GROUP BY m, d),
mau AS (SELECT m, count(DISTINCT user_id) AS mau FROM d GROUP BY m)
SELECT CAST(dau.m AS VARCHAR) AS month,
       CAST(max(mau.mau) AS BIGINT) AS mau,
       round(avg(dau.dau), 6) AS avg_dau,
       round(avg(dau.dau) / max(mau.mau), 6) AS stickiness
FROM dau JOIN mau ON dau.m = mau.m
GROUP BY dau.m
""",
)
def wl_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STICKINESS (DAU/MAU): average daily actives over monthly
    actives per month — the habit-formation ratio product teams track
    beside wl_engagement_hist's distribution and
    wl_growth_accounting's flows (1/30 means everyone shows up once;
    0.5 means a daily habit). Two distinct-count aggregates on
    bounded (month, day) grains, one broadcast join."""
    ev = load(spark, sf_dir, "events")
    d = ev.select(
        F.date_trunc("month", "ts").cast("date").alias("m"),
        F.date_trunc("day", "ts").cast("date").alias("d"),
        "user_id",
    )
    dau = d.groupBy("m", "d").agg(F.countDistinct("user_id").alias("dau"))
    mau = d.groupBy(F.col("m").alias("m2")).agg(
        F.countDistinct("user_id").alias("mau")
    )
    return (
        dau.join(F.broadcast(mau), dau.m == mau.m2)
        .groupBy(F.col("m").cast("string").alias("month"))
        .agg(
            F.max("mau").cast("bigint").alias("mau"),
            F.round(F.avg("dau"), 6).alias("avg_dau"),
            F.round(F.avg("dau") / F.max("mau"), 6).alias("stickiness"),
        )
    )


@query(
    "wl_arc_elasticity",
    oracle="""
WITH h AS (
  SELECT c.c_mktsegment AS segment,
         CASE WHEN o.o_orderdate < DATE '1997-07-01' THEN 0 ELSE 1 END AS half,
         CAST(count(*) AS DOUBLE) AS q, avg(o.o_totalprice) AS p
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE o.o_orderdate >= DATE '1997-01-01' AND o.o_orderdate < DATE '1998-01-01'
  GROUP BY 1, 2),
w AS (
  SELECT segment,
         max(CASE WHEN half = 0 THEN q END) AS q0,
         max(CASE WHEN half = 1 THEN q END) AS q1,
         max(CASE WHEN half = 0 THEN p END) AS p0,
         max(CASE WHEN half = 1 THEN p END) AS p1
  FROM h GROUP BY segment)
SELECT segment,
       round((q1 - q0) / ((q1 + q0) / 2), 6) + 0.0 AS pct_dq,
       round((p1 - p0) / nullif((p1 + p0) / 2, 0), 6) + 0.0 AS pct_dp,
       round(CASE WHEN abs((p1 - p0) / nullif((p1 + p0) / 2, 0)) > 1e-9
                  THEN ((q1 - q0) / ((q1 + q0) / 2))
                       / ((p1 - p0) / nullif((p1 + p0) / 2, 0)) END, 6) + 0.0
         AS arc_elasticity
FROM w WHERE q0 IS NOT NULL AND q1 IS NOT NULL
""",
)
def wl_arc_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARC ELASTICITY per segment: midpoint-formula %Δquantity over
    %Δprice between two halves — the demand-sensitivity reading of the
    same 2×(segment) cells wl_rate_volume_mix decomposes (RVM says
    what moved revenue; elasticity says how quantity responds to
    price). Midpoint normalization keeps the measure symmetric in
    direction; near-zero price moves yield NULL instead of an
    exploding ratio."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = load(spark, sf_dir, "customer")
    h = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.when(F.col("o_orderdate") < "1997-07-01", 0).otherwise(1).alias("half"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("q"), F.avg("o_totalprice").alias("p"))
    )
    w = h.groupBy("segment").agg(
        F.max(F.when(F.col("half") == 0, F.col("q"))).alias("q0"),
        F.max(F.when(F.col("half") == 1, F.col("q"))).alias("q1"),
        F.max(F.when(F.col("half") == 0, F.col("p"))).alias("p0"),
        F.max(F.when(F.col("half") == 1, F.col("p"))).alias("p1"),
    )
    dq = (F.col("q1") - F.col("q0")) / ((F.col("q1") + F.col("q0")) / 2)
    # q0,q1 are counts >= 1 in every surviving row, so the dq midpoint
    # is always positive; the PRICE midpoint can be exactly 0 on
    # all-zero-price data -> NULL via nullif on both engines
    dp = (F.col("p1") - F.col("p0")) / F.nullif(
        (F.col("p1") + F.col("p0")) / 2, F.lit(0.0)
    )
    return w.filter(F.col("q0").isNotNull() & F.col("q1").isNotNull()).select(
        "segment",
        (F.round(dq, 6) + 0.0).alias("pct_dq"),
        (F.round(dp, 6) + 0.0).alias("pct_dp"),
        (F.round(F.when(F.abs(dp) > 1e-9, dq / dp), 6) + 0.0).alias("arc_elasticity"),
    )


@query(
    "wl_lorenz_points",
    oracle="""
WITH s AS (
  SELECT o_custkey, sum(o_totalprice) AS spend FROM orders
  WHERE o_custkey IS NOT NULL GROUP BY o_custkey
  HAVING sum(o_totalprice) IS NOT NULL),
r AS (
  SELECT spend, row_number() OVER (ORDER BY spend, o_custkey) AS rnk,
         count(*) OVER () AS n, sum(spend) OVER () AS tot
  FROM s),
d AS (
  SELECT CAST(ceil(10.0 * rnk / n) AS INTEGER) AS decile, spend, n, tot FROM r)
SELECT decile,
       round(CAST(max(n) / 10.0 * decile AS DOUBLE) / max(n), 6) AS pop_share,
       round(sum(sum(spend)) OVER (ORDER BY decile) / nullif(max(tot), 0), 6)
         AS cum_value_share
FROM d GROUP BY decile
""",
)
def wl_lorenz_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LORENZ CURVE points: cumulative value share at each population
    decile (customers ranked poorest→richest by spend) — the curve
    whose area defect wl_gini compresses to one number; the points are
    what the equity/concentration chart actually plots. Deciles by
    rank arithmetic over the per-customer rollup via the two-pass
    range rank (functions/ranks.py — customers scale with data);
    totals ride a 1-row broadcast; cumulative share is a bounded
    10-row window. The far-right gap to the diagonal IS the
    concentration wl_pareto reads top-down."""
    o = load(spark, sf_dir, "orders")
    # anonymous customers / all-NULL spends cannot sit on the curve:
    # their rank position diverges across engines (NULL sort order)
    # and their spend adds nothing to the total — drop on both sides
    s = (
        o.filter(F.col("o_custkey").isNotNull())
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("spend"))
        .filter(F.col("spend").isNotNull())
    )
    r = global_rank(
        s,
        F.col("spend"),
        F.col("o_custkey"),
        rank_col="rnk",
        totals={"n": F.count(F.lit(1)), "tot": F.sum("spend")},
    )
    d = r.select(
        F.ceil(10.0 * F.col("rnk") / F.col("n")).cast("int").alias("decile"),
        "spend",
        "n",
        "tot",
    )
    g = d.groupBy("decile").agg(
        F.sum("spend").alias("dsp"), F.max("n").alias("n"), F.max("tot").alias("tot")
    )
    return g.select(
        "decile",
        F.round(
            (F.col("n") / 10.0 * F.col("decile")).cast("double") / F.col("n"), 6
        ).alias("pop_share"),
        F.round(
            F.sum("dsp").over(W.orderBy("decile"))
            / F.nullif(F.col("tot"), F.lit(0.0)),
            6,
        ).alias("cum_value_share"),
    )


@query(
    "wl_pareto_frontier",
    oracle="""
WITH p AS (SELECT p_partkey, p_brand, p_retailprice, p_size FROM part),
dominated AS (
  SELECT DISTINCT a.p_partkey
  FROM p a JOIN p b
    ON b.p_retailprice <= a.p_retailprice AND b.p_size <= a.p_size
   AND (b.p_retailprice < a.p_retailprice OR b.p_size < a.p_size))
SELECT p.p_partkey, p.p_brand,
       round(p.p_retailprice, 2) AS price, p.p_size AS size
FROM p WHERE p.p_partkey NOT IN (SELECT p_partkey FROM dominated)
""",
)
def wl_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARETO FRONTIER (skyline query): the parts no other part beats
    on BOTH price and size — the multi-objective shortlist every
    cheapest-and-smallest style search wants, and a classic database
    operator (SKYLINE OF) Spark lacks natively. Expressed as a
    dominance self-join + anti-join; at catalog scale the standard
    optimization pre-filters with a grid of local skylines (the
    block-then-verify discipline) before the dominance join — same
    shape, bounded candidates."""
    p = load(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice", "p_size"
    )
    # r12: the dominance SELF-JOIN (inequality-only → BroadcastNested-
    # LoopJoin, O(n²) comparisons over the whole catalog) is replaced
    # by the classic 2-D skyline sweep, exactly equivalent row-for-row:
    #   dominated(a) ⟺ ∃b: p_b ≤ p_a ∧ s_b ≤ s_a ∧ (p_b < p_a ∨ s_b < s_a)
    #               ⟺ min{s : price < p_a} ≤ s_a        (strictly cheaper b)
    #                 ∨ min{s : price = p_a} < s_a      (equal-price b)
    # — the first term covers every p_b < p_a dominator (s_b ≤ s_a ⇔ the
    # group min ≤ s_a), the second every p_b = p_a one (needs s_b < s_a;
    # ties on BOTH axes dominate in neither form). min(size) per price
    # is a hash aggregate; the strictly-cheaper min is a distributed
    # exclusive prefix-min over the bounded distinct-price relation
    # (functions/ranks.global_prefix_min_excl — never a single-task
    # window); re-attach is one equi-join on price. NULL price/size
    # rows: every comparison is NULL in both forms → never dominated,
    # never dominating (min ignores NULLs; the prefix-min helper keeps
    # the NULL-price group out of every prefix; that group never
    # equi-joins; coalesce keeps the row). O(n²) → O(n) + sort shuffle.
    g = p.groupBy(F.col("p_retailprice").alias("_pr")).agg(
        F.min("p_size").alias("_m_eq")
    )
    g = global_prefix_min_excl(g, "_m_eq", F.col("_pr"), out_col="_m_lt")
    dominated = (F.col("_m_lt") <= F.col("p_size")) | (
        F.col("_m_eq") < F.col("p_size")
    )
    return (
        p.join(g, p.p_retailprice == g._pr, "left")
        .filter(~F.coalesce(dominated, F.lit(False)))
        .select(
            "p_partkey",
            "p_brand",
            F.round("p_retailprice", 2).alias("price"),
            F.col("p_size").alias("size"),
        )
    )


@query(
    "wl_markov_absorbing",
    oracle="""
WITH e AS (
  SELECT event_type AS t1, lead(event_type) OVER w AS t2
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
c AS (SELECT t1, t2, CAST(count(*) AS DOUBLE) AS n
      FROM e WHERE t2 IS NOT NULL GROUP BY t1, t2),
tr AS (SELECT t1, t2, n / sum(n) OVER (PARTITION BY t1) AS p FROM c),
v0 AS (
  SELECT t1 AS s, coalesce(max(CASE WHEN t2 = 'purchase' THEN p END), 0) AS v
  FROM tr GROUP BY t1),
v1 AS (
  SELECT tr.t1 AS s,
         coalesce(max(CASE WHEN tr.t2 = 'purchase' THEN tr.p END), 0)
         + sum(CASE WHEN tr.t2 <> 'purchase' THEN tr.p * v0.v ELSE 0 END) AS v
  FROM tr JOIN v0 ON v0.s = tr.t2 GROUP BY tr.t1),
v2 AS (
  SELECT tr.t1 AS s,
         coalesce(max(CASE WHEN tr.t2 = 'purchase' THEN tr.p END), 0)
         + sum(CASE WHEN tr.t2 <> 'purchase' THEN tr.p * v1.v ELSE 0 END) AS v
  FROM tr JOIN v1 ON v1.s = tr.t2 GROUP BY tr.t1)
SELECT s AS start_state, round(v, 6) AS p_reach_purchase_3
FROM v2 WHERE s <> 'purchase'
""",
)
def wl_markov_absorbing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABSORBING-STATE analysis: from each starting event type, the
    probability of reaching 'purchase' within three transitions of
    the empirical Markov chain — the forward-looking question
    (wl_markov_transitions describes one step; this propagates it)
    behind 'which entry behavior converts'. Two unrolled value-
    iteration rounds as joins on the bounded |types|² transition
    table — the wl_pagerank3 pattern at conversion-funnel scale."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    e = ev.select(
        F.col("event_type").alias("t1"), F.lead("event_type").over(w).alias("t2")
    ).filter(F.col("t2").isNotNull())
    c = e.groupBy("t1", "t2").agg(F.count(F.lit(1)).cast("double").alias("n"))
    tr = c.select(
        "t1", "t2", (F.col("n") / F.sum("n").over(W.partitionBy("t1"))).alias("p")
    )
    v = tr.groupBy(F.col("t1").alias("s")).agg(
        F.coalesce(
            F.max(F.when(F.col("t2") == "purchase", F.col("p"))), F.lit(0.0)
        ).alias("v")
    )
    for _ in range(2):
        v = (
            tr.join(v, tr.t2 == v.s)
            .groupBy(F.col("t1").alias("s2"))
            .agg(
                (
                    F.coalesce(
                        F.max(F.when(F.col("t2") == "purchase", F.col("p"))),
                        F.lit(0.0),
                    )
                    + F.sum(
                        F.when(
                            F.col("t2") != "purchase", F.col("p") * F.col("v")
                        ).otherwise(0.0)
                    )
                ).alias("v")
            )
            .withColumnRenamed("s2", "s")
        )
    return v.filter(F.col("s") != "purchase").select(
        F.col("s").alias("start_state"), F.round("v", 6).alias("p_reach_purchase_3")
    )
