"""Reshaping + source/frontend coverage: pivot/unpivot, range source,
union-by-name with missing columns, seeded sampling, and the SQL
string frontend (dual-frontend parity with the DataFrame API —
SURVEY.md §3.4: both compile to the same Catalyst IR).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from systematic_review_classification_spark.registry import query
from systematic_review_classification_spark.sources.tables import load

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@query(
    "pivot_wide",
    oracle=f"""
SELECT c_nationkey,
       {", ".join(f"CAST(sum(CASE WHEN c_mktsegment = '{s}' THEN 1 END) AS BIGINT) AS {s}" for s in _SEGMENTS)}
FROM customer GROUP BY c_nationkey
""",
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot long→wide with an explicit value list (never the
    value-discovering form at scale — that's an extra pass + driver
    collect of the distinct values)."""
    c = load(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey")
        .pivot("c_mktsegment", _SEGMENTS)
        .agg(F.count(F.lit(1)))
    )


@query(
    "unpivot_long",
    oracle="""
SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part
""",
)
def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) wide→long — pure projection + generate, no
    shuffle."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey", F.col("p_size").cast("double").alias("p_size"), "p_retailprice"
    ).unpivot("p_partkey", ["p_size", "p_retailprice"], "metric", "value")


@query(
    "src_range",
    oracle="""
SELECT CAST(sum(r) AS BIGINT) AS total, count(*) AS n,
       CAST(min(r) AS BIGINT) AS lo, CAST(max(r) AS BIGINT) AS hi
FROM range(0, 100000, 7) t(r)
""",
)
def src_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic range source — spark.range generates splits without
    any input data (the backbone of generated benchmarks/backfills)."""
    return spark.range(0, 100000, 7).agg(
        F.sum("id").alias("total"),
        F.count(F.lit(1)).alias("n"),
        F.min("id").alias("lo"),
        F.max("id").alias("hi"),
    )


@query(
    "set_union_missing",
    oracle="""
SELECT r_regionkey AS key, r_name AS name, CAST(NULL AS INTEGER) AS parent FROM region
UNION ALL
SELECT n_nationkey AS key, n_name AS name, n_regionkey AS parent FROM nation
""",
)
def set_union_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName(allowMissingColumns=True): schema-mismatched unions
    null-fill the absent columns by NAME, not position."""
    r = load(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("key"), F.col("r_name").alias("name")
    )
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("key"),
        F.col("n_name").alias("name"),
        F.col("n_regionkey").alias("parent"),
    )
    return r.unionByName(n, allowMissingColumns=True)


@query("sample_seeded")  # rows-only: Bernoulli sampling is engine-specific
def sample_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sample — deterministic within Spark (same seed
    + same partitioning), never cross-engine. The scale tool for
    profiling a 100 TB table without reading it."""
    li = load(spark, sf_dir, "lineitem")
    return li.sample(fraction=0.1, seed=42).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@query(
    "sql_frontend",
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       count(*) AS n
FROM lineitem
WHERE l_shipdate <= timestamp '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def sql_frontend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-string frontend over direct parquet paths — proves the
    spark.sql entry point compiles to the same Catalyst plan the
    DataFrame API produces (SURVEY.md §3.4)."""
    from systematic_review_classification_spark.session import ensure_confs

    ensure_confs(spark)
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               count(*) AS n
        FROM parquet.`{sf_dir}/lineitem.parquet`
        WHERE l_shipdate <= timestamp_ntz'1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        """
    )


@query("sample_stratified")  # rows-only: per-stratum Bernoulli draws are engine-specific
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample (sampleBy): per-stratum fractions — keep all
    of the rare 'F' flag, thin the common ones. The profiling tool when
    strata are wildly imbalanced (exactly the label-imbalance shape of
    the reference's screening corpora). Seeded and deterministic within
    Spark; invariant tests bound each stratum's realized rate."""
    li = load(spark, sf_dir, "lineitem")
    return li.sampleBy(
        "l_returnflag", fractions={"A": 0.05, "N": 0.02, "R": 1.0}, seed=42
    ).select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")


def _views(spark: SparkSession, sf_dir: str, suffix: str, *tables: str) -> dict[str, str]:
    """Register ``load``'s relation of each table as the temp view
    ``{table}_{suffix}`` and return {table: view name}: SQL text over
    these views shares ``load``'s memo and drift repairs, where a
    ``parquet.`path``` read would infer every footer again on each
    build (``sql_params`` does the same for one table)."""
    names = {t: f"{t}_{suffix}" for t in tables}
    for t, name in names.items():
        load(spark, sf_dir, t).createOrReplaceTempView(name)
    return names


_SUBQUERY_SQL_BODY = """
SELECT c_custkey, c_acctbal,
       (SELECT count(*) FROM {orders} o
         WHERE o.o_custkey = c.c_custkey)                 AS n_orders,
       round((SELECT max(o_totalprice) FROM {orders} o
               WHERE o.o_custkey = c.c_custkey), 2)       AS max_order
FROM {customer} c
WHERE EXISTS (SELECT 1 FROM {orders} o
               WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
  AND c.c_custkey NOT IN (SELECT o_custkey FROM {orders}
                           WHERE o_orderstatus = 'F' AND o_custkey IS NOT NULL
                           AND o_totalprice < 10000)
"""


@query(
    "sql_subqueries",
    oracle=_SUBQUERY_SQL_BODY.format(orders="orders", customer="customer"),
)
def sql_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-frontend subquery surface: EXISTS (→ left-semi), NOT IN with
    its three-valued-logic null trap (→ null-aware anti join), and
    correlated scalar subqueries (→ aggregated left outer joins).
    Catalyst de-correlates all of them into joins — the identical SQL
    text runs on both engines, so this also proves dialect-portable
    query text survives the frontend."""
    return spark.sql(
        _SUBQUERY_SQL_BODY.format(**_views(spark, sf_dir, "sq", "orders", "customer"))
    )


_RECURSIVE_SQL = """
WITH RECURSIVE chain(c_custkey, depth, path_bal) AS (
  SELECT c_custkey, 0 AS depth, c_acctbal AS path_bal
  FROM {customer} WHERE c_custkey = 1
  UNION ALL
  SELECT c.c_custkey, chain.depth + 1, chain.path_bal + c.c_acctbal
  FROM {customer} c JOIN chain ON c.c_custkey {intdiv} 2 = chain.c_custkey
  WHERE c.c_custkey BETWEEN 2 AND 255
)
SELECT c_custkey, depth, round(path_bal, 2) AS path_bal FROM chain
"""


@query(
    "sql_recursive_cte",
    oracle=_RECURSIVE_SQL.format(customer="customer", intdiv="//"),
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE): walk the implicit
    binary tree over c_custkey (parent = key div 2) from the root,
    accumulating depth and a running balance along each root-to-node
    path. Each node has exactly one path, so the float accumulation
    order is identical in every engine — the result is deterministic
    without intermediate rounding.

    Scale shape: each iteration is one distributed join of the
    frontier against the (filtered, re-scannable) base relation plus a
    union — state on executors, nothing driver-side grows with data;
    depth (8 levels here) bounds the iteration count, exactly how
    dedup_components' label propagation behaves. Integer division uses
    each dialect's operator (Spark ``div``, DuckDB ``//``) — the only
    non-portable token in an otherwise identical query text."""
    return spark.sql(
        _RECURSIVE_SQL.format(intdiv="div", **_views(spark, sf_dir, "rc", "customer"))
    )


_LATERAL_SQL_BODY = """
SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS o_totalprice
FROM {customer} c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM {orders} o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
WHERE c.c_custkey <= 300
"""


@query(
    "sql_lateral",
    oracle=_LATERAL_SQL_BODY.format(orders="orders", customer="customer"),
)
def sql_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated derived table: top-2 orders per customer via
    a per-row ordered-limit subquery — the SQL spelling of what
    `win_topk_group` does with a window, and the pattern ORMs and BI
    tools emit constantly.

    Catalyst decorrelates the LATERAL into a ranked join (it rewrites
    to the same window/limit machinery rather than executing a
    per-row subquery loop), so the plan scales like the window
    variant: one shuffle on the correlation key. Identical SQL text
    runs on both engines — DuckDB 1.0+ and Spark 3.2+ both speak
    LATERAL."""
    return spark.sql(
        _LATERAL_SQL_BODY.format(**_views(spark, sf_dir, "lat", "orders", "customer"))
    )


@query(
    "pivot_multi_agg",
    oracle="""
SELECT user_id % 50 AS bucket,
       count(*) FILTER (WHERE event_type = 'click')                 AS click_n,
       round(sum(value) FILTER (WHERE event_type = 'click'), 2)     AS click_val,
       count(*) FILTER (WHERE event_type = 'purchase')              AS purchase_n,
       round(sum(value) FILTER (WHERE event_type = 'purchase'), 2)  AS purchase_val,
       count(*) FILTER (WHERE event_type = 'error')                 AS error_n,
       round(sum(value) FILTER (WHERE event_type = 'error'), 2)     AS error_val
FROM events GROUP BY user_id % 50
""",
)
def pivot_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with MULTIPLE aggregates per pivot value (count + sum for
    each event type) — the wide-report shape `pivot_wide` covers for
    one measure, generalized. Spark names the columns
    <value>_<aggAlias>; the oracle states the same relation as
    FILTERed aggregates, which is exactly what Catalyst compiles an
    explicit-values pivot into: ONE hash aggregate, no join, no
    second scan.

    Explicit pivot values (the §2-bis `pivot_wide` rule) keep the
    plan static at 100 TB — inference would scan once just to learn
    the columns."""
    from systematic_review_classification_spark.sources.tables import load as _load

    ev = _load(spark, sf_dir, "events")
    pv = (
        ev.groupBy((F.col("user_id") % 50).alias("bucket"))
        .pivot("event_type", ["click", "purchase", "error"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("val"),
        )
    )
    # a bucket with NO rows for a pivot value gets NULL from pivot,
    # but COUNT of an empty set is 0 (the FILTERed-aggregate / SQL
    # semantics): coalesce the count columns; sums stay NULL
    return pv.select(
        "bucket",
        *[
            c
            for t in ("click", "purchase", "error")
            for c in (
                F.coalesce(F.col(f"{t}_n"), F.lit(0)).cast("bigint").alias(f"{t}_n"),
                F.col(f"{t}_val"),
            )
        ],
    )
