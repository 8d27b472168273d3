"""Category J (similarity half) — vector similarity search
(SURVEY.md §2.J).

The embedding column stays ``array<float>`` at the SQL boundary
(widened to double for math); MLlib VectorUDT appears only inside the
LSH estimator. Brute-force cosine is always blocked (label block here;
IVF-style centroid assignment at scale) — an unblocked cross join of
embeddings is never planned. All vector math is JVM higher-order
functions, not UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from systematic_review_classification_spark.functions.predicates import (
    clean_vec_sql,
    dominant_dim_only,
    finite,
    finite_array,
    modal_dim_sql,
    rnd,
)
from systematic_review_classification_spark.functions.seeded import md5_u32
from systematic_review_classification_spark.functions.vectors import (
    dbl,
    dot,
    norm,
    sqdist,
    sqnorm,
    total,
)
from systematic_review_classification_spark.registry import query
from systematic_review_classification_spark.sources.tables import load

_INF = float("inf")


@query(
    "sim_cosine_topk",
    oracle="""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
           WHERE {CLEAN_VEC}),
n AS (SELECT * FROM (
        SELECT vec_id, label, v,
               sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nn
        FROM e) WHERE nn > 0),
probes AS (SELECT * FROM n WHERE vec_id < 100),
pairs AS (
  SELECT p.vec_id AS id1, c.vec_id AS id2,
         round(list_reduce(list_transform(list_zip(p.v, c.v), q -> q[1] * q[2]), (a, b) -> a + b)
               / (p.nn * c.nn), 6) AS cos_sim
  FROM probes p JOIN n c ON p.label = c.label AND p.vec_id <> c.vec_id
                        AND len(p.v) = len(c.v))
SELECT id1, id2, cos_sim, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY id1 ORDER BY cos_sim DESC, id2) AS rn
  FROM pairs)
WHERE rn <= 3
""".replace("{CLEAN_VEC}", clean_vec_sql("embedding")),
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked brute-force cosine top-k: probe set ⋈ candidates within
    the same label block, zip_with dot product, windowed top-3.
    Ranking uses the rounded similarity + id tie-break → deterministic.
    Zero-norm vectors (all-zero embeddings — padding/failed encodes in
    a real corpus) are excluded up front: their cosine is undefined,
    and under ANSI mode the division would abort the whole job.
    Corrupt vectors (NULL/empty array, NULL/NaN/inf element) are
    excluded by finite_array — NaN norms pass a bare ``> 0`` on both
    engines (NaN-is-greatest) and then rank divergently — and pairs
    join only across EQUAL dimensions (a ragged row's dot product is
    undefined; zip padding would smuggle NULL similarities into the
    top-k). Ragged-vector world, round 9."""
    e = load(spark, sf_dir, "embeddings").filter(finite_array("embedding")).select(
        "vec_id", "label", dbl("embedding").alias("v")
    )
    # norms are computed per VECTOR before the join, not per pair —
    # inside the join each pair would re-reduce both 64-dim arrays,
    # tripling the HOF work (measured 2× slower at sf0.1)
    probes = e.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("id1"), F.col("label").alias("l1"),
        F.col("v").alias("v1"), norm("v").alias("n1"),
    ).filter(F.col("n1") > 0)
    cand = e.select(
        F.col("vec_id").alias("id2"), F.col("label").alias("l2"),
        F.col("v").alias("v2"), norm("v").alias("n2"),
    ).filter(F.col("n2") > 0)
    pairs = probes.join(
        cand,
        (F.col("l1") == F.col("l2"))
        & (F.col("id1") != F.col("id2"))
        & (F.size("v1") == F.size("v2")),
    ).select(
        "id1",
        "id2",
        F.round(
            dot("v1", "v2") / (F.col("n1") * F.col("n2")), 6
        ).alias("cos_sim"),
    )
    w = W.partitionBy("id1").orderBy(F.col("cos_sim").desc(), "id2")
    return pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


@query("sim_ann_lsh")  # rows-only: approximate by construction
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via random-projection LSH (seeded): bucketed
    candidate join instead of the full cross product — the scale path
    when blocks don't exist naturally. Local tests assert recall
    against the exact blocked result."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    # Hygiene must be NPE-proof under predicate pushdown: Catalyst
    # pushes approxSimilarityJoin's internal UDF predicates BELOW a
    # plain hygiene filter, so array_to_vector would still see the
    # corrupt row first. Substituting a valid zero vector inside the
    # expression (WHEN branches genuinely guard in codegen) means no
    # UDF anywhere in the reordered plan ever receives NULL; the _ok
    # filter then drops the sentinel rows from every result. The
    # corpus dimension is the MODAL size over clean rows (smallest-dim
    # tie-break — same total order as dominant_dim_only): a clean but
    # RAGGED row (8-dim in a 16-dim corpus, ragged-vector world r9) is
    # corrupt input too, sentinel-substituted and dropped by _ok, so
    # the hash UDF only ever sees modal-dim vectors. One tiny
    # per-dimension count aggregate (bytes ∝ #distinct dims) yields
    # the modal dim AND the empty-relation guard in one scan.
    clean = finite_array("embedding")
    raw = load(spark, sf_dir, "embeddings")
    dim_rows = (
        raw.filter(clean).groupBy(F.size("embedding").alias("d")).count().collect()
    )
    # BRP-LSH fit() derives its random projections from the input dim
    # and aborts on an empty relation — zero candidates is the honest
    # degenerate answer
    if not dim_rows:
        return spark.createDataFrame([], "id1 long, id2 long, l2_dist double")
    modal = min(dim_rows, key=lambda r: (-r["count"], r["d"]))["d"]
    ok = clean & (F.size("embedding") == F.lit(int(modal)))
    e = (
        raw.select(
            "vec_id",
            array_to_vector(
                F.when(ok, dbl("embedding")).otherwise(
                    F.array_repeat(F.lit(0.0), F.lit(int(modal)))
                )
            ).alias("vec"),
            ok.alias("_ok"),
        )
        .filter(F.col("_ok"))
        .drop("_ok")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="vec", outputCol="buckets", bucketLength=2.0, numHashTables=4, seed=42
    ).fit(e)
    probes = e.filter(F.col("vec_id") < 50)
    pairs = lsh.approxSimilarityJoin(probes, e, 6.0, distCol="l2_dist")
    return pairs.select(
        F.col("datasetA.vec_id").alias("id1"),
        F.col("datasetB.vec_id").alias("id2"),
        F.round("l2_dist", 6).alias("l2_dist"),
    ).filter(F.col("id1") != F.col("id2"))


@query(
    "sim_centroid",
    oracle="""
WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
x AS (SELECT label, unnest(v) AS val, unnest(range(0, len(v))) AS pos FROM e)
SELECT label, pos, round(avg(val), 6) AS centroid_val
FROM x GROUP BY label, pos
""",
)
def sim_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids in long form (label, dimension, mean):
    posexplode → (label, pos) hash aggregate — elementwise mean without
    ever holding a vector per group in driver memory."""
    e = load(spark, sf_dir, "embeddings").select(
        "label", F.posexplode(dbl("embedding")).alias("pos", "val")
    )
    return e.groupBy("label", "pos").agg(F.round(F.avg("val"), 6).alias("centroid_val"))


@query(
    "mm_vector_norm",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT vec_id,
       round(CASE WHEN len(v) = 0 THEN 0.0
             ELSE sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b))
             END, 6) AS l2,
       round(v[1] / nullif(CASE WHEN len(v) = 0 THEN 0.0
             ELSE sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b))
             END, 0), 6) + 0.0 AS unit_first,
       round(v[1] * 2 + 1, 6) + 0.0 AS scaled_first,
       round(CASE WHEN len(v) = 0 THEN 0.0
             ELSE list_reduce(v, (a, b) -> a + b) END, 6) + 0.0 AS comp_sum
FROM e
""",
)
def mm_vector_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column math: L2 norm, normalization, affine scale,
    component sum — all higher-order functions, zero Python. A
    zero-norm vector normalizes to NULL (undefined direction) rather
    than aborting the job under ANSI division.

    Per-ROW math, so corrupt vectors are PRESERVED with propagated
    NULL/degenerate stats instead of being dropped (unlike the
    pairwise/MLlib family): an empty array has norm 0 and component
    sum 0 on both engines (the oracle's len=0 CASE guards DuckDB's
    list_reduce, which ERRORS on empty input where Spark's aggregate
    returns the init), its first element is NULL via try_element_at
    (plain element_at ABORTS under ANSI — ragged-vector world r9),
    and NaN/inf elements flow through IEEE semantics identically."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", dbl("embedding").alias("v"))
    n = norm("v")
    first = F.try_element_at("v", F.lit(1))
    # unit_first / comp_sum are zero-able derived doubles → rnd()'s
    # signed-zero snap (an all--0.0 vector folds to -0.0 under
    # DuckDB's init-less list_reduce but +0.0 under Spark's 0.0-init
    # aggregate); l2 is sqrt-nonnegative, plain round
    return e.select(
        "vec_id",
        F.round(n, 6).alias("l2"),
        rnd(first / F.nullif(n, F.lit(0.0))).alias("unit_first"),
        rnd(first * 2 + 1).alias("scaled_first"),
        rnd(total("v")).alias("comp_sum"),
    )


@query(
    "grp_pandas_normalize",
    oracle="""
SELECT c_custkey,
       round((c_acctbal - avg(c_acctbal) OVER (PARTITION BY c_mktsegment))
             / stddev_samp(c_acctbal) OVER (PARTITION BY c_mktsegment), 6) AS z
FROM customer WHERE isfinite(c_acctbal)
""",
)
def grp_pandas_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map transform: z-score per market segment via
    applyInPandas — the Arrow-batched escape hatch for semantics the
    built-ins can't express (here they can, which is exactly why it is
    oracle-checkable against the window formulation). Finite
    balances only on both engines: pandas mean/std silently SKIP NaN
    while DuckDB's window stddev errors out of range on inf — a
    corrupt balance is excluded from the normalization, explicitly."""
    import pandas as pd

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        z = (pdf["c_acctbal"] - pdf["c_acctbal"].mean()) / pdf["c_acctbal"].std(ddof=1)
        return pd.DataFrame({"c_custkey": pdf["c_custkey"], "z": z.round(6)})

    c = load(spark, sf_dir, "customer").filter(finite("c_acctbal"))
    return c.groupBy("c_mktsegment").applyInPandas(zscore, "c_custkey long, z double")


@query("sim_ivf_topk")  # rows-only: cell assignment is model-dependent
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: a seeded KMeans coarse quantizer assigns every
    vector to a cell; probes search only their own cell's inverted
    list. This is the scale path when no natural block exists: the
    pairwise work drops from O(n^2) to O(n^2/k) with recall controlled
    by nprobe (1 here). Local tests check recall against the exact
    scan. The inner pairwise core reuses the zip_with dot product -
    all JVM, no UDF."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = (
        load(spark, sf_dir, "embeddings")
        .filter(finite_array("embedding"))
        .select("vec_id", dbl("embedding").alias("v"))
        # a zero vector has no cosine direction, and its norm would
        # ANSI-abort the similarity division — same policy as
        # sim_cosine_topk
        .filter(F.exists("v", lambda x: x != 0))
    )
    feat = e.withColumn("features", array_to_vector("v"))
    # MLlib KMeans aborts (k-means|| init) with fewer distinct points
    # than k — a corpus that degenerate has no meaningful cells anyway
    if feat.agg(F.countDistinct(F.xxhash64("features"))).first()[0] < 8:
        return spark.createDataFrame(
            [], "id1 long, id2 long, cos_sim double, rn int"
        )
    model = KMeans(k=8, seed=42, maxIter=20).fit(feat)
    cells = model.transform(feat).select(
        "vec_id", "v", F.col("prediction").alias("cell")
    )
    probes = cells.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("id1"), F.col("v").alias("v1"),
        F.col("cell").alias("c1"), norm("v").alias("n1"),
    )
    cand = cells.select(
        F.col("vec_id").alias("id2"), F.col("v").alias("v2"),
        F.col("cell").alias("c2"), norm("v").alias("n2"),
    )
    pairs = probes.join(
        cand, (F.col("c1") == F.col("c2")) & (F.col("id1") != F.col("id2"))
    ).select(
        "id1",
        "id2",
        F.round(
            dot("v1", "v2") / (F.col("n1") * F.col("n2")), 6
        ).alias("cos_sim"),
    )
    w = W.partitionBy("id1").orderBy(F.col("cos_sim").desc(), "id2")
    return pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


@query(
    "sim_bruteforce_topk",
    oracle="""
WITH e AS (SELECT * FROM (
       SELECT vec_id, embedding::DOUBLE[] AS v,
              sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                               (a, b) -> a + b)) AS nn
       FROM embeddings
       WHERE {CLEAN_VEC} AND {MODAL_DIM}) WHERE nn > 0 AND isfinite(nn)),
probes AS (SELECT * FROM e WHERE vec_id < 100),
pairs AS (
  SELECT p.vec_id AS id1, c.vec_id AS id2,
         round(list_reduce(list_transform(list_zip(p.v, c.v), q -> q[1] * q[2]), (a, b) -> a + b)
               / (p.nn * c.nn), 6) AS cos_sim
  FROM probes p JOIN e c ON p.vec_id <> c.vec_id)
SELECT id1, id2, cos_sim, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY id1 ORDER BY cos_sim DESC, id2) AS rn
  FROM pairs)
WHERE rn <= 3
""".replace("{CLEAN_VEC}", clean_vec_sql("embedding")).replace(
        "{MODAL_DIM}", modal_dim_sql("embedding", "embeddings")
    ),
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global cosine top-k with NO natural blocks: distributed
    block-nested-loop. Candidates hash into B blocks; probes replicate
    to every block; a cogrouped applyInPandas computes one numpy
    matmul per (probe-slice x block) and keeps only the block-local
    top-3 under the (rounded sim DESC, id2) total order; a final
    window over the B x 3 survivors per probe yields the global top-3.

    Scale shape: the only wide exchanges are two hash partitionings on
    blk; per-task work is a dense GEMM (Arrow in, numpy, Arrow out);
    the merge input is bounded at B*k rows per probe regardless of
    corpus size. B scales with the corpus so each block fits a task —
    compute is inherently O(probes x corpus) because exact top-k over
    unstructured vectors IS that; when the budget won't pay it,
    sim_ann_lsh / sim_ivf_topk are the approximate tiers. Block-local
    top-3 loses nothing: the global top-3 under a total order is a
    subset of the union of block top-3s."""
    import numpy as np
    import pandas as pd

    B = 8
    # clean + MODAL-DIM rows only: np.stack cannot stack ragged rows,
    # so a single 8-dim vector in a 16-dim corpus would abort every
    # task whose block it lands in (ragged-vector world, round 9)
    e = dominant_dim_only(
        load(spark, sf_dir, "embeddings").filter(finite_array("embedding"))
    ).select("vec_id", dbl("embedding").alias("v"))
    # zero-norm AND non-finite vectors out before the GEMM: numpy
    # would emit NaN rows (0/0, inf-inf) that rank nondeterministically
    # vs the oracle — note NaN > 0 is TRUE under both engines'
    # NaN-is-greatest comparison rule, so `> 0` alone keeps NaN norms
    e = e.withColumn("_nn", norm("v")).filter(
        (F.col("_nn") > 0) & finite("_nn")
    ).drop("_nn")
    probes = (
        e.filter(F.col("vec_id") < 100)
        .crossJoin(spark.range(B).select(F.col("id").cast("int").alias("blk")))
        .select("blk", F.col("vec_id").alias("id1"), F.col("v").alias("v1"))
    )
    cands = e.select(
        F.pmod(F.col("vec_id"), F.lit(B)).cast("int").alias("blk"),
        F.col("vec_id").alias("id2"),
        F.col("v").alias("v2"),
    )

    def block_topk(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return pd.DataFrame({"id1": [], "id2": [], "cos_sim": []}).astype(
                {"id1": "int64", "id2": "int64", "cos_sim": "float64"}
            )
        Q = np.stack(left["v1"].to_numpy())
        C = np.stack(right["v2"].to_numpy())
        qid = left["id1"].to_numpy()
        cid = right["id2"].to_numpy()
        sims = (Q @ C.T) / np.outer(
            np.linalg.norm(Q, axis=1), np.linalg.norm(C, axis=1)
        )
        sims = np.round(sims, 6)
        out = []
        for i in range(len(qid)):
            row = sims[i]
            mask = cid != qid[i]
            order = np.lexsort((cid[mask], -row[mask]))[:3]
            ids = cid[mask][order]
            out.append(
                pd.DataFrame(
                    {"id1": qid[i], "id2": ids, "cos_sim": row[mask][order]}
                )
            )
        return pd.concat(out, ignore_index=True)

    local = (
        probes.groupBy("blk")
        .cogroup(cands.groupBy("blk"))
        .applyInPandas(block_topk, "id1 long, id2 long, cos_sim double")
    )
    w = W.partitionBy("id1").orderBy(F.col("cos_sim").desc(), "id2")
    return local.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


@query(
    "mm_embed_quantize",
    oracle="""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
  WHERE {CLEAN_VEC}),
m AS (
  SELECT vec_id, e,
         list_aggregate(e, 'min') AS mn,
         list_aggregate(e, 'max') AS mx
  FROM v)
SELECT vec_id,
       CAST(len(e) AS INTEGER) AS n_dims,
       round(mn, 6) + 0.0 AS vmin,
       round(mx, 6) + 0.0 AS vmax,
       CAST(CASE WHEN mx = mn THEN 0
            WHEN NOT isfinite(mx - mn) THEN NULL
            ELSE list_sum(list_transform(e,
                 x -> CAST(floor((x - mn) / (mx - mn) * 255.0) AS BIGINT)))
            END AS BIGINT) AS qsum
FROM m
""".replace("{CLEAN_VEC}", clean_vec_sql("embedding")),
)
def mm_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8-range quantization (the storage/serving format
    for billion-scale ANN): affine-map each embedding onto 0..255 with
    its own min/max, emit the quantized checksum. All row-local JVM
    higher-order functions — zero shuffles, embarrassingly parallel.

    Cross-engine determinism: floats are cast to double BEFORE any
    arithmetic (both engines then run the same IEEE ops in the same
    order), the bucket index uses floor — identical everywhere —
    rather than round (whose half-way tie rule differs by engine),
    and the checksum sums bigints, so it is order-independent.
    Corrupt vectors are dropped on both engines: a NaN element makes
    mx NaN on both, but then DuckDB's CAST(floor(NaN) AS BIGINT)
    ABORTS where Spark's branch logic may not reach it, and an empty
    array ERRORS DuckDB's list math (ragged-vector world, r9)."""
    e = (
        load(spark, sf_dir, "embeddings")
        .filter(finite_array("embedding"))
        .select("vec_id", dbl("embedding").alias("v"))
    )
    mn, mx = F.array_min("v"), F.array_max("v")
    # Normalize BEFORE scaling: (x-mn)/(mx-mn) ∈ [0,1] cannot overflow
    # when mx-mn is finite, where ((x-mn)*255) hits inf already at
    # spans > DBL_MAX/255 ≈ 7e305 (r9 advice). The remaining abort
    # path — finite opposite-sign extrema near DBL_MAX making
    # mx-mn = inf, so inf/inf = NaN and the BIGINT cast aborts both
    # engines — gets the explicit isfinite(mx-mn) escape (qsum NULL:
    # corrupt scale, not a crash), mirroring the mx = mn branch.
    q = F.transform(
        "v", lambda x: F.floor((x - mn) / (mx - mn) * 255.0).cast("bigint")
    )
    qsum = (
        F.when(mx == mn, F.lit(0))
        .when((mx - mn) == F.lit(_INF), F.lit(None))
        .otherwise(F.aggregate(q, F.lit(0).cast("bigint"), lambda s, x: s + x))
    )
    # vmin/vmax through rnd()'s signed-zero snap: an all--0.0 vector's
    # extrema are -0.0 on DuckDB, +0.0 after Spark's round (r9)
    return e.select(
        "vec_id",
        F.size("v").alias("n_dims"),
        rnd(mn).alias("vmin"),
        rnd(mx).alias("vmax"),
        qsum.cast("bigint").alias("qsum"),
    )


@query(
    "sim_topk_int8",
    oracle="""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (
  SELECT vec_id, label,
         CASE WHEN greatest(abs(list_aggregate(v, 'min')),
                            abs(list_aggregate(v, 'max'))) = 0
              THEN list_transform(v, x -> CAST(0 AS BIGINT))
              ELSE list_transform(v, x -> CAST(floor(
                     x * 127.0 / greatest(abs(list_aggregate(v, 'min')),
                                          abs(list_aggregate(v, 'max'))))
                   AS BIGINT)) END AS c
  FROM e
  WHERE isfinite(greatest(abs(list_aggregate(v, 'min')),
                          abs(list_aggregate(v, 'max'))))),
pairs AS (
  SELECT p.vec_id AS id1, c.vec_id AS id2,
         CAST(list_reduce(list_transform(list_zip(p.c, c.c),
              t -> t[1] * t[2]), (a, b) -> a + b) AS BIGINT) AS qdot
  FROM q p JOIN q c ON p.label = c.label AND p.vec_id <> c.vec_id
  WHERE p.vec_id < 100)
SELECT id1, id2, qdot, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY id1 ORDER BY qdot DESC, id2) AS rn
  FROM pairs)
WHERE rn <= 3
""",
)
def sim_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized similarity search: symmetric per-vector int8
    quantization (floor(x·127/max|x|)), then INTEGER dot products
    rank candidates — the memory-bound serving path for billion-scale
    ANN (4× smaller vectors than float32, SIMD integer math, and the
    scoring is bit-exact reproducible across engines, which float
    dot products are not — hence a full value-hash oracle, where the
    float variant `sim_cosine_topk` must round).

    Scale shape mirrors `sim_cosine_topk`: codes computed per vector
    BEFORE the join (row-local HOFs), label-blocked candidate join
    bounds the pairwise work, per-probe top-3 window. Swap the label
    block for an IVF cell (`sim_ivf_topk`) at 100 TB."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", dbl("embedding").alias("v")
    )
    mxabs = F.greatest(
        F.abs(F.array_min(F.col("v"))), F.abs(F.array_max(F.col("v")))
    )
    codes = F.when(
        mxabs == 0, F.transform(F.col("v"), lambda x: F.lit(0).cast("bigint"))
    ).otherwise(
        F.transform(F.col("v"), lambda x: F.floor(x * 127.0 / mxabs).cast("bigint"))
    )
    # a vector with a NaN/inf component has no quantization scale —
    # floor(NaN)'s ANSI bigint cast aborts — filtered on both engines
    q = e.filter(finite(mxabs)).select("vec_id", "label", codes.alias("c"))
    probes = q.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("id1"), F.col("label").alias("l1"),
        F.col("c").alias("c1"),
    )
    cand = q.select(
        F.col("vec_id").alias("id2"), F.col("label").alias("l2"),
        F.col("c").alias("c2"),
    )
    # |code| <= 127 over 64 dims: the double fold is exact
    pairs = probes.join(
        cand, (F.col("l1") == F.col("l2")) & (F.col("id1") != F.col("id2"))
    ).select("id1", "id2", dot("c1", "c2").cast("bigint").alias("qdot"))
    w = W.partitionBy("id1").orderBy(F.col("qdot").desc(), "id2")
    return pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


@query("sim_pq_adc")  # rows-only: learned codebooks are model-dependent
def sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization with asymmetric distance computation (ADC)
    — the memory-side of a billion-scale ANN index (IVF-PQ): 64-dim
    vectors split into 8 subspaces of 8 dims; each subspace gets a
    seeded 16-centroid KMeans codebook; every corpus vector compresses
    to 8 one-byte codes (64 bytes -> 8 bytes).

    Query scoring never decompresses the corpus: per query, the
    distances from the query's 8 subvectors to all 8x16 centroids form
    a 128-entry lookup table (broadcast — |Q| x 128 rows), and a corpus
    vector's approximate squared L2 is the sum of 8 table lookups,
    joined on (subspace, code). That join + hash-agg + per-query top-k
    window is the whole read path — the corpus side touches only the
    8-byte codes, which is exactly why PQ scans survive at 100 TB
    (reads scale with compressed size). Recall and reproducibility are
    pinned in tests/test_invariants.py. At full scale the corpus side
    is additionally IVF-blocked (sim_ivf_topk) before ADC scoring."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    M, K, D = 8, 16, 64  # subspaces, centroids each, total dims
    emb = (
        load(spark, sf_dir, "embeddings")
        .filter(finite_array("embedding"))  # PQ codebooks abort on NaN/Inf
        .select("vec_id", dbl("embedding").alias("v"))
    )
    # (vec_id, m, subvec[8]) — slice() is 1-indexed
    subs = emb.select(
        "vec_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(M - 1)),
                lambda m: F.struct(
                    m.alias("m"),
                    F.slice("v", m * (D // M) + 1, D // M).alias("sub"),
                ),
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.sub").alias("sub"))
    subs = subs.withColumn("fv", array_to_vector("sub")).cache()

    # every one of the M codebooks is a k=16 KMeans, and MLlib KMeans
    # aborts with fewer distinct points than k — guard on the SPARSEST
    # subspace (one map-side-combined agg over the cached slices)
    min_distinct = (
        subs.groupBy("m")
        .agg(F.countDistinct(F.xxhash64("sub")).alias("d"))
        .agg(F.coalesce(F.min("d"), F.lit(0)))
        .first()[0]
    )
    if min_distinct < K:
        subs.unpersist()
        return spark.createDataFrame([], "qid long, vec_id long, adc_d2 double")

    # The M codebook fits are INDEPENDENT seeded KMeans jobs on
    # disjoint slices of the cached subvectors — submit them from a
    # small driver thread pool so each fit's straggler tail
    # back-fills with the next fit's tasks (guide §2.6 overlap
    # pattern; 13.8 → 8.1 s at sf0.1, r11). Results are byte-identical
    # to the sequential loop: every fit is seeded, slices are
    # disjoint, and codes/books are reassembled in subspace order.
    from concurrent.futures import ThreadPoolExecutor

    def fit_one(m: int):
        km = KMeans(k=K, seed=100 + m, maxIter=5, featuresCol="fv")
        part = subs.where(F.col("m") == m)
        model = km.fit(part)
        coded = model.transform(part).select(
            "vec_id", F.lit(m).alias("m"), F.col("prediction").alias("code")
        )
        centers = spark.createDataFrame(
            [(m, i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
            "m int, code int, center array<double>",
        )
        return coded, centers

    with ThreadPoolExecutor(max_workers=4) as pool:
        fitted = list(pool.map(fit_one, range(M)))
    codes = None
    books = []
    for coded, centers in fitted:
        codes = coded if codes is None else codes.unionByName(coded)
        books.append(centers)
    codebook = books[0]
    for b in books[1:]:
        codebook = codebook.unionByName(b)

    queries = subs.where(F.col("vec_id") % 29 == 0).select(
        F.col("vec_id").alias("qid"), "m", F.col("sub").alias("qsub")
    )
    # per-query LUT: squared L2 from each query subvector to each centroid
    lut = queries.join(F.broadcast(codebook), "m").select(
        "qid", "m", "code", sqdist("qsub", "center").alias("d2")
    )
    scored = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .where(F.col("qid") != F.col("vec_id"))
        .groupBy("qid", "vec_id")
        .agg(F.round(F.sum("d2"), 6).alias("adc_d2"))
    )
    w = W.partitionBy("qid").orderBy("adc_d2", "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .drop("rn")
    )


@query(
    "wl_embedding_drift",
    oracle="""
WITH e AS (SELECT vec_id, label, vec_id % 2 AS half, embedding::DOUBLE[] AS v
           FROM embeddings),
dims AS (
  SELECT label, half, i, avg(v[i]) AS c
  FROM e CROSS JOIN UNNEST(range(1, len(v) + 1)) AS r(i)
  WHERE i <= len(v)
  GROUP BY label, half, i),
pair AS (
  SELECT a.label,
         sum(a.c * b.c) AS dot,
         sqrt(sum(a.c * a.c)) AS na, sqrt(sum(b.c * b.c)) AS nb
  FROM dims a JOIN dims b ON a.label = b.label AND a.i = b.i
  WHERE a.half = 0 AND b.half = 1
  GROUP BY a.label)
SELECT label, round(dot / (na * nb), 6) AS centroid_cos
FROM pair WHERE na > 0 AND nb > 0
""",
)
def wl_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-drift monitor: split the vector population into two
    cohorts (even/odd id — stand-ins for last-week/this-week), compare
    per-label CENTROIDS by cosine. Near-1 cosine = stable manifold;
    a drop says the upstream encoder or data mix moved — the standard
    serve-time drift alarm for vector search.

    Centroids via posexplode + (label, half, dim) hash agg — the
    sim_centroid shape, linear, partial-aggregating; the final cosine
    touches |labels| × dims rows only. Never pairs raw vectors."""
    e = load(spark, sf_dir, "embeddings").select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        dbl("embedding").alias("v"),
    )
    dims = (
        e.select("label", "half", F.posexplode("v").alias("i", "x"))
        .groupBy("label", "half", "i")
        .agg(F.avg("x").alias("c"))
    )
    a = dims.filter(F.col("half") == 0).select(
        "label", "i", F.col("c").alias("ca")
    )
    b = dims.filter(F.col("half") == 1).select(
        F.col("label").alias("lb"), F.col("i").alias("ib"), F.col("c").alias("cb")
    )
    pair = (
        a.join(b, (a.label == b.lb) & (a.i == b.ib))
        .groupBy("label")
        .agg(
            F.sum(F.col("ca") * F.col("cb")).alias("dot"),
            F.sqrt(F.sum(F.col("ca") * F.col("ca"))).alias("na"),
            F.sqrt(F.sum(F.col("cb") * F.col("cb"))).alias("nb"),
        )
    )
    return pair.filter((F.col("na") > 0) & (F.col("nb") > 0)).select(
        "label", F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("centroid_cos")
    )


@query(
    "ml_knn_classify",
    oracle="""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
           WHERE {CLEAN_VEC}),
n AS (SELECT * FROM (
        SELECT vec_id, label, v,
               sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nn
        FROM e) WHERE nn > 0),
q AS (SELECT * FROM n WHERE vec_id % 25 = 0),
c AS (SELECT * FROM n WHERE vec_id % 25 <> 0),
sims AS (
  SELECT q.vec_id AS qid, q.label AS true_label, c.vec_id AS cid, c.label AS clabel,
         round(list_reduce(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2]),
                           (a, b) -> a + b) / (q.nn * c.nn), 9) AS sim
  FROM q CROSS JOIN c WHERE len(q.v) = len(c.v)),
top AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
        FROM sims),
votes AS (SELECT qid, true_label, clabel, count(*) AS nv
          FROM top WHERE rn <= 3 GROUP BY qid, true_label, clabel),
pred AS (SELECT qid, true_label, clabel AS pred_label,
                row_number() OVER (PARTITION BY qid ORDER BY nv DESC, clabel) AS pr
         FROM votes)
SELECT qid AS vec_id, true_label, pred_label,
       CASE WHEN pred_label = true_label THEN 1 ELSE 0 END AS correct
FROM pred WHERE pr = 1
""".replace("{CLEAN_VEC}", clean_vec_sql("embedding")),
)
def ml_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classifier (k=3, cosine, majority vote with deterministic
    tie-breaks) over the embedding table: every 25th vector is a query
    classified from the rest — the vector-search SERVING loop as a
    relation. Queries are the SMALL side and broadcast, so the
    candidate corpus never shuffles; at 100 TB the cross probe is
    replaced by sim_ivf_topk's cell-blocked candidates and this exact
    vote tail is unchanged. Similarities rank on a 9-dp rounding so
    both engines cut identical neighbor sets; votes tie-break to the
    smallest label.
    Hygiene (ragged-vector world r9): corrupt vectors dropped via
    finite_array (a NaN norm passes a bare > 0 on both engines and
    then ranks divergently); query/candidate pairs join only across
    equal dimensions (ragged dot products are undefined)."""
    e = load(spark, sf_dir, "embeddings").filter(finite_array("embedding")).select(
        "vec_id", "label", dbl("embedding").alias("v")
    )
    n = e.select("vec_id", "label", "v", norm("v").alias("nn")).filter(F.col("nn") > 0)
    q = n.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("true_label"),
        F.col("v").alias("qv"),
        F.col("nn").alias("qn"),
    )
    c = n.filter(F.col("vec_id") % 25 != 0).select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clabel"),
        F.col("v").alias("cv"),
        F.col("nn").alias("cn"),
    )
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.size("qv") == F.size("cv"))
        .select(
            "qid",
            "true_label",
            "cid",
            "clabel",
            F.round(dot("qv", "cv") / (F.col("qn") * F.col("cn")), 9).alias("sim"),
        )
    )
    from pyspark.sql import Window as W

    top = sims.withColumn(
        "rn",
        F.row_number().over(W.partitionBy("qid").orderBy(F.col("sim").desc(), "cid")),
    ).filter(F.col("rn") <= 3)
    votes = top.groupBy("qid", "true_label", "clabel").agg(
        F.count(F.lit(1)).alias("nv")
    )
    pred = votes.withColumn(
        "pr",
        F.row_number().over(
            W.partitionBy("qid").orderBy(F.col("nv").desc(), "clabel")
        ),
    ).filter(F.col("pr") == 1)
    return pred.select(
        F.col("qid").alias("vec_id"),
        "true_label",
        F.col("clabel").alias("pred_label"),
        F.when(F.col("clabel") == F.col("true_label"), 1).otherwise(0).alias("correct"),
    )


@query(
    "sim_rp_lsh",
    oracle="""
WITH rr AS (
  SELECT i, d,
         CAST(CAST(('0x' || substring(md5(i::VARCHAR || ':' || d::VARCHAR), 1, 8))
                   AS BIGINT) AS DOUBLE) / 4294967296.0 - 0.5 AS rv
  FROM (SELECT unnest(range(0, 16)) AS i), (SELECT unnest(range(1, 65)) AS d)),
r AS (SELECT i, list(rv ORDER BY d) AS rvec FROM rr GROUP BY i),
e AS (SELECT vec_id, v FROM (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                            (a, b) -> a + b)) AS nn0
    FROM embeddings WHERE {CLEAN_VEC}) WHERE nn0 > 0),
proj AS (
  SELECT vec_id, i,
         list_reduce(list_transform(list_zip(v, rvec), p -> p[1] * p[2]),
                     (a, b) -> a + b) AS pr
  FROM e CROSS JOIN r),
sig AS (
  SELECT vec_id, i // 8 AS band,
         CAST(sum(CASE WHEN pr > 0 THEN CAST(pow(2, i % 8) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS bkey
  FROM proj GROUP BY vec_id, i // 8),
cand AS (
  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
  FROM sig a JOIN sig b
    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
ev AS (SELECT vec_id, v,
              sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nn
       FROM e)
SELECT id1, id2,
       round(list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]),
                         (x, y) -> x + y) / (a.nn * b.nn), 6) AS cos_sim
FROM cand JOIN ev a ON a.vec_id = id1 JOIN ev b ON b.vec_id = id2
WHERE list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]),
                  (x, y) -> x + y) / (a.nn * b.nn) >= 0.3
""".replace("{CLEAN_VEC}", clean_vec_sql("embedding")),
)
def sim_rp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection (SimHash-for-cosine) LSH with PORTABLE
    pseudo-random hyperplanes: component r(i,d) is md5-prefix
    arithmetic, so — unlike BucketedRandomProjectionLSH's JVM-seeded
    planes (sim_ann_lsh, rows-only) — the whole ANN pipeline is
    bit-equal in any engine and therefore end-to-end oracle-checkable.
    16 sign bits banded 2×8 (the minhash S-curve trick, here for the
    COSINE metric): candidates pair on (band, 8-bit bucket) equi-join,
    exact cosine verifies only candidates.

    Scale shape: the 16×64 plane matrix is a BROADCAST relation; each
    projection is a JVM higher-order fold (deterministic left-to-right
    order — no explode+groupBy whose re-association could flip a
    near-zero sign); signatures are one groupBy(vec); the bucket join
    is sub-quadratic. The verify kernel is dedup_embed_cos's."""
    dims = (
        spark.range(0, 16)
        .select(F.col("id").cast("int").alias("i"))
        .crossJoin(spark.range(1, 65).select(F.col("id").cast("int").alias("d")))
    )
    rv = md5_u32("i", "':'", "d").cast("double") / 4294967296.0 - 0.5
    r = (
        dims.select("i", "d", rv.alias("rv"))
        .groupBy("i")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("d", "rv"))), lambda s: s.rv
            ).alias("rvec")
        )
    )
    # clean vectors with a DEFINED DIRECTION only (ragged-vector world
    # r9): an all-zero/-0.0 vector projects to bkey 0 in every band,
    # buckets with every other degenerate row, and the verify's
    # cos = 0/0 ABORTS under ANSI; NaN/empty rows are corrupt input
    e = load(spark, sf_dir, "embeddings").filter(finite_array("embedding")).select(
        "vec_id", dbl("embedding").alias("v")
    )
    e = e.withColumn("nn", norm("v")).filter(F.col("nn") > 0)
    proj = e.crossJoin(F.broadcast(r)).select("vec_id", "i", dot("v", "rvec").alias("pr"))
    sig = proj.groupBy(
        "vec_id", F.expr("i div 8").alias("band")
    ).agg(
        F.sum(
            F.when(F.col("pr") > 0, F.pow(2, F.col("i") % 8).cast("bigint")).otherwise(0)
        )
        .cast("bigint")
        .alias("bkey")
    )
    a, b = sig.alias("a"), sig.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("id1"), F.col("b.vec_id").alias("id2"))
        .distinct()
    )
    out = (
        cand.join(
            e.select(
                F.col("vec_id").alias("id1"), F.col("v").alias("v1"), F.col("nn").alias("n1")
            ),
            "id1",
        )
        .join(
            e.select(
                F.col("vec_id").alias("id2"), F.col("v").alias("v2"), F.col("nn").alias("n2")
            ),
            "id2",
        )
        .select("id1", "id2", (dot("v1", "v2") / (F.col("n1") * F.col("n2"))).alias("cos"))
    )
    return out.filter(F.col("cos") >= 0.3).select(
        "id1", "id2", F.round("cos", 6).alias("cos_sim")
    )


@query(
    "sim_semdedup_centroid",
    oracle="""
WITH e AS (
  SELECT * FROM (
    SELECT vec_id, label, embedding::DOUBLE[] AS v,
           sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                            (a, b) -> a + b)) AS vnorm
    FROM embeddings
    WHERE {CLEAN_VEC} AND {MODAL_DIM}) WHERE vnorm > 0),
d AS (
  SELECT label, i, avg(v[i]) AS c
  FROM e CROSS JOIN UNNEST(range(1, len(v) + 1)) AS r(i)
  GROUP BY label, i),
cn AS (SELECT label, sqrt(sum(c * c)) AS cnorm FROM d GROUP BY label
       HAVING sqrt(sum(c * c)) > 0),
item AS (
  SELECT e.vec_id, e.label,
         sum(v[d.i] * d.c) AS dot,
         sqrt(sum(v[d.i] * v[d.i])) AS vn
  FROM e JOIN d ON e.label = d.label GROUP BY e.vec_id, e.label)
SELECT item.label,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CASE WHEN dot / (vn * cnorm) >= 0.25 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup,
       round(1.0 - sum(CASE WHEN dot / (vn * cnorm) >= 0.25 THEN 1 ELSE 0 END)
               / count(*), 6) AS keep_rate,
       round(avg(dot / (vn * cnorm)), 6) AS mean_cos
FROM item JOIN cn USING (label) GROUP BY item.label
""".replace("{CLEAN_VEC}", clean_vec_sql("embedding")).replace(
        "{MODAL_DIM}", modal_dim_sql("embedding", "embeddings")
    ),
)
def sim_semdedup_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style SEMANTIC dedup: items too close to their
    cluster centroid are redundant and pruned — the
    embedding-cluster complement to dedup_embed_cos's pairwise check
    (pairwise finds copies; centroid pruning finds the dense core of
    near-identical meaning). Cluster = the label column here; a real
    pipeline plugs ml_kmeans's assignment in unchanged. Reports per
    cluster: size, items above the prune threshold, keep rate, mean
    centroid-cosine. τ = 0.25 fits the synthetic near-random
    embeddings (their centroid cosines top out ≈0.33); production
    embeddings use τ ≈ 0.95+ — a knob, not a shape change.

    Scale shape: ONE items×dim explode feeds the per-(cluster, dim)
    centroid aggregate (the only data-sized shuffle); centroids
    (|clusters| × 64, trivially bounded) collapse back to arrays and
    BROADCAST onto items, where the cosine is a JVM zip_with fold —
    no UDF, no pairwise join, items never shuffle again. Zero-norm
    items are excluded (undefined cosine; ANSI division would abort),
    and a cluster whose centroid cancels to exactly zero drops out
    whole — both guards mirrored in the oracle. Hygiene (ragged-vector
    world r9): clean + MODAL-DIM rows only — a centroid is undefined
    over mixed dimensions, and the engines disagree on ragged zips
    (Spark's zip_with NULL-pads the fold to NULL; SQL's explode-join
    sum just SKIPS the missing positions)."""
    e = dominant_dim_only(
        load(spark, sf_dir, "embeddings").filter(finite_array("embedding"))
    ).select("vec_id", "label", dbl("embedding").alias("v"))
    e = e.filter(sqnorm("v") > 0)
    dims = e.select("label", F.posexplode("v").alias("i", "x"))
    cent = (
        dims.groupBy("label", "i")
        .agg(F.avg("x").alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("s"))
        .select(
            "label",
            F.transform("s", lambda t: t.getField("c")).alias("cv"),
        )
        .select("label", "cv", norm("cv").alias("cnorm"))
        .filter(F.col("cnorm") > 0)
    )
    scored = e.join(F.broadcast(cent), "label").select(
        "label", (dot("v", "cv") / (norm("v") * F.col("cnorm"))).alias("cos")
    )
    is_dup = F.when(F.col("cos") >= 0.25, 1).otherwise(0)
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(is_dup).cast("bigint").alias("n_dup"),
        F.round(1.0 - F.sum(is_dup) / F.count(F.lit(1)), 6).alias("keep_rate"),
        F.round(F.avg("cos"), 6).alias("mean_cos"),
    )
