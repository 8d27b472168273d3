"""Category I (ML half) — MLlib pipeline + evaluation suite
(SURVEY.md §2.I).

The reference is a systematic-review screening pipeline: featurize
title/abstract text, train classical classifiers, rank documents by
relevance score, and report recall-oriented metrics, headlined by
WSS@95 (Work Saved over Sampling at 95% recall)
[PUB — paper named in /root/reference/README.md:1; implementation not
locally retrievable, see SURVEY.md §0].

Design split:

* Model TRAINING (ml_lr/nb/svm/rf/cv) is seeded MLlib — rows-only by
  nature (float reductions vary with partition order across engines).
* EVALUATION is pure relational math over a materialized scores table
  — confusion, precision/recall/F1, exact Mann-Whitney AUC with tied
  ranks, WSS@95, screening curve — all DuckDB-oracled. The scored
  relation used by the oracle checks is a deterministic function of
  the embeddings table so both engines see identical inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from systematic_review_classification_spark.functions.ranks import global_rank
from systematic_review_classification_spark.functions.predicates import (
    clean_vec_sql,
    dominant_dim_only,
    finite,
    finite_array,
    finite_bounded,
    rnd,
)
from systematic_review_classification_spark.functions.seeded import md5_u32
from systematic_review_classification_spark.functions.vectors import dbl, sqnorm, total
from systematic_review_classification_spark.registry import query
from systematic_review_classification_spark.sources.tables import load

# Deterministic "scored classifier output" twin used by the eval suite:
# truth = (label >= 5), score = rounded component sum of the embedding.
# (Metric math is exercised identically regardless of model quality.)
# Corrupt vectors (NULL/empty array, NULL/NaN/inf element) are dropped
# on BOTH engines before the fold — a NaN score would rank
# nondeterministically (NaN sorts greatest on both engines but
# compares FALSE on Spark and TRUE on DuckDB under >=), and DuckDB's
# list_reduce ERRORS outright on an empty list (ragged-vector world,
# round 9).
_SCORED_SQL = f"""
scored AS (
  SELECT vec_id,
         CAST(label >= 5 AS INTEGER) AS y,
         round(list_reduce(embedding::DOUBLE[], (a, b) -> a + b), 6) + 0.0 AS score
  FROM embeddings
  WHERE {clean_vec_sql("embedding")}
)
"""
# score carries the +0.0 signed-zero snap: an all--0.0 vector folds to
# -0.0 under DuckDB's init-less list_reduce but +0.0 under Spark's
# 0.0-init aggregate (ragged-vector world, r9).


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").filter(finite_array("embedding"))
    return e.select(
        "vec_id", (F.col("label") >= 5).cast("int").alias("y"), dbl("embedding").alias("v")
    ).select("vec_id", "y", rnd(total("v")).alias("score"))


# --- featurization for the MLlib paths ------------------------------------


def _featurized(spark: SparkSession, sf_dir: str):
    """documents → (doc_id, label, features): hashed-TF vectors with a
    content-derived binary label (text mentions 'spark').

    NULL-text rows are dropped up front (all callers are the seeded
    MLlib model keys): an untokenizable document has no features and a
    NULL label, and MLlib fit() ABORTS on NULL labels ('Labels MUST
    NOT be Null or NaN') instead of skipping the row — the same
    corrupt-input-is-filterable policy the oracled tier applies."""
    from pyspark.ml.feature import HashingTF, RegexTokenizer

    d = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    )
    d = d.withColumn(
        "label",
        F.array_contains(F.split(F.col("text"), " "), "spark").cast("double"),
    )
    toks = RegexTokenizer(inputCol="text", outputCol="toks", pattern="\\s+").transform(d)
    return HashingTF(inputCol="toks", outputCol="features", numFeatures=256).transform(
        toks
    )


@query(
    "ml_label_index",
    oracle="""
WITH freq AS (SELECT lang, count(*) AS n FROM documents
              WHERE lang IS NOT NULL GROUP BY lang)
SELECT d.doc_id, d.lang,
       dense_rank() OVER (ORDER BY f.n DESC, f.lang) - 1 AS lang_idx
FROM documents d JOIN freq f ON d.lang = f.lang
""",
)
def ml_label_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label indexing, relational path: StringIndexer(frequencyDesc)
    semantics — index by descending frequency, alphabetical tie-break —
    expressed as a dense_rank so it is oracle-checkable.

    The rank window runs over the AGGREGATED label-frequency table
    (one row per distinct label — bounded, never the corpus), and the
    tiny indexed result broadcasts back onto the fact. The corpus
    itself only pays one map-side-combined groupBy."""
    d = load(spark, sf_dir, "documents")
    # NULL labels are excluded from the index (StringIndexer's skip
    # policy) BEFORE ranking: otherwise the NULL group's rank position
    # diverges across engines (Spark orders NULLS FIRST, DuckDB LAST)
    # and shifts every real label's index by one
    freq = (
        d.filter(F.col("lang").isNotNull())
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.orderBy(F.col("n").desc(), "lang")
    idx = freq.select("lang", (F.dense_rank().over(w) - 1).alias("lang_idx"))
    return d.select("doc_id", "lang").join(F.broadcast(idx), "lang").select(
        "doc_id", "lang", "lang_idx"
    )


@query(
    "ml_split",
    oracle="""
SELECT doc_id,
       CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'c'
            THEN 'train' ELSE 'test' END AS split
FROM documents
""",
)
def ml_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/test split (~81/19): portable
    (md5 agrees across engines), reproducible, and — unlike
    randomSplit — stable under repartitioning, which is what you want
    when the corpus is 100 TB and the split must be recomputable."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) <= "c", "train"
        )
        .otherwise("test")
        .alias("split"),
    )


# --- seeded MLlib classifiers (rows-only by nature) ------------------------


def _train_shape(feat, label_col: str | None = None):
    """(row count, distinct-label count) of a training relation in ONE
    map-side-combined aggregate — the degenerate-input guard every
    MLlib fit() needs, because MLlib ABORTS (rather than returning an
    empty/degenerate model) on empty data, single-class data for
    margin losses, or k-means with fewer distinct points than k.
    Driver-side by design: two constant-size scalars, same pattern as
    ml_active_screen's round counters."""
    aggs = [F.count(F.lit(1)).alias("n")]
    if label_col is not None:
        aggs.append(F.countDistinct(label_col).alias("k"))
    row = feat.agg(*aggs).first()
    return (row["n"], row["k"] if label_col is not None else None)


def _empty_result(spark: SparkSession, schema: str):
    """Typed empty result for a degenerate training set: the operator
    yields zero scored rows with the contract schema instead of
    aborting the whole job — downstream joins go empty and monitoring
    sees '0 rows scored', which is the recoverable failure mode at
    100 TB (an abort kills every co-scheduled output)."""
    return spark.createDataFrame([], schema)


@query("ml_lr")
def ml_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression on hashed-TF vectors (seeded). Returns the
    scored table (id, label, prediction, probability of class 1)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import vector_to_array

    feat = _featurized(spark, sf_dir)
    if _train_shape(feat)[0] == 0:
        return _empty_result(
            spark, "doc_id long, label double, prediction double, p1 double"
        )
    model = LogisticRegression(maxIter=20, regParam=0.01).fit(feat)
    return model.transform(feat).select(
        "doc_id",
        "label",
        "prediction",
        F.round(vector_to_array("probability").getItem(1), 4).alias("p1"),
    )


@query("ml_nb")
def ml_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes — the classical-classifier family the
    reference's paper compares [PUB]."""
    from pyspark.ml.classification import NaiveBayes

    feat = _featurized(spark, sf_dir)
    if _train_shape(feat)[0] == 0:
        return _empty_result(spark, "doc_id long, label double, prediction double")
    model = NaiveBayes(modelType="multinomial", smoothing=1.0).fit(feat)
    return model.transform(feat).select("doc_id", "label", "prediction")


@query("ml_svm")
def ml_svm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear SVM (hinge loss)."""
    from pyspark.ml.classification import LinearSVC

    feat = _featurized(spark, sf_dir)
    n, k = _train_shape(feat, "label")
    if n == 0 or k < 2:  # hinge loss is undefined without both classes
        return _empty_result(spark, "doc_id long, label double, prediction double")
    model = LinearSVC(maxIter=15, regParam=0.05).fit(feat)
    return model.transform(feat).select("doc_id", "label", "prediction")


@query("ml_rf")
def ml_rf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random forest (seeded) on hashed-TF features."""
    from pyspark.ml.classification import RandomForestClassifier

    feat = _featurized(spark, sf_dir)
    if _train_shape(feat)[0] == 0:
        return _empty_result(spark, "doc_id long, label double, prediction double")
    model = RandomForestClassifier(numTrees=10, maxDepth=4, seed=42).fit(feat)
    return model.transform(feat).select("doc_id", "label", "prediction")


@query("ml_cv")
def ml_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-fold cross-validation with a parameter grid (seeded) — the
    reference's evaluation protocol [PUB]. Returns one row per grid
    point with its mean CV metric."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    feat = _featurized(spark, sf_dir)
    n, k = _train_shape(feat, "label")
    # 3-fold CV needs both classes (the AUC evaluator's rawPrediction
    # is degenerate on one class) and enough rows that a fold split
    # cannot leave an empty training fold
    if n < 2 * 3 or k < 2:
        return _empty_result(spark, "reg_param double, avg_auc double")
    # STRATIFIED deterministic folds via foldCol: a seeded random
    # split can strand a whole class inside ONE fold, making that
    # fold's training complement single-class — LR then emits
    # length-1 rawPrediction and the AUC evaluator aborts (combo-2
    # world catch: 8 rows, 3 of the minority class). Round-robin
    # within each label guarantees every training fold sees both
    # classes whenever each class has >= 2 rows (checked below).
    # Scale note: the per-label window funnels each class through one
    # task — fine for fold ASSIGNMENT (CV itself refits the model k
    # times; at real scale you'd hash-assign folds and stratify by
    # sampling), chosen here because the evaluator's correctness
    # requires per-class coverage, not approximate balance.
    # Require min_per_class >= numFolds (3): with a 2-row class the
    # round-robin leaves fold 2's VALIDATION slice single-class, and
    # the AUC evaluator over zero positives returns NaN — silently
    # poisoning avg_auc instead of aborting (ADVICE r8). >= numFolds
    # guarantees every fold's validation set has >= 1 row of each
    # class AND every training complement keeps both classes.
    min_per_class = (
        feat.groupBy("label").count().agg(F.min("count")).first()[0]
    )
    if min_per_class is None or min_per_class < 3:
        return _empty_result(spark, "reg_param double, avg_auc double")
    feat = feat.withColumn(
        "fold",
        (
            (F.row_number().over(W.partitionBy("label").orderBy("doc_id")) - 1) % 3
        ).cast("int"),
    )
    lr = LogisticRegression(maxIter=10)
    grid = ParamGridBuilder().addGrid(lr.regParam, [0.01, 0.1]).build()
    cv = CrossValidator(
        estimator=lr,
        estimatorParamMaps=grid,
        evaluator=BinaryClassificationEvaluator(),
        numFolds=3,
        foldCol="fold",
        parallelism=2,
    )
    model = cv.fit(feat)
    rows = [
        (float(pm[lr.regParam]), float(m))
        for pm, m in zip(grid, model.avgMetrics)
    ]
    return spark.createDataFrame(rows, "reg_param double, avg_auc double")


# --- evaluation suite: pure SQL over the deterministic scores --------------


def _screen_curve(df: DataFrame):
    """Distributed screening curve: global row_number ``k`` (by score
    desc, vec_id) and running positive count ``cum_pos`` for every row,
    WITHOUT a single-reducer global window.

    Two-pass range rank: (1) repartitionByRange on the sort key, so
    partition *i* holds a contiguous slice of the global order (equal
    keys never split across partitions); (2) per-partition row/positive
    counts — an n_shuffle_partitions-row table — become cumulative
    offsets via a window over that bounded table; (3) each row adds its
    partition's offset to its WITHIN-partition row_number/running sum.
    Every window is either partitioned (by ``_pid``) or runs over the
    bounded per-partition stats, so the plan scales with the cluster
    instead of funneling the corpus through one reducer.

    Returns ``(curve, totals)`` where curve = (vec_id, y, score, k,
    cum_pos) and totals = 1-row (n_total, n_pos) derived from the same
    per-partition stats (no second scan of the input).
    """
    d = df.repartitionByRange(F.col("score").desc(), "vec_id").withColumn(
        "_pid", F.spark_partition_id()
    )
    pstats = d.groupBy("_pid").agg(
        F.count(F.lit(1)).alias("_pcnt"), F.sum("y").alias("_ppos")
    )
    w_p = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    offs = pstats.select(
        "_pid",
        F.coalesce(F.sum("_pcnt").over(w_p), F.lit(0)).alias("_off_k"),
        F.coalesce(F.sum("_ppos").over(w_p), F.lit(0)).alias("_off_pos"),
    )
    w_in = W.partitionBy("_pid").orderBy(F.col("score").desc(), "vec_id")
    cum_in = F.sum("y").over(w_in.rowsBetween(W.unboundedPreceding, W.currentRow))
    curve = d.join(F.broadcast(offs), "_pid").select(
        "vec_id",
        "y",
        "score",
        (F.row_number().over(w_in) + F.col("_off_k")).alias("k"),
        (cum_in + F.col("_off_pos")).alias("cum_pos"),
    )
    totals = pstats.agg(
        F.sum("_pcnt").alias("n_total"),
        F.sum("_ppos").cast("bigint").alias("n_pos"),
    )
    return curve, totals


@query(
    "ml_eval_confusion",
    oracle=f"""
WITH {_SCORED_SQL}
SELECT y, CAST(score > 0 AS INTEGER) AS pred, count(*) AS n
FROM scored GROUP BY y, CAST(score > 0 AS INTEGER)
""",
)
def ml_eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of a thresholded scorer — a 4-row groupBy."""
    s = _scored(spark, sf_dir)
    return s.groupBy("y", (F.col("score") > 0).cast("int").alias("pred")).agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "ml_eval_prf",
    oracle=f"""
WITH {_SCORED_SQL},
conf AS (
  SELECT sum(CASE WHEN y = 1 AND score > 0 THEN 1 ELSE 0 END) AS tp,
         sum(CASE WHEN y = 0 AND score > 0 THEN 1 ELSE 0 END) AS fp,
         sum(CASE WHEN y = 1 AND score <= 0 THEN 1 ELSE 0 END) AS fn,
         sum(CASE WHEN y = 0 AND score <= 0 THEN 1 ELSE 0 END) AS tn
  FROM scored)
SELECT round(CAST(tp AS DOUBLE) / nullif(tp + fp, 0), 6)  AS precision_,
       round(CAST(tp AS DOUBLE) / nullif(tp + fn, 0), 6)  AS recall_,
       round(CAST(tn AS DOUBLE) / nullif(tn + fp, 0), 6)  AS specificity,
       round(2.0 * tp / nullif(2.0 * tp + fp + fn, 0), 6) AS f1
FROM conf
""",
)
def ml_eval_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision / recall / specificity / F1 from confusion counts —
    integer-ratio arithmetic, exact across engines."""
    s = _scored(spark, sf_dir)
    pred = (F.col("score") > 0).cast("int")
    conf = s.agg(
        F.sum(((F.col("y") == 1) & (pred == 1)).cast("int")).alias("tp"),
        F.sum(((F.col("y") == 0) & (pred == 1)).cast("int")).alias("fp"),
        F.sum(((F.col("y") == 1) & (pred == 0)).cast("int")).alias("fn"),
        F.sum(((F.col("y") == 0) & (pred == 0)).cast("int")).alias("tn"),
    )
    tp, fp, fn, tn = F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn")
    # empty confusion margins (no predicted positives / no actual
    # positives / no negatives — routine on degenerate corpora) make
    # the ratio undefined: NULL via nullif on both engines
    return conf.select(
        F.round(tp.cast("double") / F.nullif(tp + fp, F.lit(0)), 6).alias(
            "precision_"
        ),
        F.round(tp.cast("double") / F.nullif(tp + fn, F.lit(0)), 6).alias(
            "recall_"
        ),
        F.round(tn.cast("double") / F.nullif(tn + fp, F.lit(0)), 6).alias(
            "specificity"
        ),
        F.round(2.0 * tp / F.nullif(2.0 * tp + fp + fn, F.lit(0.0)), 6).alias(
            "f1"
        ),
    )


@query(
    "ml_eval_auc",
    oracle=f"""
WITH {_SCORED_SQL},
ranked AS (
  SELECT y,
         rank() OVER (ORDER BY score)
           + (count(*) OVER (PARTITION BY score) - 1) / 2.0 AS r_avg
  FROM scored),
agg AS (
  SELECT sum(CASE WHEN y = 1 THEN r_avg ELSE 0 END) AS rank_sum,
         sum(y) AS p, count(*) - sum(y) AS n
  FROM ranked)
SELECT round((rank_sum - p * (p + 1) / 2.0) / nullif(p * n, 0), 6) AS auc
FROM agg
""",
)
def ml_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC via the Mann-Whitney U statistic with midrank tie
    handling — O(n log n), no quadratic pair join, and no global
    single-reducer window.

    Distributed plan: pre-aggregate per distinct score (cnt, positives)
    with a map-side-combined groupBy, then compute each score group's
    global min-rank by the two-pass range trick (repartitionByRange on
    score + per-partition counts → cumulative offsets over the bounded
    stats table + within-partition running sum). A tie group's midrank
    is min_rank + (cnt-1)/2, so rank_sum = Σ pos·(min_rank+(cnt-1)/2) —
    exactly the oracle's rank()+midrank formula, row for row."""
    s = _scored(spark, sf_dir)
    g = s.groupBy("score").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    )
    d = g.repartitionByRange("score").withColumn("_pid", F.spark_partition_id())
    pstats = d.groupBy("_pid").agg(F.sum("cnt").alias("_pcnt"))
    w_p = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    offs = pstats.select(
        "_pid", F.coalesce(F.sum("_pcnt").over(w_p), F.lit(0)).alias("_off")
    )
    w_in = W.partitionBy("_pid").orderBy("score")
    cum_before = F.coalesce(
        F.sum("cnt").over(w_in.rowsBetween(W.unboundedPreceding, -1)), F.lit(0)
    )
    ranked = d.join(F.broadcast(offs), "_pid").select(
        "pos", "cnt", (cum_before + F.col("_off") + 1).alias("r_min")
    )
    agg = ranked.agg(
        F.sum(
            F.col("pos") * (F.col("r_min") + (F.col("cnt") - 1) / 2.0)
        ).alias("rank_sum"),
        F.sum("pos").alias("p"),
        (F.sum("cnt") - F.sum("pos")).alias("n"),
    )
    return agg.select(
        F.round(
            # a single-class corpus (p = 0 or n = 0) has no ROC: NULL
            # via nullif on both engines, never DIVIDE_BY_ZERO
            (F.col("rank_sum") - F.col("p") * (F.col("p") + 1) / 2.0)
            / F.nullif(F.col("p") * F.col("n"), F.lit(0.0)),
            6,
        ).alias("auc")
    )


@query(
    "ml_eval_wss95",
    oracle=f"""
WITH {_SCORED_SQL},
curve AS (
  SELECT row_number() OVER (ORDER BY score DESC, vec_id) AS k,
         sum(y) OVER (ORDER BY score DESC, vec_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
  FROM scored),
tot AS (SELECT count(*) AS n_total, CAST(sum(y) AS BIGINT) AS n_pos FROM scored),
hit AS (SELECT min(k) AS k_star FROM curve, tot
        WHERE CAST(cum_pos AS DOUBLE) >= 0.95 * n_pos)
SELECT k_star,
       round(CAST(n_total - k_star AS DOUBLE) / n_total - 0.05, 6) AS wss95
FROM hit, tot
""",
)
def ml_eval_wss95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WSS@95 — the reference field's headline metric [PUB]: rank by
    score descending, find the smallest screening depth k* reaching
    95% recall; WSS = (docs saved)/N − 5%.

    The screening curve comes from the distributed two-pass rank in
    :func:`_screen_curve` (range-repartitioned, per-partition offsets)
    instead of a global single-partition window, so the metric stays a
    fully parallel 2-shuffle plan at any corpus size."""
    curve, tot = _screen_curve(_scored(spark, sf_dir))
    # recall test in MULTIPLY form (cum_pos >= 0.95*n_pos): identical
    # cut for n_pos > 0, and zero-positive corpora degrade to k*=1
    # instead of aborting with ANSI DIVIDE_BY_ZERO
    hit = (
        curve.crossJoin(F.broadcast(tot))
        .filter(F.col("cum_pos").cast("double") >= 0.95 * F.col("n_pos"))
        .agg(F.min("k").alias("k_star"))
    )
    return hit.crossJoin(F.broadcast(tot)).select(
        "k_star",
        F.round(
            (F.col("n_total") - F.col("k_star")).cast("double") / F.col("n_total") - 0.05,
            6,
        ).alias("wss95"),
    )


@query(
    "ml_rank_screen",
    oracle=f"""
WITH {_SCORED_SQL},
tot AS (SELECT CAST(sum(y) AS BIGINT) AS n_pos FROM scored),
curve AS (
  SELECT vec_id, y, score,
         row_number() OVER (ORDER BY score DESC, vec_id) AS rank,
         sum(y) OVER (ORDER BY score DESC, vec_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
  FROM scored)
SELECT vec_id, rank, score, round(CAST(cum_pos AS DOUBLE) / nullif(n_pos, 0), 6) AS cum_recall
FROM curve, tot WHERE rank <= 100
""",
)
def ml_rank_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Screening prioritization — the reference's user-facing output:
    documents ranked by relevance score with the running recall curve
    (read the top of the list first; stop at the recall target).

    Only the top 100 rows are reported, so the global sort is a
    ``orderBy().limit(100)`` — TakeOrderedAndProject, a per-partition
    top-k merge that never materializes the full sort. The rank/recall
    window then runs over those ≤100 rows (bounded input, scale-safe);
    the unsorted corpus pays only one map-side-combined aggregate for
    the positive total."""
    s = _scored(spark, sf_dir)
    tot = s.agg(F.sum("y").cast("bigint").alias("n_pos"))
    top = s.orderBy(F.col("score").desc(), "vec_id").limit(100)
    w_ord = W.orderBy(F.col("score").desc(), "vec_id")
    curve = top.select(
        "vec_id",
        "score",
        F.row_number().over(w_ord).alias("rank"),
        F.sum("y").over(w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("cum_pos"),
    )
    return curve.crossJoin(F.broadcast(tot)).select(
        "vec_id",
        "rank",
        "score",
        F.round(
            F.col("cum_pos").cast("double") / F.nullif(F.col("n_pos"), F.lit(0)), 6
        ).alias("cum_recall"),
    )


_STOP_K = 10  # consecutive-irrelevant run length that triggers the stop


@query(
    "ml_stop_screening",
    oracle=f"""
WITH {_SCORED_SQL},
ranked AS (
  SELECT y, row_number() OVER (ORDER BY score DESC, vec_id) AS k FROM scored),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(coalesce(sum(y), 0) AS BIGINT) AS n_pos
  FROM ranked),
pos AS (
  SELECT CAST(k AS BIGINT) AS k,
         CAST(row_number() OVER (ORDER BY k) AS BIGINT) AS p_idx
  FROM ranked WHERE y = 1),
anchors AS (
  SELECT CAST(0 AS BIGINT) AS k, CAST(0 AS BIGINT) AS p_idx
  UNION ALL SELECT k, p_idx FROM pos),
gaps AS (SELECT k, p_idx, lead(k) OVER (ORDER BY k) AS next_k FROM anchors),
cands AS (
  SELECT k + {_STOP_K} AS stop_k, p_idx AS found
  FROM gaps, tot
  WHERE coalesce(next_k, 9223372036854775807) > k + {_STOP_K}
    AND k + {_STOP_K} <= n_docs
  UNION ALL
  SELECT n_docs AS stop_k, n_pos AS found FROM tot),
pick AS (SELECT stop_k, found FROM cands ORDER BY stop_k, found LIMIT 1)
SELECT CAST(stop_k AS BIGINT) AS stop_rank,
       n_docs,
       n_pos,
       CAST(found AS BIGINT) AS found_at_stop,
       round(CAST(found AS DOUBLE) / nullif(n_pos, 0), 6) AS recall_at_stop,
       round(CAST(stop_k AS DOUBLE) / nullif(n_docs, 0), 6) AS screened_frac,
       stop_k < n_docs AS stopped_early
FROM pick, tot
""",
)
def ml_stop_screening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic screening STOPPING RULE — the practical question every
    prioritized-screening run ends with: reading the ranked list top
    down, stop after _STOP_K (10) consecutive irrelevant documents.
    Reports where the rule fires, how many relevant documents were
    found by then, the recall at stop, and the fraction of the corpus
    actually screened (the realized work saving WSS@95 promises).

    Scale shape: the global screening order comes from the shared
    two-pass range rank (_screen_curve — no single-task window over
    the corpus), and the consecutive-run detection needs NO sliding
    window at all: a run of K irrelevant docs exists exactly in the
    GAP between consecutive POSITIVE ranks, so the rule reduces to the
    positives relation (the rare class), a virtual rank-0 anchor for a
    positive-free head, and a self-join on the dense positive index —
    equi-join algebra, no partition-less lag. The earliest candidate
    stop wins via TakeOrdered(1); a full-screen sentinel (stop = n)
    makes the no-early-stop case explicit rather than empty."""
    curve, totals = _screen_curve(_scored(spark, sf_dir))
    # cum_pos AT a positive row is its 1-based index among positives
    pos = curve.filter(F.col("y") == 1).select(
        F.col("k").cast("bigint").alias("k"),
        F.col("cum_pos").cast("bigint").alias("p_idx"),
    )
    anchors = pos.unionByName(
        spark.range(1).select(
            F.lit(0).cast("bigint").alias("k"), F.lit(0).cast("bigint").alias("p_idx")
        )
    )
    # anchor i's successor is the anchor with index i+1: shift the
    # relation DOWN by one so the join key meets it (lead() without a
    # partition-less window)
    nxt = anchors.select((F.col("p_idx") - 1).alias("p_idx"), F.col("k").alias("next_k"))
    gaps = anchors.join(nxt, "p_idx", "left")
    k_run = F.lit(_STOP_K).cast("bigint")
    # _screen_curve's totals aggregate ZERO per-partition stats rows on
    # an empty corpus, so its sums surface as NULL where the oracle's
    # COUNT(*) says 0 (bug class: Spark global agg emits one NULL row
    # on empty input) — coalesce at every use site
    n_docs = F.coalesce(F.col("n_total"), F.lit(0)).cast("bigint")
    n_pos = F.coalesce(F.col("n_pos"), F.lit(0)).cast("bigint")
    cands = (
        gaps.join(F.broadcast(totals))
        .filter(
            (F.coalesce(F.col("next_k"), F.lit(2**63 - 1)) > F.col("k") + k_run)
            & (F.col("k") + k_run <= n_docs)
        )
        .select((F.col("k") + k_run).alias("stop_k"), F.col("p_idx").alias("found"))
        .unionByName(
            totals.select(n_docs.alias("stop_k"), n_pos.alias("found"))
        )
    )
    pick = cands.orderBy("stop_k", "found").limit(1)
    return pick.join(F.broadcast(totals)).select(
        F.col("stop_k").cast("bigint").alias("stop_rank"),
        n_docs.alias("n_docs"),
        n_pos.alias("n_pos"),
        F.col("found").cast("bigint").alias("found_at_stop"),
        F.round(
            F.col("found").cast("double") / F.nullif(n_pos, F.lit(0)), 6
        ).alias("recall_at_stop"),
        F.round(
            F.col("stop_k").cast("double")
            / F.nullif(n_docs.cast("double"), F.lit(0.0)),
            6,
        ).alias("screened_frac"),
        (F.col("stop_k") < n_docs).alias("stopped_early"),
    )


@query("ml_kmeans")
def ml_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMeans clustering (seeded) over the embedding vectors - the
    IVF-coarse-quantizer building block for similarity search at
    scale: cluster assignment = candidate cell."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # finite_array rejects NULL/empty/poisoned vectors; the modal-dim
    # filter drops ragged survivors (MLlib k-means aborts on mixed
    # vector sizes — ragged-vector world, round 9)
    e = (
        dominant_dim_only(
            load(spark, sf_dir, "embeddings").filter(finite_array("embedding"))
        )
        .select(
            "vec_id",
            array_to_vector(dbl("embedding")).alias("features"),
        )
    )
    # MLlib KMeans ABORTS (ArrayIndexOutOfBounds in k-means|| init,
    # probe-verified) when the data has fewer distinct points than k;
    # xxhash64 gives the distinct count without shuffling the vectors
    n_distinct = e.agg(F.countDistinct(F.xxhash64("features")).alias("d")).first()["d"]
    if n_distinct < 5:
        return _empty_result(spark, "vec_id long, cluster int")
    # fit on DISTINCT vectors with UNIFORM (random) init, transform
    # the full relation. k-means||'s cost-weighted sampling is the
    # fragile part: one astronomical-magnitude vector (3e38 — finite,
    # passes every hygiene filter) makes every other point's sampling
    # probability ~1e-77, init finds < k centers, and the fit ABORTS
    # with an AIOOBE in the aggregator (ragged-vector world r9;
    # reproduced with and without duplicate collapse). Uniform init
    # over the distinct set is magnitude-oblivious and one pass
    # cheaper at scale; dropDuplicates keeps duplicate floods from
    # electing coincident centers. Predictions for every row come
    # from the transform, so output rows are unchanged.
    model = KMeans(k=5, seed=42, maxIter=20, initMode="random").fit(
        e.dropDuplicates(["features"])
    )
    return model.transform(e).select("vec_id", F.col("prediction").alias("cluster"))


@query("ml_gbt")
def ml_gbt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient-boosted trees (seeded) on hashed text features."""
    from pyspark.ml.classification import GBTClassifier

    feat = _featurized(spark, sf_dir)
    if _train_shape(feat)[0] == 0:
        return _empty_result(spark, "doc_id long, label double, prediction double")
    model = GBTClassifier(maxIter=5, maxDepth=3, seed=42).fit(feat)
    return model.transform(feat).select("doc_id", "label", "prediction")


@query(
    "ml_calibration",
    oracle=f"""
WITH {_SCORED_SQL}
SELECT CAST(floor(score * 2) AS BIGINT) AS bin,
       count(*) AS n,
       round(avg(score), 6) AS mean_score,
       round(avg(CAST(y AS DOUBLE)), 6) AS pos_rate
FROM scored WHERE isfinite(score) AND abs(score) <= 9e15
GROUP BY CAST(floor(score * 2) AS BIGINT)
""",
)
def ml_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-calibration (reliability) table: fixed-width half-unit
    score bins -> (mean score, empirical positive rate). The screening
    pipeline reads this to pick an inclusion threshold with a known
    expected recall.

    Fixed-width binning (not ntile) on purpose: it needs no global
    sort or single-reducer window - one hash aggregation with map-side
    partials, the same plan at sf0.01 and at 100 TB. Quantile bins,
    when wanted, come from approx_percentile cutpoints broadcast as a
    literal array (see agg_median_pct), still sort-free. A corrupt
    (non-finite) OR off-grid (|score| > 9e15, finite_bounded) score
    has no calibration bin — floor(NaN)'s ANSI bigint cast aborts the
    job, and a finite-but-astronomical score (one 3e38-component
    vector sums past any int64 bin index — ragged-vector world r9)
    aborts it the same way — so scores are filtered identically on
    both engines."""
    s = _scored(spark, sf_dir).filter(finite_bounded("score"))
    bin_col = F.floor(F.col("score") * 2).cast("bigint")
    return s.groupBy(bin_col.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("score"), 6).alias("mean_score"),
        F.round(F.avg(F.col("y").cast("double")), 6).alias("pos_rate"),
    )


@query(
    "ml_threshold_at_recall",
    oracle=f"""
WITH {_SCORED_SQL},
curve AS (
  SELECT score, vec_id,
         row_number() OVER (ORDER BY score DESC, vec_id) AS k,
         sum(y) OVER (ORDER BY score DESC, vec_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
  FROM scored),
tot AS (SELECT count(*) AS n_total, CAST(sum(y) AS BIGINT) AS n_pos FROM scored),
hit AS (SELECT min(k) AS k_star FROM curve, tot
        WHERE CAST(cum_pos AS DOUBLE) >= 0.95 * n_pos)
SELECT c.score AS threshold, h.k_star,
       round(CAST(c.cum_pos AS DOUBLE) / nullif(t.n_pos, 0), 6) AS recall,
       round(CAST(c.cum_pos AS DOUBLE) / h.k_star, 6) AS precision_at_k
FROM curve c, hit h, tot t
WHERE c.k = h.k_star
""",
)
def ml_threshold_at_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Screening-threshold selection — the operational twin of
    ml_eval_wss95: instead of reporting the work saved, return the
    SCORE CUTOFF a reviewer should apply to reach 95% recall, with the
    realized recall and precision at that depth. This is the number a
    screening deployment actually configures (the reference workflow's
    inclusion threshold).

    Same distributed machinery: the two-pass range-ranked curve
    (no single-reducer window), a broadcast 1-row totals join, and a
    k = k* point lookup — 2 shuffles at any corpus size."""
    curve, tot = _screen_curve(_scored(spark, sf_dir))
    hit = (
        curve.crossJoin(F.broadcast(tot))
        .filter(F.col("cum_pos").cast("double") >= 0.95 * F.col("n_pos"))
        .agg(F.min("k").alias("k_star"))
    )
    return (
        curve.crossJoin(F.broadcast(hit))
        .filter(F.col("k") == F.col("k_star"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("score").alias("threshold"),
            "k_star",
            F.round(
                F.col("cum_pos").cast("double") / F.nullif(F.col("n_pos"), F.lit(0)),
                6,
            ).alias("recall"),
            F.round(F.col("cum_pos").cast("double") / F.col("k_star"), 6).alias(
                "precision_at_k"
            ),
        )
    )


@query("ml_pca")  # rows-only: eigenvector sign/ordering is engine-specific
def ml_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib PCA: project the 64-dim embeddings onto the top-8
    principal components — the standard dimensionality cut before
    clustering / coarse quantization (`sim_ivf_topk` gets 8× cheaper
    distance math after this).

    Rows-only by nature: principal axes are unique only up to sign
    and near-tie ordering, so cross-engine value equality is not
    well-defined; local invariants assert the geometry instead
    (projection dimension, captured-variance ordering).

    Scale shape: MLlib PCA computes the Gramian with ONE distributed
    treeAggregate pass (64×64 matrix — constant size regardless of
    row count), eigendecomposes that small matrix on the driver, and
    projects with a map-side matrix multiply. Nothing quadratic in
    rows anywhere."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    # clean + modal-dim: the Gramian pass aborts on ragged vectors
    # (ragged-vector world, round 9)
    e = (
        dominant_dim_only(
            load(spark, sf_dir, "embeddings").filter(finite_array("embedding"))
        )
        .select(
            "vec_id",
            array_to_vector(dbl("embedding")).alias("features"),
        )
    )
    # the covariance of <2 rows is undefined — RowMatrix aborts on it
    if _train_shape(e)[0] < 2:
        return _empty_result(spark, "vec_id long, k int, proj_sqnorm double")
    model = PCA(k=8, inputCol="features", outputCol="pc").fit(e)
    return (
        model.transform(e)
        .select("vec_id", vector_to_array(F.col("pc")).alias("pc"))
        .select(
            "vec_id",
            F.size("pc").alias("k"),
            F.round(sqnorm("pc"), 4).alias("proj_sqnorm"),
        )
    )


@query(
    "ml_feature_cross",
    oracle="""
SELECT c_custkey,
       c_mktsegment || 'x' || CAST(c_nationkey AS VARCHAR) AS cross_key,
       CAST(CAST(('0x' || substring(
              md5(c_mktsegment || 'x' || CAST(c_nationkey AS VARCHAR)),
              1, 8)) AS BIGINT) % 64 AS INTEGER) AS bucket
FROM customer WHERE c_custkey <= 1000
""",
)
def ml_feature_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed feature cross: (segment × nation) composed into one
    categorical key and hashed into 64 buckets — the classic
    wide-model featurization (crossing two low-cardinality columns
    captures their interaction without a quadratic vocabulary).

    The bucket hash is md5-prefix arithmetic, NOT the engine-native
    hash (Spark murmur3 vs DuckDB's differ by construction — same
    portability rule as dedup_minhash_portable): both engines compute
    CAST(first-8-hex-chars, base 16) % 64 over the same md5, so
    bucket assignment is bit-equal. Pure projection, zero shuffles;
    at training scale the bucket column feeds a fixed-width
    embedding table."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 1000)
    # F.concat, NOT concat_ws: a missing feature must null the cross
    # (and its bucket), never silently collapse to ''/'x' and land in
    # a real embedding bucket — concat propagates NULL on both engines
    # (oracle uses ||)
    cross_key = F.concat(
        F.col("c_mktsegment"), F.lit("x"), F.col("c_nationkey").cast("string")
    )
    bucket = (md5_u32("c_mktsegment", "'x'", "c_nationkey") % 64).cast("int")
    return c.select(
        "c_custkey", cross_key.alias("cross_key"), bucket.alias("bucket")
    )


@query(
    "ml_fpgrowth",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
nb AS (SELECT count(DISTINCT l_orderkey) AS n FROM li),
mincnt AS (SELECT CAST(ceil(0.0002 * n) AS BIGINT) AS c FROM nb),
singles AS (
  SELECT CAST(l_partkey AS VARCHAR) AS itemset, count(*) AS freq
  FROM li GROUP BY l_partkey
  HAVING count(*) >= (SELECT c FROM mincnt)),
pairs AS (
  SELECT CAST(a.l_partkey AS VARCHAR) || ',' || CAST(b.l_partkey AS VARCHAR) AS itemset,
         count(*) AS freq
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1 HAVING count(*) >= (SELECT c FROM mincnt))
SELECT itemset, freq FROM singles
UNION ALL
SELECT itemset, freq FROM pairs
""",
)
def ml_fpgrowth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib FPGrowth frequent-itemset mining over order baskets,
    reported for itemset sizes 1-2.

    FP-Growth is EXACT (parallel FP-trees over item-conditional
    partitions, a distributed algorithm — no sampling), so the SQL
    oracle re-derives the same frequent singletons and pairs with the
    identical minCount = ceil(minSupport x n_baskets) rule MLlib
    applies. The size<=2 projection is the query contract (Spark
    additionally mines larger itemsets from the same pass; the
    restriction keeps the oracle's join quadratic-bounded, not the
    engine). Items are sorted in-array so the CSV rendering is
    deterministic."""
    from pyspark.ml.fpm import FPGrowth

    # NULL basket ids / NULL items are excluded EXPLICITLY on both
    # sides: collect_set would silently drop NULL items anyway, but
    # the oracle's count(DISTINCT l_orderkey) skips NULL while a
    # groupBy would form a NULL basket — the filter makes the two
    # engines count the same basket universe
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull())
        .distinct()
    )
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("items")
    )
    model = FPGrowth(
        itemsCol="items", minSupport=0.0002, minConfidence=0.5
    ).fit(baskets)
    return (
        model.freqItemsets.where(F.size("items") <= 2)
        .select(
            F.array_join(
                F.transform(F.sort_array("items"), lambda x: x.cast("string")), ","
            ).alias("itemset"),
            F.col("freq"),
        )
    )


@query("ml_als")
def ml_als(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded ALS collaborative filtering on implicit order baskets:
    (customer, part, n_orders) interactions → rank-8 factors →
    predictions for the observed pairs of the first 50 customers.
    Rows-only (iterative least squares has no SQL twin); the
    reproducibility and finiteness of the scored output are asserted
    in tests/test_invariants.py.

    Scale shape: ALS is MLlib's blocked alternating factorization —
    user/item factor blocks co-partitioned with the ratings, normal
    equations solved per block; nothing driver-side except the 8x8
    Gramians. recommendForAllUsers (not used here) is the blocked
    GEMM top-k."""
    from pyspark.ml.recommendation import ALS

    ratings = (
        load(spark, sf_dir, "lineitem")
        .join(load(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        # ALS raises on NULL ids ('user Ids MUST NOT be Null'): an
        # interaction with no attributable customer/part is corrupt
        # input, filtered like every other NULL key in the repo
        .filter(F.col("o_custkey").isNotNull() & F.col("l_partkey").isNotNull())
        .groupBy(
            F.col("o_custkey").cast("int").alias("user"),
            F.col("l_partkey").cast("int").alias("item"),
        )
        .agg(F.count(F.lit(1)).cast("float").alias("rating"))
    )
    if _train_shape(ratings)[0] == 0:
        return _empty_result(spark, "user int, item int, score double")
    als = ALS(
        rank=8,
        maxIter=5,
        seed=7,
        userCol="user",
        itemCol="item",
        ratingCol="rating",
        implicitPrefs=True,
        coldStartStrategy="drop",
    )
    model = als.fit(ratings)
    probe = ratings.where(F.col("user") <= 50)
    return model.transform(probe).select(
        "user", "item", F.round(F.col("prediction").cast("double"), 4).alias("score")
    )


@query("ml_active_screen")
def ml_active_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-learning screening simulation — the reference paper's
    core workflow [PUB]: seed a small labeled pool, then iterate
    (train → score the unscreened pool → screen the top-ranked batch
    → add to the labeled pool), reporting per-round recall of the
    relevant class. This is the loop WSS@95 (ml_eval_wss95) summarizes
    in one number; here the curve itself is produced.

    Distributed discipline: the driver holds ONLY the round counter;
    the labeled/unscreened pools stay DataFrames (an id-hash seed
    split, anti-join to exclude screened ids), scoring is one model
    broadcast over the pool, and the per-round batch selection is a
    global top-k (TakeOrderedAndProject), never a full sort. Rounds
    are bounded (3) and each round's input shrinks. Rows-only: the
    curve depends on seeded LR fits; monotone-recall and final-recall
    invariants are pinned in tests/test_invariants.py."""
    from pyspark.ml.classification import LogisticRegression

    feat = _featurized(spark, sf_dir).select("doc_id", "label", "features").cache()
    # one action, not two (r12): sum+count ride a single aggregate over
    # the cache-building first pass instead of separate jobs
    _totals = feat.agg(
        F.sum("label").alias("s"), F.count(F.lit(1)).alias("n")
    ).first()
    n_pos_total = _totals["s"] or 1.0
    batch = max(int(_totals["n"] * 0.1), 10)

    # seed: a deterministic 10% hash sample of the corpus
    screened = feat.where(F.crc32(F.col("doc_id").cast("string")) % 10 == 0)
    # a tiny corpus can leave the hash seed EMPTY, and LR cannot fit
    # zero rows — an empty curve is the honest degenerate output
    if _train_shape(screened)[0] == 0:
        return _empty_result(spark, "round int, n_found double, recall double")
    rows = []
    round_caches = []
    for rnd in range(3):
        model = LogisticRegression(maxIter=10, regParam=0.01).fit(screened)
        pool = feat.join(screened.select("doc_id"), "doc_id", "left_anti")
        from pyspark.ml.functions import vector_to_array

        scored = model.transform(pool)
        prob1 = vector_to_array("probability").getItem(1)
        picked = (
            scored.select("doc_id", "label", "features", prob1.alias("p"))
            .orderBy(F.desc("p"), "doc_id")
            .limit(batch)
            .drop("p")
        )
        screened = screened.unionByName(picked).cache()
        round_caches.append(screened)
        found = screened.agg(F.sum("label")).first()[0] or 0.0
        rows.append((rnd + 1, float(found), round(float(found) / n_pos_total, 6)))
    # the curve is driver-side rows — nothing downstream reads the
    # cached pools, so release them instead of pinning executor memory
    # for the session lifetime (r11 verdict hygiene item)
    for c in round_caches:
        c.unpersist()
    feat.unpersist()
    return spark.createDataFrame(rows, "round int, n_found double, recall double")


_GD_STOP_SQL = "'the', 'a', 'of', 'and', 'to', 'in', 'is'"
_GD_STOP = ("the", "a", "of", "and", "to", "in", "is")


@query(
    "ml_logreg_gd",
    oracle=f"""
WITH feat AS (
  SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         1.0 AS x0,
         len(string_split(text, ' ')) / 100.0 AS x1,
         CAST(len(list_filter(string_split(text, ' '), t -> t IN ({_GD_STOP_SQL})))
              AS DOUBLE) / len(string_split(text, ' ')) AS x2
  FROM documents),
w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2),
g1 AS (
  SELECT avg((1.0 / (1.0 + exp(-(w.w0 * x0 + w.w1 * x1 + w.w2 * x2))) - y) * x0) AS g0,
         avg((1.0 / (1.0 + exp(-(w.w0 * x0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) AS g1,
         avg((1.0 / (1.0 + exp(-(w.w0 * x0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) AS g2
  FROM feat, w0 w),
w1 AS (SELECT w0 - 1.0 * g0 AS w0, w1 - 1.0 * g1 AS w1, w2 - 1.0 * g2 AS w2 FROM w0, g1),
g2 AS (
  SELECT avg((1.0 / (1.0 + exp(-(w.w0 * x0 + w.w1 * x1 + w.w2 * x2))) - y) * x0) AS g0,
         avg((1.0 / (1.0 + exp(-(w.w0 * x0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) AS g1,
         avg((1.0 / (1.0 + exp(-(w.w0 * x0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) AS g2
  FROM feat, w1 w),
w2 AS (SELECT w.w0 - 1.0 * g.g0 AS w0, w.w1 - 1.0 * g.g1 AS w1, w.w2 - 1.0 * g.g2 AS w2
       FROM w1 w, g2 g),
g3 AS (
  SELECT avg((1.0 / (1.0 + exp(-(w.w0 * x0 + w.w1 * x1 + w.w2 * x2))) - y) * x0) AS g0,
         avg((1.0 / (1.0 + exp(-(w.w0 * x0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) AS g1,
         avg((1.0 / (1.0 + exp(-(w.w0 * x0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) AS g2
  FROM feat, w2 w),
w3 AS (SELECT w.w0 - 1.0 * g.g0 AS w0, w.w1 - 1.0 * g.g1 AS w1, w.w2 - 1.0 * g.g2 AS w2
       FROM w2 w, g3 g),
acc AS (
  SELECT avg(CASE WHEN (w.w0 * x0 + w.w1 * x1 + w.w2 * x2 >= 0) = (y = 1.0)
                  THEN 1.0 ELSE 0.0 END) AS train_acc,
         count(*) AS n
  FROM feat, w3 w)
SELECT round(w.w0, 6) AS w0, round(w.w1, 6) AS w1, round(w.w2, 6) AS w2,
       round(a.train_acc, 6) AS train_acc, CAST(a.n AS BIGINT) AS n
FROM w3 w, acc a
""",
)
def ml_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression trained by 3 unrolled full-batch gradient
    steps IN PURE RELATIONAL ALGEBRA — the iterative-ML counterpart of
    wl_pagerank3, and unlike the MLlib classifiers (seeded, rows-only)
    every weight is oracle-checkable. Each step is ONE aggregate over
    the cached feature relation: the gradient Σ(σ(w·x)−y)·x is an
    associative, partial-aggregating sum — the distributed-training
    contract (1000 executors emit partial gradients, the driver-side
    state is 3 doubles). Weights chain as broadcast 1-row relations,
    so the whole 3-step training is one lazy plan, no collect() in
    the loop. Prediction thresholds on the LINEAR score z ≥ 0 (≡
    σ(z) ≥ 0.5 exactly, dodging the sigmoid's float boundary)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    feat = d.select(
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        F.lit(1.0).alias("x0"),
        (F.size(toks) / 100.0).alias("x1"),
        (
            F.size(F.filter(toks, lambda t: t.isin(*_GD_STOP))).cast("double")
            / F.size(toks)
        ).alias("x2"),
    )
    w = spark.createDataFrame([(0.0, 0.0, 0.0)], "w0 double, w1 double, w2 double")
    for _ in range(3):
        z = F.col("w0") * F.col("x0") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")
        p = 1.0 / (1.0 + F.exp(-z))
        g = feat.join(F.broadcast(w)).agg(
            F.avg((p - F.col("y")) * F.col("x0")).alias("g0"),
            F.avg((p - F.col("y")) * F.col("x1")).alias("g1"),
            F.avg((p - F.col("y")) * F.col("x2")).alias("g2"),
        )
        w = w.join(F.broadcast(g)).select(
            (F.col("w0") - 1.0 * F.col("g0")).alias("w0"),
            (F.col("w1") - 1.0 * F.col("g1")).alias("w1"),
            (F.col("w2") - 1.0 * F.col("g2")).alias("w2"),
        )
    z = F.col("w0") * F.col("x0") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")
    acc = feat.join(F.broadcast(w)).agg(
        F.avg(
            F.when((z >= 0) == (F.col("y") == 1.0), 1.0).otherwise(0.0)
        ).alias("train_acc"),
        F.count(F.lit(1)).alias("n"),
    )
    return w.join(F.broadcast(acc)).select(
        F.round("w0", 6).alias("w0"),
        F.round("w1", 6).alias("w1"),
        F.round("w2", 6).alias("w2"),
        F.round("train_acc", 6).alias("train_acc"),
        F.col("n").cast("bigint").alias("n"),
    )


@query(
    "ml_nb_portable",
    oracle="""
WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM tok),
cls AS (SELECT lang AS c, count(DISTINCT doc_id) AS nc FROM tok GROUP BY lang),
vocab AS (SELECT count(DISTINCT w) AS v FROM tok),
cw AS (SELECT lang AS c, w, count(*) AS cnt FROM tok GROUP BY lang, w),
ctot AS (SELECT c, CAST(sum(cnt) AS DOUBLE) AS tot FROM cw GROUP BY c),
scored AS (
  SELECT t.doc_id, t.lang AS true_lang, cls.c,
         ln(CAST(cls.nc AS DOUBLE) / nd.n)
         + sum(ln((coalesce(cw.cnt, 0) + 1.0) / (ctot.tot + vocab.v))) AS score
  FROM tok t
  CROSS JOIN cls
  JOIN ctot ON ctot.c = cls.c
  LEFT JOIN cw ON cw.c = cls.c AND cw.w = t.w, nd, vocab
  GROUP BY t.doc_id, t.lang, cls.c, cls.nc, nd.n),
pred AS (
  SELECT doc_id, true_lang, c AS pred_lang,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY round(score, 6) DESC, c) AS rn
  FROM scored)
SELECT doc_id, true_lang, pred_lang,
       CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END AS correct
FROM pred WHERE rn = 1
""",
)
def ml_nb_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes trained AND applied as relations —
    language identification from token counts with add-one smoothing,
    argmax over ln priors + ln likelihoods. The model is two count
    tables (class totals, class×word counts): training is a pair of
    partial-aggregating groupBys, classification is the token stream
    left-joined to the model (unseen pairs coalesce to the smoothing
    floor) and summed per (doc, class). Unlike ml_nb (MLlib, seeded
    pipeline, rows-only) every posterior is oracle-checked; the argmax
    ranks on the 6-dp-rounded score with class-name tie-break so both
    engines pick identical labels."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("w"))
    nd = tok.agg(F.countDistinct("doc_id").alias("n"))
    cls = tok.groupBy(F.col("lang").alias("c")).agg(
        F.countDistinct("doc_id").alias("nc")
    )
    vocab = tok.agg(F.countDistinct("w").alias("v"))
    cw = tok.groupBy(F.col("lang").alias("c"), "w").agg(F.count(F.lit(1)).alias("cnt"))
    ctot = cw.groupBy("c").agg(F.sum("cnt").cast("double").alias("tot"))
    model = cls.join(ctot, "c")
    scored = (
        tok.crossJoin(F.broadcast(model))
        .join(
            F.broadcast(cw.select(F.col("c").alias("cw_c"), F.col("w").alias("cw_w"), "cnt")),
            (F.col("c") == F.col("cw_c")) & (F.col("w") == F.col("cw_w")),
            "left",
        )
        .join(F.broadcast(nd))
        .join(F.broadcast(vocab))
        .groupBy("doc_id", F.col("lang").alias("true_lang"), "c", "nc", "n")
        .agg(
            F.sum(
                F.log(
                    (F.coalesce("cnt", F.lit(0)) + 1.0) / (F.col("tot") + F.col("v"))
                )
            ).alias("ll")
        )
        .withColumn(
            "score",
            F.log(F.col("nc").cast("double") / F.col("n")) + F.col("ll"),
        )
    )
    pred = scored.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(F.round("score", 6).desc(), "c")
        ),
    ).filter(F.col("rn") == 1)
    return pred.select(
        "doc_id",
        "true_lang",
        F.col("c").alias("pred_lang"),
        F.when(F.col("c") == F.col("true_lang"), 1).otherwise(0).alias("correct"),
    )


@query(
    "ml_kmeans_portable",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
vd AS (SELECT vec_id, i AS d, v[i] AS x
       FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) r WHERE i <= len(v)),
c0 AS (SELECT CAST(vec_id / 100 AS INTEGER) AS j, d, x AS c
       FROM vd WHERE vec_id IN (0, 100, 200, 300)),
d1 AS (SELECT vd.vec_id, c0.j, sum((vd.x - c0.c) * (vd.x - c0.c)) AS dist
       FROM vd JOIN c0 USING (d) GROUP BY vd.vec_id, c0.j),
a1 AS (SELECT vec_id, j FROM (
         SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id
                                              ORDER BY dist, j) AS rn FROM d1)
       WHERE rn = 1),
c1 AS (SELECT a1.j, vd.d, avg(vd.x) AS c
       FROM a1 JOIN vd USING (vec_id) GROUP BY a1.j, vd.d),
d2 AS (SELECT vd.vec_id, c1.j, sum((vd.x - c1.c) * (vd.x - c1.c)) AS dist
       FROM vd JOIN c1 USING (d) GROUP BY vd.vec_id, c1.j),
a2 AS (SELECT vec_id, j FROM (
         SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id
                                              ORDER BY dist, j) AS rn FROM d2)
       WHERE rn = 1),
c2 AS (SELECT a2.j, vd.d, avg(vd.x) AS c
       FROM a2 JOIN vd USING (vec_id) GROUP BY a2.j, vd.d)
SELECT s.j, s.cluster_size, round(n.sqnorm, 6) AS centroid_sqnorm
FROM (SELECT j, CAST(count(*) AS BIGINT) AS cluster_size FROM a2 GROUP BY j) s
JOIN (SELECT j, sum(c * c) AS sqnorm FROM c2 GROUP BY j) n USING (j)
""",
)
def ml_kmeans_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (k=4) with DETERMINISTIC seeding and two unrolled Lloyd
    iterations in pure relational algebra — the third member of the
    from-scratch ML trio (ml_logreg_gd, ml_nb_portable), and unlike
    MLlib's ml_kmeans (JVM-seeded, rows-only) the converged assignment
    is oracle-checked. Seeds are fixed vectors (ids 0/100/200/300 —
    a deterministic stand-in for k-means|| oversampling); each Lloyd
    step is two hash aggregates: per-(vector, centroid) squared-L2
    (dimension join, partial-summing) and argmin by window, then
    per-(cluster, dim) mean — both associative and shuffle-bounded by
    |vectors|×k and k×dims. Argmin compares RAW distances (inter-
    centroid gaps are O(1), float noise is 1e-14 — no rounding before
    comparison, which would create boundary flips)."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", dbl("embedding").alias("v")
    )
    vd = e.select("vec_id", F.posexplode("v").alias("d", "x"))
    c = (
        vd.filter(F.col("vec_id").isin(0, 100, 200, 300))
        .select((F.col("vec_id") / 100).cast("int").alias("j"), "d", F.col("x").alias("c"))
    )
    assign = None
    for _ in range(2):
        dist = (
            vd.join(c, "d")
            .groupBy("vec_id", "j")
            .agg(F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).alias("dist"))
        )
        assign = (
            dist.withColumn(
                "rn",
                F.row_number().over(
                    W.partitionBy("vec_id").orderBy("dist", "j")
                ),
            )
            .filter(F.col("rn") == 1)
            .select("vec_id", "j")
        )
        c = (
            assign.join(vd, "vec_id")
            .groupBy("j", "d")
            .agg(F.avg("x").alias("c"))
        )
    sizes = assign.groupBy("j").agg(F.count(F.lit(1)).cast("bigint").alias("cluster_size"))
    norms = c.groupBy("j").agg(F.sum(F.col("c") * F.col("c")).alias("sqnorm"))
    return sizes.join(norms, "j").select(
        "j", "cluster_size", F.round("sqnorm", 6).alias("centroid_sqnorm")
    )


@query(
    "wl_prisma_flow",
    oracle="""
WITH identified AS (SELECT doc_id, text, lang, n_chars FROM documents),
deduped AS (
  SELECT doc_id, lang, n_chars FROM (
    SELECT doc_id, lang, n_chars,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM identified) WHERE rn = 1),
screened AS (SELECT doc_id, lang FROM deduped WHERE n_chars >= 64),
included AS (SELECT doc_id FROM screened WHERE lang = 'en')
SELECT stage, n, stage_order FROM (
  SELECT 'identified' AS stage, CAST(count(*) AS BIGINT) AS n, 1 AS stage_order FROM identified
  UNION ALL
  SELECT 'after_dedup', CAST(count(*) AS BIGINT), 2 FROM deduped
  UNION ALL
  SELECT 'screened_in', CAST(count(*) AS BIGINT), 3 FROM screened
  UNION ALL
  SELECT 'included', CAST(count(*) AS BIGINT), 4 FROM included)
""",
)
def wl_prisma_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRISMA flow-diagram counts — the reporting artifact every
    systematic review publishes (records identified → after duplicate
    removal → screened in → included; the reference's own paper
    reports exactly this funnel). Each stage is a lazy filter over the
    previous one, so Catalyst computes the whole cascade from ONE
    corpus scan + one fingerprint window; the four counts are
    unioned 1-row aggregates. The eligibility rules here are the
    engine's hygiene gates (length, language) standing in for the
    reviewer's criteria — swap predicates, not plan."""
    d = load(spark, sf_dir, "documents")
    deduped = (
        d.withColumn(
            "rn", F.row_number().over(W.partitionBy(F.md5("text")).orderBy("doc_id"))
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    screened = deduped.filter(F.col("n_chars") >= 64)
    included = screened.filter(F.col("lang") == "en")

    def stage(df, name, order):
        return df.agg(F.count(F.lit(1)).cast("bigint").alias("n")).select(
            F.lit(name).alias("stage"), "n", F.lit(order).alias("stage_order")
        )

    return (
        stage(d, "identified", 1)
        .unionByName(stage(deduped, "after_dedup", 2))
        .unionByName(stage(screened, "screened_in", 3))
        .unionByName(stage(included, "included", 4))
    )


@query(
    "wl_cohens_kappa",
    oracle="""
WITH rated AS (
  SELECT CASE WHEN n_chars >= 96 THEN 1 ELSE 0 END AS a,
         CASE WHEN len(string_split(text, ' ')) >= 18 THEN 1 ELSE 0 END AS b
  FROM documents),
cm AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(a * b) AS DOUBLE) AS n11,
         CAST(sum(a * (1 - b)) AS DOUBLE) AS n10,
         CAST(sum((1 - a) * b) AS DOUBLE) AS n01,
         CAST(sum((1 - a) * (1 - b)) AS DOUBLE) AS n00
  FROM rated)
SELECT CAST(n AS BIGINT) AS n,
       CAST(n11 AS BIGINT) AS both_include, CAST(n00 AS BIGINT) AS both_exclude,
       round((n11 + n00) / n, 6) AS observed_agreement,
       round(((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) / (n * n), 6)
         AS expected_agreement,
       round(((n11 + n00) / n
              - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) / (n * n))
             / nullif(1 - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                          / (n * n), 0),
             6) AS kappa
FROM cm
""",
)
def wl_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa inter-rater agreement — the dual-screening QA
    metric of every systematic review (two reviewers screen the same
    records; kappa corrects raw agreement for chance). The two
    'raters' are deterministic eligibility rules (length vs token
    count) so the 2×2 confusion cells are exact integers; kappa =
    (p_o − p_e)/(1 − p_e) derives from ONE conditional-sum aggregate
    pass — the agg_higher_moments discipline applied to agreement
    statistics. Identical expression trees on both engines ⇒
    bit-equal before rounding."""
    d = load(spark, sf_dir, "documents")
    a = F.when(F.col("n_chars") >= 96, 1).otherwise(0)
    b = F.when(F.size(F.split("text", " ")) >= 18, 1).otherwise(0)
    rated = d.select(a.alias("a"), b.alias("b"))
    cm = rated.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("double").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("double").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("double").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("double").alias("n00"),
    )
    po = (F.col("n11") + F.col("n00")) / F.col("n")
    pe = (
        (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))
        + (F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00"))
    ) / (F.col("n") * F.col("n"))
    return cm.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("n11").cast("bigint").alias("both_include"),
        F.col("n00").cast("bigint").alias("both_exclude"),
        F.round(po, 6).alias("observed_agreement"),
        F.round(pe, 6).alias("expected_agreement"),
        # constant raters (a 1-doc or single-band corpus) make pe
        # exactly 1 from the same integer-exact cells on both engines:
        # kappa is undefined — NULL via nullif, never DIVIDE_BY_ZERO
        F.round((po - pe) / F.nullif(1 - pe, F.lit(0.0)), 6).alias("kappa"),
    )


@query(
    "ml_feature_mi",
    oracle="""
WITH d AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                  list_distinct(string_split(text, ' ')) AS toks
           FROM documents),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(y) AS DOUBLE) AS n_pos FROM d),
tok AS (SELECT doc_id, y, unnest(toks) AS w FROM d),
cnt AS (SELECT w, CAST(count(*) AS DOUBLE) AS n_w,
               CAST(sum(y) AS DOUBLE) AS n_w_pos
        FROM tok GROUP BY w),
mi AS (
  SELECT w,
         (CASE WHEN n_w_pos > 0 THEN (n_w_pos / n.n) * ln((n_w_pos / n.n)
                / ((n_w / n.n) * (n_pos / n.n))) ELSE 0 END
          + CASE WHEN n_w - n_w_pos > 0 THEN ((n_w - n_w_pos) / n.n)
                 * ln(((n_w - n_w_pos) / n.n)
                      / ((n_w / n.n) * ((n.n - n_pos) / n.n))) ELSE 0 END) AS mi_present
  FROM cnt, n)
SELECT w, round(mi_present, 6) AS mi
FROM mi ORDER BY round(mi_present, 6) DESC, w LIMIT 15
""",
)
def ml_feature_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information feature selection: MI between token presence
    and the inclusion label, top-15 — the feature-ranking step the
    reference pipeline runs before training its screeners (the chi²
    sibling, wl_chi2_assoc, tests independence; MI ranks
    discriminative power). One distinct-token explode + one
    conditional-count aggregate; the MI formula is identical
    expression trees over exact integer counts, so both engines agree
    bit-for-bit before rounding; the top-15 cut ranks on the rounded
    score with token tie-break."""
    d = load(spark, sf_dir, "documents").select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.array_distinct(F.split("text", " ")).alias("toks"),
    )
    n = d.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("y").cast("double").alias("n_pos"),
    )
    tok = d.select("y", F.explode("toks").alias("w"))
    cnt = tok.groupBy("w").agg(
        F.count(F.lit(1)).cast("double").alias("n_w"),
        F.sum("y").cast("double").alias("n_w_pos"),
    )
    j = cnt.join(F.broadcast(n))
    p_w = F.col("n_w") / F.col("n")
    p_pos = F.col("n_pos") / F.col("n")
    p_wp = F.col("n_w_pos") / F.col("n")
    p_wn = (F.col("n_w") - F.col("n_w_pos")) / F.col("n")
    mi = F.when(
        F.col("n_w_pos") > 0, p_wp * F.log(p_wp / (p_w * p_pos))
    ).otherwise(0.0) + F.when(
        F.col("n_w") - F.col("n_w_pos") > 0,
        p_wn * F.log(p_wn / (p_w * (1 - p_pos))),
    ).otherwise(0.0)
    return (
        j.select("w", F.round(mi, 6).alias("mi"))
        .orderBy(F.col("mi").desc(), "w")
        .limit(15)
    )


@query(
    "ml_screen_e2e",
    oracle=f"""
WITH feat AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         1.0 AS x0,
         len(string_split(text, ' ')) / 100.0 AS x1,
         CAST(len(list_filter(string_split(text, ' '), t -> t IN ({_GD_STOP_SQL})))
              AS DOUBLE) / len(string_split(text, ' ')) AS x2
  FROM documents),
g1 AS (
  SELECT avg((1.0 / (1.0 + exp(0.0)) - y) * x0) AS g0,
         avg((1.0 / (1.0 + exp(0.0)) - y) * x1) AS g1,
         avg((1.0 / (1.0 + exp(0.0)) - y) * x2) AS g2
  FROM feat),
w1 AS (SELECT -1.0 * g0 AS w0, -1.0 * g1 AS w1, -1.0 * g2 AS w2 FROM g1),
g2 AS (
  SELECT avg((1.0 / (1.0 + exp(-(w.w0 * x0 + w.w1 * x1 + w.w2 * x2))) - y) * x0) AS g0,
         avg((1.0 / (1.0 + exp(-(w.w0 * x0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) AS g1,
         avg((1.0 / (1.0 + exp(-(w.w0 * x0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) AS g2
  FROM feat, w1 w),
w2 AS (SELECT w.w0 - g.g0 AS w0, w.w1 - g.g1 AS w1, w.w2 - g.g2 AS w2 FROM w1 w, g2 g),
scored AS (
  SELECT doc_id, y, round(w.w0 * x0 + w.w1 * x1 + w.w2 * x2, 6) AS z
  FROM feat, w2 w),
ranked AS (
  SELECT doc_id, y, row_number() OVER (ORDER BY z DESC, doc_id) AS rnk,
         count(*) OVER () AS n, sum(y) OVER () AS n_pos
  FROM scored)
SELECT CAST(max(n) AS BIGINT) AS n,
       CAST(max(n_pos) AS BIGINT) AS n_pos,
       CAST(sum(CASE WHEN rnk <= ceil(0.1 * n) THEN y ELSE 0 END) AS BIGINT)
         AS found_at_10pct,
       round(sum(CASE WHEN rnk <= ceil(0.1 * n) THEN y ELSE 0 END)
             / nullif(max(n_pos), 0), 6)
         AS recall_at_10pct
FROM ranked
""",
)
def ml_screen_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE reference workflow end-to-end, oracle-checked: featurize →
    train (2 full-batch GD steps of ml_logreg_gd's logistic model) →
    score every record → rank → recall@10%-screened, in ONE lazy plan.
    MLlib twins (ml_lr + ml_rank_screen + ml_eval_wss95) run this with
    library models as rows-only keys; here every number — weights,
    scores, the ranked cut, the recall — is bit-checked against the
    oracle. Ranking uses the 6-dp-rounded score with doc_id tie-break
    (both engines cut the identical top decile) through the two-pass
    range rank. The feature matrix is persisted across the GD
    iterations — wl_pagerank3's discipline: the loop re-reads feat
    2×(grad) + 1×(score) + the rank's stats branch, and at cluster
    scale that is 4 corpus scans vs one cached columnar block (a
    real deployment checkpoints instead when lineage depth
    matters)."""
    feat, out = _screen_e2e_lazy(spark, sf_dir)
    # eagerly materialize the 1-row result (localCheckpoint runs the
    # job now) so the per-document feature matrix can be unpersisted
    # here instead of pinning executor memory for the session lifetime
    # — unlike runtime.py's cache_reuse (a small reduced rollup), feat
    # scales with the corpus. try/finally: the cache must not outlive
    # this call even when the checkpoint job fails.
    try:
        out = out.localCheckpoint(eager=True)
    finally:
        feat.unpersist()
    return out


def _screen_e2e_lazy(spark: SparkSession, sf_dir: str):
    """The lazy (feat, result) pair behind ml_screen_e2e — split out so
    plan tests can assert the two-pass rank shape pre-checkpoint."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    feat = d.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        F.lit(1.0).alias("x0"),
        (F.size(toks) / 100.0).alias("x1"),
        (
            F.size(F.filter(toks, lambda t: t.isin(*_GD_STOP))).cast("double")
            / F.size(toks)
        ).alias("x2"),
    ).persist()
    w = spark.createDataFrame([(0.0, 0.0, 0.0)], "w0 double, w1 double, w2 double")
    for _ in range(2):
        z = F.col("w0") * F.col("x0") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")
        p = 1.0 / (1.0 + F.exp(-z))
        g = feat.join(F.broadcast(w)).agg(
            F.avg((p - F.col("y")) * F.col("x0")).alias("g0"),
            F.avg((p - F.col("y")) * F.col("x1")).alias("g1"),
            F.avg((p - F.col("y")) * F.col("x2")).alias("g2"),
        )
        w = w.join(F.broadcast(g)).select(
            (F.col("w0") - F.col("g0")).alias("w0"),
            (F.col("w1") - F.col("g1")).alias("w1"),
            (F.col("w2") - F.col("g2")).alias("w2"),
        )
    z = F.col("w0") * F.col("x0") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")
    scored = feat.join(F.broadcast(w)).select(
        "doc_id", "y", F.round(z, 6).alias("z")
    )
    ranked = global_rank(
        scored,
        F.col("z").desc(),
        F.col("doc_id"),
        rank_col="rnk",
        totals={"n": F.count(F.lit(1)), "n_pos": F.sum("y")},
    )
    out = ranked.agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("n_pos").cast("bigint").alias("n_pos"),
        F.sum(F.when(F.col("rnk") <= F.ceil(0.1 * F.col("n")), F.col("y")).otherwise(0.0))
        .cast("bigint")
        .alias("found_at_10pct"),
        F.round(
            F.sum(
                F.when(F.col("rnk") <= F.ceil(0.1 * F.col("n")), F.col("y")).otherwise(0.0)
            )
            / F.nullif(F.max("n_pos"), F.lit(0.0)),
            6,
        ).alias("recall_at_10pct"),
    )
    return feat, out


@query(
    "ml_split_leakage",
    oracle="""
WITH corpus AS (
  SELECT doc_id, md5(text) AS fp,
         CASE WHEN CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 10 < 8 THEN 'train' ELSE 'test' END AS split
  FROM documents),
tr AS (SELECT DISTINCT fp FROM corpus WHERE split = 'train'),
te AS (SELECT DISTINCT fp FROM corpus WHERE split = 'test'),
leak AS (SELECT count(*) AS n_leaked FROM te WHERE fp IN (SELECT fp FROM tr))
SELECT (SELECT count(*) FROM corpus WHERE split = 'train') AS n_train,
       (SELECT count(*) FROM corpus WHERE split = 'test') AS n_test,
       CAST((SELECT n_leaked FROM leak) AS BIGINT) AS leaked_fingerprints
""",
)
def ml_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE audit: hash-split the corpus (the ml_split
    discipline — md5 coin, coordination-free), then count test-set
    content fingerprints that also appear in train. Duplicate texts
    straddling the split are the classic silent evaluator inflation;
    this is the check that says 'dedup BEFORE you split'. One
    fingerprint projection + a broadcast-able semi-join of the small
    test side against train fingerprints."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5("text").alias("fp"),
        F.when(md5_u32("'split:'", "doc_id") % 10 < 8, "train")
        .otherwise("test")
        .alias("split"),
    )
    tr = d.filter(F.col("split") == "train").select("fp").distinct()
    te = d.filter(F.col("split") == "test").select("fp").distinct()
    n_train = d.filter(F.col("split") == "train").agg(
        F.count(F.lit(1)).alias("n_train")
    )
    n_test = d.filter(F.col("split") == "test").agg(F.count(F.lit(1)).alias("n_test"))
    leaked = te.join(tr, "fp", "left_semi").agg(
        F.count(F.lit(1)).cast("bigint").alias("leaked_fingerprints")
    )
    return n_train.join(F.broadcast(n_test)).join(F.broadcast(leaked))


@query(
    "ml_item_cf",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
deg AS (SELECT l_partkey AS p, count(*) AS d FROM li GROUP BY 1),
co AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS c
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2),
sim AS (
  SELECT co.p1, co.p2,
         round(co.c / (sqrt(da.d) * sqrt(db.d)), 6) AS cos_sim
  FROM co JOIN deg da ON da.p = co.p1 JOIN deg db ON db.p = co.p2
  WHERE co.c >= 2),
top AS (
  SELECT p1, p2, cos_sim,
         row_number() OVER (PARTITION BY p1 ORDER BY cos_sim DESC, p2) AS rn
  FROM sim)
SELECT p1 AS item, p2 AS similar_item, cos_sim
FROM top WHERE rn <= 3
""",
)
def ml_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: cosine over the binary
    item×basket matrix computed ENTIRELY from co-occurrence counts —
    cos(i,j) = |i∩j| / √|i|√|j| — with top-3 neighbors per item. The
    deterministic, oracle-checked counterpart of the seeded ml_als
    factorization (rows-only), and the production fallback every
    recommender ships first. Co-counts come from the within-order
    self-join (per-basket quadratic only — wl_copurchase's
    discipline); degree joins AQE-sized; support < 2 pruned BEFORE
    ranking so noise pairs never enter the window. Ranks on the
    rounded cosine with item tie-break."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    deg = li.groupBy(F.col("l_partkey").alias("p")).agg(F.count(F.lit(1)).alias("d"))
    a, b = li.alias("a"), li.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
    )
    da = deg.select(F.col("p").alias("p1"), F.col("d").alias("d1"))
    db = deg.select(F.col("p").alias("p2"), F.col("d").alias("d2"))
    # degree side scales with the part dimension — AQE picks broadcast
    # only while it fits
    sim = (
        co.join(da, "p1")
        .join(db, "p2")
        .select(
            "p1",
            "p2",
            F.round(F.col("c") / (F.sqrt("d1") * F.sqrt("d2")), 6).alias("cos_sim"),
        )
    )
    top = sim.withColumn(
        "rn",
        F.row_number().over(W.partitionBy("p1").orderBy(F.col("cos_sim").desc(), "p2")),
    ).filter(F.col("rn") <= 3)
    return top.select(
        F.col("p1").alias("item"), F.col("p2").alias("similar_item"), "cos_sim"
    )


@query(
    "ml_confusion_multiclass",
    oracle="""
WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM tok),
cls AS (SELECT lang AS c, count(DISTINCT doc_id) AS nc FROM tok GROUP BY lang),
vocab AS (SELECT count(DISTINCT w) AS v FROM tok),
cw AS (SELECT lang AS c, w, count(*) AS cnt FROM tok GROUP BY lang, w),
ctot AS (SELECT c, CAST(sum(cnt) AS DOUBLE) AS tot FROM cw GROUP BY c),
scored AS (
  SELECT t.doc_id, t.lang AS true_lang, cls.c,
         ln(CAST(cls.nc AS DOUBLE) / nd.n)
         + sum(ln((coalesce(cw.cnt, 0) + 1.0) / (ctot.tot + vocab.v))) AS score
  FROM tok t
  CROSS JOIN cls
  JOIN ctot ON ctot.c = cls.c
  LEFT JOIN cw ON cw.c = cls.c AND cw.w = t.w, nd, vocab
  GROUP BY t.doc_id, t.lang, cls.c, cls.nc, nd.n),
pred AS (
  SELECT doc_id, true_lang, c AS pred_lang,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY round(score, 6) DESC, c) AS rn
  FROM scored)
SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
FROM pred WHERE rn = 1 GROUP BY true_lang, pred_lang
""",
)
def ml_confusion_multiclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTICLASS confusion matrix over the portable naive-Bayes
    language classifier — ml_eval_confusion generalized past binary:
    one (true, pred) cell count per populated pair, from which every
    per-class precision/recall/macro-F1 derives. Reuses
    ml_nb_portable's scoring plan wholesale; the matrix itself is a
    bounded |classes|² aggregate that broadcasts into any dashboard."""
    pred = ml_nb_portable(spark, sf_dir)
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


@query(
    "ml_gains_table",
    oracle=f"""
WITH feat AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         len(string_split(text, ' ')) / 100.0 AS x1,
         CAST(len(list_filter(string_split(text, ' '), t -> t IN ({_GD_STOP_SQL})))
              AS DOUBLE) / len(string_split(text, ' ')) AS x2
  FROM documents),
scored AS (
  SELECT doc_id, y, round(0.6 * x2 + 0.4 * x1, 6) AS score FROM feat),
ranked AS (
  SELECT y, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk,
         count(*) OVER () AS n, sum(y) OVER () AS n_pos
  FROM scored),
dec AS (
  SELECT CAST(ceil(10.0 * rnk / n) AS INTEGER) AS decile, y, n, n_pos
  FROM ranked),
g AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(y) AS BIGINT) AS positives,
         max(n) AS n, max(n_pos) AS n_pos
  FROM dec GROUP BY decile)
SELECT decile, n_rows, positives,
       round(sum(positives) OVER (ORDER BY decile)
             / nullif(max(n_pos) OVER (), 0), 6) AS cum_capture,
       round((CAST(positives AS DOUBLE) / n_rows)
             / nullif(CAST(max(n_pos) OVER () AS DOUBLE) / max(n) OVER (), 0),
             6) AS lift
FROM g
""",
)
def ml_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAINS/LIFT table: documents ranked by a screening score, cut
    into rank deciles, each reporting captured positives, cumulative
    capture, and lift over random — the campaign/screening triage
    artifact that tells a review team what the next 10% of effort
    buys (ml_eval_wss95 compresses this curve to one number; this IS
    the curve). The score is a deterministic linear screener over the
    same features as ml_logreg_gd (fixed weights — the table shape is
    the point, training is elsewhere); deciles come from rank
    arithmetic, not ntile, so the cut is identical cross-engine."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    feat = d.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        (F.size(toks) / 100.0).alias("x1"),
        (
            F.size(F.filter(toks, lambda t: t.isin(*_GD_STOP))).cast("double")
            / F.size(toks)
        ).alias("x2"),
    )
    scored = feat.select(
        "doc_id", "y", F.round(0.6 * F.col("x2") + 0.4 * F.col("x1"), 6).alias("score")
    )
    ranked = global_rank(
        scored,
        F.col("score").desc(),
        F.col("doc_id"),
        rank_col="rnk",
        totals={"n": F.count(F.lit(1)), "n_pos": F.sum("y")},
    )
    dec = ranked.select(
        F.ceil(10.0 * F.col("rnk") / F.col("n")).cast("int").alias("decile"),
        "y",
        "n",
        "n_pos",
    )
    g = dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("y").cast("bigint").alias("positives"),
        F.max("n").alias("n"),
        F.max("n_pos").alias("n_pos"),
    )
    wall = W.partitionBy()
    return g.select(
        "decile",
        "n_rows",
        "positives",
        F.round(
            F.sum("positives").over(W.orderBy("decile"))
            / F.nullif(F.max("n_pos").over(wall), F.lit(0.0)),
            6,
        ).alias("cum_capture"),
        F.round(
            (F.col("positives").cast("double") / F.col("n_rows"))
            / F.nullif(
                F.max("n_pos").over(wall).cast("double") / F.max("n").over(wall),
                F.lit(0.0),
            ),
            6,
        ).alias("lift"),
    )


@query(
    "ml_cascade_cost",
    oracle=f"""
WITH feat AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         n_chars,
         CAST(len(list_filter(string_split(text, ' '), t -> t IN ({_GD_STOP_SQL})))
              AS DOUBLE) / len(string_split(text, ' ')) AS stop_rate
  FROM documents),
staged AS (
  SELECT y,
         CASE WHEN n_chars >= 64 THEN 1 ELSE 0 END AS passes_cheap,
         CASE WHEN n_chars >= 64 AND stop_rate >= 0.03 THEN 1 ELSE 0 END AS flagged
  FROM feat)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(passes_cheap) AS BIGINT) AS to_stage2,
       CAST(count(*) + 100 * sum(passes_cheap) AS BIGINT) AS cascade_cost,
       CAST(101 * count(*) AS BIGINT) AS flat_cost,
       round(CAST(sum(CASE WHEN flagged = 1 THEN y ELSE 0 END) AS DOUBLE)
             / nullif(sum(y), 0), 6) AS cascade_recall
FROM staged
""",
)
def ml_cascade_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Screening CASCADE cost model: a 1-unit cheap rule gates which
    documents reach the 100-unit expensive model — the cost/recall
    trade every large-scale classification deployment makes (the
    reference's screening economics, and the LLM-era 'router' shape:
    cheap filter → expensive judge). One conditional pass yields the
    cascade cost, the always-expensive flat cost, and the recall the
    cascade retains; moving the stage-1 threshold replays the whole
    economics without new scans."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    feat = d.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        "n_chars",
        (
            F.size(F.filter(toks, lambda t: t.isin(*_GD_STOP))).cast("double")
            / F.size(toks)
        ).alias("stop_rate"),
    )
    staged = feat.select(
        "y",
        F.when(F.col("n_chars") >= 64, 1).otherwise(0).alias("passes_cheap"),
        F.when((F.col("n_chars") >= 64) & (F.col("stop_rate") >= 0.03), 1)
        .otherwise(0)
        .alias("flagged"),
    )
    return staged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("passes_cheap").cast("bigint").alias("to_stage2"),
        (F.count(F.lit(1)) + 100 * F.sum("passes_cheap"))
        .cast("bigint")
        .alias("cascade_cost"),
        (101 * F.count(F.lit(1))).cast("bigint").alias("flat_cost"),
        F.round(
            F.sum(F.when(F.col("flagged") == 1, F.col("y")).otherwise(0)).cast("double")
            / F.nullif(F.sum("y"), F.lit(0)),
            6,
        ).alias("cascade_recall"),
    )
