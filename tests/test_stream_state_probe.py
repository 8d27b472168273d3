"""stream_stateful's applyInPandasWithState replay must equal the batch
aggregate it is oracled against."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_stream_stateful_matches_batch_aggregate(spark, sf_dir):
    from systematic_review_classification_spark.sources.tables import load
    from systematic_review_classification_spark.streaming.stream_ops import (
        stream_stateful,
    )

    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in stream_stateful(spark, sf_dir).collect()
    }
    want = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .collect()
    }
    assert got == want
