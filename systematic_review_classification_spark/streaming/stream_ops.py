"""Category K — Structured Streaming operators (SURVEY.md §2.K).

Each operator REALLY executes through the streaming engine
(micro-batches, checkpoints, state store) via Trigger.AvailableNow
over a staged file-source replay of the events table. Where the final
state is a deterministic function of the input — tumbling/sliding
windows in complete mode, watermark-exact dedup, single-batch stateful
counts, foreachBatch merge — the result is DuckDB-oracled; only
genuinely order/watermark-dependent behavior (late-data drop) is
rows-only.

Scale notes: windowed aggregations carry per-window state in the state
store keyed by (window, group) — linear in open windows, not in input;
the production sink is update-mode into a replayable log (the memory
sink here is the test harness). Session windows merge state per key;
dedup state is bounded by the watermark horizon.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from systematic_review_classification_spark.registry import query
from systematic_review_classification_spark.streaming.helpers import (
    read_events_stream,
    run_to_memory,
    sf_tag,
    stage_events_dir,
    stream_shuffle_partitions,
    work_dir,
)


def _chrono_buckets(ev: DataFrame, n: int) -> DataFrame:
    """Chronological n-way replay split WITHOUT a global ntile window:
    approx-percentile cutpoints of event time (one tiny aggregate,
    1-row broadcast back) assign each row its bucket, so the split is
    a parallel map at any scale. Buckets are approximately equal-count
    — only chronological order between batches matters to the replay —
    and cutpoint ties land in the earlier bucket, so same-timestamp
    events never straddle a batch boundary. Degenerate streams (all
    one timestamp) collapse to fewer buckets; callers iterate the
    bucket dirs that exist."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cuts = ev.agg(
        F.percentile_approx(us, [i / n for i in range(1, n)], 10_000).alias("_cuts")
    )
    bucket = F.aggregate(
        F.col("_cuts"),
        F.lit(1),
        lambda acc, c: acc + F.when(us > c, 1).otherwise(0),
    )
    return ev.join(F.broadcast(cuts)).withColumn("bucket", bucket).drop("_cuts")


@query(
    "stream_tumbling",
    oracle="""
SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, event_type,
       count(*) AS n, round(sum(value), 2) AS total_value
FROM events GROUP BY bucket, event_type
""",
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation, executed as a real stream (file
    replay → window() agg → complete-mode memory sink)."""
    src = stage_events_dir(sf_dir, "tumbling_src")
    stream = read_events_stream(spark, src)
    agg = stream.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value")
    )
    out = agg.select(
        F.col("window.start").alias("bucket"), "event_type", "n", "total_value"
    )
    qname = run_to_memory(out, sf_dir, "tumbling", "complete")
    return spark.table(qname)


@query(
    "stream_sliding",
    oracle="""
WITH shifted AS (
  SELECT time_bucket(INTERVAL '15 minutes', ts) - j * INTERVAL '15 minutes' AS bucket,
         event_type
  FROM events CROSS JOIN (SELECT unnest(range(0, 4)) AS j)
)
SELECT bucket, event_type, count(*) AS n
FROM shifted GROUP BY bucket, event_type
""",
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h window, 15 min slide): every event lands in
    exactly 4 overlapping windows. Oracle reconstructs the window set
    arithmetically (bucket − j·slide for j ∈ 0..3)."""
    src = stage_events_dir(sf_dir, "sliding_src")
    stream = read_events_stream(spark, src)
    agg = stream.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    out = agg.select(F.col("window.start").alias("bucket"), "event_type", "n")
    qname = run_to_memory(out, sf_dir, "sliding", "complete")
    return spark.table(qname)


@query(
    "stream_dedup",
    oracle="""
SELECT event_type, count(*) AS n_unique
FROM events GROUP BY event_type
""",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup: the source replays every event TWICE (two
    staged copies); dropDuplicatesWithinWatermark on event_id with a
    watermark horizon covering the whole replay collapses them back to
    the exact distinct set — verified against the batch distinct."""
    import os

    src = work_dir(sf_dir, "dedup_src")
    os.symlink(f"{sf_dir}/events.parquet", f"{src}/a.parquet")
    os.symlink(f"{sf_dir}/events.parquet", f"{src}/b.parquet")
    stream = read_events_stream(spark, src, as_ntz=False)
    deduped = stream.withWatermark("ts", "45 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique"))
    qname = run_to_memory(agg, sf_dir, "dedup", "complete")
    return spark.table(qname)


@query("stream_watermark_late")  # rows-only: drop set depends on batch order
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark / late-data semantics: the replay is split into three
    chronological thirds plus a final file that re-injects the oldest
    events; with maxFilesPerTrigger=1 the watermark (1 hour behind
    max ts) has advanced past them, so the append-mode output drops
    them. Asserted locally: late rows do NOT appear in the sink."""
    import os

    from systematic_review_classification_spark.sources.tables import load

    ev = load(spark, sf_dir, "events").orderBy("ts")
    src = work_dir(sf_dir, "late_src")
    parts = work_dir(sf_dir, "late_parts")
    # three chronological thirds, then the oldest 5% replayed late
    _chrono_buckets(ev, 3).write.mode("overwrite").partitionBy("bucket").parquet(parts)
    # row count from the parquet footers — free metadata read, no
    # Spark job; events.parquet may be a single file (the generated
    # testdata) or a Spark-written DIRECTORY of part files
    import pyarrow.parquet as pq

    ev_path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(ev_path):
        n_events = sum(
            pq.ParquetFile(os.path.join(ev_path, f)).metadata.num_rows
            for f in os.listdir(ev_path)
            if f.endswith(".parquet")
        )
    else:
        n_events = pq.ParquetFile(ev_path).metadata.num_rows
    late = ev.limit(max(n_events // 20, 1))
    # degenerate streams can collapse to fewer buckets — stage whatever
    # bucket dirs the split produced, in chronological order
    buckets = sorted(
        int(b.split("=")[1]) for b in os.listdir(parts) if b.startswith("bucket=")
    )
    staged = []
    for j, i in enumerate(buckets, start=1):
        os.makedirs(f"{src}/f{j}", exist_ok=True)
        spark.read.parquet(f"{parts}/bucket={i}").write.mode("overwrite").parquet(
            f"{src}/f{j}"
        )
        staged.append(j)
    late_idx = len(staged) + 1
    late.write.mode("overwrite").parquet(f"{src}/f{late_idx}")
    staged.append(late_idx)
    # flatten staged files with increasing mtimes for deterministic order
    flat = work_dir(sf_dir, "late_flat")
    t0 = 1_700_000_000
    n = 0
    for i in staged:
        for f in sorted(os.listdir(f"{src}/f{i}")):
            if f.endswith(".parquet"):
                dst = f"{flat}/{i:02d}_{f}"
                os.link(f"{src}/f{i}/{f}", dst)
                os.utime(dst, (t0 + n, t0 + n))
                n += 1

    stream = (
        spark.readStream.schema(spark.read.parquet(flat).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
        .withColumn("ts", F.col("ts").cast("timestamp"))  # watermark needs ltz
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").cast("timestamp_ntz").alias("bucket"), "n")
    )
    sink = work_dir(sf_dir, "late_sink")
    ckpt = work_dir(sf_dir, "late_ckpt")
    from systematic_review_classification_spark.streaming.helpers import (
        stream_shuffle_partitions,
    )

    with stream_shuffle_partitions(spark):
        (
            agg.writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return spark.read.parquet(sink)


_STATE_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
_STATE = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("v", T.DoubleType())]
)


@query(
    "stream_stateful",
    oracle="""
SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events GROUP BY user_id
""",
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful processing (applyInPandasWithState): running
    per-user counters in the state store, update-mode emission. The
    single-batch replay makes the final emission equal the batch
    aggregate, so even this user-code path is oracle-checked."""

    def track(key, pdfs, state):
        n, v = (state.get if state.exists else (lambda: (0, 0.0)))()
        for pdf in pdfs:
            n += len(pdf)
            v += float(pdf["value"].sum())
        state.update((n, v))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(v, 2)]}
        )

    src = stage_events_dir(sf_dir, "stateful_src")
    stream = read_events_stream(spark, src)
    updated = stream.groupBy("user_id").applyInPandasWithState(
        track, _STATE_OUT, _STATE, "update", "NoTimeout"
    )
    qname = run_to_memory(updated, sf_dir, "stateful", "update")
    return spark.table(qname)


@query(
    "stream_foreachbatch",
    oracle="""
SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
FROM events GROUP BY event_type
""",
)
def stream_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: each micro-batch appends to a parquet table
    (the merge-into-lakehouse shape); the final table re-aggregated
    equals the batch answer."""
    src = stage_events_dir(sf_dir, "feb_src")
    sink = work_dir(sf_dir, "feb_sink")
    ckpt = work_dir(sf_dir, "feb_ckpt")
    stream = read_events_stream(spark, src).select("event_id", "event_type", "value")

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(sink)

    from systematic_review_classification_spark.streaming.helpers import (
        stream_shuffle_partitions,
    )

    with stream_shuffle_partitions(spark):
        (
            stream.writeStream.foreachBatch(merge)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return (
        spark.read.parquet(sink)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


@query(
    "stream_static_join",
    oracle="""
SELECT c_mktsegment, count(*) AS n, CAST(sum(user_id) AS BIGINT) AS uid_sum
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
""",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the streaming side enriches against a
    batch dimension (re-read every micro-batch, broadcast by the
    planner) - the canonical streaming-enrichment shape. Final
    aggregated state equals the batch join."""
    from systematic_review_classification_spark.sources.tables import load

    src = stage_events_dir(sf_dir, "ssj_src")
    stream = read_events_stream(spark, src).select("event_id", "user_id")
    dim = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = stream.join(F.broadcast(dim), stream.user_id == dim.c_custkey)
    # streaming aggs don't support exact countDistinct — exact integer
    # sum serves as the checksum instead
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"), F.sum("user_id").alias("uid_sum")
    )
    qname = run_to_memory(agg, sf_dir, "ssj", "complete")
    return spark.table(qname)


@query(
    "stream_stream_join",
    oracle="""
SELECT c.user_id                          AS user_id,
       c.event_id                         AS click_id,
       p.event_id                         AS purchase_id,
       epoch_us(p.ts) - epoch_us(c.ts)    AS lag_us
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '1 hour'
""",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time range condition: clicks
    joined to purchases by the same user within the following hour.
    Both sides carry watermarks, which is what BOUNDS the join state —
    the state store only retains rows inside the watermark horizon, so
    state is O(events per horizon), not O(stream length). The replay
    runs as one availableNow micro-batch, so the final joined set is
    the deterministic batch-join result the oracle computes."""
    clicks = (
        read_events_stream(spark, stage_events_dir(sf_dir, "ssj_clicks"), as_ntz=False)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        read_events_stream(spark, stage_events_dir(sf_dir, "ssj_purch"), as_ntz=False)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("lag_us"),
    )
    qname = run_to_memory(joined, sf_dir, "ssjoin", "append")
    return spark.table(qname)


@query(
    "stream_rollup_merge",
    oracle="""
SELECT CAST(date_trunc('month', ts) AS VARCHAR) AS month, event_type,
       count(*) AS n,
       round(sum(value), 4) AS total_value
FROM events
GROUP BY date_trunc('month', ts), event_type
""",
)
def stream_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming side of agg_incremental_rollup: the source replays as
    THREE micro-batches (maxFilesPerTrigger=1 over a 3-file staging),
    and each batch's daily partials MERGE into a keyed rollup store
    inside foreachBatch — read current generation, sum-combine on
    (day, event_type), write next generation. The merged daily store
    re-aggregated to months equals the batch answer over all events:
    count/sum partials compose across arbitrary batch boundaries.

    This is the lakehouse "MERGE INTO rollup" loop: state lives in the
    TABLE (idempotent per checkpointed batch id), not the state store,
    so the rollup survives restarts and is queryable mid-stream.
    Generation directories stand in for a table format's atomic
    commit; with Delta/Iceberg the merge is a single MERGE INTO. The
    current generation is derived from the store DIRECTORY, not Python
    driver state, so a restart against an existing checkpoint resumes
    from the persisted rollup instead of a desynchronized counter."""
    import os

    from systematic_review_classification_spark.sources.tables import load
    from systematic_review_classification_spark.streaming.helpers import (
        ensure_confs,
        stream_shuffle_partitions,
    )

    ensure_confs(spark)
    src = work_dir(sf_dir, "rollup_src")
    # stage events with ts already normalized to timestamp_ntz(µs) as
    # 3 files so AvailableNow splits batches; no epoch arithmetic
    # survives past this point
    load(spark, sf_dir, "events").select("ts", "event_type", "value").repartition(
        3
    ).write.mode("overwrite").parquet(src)
    store = work_dir(sf_dir, "rollup_store")
    ckpt = work_dir(sf_dir, "rollup_ckpt")

    def _generations() -> list[int]:
        return sorted(
            int(d[1:])
            for d in os.listdir(store)
            if d.startswith("g") and d[1:].isdigit()
        )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        gens = _generations()
        part = batch_df.groupBy(
            F.date_trunc("day", "ts").alias("day"), "event_type"
        ).agg(F.count(F.lit(1)).alias("part_n"), F.sum("value").alias("part_sum"))
        if gens:
            prev = spark.read.parquet(os.path.join(store, f"g{gens[-1]}"))
            part = (
                prev.unionByName(part)
                .groupBy("day", "event_type")
                .agg(
                    F.sum("part_n").alias("part_n"),
                    F.sum("part_sum").alias("part_sum"),
                )
            )
        nxt = gens[-1] + 1 if gens else 0
        part.write.mode("overwrite").parquet(os.path.join(store, f"g{nxt}"))

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)  # one staged file per micro-batch
        .parquet(src)
    )
    with stream_shuffle_partitions(spark):
        (
            stream.writeStream.foreachBatch(merge)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    daily = spark.read.parquet(os.path.join(store, f"g{_generations()[-1]}"))
    return (
        daily.groupBy(
            F.date_trunc("month", "day").cast("date").cast("string").alias("month"),
            "event_type",
        )
        .agg(F.sum("part_n").alias("n"), F.round(F.sum("part_sum"), 4).alias("total_value"))
    )


@query(
    "stream_cdc_upsert",
    oracle="""
SELECT user_id, CAST(ts AS VARCHAR) AS last_ts,
       event_type AS last_event_type, round(value, 2) AS last_value,
       n_changes
FROM (
  SELECT *,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         count(*)     OVER (PARTITION BY user_id) AS n_changes
  FROM events)
WHERE rn = 1
""",
)
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply loop: the event stream is treated as a change feed
    keyed by user_id, and foreachBatch MERGEs each micro-batch into a
    keyed snapshot table — latest (ts, event_id) wins, with a running
    change counter. After the 3-batch replay the snapshot must equal
    the batch "latest row per key" answer: last-writer-wins composes
    across arbitrary batch boundaries because max_by partials merge
    like max.

    Same lakehouse discipline as `stream_rollup_merge`: state lives in
    the TABLE (generation dirs = atomic commits, derived from the
    store listing so restarts resume from persisted state, not a
    Python counter); with Delta/Iceberg the merge is one MERGE INTO
    ... WHEN MATCHED. The per-batch reduction happens BEFORE the
    merge, so the store rewrite is keyed-snapshot-sized, not
    batch-sized. Tie-break on (ts, event_id) keeps the pick
    deterministic under equal timestamps."""
    import os

    from systematic_review_classification_spark.sources.tables import load
    from systematic_review_classification_spark.streaming.helpers import (
        ensure_confs,
        stream_shuffle_partitions,
    )

    ensure_confs(spark)
    src = work_dir(sf_dir, "cdc_src")
    load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).repartition(3).write.mode("overwrite").parquet(src)
    store = work_dir(sf_dir, "cdc_store")
    ckpt = work_dir(sf_dir, "cdc_ckpt")

    def _generations() -> list[int]:
        return sorted(
            int(d[1:])
            for d in os.listdir(store)
            if d.startswith("g") and d[1:].isdigit()
        )

    def _latest_per_key(df: DataFrame) -> DataFrame:
        # snapshot keeps the feed's column names (incl. event_id) so
        # the cross-batch tie-break compares REAL event ids, never a
        # null placeholder
        pick = F.struct("ts", "event_id")
        return df.groupBy("user_id").agg(
            F.max_by("ts", pick).alias("ts"),
            F.max_by("event_id", pick).alias("event_id"),
            F.max_by("event_type", pick).alias("event_type"),
            F.max_by("value", pick).alias("value"),
            F.sum("n_changes").alias("n_changes"),
        )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        gens = _generations()
        snap = _latest_per_key(batch_df.withColumn("n_changes", F.lit(1)))
        if gens:
            prev = spark.read.parquet(os.path.join(store, f"g{gens[-1]}"))
            snap = _latest_per_key(prev.unionByName(snap))
        nxt = gens[-1] + 1 if gens else 0
        snap.write.mode("overwrite").parquet(os.path.join(store, f"g{nxt}"))

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with stream_shuffle_partitions(spark):
        (
            stream.writeStream.foreachBatch(merge)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    snap = spark.read.parquet(os.path.join(store, f"g{_generations()[-1]}"))
    return snap.select(
        "user_id",
        F.col("ts").cast("string").alias("last_ts"),
        F.col("event_type").alias("last_event_type"),
        F.round("value", 2).alias("last_value"),
        "n_changes",
    )


_TTL_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("closed_by", T.StringType()),
    ]
)
_TTL_STATE = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)

_TTL_GAP_US = 6 * 3600 * 1_000_000  # 6 h session gap


@query("stream_stateful_ttl")  # rows-only: timeout closures depend on batch split
def stream_stateful_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful sessionization with EVENT-TIME state TTL
    (applyInPandasWithState + EventTimeTimeout): per-user open-session
    state; an arriving event more than 6 h after the previous one
    closes the old session inline ('gap'), and the state TTL fires
    when the WATERMARK passes last_event + 6 h, closing idle sessions
    without waiting for a successor event ('timeout') — the mechanism
    that bounds state-store size on a forever stream (state for a
    departed user is reclaimed by watermark progress, not by memory
    pressure).

    Event-time (not processing-time) timeout keeps the run
    replay-deterministic for a fixed batch split: the watermark
    sequence is a pure function of the staged files. The replay is
    four chronological quarters (maxFilesPerTrigger=1) so the
    watermark actually advances between batches and real timeouts
    fire. Invariants (tests/test_invariants.py): every emitted session
    is exactly a batch gaps-islands session, and every non-final batch
    session is emitted."""
    import os

    from systematic_review_classification_spark.sources.tables import load

    # a NULL event time has no position on the watermark axis (NaT
    # becomes iNaT µs → a pre-epoch timeout the state store rejects)
    # and a NULL user has no session key — both dropped, matching the
    # batch twin's NULL-ordering-key policy
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .orderBy("ts")
    )
    parts = work_dir(sf_dir, "ttl_parts")
    _chrono_buckets(ev, 4).write.mode("overwrite").partitionBy("bucket").parquet(parts)
    flat = work_dir(sf_dir, "ttl_flat")
    t0 = 1_700_000_000
    n = 0
    buckets = sorted(
        int(b.split("=")[1]) for b in os.listdir(parts) if b.startswith("bucket=")
    )
    for i in buckets:
        bdir = f"{parts}/bucket={i}"
        for f in sorted(os.listdir(bdir)):
            if f.endswith(".parquet"):
                dst = f"{flat}/{i:02d}_{f}"
                os.link(f"{bdir}/{f}", dst)
                os.utime(dst, (t0 + n, t0 + n))
                n += 1

    def track(key, pdfs, state):
        out = []
        if state.hasTimedOut:
            s, last, cnt = state.get
            out.append((key[0], s, last, cnt, "timeout"))
            state.remove()
        else:
            s, last, cnt = state.get if state.exists else (None, None, 0)
            rows = pd.concat(list(pdfs)) if pdfs else pd.DataFrame()
            if len(rows):
                rows = rows.sort_values("ts")
                for t in rows["ts"]:
                    us = int(t.value // 1_000)  # pandas ns -> µs
                    if s is None:
                        s, last, cnt = us, us, 1
                    elif us - last > _TTL_GAP_US:
                        out.append((key[0], s, last, cnt, "gap"))
                        s, last, cnt = us, us, 1
                    else:
                        last, cnt = us, cnt + 1
                state.update((s, last, cnt))
                # reclaim this user's state once the watermark passes
                # the session gap horizon. applyInPandasWithState does
                # NOT pre-filter late rows (unlike windowed aggs), so a
                # session rebuilt from events that arrived BEHIND the
                # watermark can put last+gap before the watermark —
                # setTimeoutTimestamp rejects that outright. Clamp to
                # watermark+1ms: an already-expired session times out
                # at the next watermark advance, the standard TTL
                # semantics for late data.
                horizon = last // 1_000 + _TTL_GAP_US // 1_000
                wm = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(max(horizon, wm + 1))
        yield pd.DataFrame(
            out, columns=["user_id", "start_us", "end_us", "n_events", "closed_by"]
        )

    stream = (
        # ev.schema, not re-inference from the staged files: an empty
        # feed stages ZERO files and schema inference aborts on them,
        # while the known schema lets the stream complete empty
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    sessions = (
        stream.withWatermark("ts", "1 minute")
        .groupBy("user_id")
        .applyInPandasWithState(
            track, _TTL_OUT, _TTL_STATE, "append", "EventTimeTimeout"
        )
    )
    qname = run_to_memory(sessions, sf_dir, "ttl", "append")
    return spark.table(qname)


@query("stream_progress")  # rows-only: progress metrics are engine telemetry
def stream_progress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming observability: run an availableNow aggregation and
    report the StreamingQueryProgress counters (rows ingested, batches
    executed, state rows) as a relation — the numbers an operator
    alarms on in production. The invariant test pins
    numInputRows == |events| (no rows silently skipped) and
    batches >= 1."""
    src = stage_events_dir(sf_dir, "progress_src")
    stream = read_events_stream(spark, src)
    agg = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    qname = f"mem_progress_{sf_tag(sf_dir)}"
    ckpt = work_dir(sf_dir, "progress_ckpt")
    with stream_shuffle_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    progress = q.recentProgress
    rows = [
        (
            int(p["batchId"]),
            int(p["numInputRows"]),
            int(sum(op.get("numRowsTotal", 0) for op in p.get("stateOperators", []))),
        )
        for p in progress
    ]
    return spark.createDataFrame(
        rows, "batch_id long, num_input_rows long, state_rows long"
    )


@query(
    "stream_rate_smoke",
    oracle="""
SELECT CAST(100 AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS min_value,
       CAST(99 AS BIGINT) AS max_value,
       CAST(4950 AS BIGINT) AS sum_value
""",
)
def stream_rate_smoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RATE-source smoke: the streaming tier's only non-file source in
    this environment (no Kafka broker is installed; a production
    deployment swaps format("kafka") into the same plan). The
    rate-micro-batch source is deterministic per batch — batch 0
    carries exactly rowsPerBatch rows valued 0..rowsPerBatch-1 from
    the pinned startTimestamp — so one Trigger.Once micro-batch
    through a real checkpointed execution yields a constant relation
    the oracle can hash, not just count. State footprint: none (a
    stateless agg in complete mode over one batch)."""
    from systematic_review_classification_spark.session import ensure_confs

    ensure_confs(spark)
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 100)
        .option("numPartitions", 4)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 1000)
        .load()
    )
    agg = stream.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.sum("value").alias("sum_value"),
    )
    qname = run_to_memory(agg, sf_dir, "rate_smoke", "complete", once=True)
    return spark.table(qname)
