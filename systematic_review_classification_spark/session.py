"""SparkSession factory and per-session config hygiene.

Two situations:

* Our own harness (tests, bench) builds the session with
  :func:`get_session` — all mandatory configs applied at build time.
* The driver hands us *its* session. :func:`ensure_confs` is called by
  every table loader to apply the runtime-settable configs the engine
  depends on (nanos-as-long parquet reads, UTC session timezone).

Config rationale (SURVEY.md §1.4, §6):

* ``spark.sql.legacy.parquet.nanosAsLong=true`` — events.ts is parquet
  TIMESTAMP(NANOS); older Spark 4.x builds throw PARQUET_TYPE_ILLEGAL
  without it. Newer builds ignore it and read TIMESTAMP(NANOS) as
  µs-truncated ``timestamp_ntz`` directly — so NO code path may assume
  the unit of a bigint ``ts``; ``sources.tables.normalize_event_ts``
  dtype/magnitude-guards every events read either way.
* ``spark.sql.session.timeZone=UTC`` — makes TIMESTAMP_LTZ → NTZ casts
  identity so event timestamps hash-match DuckDB's naive reading.
* shuffle partitions sized to cores, AQE on — at bench scale (600k
  rows) 200 shuffle partitions is pure scheduling overhead; at cluster
  scale AQE coalesces/splits at runtime anyway.
* ``spark.python.sql.dataFrameDebugging.enabled=false`` — PySpark wraps
  every ``F.*`` function and Column method in an origin-capture
  decorator that, per call, looks up the active session, reads a conf
  and sets then clears the Python call site on the JVM: 6–9 extra py4j
  round trips per call, two thirds of the round trips a query build
  makes (a warm ``agg_pricing_summary`` build: 939 with capture on,
  about 340 with it off). The cost is in error
  messages: an analysis or runtime error no longer carries the
  "DataFrame context" (the Python file:line that built the failing
  expression). To get it back while debugging, build the session
  yourself with this conf set to ``true`` before the engine is
  imported; PySpark reads it once per process, at the first wrapped
  call, so a driver-supplied session keeps whatever it chose.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
}


def ensure_confs(spark: SparkSession) -> None:
    """Apply runtime-settable mandatory configs to an existing session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            spark.conf.set(k, v)


def get_session(app_name: str = "systematic-review-classification-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _quiet_bounded_window_warning(spark)
    ensure_confs(spark)
    return spark


def _quiet_bounded_window_warning(spark: SparkSession) -> None:
    """Raise WindowExec's log level to ERROR for this JVM.

    Every REMAINING unpartitioned window in this codebase runs over a
    provably bounded relation — calendar days, fixed deciles/bins, a
    post-`limit(100)` top-k, or the two-pass rank's per-partition
    stats table (functions/ranks.py) — where single-partition
    execution is the correct plan. All data-scaled ranks/prefix sums
    were converted to the two-pass range shape and are pinned by
    tests/test_plans.py::test_unbounded_rank_uses_two_pass, so the
    blanket `WindowExec: No Partition Defined` warning is pure noise
    here; silencing it keeps real regressions visible in the bench
    tail. (Spark folds constant partition keys, so `partitionBy(
    lit(0))` cannot silence it structurally.)"""
    try:
        jvm = spark.sparkContext._jvm
        logger = jvm.org.apache.logging.log4j.LogManager.getLogger(
            "org.apache.spark.sql.execution.window.WindowExec"
        )
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            logger.getName(), jvm.org.apache.logging.log4j.Level.ERROR
        )
    except Exception:
        pass  # log4j internals unavailable — warning stays, behavior unchanged
