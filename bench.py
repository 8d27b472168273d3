"""Headline benchmark — prints ONE JSON line the driver records.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS]. Each query is materialized with a count-only
action (driver-side collect of results is not part of engine cost).
One warm-up pass amortizes JVM/codegen startup, mirroring how
BASELINE.md measured (warm, post-JIT single runs).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "agg_pricing_summary",  # TPC-H Q1 shape: scan → hash agg (BASELINE.md row 1)
    "join_multiway",        # Q3 shape: multi-join → agg (BASELINE.md row 3)
    "wl_q6",                # pure scan-agg throughput probe
    "wl_q3",                # join + agg + top-k workload
    "win_topk_group",       # window rank
    "txt_tfidf_topk",       # text featurization pipeline
    "dedup_exact",          # LLM-pipeline dedup
    "sim_cosine_topk",      # similarity search
    "ml_eval_wss95",        # distributed two-pass global rank
    "dedup_minhash_canonical",  # banded MinHash LSH, linear star-edge output
    "wl_pagerank3",         # iterative frontier joins (graph workload)
    "txt_bm25_topk",        # IR ranking: filtered postings + broadcast idf + TakeOrdered
    "wl_pretrain_pipeline", # end-to-end corpus manifest (dedup→quality→budget, one fused plan)
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from systematic_review_classification_spark import all_queries, get_session

    spark = get_session(
        app_name="systematic-review-classification-spark-bench",
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
    )
    queries = all_queries()
    keys = [k for k in HEADLINE if k in queries]

    # Quiet the benign "Asked to cache already cached data" warning:
    # operators that persist() an intermediate (wl_pagerank3's edges)
    # build an identical canonical plan on every invocation, so repeat
    # runs re-persist the same cache entry. That re-use is intentional
    # here — every MEASURED run (r3 onward) executes warm-cache, which
    # keeps the medians comparable round-over-round.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.CacheManager",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # log4j internals unavailable — warning stays, behavior unchanged

    # warm-up: JVM JIT, codegen cache, parquet footer cache
    for k in keys:
        queries[k](spark, sf_dir).count()

    def passes(label, action, runs, cold=False):
        """Time ``runs`` passes over keys, each run of key k described
        as ``{label}:{k}``; a cold pass clears the SQL cache before
        each key. Returns key -> seconds per pass."""
        samples: dict[str, list[float]] = {k: [] for k in keys}
        for _ in range(runs):
            for k in keys:
                if cold:
                    spark.catalog.clearCache()
                spark.sparkContext.setJobDescription(f"{label}:{k}")
                t0 = time.perf_counter()
                action(queries[k](spark, sf_dir))
                samples[k].append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        return samples

    def count(df):
        df.count()

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def median(samples):
        return {k: round(sorted(v)[len(v) // 2], 4) for k, v in samples.items()}

    # Cold pass (r11 verdict item 1): the warm-cache convention lets a
    # .persist() INSIDE a query (txt_tfidf_topk's tf, wl_pagerank3's
    # edges) be pre-built by the untimed warm-up — all warm runs then
    # reuse it, so the cache build silently drops out of the timed
    # region. This pass clears the SQL cache before each key and times
    # one run, so the cold column includes every cache build the query
    # performs. JIT/codegen are already warm from the pass above, so
    # cold-vs-warm isolates exactly the in-query cache work.
    cold_times = median(passes("bench-cold", count, 1, cold=True))

    # median-of-3 per query (r4 verdict): a warm single shot carries
    # GC / scheduler jitter at the ~0.3-0.6 s floor; the median is the
    # headline number, the min rides along so real plan regressions
    # are distinguishable from session drift.
    runs = 3
    samples = passes("bench", count, runs)
    times = median(samples)
    mins = {k: round(min(v), 4) for k, v in samples.items()}

    # Noop-sink timings ride along as a SEPARATE field (r11, guide
    # §1.4): `.count()` lets the optimizer prune columns — on a final
    # Aggregate it can drop the aggregate expressions themselves, so
    # scan-agg shapes are under-timed. The noop sink materializes
    # every column of every row. The `queries`/`value` fields keep the
    # count-based methodology unchanged (comparable to BENCH_r01-r10
    # and BASELINE.md, which all timed `.count()`); queries_noop is
    # the honest-compute number for judging plan changes.
    # Cold noop pass: same honesty fix on the noop basis — the honest-
    # compute number (queries_noop) is also measured warm-cache, so a
    # query whose real work hides behind both count-pruning AND a
    # persist needs this column to be visible at all.
    noop_cold_times = median(passes("bench-noop-cold", noop, 1, cold=True))
    noop_times = median(passes("bench-noop", noop, runs))

    # Host state in the JSON line itself (r10 verdict item 3): rounds
    # 6-10 showed a same-code 9 s ↔ 17 s swing that follows the host's
    # end-of-session decay curve, not any plan change — the recorded
    # bench is only interpretable next to load/uptime. cpu_calib_sec
    # is a fixed single-thread Python loop (~0.2 s on a quiet host):
    # it scales with the same host slowdown the query timings absorb,
    # so timings can be read relative to it when load alone is clean
    # but the clock has decayed.
    try:
        load1, _, load15 = os.getloadavg()
    except OSError:
        load1 = load15 = -1.0
    try:
        with open("/proc/uptime") as fh:
            uptime_sec = float(fh.read().split()[0])
    except OSError:
        uptime_sec = -1.0
    t0 = time.perf_counter()
    acc = 0
    for i in range(5_000_000):
        acc += i * i
    cpu_calib_sec = time.perf_counter() - t0

    out = {
        "metric": "headline_queries_total",
        "value": round(sum(times.values()), 4),
        "unit": "sec",
        "queries": times,
        "queries_min": mins,
        "queries_noop": noop_times,
        "queries_cold": cold_times,
        "queries_noop_cold": noop_cold_times,
        "runs": runs,
        "value_basis": "sum of per-query medians (r1-r4: best-of-2 mins)",
        "sf": float(sf),
        # The configuration the timings ran under, read back from the
        # live session rather than from the environment.
        "cpus": spark.sparkContext.defaultParallelism,
        "sf_dir": sf_dir,
        "spark.sql.shuffle.partitions": int(
            spark.conf.get("spark.sql.shuffle.partitions")
        ),
        "spark.sql.adaptive.enabled": spark.conf.get("spark.sql.adaptive.enabled")
        == "true",
        "load1": round(load1, 2),
        "load15": round(load15, 2),
        "uptime_sec": round(uptime_sec, 1),
        "cpu_calib_sec": round(cpu_calib_sec, 4),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
