"""Layered benchmark of the PySpark engine.

    python3 perfbench/run.py --workload adhoc_sql --seed 1 --seconds 10 --trace 0

One process, one client, closed loop: each query (call the key function,
then a noop-format write that materializes every column) starts only
after the previous one has finished, and each key's SQL cache is cleared
before it runs. The first pass, in a fresh session, collects each result
with ``toPandas`` instead. A pass is one walk over the workload's keys.
After the first pass come ``WARMUP_PASSES`` passes that are run but not
reported, while the JIT is still warming, then the measured passes: they
repeat until ``--seconds`` have elapsed since the first pass ended and at
least ``LATER_PASSES`` were measured. After the loop, one more pass,
untimed, collects every key again, so a result that goes wrong only after
earlier passes (a stale cache, a rewritten sink) is caught. The results
of the first and of this last pass are checked against the DuckDB oracles
outside the timed region (see ``check.py``). The seed picks the order of
the keys in each pass; the engine only receives ``sf_dir`` and the keys.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
measured passes untraced, traced, traced, untraced (repeating) and reports
the per-layer metrics of the traced ones (see ``spans.py``); spans are written to
``.perfbench_out/`` at the root of the checkout. The last line
of standard output is the result JSON; the line before it echoes the
run's configuration.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PKG = "systematic_review_classification_spark"
DRIVER_MEMORY = "4g"  # get_session defaults to 24g; 4g covers these scales on a small host
SETUPS = 5
SF = "0.01"
# After the first pass, the JIT keeps warming for a few passes: pass times
# fall by a quarter over them, then level off. The first WARMUP_PASSES
# after the first pass are run but not reported, so the medians come from
# the level stretch and do not depend on how many passes the host fits in
# ``--seconds``. Every run measures at least LATER_PASSES passes; a traced
# run measures TRACED_LATER_PASSES or more, untraced, traced, traced,
# untraced, so the warm-up trend cancels out of trace.overhead_frac.
WARMUP_PASSES = 2
LATER_PASSES = 3
TRACED_LATER_PASSES = 4

# Each workload runs a fixed set of keys on every pass; the seed shuffles
# their order per pass. The set is fixed because keys that could stand in
# for each other still differ in cost by 10-60%, which would make the
# seed, not the engine, move the timings.
WORKLOADS: dict[str, list[str]] = {
    # Fixed per-query costs dominate: table loads, Catalyst, scheduling.
    # Relational oracled keys over the same star-schema tables, so the
    # same tables come up again and again. Keys that stage files on disk
    # are left out: this workload only reads.
    "adhoc_sql": ["agg_pricing_summary", "wl_q3", "wl_q14_promo", "win_range_frame"],
    # The LLM-data path from ingest to output: a micro-batch stream in,
    # n-gram containment between documents, a written and re-read sink.
    # Execution, shuffle and CPU dominate, and it is the only workload with
    # output and streaming work.
    "corpus_ingest": ["src_stream_file", "txt_containment", "sink_parquet"],
}


def pass_keys(workload: str, rng: random.Random) -> list[str]:
    keys = list(WORKLOADS[workload])
    rng.shuffle(keys)
    return keys


def peak_rss_mb(jvm_pid: int | None) -> tuple[float, float]:
    """Peak resident memory of this Python process and of the JVM."""
    jvm_kb = 0
    if jvm_pid:
        with open(f"/proc/{jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0, jvm_kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """Host CPU ticks from ``/proc/stat``: stolen by the hypervisor, and all."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def metric_units() -> dict[str, str]:
    """Units of every metric, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except OSError:
        return "unknown"
    return out.stdout.strip() or "unknown"


class Run:
    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.workload = args.workload
        self.sf = args.sf or SF
        self.sf_dir = os.path.join(BENCH_DIR, "data", f"sf{self.sf}")
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = None
        self.spark = None
        self.queries = None
        self.rng: random.Random | None = None
        self.executed: dict[str, int] = {}  # executions per key
        self.failed: dict[str, int] = {}  # executions that raised, per key

    # -- set-up --------------------------------------------------------
    def _setup_once(self) -> tuple[float, float]:
        """``get_session`` plus ``all_queries`` from an unimported engine."""
        for m in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
            del sys.modules[m]
        t0 = time.perf_counter()
        from systematic_review_classification_spark import get_session

        spark = get_session(app_name="perfbench", cpus=self.cores)
        t1 = time.perf_counter()
        if self.tracer is not None:
            from systematic_review_classification_spark.sources import tables

            tables.load = self.tracer.wrap_load(tables.load)
        from systematic_review_classification_spark import all_queries

        self.queries = all_queries()
        t2 = time.perf_counter()
        self.spark = spark
        return t1 - t0, t2 - t1

    def setup(self) -> dict[str, float]:
        """A fresh JVM first, then SETUPS set-ups of a new session in it;
        ``setup_s`` is the median of the latter."""
        cold = sum(self._setup_once())
        starts, imports = [], []
        for _ in range(SETUPS):
            self.spark.stop()
            s, i = self._setup_once()
            starts.append(s)
            imports.append(i)
        if self.tracer is not None:
            from spans import add_stream_listener

            self.tracer.spark = self.spark
            add_stream_listener(self.spark, self.tracer)
        setups = [a + b for a, b in zip(starts, imports)]
        return {
            "cold_start_s": cold,
            "setups": setups,
            "setup_s": statistics.median(setups),
            "session.start_s": statistics.median(starts),
            "registry.import_s": statistics.median(imports),
        }

    # -- one query -----------------------------------------------------
    def run_query(self, key: str, collect: dict | None) -> float:
        """Build and run one key; with ``collect`` the action is a
        ``toPandas`` whose result is kept for the correctness check,
        otherwise a noop write."""
        spark, fn, tr = self.spark, self.queries[key], self.tracer
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        if tr is not None and tr.active:
            tr.key = key
            df = tr.span("operators.build", fn, spark, self.sf_dir)
            tr.span("spark.plan", lambda: df._jdf.queryExecution().executedPlan())
            tr.span("spark.exec", _noop_write, df)
        elif collect is not None:
            collect[key] = fn(spark, self.sf_dir).toPandas()
        else:
            _noop_write(fn(spark, self.sf_dir))
        return time.perf_counter() - t0

    def run_pass(self, collect: dict | None = None) -> tuple[float, list[float]]:
        """One walk over the workload's keys in a seeded order: its wall
        time and each query's latency."""
        keys = pass_keys(self.workload, self.rng)
        lat = []
        t0 = time.perf_counter()
        for k in keys:
            self.executed[k] = self.executed.get(k, 0) + 1
            try:
                lat.append(self.run_query(k, collect))
            except Exception:  # noqa: BLE001 — a failing key is counted, the loop goes on
                traceback.print_exc(file=sys.stderr)
                self.failed[k] = self.failed.get(k, 0) + 1
        return time.perf_counter() - t0, lat

    # -- the run -------------------------------------------------------
    def main(self) -> dict:
        args = self.args
        load_before = os.getloadavg()[0]
        if args.trace:
            from spans import Tracer

            self.tracer = Tracer()
        setup = self.setup()
        from check import Checker

        checker = Checker(self.sf_dir)
        self.rng = random.Random(args.seed)
        executed, failed = self.executed, self.failed

        first_results: dict = {}
        later_lat: list[list[float]] = []  # per measured pass
        untraced_walls: list[float] = []
        ticks_before = cpu_ticks()
        t_start = time.perf_counter()
        first_pass_s, _ = self.run_pass(first_results)
        for _ in range(WARMUP_PASSES):
            self.run_pass()
        t_measure = time.perf_counter()
        measured = 0
        later_min = TRACED_LATER_PASSES if self.tracer is not None else LATER_PASSES
        while measured < later_min or time.perf_counter() - t_measure < args.seconds:
            traced = self.tracer is not None and measured % 4 in (1, 2)
            if traced:
                self.tracer.begin_pass(measured)
            wall, lat = self.run_pass()
            if traced:
                self.tracer.end_pass(wall)
            else:
                untraced_walls.append(wall)
            if lat:
                later_lat.append(lat)
            measured += 1
        load_after = os.getloadavg()[0]
        ticks_after = cpu_ticks()
        t_check = time.perf_counter()

        # correctness, outside the timed region: the first pass's results
        # and those of one more pass after every timed one
        last_results: dict = {}
        self.run_pass(last_results)
        bad: dict[str, str] = {}
        try:
            for label, results in (("first pass", first_results), ("last pass", last_results)):
                for k, pdf in results.items():
                    why = _check(checker, k, pdf)
                    if why and k not in bad:
                        bad[k] = f"{label}: {why}"
        finally:
            checker.close()
        # a key whose result is wrong once counts as failed on every execution
        n_failed = sum(failed.values()) + sum(executed[k] - failed.get(k, 0) for k in bad)
        attempted = sum(executed.values())

        conf = self.spark.conf
        jvm_pid = _jvm_pid()
        config = {
            "workload": self.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": self.cores,
            "master": self.spark.sparkContext.master,
            "sf_dir": os.path.relpath(self.sf_dir, ROOT),
            "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
            "aqe": conf.get("spark.sql.adaptive.enabled"),
            "driver_memory": self.spark.sparkContext.getConf().get("spark.driver.memory"),
            "spark": self.spark.version,
            "duckdb": __import__("duckdb").__version__,
            "python": platform.python_version(),
            "commit": git_commit(),
            "load1_before": load_before,
            "load1_after": load_after,
            # share of the host's CPU time the hypervisor gave to others
            # during the loop; the timings slow down with it
            "steal_frac": (ticks_after[0] - ticks_before[0]) / max(1, ticks_after[1] - ticks_before[1]),
            "passes": 1 + WARMUP_PASSES + measured,
            "setups": setup["setups"],
            "pass_walls": untraced_walls,
            "keys": executed,
            "failed_keys": {**{k: "raised" for k in failed}, **bad},
            "error_rate": n_failed / attempted,
            "loop_s": t_check - t_start,
            "measure_s": t_check - t_measure,
            "check_s": time.perf_counter() - t_check,
        }
        py_mb, jvm_mb = peak_rss_mb(jvm_pid)
        config.update(peak_rss_python_mb=py_mb, peak_rss_jvm_mb=jvm_mb)
        if self.tracer is None:
            later = [x for lat in later_lat for x in lat]
            # A run holds too few samples for a percentile with 10 above
            # it to lie above the median, so the tail is the slowest
            # query of each pass, median over passes: one hiccup moves it
            # by at most one pass.
            tail_s = statistics.median(max(lat) for lat in later_lat)
            config.update(
                query_samples=len(later),
                query_tail_pct=100.0 * sum(x <= tail_s for x in later) / len(later),
            )
            metrics = {
                "setup_s": setup["setup_s"],
                "first_pass_s": first_pass_s,
                "pass_s": statistics.median(untraced_walls),
                "query_p50_s": statistics.median(later),
                "query_tail_s": tail_s,
            }
        else:
            metrics = self.layer_metrics(setup, untraced_walls)
            metrics["memory.peak_rss_mb"] = py_mb + jvm_mb
            self.write_spans()
        print(json.dumps({"config": config}))
        units = metric_units()
        return {
            "correct": n_failed == 0,
            "attempted": attempted,
            "failed": n_failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }

    def layer_metrics(self, setup: dict, untraced_walls: list[float]) -> dict:
        per_pass = [self.tracer.pass_metrics(p, self.cores) for p in self.tracer.passes]
        traced_wall = statistics.median(p.wall_s for p in self.tracer.passes)
        out = {
            "session.cold_start_s": setup["cold_start_s"],
            "session.start_s": setup["session.start_s"],
            "registry.import_s": setup["registry.import_s"],
        }
        for name in per_pass[0]:
            out[name] = statistics.median(m[name] for m in per_pass)
        out["trace.overhead_frac"] = traced_wall / statistics.median(untraced_walls) - 1.0
        return out

    def write_spans(self) -> None:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{self.workload}-seed{self.args.seed}-spans.json")
        with open(path, "w") as fh:
            json.dump(self.tracer.spans_json(), fh)


def _check(checker, key: str, pdf) -> str | None:
    try:
        return checker.check(key, pdf)
    except Exception as e:  # noqa: BLE001 — reported as a failed check
        return f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _stop_jvm() -> None:
    """Stop the session, then close the gateway's stdin, which ends the
    JVM, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gc.collect()  # release py4j proxies while the JVM can still answer
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _prepare_env(work: str) -> None:
    """Per-run scratch space inside the checkout, set before Spark or
    ``tempfile`` first read it."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    import tempfile

    tempfile.tempdir = None


def _cleanup(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    pid = os.getpid()
    for kind in ("io", "stream"):
        shutil.rmtree(f"/tmp/{PKG}_{kind}_{pid}", ignore_errors=True)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", choices=("0.01", "0.001"), help="override the workload's scale")
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    for need in (os.path.join(ROOT, PKG, "__init__.py"), os.path.join(ROOT, "tests", "harness.py")):
        if not os.path.isfile(need):
            print(f"perfbench: {os.path.relpath(need, ROOT)} is missing; run from a full checkout",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    _prepare_env(work)
    os.chdir(work)  # relative writes (spark-warehouse, derby.log) stay in the run dir
    try:
        run = Run(args)
        result = run.main()
    finally:
        try:
            _stop_jvm()
        finally:
            os.chdir(ROOT)
            _cleanup(work)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
