"""Registry-wide RUNTIME profile: wall-time every key at a real SF.

The bench times 13 headline queries at sf0.1; the other ~430 keys
normally execute only at sf0.001/sf0.01 through the test tiers, so a
key could hide a straggler shape that plan-reading missed (the plan
lint catches Cartesian/BNLJ/row-Python, not a skewed exchange or an
oversized state). This tool executes EVERY registered key at the
given SF (default sf0.1, the driver's bench scale), records per-key
wall seconds, and prints a JSON report sorted slowest-first plus the
same host fields bench.py emits — evidence for choosing the next
round's optimization targets.

Each key's time also splits off its DataFrame construction: per key,
``build_s`` (wall seconds of the key function alone), ``build_jobs``
(Spark jobs the build starts: footer reads, probes, writes) and
``py4j_calls`` (round trips to the JVM during the build). Every table
is loaded once before the sweep, so each build sees ``load``'s memo
hits, as every query after the first does in a real session;
``heaviest_builds`` lists the keys with the most construction time.

Usage: ``python tools/registry_profile.py [sf_dir] > profile.json``
Each key runs ONCE (this is a sweep, not a benchmark — compare
magnitudes and ranks, not third decimals).
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from systematic_review_classification_spark import all_queries, get_session  # noqa: E402
from systematic_review_classification_spark.sources.tables import TABLES, load  # noqa: E402
from tests.harness import jobs_during, py4j_calls  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    # The bench's session, so per-key times compare with bench.py. 446
    # keys run in ONE JVM and several operators persist loop
    # invariants: at a 1 g driver heap the accumulated cache killed the
    # JVM ~270 keys in (r11), so each key's cache is dropped below.
    spark = get_session(app_name="registry-profile")
    spark.sparkContext.setLogLevel("ERROR")

    for t in TABLES:
        load(spark, sf_dir, t)

    times: dict[str, float] = {}
    builds: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for key, fn in all_queries().items():
        t0 = time.perf_counter()
        try:
            (df, calls), jobs = jobs_during(
                spark, lambda: py4j_calls(spark, lambda: fn(spark, sf_dir))
            )
            build_s = time.perf_counter() - t0
            df.count()
            times[key] = round(time.perf_counter() - t0, 3)
            builds[key] = {
                "build_s": round(build_s, 3),
                "build_jobs": jobs,
                "py4j_calls": calls,
            }
        except Exception as e:  # noqa: BLE001 — profile must finish
            errors[key] = str(e).split("\n")[0][:160]
        try:
            spark.catalog.clearCache()
        except Exception:  # noqa: BLE001 — cache state is best-effort
            pass
    try:
        load1, _, load15 = os.getloadavg()
    except OSError:
        load1 = load15 = -1.0
    report = {
        "sf_dir": sf_dir,
        "n_keys": len(times) + len(errors),
        "total_sec": round(sum(times.values()), 1),
        "load1": round(load1, 2),
        "load15": round(load15, 2),
        "slowest": dict(
            sorted(times.items(), key=lambda kv: -kv[1])[:30]
        ),
        "heaviest_builds": dict(
            sorted(builds.items(), key=lambda kv: -kv[1]["build_s"])[:30]
        ),
        "errors": errors,
        "times": dict(sorted(times.items())),
        "builds": dict(sorted(builds.items())),
    }
    json.dump(report, sys.stdout, indent=1)
    print()


if __name__ == "__main__":
    main()
