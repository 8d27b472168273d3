"""Registry-wide physical-plan audit: dump scale-safety features per key.

For every registered key, build the DataFrame at the smallest SF and
record the plan features that matter at 100 TB:

- ``cartesian``      — CartesianProduct nodes (both sides unbounded: the
                       one shape that can never ship)
- ``bnlj``           — BroadcastNestedLoopJoin nodes (fine ONLY when the
                       broadcast side is a 1-row scalar aggregate or a
                       bounded literal relation; the lint's allowlist
                       documents which)
- ``single_part``    — ``Exchange SinglePartition`` nodes (global sorts /
                       windows / single-reducer aggregates; fine only on
                       already-reduced relations)
- ``py_eval``        — row-at-a-time BatchEvalPython nodes (the slow
                       path; Arrow nodes are reported separately)

Usage: ``python tools/plan_audit.py [sf_dir] > plan_audit.json``
The pytest lint (tests/test_plan_lint.py) enforces the cartesian/BNLJ
findings with a curated allowlist; this tool exists so the allowlist
can be (re)derived from evidence instead of memory.
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from systematic_review_classification_spark import all_queries, get_session  # noqa: E402
from tests.harness import plan_of  # noqa: E402


def plan_features(df) -> dict:
    s = plan_of(df)
    return {
        "cartesian": s.count("CartesianProduct"),
        "bnlj": s.count("BroadcastNestedLoopJoin"),
        "single_part": s.count("Exchange SinglePartition"),
        "py_eval": s.count("BatchEvalPython"),
        "arrow_eval": s.count("ArrowEvalPython")
        + s.count("FlatMapGroupsInPandas")
        + s.count("MapInPandas")
        + s.count("FlatMapCoGroupsInPandas"),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_session(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, dict] = {}
    for key, fn in all_queries().items():
        try:
            out[key] = plan_features(fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — audit must cover the registry
            out[key] = {"error": str(e).split("\n")[0][:160]}
    json.dump(out, sys.stdout, indent=1, sort_keys=True)
    print()


if __name__ == "__main__":
    main()
