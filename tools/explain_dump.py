"""Dump `.explain("formatted")` for the given registry keys to files.

Usage: python tools/explain_dump.py OUTDIR SUFFIX key [key ...]

Writes OUTDIR/<key>_<SUFFIX>.txt for each key. Run from any checkout:
the repo root on sys.path is derived from this file's location, so the
same script dumps "before" plans from a worktree of an older commit and
"after" plans from HEAD.
"""

import os
import sys

repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, repo_root)

from systematic_review_classification_spark import all_queries, get_session  # noqa: E402
from tests.harness import plan_of  # noqa: E402


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    keys = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)
    spark = get_session(app_name="explain-dump")
    spark.sparkContext.setLogLevel("ERROR")

    queries = all_queries()
    for key in keys:
        plan = plan_of(queries[key](spark, sf_dir))
        path = os.path.join(outdir, f"{key}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
