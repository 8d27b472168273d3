"""Guards on the cost of building a DataFrame in Python.

Building a query's DataFrame talks to the JVM over py4j once per
JVM-side call, and at the benchmark's scale those round trips are a
large share of a query's wall time. These tests pin the per-key count
of round trips for the benchmark's workload keys and the shared column
helpers, that PySpark's per-call origin capture is off in sessions
built by ``get_session``, that a ``load`` memo hit reuses the memoized
relation instead of going through ``SparkSession.read``, and that the
shingle near-dup join and the SQL-text keys start no Spark job while
they are built.
"""

from __future__ import annotations

import re
import shutil

import pytest
from pyspark.errors.utils import is_debugging_enabled

from systematic_review_classification_spark import all_queries
from systematic_review_classification_spark.sources.tables import load
from tests.harness import py4j_calls
from tests.test_load_memo import SF0001

# py4j commands per warm build (every load a memo hit), measured with
# pyspark 4.1.2; a key fails when it needs more than BUDGET_SLACK times
# as many. The benchmark's workload keys, then one key per shared
# column-helper family (functions/vectors.py, functions/seeded.py,
# shingles.adjacent_pairs): a helper that slides back to a Python
# lambda chain costs a py4j round trip per column node.
BUILD_CALLS = {
    "agg_pricing_summary": 330,
    "wl_q3": 126,
    "wl_q14_promo": 104,
    "win_range_frame": 64,
    "src_stream_file": 102,
    "txt_containment": 224,
    "sink_parquet": 70,
    "sim_cosine_topk": 234,
    "wl_poisson_bootstrap": 160,
    "txt_ngram": 61,
}
BUDGET_SLACK = 1.25


def test_origin_capture_is_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


@pytest.mark.parametrize("key", sorted(BUILD_CALLS))
def test_build_py4j_budget(spark, sf_dir, key):
    fn = all_queries()[key]
    fn(spark, sf_dir)  # warm: every load below is a memo hit
    _, calls = py4j_calls(spark, lambda: fn(spark, sf_dir))
    assert calls <= BUILD_CALLS[key] * BUDGET_SLACK, (key, calls)


# keys whose warm build must start no Spark job: the shingle near-dup
# join, and the SQL-text keys that read their tables through ``load``
# temp views instead of ``parquet.`path``` (one footer-inference job
# per table reference on every build)
JOB_FREE = ["txt_containment", "sql_subqueries", "sql_lateral", "sql_recursive_cte"]


@pytest.mark.parametrize("key", JOB_FREE)
def test_build_starts_no_job(spark, sf_dir, key):
    fn = all_queries()[key]
    fn(spark, sf_dir)  # warm: every load below is a memo hit
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = scheduler.numTotalJobs()
    fn(spark, sf_dir)
    assert scheduler.numTotalJobs() == before


def test_memo_hit_bypasses_the_reader(spark, tmp_path, monkeypatch):
    shutil.copy(f"{SF0001}/nation.parquet", tmp_path / "nation.parquet")
    d = str(tmp_path)
    load(spark, d, "nation")

    def no_reader(self):
        raise AssertionError("memo hit went through SparkSession.read")

    monkeypatch.setattr(type(spark), "read", property(no_reader))
    first, second = load(spark, d, "nation"), load(spark, d, "nation")

    def ids(df):
        out = df._jdf.queryExecution().analyzed().output().toString()
        return set(re.findall(r"#(\d+)", out))

    assert ids(first) and not ids(first) & ids(second)
    assert first.columns == second.columns
