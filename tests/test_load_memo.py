"""The per-session schema memo of ``sources.tables.load``.

A repeat ``load`` of an unchanged table path reuses the inferred schema
and starts no Spark job; any change to the path's files, a drifted
schema or a new session must miss. The self-join keys run twice so the
second run takes the memo-hit path, where each ``load`` of the same
table must still return a DataFrame with its own attribute ids.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from systematic_review_classification_spark.sources import tables
from systematic_review_classification_spark.sources.tables import load
from tests.harness import jobs_during

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF0001 = os.path.join(REPO, "perfbench", "data", "sf0.001")


def _region(keys, key_type=pa.int32(), **extra):
    cols = {
        "r_regionkey": pa.array(keys, key_type),
        "r_name": [f"R{k}" for k in keys],
    }
    cols.update(extra)
    return pa.table(cols)


@pytest.mark.parametrize("name", ["nation", "events"])
def test_hit_starts_no_job(spark, tmp_path, name):
    shutil.copy(f"{SF0001}/{name}.parquet", tmp_path / f"{name}.parquet")
    d = str(tmp_path)
    first, miss_jobs = jobs_during(spark, lambda: load(spark, d, name))
    second, hit_jobs = jobs_during(spark, lambda: load(spark, d, name))
    assert (miss_jobs, hit_jobs) == (1, 0)
    assert second.dtypes == first.dtypes
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_with_new_schema_is_seen(spark, tmp_path):
    d, path = str(tmp_path), tmp_path / "region.parquet"
    pq.write_table(_region([0, 1]), path)
    assert load(spark, d, "region").columns == ["r_regionkey", "r_name"]
    pq.write_table(
        _region([0, 1, 2], pa.int16(), r_comment=["x", "y", "z"]), path
    )
    df = load(spark, d, "region")
    assert df.dtypes == [
        ("r_regionkey", "int"), ("r_name", "string"), ("r_comment", "string")
    ]
    assert sorted(df.collect()) == [(0, "R0", "x"), (1, "R1", "y"), (2, "R2", "z")]


def test_added_part_file_invalidates(spark, tmp_path):
    d, parts = str(tmp_path), tmp_path / "region.parquet"
    parts.mkdir()
    pq.write_table(_region([0, 1]), parts / "part-0.parquet")
    assert jobs_during(spark, lambda: load(spark, d, "region").count())[0] == 2
    assert jobs_during(spark, lambda: load(spark, d, "region"))[1] == 0
    pq.write_table(_region([2, 3]), parts / "part-1.parquet")
    df, jobs = jobs_during(spark, lambda: load(spark, d, "region"))
    assert jobs == 1
    assert df.count() == 4


def test_wider_drift_raises_on_every_call(spark, tmp_path):
    d, path = str(tmp_path), tmp_path / "region.parquet"
    pq.write_table(_region([0, 1]), path)
    load(spark, d, "region")  # canonical: memoized
    pq.write_table(_region([0, 1], pa.int64()), path)
    for _ in range(3):
        with pytest.raises(ValueError, match="r_regionkey.*not an exact widening"):
            load(spark, d, "region")


_AFTER_STOP = """
import sys
from systematic_review_classification_spark.session import get_session
from systematic_review_classification_spark.sources.tables import load
from tests.harness import jobs_during
from tests.harness import jobs_during

jobs = []
for _ in range(2):
    spark = get_session(cpus=1)
    for _ in range(2):
        jobs.append(jobs_during(spark, lambda: load(spark, sys.argv[1], "nation"))[1])
    spark.stop()
print(jobs)
"""


def test_new_session_after_stop_misses(tmp_path):
    # A separate process: stopping the shared test session would end it
    # for every later test.
    shutil.copy(f"{SF0001}/nation.parquet", tmp_path / "nation.parquet")
    res = subprocess.run(
        [sys.executable, "-c", _AFTER_STOP, str(tmp_path)],
        cwd=REPO,
        env={**os.environ, "SPARK_DRIVER_MEMORY": "1g"},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert res.stdout.strip().splitlines()[-1] == "[1, 0, 1, 0]"


def test_unstatable_path_bypasses_memo(spark, tmp_path):
    shutil.copy(f"{SF0001}/nation.parquet", tmp_path / "nation.parquet")
    d = f"file://{tmp_path}"  # readable by Spark, not by os.stat
    jobs = [jobs_during(spark, lambda: load(spark, d, "nation"))[1] for _ in range(2)]
    assert jobs == [1, 1]
    assert f"{d}/nation.parquet" not in tables._MEMO[spark]


@pytest.mark.parametrize("key", ["wl_q7_volume", "wl_q8_share", "wl_q22_inactive"])
def test_self_join_keys_match_oracle_on_memo_hits(spark, sf_dir, duck, key):
    from systematic_review_classification_spark import all_oracles, all_queries
    from tests.harness import compare

    fn, oracle = all_queries()[key], all_oracles()[key]
    compare(fn(spark, sf_dir), duck, oracle, key)
    df, build_jobs = jobs_during(spark, lambda: fn(spark, sf_dir))
    assert build_jobs == 0  # every load was a memo hit
    compare(df, duck, oracle, key)
