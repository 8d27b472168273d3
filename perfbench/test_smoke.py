"""Smoke test of the benchmark itself, at sf0.001 with the fewest passes.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload untraced and traced and checks the result line: every
metric BENCHMARK.json names is present with its unit, nothing failed, and
the traced layers' self times account for the traced pass.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

from run import WORKLOADS  # noqa: E402

# Share of a traced pass's wall time that the recorded layers' self times
# may leave unexplained (the rest is the loop's own bookkeeping).
UNACCOUNTED_TOLERANCE = 0.05

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "0", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["config"], json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_reports_every_metric(workload, trace):
    config, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, config["failed_keys"]
    assert config["error_rate"] == 0.0
    assert result["attempted"] >= len(WORKLOADS[workload])
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    if trace:
        metrics = {k: v["value"] for k, v in result["metrics"].items()}
        assert abs(metrics["trace.unaccounted_frac"]) <= UNACCOUNTED_TOLERANCE
        streams = metrics["streaming.microbatches"] > 0
        assert streams == (workload == "corpus_ingest")
        # the micro-batch jobs run under the stream's own job group, in no
        # span, and still count among the pass's jobs
        assert (metrics["streaming.jobs"] > 0) == streams
        assert metrics["spark.jobs"] >= (
            metrics["sources.load_jobs"] + metrics["operators.build_jobs"] + metrics["streaming.jobs"]
        )
        assert (metrics["spark.output_bytes"] > 0) == (workload == "corpus_ingest")
    else:
        assert result["metrics"]["pass_s"]["value"] > 0
