"""Span recorder for the traced benchmark run.

Every span is recorded from outside the engine: the benchmark wraps the
public entry points of each layer (``sources.tables.load``, each key
function, plan forcing, the noop action) and gives each span its own Spark
job group, so the jobs a layer starts are read back from
``statusTracker()`` and their stage metrics from Spark's status store.
A pass's jobs are every job id the scheduler handed out while it ran: one
client runs one query at a time, so all of them belong to the pass. Jobs
in no span's group are the stream execution thread's micro-batches, which
run under the query's own job group. Spans stay in memory until the run
ends.
"""

from __future__ import annotations

import functools
import itertools
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    key: str
    pass_no: int
    group: str
    jobs: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class PassRecord:
    pass_no: int
    wall_s: float
    spans: list[Span]
    stream: dict[str, float]
    jobs: list[int]


class Tracer:
    """Collects spans per pass; ``active`` gates recording, so wrappers
    bound at import time cost one attribute test on untraced passes."""

    def __init__(self) -> None:
        self.active = False
        self.spark = None
        self.pass_no = 0
        self.key = ""
        self._ids = itertools.count()
        self._spans: list[Span] = []
        self._stack: list[int] = []
        self._stream = _zero_stream()
        self._first_job = 0
        self.passes: list[PassRecord] = []

    # -- spans ---------------------------------------------------------
    def span(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span with its own job group."""
        sc = self.spark.sparkContext
        idx = len(self._spans)
        group = f"perfbench-{next(self._ids)}"
        parent = self._stack[-1] if self._stack else None
        prev_group = sc.getLocalProperty(_GROUP_PROP)
        sp = Span(name, time.perf_counter(), 0.0, parent, self.key, self.pass_no, group)
        self._spans.append(sp)
        self._stack.append(idx)
        sc.setLocalProperty(_GROUP_PROP, group)
        try:
            return fn(*args, **kwargs)
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sc.setLocalProperty(_GROUP_PROP, prev_group)

    def wrap_load(self, load):
        """Wrapper for ``sources.tables.load``; installed before the
        operator modules import it, so their ``from ... import load``
        binds to the wrapper."""

        @functools.wraps(load)
        def traced_load(spark, sf_dir, name):
            if not self.active:
                return load(spark, sf_dir, name)
            return self.span("sources.load", load, spark, sf_dir, name)

        return traced_load

    # -- streaming -----------------------------------------------------
    def on_progress(self, progress) -> None:
        if not self.active:
            return
        self._stream["microbatches"] += 1
        self._stream["trigger_ms"] += (progress.durationMs or {}).get("triggerExecution", 0)
        self._stream["state_rows"] += sum(
            op.numRowsTotal for op in (progress.stateOperators or [])
        )

    # -- passes --------------------------------------------------------
    def begin_pass(self, pass_no: int) -> None:
        self.pass_no = pass_no
        self._spans = []
        self._stream = _zero_stream()
        self._first_job = self._scheduler().numTotalJobs()
        self.active = True

    def end_pass(self, wall_s: float) -> None:
        """Stop recording, let the listener bus drain, then attach each
        span's job ids (read outside the timed pass)."""
        self.active = False
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        for sp in self._spans:
            sp.jobs = sorted(tracker.getJobIdsForGroup(sp.group))
        jobs = range(self._first_job, self._scheduler().numTotalJobs())
        jobs = [j for j in jobs if tracker.getJobInfo(j) is not None]
        self.passes.append(PassRecord(self.pass_no, wall_s, self._spans, self._stream, jobs))

    def _scheduler(self):
        return self.spark.sparkContext._jsc.sc().dagScheduler()

    def stage_totals(self, jobs: list[int]) -> dict[str, float]:
        """Sum status-store stage metrics over the distinct stages of
        ``jobs``. Stages skipped because a shuffle was reused have no
        attempt and contribute nothing."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        tot = dict.fromkeys(_STAGE_FIELDS, 0.0)
        stages: set[int] = set()
        tracker = sc.statusTracker()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:  # None once Spark has dropped an old job
                stages.update(info.stageIds)
        for sid in stages:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += sd.numCompleteTasks()
            tot["executor_run_s"] += sd.executorRunTime() / 1e3
            tot["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            tot["gc_s"] += sd.jvmGcTime() / 1e3
            tot["input_bytes"] += sd.inputBytes()
            tot["output_bytes"] += sd.outputBytes()
            tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
            tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return tot

    def pass_metrics(self, rec: PassRecord, cores: int) -> dict[str, float]:
        """Per-layer metrics of one traced pass. Self time of a span is
        its duration minus the time its child spans cover."""
        child_time = [0.0] * len(rec.spans)
        for sp in rec.spans:
            if sp.parent is not None:
                child_time[sp.parent] += sp.dur
        by_name: dict[str, float] = {}
        jobs_by_name: dict[str, int] = {}
        grouped: set[int] = set()
        for i, sp in enumerate(rec.spans):
            by_name[sp.name] = by_name.get(sp.name, 0.0) + sp.dur - child_time[i]
            jobs_by_name[sp.name] = jobs_by_name.get(sp.name, 0) + len(sp.jobs)
            grouped.update(sp.jobs)
        st = self.stage_totals(rec.jobs)
        n_jobs = len(rec.jobs)
        accounted = sum(by_name.values())
        return {
            "sources.load_calls": sum(1 for sp in rec.spans if sp.name == "sources.load"),
            "sources.load_s": by_name.get("sources.load", 0.0),
            "sources.load_jobs": jobs_by_name.get("sources.load", 0),
            "operators.build_s": by_name.get("operators.build", 0.0),
            "operators.build_jobs": jobs_by_name.get("operators.build", 0),
            "spark.plan_s": by_name.get("spark.plan", 0.0),
            "spark.exec_s": by_name.get("spark.exec", 0.0),
            "spark.jobs": n_jobs,
            "spark.stages": st["stages"],
            "spark.tasks": st["tasks"],
            "spark.tasks_per_job": st["tasks"] / n_jobs if n_jobs else 0.0,
            "spark.executor_run_s": st["executor_run_s"],
            "spark.executor_cpu_s": st["executor_cpu_s"],
            "spark.core_util": st["executor_run_s"] / (rec.wall_s * cores),
            "spark.shuffle_write_bytes": st["shuffle_write_bytes"],
            "spark.shuffle_read_bytes": st["shuffle_read_bytes"],
            "spark.spill_bytes": st["spill_bytes"],
            "spark.input_bytes": st["input_bytes"],
            "spark.output_bytes": st["output_bytes"],
            "spark.gc_s": st["gc_s"],
            "streaming.jobs": len(set(rec.jobs) - grouped),
            "streaming.microbatches": rec.stream["microbatches"],
            "streaming.trigger_s": rec.stream["trigger_ms"] / 1e3,
            "streaming.state_rows": rec.stream["state_rows"],
            "trace.unaccounted_frac": 1.0 - accounted / rec.wall_s,
        }

    def spans_json(self) -> list[dict]:
        return [
            {
                "name": sp.name,
                "start": sp.start,
                "end": sp.end,
                "parent": sp.parent,
                "key": sp.key,
                "pass": sp.pass_no,
                "jobs": sp.jobs,
            }
            for rec in self.passes
            for sp in rec.spans
        ]


_STAGE_FIELDS = (
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "output_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def _zero_stream() -> dict[str, float]:
    return {"microbatches": 0, "trigger_ms": 0.0, "state_rows": 0}


def add_stream_listener(spark, tracer: Tracer) -> None:
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            tracer.on_progress(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(_Listener())
