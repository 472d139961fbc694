"""Roll Spark's event log up per pass x query x phase.

The runner tags every job through three local properties (``TAG_KEYS``)
set on the driver thread; jobs run by stream micro-batch threads inherit
them.  A stage takes its job's tag from the properties on its
``SparkListenerStageSubmitted`` event and a task takes its stage's tag.
Written-file counts come from the SQL metric "number of written files",
posted as driver accumulator updates of an SQL execution that takes the
tag of its jobs.  Stream progress events take the tag of the stream's
jobs.  The log must be written uncompressed
(``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

TAG_KEYS = ("perfbench.pass", "perfbench.query", "perfbench.phase")
WRITTEN_FILES = "number of written files"


@dataclass
class PhaseStats:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    files_written: int = 0
    #: (submission, completion) epoch seconds of each job
    job_intervals: list[tuple[float, float]] = field(default_factory=list)

    def add(self, other: "PhaseStats") -> None:
        for k, v in vars(other).items():
            if k == "job_intervals":
                self.job_intervals.extend(v)
            else:
                setattr(self, k, getattr(self, k) + v)


@dataclass
class Rollup:
    phases: dict[tuple, PhaseStats] = field(default_factory=dict)
    #: (pass, query) -> [(batch duration ms, input rows)]
    batches: dict[tuple, list[tuple[int, int]]] = field(default_factory=dict)
    untagged_jobs: int = 0

    def stats(self, tag: tuple) -> PhaseStats:
        return self.phases.setdefault(tag, PhaseStats())

    def pass_phase(self, pass_id: str, phase: str) -> PhaseStats:
        """Everything one pass spent in one phase, over all its queries."""
        total = PhaseStats()
        for (p, _q, ph), st in self.phases.items():
            if p == pass_id and ph == phase:
                total.add(st)
        return total


def read_events(log_dir: str) -> list[dict]:
    """Every event of every application log under ``log_dir``, in file
    order (one file per application)."""
    paths = sorted(
        p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
    )
    events = []
    for path in paths:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _tag(props: dict | None) -> tuple | None:
    props = props or {}
    if not all(k in props for k in TAG_KEYS):
        return None
    return tuple(props[k] for k in TAG_KEYS)


def _plan_metric_ids(plan: dict, name: str, out: set[int]) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") == name:
            out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _plan_metric_ids(child, name, out)


def rollup(events: list[dict]) -> Rollup:
    """Roll up the events of one or more application logs; job, stage
    and SQL execution ids restart with each application's
    ``SparkListenerLogStart``."""
    r = Rollup()
    app: list[dict] = []
    for e in events:
        if e["Event"] == "SparkListenerLogStart" and app:
            _rollup_app(r, app)
            app = []
        app.append(e)
    _rollup_app(r, app)
    return r


def _rollup_app(r: Rollup, events: list[dict]) -> None:
    stage_tag: dict[tuple[int, int], tuple] = {}
    job_tag: dict[int, tuple] = {}
    job_start: dict[int, float] = {}
    exec_tag: dict[str, tuple] = {}
    stream_tag: dict[str, tuple] = {}
    file_metric_ids: set[int] = set()
    exec_files: dict[str, int] = {}
    progress: list[dict] = []

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            tag = _tag(props)
            if tag is None:
                r.untagged_jobs += 1
                continue
            jid = e["Job ID"]
            job_tag[jid] = tag
            job_start[jid] = e["Submission Time"] / 1000.0
            r.stats(tag).jobs += 1
            if "spark.sql.execution.id" in props:
                exec_tag.setdefault(props["spark.sql.execution.id"], tag)
            if "sql.streaming.queryId" in props:
                stream_tag.setdefault(props["sql.streaming.queryId"], tag)
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_tag:
                r.stats(job_tag[jid]).job_intervals.append(
                    (job_start[jid], e["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            tag = _tag(e.get("Properties"))
            if tag is not None:
                stage_tag[(info["Stage ID"], info["Stage Attempt ID"])] = tag
        elif kind == "SparkListenerTaskEnd":
            tag = stage_tag.get((e["Stage ID"], e["Stage Attempt ID"]))
            if tag is not None:
                _add_task(r.stats(tag), e)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _plan_metric_ids(e.get("sparkPlanInfo", {}), WRITTEN_FILES, file_metric_ids)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            n = sum(v for acc, v in e["accumUpdates"] if acc in file_metric_ids)
            if n:
                key = str(e["executionId"])
                exec_files[key] = exec_files.get(key, 0) + n
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            progress.append(e["progress"])

    for exec_id, n in exec_files.items():
        if exec_id in exec_tag:
            r.stats(exec_tag[exec_id]).files_written += n
    for p in progress:
        tag = stream_tag.get(p["id"])
        if tag is not None:
            rows = sum(s.get("numInputRows", 0) for s in p.get("sources", []))
            r.batches.setdefault(tag[:2], []).append((p.get("batchDuration", 0), rows))


def _add_task(st: PhaseStats, e: dict) -> None:
    st.tasks += 1
    if (e.get("Task End Reason") or {}).get("Reason") != "Success":
        st.failed_tasks += 1
    m = e.get("Task Metrics")
    if not m:
        return
    st.task_s += m["Executor Run Time"] / 1000.0
    st.cpu_s += m["Executor CPU Time"] / 1e9
    st.gc_s += m["JVM GC Time"] / 1000.0
    sr = m["Shuffle Read Metrics"]
    st.shuffle_read_bytes += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
    st.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
    st.spill_bytes += m["Disk Bytes Spilled"]
    st.input_bytes += m["Input Metrics"]["Bytes Read"]
    st.output_bytes += m["Output Metrics"]["Bytes Written"]
