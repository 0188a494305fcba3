"""Spark event-log parser: per-job, per-stage and per-task metrics,
charged to the trace segment whose local properties the job carried.

The log is Spark's JSON-lines listener log (``spark.eventLog.enabled``
with compression and rolling off).  Only the fields read below are
relied on; unknown events are skipped.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

from perfbench.tracing import LAYER_PROP, TRACE_PROP

SIGNATURE_SCOPE = "MapInArrow"       # the signature kernel's plan node
BATCH_PROP = "streaming.sql.batchId"  # set by Spark on micro-batch jobs


@dataclass
class Stage:
    stage_id: int
    props: dict
    scopes: set = field(default_factory=set)
    tasks: list = field(default_factory=list)   # Task rows

    @property
    def label(self) -> str | None:
        return self.props.get(LAYER_PROP)

    @property
    def trace(self) -> str | None:
        return self.props.get(TRACE_PROP)


@dataclass
class Task:
    run_ms: int
    shuffle_write_b: int
    disk_spill_b: int
    failed: bool


@dataclass
class Job:
    job_id: int
    props: dict
    succeeded: bool | None = None

    @property
    def label(self) -> str | None:
        return self.props.get(LAYER_PROP)

    @property
    def trace(self) -> str | None:
        return self.props.get(TRACE_PROP)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]


def _computed_scopes(rdds: list[dict], cached_seen: set[int]) -> set[str]:
    """Plan-node scopes a stage actually computes.  A stage's RDD list
    holds the whole narrow lineage, including what lies behind a cached
    RDD; a cached RDD is computed by the first stage that holds it and
    read by every later one, so the walk from the stage's output RDDs
    stops at cached RDDs seen before (`cached_seen` is updated)."""
    by_id = {r["RDD ID"]: r for r in rdds}
    parents = {p for r in rdds for p in r.get("Parent IDs", [])}
    todo = [rid for rid in by_id if rid not in parents]
    seen: set[int] = set()
    scopes: set[str] = set()
    while todo:
        rid = todo.pop()
        if rid in seen or rid not in by_id:
            continue
        seen.add(rid)
        r = by_id[rid]
        level = r.get("Storage Level") or {}
        if level.get("Use Memory") or level.get("Use Disk"):
            if rid in cached_seen:
                continue
            cached_seen.add(rid)
        if r.get("Scope"):
            scopes.add(json.loads(r["Scope"]).get("name"))
        todo.extend(r.get("Parent IDs", []))
    return scopes


def parse_lines(lines) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    cached_seen: set[int] = set()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[e["Job ID"]] = Job(e["Job ID"], e.get("Properties") or {})
        elif kind == "SparkListenerJobEnd":
            j = jobs.get(e["Job ID"])
            if j is not None:
                j.succeeded = (e.get("Job Result", {}).get("Result")
                               == "JobSucceeded")
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            st = stages.setdefault(
                info["Stage ID"], Stage(info["Stage ID"],
                                        e.get("Properties") or {}))
            st.scopes = _computed_scopes(info.get("RDD Info", []), cached_seen)
        elif kind == "SparkListenerTaskEnd":
            st = stages.get(e["Stage ID"])
            m = e.get("Task Metrics") or {}
            if st is None:
                continue
            st.tasks.append(Task(
                run_ms=m.get("Executor Run Time", 0),
                shuffle_write_b=(m.get("Shuffle Write Metrics") or {})
                .get("Shuffle Bytes Written", 0),
                disk_spill_b=m.get("Disk Bytes Spilled", 0),
                failed=bool(e.get("Task Info", {}).get("Failed")),
            ))
    return EventLog(jobs, stages)


def parse_file(path: str) -> EventLog:
    with open(path, encoding="utf-8") as f:
        return parse_lines(f)


def stage_skew(stage: Stage) -> float:
    """max / median task run time of one stage (1.0 for < 2 tasks)."""
    runs = [t.run_ms for t in stage.tasks]
    if len(runs) < 2:
        return 1.0
    med = statistics.median(runs)
    return max(runs) / med if med > 0 else 1.0


def by_label(log: EventLog, traces: set[str]) -> dict[str, dict]:
    """Aggregate the jobs and stages of the given trace ids by segment
    label: job count, task count, summed task run time, shuffle write and
    disk spill bytes, failed tasks, the skew of the label's dominant
    stage (largest summed task time), and the stages that evaluate the
    signature Arrow map."""
    out: dict[str, dict] = {}

    def row(label: str) -> dict:
        return out.setdefault(label, dict(
            jobs=0, stages=0, tasks=0, task_s=0.0, shuffle_write_mb=0.0,
            spill_mb=0.0, failed_tasks=0, task_skew=1.0, sig_evals=0,
            _dominant=-1.0))

    for j in log.jobs.values():
        if j.trace in traces and j.label:
            row(j.label)["jobs"] += 1
    for st in log.stages.values():
        if st.trace not in traces or not st.label:
            continue
        r = row(st.label)
        r["stages"] += 1
        r["tasks"] += len(st.tasks)
        total_ms = sum(t.run_ms for t in st.tasks)
        r["task_s"] += total_ms / 1000.0
        r["shuffle_write_mb"] += sum(t.shuffle_write_b for t in st.tasks) / 1e6
        r["spill_mb"] += sum(t.disk_spill_b for t in st.tasks) / 1e6
        r["failed_tasks"] += sum(t.failed for t in st.tasks)
        r["sig_evals"] += SIGNATURE_SCOPE in st.scopes
        if total_ms > r["_dominant"]:
            r["_dominant"] = total_ms
            r["task_skew"] = stage_skew(st)
    for r in out.values():
        del r["_dominant"]
    return out


def by_batch(log: EventLog) -> dict[int, dict]:
    """Jobs and signature Arrow-map evaluations per streaming micro-batch
    id, from the property Spark sets on every job of a micro-batch,
    traced or not."""
    out: dict[int, dict] = {}
    for j in log.jobs.values():
        if BATCH_PROP in j.props:
            b = out.setdefault(int(j.props[BATCH_PROP]),
                               dict(jobs=0, sig_evals=0))
            b["jobs"] += 1
    for st in log.stages.values():
        if BATCH_PROP in st.props and SIGNATURE_SCOPE in st.scopes:
            out[int(st.props[BATCH_PROP])]["sig_evals"] += 1
    return out
