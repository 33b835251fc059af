"""Offline analysis of a traced run: Spark event-log parsing, span self
time, and attribution of jobs, task time, shuffle and spill to spans.

Self time: a span's duration minus the time its child spans cover.
Children on different threads may overlap each other; the time they
cover is the union of their intervals. The self times of a tree then
sum to its wall time exactly when no two spans of it run at once, so
their sum over the wall measures how much of the traced work ran on
overlapping driver threads.
"""

from __future__ import annotations

import json
from collections import defaultdict
from collections.abc import Iterable
from dataclasses import dataclass, field

from perfbench.trace import SPAN_KEY, Span


@dataclass
class Job:
    id: int
    submit: float  # seconds since the epoch
    stage_ids: list[int]
    span: int | None


@dataclass
class Stage:
    id: int
    intervals: list[tuple[float, float]] = field(default_factory=list)
    tasks: int = 0
    tasks_failed: int = 0
    task_s: float = 0.0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]


def parse_event_log(lines: Iterable[str]) -> EventLog:
    """Read job start, stage end and task end events from a Spark JSON
    event log."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            span = (ev.get("Properties") or {}).get(SPAN_KEY)
            jobs[ev["Job ID"]] = Job(
                ev["Job ID"],
                ev["Submission Time"] / 1000,
                list(ev.get("Stage IDs") or []),
                int(span) if span else None,
            )
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            if info.get("Submission Time") and info.get("Completion Time"):
                st.intervals.append((info["Submission Time"] / 1000, info["Completion Time"] / 1000))
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
            info = ev.get("Task Info") or {}
            met = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.tasks_failed += bool(info.get("Failed") or info.get("Killed"))
            st.task_s += met.get("Executor Run Time", 0) / 1000
            rd = met.get("Shuffle Read Metrics") or {}
            st.shuffle_read_b += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            st.shuffle_write_b += (met.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st.spill_b += met.get("Disk Bytes Spilled", 0)
    return EventLog(jobs, stages)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every span (see the module docstring)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {s.id: (s.end - s.start) - covered(children[s.id], s.start, s.end) for s in spans}


def in_trees(spans: list[Span], roots: list[Span]) -> list[Span]:
    """The spans that descend from (or are) one of the roots."""
    by_id = {s.id: s for s in spans}
    keep = {r.id for r in roots}
    out = []
    for s in spans:
        chain, cur = [], s
        while cur is not None and cur.id not in keep:
            chain.append(cur.id)
            cur = by_id.get(cur.parent)
        if cur is not None:
            keep.update(chain)
            out.append(s)
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of [lo, hi] that the union of intervals covers."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def stage_owners(log: EventLog) -> dict[int, int]:
    """The job that ran each stage: the first job listing it. Later
    jobs that list the stage reuse its output (a skipped stage)."""
    owner: dict[int, int] = {}
    for jid in sorted(log.jobs):
        for sid in log.jobs[jid].stage_ids:
            if sid in log.stages and log.stages[sid].intervals:
                owner.setdefault(sid, jid)
    return owner


_MB = 1 / (1 << 20)


def _stage_totals(st: Stage) -> dict[str, float]:
    return {
        "task_s": st.task_s,
        "shuffle_read_mb": st.shuffle_read_b * _MB,
        "shuffle_write_mb": st.shuffle_write_b * _MB,
        "spill_mb": st.spill_b * _MB,
    }


def attribute(log: EventLog, spans: list[Span], roots: list[Span]) -> tuple[dict[int, dict[str, float]], int]:
    """Attribute each job, and the task time, shuffle and spill of the
    stages it ran, to the span whose id it carries. A job that carries
    no known span id (submitted from a thread the tracer did not reach,
    such as a streaming query's) but was submitted inside a root span's
    window goes to the latest-started span running at its submission,
    and is counted as unattributed; jobs outside every root are
    ignored. Returns ``({span id: totals}, unattributed)``."""
    known = {s.id for s in spans}
    owners = stage_owners(log)
    out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    unattributed = 0
    for job in log.jobs.values():
        sid = job.span if job.span in known else None
        if sid is None:
            if not any(r.start <= job.submit <= r.end for r in roots):
                continue
            running = [s for s in spans if s.start <= job.submit <= s.end]
            sid = max(running, key=lambda s: s.start).id
            unattributed += 1
        out[sid]["jobs"] += 1
        for st in job.stage_ids:
            if owners.get(st) == job.id:
                for k, v in _stage_totals(log.stages[st]).items():
                    out[sid][k] += v
    return {k: dict(v) for k, v in out.items()}, unattributed


def spark_totals(log: EventLog, roots: list[Span], cores: int) -> dict[str, float]:
    """Spark-layer totals over the jobs submitted inside the root spans'
    windows (the traced passes)."""
    owners = stage_owners(log)

    def inside(t: float) -> bool:
        return any(r.start <= t <= r.end for r in roots)

    jobs = [j for j in log.jobs.values() if inside(j.submit)]
    ran = [log.stages[s] for j in jobs for s in j.stage_ids if owners.get(s) == j.id]
    listed = sum(len(j.stage_ids) for j in jobs)
    wall = sum(r.end - r.start for r in roots)
    intervals = [iv for st in log.stages.values() for iv in st.intervals]
    busy = sum(covered(intervals, r.start, r.end) for r in roots)
    sums = dict.fromkeys(_stage_totals(Stage(-1)), 0.0)
    for st in ran:
        for k, v in _stage_totals(st).items():
            sums[k] += v
    return {
        "jobs": len(jobs),
        "stages": len(ran),
        "tasks": sum(st.tasks for st in ran),
        "tasks_failed": sum(st.tasks_failed for st in ran),
        "stage_reuse": (listed - len(ran)) / listed if listed else 0.0,
        "core_busy": sums["task_s"] / (wall * cores) if wall else 0.0,
        "driver_gap_s": wall - busy,
        **sums,
    }
