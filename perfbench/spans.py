"""Spans around layer calls, and a standard-library parse of Spark's
JSON event log that attributes jobs, stages and tasks to them.

A span is one call into a layer of the engine, made by the benchmark.
With tracing on, each span runs under its own Spark job group, so the
event log ties every job submitted from that call to the span. Spans
live in memory until the run ends; ``write`` stores them next to the
parsed statistics.

Streaming queries run their micro-batches under a job group equal to
the query's run id, so ``Tracer.bind_group`` maps that id to the span
that drained the stream. Jobs whose group matches no span (jobs from
driver thread pools, which do not inherit the caller's group) are
counted as unattributed.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    parent: int | None
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    shuffle_bytes: int = 0
    input_bytes: int = 0
    spill_bytes: int = 0
    job_union_s: float = 0.0


class Tracer:
    """Record spans; with ``enabled`` also set a job group per span."""

    def __init__(self, spark=None, enabled: bool = False):
        self.sc = spark.sparkContext if spark is not None else None
        self.enabled = enabled and self.sc is not None
        self.spans: list[Span] = []
        self.groups: dict[str, int] = {}
        self._ids = itertools.count(1)
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), name, layer, parent.span_id if parent else None,
                  time.time(), attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        if self.enabled:
            group = f"{GROUP_PREFIX}{sp.span_id}"
            self.groups[group] = sp.span_id
            self.sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self.enabled:
                if parent is not None:
                    self.sc.setJobGroup(f"{GROUP_PREFIX}{parent.span_id}", parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def bind_group(self, group: str, sp: Span) -> None:
        """Attribute jobs of an engine-owned job group (a stream's run id)."""
        self.groups[group] = sp.span_id

    def write(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans], **(extra or {})}, fh,
                      indent=1, default=str)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class EventLog:
    """Jobs and their task totals, parsed from one application's log."""

    jobs: dict[int, dict] = field(default_factory=dict)

    @classmethod
    def parse(cls, path: str) -> "EventLog":
        log = cls()
        stage_job: dict[int, int] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    log.jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None, "stages": set(), "tasks": 0, "task_ms": 0,
                        "shuffle": 0, "input": 0, "spill": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    job = log.jobs.get(ev["Job ID"])
                    if job is not None:
                        job["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = log.jobs.get(stage_job.get(ev.get("Stage ID")))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["stages"].add(ev["Stage ID"])
                    job["tasks"] += 1
                    job["task_ms"] += m.get("Executor Run Time", 0)
                    job["shuffle"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    job["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    job["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
        for job in log.jobs.values():
            if job["end"] is None:
                job["end"] = job["start"]
        return log

    def stats(self, jobs: list[dict], window: tuple[float, float] | None = None) -> JobStats:
        st = JobStats()
        spans = []
        for j in jobs:
            st.jobs += 1
            st.stages += len(j["stages"])
            st.tasks += j["tasks"]
            st.task_s += j["task_ms"] / 1000.0
            st.shuffle_bytes += j["shuffle"]
            st.input_bytes += j["input"]
            st.spill_bytes += j["spill"]
            s, e = j["start"], j["end"]
            if window is not None:
                s, e = max(s, window[0]), min(e, window[1])
            if e > s:
                spans.append((s, e))
        st.job_union_s = _union_length(spans)
        return st

    def jobs_in(self, window: tuple[float, float]) -> list[dict]:
        """Jobs submitted inside ``window``, whatever their group."""
        return [j for j in self.jobs.values() if window[0] <= j["start"] <= window[1]]


def find_event_log(log_dir: str) -> str:
    """The single finished application log in ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def attribute(tracer: Tracer, log: EventLog) -> tuple[dict[int, list[dict]], list[dict]]:
    """Jobs per span (by job group) and the jobs no span claims."""
    by_span: dict[int, list[dict]] = {}
    unattributed = []
    for job in log.jobs.values():
        sid = tracer.groups.get(job["group"])
        if sid is None:
            unattributed.append(job)
        else:
            by_span.setdefault(sid, []).append(job)
    return by_span, unattributed


def subtree_stats(tracer: Tracer, log: EventLog, by_span: dict[int, list[dict]],
                  root: Span) -> JobStats:
    """Statistics of the jobs of ``root`` and every span below it."""
    ids = {root.span_id}
    for sp in tracer.spans:  # parents are created before their children
        if sp.parent in ids:
            ids.add(sp.span_id)
    jobs = [j for sid in ids for j in by_span.get(sid, [])]
    return log.stats(jobs, (root.start, root.end))
