"""Per-layer metrics of a traced run.

Every workload reports the same catalogue (BENCHMARK.json
``per_layer``). Engine-wide numbers come from the event log; each
workload names the spans it traces (``SPAN_METRICS``) and the counts
it measures itself (``COUNT_METRICS``). A layer that a workload never
calls reports 0. Times of single layers are given as a percentage of
the warm pass (``share_pct``), of the span (``build_pct``,
``driver_gap_pct``) or of the cores' capacity (``busy_pct``), so that
their absolute value follows from the pass's wall time
(``engine.pass_wall_s``). Values are medians over the warm passes.
"""

from __future__ import annotations

import statistics
from dataclasses import asdict

from analytics import Analytics
from invoice_inbox import InvoiceInbox
from spans import EventLog, attribute, find_event_log, subtree_stats

WORKLOADS = (InvoiceInbox, Analytics)

GENERIC = (
    ("session.start_s", "s"),
    ("engine.jobs", "count"),
    ("engine.jobs_unattributed", "count"),
    ("engine.stages", "count"),
    ("engine.tasks", "count"),
    ("engine.task_s", "s"),
    ("engine.driver_gap_s", "s"),
    ("engine.shuffle_bytes", "bytes"),
    ("engine.input_bytes", "bytes"),
    ("engine.spill_bytes", "bytes"),
    ("engine.cold_pass_wall_s", "s"),
    ("engine.pass_wall_s", "s"),
    ("engine.peak_rss_mb", "MB"),
    ("tracing.overhead_ratio", "ratio"),
)

# filled in by run.py from the passes and processes, not from the event log
MEASURED_BY_RUN = ("engine.cold_pass_wall_s", "engine.pass_wall_s", "engine.peak_rss_mb",
                   "tracing.overhead_ratio")

STAT_UNITS = {
    "jobs": "count",
    "jobs_per_file": "count",
    "shuffle_bytes": "bytes",
    "share_pct": "%",
    "build_pct": "%",
    "driver_gap_pct": "%",
    "busy_pct": "%",
}


def catalogue() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order."""
    out = list(GENERIC)
    for w in WORKLOADS:
        for span, stats in w.SPAN_METRICS.items():
            out += [(f"{span}.{s}", STAT_UNITS[s]) for s in stats]
        out += list(w.COUNT_METRICS)
    return out


def _span_stat(stat: str, sp, st, pass_wall: float, cpus: int) -> float:
    if stat == "jobs":
        return st.jobs
    if stat == "jobs_per_file":
        return st.jobs / max(1, sp.attrs.get("files", 1))
    if stat == "shuffle_bytes":
        return st.shuffle_bytes
    if stat == "share_pct":
        return 100.0 * sp.wall / pass_wall
    if stat == "build_pct":
        return 100.0 * (sp.attrs["built"] - sp.start) / sp.wall
    if stat == "driver_gap_pct":
        return 100.0 * (sp.wall - st.job_union_s) / sp.wall
    if stat == "busy_pct":
        return 100.0 * st.task_s / (sp.wall * cpus)
    raise KeyError(stat)


def layer_metrics(workload, tracer, warm, event_dir: str, setup_s: float,
                  counts: dict, cpus: int) -> tuple[dict, dict]:
    """The per-layer metrics over the warm passes ``warm``, and the job
    statistics of every span."""
    log = EventLog.parse(find_event_log(event_dir))
    by_span, unattributed = attribute(tracer, log)
    children: dict[int, list] = {}
    for sp in tracer.spans:
        children.setdefault(sp.parent, []).append(sp)

    engine: dict[str, list[float]] = {}
    per_span: dict[str, list[float]] = {}
    for p in warm:
        window = (p.start, p.end)
        jobs = log.jobs_in(window)
        st = log.stats(jobs, window)
        for name, value in (
            ("engine.jobs", st.jobs),
            ("engine.jobs_unattributed", sum(j in unattributed for j in jobs)),
            ("engine.stages", st.stages),
            ("engine.tasks", st.tasks),
            ("engine.task_s", st.task_s),
            ("engine.driver_gap_s", p.wall - st.job_union_s),
            ("engine.shuffle_bytes", st.shuffle_bytes),
            ("engine.input_bytes", st.input_bytes),
            ("engine.spill_bytes", st.spill_bytes),
        ):
            engine.setdefault(name, []).append(value)
        for sp in children.get(p.span_id, []):
            stats = workload.SPAN_METRICS.get(sp.name, ())
            if not stats:
                continue
            st = subtree_stats(tracer, log, by_span, sp)
            for stat in stats:
                per_span.setdefault(f"{sp.name}.{stat}", []).append(
                    _span_stat(stat, sp, st, p.wall, cpus))

    values = {"session.start_s": setup_s}
    values.update({k: statistics.median(v) for k, v in engine.items()})
    values.update({k: statistics.median(v) for k, v in per_span.items()})
    values.update(counts)
    metrics = {name: (values.get(name, 0), unit) for name, unit in catalogue()
               if name not in MEASURED_BY_RUN}
    span_stats = {sp.span_id: asdict(subtree_stats(tracer, log, by_span, sp))
                  for sp in tracer.spans}
    return metrics, span_stats
