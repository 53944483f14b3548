"""Per-layer numbers of a traced run, from its spans and its event log.

``layer_metrics`` gives the per-cycle metrics every workload has (the
``per_layer`` list of BENCHMARK.json): Spark's task telemetry summed over
each timed cycle's span subtree, then the median over cycles.  The
Python-worker metrics are zero on ``analytics`` (its queries run no
Python UDF), so they appear only in the per-span table.
``report`` gives the full per-span table (one row per layer, e.g.
``cycle/extract`` or ``query.spatial_title_join``, plus ``stage_store``
and ``session`` totals) that goes to stderr and to the run report.
"""

from __future__ import annotations

from collections import defaultdict

from perfbench.trace import (
    EventLog, Span, TaskStats, covered, driver_time, median, self_time, subtree,
)
from perfbench.workloads import LAYER_OF_STAGE

PER_LAYER_UNITS = {
    "jobs": "count",
    "tasks": "count",
    "task_cpu_s": "s",
    "task_run_s": "s",
    "gc_s": "s",
    "shuffle_write_bytes": "bytes",
    "driver_s": "s",
    "empty_task_frac": "ratio",
    "span_cover_frac": "ratio",
    "traced_cycle_s": "s",
}


def _stats(spans: list[Span], events: EventLog) -> tuple[TaskStats, int]:
    total = TaskStats()
    jobs = 0
    for s in spans:
        total.add(events.by_span.get(s.id, TaskStats()))
        jobs += events.jobs_of(s.id)
    return total, jobs


def layer_metrics(spans: list[Span], events: EventLog) -> dict[str, tuple[float, str]]:
    jobs_iv = events.job_intervals()
    per_cycle = defaultdict(list)
    for cyc in (s for s in spans if s.name == "cycle"):
        st, jobs = _stats(subtree(spans, cyc), events)
        kids = [(k.start, k.end) for k in spans if k.parent == cyc.id]
        row = {
            "jobs": jobs,
            "tasks": st.tasks,
            "task_cpu_s": st.cpu_s,
            "task_run_s": st.run_s,
            "gc_s": st.gc_s,
            "shuffle_write_bytes": st.shuffle_write_bytes,
            "driver_s": driver_time(cyc, jobs_iv),
            "empty_task_frac": st.empty / st.tasks if st.tasks else 0.0,
            "span_cover_frac": covered(kids, cyc.start, cyc.end) / cyc.wall,
            "traced_cycle_s": cyc.wall,
        }
        for k, v in row.items():
            per_cycle[k].append(v)
    return {k: (median(per_cycle[k]), u) for k, u in PER_LAYER_UNITS.items()}


def _group(spans: list[Span], s: Span) -> str:
    """``<top-level span>/<name>`` so the same layer under a full ingest
    cycle and under a refresh stays apart; top-level spans keep their name."""
    by_id = {x.id: x for x in spans}
    top = s
    while top.parent is not None and top.parent in by_id:
        top = by_id[top.parent]
    return s.name if top is s else f"{top.name}/{s.name}"


def report(spans: list[Span], events: EventLog) -> dict[str, dict]:
    """Per-layer table: every span group with wall, self, driver and
    Spark task telemetry (own jobs only, children excluded)."""
    jobs_iv = events.job_intervals()
    groups: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        groups[_group(spans, s)].append(s)
    table = {}
    for key, members in sorted(groups.items()):
        st, jobs = _stats(members, events)
        walls = [s.wall for s in members]
        table[key] = {
            "n": len(members),
            "wall_s": sum(walls),
            "p50_s": median(walls),
            "self_s": sum(self_time(spans, s) for s in members),
            "driver_s": sum(driver_time(s, jobs_iv) for s in members),
            "jobs": jobs,
            "tasks": st.tasks,
            "tasks_failed": st.failed,
            "cpu_s": st.cpu_s,
            "gc_s": st.gc_s,
            "python_run_s": st.python_run_s,
            "python_bytes_sent": st.python_bytes_sent,
            "python_bytes_returned": st.python_bytes_returned,
            "shuffle_write_bytes": st.shuffle_write_bytes,
            "output_bytes": st.output_bytes,
            "rows_out": st.rows_out,
            "empty_task_frac": st.empty / st.tasks if st.tasks else 0.0,
        }
    commits = [s for s in spans if s.name in LAYER_OF_STAGE.values()]
    upserts = [s for s in spans if s.name.startswith("stage_store.upsert.")]
    table["stage_store"] = {
        "commit_driver_s": sum(driver_time(s, jobs_iv) for s in commits),
        "upsert_wall_s": sum(s.wall for s in upserts),
        "upsert_driver_s": sum(driver_time(s, jobs_iv) for s in upserts),
        "output_bytes": _stats(commits + upserts, events)[0].output_bytes,
    }
    all_tasks = TaskStats()
    for st in events.by_span.values():
        all_tasks.add(st)
    all_tasks.add(events.unattributed)
    table["session"] = {
        "jobs": len(events.jobs),
        "tasks": all_tasks.tasks,
        "tasks_failed": all_tasks.failed,
        "gc_s": all_tasks.gc_s,
        "cpu_s": all_tasks.cpu_s,
    }
    return table
