"""Spans around layer calls, and Spark task metrics grouped by span.

A ``Tracer`` keeps spans in memory (name, start, end, parent, op id) and
labels every Spark job a span launches through the job description
``perfbench|<op id>|<span name>``. After the session stops,
``EventLog`` reads Spark's JSON event log (turned on for traced runs only)
and groups jobs, task metrics and executed SQL plans by that label.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

LABEL = "perfbench"


@dataclass
class Span:
    name: str
    op_id: str
    start: float
    end: float = 0.0
    parent: str | None = None

    @property
    def wall(self) -> float:
        return self.end - self.start


def label(op_id: str, name: str) -> str:
    return f"{LABEL}|{op_id}|{name}"


class Tracer:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op_id: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, op_id, time.time(), parent=parent.name if parent else None)
        self.spans.append(sp)
        self._stack.append(sp)
        self._sc.setJobDescription(label(op_id, name))
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._sc.setJobDescription(
                label(parent.op_id, parent.name) if parent else None
            )

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.op_id == sp.op_id and c.parent == sp.name]

    def self_time(self, sp: Span) -> float:
        """Span time not covered by its child spans."""
        return sp.wall - _covered(sp.start, sp.end, [(c.start, c.end) for c in self.children(sp)])


def _covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


@dataclass
class LayerStats:
    jobs: int = 0
    stages: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    job_intervals: list = field(default_factory=list)
    broadcast_joins: int = 0
    smj_joins: int = 0


def _count_nodes(plan: dict, names: tuple[str, ...]) -> int:
    n = int(plan.get("nodeName") in names)
    return n + sum(_count_nodes(c, names) for c in plan.get("children", ()))


class EventLog:
    """Per-label aggregates of one application's event log."""

    def __init__(self, path: str) -> None:
        self.by_label: dict[str, LayerStats] = {}
        stage_label: dict[int, str] = {}
        stages_seen: set[int] = set()
        job_label: dict[int, str] = {}
        job_start: dict[int, float] = {}
        final_plan: dict[int, dict] = {}
        exec_label: dict[int, str] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    if not desc.startswith(LABEL + "|"):
                        continue
                    jid = ev["Job ID"]
                    job_label[jid] = desc
                    job_start[jid] = ev["Submission Time"] / 1000
                    self._stats(desc).jobs += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_label.setdefault(sid, desc)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_label:
                        self._stats(job_label[jid]).job_intervals.append(
                            (job_start[jid], ev["Completion Time"] / 1000)
                        )
                elif kind == "SparkListenerTaskEnd":
                    desc = stage_label.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if desc is None or not m:
                        continue
                    st = self._stats(desc)
                    if ev["Stage ID"] not in stages_seen:
                        stages_seen.add(ev["Stage ID"])
                        st.stages += 1
                    st.task_s += m.get("Executor Run Time", 0) / 1000
                    st.gc_s += m.get("JVM GC Time", 0) / 1000
                    st.shuffle_write_mb += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 2**20
                    )
                    st.spill_mb += m.get("Disk Bytes Spilled", 0) / 2**20
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    desc = ev.get("description") or ""
                    if desc.startswith(LABEL + "|"):
                        exec_label[ev["executionId"]] = desc
                        final_plan[ev["executionId"]] = ev.get("sparkPlanInfo") or {}
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    if ev["executionId"] in exec_label:
                        final_plan[ev["executionId"]] = ev.get("sparkPlanInfo") or {}
        for eid, desc in exec_label.items():
            st = self._stats(desc)
            st.broadcast_joins += _count_nodes(final_plan[eid], ("BroadcastHashJoin",))
            st.smj_joins += _count_nodes(final_plan[eid], ("SortMergeJoin",))

    def _stats(self, desc: str) -> LayerStats:
        return self.by_label.setdefault(desc, LayerStats())

    def get(self, op_id: str, name: str) -> LayerStats:
        return self.by_label.get(label(op_id, name), LayerStats())

    def op_total(self, op_id: str) -> LayerStats:
        """Jobs and stages of every span of one op."""
        out = LayerStats()
        for desc, st in self.by_label.items():
            if desc.split("|")[1] == op_id:
                out.jobs += st.jobs
                out.stages += st.stages
        return out

    def driver_s(self, sp: Span) -> float:
        """Span time not covered by a Spark job the span launched."""
        return sp.wall - _covered(sp.start, sp.end, self.get(sp.op_id, sp.name).job_intervals)


def find_log(log_dir: str, app_id: str) -> str:
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return path
