"""Spans around the benchmark's calls into the engine, and the Spark
event-log analysis that turns a traced run into per-layer numbers.

A span is (name, start, end, parent, run id), kept in memory and written
out when the run ends. In a traced run each span also sets the Spark job
group, so every job, stage and task in the event log can be charged to
the layer call that caused it. Untraced runs keep the spans (two clock
reads each) because the end-to-end metrics are span durations.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, sc=None):
        """``sc``: a SparkContext to tag with job groups, or None."""
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        if self.sc is not None:
            self.sc.setJobGroup(name, name)
        start, wall_start = time.perf_counter(), time.time()
        try:
            yield
        finally:
            end, wall_end = time.perf_counter(), time.time()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", parent)
            self.spans.append(
                {"name": name, "start": start, "end": end, "parent": parent, "run_id": self.run_id,
                 "wall_start": wall_start, "wall_end": wall_end}
            )


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span duration minus the part of it its child spans cover."""
    out = {}
    for s in spans:
        covered = sum(c["end"] - c["start"] for c in spans if c["parent"] == s["name"])
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the one application log the worker writes to ``log_dir``."""
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]  # skip checksum files
    with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _union_seconds(intervals: list[tuple[int, int]]) -> float:
    total, cur_start, cur_end = 0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total / 1000.0


class GroupStats:
    """Jobs, failed tasks, shuffle and output bytes charged to one span."""

    def __init__(self):
        self.job_intervals: list[tuple[int, int]] = []
        self.failed_tasks = 0
        self.shuffle_bytes = 0
        self.output_bytes = 0
        self.stage_task_ms: dict[int, list[int]] = {}

    @property
    def jobs(self) -> int:
        return len(self.job_intervals)

    @property
    def job_active_s(self) -> float:
        return _union_seconds(self.job_intervals)

    @property
    def task_skew(self) -> float:
        """Median over stages (with >= 2 tasks) of max / median task run time."""
        ratios = []
        for times in self.stage_task_ms.values():
            med = statistics.median(times) if len(times) >= 2 else 0
            if med > 0:
                ratios.append(max(times) / med)
        return statistics.median(ratios) if ratios else 1.0


def span_of(spans: list[dict], group: str | None, epoch_ms: int) -> str:
    """The span a Spark job is charged to: the one its job group names,
    else the innermost span whose wall interval holds its submission
    (jobs started on threads the benchmark does not own, such as a
    streaming query's, carry the query's own group)."""
    names = {s["name"] for s in spans}
    if group in names:
        return group
    t = epoch_ms / 1000.0
    holding = [s for s in spans if s["wall_start"] <= t <= s["wall_end"]]
    if not holding:
        return "(none)"
    return min(holding, key=lambda s: s["wall_end"] - s["wall_start"])["name"]


def group_stats(events: list[dict], spans: list[dict]) -> dict[str, GroupStats]:
    """Per span: job count and active intervals, failed-task count,
    shuffle and output bytes written, per-stage task run times."""
    stats: dict[str, GroupStats] = {}
    job_group, job_submit, stage_group = {}, {}, {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = span_of(spans, (ev.get("Properties") or {}).get("spark.jobGroup.id"), ev["Submission Time"])
            job_group[ev["Job ID"]] = group
            job_submit[ev["Job ID"]] = ev["Submission Time"]
            for stage in ev.get("Stage IDs", []):
                stage_group.setdefault(stage, group)
        elif kind == "SparkListenerJobEnd":
            group = job_group.get(ev["Job ID"], "(none)")
            stats.setdefault(group, GroupStats()).job_intervals.append(
                (job_submit.get(ev["Job ID"], ev["Completion Time"]), ev["Completion Time"])
            )
        elif kind == "SparkListenerTaskEnd":
            g = stats.setdefault(stage_group.get(ev["Stage ID"], "(none)"), GroupStats())
            info = ev.get("Task Info", {})
            if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
                g.failed_tasks += 1
            metrics = ev.get("Task Metrics") or {}
            g.shuffle_bytes += (metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            g.output_bytes += (metrics.get("Output Metrics") or {}).get("Bytes Written", 0)
            g.stage_task_ms.setdefault(ev["Stage ID"], []).append(metrics.get("Executor Run Time", 0))
    return stats
