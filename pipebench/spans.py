"""Spans around the benchmark's calls into the program, and the Spark
event log that attributes engine work to them.

A span records name, start, end, parent and run id, and is kept in memory
until the run writes them all out.  While a span is open its id is set as
the Spark local property ``pipebench.span`` (and its name as the job
group), so every job and stage the program submits inside it carries the
id into the event log.  Work is attributed to the innermost open span,
which makes a span's engine busy time its self time.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

SPAN_PROP = "pipebench.span"
CHECK = "check"


class NullTracer:
    """Untraced runs: spans cost nothing and the program's plans are left
    as they are."""

    @contextmanager
    def span(self, name: str):
        yield None

    def untraced(self):
        return self.span(CHECK)

    def force(self, df):
        return df


class Tracer(NullTracer):
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._tag(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self._tag(top, self.spans[top]["name"])
            else:
                self._tag(None, None)

    def _tag(self, span_id, name) -> None:
        self.sc.setLocalProperty(SPAN_PROP, None if span_id is None else str(span_id))
        self.sc.setLocalProperty("spark.jobGroup.id", name)
        self.sc.setLocalProperty("spark.job.description", name)

    def force(self, df):
        """Materialize a lazy stage so its work lands in the open span
        (the untraced chain would fuse it into a later action)."""
        return df.localCheckpoint(eager=True)


class SpanStats:
    """Engine work attributed to one set of spans."""

    def __init__(self):
        self.jobs: list[tuple[float, float]] = []   # (submit, complete) s
        self.tasks = 0
        self.busy_s = 0.0
        self.gc_s = 0.0
        self.sched_delay_s = 0.0
        self.shuffle_write = 0
        self.spill = 0
        self.bytes_read = 0
        self.records_read = 0
        self.task_s: dict[int, list[float]] = defaultdict(list)  # by stage
        self.files_read = 0

    def add(self, other: "SpanStats") -> None:
        self.jobs += other.jobs
        self.tasks += other.tasks
        self.busy_s += other.busy_s
        self.gc_s += other.gc_s
        self.sched_delay_s += other.sched_delay_s
        self.shuffle_write += other.shuffle_write
        self.spill += other.spill
        self.bytes_read += other.bytes_read
        self.records_read += other.records_read
        for k, v in other.task_s.items():
            self.task_s[k] += v
        self.files_read += other.files_read


def read_event_log(log_dir: str) -> dict[str | None, SpanStats]:
    """Parse the Spark event log in log_dir into per-span stats (key: span
    id as a string, or None for work outside any span)."""
    paths = sorted(p for p in glob.glob(f"{log_dir}/**/*", recursive=True)
                   if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus"))
    by_span: dict[str | None, SpanStats] = defaultdict(SpanStats)
    stage_span: dict[int, str | None] = {}
    job_span: dict[int, str | None] = {}
    job_submit: dict[int, float] = {}
    exec_span: dict[int, str | None] = {}
    files_acc: dict[int, int] = {}      # accumulator id -> execution id
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    sid = props.get(SPAN_PROP)
                    jid = ev["Job ID"]
                    job_span[jid] = sid
                    job_submit[jid] = ev["Submission Time"] / 1000
                    ex = props.get("spark.sql.execution.id")
                    if ex is not None:
                        exec_span.setdefault(int(ex), sid)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    by_span[job_span.get(jid)].jobs.append(
                        (job_submit.get(jid, 0.0), ev["Completion Time"] / 1000))
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    stage_span[ev["Stage Info"]["Stage ID"]] = props.get(SPAN_PROP)
                elif kind == "SparkListenerTaskEnd":
                    st = by_span[stage_span.get(ev["Stage ID"])]
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    dur = (info["Finish Time"] - info["Launch Time"]) / 1000
                    run = (m.get("Executor Run Time", 0)
                           + m.get("Executor Deserialize Time", 0)) / 1000
                    st.tasks += 1
                    st.busy_s += run
                    st.gc_s += m.get("JVM GC Time", 0) / 1000
                    st.sched_delay_s += max(0.0, dur - run - (
                        m.get("Result Serialization Time", 0)
                        + info.get("Getting Result Time", 0)) / 1000)
                    st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st.spill += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
                    inp = m.get("Input Metrics") or {}
                    st.bytes_read += inp.get("Bytes Read", 0)
                    st.records_read += inp.get("Records Read", 0)
                    st.task_s[ev["Stage ID"]].append(dur)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    for acc in _plan_metrics(ev.get("sparkPlanInfo") or {}):
                        if acc["name"] == "number of files read":
                            files_acc[acc["accumulatorId"]] = ev["executionId"]
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in ev.get("accumUpdates", []):
                        ex = files_acc.get(acc_id)
                        if ex is not None:
                            by_span[exec_span.get(ex)].files_read += int(value)
    return by_span


def _plan_metrics(node: dict):
    yield from node.get("metrics", [])
    for child in node.get("children", []):
        yield from _plan_metrics(child)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of intervals."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def max_over_median(stats: SpanStats) -> float:
    """Slowest task over the median task, in the stage with most tasks."""
    if not stats.task_s:
        return 0.0
    durs = max(stats.task_s.values(), key=len)
    med = statistics.median(durs)
    return max(durs) / med if med > 0 else 0.0
