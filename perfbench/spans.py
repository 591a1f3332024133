"""In-memory span recorder and Spark event-log attribution for traced runs.

A span is (id, layer, parent, start, end, rows). Entering a span sets the
Spark job group to the span id, so every job the layer submits is tagged
with it; leaving restores the parent's group. Spans stay in memory and are
written out once, at the end of the run.

After the session stops, the event log (enabled only in traced runs) is
read back and every job, stage and task is attributed to the span whose
group tagged it:

* ``self_s``      span duration minus the part covered by its child spans
* ``driver_s``    self time during which no task ran anywhere
* ``jobs``        jobs tagged with the span
* ``exec_cpu_s``  executor (JVM) CPU time of the span's tasks; Python UDF
                  worker CPU is not part of Spark's task metrics
* ``task_wait_s`` sum over tasks of launch time minus stage submission time
* ``shuffle_mb``  shuffle bytes written, ``spill_mb`` disk bytes spilled
* ``rows_out``    rows the span reported, else records its tasks wrote
* ``failed_tasks`` tasks that ended in failure
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Span:
    __slots__ = ("sid", "layer", "parent", "start", "end", "rows")

    def __init__(self, sid: str, layer: str, parent: "Span | None"):
        self.sid, self.layer, self.parent = sid, layer, parent
        self.start = time.time()
        self.end = None
        self.rows = None


class Recorder:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, layer: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"span-{len(self.spans)}", layer, parent)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.sid, layer, False)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.sid, parent.layer, False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def patched(self, obj, methods: dict[str, str]):
        """Run ``obj``'s methods (name -> layer) inside spans meanwhile."""
        for method, layer in methods.items():
            setattr(obj, method, self._traced(getattr(obj, method), layer))
        try:
            yield
        finally:
            for method in methods:
                delattr(obj, method)

    def _traced(self, inner, layer: str):
        def traced(*a, **kw):
            with self.span(layer):
                return inner(*a, **kw)

        return traced

    def dump(self, out) -> None:
        """Write every span as one JSON line to the text stream ``out``."""
        for s in self.spans:
            out.write(json.dumps({
                "id": s.sid, "layer": s.layer,
                "parent": s.parent.sid if s.parent else None,
                "start": s.start, "end": s.end, "rows": s.rows,
            }) + "\n")


class NullRecorder:
    """The Recorder's span interface with nothing recorded and no job group
    set: the untraced side of a tracing-overhead comparison."""

    @contextmanager
    def span(self, layer: str):
        yield Span("", layer, None)


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _minus(base: list[tuple[float, float]], cut: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Parts of the disjoint sorted ``base`` intervals not covered by ``cut``."""
    out = []
    cut = _union(cut)
    for a, b in base:
        cur = a
        for c, d in cut:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


def _length(iv: list[tuple[float, float]]) -> float:
    return sum(b - a for a, b in iv)


def read_event_log(log_dir: str) -> dict:
    """Jobs, stage submissions and task ends from one application's log."""
    files = sorted(f for f in glob.glob(os.path.join(log_dir, "**"), recursive=True)
                   if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus"))
    job_group, stage_job, stage_submit, tasks = {}, {}, {}, []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job_group[ev["Job ID"]] = props.get("spark.jobGroup.id")
                    for st in ev.get("Stage IDs", []):
                        stage_job.setdefault(st, ev["Job ID"])
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    stage_submit[key] = info.get("Submission Time")
                elif kind == "SparkListenerTaskEnd":
                    ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    tasks.append({
                        "stage": ev["Stage ID"], "attempt": ev["Stage Attempt ID"],
                        "launch": ti["Launch Time"] / 1000.0,
                        "finish": ti["Finish Time"] / 1000.0,
                        "failed": bool(ti.get("Failed")) or ev.get("Task End Reason", {}).get("Reason") != "Success",
                        "cpu_ns": tm.get("Executor CPU Time", 0),
                        "shuffle_bytes": (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        "spill_bytes": tm.get("Disk Bytes Spilled", 0),
                        "out_bytes": (tm.get("Output Metrics") or {}).get("Bytes Written", 0),
                        "out_records": (tm.get("Output Metrics") or {}).get("Records Written", 0),
                    })
    return {"job_group": job_group, "stage_job": stage_job,
            "stage_submit": stage_submit, "tasks": tasks}


def attribute(spans: list[Span], log: dict) -> tuple[dict[str, dict[str, float]], dict[str, int]]:
    """Per-layer totals of every measure, plus ``calls`` and ``bytes_written``;
    and per span id, the jobs of the span and its descendants."""
    by_id = {s.sid: s for s in spans}
    children: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent.sid].append(s)

    jobs_of: dict[str, int] = defaultdict(int)
    for job, group in log["job_group"].items():
        if group in by_id:
            jobs_of[group] += 1

    task_iv = _union([(t["launch"], t["finish"]) for t in log["tasks"]])
    per_span_tasks: dict[str, list[dict]] = defaultdict(list)
    for t in log["tasks"]:
        job = log["stage_job"].get(t["stage"])
        group = log["job_group"].get(job)
        if group in by_id:
            per_span_tasks[group].append(t)

    layers: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    span_jobs: dict[str, int] = {}

    def subtree_jobs(s: Span) -> int:
        if s.sid not in span_jobs:
            span_jobs[s.sid] = jobs_of[s.sid] + sum(subtree_jobs(c) for c in children[s.sid])
        return span_jobs[s.sid]

    for s in spans:
        own = _minus([(s.start, s.end)], [(c.start, c.end) for c in children[s.sid]])
        m = layers[s.layer]
        m["calls"] += 1
        m["self_s"] += _length(own)
        m["driver_s"] += _length(_minus(own, task_iv))
        m["jobs"] += jobs_of[s.sid]
        ts = per_span_tasks[s.sid]
        for t in ts:
            submit = log["stage_submit"].get((t["stage"], t["attempt"]))
            if submit is not None:
                m["task_wait_s"] += max(0.0, t["launch"] - submit / 1000.0)
            m["exec_cpu_s"] += t["cpu_ns"] / 1e9
            m["shuffle_mb"] += t["shuffle_bytes"] / 1e6
            m["spill_mb"] += t["spill_bytes"] / 1e6
            m["failed_tasks"] += 1 if t["failed"] else 0
            m["bytes_written"] += t["out_bytes"]
        m["rows_out"] += s.rows if s.rows is not None else sum(t["out_records"] for t in ts)
        subtree_jobs(s)
    return {k: dict(v) for k, v in layers.items()}, span_jobs
