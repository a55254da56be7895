"""Spans around calls into the engine, and Spark's event log attributed to them.

A span records name, start, end, parent and iteration. While a span is open
every Spark job this thread submits carries the span's job group, so
after the run the event log's job, stage and task records can be summed per
span (`attribute`). Spans nest: a span's counters include its children's.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    iteration: int | None
    start: float = 0.0  # time.time(), seconds since the epoch
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.id}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory. A disabled tracer records nothing and
    labels no jobs, so an untraced run pays one `if` per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.iteration: int | None = None
        self.sc = None  # SparkContext whose jobs get labelled
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.iteration)
        self.spans.append(s)
        self._stack.append(s)
        self._label(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._label(parent)

    def _label(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(s.group, s.name)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace module.attr with a version that records a span per call,
        so calls the engine makes to its own public functions are timed
        without touching engine code."""
        fn = getattr(module, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        setattr(module, attr, traced)

    def dump(self, path: Path) -> None:
        """Write the spans as JSON, each with its self time."""
        path.write_text(json.dumps(
            [{**asdict(s), "self_s": self_time(self.spans, s)} for s in self.spans]))


def descendants(spans: list[Span], root: Span) -> list[Span]:
    """root and every span below it."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, []))
    return out


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, reach = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= reach:
            continue
        total += b - max(a, reach)
        reach = b
    return total


def self_time(spans: list[Span], s: Span) -> float:
    """Span duration minus the part of it that its direct children cover."""
    kids = [(c.start, c.end) for c in spans if c.parent == s.id]
    return s.seconds - covered(kids, s.start, s.end)


# -- Spark event log ---------------------------------------------------------

COUNTERS = ("task_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
            "spill_bytes", "stages", "failed_tasks")


@dataclass
class StageRec:
    group: str | None = None
    submitted: float = 0.0
    completed: float = 0.0
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)  # (app, job id) -> {group, start, end, ok, sql}
    stages: dict = field(default_factory=dict)  # (app, stage id, attempt) -> StageRec
    plans: dict = field(default_factory=dict)  # (app, sql execution id) -> latest plan tree
    accums: dict = field(default_factory=dict)  # (app, accumulator id) -> summed updates


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse_event_log(paths, log: EventLog | None = None) -> EventLog:
    """Read one or more uncompressed Spark event logs (one JSON event per
    line). Keys carry the file name, so several applications (one per
    session the benchmark started) can share one EventLog."""
    log = log or EventLog()
    for path in paths:
        app = Path(path).name
        with open(path) as fh:
            for line in fh:
                _apply(log, app, json.loads(line))
    return log


def _apply(log: EventLog, app: str, ev: dict) -> None:
    kind = ev.get("Event", "")
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        log.jobs[(app, ev["Job ID"])] = {
            "group": props.get("spark.jobGroup.id"),
            "sql": props.get("spark.sql.execution.id"),
            "start": ev["Submission Time"] / 1000.0,
            "end": None,
            "ok": None,
        }
    elif kind == "SparkListenerJobEnd":
        job = log.jobs.get((app, ev["Job ID"]))
        if job is not None:
            job["end"] = ev["Completion Time"] / 1000.0
            job["ok"] = ev.get("Job Result", {}).get("Result") == "JobSucceeded"
    elif kind == "SparkListenerStageSubmitted":
        info = ev["Stage Info"]
        rec = _stage(log, app, info)
        rec.group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
        rec.submitted = info.get("Submission Time", 0) / 1000.0
    elif kind == "SparkListenerStageCompleted":
        info = ev["Stage Info"]
        rec = _stage(log, app, info)
        rec.submitted = info.get("Submission Time", 0) / 1000.0 or rec.submitted
        rec.completed = info.get("Completion Time", 0) / 1000.0
    elif kind == "SparkListenerTaskEnd":
        rec = _stage(log, app, {"Stage ID": ev["Stage ID"],
                                "Stage Attempt ID": ev.get("Stage Attempt ID", 0)})
        info = ev.get("Task Info") or {}
        m = ev.get("Task Metrics") or {}
        rec.tasks += 1
        reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
        if info.get("Failed") or reason != "Success":
            rec.failed_tasks += 1
        rec.task_s += m.get("Executor Run Time", 0) / 1000.0
        rec.gc_s += m.get("JVM GC Time", 0) / 1000.0
        rec.spill_bytes += m.get("Disk Bytes Spilled", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        rec.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        rec.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        inp = m.get("Input Metrics") or {}
        rec.input_bytes += inp.get("Bytes Read", 0)
        rec.input_records += inp.get("Records Read", 0)
        if reason == "Success":
            for acc in info.get("Accumulables") or []:
                key = (app, acc.get("ID"))
                log.accums[key] = log.accums.get(key, 0.0) + _num(acc.get("Update"))
    elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
        "SparkListenerSQLAdaptiveExecutionUpdate"
    ):
        log.plans[(app, ev["executionId"])] = ev["sparkPlanInfo"]
    elif kind.endswith("SparkListenerDriverAccumUpdates"):
        for acc_id, value in ev.get("accumUpdates") or []:
            key = (app, acc_id)
            log.accums[key] = log.accums.get(key, 0.0) + _num(value)


def _stage(log: EventLog, app: str, info: dict) -> StageRec:
    key = (app, info["Stage ID"], info.get("Stage Attempt ID", 0))
    if key not in log.stages:
        log.stages[key] = StageRec()
    return log.stages[key]


def attribute(spans: list[Span], log: EventLog, s: Span) -> dict:
    """Spark counters of span `s` and its descendants: the COUNTERS plus
    jobs, input_bytes, input_records, input_scans (stages that read input
    files), job_s (union of job intervals inside the span) and
    driver_gap_s (span wall time not covered by any job)."""
    groups = {d.group for d in descendants(spans, s)}
    jobs = [j for j in log.jobs.values() if j["group"] in groups]
    stages = [r for r in log.stages.values() if r.group in groups and r.tasks]
    out = {c: 0 for c in COUNTERS}
    for r in stages:
        out["task_s"] += r.task_s
        out["gc_s"] += r.gc_s
        out["shuffle_write_bytes"] += r.shuffle_write_bytes
        out["shuffle_read_bytes"] += r.shuffle_read_bytes
        out["spill_bytes"] += r.spill_bytes
        out["failed_tasks"] += r.failed_tasks
    out["stages"] = len(stages)
    out["jobs"] = len(jobs)
    out["input_bytes"] = sum(r.input_bytes for r in stages)
    out["input_records"] = sum(r.input_records for r in stages)
    out["input_scans"] = sum(1 for r in stages if r.input_records)
    intervals = [(j["start"], j["end"]) for j in jobs if j["end"] is not None]
    out["job_s"] = covered(intervals, s.start, s.end)
    out["driver_gap_s"] = s.seconds - out["job_s"]
    return out


def span_stages(spans: list[Span], log: EventLog, s: Span) -> list[StageRec]:
    """Executed stages of span `s` and its descendants, in submission order."""
    groups = {d.group for d in descendants(spans, s)}
    recs = [r for r in log.stages.values() if r.group in groups and r.tasks]
    return sorted(recs, key=lambda r: r.submitted)


def plan_metric(spans: list[Span], log: EventLog, s: Span, node_pred,
                metric: str = "number of output rows") -> float | None:
    """Sum of SQL metric `metric` over plan nodes matching `node_pred(node)`
    in the SQL executions whose jobs ran inside span `s`; None when no such
    node is found in the log."""
    groups = {d.group for d in descendants(spans, s)}
    execs = {(app, int(j["sql"])) for (app, _), j in log.jobs.items()
             if j["group"] in groups and j["sql"] is not None}
    total, found = 0.0, False
    for key in execs:
        plan = log.plans.get(key)
        todo = [plan] if plan else []
        while todo:
            node = todo.pop()
            todo.extend(node.get("children") or [])
            if not node_pred(node):
                continue
            for m in node.get("metrics") or []:
                if m.get("name") == metric:
                    found = True
                    total += log.accums.get((key[0], m.get("accumulatorId")), 0.0)
    return total if found else None
