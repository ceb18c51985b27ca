"""Tracing for the benchmark: in-memory spans, a worker RSS sampler and a
Spark event-log parser.

Spans are recorded by the benchmark's own code around calls into each
layer; nothing inside the program is instrumented.  They stay in memory
and are written as one JSON file when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans of one run.  `span()` nests by call order; `record()`
    adds a span whose times were taken elsewhere (the engine replay)."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _next_id(self) -> int:
        return len(self.spans)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = Span(
            self._next_id(),
            name,
            time.perf_counter(),
            0.0,
            self._stack[-1] if self._stack else None,
            self.run_id,
            attrs,
        )
        self.spans.append(sp)
        self._stack.append(sp.span_id)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def record(
        self, name: str, start: float, end: float, parent: int | None, **attrs
    ) -> int | None:
        if not self.enabled:
            return None
        sp = Span(self._next_id(), name, start, end, parent, self.run_id, attrs)
        self.spans.append(sp)
        return sp.span_id

    def write(self, path: str, summary: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "summary": summary,
                    "self_s_by_name": self_time_by_name(self.spans, selfs),
                    "spans": [
                        dict(asdict(s), self_s=selfs[s.span_id]) for s in self.spans
                    ],
                },
                f,
            )


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of intervals."""
    total = 0.0
    cur_start = cur_end = None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover (children clipped to the parent)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s.start), min(b, s.end))
            for a, b in children.get(s.span_id, [])
            if min(b, s.end) > max(a, s.start)
        ]
        out[s.span_id] = s.duration - _covered(clipped)
    return out


def self_time_by_name(spans: list[Span], selfs: dict[int, float]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + selfs[s.span_id]
    return out


# -- worker RSS -----------------------------------------------------------------


def _process_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, comm) for every process visible in /proc."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm is parenthesised and may itself contain spaces or parens
        lp, rp = stat.find("("), stat.rfind(")")
        ppid = int(stat[rp + 2 :].split()[1])
        table[int(entry)] = (ppid, stat[lp + 1 : rp])
    return table


def _descendants(table: dict[int, tuple[int, str]], root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        for k in kids.get(stack.pop(), []):
            out.append(k)
            stack.append(k)
    return out


def python_worker_pids() -> list[int]:
    """Python processes descended from the Spark JVM (the worker daemon and
    its forked workers) that this process started."""
    table = _process_table()
    jvms = [p for p in _descendants(table, os.getpid()) if table[p][1] == "java"]
    return [
        p
        for j in jvms
        for p in _descendants(table, j)
        if table.get(p, (0, ""))[1].startswith("python")
    ]


def rss_mb(pid: int) -> float | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        return None
    return None


class RssSampler:
    """Background thread sampling the largest resident set of any Spark
    Python worker while a request runs (`with sampler:`)."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            for pid in python_worker_pids():
                mb = rss_mb(pid)
                if mb is not None and mb > self.peak_mb:
                    self.peak_mb = mb
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# -- Spark event log --------------------------------------------------------------

# physical-plan nodes that ship rows to Python workers
PYTHON_NODES = (
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
)


def _plan_python_row_metrics(plan: dict, out: set[int]) -> None:
    if plan.get("nodeName") in PYTHON_NODES:
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _plan_python_row_metrics(child, out)


@dataclass
class JobInfo:
    job_id: int
    submit_ms: int
    stage_ids: list[int]
    sql_execution: int | None


@dataclass
class EventLog:
    jobs: list[JobInfo]
    # stage id -> list of per-task metric dicts
    tasks: dict[int, list[dict]]
    # sql execution id -> accumulator ids of Python-node output-row metrics
    python_row_accs: dict[int, set[int]]
    # accumulator id -> summed task updates
    acc_totals: dict[int, int]

    def jobs_between(self, start_s: float, end_s: float) -> list[JobInfo]:
        lo, hi = start_s * 1000.0, end_s * 1000.0
        return [j for j in self.jobs if lo <= j.submit_ms <= hi]

    def window_stats(self, start_s: float, end_s: float) -> dict:
        """Stage/task aggregates over the jobs submitted in a wall-clock
        window (epoch seconds)."""
        jobs = self.jobs_between(start_s, end_s)
        seen: set[int] = set()
        stages = []
        for j in jobs:
            for sid in j.stage_ids:
                if sid not in seen and sid in self.tasks:
                    seen.add(sid)
                    stages.append(sid)
        tasks = [t for sid in stages for t in self.tasks[sid]]
        durs = [t["duration_s"] for t in tasks] or [0.0]
        execs = {j.sql_execution for j in jobs if j.sql_execution is not None}
        accs = set().union(*(self.python_row_accs.get(e, set()) for e in execs))
        return {
            "jobs": len(jobs),
            "stage.count": len(stages),
            "stage.shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / 1e6,
            "stage.shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / 1e6,
            "stage.spill_mb": sum(t["spill"] for t in tasks) / 1e6,
            "stage.executor_run_s": sum(t["run_s"] for t in tasks),
            "stage.executor_cpu_s": sum(t["cpu_s"] for t in tasks),
            "stage.gc_s": sum(t["gc_s"] for t in tasks),
            "stage.task_s_p50": statistics.median(durs),
            "stage.task_s_max": max(durs),
            "kernel_rows": sum(self.acc_totals.get(a, 0) for a in accs),
        }


def _task_metrics(ev: dict) -> dict:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    return {
        "duration_s": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0,
        "run_s": m.get("Executor Run Time", 0) / 1000.0,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "spill": m.get("Disk Bytes Spilled", 0),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
    }


def _event_lines(path: str):
    """Lines of an uncompressed event log: one file, or a rolling-log
    directory of events_<n>_<app> files."""
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        files = [os.path.join(path, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]
    else:
        files = [path]
    for name in files:
        with open(name) as f:
            yield from f


def parse_event_log(path: str) -> EventLog:
    """Parse an uncompressed Spark JSON event log."""
    jobs: list[JobInfo] = []
    tasks: dict[int, list[dict]] = {}
    py_accs: dict[int, set[int]] = {}
    acc_totals: dict[int, int] = {}
    for line in _event_lines(path):
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            sql = props.get("spark.sql.execution.id")
            jobs.append(
                JobInfo(
                    ev["Job ID"],
                    ev.get("Submission Time", 0),
                    list(ev.get("Stage IDs", [])),
                    int(sql) if sql is not None else None,
                )
            )
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault(ev["Stage ID"], []).append(_task_metrics(ev))
            for acc in ev.get("Task Info", {}).get("Accumulables", []):
                upd = acc.get("Update")
                try:
                    acc_totals[acc["ID"]] = acc_totals.get(acc["ID"], 0) + int(upd)
                except (TypeError, ValueError):
                    continue
        elif kind.endswith(
            ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")
        ):
            accs = py_accs.setdefault(ev["executionId"], set())
            _plan_python_row_metrics(ev.get("sparkPlanInfo", {}), accs)
    return EventLog(jobs, tasks, py_accs, acc_totals)
