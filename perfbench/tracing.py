"""The traced run: spans around calls into the package, and the Spark
event log and streaming progress read back into per-layer numbers.

Spans are recorded from the benchmark's side only.  ``Patches`` swaps a
package function for a span-recording wrapper in every module that holds
a reference to it and puts the originals back afterwards; the package's
code itself is never edited.
"""

from __future__ import annotations

import functools
import json
import re
import sys
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import asdict, dataclass

PACKAGE = "osm_changesets_to_parquet_spark"


@dataclass
class Span:
    id: int
    parent: int | None
    pass_id: int | None
    name: str
    start: float  # epoch seconds, comparable with event-log millis / 1000
    end: float


class Tracer:
    """Spans kept in memory until the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.pass_id: int | None = None
        self._stack: list[int] = []
        self._next = 0

    @contextmanager
    def span(self, name: str):
        sid, self._next = self._next, self._next + 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(sid, parent, self.pass_id, name, start, time.time()))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.id):
                f.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, reach = 0.0, s.start
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, reach, s.start), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s.id] = (s.end - s.start) - covered
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: Counter = Counter()
    for s in spans:
        out[s.name] += st[s.id]
    return dict(out)


class Patches:
    """Wrap package functions in spans; ``restore`` undoes every swap."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, func, span_name: str) -> None:
        tracer = self.tracer

        @functools.wraps(func)
        def traced(*args, **kwargs):
            with tracer.span(span_name):
                return func(*args, **kwargs)

        for mod in [m for n, m in sys.modules.items() if n.startswith(PACKAGE) and m]:
            for attr, val in list(vars(mod).items()):
                if val is func:
                    self._undo.append((mod, attr, val))
                    setattr(mod, attr, traced)

    def restore(self) -> None:
        for mod, attr, val in reversed(self._undo):
            setattr(mod, attr, val)
        self._undo.clear()


# ---------------------------------------------------------------- event log

PYTHON_NODE = re.compile(r"Pandas|Python|InArrow|ArrowEval")


def _final_plans(events) -> dict:
    """executionId -> (start millis, final plan tree): the last adaptive
    update when AQE re-planned, else the plan the execution started with."""
    plans = {}
    for e in events:
        kind = e["Event"]
        if kind.endswith("SparkListenerSQLExecutionStart"):
            plans[e["executionId"]] = (e["time"], e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate") and e["executionId"] in plans:
            plans[e["executionId"]] = (plans[e["executionId"]][0], e["sparkPlanInfo"])
    return plans


def plan_nodes(plan) -> Counter:
    c: Counter = Counter()
    stack = [plan]
    while stack:
        p = stack.pop()
        c[p["nodeName"]] += 1
        stack.extend(p.get("children", []))
    return c


def _inside(ms: float, windows) -> bool:
    return any(lo <= ms / 1000.0 <= hi for lo, hi in windows)


def event_log_metrics(events, windows, build_windows=()) -> dict:
    """Totals over the events that fall inside ``windows`` (epoch-second
    pairs): jobs, stages, tasks, executor time and bytes, final-plan
    node counts and streaming progress.  ``scheduler.build_jobs`` counts
    jobs submitted inside ``build_windows``."""
    m: Counter = Counter()
    stages = set()
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart" and _inside(e["Submission Time"], windows):
            m["scheduler.jobs"] += 1
            m["scheduler.build_jobs"] += _inside(e["Submission Time"], build_windows)
            stages.update(s["Stage ID"] for s in e["Stage Infos"])
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info["Stage ID"] in stages and "Submission Time" in info:
                m["scheduler.stages"] += 1
        elif kind == "SparkListenerTaskEnd" and _inside(e["Task Info"]["Launch Time"], windows):
            tm = e.get("Task Metrics") or {}
            m["scheduler.tasks"] += 1
            m["executor.run_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["executor.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["executor.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            rd = tm.get("Shuffle Read Metrics", {})
            m["executor.shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            m["executor.shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            m["executor.spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
        elif kind.endswith("QueryProgressEvent"):
            p = e["progress"]
            if not _inside(_iso_millis(p["timestamp"]), windows):
                continue
            m["stream.batches"] += 1
            for op in p.get("stateOperators", []):
                m["stream.updates_ms"] += op.get("allUpdatesTimeMs", 0)
                m["stream.commit_ms"] += op.get("commitTimeMs", 0)
                m["stream.state_rows"] += op.get("numRowsTotal", 0)
    for start, plan in _final_plans(events).values():
        if not _inside(start, windows):
            continue
        nodes = plan_nodes(plan)
        m["plan.broadcast_exchanges"] += nodes["BroadcastExchange"]
        m["plan.sort_merge_joins"] += nodes["SortMergeJoin"]
        m["plan.shuffle_exchanges"] += nodes["Exchange"]
        m["plan.python_nodes"] += sum(v for k, v in nodes.items() if PYTHON_NODE.search(k))
    return dict(m)


def _iso_millis(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000


def read_event_log(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def scan_tasks(events, window) -> int:
    """Tasks of the first stage submitted inside ``window``: for the
    conversion that is the XML scan (scan and write share one stage)."""
    first = None
    for e in events:
        if e["Event"] == "SparkListenerJobStart" and _inside(e["Submission Time"], [window]):
            infos = sorted(e["Stage Infos"], key=lambda s: s["Stage ID"])
            if infos and (first is None or infos[0]["Stage ID"] < first["Stage ID"]):
                first = infos[0]
    return first["Number of Tasks"] if first else 0
