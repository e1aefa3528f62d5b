"""Spans, Spark event-log accounting and process-memory sampling.

Everything here observes the program from outside:

- :class:`Tracer` wraps each call into a layer in a span. A span sets
  ``sparkContext.setJobGroup`` to its own id, so every Spark job the
  call launches (eager jobs while a frame is built, the action's jobs,
  ``localCheckpoint`` and AQE jobs with JVM call sites) is attributed
  to the innermost open span by job group, not by call site.
- :func:`read_event_log` sums ``SparkListenerTaskEnd`` metrics per job
  group from an uncompressed event log (standard library only) and
  counts the JSON file scans in each SQL execution's final plan.
- :func:`catalyst_phases_ms` reads the Catalyst phase timings of the
  frame that executed an action.
- :class:`RssSampler` samples the resident set of this process plus
  its child processes (the driver JVM) from ``/proc``.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory spans ``(name, group, start, end, parent)`` tagged with
    the run phase they fell in. While ``sc`` is None (an untraced
    session) spans are plain timers and no job group is set."""

    def __init__(self):
        self.sc = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self.phase = "setup"

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = {"name": name, "group": f"{name}#{next(self._ids)}",
              "parent": parent["group"] if parent else None,
              "phase": self.phase, "traced": self.sc is not None,
              "start": time.perf_counter(), "end": None, **attrs}
        self._stack.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(sp["group"], name)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)


def catalyst_phases_ms(df) -> dict[str, float]:
    """Catalyst phase durations of the frame that ran the action. Read
    it after the action: on an un-executed frame ``planning`` is absent."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("parsing", "analysis", "optimization", "planning"):
        opt = phases.get(k)
        if opt.isDefined():
            out[k] = float(opt.get().durationMs())
    return out


_TASK_FIELDS = {
    "tasks": lambda m: 1,
    "task_run_ms": lambda m: m["Executor Run Time"],
    "task_deser_ms": lambda m: m["Executor Deserialize Time"],
    "gc_ms": lambda m: m["JVM GC Time"],
    "shuffle_write_bytes": lambda m: m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
    "spill_bytes": lambda m: m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"],
    "input_bytes": lambda m: m["Input Metrics"]["Bytes Read"],
    "output_bytes": lambda m: m["Output Metrics"]["Bytes Written"],
}


def _plan_nodes(node: dict):
    yield node["nodeName"]
    for c in node.get("children", ()):
        yield from _plan_nodes(c)


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: ``jobs``, the ``_TASK_FIELDS`` sums over finished
    tasks, and ``json_scans`` (``Scan json`` nodes in the final adaptive
    plan of each SQL execution started in the group). Each application
    (one per session start) has its own directory of event files; stage
    and execution ids restart with every application."""
    groups: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for app in sorted(os.listdir(log_dir)):
        app_dir = os.path.join(log_dir, app)
        if not os.path.isdir(app_dir):
            continue
        stage_group: dict[int, str] = {}
        exec_group: dict[int, str] = {}
        exec_plan: dict[int, dict] = {}
        files = sorted((f for f in os.listdir(app_dir) if f.startswith("events_")),
                       key=lambda f: int(f.split("_")[1]))
        for name in files:
            with open(os.path.join(app_dir, name)) as fh:
                for line in fh:
                    _account(json.loads(line), groups, stage_group, exec_group, exec_plan)
        for eid, plan in exec_plan.items():
            groups[exec_group[eid]]["json_scans"] += sum(
                n.startswith("Scan json") for n in _plan_nodes(plan))
    return {g: dict(v) for g, v in groups.items()}


def _account(ev: dict, groups, stage_group, exec_group, exec_plan) -> None:
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
        if g is not None:
            groups[g]["jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_group.setdefault(sid, g)
    elif kind == "SparkListenerTaskEnd":
        g = stage_group.get(ev["Stage ID"])
        m = ev.get("Task Metrics")
        if g is not None and m is not None:
            for k, f in _TASK_FIELDS.items():
                groups[g][k] += f(m)
    elif kind.endswith("SQLExecutionStart"):
        if ev.get("jobGroupId"):
            exec_group[ev["executionId"]] = ev["jobGroupId"]
            exec_plan[ev["executionId"]] = ev["sparkPlanInfo"]
    elif kind.endswith("SQLAdaptiveExecutionUpdate"):
        if ev["executionId"] in exec_plan:
            exec_plan[ev["executionId"]] = ev["sparkPlanInfo"]


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(p) for p in f.read().split()]
    except OSError:
        return []


class RssSampler:
    """Peak of (this process + its descendants) resident set, sampled
    every ``period`` seconds on a daemon thread."""

    def __init__(self, period: float = 0.05):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        todo, total = [os.getpid()], 0
        while todo:
            pid = todo.pop()
            total += _rss_kb(pid)
            todo.extend(_children(pid))
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._sample())
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, self._sample())

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
